package graft.plans

import java.lang.ref.SoftReference

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one size signal behind every scale-armed path (as-of time-split,
  * range hot bins and bin width, ledger whale split, LSH member cap, the
  * daily loop's small-day gate): the optimizer's plan-stat size of the
  * frame. Each caller passes its own
  * fixed byte threshold; one conf, [[ForceConf]], overrides them all:
  * `auto` (the default) compares the size with the threshold, `arm` arms
  * every gate and `off` keeps every gated operator on its plain plan.
  * Sizing: SURVEY §5 "Sizing a real deployment". */
object ScaleGate {
  val ForceConf = "spark.graft.gates.force"

  def bytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `df`'s plan-stat size reaches `thresholdBytes`, unless [[ForceConf]]
    * says `arm` or `off`; any other value fails naming the conf. */
  def armed(df: DataFrame, thresholdBytes: Long): Boolean =
    df.sparkSession.conf.get(ForceConf, "auto") match {
      case "auto" => bytes(df) >= thresholdBytes
      case "arm" => true
      case "off" => false
      case v => throw new IllegalArgumentException(
        s"$ForceConf must be auto, arm or off, got '$v'")
    }
}

/** Bounded driver collect of a hot-key detection frame. Detection is EAGER
  * where it runs (callers decide the plan shape from the collected keys
  * at DataFrame-construction time), and SQL-surface views reconstruct the
  * same operators repeatedly, so the result is memoized JVM-wide per
  * bounded detection plan. The plan already encodes the inputs, keys,
  * thresholds and geometry, so it is the whole key.
  *
  * The memo never answers for a plan it did not scan: an entry holds its
  * canonicalized plan only softly (a retained LocalRelation would pin its
  * row data), and a hit needs that reference live AND equal to the new
  * plan — a hash collision or a collected reference costs a re-scan.
  * A file-backed plan equals a later one over the same root path, so a
  * hit also needs the same input file listing: files appended under an
  * input directory re-run detection. Bounded: cleared wholesale at 64
  * entries. */
object HotKeys {
  private val MaxEntries = 64
  private val memo = scala.collection.concurrent.TrieMap.empty[
    Int, (SoftReference[LogicalPlan], Seq[String], Array[Row])]

  /** At most `maxRows + 1` rows of `detection`: a caller that sees more
    * than `maxRows` applies its own over-bound policy. */
  def detect(detection: DataFrame, maxRows: Int): Array[Row] = {
    val bounded = detection.limit(maxRows + 1)
    val plan = bounded.queryExecution.analyzed
    val canon = plan.canonicalized
    val files = bounded.inputFiles.toSeq.sorted
    val key = plan.semanticHash()
    memo.get(key) match {
      case Some((ref, fs, rows)) if ref.get == canon && fs == files => rows
      case _ =>
        val rows = bounded.collect()
        if (memo.size >= MaxEntries) memo.clear()
        memo.put(key, (new SoftReference(canon), files, rows))
        rows
    }
  }
}
