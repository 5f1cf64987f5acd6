package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOf, ScaleGate}

/** The as-of hot-key time-split (VERDICT r11 task 1): range-split hot keys
  * on time into chunks, carry each chunk's boundary winner across the cut,
  * stitch in the merge. The gate that matters is EXACT equality against
  * the unsplit plan on a Zipf-headed corpus — including right-side
  * (key, time) duplicates resolved by the tiebreak, null times, tolerance,
  * and the forward direction. Plus the plan guard (task 4): when the
  * scale gate arms, the planned as-of MUST be the chunked one — the
  * mitigation may not silently regress to prose. */
class AsOfSplitSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Chunks = 4
  private val HotRows = 2000L

  /** Zipf-ish corpus: user 0 carries ~10k views (the hot key), users
    * 1..40 ~40 each. Every even instant has TWO views (tie duplicates);
    * a sprinkle of null times exercises the null-key discard path. */
  private def views: DataFrame = {
    val hot = (0L until 10000L).map(i => (0L, 100000L + i, (i / 2) * 20L, i * 0.5))
    val cold = for (u <- 1L to 40L; i <- 0L until 40L)
      yield (u, 200000L + u * 1000L + i, i * 977L % 100000L, i * 1.5)
    val rows = (hot ++ cold).toDF("v_user_id", "view_id", "view_ts", "view_value")
    rows.unionByName(Seq((0L, 999999L, null.asInstanceOf[java.lang.Long], 7.0))
      .toDF("v_user_id", "view_id", "view_ts", "view_value"))
  }

  private def purchases: DataFrame = {
    val hot = (0L until 800L).map(i => (0L, 500000L + i, i * 125L + 3L, i * 2.0))
    val cold = for (u <- 1L to 40L; i <- 0L until 5L)
      yield (u, 600000L + u * 100L + i, i * 7919L % 100000L, i * 3.0)
    val rows = (hot ++ cold).toDF("user_id", "purchase_id", "purchase_ts", "purchase_value")
    rows.unionByName(Seq((3L, 888888L, null.asInstanceOf[java.lang.Long], 1.0))
      .toDF("user_id", "purchase_id", "purchase_ts", "purchase_value"))
  }

  private def collectSorted(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.orderBy("user_id", "purchase_id").collect().toSeq

  private def splitVs(plain: DataFrame, split: DataFrame): Unit = {
    val p = collectSorted(plain)
    val s = collectSorted(split)
    assert(p.nonEmpty && p.length == s.length)
    p.zip(s).foreach { case (a, b) => assert(a == b, s"\nplain: $a\nsplit: $b") }
  }

  test("backward + tiebreak: split ≡ plain row-for-row, incl. tie duplicates and null times") {
    val on = Seq("user_id" -> "v_user_id")
    val plain = AsOf.joinPlain(purchases, views, on, "purchase_ts", "view_ts",
      rightTieBreak = Some("view_id"))
    val split = AsOf.joinTimeSplit(purchases, views, on, "purchase_ts", "view_ts",
      None, forward = false, Some("view_id"), Chunks, HotRows)
    splitVs(plain, split)
    // the split really planned: the as-of keys carry the chunk column and
    // the physical operator is still the native merge
    val phys = split.queryExecution.executedPlan.toString
    assert(phys.contains("AsOfJoin"), phys.take(1500))
    assert(phys.contains("__asof_chunk_l"), phys.take(1500))
    // the hot key's rows really spread: >1 distinct chunk on each side
    // (recomputed with the operator's own assignment arithmetic)
    val b = views.filter($"v_user_id" === 0 && $"view_ts".isNotNull)
      .agg(min($"view_ts"), max($"view_ts")).head()
    val (tmin, tmax) = (b.getLong(0), b.getLong(1))
    val spread = purchases.filter($"user_id" === 0 && $"purchase_ts".isNotNull)
      .select(least(lit(Chunks - 1), greatest(lit(0),
        floor(($"purchase_ts" - tmin) * Chunks / (tmax - tmin + 1L)).cast("int"))).as("c"))
      .distinct().count()
    assert(spread > 1, s"hot key landed in $spread chunk(s)")
  }

  test("forward direction: split ≡ plain") {
    val on = Seq("user_id" -> "v_user_id")
    val plain = AsOf.joinPlain(purchases, views, on, "purchase_ts", "view_ts",
      forward = true, rightTieBreak = Some("view_id"))
    val split = AsOf.joinTimeSplit(purchases, views, on, "purchase_ts", "view_ts",
      None, forward = true, Some("view_id"), Chunks, HotRows)
    splitVs(plain, split)
  }

  test("tolerance: split ≡ plain (carried rows beyond tolerance rejected by the merge)") {
    val on = Seq("user_id" -> "v_user_id")
    val tol = Some(40L) // tighter than most chunk spans — forces boundary rejects
    val plain = AsOf.joinPlain(purchases, views, on, "purchase_ts", "view_ts",
      toleranceUs = tol, rightTieBreak = Some("view_id"))
    val split = AsOf.joinTimeSplit(purchases, views, on, "purchase_ts", "view_ts",
      tol, forward = false, Some("view_id"), Chunks, HotRows)
    splitVs(plain, split)
  }

  test("probe-side hot key (left-heavy, right cold) splits and ≡ plain") {
    // user 7: 6000 purchases (left-hot) but only 60 views — build-side
    // detection alone would leave its whole left history in one sorted
    // task; both-side detection must chunk it, and the stitch must hold
    // with bounds drawn from the union of the two sides' time ranges
    val lp = (0L until 6000L).map(i => (7L, 700000L + i, i * 17L, i * 1.0))
      .toDF("user_id", "purchase_id", "purchase_ts", "purchase_value")
    val rv = (0L until 60L).map(i => (7L, 800000L + i, i * 1500L, i * 2.0))
      .toDF("v_user_id", "view_id", "view_ts", "view_value")
    val on = Seq("user_id" -> "v_user_id")
    val plain = AsOf.joinPlain(lp, rv, on, "purchase_ts", "view_ts",
      rightTieBreak = Some("view_id"))
    val split = AsOf.joinTimeSplit(lp, rv, on, "purchase_ts", "view_ts",
      None, forward = false, Some("view_id"), Chunks, HotRows)
    assert(split.queryExecution.executedPlan.toString.contains("__asof_chunk_l"),
      "a probe-side hot key must arm the split")
    splitVs(plain, split)
  }

  test("detection runs once: the joined plan broadcasts a LOCAL hot table, no re-scan") {
    // The hot-key bounds table is collected (bounded) and rebuilt as a
    // local relation, so the join query must broadcast a LocalTableScan
    // and must NOT contain the detection aggregation (its __rc/__lc
    // columns) anywhere — otherwise each broadcast re-runs the two
    // corpus-scan aggregations (the left/right projections differ, so
    // ReuseExchange can't deduplicate them).
    val on = Seq("user_id" -> "v_user_id")
    val split = AsOf.joinTimeSplit(purchases, views, on, "purchase_ts", "view_ts",
      None, forward = false, Some("view_id"), Chunks, HotRows)
    val phys = split.queryExecution.executedPlan.toString
    assert(phys.contains("LocalTableScan"), phys.take(2000))
    assert(!phys.contains("__rc") && !phys.contains("__lc"),
      "detection aggregation re-planned inside the join query:\n" + phys.take(2000))
  }

  test("no hot keys -> identical to plain and NOT chunked") {
    val on = Seq("user_id" -> "v_user_id")
    val split = AsOf.joinTimeSplit(purchases, views, on, "purchase_ts", "view_ts",
      None, forward = false, Some("view_id"), Chunks, hotRows = 1000000L)
    assert(!split.queryExecution.executedPlan.toString.contains("__asof_chunk_l"))
    splitVs(AsOf.joinPlain(purchases, views, on, "purchase_ts", "view_ts",
      rightTieBreak = Some("view_id")), split)
  }

  test("non-integral tiebreak falls back to joinPlain (heap can't order it exactly)") {
    // A double tie would collapse through the carried-winner heap's long
    // order (NaN / ±Inf / >53-bit ties); the gate must keep such joins on
    // the unsplit plan even with the gate armed.
    val on = Seq("user_id" -> "v_user_id")
    val keys = Seq(ScaleGate.ForceConf, AsOf.SplitHotKeyRowsConf)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(ScaleGate.ForceConf, "arm")
      spark.conf.set(AsOf.SplitHotKeyRowsConf, HotRows.toString)
      val dblTie = AsOf.join(purchases, views, on, "purchase_ts", "view_ts",
        rightTieBreak = Some("view_value")) // double column
      assert(!dblTie.queryExecution.executedPlan.toString.contains("__asof_chunk_l"),
        "a non-integral tiebreak must not arm the time-split")
      // same inputs with the integral tie DO split — the fallback is the
      // tie type, not something else about this corpus
      val intTie = AsOf.join(purchases, views, on, "purchase_ts", "view_ts",
        rightTieBreak = Some("view_id"))
      assert(intTie.queryExecution.executedPlan.toString.contains("__asof_chunk_l"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("plan guard: AsOf.join auto-splits past the build-size threshold, stays plain under it") {
    val on = Seq("user_id" -> "v_user_id")
    val keys = Seq(ScaleGate.ForceConf, AsOf.SplitHotKeyRowsConf)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(ScaleGate.ForceConf, "arm")
      spark.conf.set(AsOf.SplitHotKeyRowsConf, HotRows.toString)
      val auto = AsOf.join(purchases, views, on, "purchase_ts", "view_ts",
        rightTieBreak = Some("view_id"))
      assert(auto.queryExecution.executedPlan.toString.contains("__asof_chunk_l"),
        "an armed gate must plan the time-split")
      // the default (auto) gate at test scale: plain plan, no chunk key
      spark.conf.unset(ScaleGate.ForceConf)
      val plain = AsOf.join(purchases, views, on, "purchase_ts", "view_ts",
        rightTieBreak = Some("view_id"))
      assert(!plain.queryExecution.executedPlan.toString.contains("__asof_chunk_l"))
      splitVs(plain, auto)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shared detector: an armed join detects once per input plan, each input gets its own") {
    val on = Seq("user_id" -> "v_user_id")
    // same schema as `views`, distinct data per shift; equal shifts build
    // equal (but separately constructed) inputs
    val viewRows = views.collect().toSeq
    def viewsShifted(dt: Long): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(viewRows.map { r =>
        Row(r.get(0), r.get(1), if (r.isNullAt(2)) null else r.getLong(2) + dt, r.get(3))
      }: _*), views.schema)
    def build(right: DataFrame): DataFrame = AsOf.join(purchases, right, on,
      "purchase_ts", "view_ts", rightTieBreak = Some("view_id"))
    val keys = Seq(ScaleGate.ForceConf, AsOf.SplitHotKeyRowsConf)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(ScaleGate.ForceConf, "arm")
      spark.conf.set(AsOf.SplitHotKeyRowsConf, HotRows.toString)
      var splitA: DataFrame = null
      var splitB: DataFrame = null
      val detectA = JobRecorder.jobsOf(spark) { splitA = build(viewsShifted(7L)) }.size
      val rebuildA = JobRecorder.jobsOf(spark)(build(viewsShifted(7L))).size
      val detectB = JobRecorder.jobsOf(spark) { splitB = build(viewsShifted(30011L)) }.size
      assert(detectA > 0, "the armed join must detect at construction")
      assert(rebuildA == 0, s"rebuilding the same armed join re-ran detection ($rebuildA jobs)")
      assert(detectB > 0, "a different input with the same schema reused another input's detection")
      Seq(7L -> splitA, 30011L -> splitB).foreach { case (dt, split) =>
        assert(split.queryExecution.executedPlan.toString.contains("__asof_chunk_l"))
        splitVs(AsOf.joinPlain(purchases, viewsShifted(dt), on, "purchase_ts", "view_ts",
          rightTieBreak = Some("view_id")), split)
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
