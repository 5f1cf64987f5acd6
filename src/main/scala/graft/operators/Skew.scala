package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §5).
  *
  * AQE's skew-join handling covers sort-merge joins at runtime; salting is
  * the static fallback when one build-side key dominates (e.g. a single
  * hot user_id at 100 TB). The skewed side gets a deterministic salt from
  * its OTHER columns; the replicated side explodes across all salts —
  * results are identical to the plain join, but the hot key's rows spread
  * over `salts` reducers. */
object Skew {
  /** Equi-join `left.key == right.key` where `left` has skewed keys:
    * salt left deterministically, replicate right `salts` times.
    * `saltFrom` names the columns the salt hashes (default: all — pass a
    * compact unique id when rows carry wide payloads, hashing every byte
    * of the row just to pick a reducer is wasted CPU). */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, salts: Int, saltFrom: Seq[String] = Nil): DataFrame = {
    val src = if (saltFrom.nonEmpty) saltFrom else left.columns.toSeq
    val saltCol = pmod(hash(src.map(col): _*), lit(salts))
    val l = left.withColumn("__salt", saltCol)
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /** Deterministic OHLC bars with Zipf-length series: per-series bar
    * counts follow 1/r (driver-computed — S values, planner-scale), rows
    * come off `spark.range` joined to the broadcast (series, lo, hi)
    * offset table, dates are contiguous from 2000-01-01 per series, and
    * prices are hash-derived. The reference's per-symbol fan-out shape
    * (daily_function.py:905) at production skew. */
  def zipfBars(spark: org.apache.spark.sql.SparkSession, totalRows: Long,
      series: Int): DataFrame = {
    import spark.implicits._
    val weights = (1 to series).map(r => 1.0 / r)
    val z = weights.sum
    val counts = weights.map(w => math.max(30L, math.round(totalRows * w / z)))
    val bounds = counts.zipWithIndex
      .scanLeft((0L, 0L, 0L)) { case ((_, _, hi), (c, i)) => (i.toLong, hi, hi + c) }
      .drop(1)
    val boundsDf = bounds.toDF("series", "lo", "hi")
    val price = (pmod(xxhash64($"id", lit("px")), lit(10000L)).cast("double") + 10000.0) / 100.0
    spark.range(bounds.last._3)
      .join(broadcast(boundsDf), $"id" >= $"lo" && $"id" < $"hi")
      .select($"series".as("user_id"), ($"id" - $"lo").cast("int").as("i"),
        price.as("close_pr"))
      .select($"user_id",
        date_add(lit(java.sql.Date.valueOf("2000-01-01")), $"i").as("d"),
        $"close_pr".as("open_pr"), ($"close_pr" + 1.0).as("high_pr"),
        ($"close_pr" - 1.0).as("low_pr"), $"close_pr", lit(1L).as("volume"))
  }
}
