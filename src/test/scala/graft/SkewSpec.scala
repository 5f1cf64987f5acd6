package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  import TestSpark._

  /** Deterministic OHLC bars with Zipf-length series: per-series bar
    * counts follow 1/r (driver-computed — S values, planner-scale), rows
    * come off `spark.range` joined to the broadcast (series, lo, hi)
    * offset table, dates are contiguous from 2000-01-01 per series, and
    * prices are hash-derived. The reference's per-symbol fan-out shape
    * (daily_function.py:905) at production skew. */
  private def zipfBars(spark: SparkSession, totalRows: Long, series: Int): DataFrame = {
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

  test("zipfBars: Zipf series lengths, contiguous dates, chunked CCI equals window CCI") {
    import spark.implicits._
    val bars = zipfBars(spark, 20000L, 20).cache()
    val counts = bars.groupBy($"user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(counts.size == 20)
    // rank-1 series dominates, ~1/r decay
    assert(counts(0L) > 2L * counts(3L))
    // per-series dates are contiguous from the epoch start (no gaps)
    val gaps = bars.groupBy($"user_id").agg(
      count(lit(1)).as("n"), min($"d").as("mn"), max($"d").as("mx"))
      .filter(datediff($"mx", $"mn") =!= $"n" - 1)
    assert(gaps.count() == 0)
    // the chunked rewrite is bit-equal to the window form on skewed series
    val cfg = operators.CciPipeline.GridConfig()
    val w = operators.CciPipeline.cciFromBars(bars, cfg)
      .select($"user_id", $"d", $"idx", $"cnt", $"close_cci", $"open_cci")
      .orderBy($"user_id", $"d").collect()
    val c = operators.CciPipeline.cciChunkedFromBars(bars, cfg, chunkRows = 100)
      .select($"user_id", $"d", $"idx", $"cnt", $"close_cci", $"open_cci")
      .orderBy($"user_id", $"d").collect()
    assert(w.length == c.length && w.nonEmpty)
    w.zip(c).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
    bars.unpersist()
  }
}
