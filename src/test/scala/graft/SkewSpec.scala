package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("salted join equals the plain join on a skewed key distribution") {
    import spark.implicits._
    val salts = 8
    // 90% of the left rows pile on key 0 — the hot-key shape that stalls
    // one reducer at scale.
    val left = spark.range(0, 20000)
      .select($"id", when($"id" % 10 === 0, $"id" % 37).otherwise(lit(0L)).as("k"))
    val right = (0L until 37L).map(k => (k, s"dim_$k")).toDF("rk", "payload")
    val plain = left.join(right, left("k") === right("rk"))
      .select($"id", $"k", $"payload")
    val salted = Skew.saltedJoin(left, right, "k", "rk", salts)
      .select($"id", $"k", $"payload")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("zipfBars: Zipf series lengths, contiguous dates, chunked CCI equals window CCI") {
    import spark.implicits._
    val bars = Skew.zipfBars(spark, 20000L, 20).cache()
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

  test("the hot key's rows spread across all salt partitions") {
    import spark.implicits._
    val salts = 8
    val left = spark.range(0, 20000)
      .select($"id", when($"id" % 10 === 0, $"id" % 37).otherwise(lit(0L)).as("k"))
    // same deterministic salt the join applies: hash of the row's columns
    val saltOf = pmod(hash(left.columns.map(col).toSeq: _*), lit(salts))
    val spread = left.filter($"k" === 0).select(saltOf.as("salt"))
      .distinct().count()
    assert(spread == salts, s"hot key only reached $spread of $salts salts")
  }
}
