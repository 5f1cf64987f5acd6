package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Intervals
import graft.plans.ScaleGate

/** The interval family's runtime geometry (VERDICT r12 task 1): bin width
  * and salt fan-out are session confs, and a HOT BIN — one day's interval
  * count crossing the threshold — sub-salts its replicating side so the
  * per-task pair volume is bounded by the knobs instead of being capped at
  * bins×salts. The gate that matters is EXACT equality against the
  * detection-off plan (which the DuckDB oracles already gate at sf0.01),
  * plus the plan shape: the default path must stay byte-identical (no
  * isalt, no broadcast), the hot path must carry the sub-salt key. */
class RangeHotBinSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Zipf-day orders: 4000 orders on ONE day (the earnings-day cluster)
    * plus 2000 spread over ~200 days. Keys dense so every-10th probe and
    * the %28 span derivation behave like the corpus. */
  private def skewedOrders: DataFrame = {
    val hot = (0L until 4000L).map(i =>
      (i, "2024-03-15", 1000.0 + (i % 97).toDouble))
    val cold = (4000L until 6000L).map(i =>
      (i, java.time.LocalDate.of(2024, 1, 1).plusDays(i % 200).toString,
        500.0 + (i % 53).toDouble))
    (hot ++ cold).toDF("o_orderkey", "o_orderdate", "o_totalprice")
  }

  /** Lineitems whose ship windows cluster on the same hot day. */
  private def skewedLineitem: DataFrame =
    (0L until 3000L).map { i =>
      val d = if (i % 3 == 0) "2024-03-15"
        else java.time.LocalDate.of(2024, 1, 1).plusDays(i % 200).toString
      (i / 4, (i % 4 + 1).toInt, i % 40, 10.0 + (i % 31).toDouble, d)
    }.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "l_shipdate")

  private val geomKeys = Seq(Intervals.BinDaysConf, Intervals.SaltBucketsConf,
    Intervals.HotBinRowsConf, ScaleGate.ForceConf)

  private def withConf(pairs: (String, String)*)(fn: => Unit): Unit = {
    val saved = geomKeys.map(k => k -> spark.conf.getOption(k))
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; fn }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] = df.collect().toSeq

  test("q48 hot-bin split ≡ plain row-for-row on a Zipf-day corpus, and really sub-salts") {
    val orders = skewedOrders
    var plain: Seq[org.apache.spark.sql.Row] = null
    withConf(ScaleGate.ForceConf -> "off") {
      val df = Intervals.rangeJoinFromOrders(orders)
      assert(!df.queryExecution.executedPlan.toString.contains("isalt"),
        "detection off must keep the unsalted plan")
      plain = rows(df)
    }
    withConf(ScaleGate.ForceConf -> "arm",
        Intervals.HotBinRowsConf -> "500") {
      val df = Intervals.rangeJoinFromOrders(orders)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("isalt"), "hot corpus must plan the sub-salt key:\n" +
        phys.take(1500))
      val split = rows(df)
      assert(plain.nonEmpty && plain.length == split.length,
        s"${plain.length} plain vs ${split.length} split rows")
      plain.zip(split).foreach { case (a, b) =>
        assert(a == b, s"\nplain: $a\nsplit: $b") }
    }
  }

  test("q49 hot-bin split ≡ plain row-for-row") {
    val orders = skewedOrders
    val li = skewedLineitem
    var plain: Seq[org.apache.spark.sql.Row] = null
    withConf(ScaleGate.ForceConf -> "off") {
      plain = rows(Intervals.intervalJoinFrom(orders, li))
    }
    // the replicating side here is the every-10th order-window subset
    // (~400 rows on the hot day), so the threshold sits below that
    withConf(ScaleGate.ForceConf -> "arm",
        Intervals.HotBinRowsConf -> "100") {
      val df = Intervals.intervalJoinFrom(orders, li)
      assert(df.queryExecution.executedPlan.toString.contains("isalt"))
      val split = rows(df)
      assert(plain.nonEmpty && plain.length == split.length)
      plain.zip(split).foreach { case (a, b) =>
        assert(a == b, s"\nplain: $a\nsplit: $b") }
    }
  }

  test("q48 POINT-side sub-salt (psalt) ≡ plain row-for-row when the probe subset is hot") {
    // hot day concentrated in the every-10th PROBE keys: all 500 point
    // keys land on one date. At hotRows=300 BOTH detections cross (point
    // keys are interval keys too, and intervals replicate ≥2 bins), so
    // the plan must carry isalt AND psalt and still match plain exactly.
    val orders = (0L until 5000L).map { i =>
      val d = if (i % 10 == 0) "2024-03-15"
        else java.time.LocalDate.of(2024, 1, 1).plusDays(i % 200).toString
      (i, d, 1000.0 + (i % 97).toDouble)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    var plain: Seq[org.apache.spark.sql.Row] = null
    withConf(ScaleGate.ForceConf -> "off") {
      val df = Intervals.rangeJoinFromOrders(orders)
      assert(!df.queryExecution.executedPlan.toString.contains("psalt"),
        "detection off must keep the unsalted plan")
      plain = rows(df)
    }
    withConf(ScaleGate.ForceConf -> "arm",
        Intervals.HotBinRowsConf -> "300") {
      val df = Intervals.rangeJoinFromOrders(orders)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("psalt"), "points-hot corpus must plan the point " +
        s"sub-salt key:\n${phys.take(1500)}")
      assert(phys.contains("isalt"))
      val split = rows(df)
      assert(plain.nonEmpty && plain.length == split.length,
        s"${plain.length} plain vs ${split.length} split rows")
      plain.zip(split).foreach { case (a, b) =>
        assert(a == b, s"\nplain: $a\nsplit: $b") }
    }
  }

  test("q49 ship-window-side sub-salt (ssalt) ≡ plain row-for-row") {
    val orders = skewedOrders
    val li = skewedLineitem
    var plain: Seq[org.apache.spark.sql.Row] = null
    withConf(ScaleGate.ForceConf -> "off") {
      plain = rows(Intervals.intervalJoinFrom(orders, li))
    }
    withConf(ScaleGate.ForceConf -> "arm",
        Intervals.HotBinRowsConf -> "50") {
      val df = Intervals.intervalJoinFrom(orders, li)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("ssalt"), "sw-hot corpus must plan the ship-side " +
        s"sub-salt key:\n${phys.take(1500)}")
      val split = rows(df)
      assert(plain.nonEmpty && plain.length == split.length)
      plain.zip(split).foreach { case (a, b) =>
        assert(a == b, s"\nplain: $a\nsplit: $b") }
    }
  }

  test("bin/salt geometry is runtime-tunable and result-invariant") {
    val orders = skewedOrders
    var base: Seq[org.apache.spark.sql.Row] = null
    withConf() { base = rows(Intervals.rangeJoinFromOrders(orders)) }
    // a different geometry must change the plan's fan-out, never the rows
    withConf(Intervals.BinDaysConf -> "4", Intervals.SaltBucketsConf -> "3") {
      val alt = rows(Intervals.rangeJoinFromOrders(orders))
      assert(base == alt)
    }
    withConf(Intervals.BinDaysConf -> "64", Intervals.SaltBucketsConf -> "1") {
      assert(base == rows(Intervals.rangeJoinFromOrders(orders)))
    }
    // invalid knobs fail loudly at construction, not mid-job
    withConf(Intervals.BinDaysConf -> "0") {
      val e = intercept[IllegalArgumentException](
        Intervals.rangeJoinFromOrders(orders))
      assert(e.getMessage.contains(Intervals.BinDaysConf))
    }
  }

  test("sub-salt fan-out is bounded: subI = ceil(count/hotRows), capped") {
    // one bin of 4000 intervals at hotRows=500 → subI 8; at 150 → capped
    // growth but never an abort; cold bins get subI 1 (absent)
    withConf(ScaleGate.ForceConf -> "arm",
        Intervals.HotBinRowsConf -> "500") {
      val iv = skewedOrders.select(
        $"o_orderkey".as("ikey"),
        unix_date(to_date($"o_orderdate")).cast("long").as("sd"),
        (unix_date(to_date($"o_orderdate")).cast("long") + 3L
          + pmod($"o_orderkey", lit(28L))).as("ed"))
      val binned = iv.withColumn("bin", explode(sequence(
        floor($"sd" / 16), floor(($"ed" - 1) / 16))))
      val hot = Intervals.hotBins(spark, binned, iv, 16)
      assert(hot.nonEmpty, "the 4000-interval day must be detected")
      hot.foreach { case (_, subI) => assert(subI > 1 && subI <= 1024) }
      val maxSub = hot.map(_._2).max
      // ~4000+ rows in the hot day's bins / 500 → at least 8 sub-salts
      assert(maxSub >= 8, s"expected >=8 sub-salts for the hot bin, got $maxSub")
    }
  }
}
