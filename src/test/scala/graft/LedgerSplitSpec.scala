package graft

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CciPipeline
import graft.plans.ScaleGate

/** The r26 whale-account running-sum split (VERDICT r15 #2): a hot
  * account's ledger is range-split on the lexicographic
  * (event_date, order_no) linearization into chunks with carried boundary
  * sums. The gate that matters is EXACT row-for-row equality against the
  * plain single-window plan — including buy/sell tie pairs on the same
  * (date, order_no), a whale whose fills ALL land on one date (the
  * order-range split path), and cold accounts riding the plain path
  * unchanged. Deltas are longs, so the stitch must be bit-equal, not
  * approximately equal. */
class LedgerSplitSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Synthetic fills: account 1 is a date-spread whale (2500 orders ×
    * buy+sell, sell often same-date as buy — tie groups), account 2 a
    * single-date whale (order-range split), account 3 cold. */
  private def fills: DataFrame = {
    def d(i: Long) = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    val whaleSpread = (0L until 2500L).flatMap { i =>
      Seq((1L, d(i % 90), 10000L + i, "buy", 3L + i % 7, -(3L + i % 7) * (500L + i % 111)),
        (1L, d(i % 90), 10000L + i, "sell", -(3L + i % 7), (3L + i % 7) * (505L + i % 97)))
    }
    val whaleOneDay = (0L until 2000L).map { i =>
      (2L, d(40), 50000L + i * 3L, "buy", 1L + i % 5, -(1L + i % 5) * (700L + i % 13))
    }
    val cold = (0L until 30L).map { i =>
      (3L, d(i), 90000L + i, "buy", 2L, -2L * 300L)
    }
    (whaleSpread ++ whaleOneDay ++ cold)
      .toDF("cust_id", "event_date", "order_no", "side", "qty_delta", "cash_delta")
  }

  private def withConfs(pairs: (String, String)*)(fn: => Unit): Unit = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try fn finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("ledger split: chunked running sums equal the plain window row-for-row") {
    val f = fills.cache()
    try {
      val plain = CciPipeline.positionLedgerFrom(spark, f).collect().toSeq
      assert(plain.size == 2500 * 2 + 2000 + 30)
      withConfs(
        ScaleGate.ForceConf -> "arm",
        CciPipeline.LedgerHotRowsConf -> "1000") {
        val split = CciPipeline.positionLedgerFrom(spark, f).collect().toSeq
        assert(split == plain, "split ledger != plain ledger")
      }
    } finally f.unpersist()
  }

  test("ledger split: files appended under the input directory re-run detection") {
    // Account 1's appended whale fills land on early dates with order
    // numbers beyond the first file's range: bounds detected on the first
    // file would linearize them out of (event_date, order_no) order.
    def d(i: Long) = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    val extra = (0L until 500L).map { i =>
      (1L, d(i % 5), 200000L + i, "buy", 1L + i % 3, -(1L + i % 3) * (400L + i % 29))
    }.toDF("cust_id", "event_date", "order_no", "side", "qty_delta", "cash_delta")
    val plainFirst = CciPipeline.positionLedgerFrom(spark, fills).collect().toSeq
    val plain = CciPipeline.positionLedgerFrom(spark, fills.unionByName(extra))
      .collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-append").toString
    try {
      withConfs(
        ScaleGate.ForceConf -> "arm",
        CciPipeline.LedgerHotRowsConf -> "1000") {
        fills.write.mode("overwrite").parquet(dir)
        assert(CciPipeline.positionLedgerFrom(spark, spark.read.parquet(dir))
          .collect().toSeq == plainFirst)
        extra.write.mode("append").parquet(dir)
        val split = CciPipeline.positionLedgerFrom(spark, spark.read.parquet(dir))
          .collect().toSeq
        assert(split == plain, "split ledger over the appended directory != plain ledger")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ledger split: the armed plan windows over (cust, chunk), never the bare account key") {
    withConfs(
      ScaleGate.ForceConf -> "arm",
      CciPipeline.LedgerHotRowsConf -> "1000") {
      val plan = CciPipeline.positionLedgerFrom(spark, fills)
        .queryExecution.optimizedPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      assert(wins.nonEmpty)
      // the hot branch's running sums must carry a second partition key
      // (the chunk) beyond cust_id alone; the carry window (bounded rows
      // per account: one per chunk) and the cold-branch plain window are
      // the allowed single-key exceptions
      assert(wins.exists(_.partitionSpec.size >= 2),
        "hot running sums no longer partition by (cust, chunk)")
      val unions = plan.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
      assert(unions.nonEmpty, "armed split planned no hot/cold union")
    }
  }

  test("ledger split: detection never arms below the plan-stat gate (oracle path untouched)") {
    // default confs: the gate is 1 GiB, far above the synthetic frame —
    // the plan must be the single plain window (one Window node pair, no
    // union, no chunk column)
    val plan = CciPipeline.positionLedgerFrom(spark, fills)
      .queryExecution.optimizedPlan
    val unions = plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    assert(unions.isEmpty, "plain path planned a union — the split armed below the gate")
  }
}
