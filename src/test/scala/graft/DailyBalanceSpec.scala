package graft

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r36: the daily product's cash-balance carry. The DuckDB oracle replays
  * the whole feedback loop one-shot (recursive day fold); this spec pins
  * the branch semantics the oracle's single trajectory may not exercise —
  * full-budget 10%-slice sizing vs the qty-1 small-balance branch vs the
  * non-positive no-order branch — plus settlement arithmetic per lot,
  * chain continuity, and crash-rerun idempotence, on the same crafted
  * three-user week as DailyRunSpec's r34 lifecycle test. */
class DailyBalanceSpec extends AnyFunSuite {
  import TestSpark._
  import graft.Daily

  private def newDir(): String =
    java.nio.file.Files.createTempDirectory("graft-bal-spec").toString

  /** The r34 lifecycle fixture: three declining series that jump on
    * Mar 5 (fresh crossover at close 120), then close on Mar 7 by
    * target / stop / maturity respectively. */
  private lazy val srcDir: String = {
    import spark.implicits._
    val histDays = Seq("02-19", "02-20", "02-21", "02-22", "02-23",
      "02-26", "02-27", "02-28", "02-29", "03-01", "03-04")
    val histVals = (0 until 11).map(110.0 - _)
    val tails = Map(
      1L -> Seq("03-05" -> 120.0, "03-06" -> 120.0, "03-07" -> 135.0),
      2L -> Seq("03-05" -> 120.0, "03-06" -> 118.0, "03-07" -> 50.0),
      3L -> Seq("03-05" -> 120.0, "03-06" -> 120.0, "03-07" -> 120.0))
    val rows = for {
      u <- Seq(1L, 2L, 3L)
      ((md, v), i) <- (histDays.zip(histVals) ++ tails(u)).zipWithIndex
    } yield (u * 1000 + i, java.sql.Timestamp.from(
        Instant.parse(s"2024-$md" + "T12:00:00Z")), u, "px", v, "{}")
    val dir = newDir()
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def freshWs(seedCents: Long): Daily.Workspace = {
    import spark.implicits._
    val ws = Daily.Workspace(newDir())
    val conn = new graft.sources.LocalFileEventConnector(srcDir)
    val cutoff = java.sql.Date.valueOf("2024-03-01")
    Daily.bootstrap(spark, conn, ws, cutoff)
    Seq((1L, 0.0, 5, 2.0, -150.0, 1.0, 1.0),
        (2L, 0.0, 5, 50.0, -100.0, 1.0, 1.0),
        (3L, 0.0, 2, 50.0, -150.0, 1.0, 1.0))
      .toDF("user_id", "condition_buy_cci_threshold", "condition_holding_days",
        "condition_target_return", "condition_stop_loss_cci_threshold",
        "win_rate", "revenue_rate")
      .write.parquet(ws.conditionsDir)
    Daily.seedBalance(spark, ws, cutoff, seedCents)
    ws
  }

  private def runWeek(ws: Daily.Workspace): Seq[Daily.DayDigest] =
    Daily.run(spark, new graft.sources.LocalFileEventConnector(srcDir), ws,
      java.time.LocalDate.parse("2024-03-04"),
      java.time.LocalDate.parse("2024-03-08"),
      withOrders = true, withBalance = true)

  private def trajectory(ws: Daily.Workspace) =
    spark.read.parquet(ws.balanceDir)
      .filter(col("d") > lit(java.sql.Date.valueOf("2024-03-01")))
      .select(col("d"), col("bal_start_cents"), col("buy_cost_cents"),
        col("sell_proceeds_cents"), col("bal_end_cents"))
      .orderBy(col("d")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  private def costCents(qty: Long, price: Double): Long =
    math.floor(qty * price * (1.0 + CciOps.FeeRate) * 100.0 + 0.5).toLong
  private def procCents(qty: Long, price: Double): Long =
    math.floor(qty * price * (1.0 - CciOps.TaxRate - CciOps.FeeRate) * 100.0 + 0.5).toLong
  private object CciOps {
    val TaxRate = graft.operators.CciPipeline.TaxRate
    val FeeRate = graft.operators.CciPipeline.FeeRate
  }

  test("r36 full-budget branch: 10%-slice sizing, per-lot settlement, chain continuity") {
    val ws = freshWs(Daily.InitialBalanceCents) // 1M won
    runWeek(ws)
    val t = trajectory(ws)
    assert(t.map(_._1).toSeq == Seq("2024-03-04", "2024-03-05", "2024-03-06",
      "2024-03-07", "2024-03-08"))
    // continuity + per-day identity
    t.foreach { case (_, b0, c, p, b1) => assert(b1 == b0 - c + p) }
    t.sliding(2).foreach { case Array((_, _, _, _, prevEnd), (_, b0, _, _, _)) =>
      assert(b0 == prevEnd, "next day's snapshot is the previous day's close") }

    // day-2 lots sized from the balance, NOT the fixed slice: slice =
    // floor(1e8/1000) = 100000 won, qty = floor(100000/120 + .5) = 833
    val qty = math.floor(math.floor(1e8 / 1000.0) / 120.0 + 0.5).toLong
    assert(qty == 833L)
    val pos = spark.read.parquet(s"${ws.positionsDir}/run_d=2024-03-05")
      .select(col("buy_qty")).collect().map(_.getLong(0)).toSeq
    assert(pos == Seq.fill(3)(qty))
    assert(t(1)._3 == 3 * costCents(qty, 120.0), "Mar 5 debit = 3 sized lots + buy fee")

    // Mar 7 credit = the three sells' net proceeds at the OPEN-day qty
    val expectedProc = Seq(135.0, 50.0, 120.0).map(procCents(qty, _)).sum
    assert(t(3)._4 == expectedProc, "Mar 7 credit = net sell proceeds")
    assert(t(3)._3 == 0L && t(4)._3 == 0L, "no further opens")
    assert(t(4)._5 == t(4)._2, "idle final day carries the balance")
  }

  test("r36 small-balance branch: a positive balance below 1M won places qty-1 orders") {
    val ws = freshWs(5000000L) // 50k won, > 0 but < 1M
    runWeek(ws)
    val pos = spark.read.parquet(s"${ws.positionsDir}/run_d=2024-03-05")
      .select(col("buy_qty")).collect().map(_.getLong(0)).toSeq
    assert(pos == Seq(1L, 1L, 1L), "minimum qty-1 orders")
    val t = trajectory(ws)
    assert(t(1)._3 == 3 * costCents(1L, 120.0))
  }

  test("r36 non-positive branch: an exhausted balance places nothing") {
    val ws = freshWs(0L)
    val digs = runWeek(ws)
    assert(digs.map(_.n_positions).sum == 0, "no lot ever opens")
    val t = trajectory(ws)
    assert(t.forall { case (_, b0, c, p, b1) => b0 == 0 && c == 0 && p == 0 && b1 == 0 })
  }

  test("a crossover at a zero close price places no order under any sizing") {
    import spark.implicits._
    import graft.operators.CciPipeline
    val conds = Seq(1L, 2L).map(u => (u, 5, 2.0, 0.0, -100.0, 0.6, 3.5))
      .toDF("user_id", "condition_holding_days", "condition_target_return",
        "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
        "win_rate", "revenue_rate")
    // both series cross the 0 threshold today; series 1 closes at 0.0
    val d = java.sql.Date.valueOf("2024-03-05")
    val latest = Seq((1L, 0.0), (2L, 120.0))
      .map { case (u, px) => (u, d, px, 20.0, 50.0, -50.0) }
      .toDF("user_id", "d", "close_pr", "close_cci", "current_open_cci",
        "yesterday_open_cci")
    def qtys(lat: DataFrame, qty: Column): Map[Long, Long] =
      CciPipeline.orderRows(conds, lat, qty).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("buy_order_qty")).toMap
    def withBal(cents: Long) = latest.crossJoin(Seq(cents).toDF("bal_cents"))
    // floor(100,000 / 120 + 0.5): the 10% slice of the 1M-won budget
    assert(qtys(latest, CciPipeline.fixedSliceQty) == Map(2L -> 833L))
    assert(qtys(withBal(Daily.InitialBalanceCents), Daily.balanceQty) == Map(2L -> 833L))
    assert(qtys(withBal(5000000L), Daily.balanceQty) == Map(2L -> 1L))
    Seq(0L, -100L).foreach(c =>
      assert(qtys(withBal(c), Daily.balanceQty).isEmpty, s"balance $c cents"))
  }

  test("mode upgrade: a week committed WITHOUT orders re-runs its days when orders+balance are requested") {
    // regression: the resume check looked only at the digest marker, so
    // a workspace first driven in digest-only mode would skip every day
    // of a later orders+balance run — no positions, sells, or balance
    // partitions would ever be written
    import spark.implicits._
    val ws = Daily.Workspace(newDir())
    val conn = new graft.sources.LocalFileEventConnector(srcDir)
    val cutoff = java.sql.Date.valueOf("2024-03-01")
    Daily.bootstrap(spark, conn, ws, cutoff)
    val bare = Daily.run(spark, conn, ws,
      java.time.LocalDate.parse("2024-03-04"),
      java.time.LocalDate.parse("2024-03-08"))
    assert(bare.map(_.n_positions).sum == 0, "order-less mode writes no lots")

    Seq((1L, 0.0, 5, 2.0, -150.0, 1.0, 1.0),
        (2L, 0.0, 5, 50.0, -100.0, 1.0, 1.0),
        (3L, 0.0, 2, 50.0, -150.0, 1.0, 1.0))
      .toDF("user_id", "condition_buy_cci_threshold", "condition_holding_days",
        "condition_target_return", "condition_stop_loss_cci_threshold",
        "win_rate", "revenue_rate")
      .write.parquet(ws.conditionsDir)
    Daily.seedBalance(spark, ws, cutoff, Daily.InitialBalanceCents)
    val digs = runWeek(ws)
    val byDay = digs.map(d => d.d.toString -> d).toMap
    assert(byDay("2024-03-05").n_positions == 3, "upgrade re-ran the open day")
    assert(byDay("2024-03-07").n_sells == 3, "upgrade re-ran the sell day")
    assert(trajectory(ws).length == 5, "balance written for every trading day")
  }

  test("a symbol missing from listKeys is still fetched via its saved state key") {
    // regression: the fetch universe was listKeys alone, so a series the
    // broker's listing transiently dropped would freeze its watermark and
    // leave its open lot scanned against a stale close forever; the
    // universe is now listKeys UNION saved keys
    val cutoff = java.sql.Date.valueOf("2024-03-01")
    val base = new graft.sources.LocalFileEventConnector(srcDir)
    val shrunk = new graft.sources.EventConnector {
      override def name: String = "shrunk-listing"
      // after bootstrap, user 1 vanishes from the listing
      override def listKeys(spark: org.apache.spark.sql.SparkSession,
          asOf: java.sql.Date) = {
        val all = base.listKeys(spark, asOf)
        if (asOf.after(cutoff)) all.filter(col("user_id") =!= 1L) else all
      }
      override def fetch(spark: org.apache.spark.sql.SparkSession,
          requests: org.apache.spark.sql.DataFrame) = base.fetch(spark, requests)
    }
    def sellsOf(conn: graft.sources.EventConnector) = {
      val ws = freshWs(Daily.InitialBalanceCents)
      Daily.run(spark, conn, ws,
        java.time.LocalDate.parse("2024-03-04"),
        java.time.LocalDate.parse("2024-03-08"),
        withOrders = true, withBalance = true): Unit
      spark.read.parquet(ws.sellsDir)
        .select(col("user_id"), col("buy_d"), col("sell_d"),
          col("sell_price"), col("trade_result"))
        .orderBy(col("user_id")).collect().toSeq
    }
    val a = sellsOf(shrunk)
    val b = sellsOf(base)
    assert(a.exists(_.getLong(0) == 1L),
      "user 1's lifecycle must survive the listing gap")
    assert(a == b, s"shrunk-listing run diverged:\n$a\n$b")
  }

  test("r36 crash rerun of the sell day leaves the balance partition byte-identical") {
    val ws = freshWs(Daily.InitialBalanceCents)
    runWeek(ws)
    val before = trajectory(ws)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }
    val d7 = java.sql.Date.valueOf("2024-03-07")
    deleteRec(new java.io.File(s"${ws.digestDir}/run_d=$d7"))
    Daily.runDay(spark, new graft.sources.LocalFileEventConnector(srcDir), ws,
      d7, withOrders = true, withBalance = true): Unit
    assert(trajectory(ws).toSeq == before.toSeq, "balance rerun must be a no-op")
  }
}
