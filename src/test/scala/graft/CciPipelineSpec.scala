package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CciPipeline

class CciPipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("r33: index join broadcasts the date-keyed dim; rel strength is the raw difference") {
    val df = CciPipeline.indexRelative(spark, sf)
    // the days-dimension index CCI must reach the corpus via broadcast,
    // never a shuffled sort-merge join on the corpus side
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, i, rel) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // rel is rounded from the RAW difference: within one rounding ulp of
      // the difference of the rounded faces
      assert(math.abs(rel - (c - i)) <= 2e-4, s"$r")
    }
  }

  test("r04: CCI is null until the rolling window fills (pandas compat)") {
    val c = CciPipeline.cciQuery(spark, sf)
    val early = c.filter(col("idx") < CciPipeline.CciN)
    assert(early.count() > 0)
    assert(early.filter(col("close_cci").isNotNull).count() == 0)
    assert(c.filter(col("idx") >= CciPipeline.CciN && col("close_cci").isNotNull).count() > 0)
  }

  test("r04 chunked: bounded-task rolling CCI is bit-equal to the window form") {
    // chunkRows = 25, barely above the CciN-1 = 19 context width, forces
    // many chunks per series and every row class: chunk-0 warm-up nulls,
    // context-fed chunk starts, mid-chunk rows
    val w = CciPipeline.cciQuery(spark, sf).collect()
    val c = CciPipeline.cciChunkedQuery(spark, sf, chunkRows = 25).collect()
    assert(w.length == c.length && w.nonEmpty)
    w.zip(c).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
    // and the plan never windows BAR-scale data by the bare series key:
    // any series-only window must sit above the bucket-count aggregate
    // (months-per-series rows), the rest partition on (series, bucket) or
    // (series, chunk)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = CciPipeline.cciChunked(spark, sf, CciPipeline.GridConfig(), 25)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case lw: LWindow => lw }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.size < 2).foreach { lw =>
      assert(lw.child.collect { case a: Aggregate => a }.nonEmpty,
        "series-only window must run over aggregated bucket counts, not bars")
    }
  }

  test("r30: incremental base+delta recompute is row-equal to the full run") {
    // the driver gate re-checks this against r04's oracle; this spec makes
    // the equality claim self-contained (and covers the delta split logic,
    // which the oracle can't see)
    val full = CciPipeline.cciQuery(spark, sf).collect()
    val inc = CciPipeline.cciIncrementalQuery(spark, sf).collect()
    assert(full.length == inc.length && full.nonEmpty)
    full.zip(inc).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
  }

  test("r02: bars respect OHLC invariants") {
    val bad = CciPipeline.ohlcBars(spark, sf)
      .filter(col("high_pr") < col("low_pr") ||
        col("open_pr") > col("high_pr") || col("open_pr") < col("low_pr") ||
        col("close_pr") > col("high_pr") || col("close_pr") < col("low_pr"))
    assert(bad.count() == 0)
  }

  test("r06: trades have valid outcomes and sell strictly after buy") {
    val t = CciPipeline.trades(spark, sf).cache()
    assert(t.count() > 0)
    assert(t.filter(!col("trade_result").isin("reach_target", "stop_loss", "maturity")).count() == 0)
    assert(t.filter(col("sell_date") <= col("buy_date")).count() == 0)
    assert(t.filter(col("days_held") < 1).count() == 0)
    // reach_target trades actually reached the target price
    val badTarget = t.filter(col("trade_result") === "reach_target" &&
      col("sell_price") < col("buy_price") * (lit(1.0) + col("condition_target_return") / 100.0))
    assert(badTarget.count() == 0)
    t.unpersist()
  }

  test("r07/r08: one best row per (user, investment_target); metrics bounded") {
    val b = CciPipeline.bestOf(spark, sf).cache()
    val dup = b.groupBy("user_id", "investment_target").count().filter(col("count") > 1)
    assert(dup.count() == 0)
    assert(b.filter(col("win_rate") < 0 || col("win_rate") > 100).count() == 0)
    b.unpersist()
  }

  test("r03: upsert output is unique on the business key") {
    val u = CciPipeline.upsertKeepLast(spark, sf)
    val dup = u.groupBy("user_id", "d", "event_type").count().filter(col("count") > 1)
    assert(dup.count() == 0)
  }

  test("r18: reconciliation is keyed uniquely by order_no with consistent status transitions") {
    val r = CciPipeline.orderReconcile(spark, sf).cache()
    assert(r.count() > 0)
    assert(r.groupBy("order_no").count().filter(col("count") > 1).count() == 0)
    // buy leg always filled; pending sells carry no result/revenue
    assert(r.filter(col("real_buy_qty") <= 0 || col("real_buy_price").isNull).count() == 0)
    val pending = r.filter(col("real_sell_date").isNull)
    assert(pending.filter(col("trade_result").isNotNull || col("real_revenue").isNotNull).count() == 0)
    // status transition matches the reference rules
    val badMaturity = r.filter(col("real_sell_date") >= col("maturity_date") &&
      col("trade_result") =!= "maturity")
    val badTarget = r.filter(col("real_sell_date") < col("maturity_date") &&
      col("real_sell_price") > col("real_buy_price") && col("trade_result") =!= "reach_target")
    assert(badMaturity.count() == 0 && badTarget.count() == 0)
    r.unpersist()
  }

  test("r20: the all-history window reproduces r06 exactly") {
    val all = CciPipeline.tradesHistoryGrid(spark, sf)
      .filter(col("search_history_days") === CciPipeline.HistoryGridDays.max)
      .drop("search_history_days")
    val r06 = CciPipeline.tradesQuery(spark, sf).select(all.columns.map(col): _*)
    assert(all.count() > 0)
    assert(all.exceptAll(r06).count() == 0 && r06.exceptAll(all).count() == 0)
  }

  test("r06 from bars: the bars-driven chain equals the gated r06 row-for-row") {
    val fromBars = CciPipeline.tradesFromBars(
      CciPipeline.ohlcBars(spark, sf), CciPipeline.GridConfig())
    val r06 = CciPipeline.trades(spark, sf).select(fromBars.columns.map(col): _*)
    assert(fromBars.count() > 0)
    assert(fromBars.exceptAll(r06).count() == 0 && r06.exceptAll(fromBars).count() == 0)
  }

  test("r21: watermark fetch plan covers exactly the unsaved suffix; new keys get the full-history default") {
    import spark.implicits._
    val wm = CciPipeline.fetchWatermark(spark, sf).cache()
    assert(wm.count() > 0)
    assert(wm.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    // keys WITH saved history: fetch resumes the day after the watermark
    val saved = wm.filter(col("saved_max_date").isNotNull)
    assert(saved.filter(col("fetch_start") =!= date_add(col("saved_max_date"), 1)).count() == 0)
    assert(saved.filter(col("saved_min_date") > col("saved_max_date") ||
      col("n_saved") <= 0).count() == 0)
    // keys WITHOUT history: full-history fetch from the default start
    assert(wm.filter(col("saved_max_date").isNull &&
      (col("fetch_start") =!= lit(CciPipeline.DefaultFetchStart).cast("date") ||
        !col("fetch_needed"))).count() == 0)
    // fetch_needed is exactly "the end date is newer than the watermark"
    assert(wm.filter(col("fetch_needed") =!=
      (col("saved_max_date").isNull || col("fetch_end") > col("saved_max_date"))).count() == 0)
    wm.unpersist()
    // a key appearing only after the cutoff must surface as a new key with
    // the default start (synthetic: one user's events all land late)
    val ev = sources.Tables.events(spark, sf)
    val bounds = ev.agg(date_add(min(to_date(col("ts"))), 20).as("cutoff")).head
    val cutoff = bounds.getDate(0)
    val late = ev.filter(to_date(col("ts")) >= lit(cutoff))
    assert(late.count() > 0, "test premise: events exist after the cutoff")
  }

  test("GridConfig: custom grids restrict the simulation coherently") {
    import spark.implicits._
    // narrowing one grid axis reproduces exactly that slice of the default
    val narrow = CciPipeline.trades(spark, sf,
      CciPipeline.GridConfig(holdingDays = Seq(5)))
    val slice = CciPipeline.trades(spark, sf)
      .filter($"condition_holding_days" === 5)
    assert(narrow.count() > 0)
    assert(narrow.exceptAll(slice).count() == 0 && slice.exceptAll(narrow).count() == 0)
    // a longer CCI window leaves more of each series' head un-scored
    val wide = CciPipeline.cci(spark, sf, CciPipeline.GridConfig(cciN = 8))
    assert(wide.filter($"idx" < 8 && $"close_cci".isNotNull).count() == 0)
  }

  test("r22: the calendar gate admits no weekend or synthetic-holiday day") {
    import spark.implicits._
    val cal = CciPipeline.tradingCalendar(spark, sf).cache()
    assert(cal.count() > 0)
    assert(cal.filter($"dow" >= 5 || dayofmonth($"d") % 7 === 3).count() == 0)
    // gated days form a subset of the series' span and counts are sane
    val bounds = CciPipeline.ohlcBars(spark, sf).agg(min($"d"), max($"d")).head
    assert(cal.filter($"d" < bounds.getDate(0) || $"d" > bounds.getDate(1)).count() == 0)
    assert(cal.filter($"n_series" > $"n_bars" || $"n_bars" < 0).count() == 0)
    cal.unpersist()
  }

  test("r20: shorter windows only keep trades bought inside the window") {
    val g = CciPipeline.tradesHistoryGrid(spark, sf).cache()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    // every short-window trade must exist in the all-history slice too
    val short = g.filter(col("search_history_days") === CciPipeline.HistoryGridDays.min)
      .drop("search_history_days")
    val allW = g.filter(col("search_history_days") === CciPipeline.HistoryGridDays.max)
      .drop("search_history_days")
    assert(short.exceptAll(allW).count() == 0)
    assert(short.count() < allW.count())
    g.unpersist()
  }

  test("r23: run digest matches direct stage counts and outcomes partition trades") {
    val d = CciPipeline.runDigest(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d("n_trades") == CciPipeline.trades(spark, sf).count())
    assert(d("n_bars") == CciPipeline.ohlcBars(spark, sf).count())
    assert(d("n_strategies") == CciPipeline.strategyAgg(spark, sf).count())
    assert(d("n_reach_target") + d("n_stop_loss") + d("n_maturity") == d("n_trades"))
    assert(d("n_series") > 0 && d("n_signals") > 0)
  }

  test("r26: ledger cumsums reconcile with per-account fill totals") {
    val l = CciPipeline.positionLedger(spark, sf).cache()
    assert(l.count() > 0)
    // at most one buy + one sell fill per order
    assert(l.groupBy("order_no", "side").count().filter(col("count") > 1).count() == 0)
    // the last running value per account equals the account's fill total
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cust_id"))
      .orderBy(col("event_date"), col("order_no"), col("side"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val bad = l
      .withColumn("tot_qty", sum(col("qty_delta")).over(w))
      .withColumn("tot_cash", sum(col("cash_delta")).over(w))
      .withColumn("last_pos", last(col("position_qty")).over(w))
      .withColumn("last_cash", last(col("cash_balance")).over(w))
      .filter(col("tot_qty") =!= col("last_pos") || col("tot_cash") =!= col("last_cash"))
    assert(bad.count() == 0)
    l.unpersist()
  }

  /** A fresh directory holding a copy of the sf events: the perfbench
    * grid refresh's input, with no chain cache of an earlier refresh. */
  private def copyOfEvents(): String = {
    val dir = Files.createTempDirectory("graft-refresh").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"))
    dir
  }

  /** The strategy refresh's three outputs over `dir`, constructed only. */
  private def refreshFrames(dir: String) =
    Seq(CciPipeline.bestOf(spark, dir), CciPipeline.recommendations(spark, dir),
      CciPipeline.candidateFilter(spark, dir))

  test("grid refresh: constructing best-of, recommendations and candidates runs no Spark job") {
    // every table schema comes from a parquet footer read on the driver
    // (Tables.parquetSchema), so a refresh over a fresh input launches
    // its first job only at an action. Jobs are told apart by the job
    // group of the constructing thread.
    val group = "graft.test.construct"
    val (sc, dir) = (spark.sparkContext, copyOfEvents())
    val jobs = try JobRecorder.jobsOf(spark) {
      sc.setJobGroup(group, "construct the refresh")
      try refreshFrames(dir) finally sc.clearJobGroup()
    }.filter(_.property("spark.jobGroup.id").contains(group))
      .map(_.stageNames.mkString(", "))
    finally CciPipeline.dropChainCaches(spark, dir)
    assert(jobs.isEmpty, s"construction ran ${jobs.size} job(s): ${jobs.mkString("; ")}")
  }

  test("dropChainCaches: the cache-entry count returns to its baseline, best-of rows included") {
    def entries = org.apache.spark.sql.execution.CacheEntries.count(spark)
    val (dir, before) = (copyOfEvents(), entries)
    refreshFrames(dir)
    // cci, trades, strategyAgg and the unsorted best-of rows
    assert(entries == before + 4)
    assert(CciPipeline.bestRows(spark, dir).storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    CciPipeline.dropChainCaches(spark, dir)
    assert(entries == before)
  }

  test("grid refresh: a warm refresh over a fresh copy of the input compiles no class") {
    // Spark's codegen cache (GraftSession.CodegenCacheEntries) keeps every
    // class a cold refresh compiled, so a second refresh over the same
    // events in a new directory finds them all: the perfbench grid shape
    def refresh(dir: String): Unit = {
      refreshFrames(dir).foreach(_.write.format("noop").mode("overwrite").save())
      CciPipeline.dropChainCaches(spark, dir)
    }
    val (cold, warm) = (copyOfEvents(), copyOfEvents())
    refresh(cold)
    val (ns, compiles) = (CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    refresh(warm)
    assert(CodeGenerator.compileTime == ns,
      s"the warm refresh compiled ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles} " +
        f"classes in ${(CodeGenerator.compileTime - ns) / 1e6}%.1f ms")
  }
}
