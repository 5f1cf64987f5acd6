package graft

import java.time.LocalDate

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CciPipeline
import graft.operators.CciPipeline.GridConfig
import graft.sources.{LocalFileEventConnector, Tables}

/** The composed daily orchestrated run (r32 / app.py execute_pipeline):
  * whole-chain incremental-equals-full equality, idempotent crash reruns,
  * restart resume, and order-step parity against an independent one-shot
  * formulation. */
class DailyRunSpec extends AnyFunSuite {
  import TestSpark._

  private def newWs(): Daily.Workspace = Daily.Workspace(
    java.nio.file.Files.createTempDirectory("graft-daily-spec").toString)

  /** A transport that fails on ANY use — proves a code path never
    * touches the connector. */
  private def neverFetch: graft.sources.EventConnector =
    new graft.sources.EventConnector {
      override def name = "throwing"
      override def listKeys(sp: org.apache.spark.sql.SparkSession,
          asOf: java.sql.Date): DataFrame =
        sys.error("listKeys must not run on a committed-chain resume")
      override def fetch(sp: org.apache.spark.sql.SparkSession,
          requests: DataFrame): DataFrame =
        sys.error("fetch must not run on a committed-chain resume")
    }

  private lazy val maxLd: LocalDate = Tables.events(spark, sf)
    .agg(max(to_date(col("ts")))).head().getDate(0).toLocalDate

  private def cciCols(df: DataFrame) =
    df.select(df.columns.sorted.map(col): _*)
      .orderBy(col("user_id"), col("d"))
      .collect()

  /** One-shot full recompute truncated at `lastDay` — the state the
    * incremental chain must be indistinguishable from. */
  private def oneShotCci(lastDay: java.sql.Date, dir: String = sf): DataFrame =
    CciPipeline.cciFromBars(
      CciPipeline.ohlcBars(spark, dir).filter(col("d") <= lit(lastDay)),
      GridConfig())

  private val CraftedUser = 1000000L

  /** The sf events plus one crafted series whose last bar, on `lastDay`,
    * is an order on which the sell-signal precedence and the `>=` of the
    * buy rule both decide. Each day's high and low are 14 and 6, so the
    * typical open price is exactly (20 + open) / 3. Over the last five bars
    * it is 11, 9, 11, 9, 10: the open CCI is exactly 0.0 today and below 0
    * yesterday. The closes step from ~10.5 down to 10.2, so the close CCI
    * is about -167, and a 10.2 buy rounds its 2% net target down to 10. */
  private def withCraftedSeries(lastDay: LocalDate): String = {
    import spark.implicits._
    val opens = Seq(10.0, 10.0, 10.0, 10.0, 10.0, 13.0, 7.0, 13.0, 7.0, 10.0)
    val closes = opens.indices.map(i => if (i == 9) 10.2 else if (i % 2 == 0) 10.5 else 10.6)
    val rows = for {
      i <- opens.indices
      ((hh, v), k) <- Seq("09" -> opens(i), "10" -> 14.0, "11" -> 6.0,
        "15" -> closes(i)).zipWithIndex
    } yield (CraftedUser * 100 + i * 4 + k, java.sql.Timestamp.from(
        java.time.Instant.parse(s"${lastDay.minusDays(9 - i)}T$hh:00:00Z")),
      CraftedUser, "px", v, "{}")
    val dir = java.nio.file.Files.createTempDirectory("graft-daily-crafted").toString
    Tables.events(spark, sf).unionByName(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("daily loop: ten incremental days == one-shot full recompute, bit-equal") {
    val ws = newWs()
    val conn = new LocalFileEventConnector(sf)
    val start = maxLd.minusDays(9)
    Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(start.minusDays(1)))
    val digs = Daily.run(spark, conn, ws, start, maxLd)
    assert(digs.nonEmpty, "no trading days in the window")
    val lastDay = digs.last.d

    val state = spark.read.parquet(ws.cciDir).drop("run_d")
    val want = cciCols(oneShotCci(lastDay))
    val got = cciCols(state)
    assert(got.length == want.length && got.nonEmpty)
    // bit-equality, not rounded: the incremental path folds the exact same
    // window content through the same rollingCci, so every double matches
    got.zip(want).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }

    // the digest is consistent with the state it committed
    assert(digs.last.n_cci_total == want.length)
    assert(digs.map(_.n_fetched).sum ==
      Tables.events(spark, sf)
        .filter(to_date(col("ts")) > lit(java.sql.Date.valueOf(start.minusDays(1))) &&
          to_date(col("ts")) <= lit(lastDay)).count(),
      "every event in the window fetched exactly once")
  }

  private lazy val lastTradingDay: LocalDate = Iterator.iterate(maxLd)(_.minusDays(1))
    .find(CciPipeline.isTradingDayLocal).get

  /** The r32 week: a bootstrap, then the trading days up to `maxLd`, the
    * last one in a call of its own. Returns the digests and the number of
    * classes Spark compiled during that last day. */
  private def r32Week(orders: Boolean, balance: Boolean): (Seq[Daily.DayDigest], Long) = {
    val conn = new LocalFileEventConnector(sf)
    val start = maxLd.minusDays(6)
    val cutoff = java.sql.Date.valueOf(start.minusDays(1))
    val ws = newWs()
    Daily.bootstrap(spark, conn, ws, cutoff)
    if (orders) Daily.writeConditions(spark, sf, ws)
    if (balance) Daily.seedBalance(spark, ws, cutoff)
    def days(from: LocalDate, to: LocalDate) =
      Daily.run(spark, conn, ws, from, to, withOrders = orders, withBalance = balance)
    val before = days(start, lastTradingDay.minusDays(1))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val last = days(lastTradingDay, maxLd)
    (before ++ last, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
  }

  /** The balance-fed (orders and balance) r32 week, run once for the two
    * cases that read it. */
  private lazy val balanceFedWeek = r32Week(orders = true, balance = true)

  test("r32 piggyback soundness: digests are bit-identical across sizing modes") {
    // r32's gated columns come from the fetch→bars→CCI→state chain BEFORE
    // the orders branch, so reading them off the shared balance-fed run
    // (Daily.sharedDailyRun) must be indistinguishable from an order-less
    // run — the claim that lets r32/r34/r36 share two orchestrations
    def chainCols(digs: Seq[Daily.DayDigest]) = digs.map(g => (g.d, g.n_fetched,
      g.n_cci_new, g.n_cci_total, g.n_series, g.n_buy_signals))
    val plain = chainCols(r32Week(orders = false, balance = false)._1)
    val balanceFed = chainCols(balanceFedWeek._1)
    assert(plain.nonEmpty)
    assert(plain == balanceFed,
      "order/balance branches must not leak into the r32 digest columns")
  }

  test("steady day: the last day of the r32 week compiles only its date-literal classes") {
    // A steady day reuses the classes of the days before it from Spark's
    // codegen cache; only the classes that embed the day's own dates (the
    // run day as a literal, the fetch's pushed-down ts bounds) are new,
    // each compiled under the driver's and the executor's class loader.
    // Measured: 12 here, against 155 when the cache held Spark's default
    // 100 entries and its 25-entry segments evicted the day's classes.
    // The margin leaves room for two more date-literal stages.
    val (measured, margin) = (12, 5)
    val (digs, compiles) = balanceFedWeek
    assert(digs.last.d.toLocalDate == lastTradingDay)
    assert(compiles <= measured + margin,
      s"the steady day compiled $compiles classes, over $measured + $margin")
    // the count means something only if the session carries the cache size
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("small-day gate: a delta-scale day runs AQE off at 4 partitions, then restores both") {
    // A day whose latest committed state partition is under 256 MB (a few
    // kB here) runs every query with AQE off and 4 shuffle partitions,
    // seen in the SQL confs each query's jobs carry; the session's own
    // values come back after the day. Partitions start at 7, not the test
    // session's 4, so neither the shrink nor the restore can pass by
    // coincidence. Every parquet read of the day (input tables, the
    // conditions table, workspace partitions) takes its schema from a
    // footer, so no job outside a query has a `parquet at` call site: a
    // schema inference would.
    val (aqeKey, partsKey) = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val conn = new LocalFileEventConnector(sf)
    val day = Iterator.iterate(maxLd.minusDays(6))(_.plusDays(1))
      .find(CciPipeline.isTradingDayLocal).get
    val ws = newWs()
    Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(day.minusDays(1)))
    Daily.writeConditions(spark, sf, ws)
    val sessionParts = spark.conf.get(partsKey)
    assert(spark.conf.get(aqeKey) == "true")
    spark.conf.set(partsKey, "7")
    val jobs = try Telemetry.record(spark) {
      // with orders, so the day also reads the conditions table
      Daily.runDay(spark, conn, ws, java.sql.Date.valueOf(day), withOrders = true)
      assert(spark.conf.get(aqeKey) == "true", "AQE not restored after the day")
      assert(spark.conf.get(partsKey) == "7", "shuffle partitions not restored after the day")
    }.jobs finally spark.conf.set(partsKey, sessionParts)
    val seen = jobs.map(j => (j.id, j.stageNames.size,
      j.property("spark.sql.execution.id")
        .map(_ => (j.properties.getProperty(aqeKey), j.properties.getProperty(partsKey)))))
    // a schema inference runs outside any query; the workspace writes
    // share its `parquet at` call site but are queries
    val callSites = jobs.filter(_.property("spark.sql.execution.id").isEmpty)
      .flatMap(_.stageNames)
    val (queries, others) = seen.partition(_._3.nonEmpty)
    assert(queries.nonEmpty, "the day ran no query")
    val off = queries.filterNot(_._3.contains(("false", "4")))
    assert(off.isEmpty, s"${off.size} of ${queries.size} query jobs ran outside the gate " +
      s"(job, stages, (AQE, partitions)): ${off.take(5).mkString(", ")}")
    assert(others.forall(_._2 == 1), s"a job outside any query shuffles: $others")
    val inferred = callSites.filter(_.startsWith("parquet at "))
    assert(inferred.isEmpty, s"parquet reads inferred their schema in a job: $inferred")
  }

  test("daily loop: crash rerun of a committed day is a state no-op") {
    val ws = newWs()
    val conn = new LocalFileEventConnector(sf)
    val start = maxLd.minusDays(6)
    Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(start.minusDays(1)))
    val digs = Daily.run(spark, conn, ws, start, maxLd)
    val lastDay = digs.last.d
    val before = cciCols(spark.read.parquet(ws.cciDir).drop("run_d"))

    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }

    // crash AFTER the state commit but BEFORE the digest commit: the
    // day's chain partitions are all committed, so the rerun RESUMES
    // from them — it must never touch the connector (enforced by the
    // throwing transport) and must rebuild the digest from the
    // committed chain alone
    deleteRec(new java.io.File(s"${ws.digestDir}/run_d=$lastDay"))
    val redo = Daily.runDay(spark, neverFetch, ws, lastDay)
    assert(redo.n_fetched == digs.last.n_fetched)
    assert(redo.n_cci_total == digs.last.n_cci_total)

    // crash BETWEEN the cci and state commits: the chain is incomplete,
    // so the rerun takes the FRESH path — state reads prune to
    // run_d < s, the same fetch window replays, and every write
    // deterministically overwrites identical partition content
    deleteRec(new java.io.File(s"${ws.digestDir}/run_d=$lastDay"))
    deleteRec(new java.io.File(s"${ws.stateDir}/run_d=$lastDay"))
    val redo2 = Daily.runDay(spark, conn, ws, lastDay)
    assert(redo2.n_fetched == digs.last.n_fetched)
    assert(redo2.n_cci_total == digs.last.n_cci_total)
    val after = cciCols(spark.read.parquet(ws.cciDir).drop("run_d"))
    assert(before.length == after.length)
    before.zip(after).foreach { case (a, b) => assert(a == b) }

    // restart resume: a second scheduler pass replays digests from disk
    // without changing anything
    val again = Daily.run(spark, conn, ws, start, maxLd)
    assert(again.map(d => (d.d, d.n_fetched, d.n_cci_total)) ==
      digs.map(d => (d.d, d.n_fetched, d.n_cci_total)))
  }

  test("r41 repair: late data for a committed day folds in and matches the never-truncated state") {
    val conn = new LocalFileEventConnector(sf)
    val start = maxLd.minusDays(6)
    val cutoff = java.sql.Date.valueOf(start.minusDays(1))
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(maxLd))
      .filter(CciPipeline.isTradingDayLocal).toSeq
    assume(days.length >= 2)
    val x = days(days.length - 2)

    // the outage week: day x's fetch loses every third event
    val ws = newWs()
    Daily.bootstrap(spark, conn, ws, cutoff)
    Daily.run(spark, new Daily.TruncatedConnector(conn, java.sql.Date.valueOf(x)),
      ws, start, maxLd)
    val want = cciCols(oneShotCci(java.sql.Date.valueOf(maxLd)))
    val wrong = cciCols(spark.read.parquet(ws.cciDir).drop("run_d"))
    assert(wrong.length != want.length ||
      wrong.zip(want).exists { case (a, b) => a != b },
      "the truncation must corrupt the state, or the repair test is vacuous")

    // the missing rows arrive; repair replays from the outage day and the
    // workspace becomes indistinguishable from a run that never lost data
    Daily.repair(spark, conn, ws, x, maxLd)
    val got = cciCols(spark.read.parquet(ws.cciDir).drop("run_d"))
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
  }

  test("the daily product runs over the DSv2 transport bit-identically") {
    val (apiId, _, _) = graft.sources.ParquetBackedPagedApi.ensure(spark, sf)
    val start = maxLd.minusDays(4)
    val cutoff = java.sql.Date.valueOf(start.minusDays(1))
    def week(conn: graft.sources.EventConnector): Array[org.apache.spark.sql.Row] = {
      val ws = newWs()
      Daily.bootstrap(spark, conn, ws, cutoff)
      Daily.run(spark, conn, ws, start, maxLd)
      cciCols(spark.read.parquet(ws.cciDir).drop("run_d"))
    }
    val viaFile = week(new LocalFileEventConnector(sf))
    val viaDsv2 = week(new graft.sources.Dsv2EventConnector(apiId))
    assert(viaFile.nonEmpty && viaDsv2.length == viaFile.length)
    viaDsv2.zip(viaFile).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
  }

  test("shared chain: a second sizing mode replays the week without touching the connector") {
    // sharedDailyRun's cost model: the fetch→bars→CCI→state chain is
    // mode-independent, so a second mode pointed at the first mode's
    // chainRoot must resolve its bootstrap AND every day to
    // committed-chain resumes — proven by running the whole second week
    // on a transport that throws on any use
    val conn = new LocalFileEventConnector(sf)
    val start = maxLd.minusDays(6)
    val cutoff = java.sql.Date.valueOf(start.minusDays(1))
    val chainWs = newWs()
    Daily.bootstrap(spark, conn, chainWs, cutoff)
    val digs = Daily.run(spark, conn, chainWs, start, maxLd)
    assert(digs.nonEmpty)

    val ws2 = Daily.Workspace(
      java.nio.file.Files.createTempDirectory("graft-daily-spec").toString,
      Some(chainWs.root))
    Daily.bootstrap(spark, neverFetch, ws2, cutoff) // committed chain: no-op
    Daily.writeConditions(spark, sf, ws2)
    val digs2 = Daily.run(spark, neverFetch, ws2, start, maxLd, withOrders = true)
    assert(digs2.map(g => (g.d, g.n_fetched, g.n_cci_new, g.n_cci_total,
      g.n_series, g.n_buy_signals)) ==
      digs.map(g => (g.d, g.n_fetched, g.n_cci_new, g.n_cci_total,
        g.n_series, g.n_buy_signals)),
      "chain digest columns must be identical when read off the shared chain")
    // the mode-owned outputs land under the second mode's OWN root
    assert(new java.io.File(ws2.positionsDir).exists,
      "the orders branch must still run for the resumed mode")
    assert(!new java.io.File(s"${chainWs.root}/positions").exists,
      "the chain workspace must not grow mode-owned outputs")
  }

  test("daily orders: final-day order table matches an independent one-shot r13 formulation") {
    val ws = newWs()
    val start = maxLd.minusDays(6)
    val dir = withCraftedSeries(lastTradingDay)
    val conn = new LocalFileEventConnector(dir)
    Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(start.minusDays(1)))
    Daily.writeConditions(spark, sf, ws)
    // the crafted series' strategy: buy on an open-CCI cross of 0, stop
    // at -100, 2% target; its other columns copy an sf condition row
    val conds = spark.read.parquet(ws.conditionsDir)
    spark.createDataFrame(
        java.util.Arrays.asList(conds.limit(1)
          .withColumn("user_id", lit(CraftedUser))
          .withColumn("condition_target_return", lit(2.0))
          .withColumn("condition_buy_cci_threshold", lit(0.0))
          .withColumn("condition_stop_loss_cci_threshold", lit(-100.0))
          .head()),
        conds.schema)
      .write.mode("append").parquet(ws.conditionsDir)
    val digs = Daily.run(spark, conn, ws, start, maxLd, withOrders = true)
    val lastDay = digs.last.d
    assert(lastDay.toLocalDate == lastTradingDay)

    // independent latest-state mechanism: lag window + row_number desc
    // (the daily path recovers it from idx position state instead)
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val wDesc = Window.partitionBy(col("user_id")).orderBy(col("d").desc)
    val latest = oneShotCci(lastDay, dir)
      .withColumn("yesterday_open_cci", lag(col("open_cci"), 1).over(w))
      .withColumn("rrn", row_number().over(wDesc))
      .filter(col("rrn") === 1)
      .select(col("user_id"), col("d").as("order_date"), col("close_pr"),
        col("close_cci"), col("open_cci").as("current_open_cci"),
        col("yesterday_open_cci"))
    val b = CciPipeline.Budget * CciPipeline.BudgetFraction
    val orderCols = Seq("user_id", "order_date", "buy_order_price", "buy_order_qty",
      "condition_holding_days", "condition_target_return",
      "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
      "win_rate", "revenue_rate", "net_target_price", "sell_signal").map(col)
    val expect = spark.read.parquet(ws.conditionsDir)
      .join(latest, Seq("user_id"))
      .filter(col("yesterday_open_cci") < col("condition_buy_cci_threshold") &&
        col("current_open_cci") >= col("condition_buy_cci_threshold"))
      .withColumn("buy_order_price", col("close_pr"))
      .withColumn("buy_order_qty", when(col("buy_order_price") =!= 0.0,
        floor(floor(lit(b)) / col("buy_order_price") + 0.5).cast("long")))
      .filter(col("buy_order_qty") >= 1)
      // whole-won target net of tax and fee, half up
      .withColumn("net_target_price", floor(col("buy_order_price") *
        (lit(1.0) + (col("condition_target_return") + CciPipeline.TaxRate +
          CciPipeline.FeeRate) / 100.0) + 0.5).cast("double"))
      .withColumn("sell_signal",
        when(col("close_pr") > col("net_target_price"), "reach_target")
          .when(col("close_cci") <= col("condition_stop_loss_cci_threshold"), "stop_loss")
          .otherwise("pending"))
      .select(orderCols: _*)
      .orderBy(col("user_id"))
      .collect()

    val got = spark.read.parquet(s"${ws.ordersDir}/run_d=$lastDay")
      .select(orderCols: _*)
      .orderBy(col("user_id"))
      .collect()
    assert(digs.last.n_orders == got.length)
    assert(got.length == expect.length)
    got.zip(expect).foreach { case (a, e) => assert(a == e, s"\n$a\n$e") }
    assert(got.exists(r => r.getAs[Long]("user_id") == CraftedUser &&
      r.getAs[String]("sell_signal") == "reach_target"),
      "the crafted crossover orders at 10.2 and reaches its target")
  }

  test("daily reads are ∝ delta: a day runs bit-identically with the ENTIRE bars+cci history deleted") {
    // the 100 TB claim, falsified directly: day N+1 must consume only the
    // previous day's state partition (dimension-scale) and its own fetched
    // delta — so physically removing every bars/ and cci/ history partition
    // must not change a single digest field or state byte. If any code path
    // regresses to scanning history (the round-9 shape), this test crashes
    // or diverges instead of silently paying O(corpus) per day.
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }
    val conn = new LocalFileEventConnector(sf)
    val start = maxLd.minusDays(6)
    def runSplit(gut: Boolean): (Seq[Daily.DayDigest], Array[org.apache.spark.sql.Row]) = {
      val ws = newWs()
      Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(start.minusDays(1)))
      val firstHalf = Daily.run(spark, conn, ws, start, maxLd.minusDays(3))
      if (gut) {
        deleteRec(new java.io.File(ws.barsDir))
        deleteRec(new java.io.File(ws.cciDir))
      }
      val rest = Daily.run(spark, conn, ws, maxLd.minusDays(2), maxLd)
      val state = spark.read.parquet(
        s"${ws.stateDir}/run_d=${rest.last.d}")
      (firstHalf ++ rest,
        state.select(Seq("user_id", "watermark_d", "n_rows", "close_pr",
            "close_cci", "current_open_cci", "yesterday_open_cci").map(col): _*)
          .orderBy(col("user_id")).collect())
    }
    val (digsGut, stateGut) = runSplit(gut = true)
    val (digsFull, stateFull) = runSplit(gut = false)
    assert(digsGut == digsFull)
    assert(stateGut.length == stateFull.length && stateGut.nonEmpty)
    stateGut.zip(stateFull).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
  }

  test("r34 position carry: a lot opened on day 2 closes on day 4 by each of target / stop / maturity") {
    // Three crafted single-event-per-day series over a known trading week
    // (2024-03-04 Mon .. 03-08 Fri, no holiday-rule hits). Each declines
    // through history (CCI < 0), jumps on day 2 (Mar 5: CCI crosses 0 →
    // fresh buy at close 120), then:
    //   user 1 → 120, 135:  135 > net target (floor(120·1.0200187+.5)=122)  → reach_target on day 4
    //   user 2 → 118, 50:   crash CCI ≈ −167 ≤ stop −100                    → stop_loss on day 4
    //   user 3 → 120, 120:  flat; holding_days=2 → maturity = Mar 5 + 2     → maturity on day 4
    import java.time.Instant
    import spark.implicits._
    val histDays = Seq("02-19", "02-20", "02-21", "02-22", "02-23",
      "02-26", "02-27", "02-28", "02-29", "03-01", "03-04")
    val histVals = (0 until 11).map(110.0 - _) // 110 .. 100, declining
    val tails = Map(
      1L -> Seq("03-05" -> 120.0, "03-06" -> 120.0, "03-07" -> 135.0),
      2L -> Seq("03-05" -> 120.0, "03-06" -> 118.0, "03-07" -> 50.0),
      3L -> Seq("03-05" -> 120.0, "03-06" -> 120.0, "03-07" -> 120.0))
    val rows = for {
      u <- Seq(1L, 2L, 3L)
      ((md, v), i) <- (histDays.zip(histVals) ++ tails(u)).zipWithIndex
    } yield (u * 1000 + i, java.sql.Timestamp.from(
        Instant.parse(s"2024-$md" + "T12:00:00Z")), u, "px", v, "{}")
    val srcDir = newWs().root // reuse the temp-dir helper as a source dir
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$srcDir/events.parquet")

    val ws = newWs()
    val conn = new LocalFileEventConnector(srcDir)
    Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf("2024-03-01"))
    Seq((1L, 0.0, 5, 2.0, -150.0, 1.0, 1.0),
        (2L, 0.0, 5, 50.0, -100.0, 1.0, 1.0),
        (3L, 0.0, 2, 50.0, -150.0, 1.0, 1.0))
      .toDF("user_id", "condition_buy_cci_threshold", "condition_holding_days",
        "condition_target_return", "condition_stop_loss_cci_threshold",
        "win_rate", "revenue_rate")
      .write.parquet(ws.conditionsDir)
    val digs = Daily.run(spark, conn, ws,
      java.time.LocalDate.parse("2024-03-04"),
      java.time.LocalDate.parse("2024-03-08"), withOrders = true)

    val byDay = digs.map(d => d.d.toString -> d).toMap
    assert(byDay("2024-03-04").n_orders == 0, "no crossover before the jump")
    assert(byDay("2024-03-05").n_positions == 3, "all three lots open on day 2")
    assert(byDay("2024-03-06").n_sells == 0, "nothing fires on day 3")
    assert(byDay("2024-03-07").n_sells == 3, "all three lots close on day 4")
    assert(byDay("2024-03-07").n_positions == 0)
    assert(byDay("2024-03-08").n_sells == 0 && byDay("2024-03-08").n_positions == 0,
      "closed lots stay closed")

    val sells = spark.read.parquet(ws.sellsDir)
      .select(col("user_id"), col("buy_d"), col("buy_price"), col("sell_d"),
        col("sell_price"), col("trade_result"))
      .orderBy(col("user_id")).collect()
    assert(sells.length == 3)
    val d5 = java.sql.Date.valueOf("2024-03-05")
    val d7 = java.sql.Date.valueOf("2024-03-07")
    assert(sells(0).toSeq == Seq(1L, d5, 120.0, d7, 135.0, "reach_target"))
    assert(sells(1).toSeq == Seq(2L, d5, 120.0, d7, 50.0, "stop_loss"))
    assert(sells(2).toSeq == Seq(3L, d5, 120.0, d7, 120.0, "maturity"))

    // crash rerun of the SELL day: delete its digest (the commit marker)
    // and rerun — the position carry must re-read Mar 6's committed
    // positions, re-fire the same three sells, and leave every byte of
    // the day's sells/positions partitions identical
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }
    deleteRec(new java.io.File(s"${ws.digestDir}/run_d=$d7"))
    val redo = Daily.runDay(spark, conn, ws, d7, withOrders = true)
    assert(redo.n_sells == 3 && redo.n_positions == 0)
    val sellsAfter = spark.read.parquet(ws.sellsDir)
      .select(col("user_id"), col("buy_d"), col("buy_price"), col("sell_d"),
        col("sell_price"), col("trade_result"))
      .orderBy(col("user_id")).collect()
    assert(sellsAfter.toSeq == sells.toSeq, "sell rerun must be a no-op")
  }

  test("bootstrap state carries the (current, yesterday) pair at every legal window width") {
    // regression: the ctx filter `idx > mi - (cciN-1)` excluded the
    // idx == mi-1 row at cciN = 2 (yesterday_open_cci silently always
    // null -> missed crossovers on the first incremental day) and kept
    // ZERO rows at cciN = 1 (empty state table). The filter now keeps at
    // least the last two rows regardless of window width.
    val conn = new LocalFileEventConnector(sf)
    val cutoff = java.sql.Date.valueOf(maxLd)
    for (n <- Seq(2, 3, 5)) {
      val cfg = GridConfig(cciN = n)
      val ws = newWs()
      Daily.bootstrap(spark, conn, ws, cutoff, cfg)
      val state = spark.read.parquet(s"${ws.stateDir}/run_d=$cutoff")
        .select(col("user_id"), col("watermark_d"), col("current_open_cci"),
          col("yesterday_open_cci"))
        .orderBy(col("user_id")).collect()
      // independent formulation: lag window + row_number desc over the
      // one-shot CCI at the same width
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      val wDesc = Window.partitionBy(col("user_id")).orderBy(col("d").desc)
      val expect = CciPipeline.cciFromBars(
          CciPipeline.ohlcBars(spark, sf).filter(col("d") <= lit(cutoff)), cfg)
        .withColumn("prev", lag(col("open_cci"), 1).over(w))
        .withColumn("rrn", row_number().over(wDesc))
        .filter(col("rrn") === 1)
        .select(col("user_id"), col("d"), col("open_cci"), col("prev"))
        .orderBy(col("user_id")).collect()
      assert(state.length == expect.length && state.nonEmpty, s"cciN=$n")
      state.zip(expect).foreach { case (g, e) =>
        assert(g.getLong(0) == e.getLong(0), s"cciN=$n")
        assert(g.getDate(1) == e.getDate(1), s"cciN=$n watermark")
        assert(Option(g.get(2)) == Option(e.get(2)), s"cciN=$n current")
        assert(Option(g.get(3)) == Option(e.get(3)),
          s"cciN=$n yesterday for user ${g.getLong(0)}: got ${g.get(3)}, want ${e.get(3)}")
      }
    }
  }

  test("daily state reads prune on the run_d partition column") {
    // the workspace layout must keep producing hive-style partitions: if a
    // write regression flattened run_d into file contents, every state
    // read would silently scan all days' files — invisible to the oracle,
    // fatal at scale (this is the daily loop's r16/r19 analogue)
    val ws = newWs()
    val conn = new LocalFileEventConnector(sf)
    val start = maxLd.minusDays(3)
    Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(start.minusDays(1)))
    Daily.run(spark, conn, ws, start, maxLd)
    val probe = spark.read.parquet(ws.cciDir)
      .filter(col("run_d") < lit(java.sql.Date.valueOf(maxLd)))
    val txt = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = txt.linesIterator.find(_.trim.startsWith("PartitionFilters:"))
      .getOrElse(fail(s"no PartitionFilters line in:\n$txt"))
    assert(pf.contains("run_d"), pf)
    // and the data filters line must NOT carry it (it never reaches rows)
    assert(!txt.linesIterator.filter(_.trim.startsWith("PushedFilters:"))
      .exists(_.contains("run_d")), txt)
  }

  test("trading-day rule: driver-side scalar twin agrees with the column form") {
    val span = Tables.events(spark, sf)
      .agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx")).head()
    val (mn, mx) = (span.getDate(0).toLocalDate, span.getDate(1).toLocalDate)
    val days = Iterator.iterate(mn.minusDays(30))(_.plusDays(1))
      .takeWhile(!_.isAfter(mx.plusDays(30))).toSeq
    import spark.implicits._
    val fromCol = days.map(d => java.sql.Date.valueOf(d)).toDF("d")
      .select(col("d"), CciPipeline.isTradingDay(col("d")).as("t"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getBoolean(1)).toMap
    days.foreach { d =>
      assert(CciPipeline.isTradingDayLocal(d) == fromCol(d), s"fork at $d")
    }
  }
}
