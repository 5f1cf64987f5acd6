package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CciPipeline
import graft.sources.{Dsv2EventConnector, LocalFileEventConnector, Tables}

/** The connector seam's resume invariant: rows already "saved" (before the
  * watermark) plus rows the connector fetches must partition the corpus —
  * no gap, no overlap. This is the property a real broker transport has to
  * preserve and the one the r31 oracle can't state directly (it only sees
  * the fetched side). */
class ConnectorSpec extends AnyFunSuite {
  import TestSpark._
  import TestSpark.spark.implicits._

  test("r31: saved + fetched partitions the events corpus exactly") {
    val wm = CciPipeline.fetchWatermark(spark, sf)
    val requests = wm.filter($"fetch_needed")
      .select($"user_id", $"fetch_start", $"fetch_end")
    val fetched = new LocalFileEventConnector(sf).fetch(spark, requests)
      .select($"event_id")
    val ev = Tables.events(spark, sf).withColumn("d", to_date($"ts"))
    // saved side: every (user, day) at or before that user's watermark
    val saved = ev.join(wm.select($"user_id", $"saved_max_date"), Seq("user_id"))
      .filter($"saved_max_date".isNotNull && $"d" <= $"saved_max_date")
      .select($"event_id")
    val total = ev.count()
    assert(fetched.count() + saved.count() == total, "gap or overlap at the watermark")
    assert(fetched.intersect(saved).count() == 0, "fetched a row already saved")
    assert(fetched.union(saved).distinct().count() == total)
  }

  test("r31: fetch honors the request batch — keys and date bounds") {
    // derive the probe key and window from the data (the driver regenerates
    // testdata between rounds; hardcoded literals would break spuriously):
    // the busiest user, with a window that excludes its first and last day,
    // so 0 < fetched < all is guaranteed by construction
    val ev = Tables.events(spark, sf).withColumn("d", to_date($"ts"))
    val probe = ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), countDistinct($"d").as("nd"))
      .filter($"nd" >= 3).orderBy($"n".desc, $"user_id").head()
    val uid = probe.getLong(0)
    val days = ev.filter($"user_id" === uid).select($"d").distinct()
      .orderBy($"d").collect().map(_.getDate(0))
    val (fs, fe) = (days(1), days(days.length - 2))
    val requests = Seq((uid, fs, fe)).toDF("user_id", "fetch_start", "fetch_end")
    val got = new LocalFileEventConnector(sf).fetch(spark, requests)
    assert(got.filter($"user_id" =!= uid).count() == 0)
    assert(got.filter($"d" < fs || $"d" > fe).count() == 0)
    // and the range actually selects a strict subset, not everything
    val all = ev.filter($"user_id" === uid).count()
    assert(got.count() > 0 && got.count() < all)
  }

  // ---------------------------------------------------------------- paged transport

  /** Corpus snapshot as the fake server's database: per-key rows sorted by
    * (ts, event_id) — the deterministic page order. */
  private lazy val apiData: Map[Long, Vector[graft.sources.ApiEventRow]] =
    Tables.events(spark, sf)
      .select($"event_id", unix_micros($"ts").as("ts_micros"), $"user_id",
        $"event_type", $"value", $"props")
      .collect()
      .map(r => graft.sources.ApiEventRow(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
      .groupBy(_.user_id)
      .view.mapValues(_.sortBy(r => (r.ts_micros, r.event_id)).toVector).toMap

  private def watermarkRequests = CciPipeline.fetchWatermark(spark, sf)
    .filter($"fetch_needed")
    .select($"user_id", $"fetch_start", $"fetch_end")

  private def sortedRows(df: org.apache.spark.sql.DataFrame) = df
    .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props", $"d")
    .orderBy($"event_id").collect()

  /** The paged transport is the DSv2 source behind [[Dsv2EventConnector]]:
    * register the fake API under a fresh id and connect to it. Production
    * default backoff is 500 ms (a real rate-limiting API wants real
    * sleeps); these specs inject faults aggressively, so they pass the
    * 1 ms test backoff explicitly to stay fast. */
  private def paged(api: FakePagedApi, maxRetries: Int = 5) = {
    val id = s"connector-spec-${java.util.UUID.randomUUID()}"
    graft.sources.v2.GraftEventSource.registerApi(id, api)
    new Dsv2EventConnector(id, maxRetries, backoffMs = 1L)
  }

  test("paged transport slots into the r31 seam: output equals the local-file transport") {
    FakePagedApi.register("clean", apiData)
    val pagedConn = paged(new FakePagedApi("clean", pageSize = 7))
    val a = sortedRows(pagedConn.fetch(spark, watermarkRequests))
    val b = sortedRows(new LocalFileEventConnector(sf).fetch(spark, watermarkRequests))
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\n$x\n$y") }
    // pageSize 7 forced real tr_cont paging, not one-shot fetches
    assert(FakePagedApi.stats("clean").pageCalls.get() > apiData.size)
  }

  test("paged transport fetches on executors with per-partition API sessions") {
    FakePagedApi.register("exec", apiData)
    val pagedConn = paged(new FakePagedApi("exec", pageSize = 50))
    pagedConn.fetch(spark, watermarkRequests).count()
    val s = FakePagedApi.stats("exec")
    assert(s.driverPageCalls.get() == 0, "fetchPage must never run on the driver")
    assert(s.partitionsSeen.size() > 1, "fetch parallelism collapsed to one partition")
    // one token per partition-connection, not per key and not one global
    assert(s.tokensIssued.get() >= s.partitionsSeen.size())
  }

  test("paged transport: transient faults retry the page — identical output, no duplicates") {
    FakePagedApi.register("clean2", apiData)
    FakePagedApi.register("faulty", apiData)
    val want = sortedRows(paged(
      new FakePagedApi("clean2", pageSize = 7)).fetch(spark, watermarkRequests))
    val got = sortedRows(paged(
      new FakePagedApi("faulty", pageSize = 7, failEveryNthPage = 3))
      .fetch(spark, watermarkRequests))
    val s = FakePagedApi.stats("faulty")
    assert(s.transientFailures.get() > 0, "fault injection never fired")
    assert(got.length == want.length)
    got.zip(want).foreach { case (x, y) => assert(x == y) }
  }

  test("paged transport: token expiry mid-stream re-issues and resumes the page") {
    FakePagedApi.register("ttl", apiData)
    val api = new FakePagedApi("ttl", pageSize = 7, tokenTtlCalls = 5)
    val got = sortedRows(paged(api).fetch(spark, watermarkRequests))
    val clean = sortedRows(new LocalFileEventConnector(sf).fetch(spark, watermarkRequests))
    val s = FakePagedApi.stats("ttl")
    assert(s.tokenExpiries.get() > 0, "ttl never tripped")
    assert(s.tokensIssued.get() > s.partitionsSeen.size(), "no token was re-issued")
    assert(got.length == clean.length)
    got.zip(clean).foreach { case (x, y) => assert(x == y) }
  }

  test("paged transport: a key that always fails exhausts the retry budget loudly") {
    val poison = apiData.keys.min
    FakePagedApi.register("poison", apiData)
    val api = new FakePagedApi("poison", pageSize = 7, poisonKey = Some(poison))
    val conn = paged(api, maxRetries = 3)
    val e = intercept[Exception] {
      conn.fetch(spark, watermarkRequests).count()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[graft.sources.TransientApiError]),
      s"expected TransientApiError in ${chain(e).map(_.getClass.getName)}")
    assert(FakePagedApi.stats("poison").pageAttempts.values().stream()
      .mapToInt(_.get()).max().getAsInt == 3, "retry budget not honored")
  }

  test("paged transport: token-endpoint 5xx consumes the retry budget, then succeeds") {
    FakePagedApi.register("tok5xx", apiData)
    // the token ENDPOINT fails twice before working — the reference's
    // _request retry case on issue_access_token; must not kill the task
    val api = new FakePagedApi("tok5xx", pageSize = 50, failFirstTokenIssues = 2)
    val got = sortedRows(paged(api).fetch(spark, watermarkRequests))
    val clean = sortedRows(new LocalFileEventConnector(sf).fetch(spark, watermarkRequests))
    assert(FakePagedApi.stats("tok5xx").transientFailures.get() >= 2)
    assert(got.length == clean.length)
    got.zip(clean).foreach { case (x, y) => assert(x == y) }
  }

  test("paged transport: permanently revoked credentials fail loudly, not a hot spin") {
    FakePagedApi.register("revoked", apiData)
    val api = new FakePagedApi("revoked", pageSize = 50, alwaysExpire = true)
    val conn = paged(api, maxRetries = 3)
    val e = intercept[Exception] {
      conn.fetch(spark, watermarkRequests).count()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[graft.sources.TokenExpiredError]),
      s"expected TokenExpiredError in ${chain(e).map(_.getClass.getName)}")
  }

  test("the daily loop composes end-to-end over a FLAKY paged transport — state identical to the local-file run") {
    // the whole product: scheduler loop + watermark + paged fetch with
    // injected faults (transient 500s + token expiries) + incremental CCI
    // over a persisted workspace — must land byte-identical state to the
    // clean local-file transport
    FakePagedApi.register("dailyflaky", apiData)
    val flaky = paged(new FakePagedApi("dailyflaky",
      pageSize = 13, failEveryNthPage = 4, tokenTtlCalls = 9))
    val maxLd = Tables.events(spark, sf)
      .agg(max(to_date($"ts"))).head().getDate(0).toLocalDate
    val start = maxLd.minusDays(4)
    def runWith(conn: graft.sources.EventConnector) = {
      val ws = Daily.Workspace(
        java.nio.file.Files.createTempDirectory("graft-daily-conn").toString)
      Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(start.minusDays(1)))
      val digs = Daily.run(spark, conn, ws, start, maxLd)
      val state = spark.read.parquet(s"${ws.cciDir}").drop("run_d")
      (digs, state.select(state.columns.sorted.map(col): _*)
        .orderBy($"user_id", $"d").collect())
    }
    val (digsA, a) = runWith(flaky)
    val (digsB, b) = runWith(new LocalFileEventConnector(sf))
    assert(FakePagedApi.stats("dailyflaky").transientFailures.get() > 0,
      "fault injection never fired during the daily loop")
    assert(digsA.map(d => (d.d, d.n_fetched, d.n_cci_total, d.n_buy_signals)) ==
      digsB.map(d => (d.d, d.n_fetched, d.n_cci_total, d.n_buy_signals)))
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\n$x\n$y") }
  }

  test("the BALANCE-carrying daily product is transport-fault-invariant — trajectory byte-identical") {
    // r36 on top of the flaky transport: the whole product INCLUDING the
    // balance feedback (sizing reads the settlement snapshot, buys debit,
    // sells credit) must land the identical cash trajectory whether the
    // feed arrived cleanly or through injected 500s and token expiries —
    // a retry that double-fetched or dropped a page would move a lot's
    // qty and cascade through every later day's balance
    FakePagedApi.register("dailyflakybal", apiData)
    val flaky = paged(new FakePagedApi("dailyflakybal",
      pageSize = 11, failEveryNthPage = 3, tokenTtlCalls = 7))
    val maxLd = Tables.events(spark, sf)
      .agg(max(to_date($"ts"))).head().getDate(0).toLocalDate
    val start = maxLd.minusDays(4)
    val cutoff = java.sql.Date.valueOf(start.minusDays(1))
    def runWith(conn: graft.sources.EventConnector) = {
      val ws = Daily.Workspace(
        java.nio.file.Files.createTempDirectory("graft-daily-connbal").toString)
      Daily.bootstrap(spark, conn, ws, cutoff)
      Daily.writeConditions(spark, sf, ws)
      Daily.seedBalance(spark, ws, cutoff)
      val digs = Daily.run(spark, conn, ws, start, maxLd,
        withOrders = true, withBalance = true)
      val bal = spark.read.parquet(ws.balanceDir)
        .select($"d", $"bal_start_cents", $"buy_cost_cents",
          $"sell_proceeds_cents", $"bal_end_cents")
        .orderBy($"d").collect().toSeq
      (digs, bal)
    }
    val (digsA, balA) = runWith(flaky)
    val (digsB, balB) = runWith(new LocalFileEventConnector(sf))
    assert(FakePagedApi.stats("dailyflakybal").transientFailures.get() > 0,
      "fault injection never fired during the balance run")
    assert(digsA.map(d => (d.d, d.n_fetched, d.n_orders, d.n_sells, d.n_positions)) ==
      digsB.map(d => (d.d, d.n_fetched, d.n_orders, d.n_sells, d.n_positions)))
    assert(balA.nonEmpty && balA == balB,
      s"balance trajectories diverged:\n$balA\n$balB")
  }

  test("paged transport: driver-side token + symbol-list 5xx are absorbed, not fatal") {
    // the daily run's FIRST call is listKeys on the scheduler side — the
    // same transient fault class the page fetch absorbs must not kill it
    FakePagedApi.register("keys5xx", apiData)
    val api = new FakePagedApi("keys5xx", pageSize = 50,
      failFirstTokenIssues = 2, failFirstListKeys = 2)
    val asOf = Tables.events(spark, sf).agg(max(to_date($"ts"))).head().getDate(0)
    val got = paged(api).listKeys(spark, asOf).orderBy($"user_id").collect().map(_.getLong(0))
    val want = new LocalFileEventConnector(sf).listKeys(spark, asOf)
      .orderBy($"user_id").collect().map(_.getLong(0))
    assert(FakePagedApi.stats("keys5xx").transientFailures.get() >= 4,
      "fault injection never fired on the control endpoints")
    assert(got.sameElements(want))
  }

  test("paged transport: listKeys matches the corpus universe as of a date") {
    FakePagedApi.register("keys", apiData)
    val pagedConn = paged(new FakePagedApi("keys", pageSize = 50))
    val asOf = Tables.events(spark, sf).agg(max(to_date($"ts"))).head().getDate(0)
    val got = pagedConn.listKeys(spark, asOf).orderBy($"user_id").collect().map(_.getLong(0))
    val want = new LocalFileEventConnector(sf).listKeys(spark, asOf)
      .orderBy($"user_id").collect().map(_.getLong(0))
    assert(got.sameElements(want))
  }
}
