package graft

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CciPipeline
import graft.operators.CciPipeline.{Budget, BudgetFraction, BuyThresholds, FeeRate, GridConfig, TaxRate}
import graft.plans.ScaleGate
import graft.sources.{EventConnector, LocalFileEventConnector, Tables}

/** The daily orchestrated run — the reference's actual *product*
  * (app.py:49 `execute_pipeline` + :93 `setup_scheduler`): a scheduled job
  * that, once per trading day, resumes from saved state, fetches the delta
  * from the broker API, upserts the price series, recomputes indicators
  * incrementally, detects signals, places orders, and records a run digest.
  * Every stage exists as an oracle-gated operator (r21 watermark, r31
  * connector fetch, r02/r03 bars upsert, r30 incremental CCI, r05/r09
  * signals/recommendations, r13 orders, r22 holiday gate, r23 digest); this
  * object composes them over a persisted workspace, day after day; its
  * order step is r13's own [[CciPipeline.orderRows]] over the state rows.
  *
  * == Workspace layout (append-only, partitioned by run day) ==
  * {{{
  *   <root>/bars/run_d=<day>/    one partition per run: that day's new bars
  *   <root>/cci/run_d=<day>/     that day's recomputed CCI rows (delta only)
  *   <root>/state/run_d=<day>/   per-series resume state as of that day —
  *                               ONE row per series (watermark, idx position,
  *                               last N−1 context bars, latest CCI pair)
  *   <root>/orders/run_d=<day>/  that day's sized buy orders
  *   <root>/digest/run_d=<day>/  one-row run digest — written LAST, so its
  *                               _SUCCESS marker is the day's commit record
  *   <root>/conditions/          best-strategy dim consumed by the order step
  * }}}
  *
  * == Why this shape scales ==
  *  - **Writes ∝ delta.** CCI base rows never change when bars are appended
  *    after them (trailing windows), so the bars/cci tables are APPEND-ONLY:
  *    a day writes only its delta partition, never rewrites the corpus —
  *    at 100 TB the daily job's I/O tracks the day's arrivals.
  *  - **Reads ∝ series count, NOT history.** The round-9 version re-derived
  *    the watermark, the window context and the digest totals from the FULL
  *    bars+cci history every day (~3 corpus scans per day — the O(corpus)
  *    daily bill at 100 TB). Now a day reads exactly (a) the previous day's
  *    `state/` partition — one dimension-scale row per series carrying the
  *    watermark date, the `idx` position, the last N−1 context bars and the
  *    latest (current, yesterday) open-CCI pair — and (b) the day's fetched
  *    delta. The history tables are write-only in steady state (audit /
  *    rebuild / downstream analytics read them; the loop itself never
  *    does — spec-gated by running a day with the history DELETED). This is
  *    the reference's own design: it keeps a saved per-symbol watermark
  *    table (daily_function.py:293-341) rather than re-deriving from
  *    history.
  *  - **Reads prune.** State reads select exactly one committed `run_d=`
  *    partition, so a rerun of day N never sees a crashed day-N partial.
  *  - **Idempotent reruns.** Each day overwrites exactly its own `run_d=`
  *    partitions. A rerun of day `s` resumes from day `s-1`'s committed
  *    state, so it re-fetches the SAME `(watermark, s]` window and every
  *    write deterministically overwrites the identical partition content
  *    (spec-pinned by the crash-rerun cases) — idempotence comes from
  *    deterministic replay of the day, not from an empty fetch. The
  *    digest partition doubles as the commit marker: [[run]] skips days
  *    committed FOR THE REQUESTED MODE ([[digestCommitted]] also demands
  *    the positions/balance markers when those flags are on), so a
  *    restarted schedule resumes where it crashed. (A transactional table
  *    format would make the multi-table day commit atomic; the ordering —
  *    bars, cci, state, orders, digest last — bounds the damage to "rerun
  *    the day".) A rerun whose day has ALL THREE chain partitions
  *    committed goes further: it resumes from them without touching the
  *    connector at all (committed chain partitions are authoritative
  *    under the determinism contract above) — which is also what lets
  *    two sizing modes share one chain ([[sharedDailyRun]]).
  *  - **No driver data.** The loop is driver-side *control* flow only (one
  *    iteration per day, like the reference's scheduler); every data step is
  *    a distributed plan over dimension- or delta-scale frames.
  *
  * The whole-chain equality gate: after running N days incrementally, the
  * CCI state must equal the one-shot full recompute over the same events —
  * spec-asserted in DailyRunSpec, and driver-gated through [[dailyRunQuery]]
  * (r32), whose DuckDB oracle recomputes every day's digest from scratch.
  */
object Daily {

  /** Paths of one persisted daily-run workspace. The mode-independent
    * CHAIN tables (bars/cci/state — everything upstream of the orders
    * branch) can live under a shared `chainRoot` so two sizing modes over
    * the same feed maintain ONE chain ([[sharedDailyRun]]); mode-owned
    * outputs (orders, positions, sells, balance, digest) stay under
    * `root`. */
  final case class Workspace(root: String, chainRoot: Option[String] = None) {
    private def chain: String = chainRoot.getOrElse(root)
    def barsDir: String = s"$chain/bars"
    def cciDir: String = s"$chain/cci"
    def stateDir: String = s"$chain/state"
    def ordersDir: String = s"$root/orders"
    def positionsDir: String = s"$root/positions"
    def sellsDir: String = s"$root/sells"
    def balanceDir: String = s"$root/balance"
    def digestDir: String = s"$root/digest"
    def conditionsDir: String = s"$root/conditions"
  }

  /** Seed cash and the full-budget sizing threshold, in integer cents —
    * the reference's literal 1,000,000-won balance checks
    * (daily_function.py:1466-1474; KRW has no decimals, cents are the
    * engine's exact-money convention, SURVEY §6). */
  val InitialBalanceCents: Long = (Budget * 100.0).toLong

  /** r36's order size for [[CciPipeline.orderRows]], read off the
    * `bal_cents` snapshot column (daily_function.py:1466-1474): >= 1M won
    * sizes a 10% slice per order; a smaller positive balance places
    * minimum qty-1 orders; a non-positive snapshot places nothing (the
    * broker's insufficient-funds rejection, made deterministic). */
  private[graft] val balanceQty: Column =
    when(col("buy_order_price") =!= 0.0,
      when(col("bal_cents") >= InitialBalanceCents,
        floor(floor(col("bal_cents") / 1000.0) / col("buy_order_price") + 0.5))
        .when(col("bal_cents") > 0, lit(1.0))
        .otherwise(lit(0.0)))
      .cast("long")

  /** One row per executed run day — the r23 digest, per day. */
  final case class DayDigest(
      d: java.sql.Date,
      n_fetched: Long,
      n_bars_new: Long,
      n_cci_new: Long,
      n_cci_total: Long,
      n_series: Long,
      n_buy_signals: Long,
      n_orders: Long,
      n_sells: Long,
      n_positions: Long)

  private def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dir)

  /** One `<key>=<value>` partition directory of a workspace table, and
    * whether its `_SUCCESS` marker exists (a torn write has none). */
  private[graft] final case class RunPartition(value: String, path: Path,
      committed: Boolean) {
    def day: java.sql.Date = java.sql.Date.valueOf(value)
  }

  /** The `<key>=` partitions of `dir` (none when `dir` does not exist) —
    * one filesystem metadata listing plus one marker probe per partition.
    * The one partition lister of the daily workspace (`run_d=`) and the
    * v12 stream workspace (`run_b=`). */
  private[graft] def runPartitions(spark: SparkSession, dir: String,
      key: String = "run_d"): Seq[RunPartition] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"$key="))
      .map(c => RunPartition(c.getName.stripPrefix(s"$key="), c,
        fs.exists(new Path(c, "_SUCCESS"))))
  }

  /** The newest COMMITTED `run_d=` partition of `dir` strictly before `s`.
    * A crashed day-`s` attempt may have left its own partial `run_d=s`
    * partition; the strict bound skips it, and the `_SUCCESS` marker skips
    * any earlier torn write. */
  private def latestCommittedPart(spark: SparkSession, dir: String,
      s: java.sql.Date): Option[RunPartition] = {
    val before = runPartitions(spark, dir).filter(c => c.committed && c.day.before(s))
    if (before.isEmpty) None else Some(before.maxBy(_.day.getTime))
  }

  /** [[latestCommittedPart]] read back — exactly one partition
    * (dimension-scale). */
  private def latestCommitted(spark: SparkSession, dir: String,
      s: java.sql.Date): Option[DataFrame] =
    latestCommittedPart(spark, dir, s).map(c => readPartition(spark, s"$dir/run_d=${c.value}"))

  /** One workspace partition read back under its footer schema
    * ([[Tables.readParquet]]) — a driver metadata read, where a bare
    * `spark.read.parquet` runs a schema-inference job per read. */
  private def readPartition(spark: SparkSession, dir: String): DataFrame =
    Tables.readParquet(spark, dir)

  /** Bootstrap the workspace from the connector: one bulk fetch of
    * everything up to and including `cutoff` (the reference's initial
    * backfill), bars + full CCI + the initial per-series state dimension
    * written as the `run_d=cutoff` partitions. The one deliberate
    * O(history) pass — every subsequent day resumes from `state/`. */
  def bootstrap(spark: SparkSession, conn: EventConnector, ws: Workspace,
      cutoff: java.sql.Date, cfg: GridConfig = GridConfig()): Unit = {
    import spark.implicits._
    // a committed chain (a crashed-and-rerun bootstrap, or a second
    // sizing mode over a shared chainRoot) is authoritative: skip the
    // backfill fetch entirely
    if (chainCommitted(spark, ws, cutoff)) return
    spark.sparkContext.setJobGroup("graft-bootstrap",
      s"daily bootstrap through $cutoff", interruptOnCancel = false)
    try bootstrapBody(spark, conn, ws, cutoff, cfg)
    finally spark.sparkContext.clearJobGroup()
  }

  private def bootstrapBody(spark: SparkSession, conn: EventConnector,
      ws: Workspace, cutoff: java.sql.Date, cfg: GridConfig): Unit = {
    import spark.implicits._
    val requests = conn.listKeys(spark, cutoff).select($"user_id",
      lit(CciPipeline.DefaultFetchStart).cast("date").as("fetch_start"),
      lit(cutoff).as("fetch_end"))
    val bars = GraftSession.maybeCache(
      CciPipeline.barsFromEvents(conn.fetch(spark, requests)))
    try {
      require(bars.limit(1).count() > 0,
        s"daily bootstrap: no events on or before $cutoff — nothing to resume from")
      overwrite(bars, s"${ws.barsDir}/run_d=$cutoff")
      val cciFull = GraftSession.maybeCache(CciPipeline.cciFromBars(bars, cfg))
      try {
        overwrite(cciFull, s"${ws.cciDir}/run_d=$cutoff")
        overwrite(CciPipeline.stateFromCci(cciFull, cfg), s"${ws.stateDir}/run_d=$cutoff")
      } finally cciFull.unpersist()
    } finally bars.unpersist()
  }

  /** Persist the best-strategy dimension the order step consumes (the
    * reference's stored strategy table, refreshed on its own cadence by the
    * r06–r08 grid sim — daily runs read it, they don't rebuild it). */
  def writeConditions(spark: SparkSession, dir: String, ws: Workspace): Unit =
    overwrite(CciPipeline.bestWinFrame(spark, dir).drop("investment_target"),
      ws.conditionsDir)

  /** The day's mode-dependent TAIL — the digest stats actions, the
    * orders / positions / balance branch, and the digest commit — over
    * the day's three chain frames, which either path (fresh compute or
    * committed-chain resume) supplies already materialized. */
  private def finishDay(spark: SparkSession, ws: Workspace, s: java.sql.Date,
      cfg: GridConfig, withOrders: Boolean, withBalance: Boolean,
      deltaBars: DataFrame, deltaCci: DataFrame, newState: DataFrame): DayDigest = {
    import spark.implicits._
    // ONE stats action for the whole digest (round-15, the job-budget
    // cut's first merge): the two delta aggregates AND the state-
    // dimension totals are all 1-row aggregates over already-materialized
    // frames (fresh-path writes populated the caches, resume-path reads
    // are committed parquet), so they cross-join into a single scheduled
    // action — the per-day job count is part of the daily bill, and two
    // of these actions were pure ceremony.
    //
    // Signal count folds into the same aggregate: r05/r09's crossover
    // rule (recommendation semantics: >= on the current side) per literal
    // threshold as a conditional sum — a null CCI (window not yet full)
    // makes the condition null and counts 0, exactly like the former
    // filter+count.
    val sigCnt = cfg.buyThresholds.map(t =>
        sum(when(CciPipeline.buySignal(lit(t)), 1L).otherwise(0L)))
      .reduce(_ + _)
    val Seq(nBarsNew, nFetched, nCciNew, nCciTotal, nSeries, nSignals) =
      deltaBars
        .agg(count(lit(1)), coalesce(sum($"volume"), lit(0L)))
        .crossJoin(deltaCci.agg(count(lit(1))))
        .crossJoin(newState.agg(coalesce(sum($"n_rows"), lit(0L)),
          count(lit(1)), coalesce(sigCnt, lit(0L))))
        .head().toSeq.map(_.asInstanceOf[Long])

    val latest = newState.select($"user_id",
      $"watermark_d".as("d"), $"close_pr", $"close_cci",
      $"current_open_cci", $"yesterday_open_cci")

    // r13's order step against the persisted conditions dim,
    // then the position carry (r34): yesterday's open lots are
    // scanned with today's state — the reference's daily sell scan
    // (daily_function.py:1713 create_sell_order_data, :1828 sell
    // execution) — sells settle, fresh buys open new lots.
    val (nOrders, nSells, nPositions) = if (!withOrders) (0L, 0L, 0L) else {
      // r36: the balance snapshot entering day s — the broker's
      // settlement-basis cash (get_stock_balance's
      // prvs_rcdl_excc_amt, hankook_api.py:283, consumed at
      // daily_function.py:1463). ONE committed dimension row,
      // constant across the day's orders (KRX settles D+2, so
      // intraday fills don't move the snapshot — which is why the
      // reference's per-order re-reads inside its symbol loop see
      // the same number).
      val balSnap = if (!withBalance) None else Some(
        latestCommitted(spark, ws.balanceDir, s).getOrElse(
          throw new IllegalArgumentException(
            s"daily balance: no committed balance partition before $s — seed the workspace"))
          .select($"bal_end_cents".as("bal_cents")))
      // r13/r34 size by the fixed 10%-of-seed budget slice, r36 by
      // the balance snapshot, which rides each latest row
      val (sizedOn, qty) = balSnap match {
        case None => (latest, CciPipeline.fixedSliceQty)
        case Some(bal) => (latest.crossJoin(broadcast(bal)), balanceQty)
      }
      // the orders plan feeds up to four consumers (its own
      // write, the fresh-buys gate into positions, the settlement
      // cost sum, the committed read-back) — cache it so the
      // conditions⨝latest sizing chain runs once, not per consumer
      val orders = GraftSession.maybeCache(CciPipeline.orderRows(
        Tables.readParquet(spark, ws.conditionsDir), sizedOn, qty))
      var scoredCache: Option[DataFrame] = None
      try {
      overwrite(orders, s"${ws.ordersDir}/run_d=$s")

      // A lot OPENS only on a FRESH signal — the series got a new
      // bar today, so its (yesterday, current) pair just advanced;
      // without the gate a stale crossover pair would re-open an
      // identical lot every day it persists. The orders table (the
      // day's recommendation VIEW, r09 semantics) stays ungated.
      val freshBuys = orders
        .join(deltaBars.select($"user_id").distinct(), Seq("user_id"), "left_semi")
        .select($"user_id", $"order_date".as("buy_d"),
          $"buy_order_price".as("buy_price"), $"buy_order_qty".as("buy_qty"),
          $"condition_holding_days", $"condition_target_return",
          $"condition_stop_loss_cci_threshold", $"net_target_price")

      // Sell scan over yesterday's open lots with TODAY's state:
      // target and stop need a bar newer than the purchase
      // (state_d > buy_d — the broker quotes a fresh price);
      // maturity is calendar-driven (r18's buy date + holding
      // days). Precedence mirrors r06: target, stop, maturity.
      val (sells, stillOpen, scoredC) =
        latestCommitted(spark, ws.positionsDir, s) match {
        case None => (None, freshBuys, None)
        case Some(pos) =>
          val posCols = pos.columns.map(col)
          // cached like `orders`: the scan feeds the sells write,
          // the open carry and the settlement proceeds sum
          val scored = GraftSession.maybeCache(pos
            .join(latest.select($"user_id", $"d".as("state_d"),
                $"close_pr".as("day_close_pr"),
                $"close_cci".as("day_close_cci")),
              Seq("user_id"))
            .withColumn("trade_result",
              when($"state_d" > $"buy_d" &&
                $"day_close_pr" > $"net_target_price", lit("reach_target"))
                .when($"state_d" > $"buy_d" &&
                  $"day_close_cci" <= $"condition_stop_loss_cci_threshold",
                  lit("stop_loss"))
                .when(lit(s) >= date_add($"buy_d", $"condition_holding_days"),
                  lit("maturity"))))
          val sold = scored.filter($"trade_result".isNotNull)
            .withColumn("sell_d", lit(s))
            .withColumn("sell_price", $"day_close_pr")
            .select(posCols ++ Seq($"trade_result", $"sell_d", $"sell_price"): _*)
          val open = scored.filter($"trade_result".isNull).select(posCols: _*)
          (Some(sold), open.unionByName(freshBuys), Some(scored))
      }
      scoredCache = scoredC
      sells.foreach(df => overwrite(df, s"${ws.sellsDir}/run_d=$s"))
      overwrite(stillOpen, s"${ws.positionsDir}/run_d=$s")
      // digest counts read what was COMMITTED (the written
      // partitions, not the plans that produced them) — as one
      // tagged-union job over the parquet footers instead of
      // three separate count actions
      val tagged = Seq(
        "orders" -> s"${ws.ordersDir}/run_d=$s",
        "positions" -> s"${ws.positionsDir}/run_d=$s") ++
        sells.map(_ => "sells" -> s"${ws.sellsDir}/run_d=$s")
      val cntFrame = tagged.map { case (t, p) =>
        readPartition(spark, p).select(lit(t).as("t")) }
        .reduce(_ unionByName _)
        .groupBy($"t").count()
        .select($"t", $"count".cast("double").as("a"),
          lit(0.0).as("b"), lit(0.0).as("c"))

      // r36 settlement: day-s buys debit cost incl. the buy-side
      // fee, day-s sells credit proceeds net of tax + fee — the
      // SAME per-share arithmetic as r11's net revenue — in exact
      // integer cents (per-lot half-up to cents; the sums are
      // integer-valued doubles, exact and order-independent under
      // 2^53 — which also lets them ride the count frame's double
      // columns losslessly). Credits land in the NEXT day's snapshot
      // (D+2 settlement collapsed to D+1 at daily granularity).
      //
      // Round-15 (job-budget cut, second merge): the settlement
      // aggregates UNION into the committed-count frame as one tagged
      // row, so the day's digest counts and its balance row come out of
      // ONE collect instead of two scheduled actions.
      val withBal = balSnap match {
        case None => cntFrame
        case Some(bal) =>
          val costAgg = freshBuys.agg(coalesce(sum(
              floor($"buy_qty" * $"buy_price" * lit(1.0 + FeeRate) * 100.0 + 0.5)),
            lit(0.0)).as("c0"))
          val procAgg = sells.map(_.agg(coalesce(sum(
              floor($"buy_qty" * $"sell_price" * lit(1.0 - TaxRate - FeeRate) * 100.0 + 0.5)),
            lit(0.0)).as("p0")))
            .getOrElse(spark.range(1).select(lit(0.0).as("p0")))
          cntFrame.unionByName(bal.crossJoin(costAgg).crossJoin(procAgg)
            .select(lit("__bal").as("t"), $"bal_cents".cast("double").as("a"),
              $"c0".as("b"), $"p0".as("c")))
      }
      val collected = withBal.collect()
      val cnts = collected.filter(_.getString(0) != "__bal")
        .map(r => r.getString(0) -> r.getDouble(1).toLong).toMap
      // the __bal row is an INVARIANT when a balance snapshot exists
      // (bal is a 1-row aggregate cross-joined with 1-row aggregates) —
      // keep the failure loud (ADVICE round-15): a silent find-miss here
      // would skip the day's balance write and stall the balance chain
      // with no error anywhere
      val balRow = collected.find(_.getString(0) == "__bal")
      if (balSnap.isDefined && balRow.isEmpty)
        sys.error(s"daily run: balance snapshot produced no __bal row for day $s — " +
          "the latest committed balance partition is empty")
      balRow.foreach { r =>
        val (b0, c, p) =
          (r.getDouble(1).toLong, r.getDouble(2).toLong, r.getDouble(3).toLong)
        overwrite(
          Seq((s, b0, c, p, b0 - c + p)).toDF("d", "bal_start_cents",
            "buy_cost_cents", "sell_proceeds_cents", "bal_end_cents"),
          s"${ws.balanceDir}/run_d=$s")
      }
      (cnts.getOrElse("orders", 0L), cnts.getOrElse("sells", 0L),
        cnts.getOrElse("positions", 0L))
      } finally {
        scoredCache.foreach(_.unpersist()): Unit
        orders.unpersist(): Unit
      }
    }

    val dig = DayDigest(s, nFetched, nBarsNew, nCciNew, nCciTotal,
      nSeries, nSignals, nOrders, nSells, nPositions)
    // digest LAST: its _SUCCESS marker commits the day
    overwrite(Seq(dig).toDF(), s"${ws.digestDir}/run_d=$s")
    dig
  }

  /** Execute one run day: watermark → fetch → bars append → incremental CCI
    * → state fold → signal scan → orders → digest. Every read is the
    * previous state partition (∝ series) or the day's delta; the bars/cci
    * history is never scanned. Caller is responsible for the trading-day
    * gate and the already-committed check ([[run]] applies both). */
  def runDay(spark: SparkSession, conn: EventConnector, ws: Workspace,
      s: java.sql.Date, cfg: GridConfig = GridConfig(),
      withOrders: Boolean = false, withBalance: Boolean = false): DayDigest = {
    require(!withBalance || withOrders, "withBalance requires withOrders")
    // the whole day (delta chain + mode tail) runs under the small-day
    // gate — see [[withDayAqe]]; bootstrap is the corpus-scale exception.
    // The prior state partition is read once: it sizes the gate and is
    // the state the day folds into.
    val prior = latestCommitted(spark, ws.stateDir, s)
    withDayAqe(spark, prior) {
      runDayBody(spark, conn, ws, s, cfg, withOrders, withBalance, prior)
    }
  }

  private def runDayBody(spark: SparkSession, conn: EventConnector, ws: Workspace,
      s: java.sql.Date, cfg: GridConfig,
      withOrders: Boolean, withBalance: Boolean, prior: Option[DataFrame]): DayDigest = {
    import spark.implicits._

    // CHAIN RESUME: the day's committed bars/cci/state partitions are
    // authoritative — the chain is deterministic given the prior state and
    // the day's fetch window (the same contract that makes crash reruns
    // overwrite identical content), so a rerun that crashed after the
    // state commit, or a second sizing mode over a shared chainRoot
    // ([[sharedDailyRun]]), reads them back instead of re-fetching the
    // broker window and re-deriving the CCI fold.
    if (chainCommitted(spark, ws, s)) {
      val deltaBars = GraftSession.maybeCache(
        readPartition(spark, s"${ws.barsDir}/run_d=$s"))
      try {
        val deltaCci = readPartition(spark, s"${ws.cciDir}/run_d=$s")
        val newState = GraftSession.maybeCache(
          readPartition(spark, s"${ws.stateDir}/run_d=$s"))
        try return finishDay(spark, ws, s, cfg, withOrders, withBalance,
          deltaBars, deltaCci, newState)
        finally newState.unpersist()
      } finally deltaBars.unpersist()
    }

    val state = GraftSession.maybeCache(prior.getOrElse(throw new IllegalArgumentException(
      s"daily state: no committed state partition before $s — bootstrap first")))
    try {
      // r21's watermark arithmetic against the state dimension: saved keys
      // resume after their stored watermark; keys new to the universe
      // backfill from DefaultFetchStart. Requests stay dimension-scale.
      // The fetch universe is listKeys ∪ SAVED keys: a real broker's
      // listing can transiently omit a symbol we hold state (and possibly
      // open lots) for — dropping it would freeze its watermark and leave
      // its positions scanned against a stale close forever. A genuinely
      // delisted symbol just fetches an empty window from then on.
      val requests = conn.listKeys(spark, s).select($"user_id")
        .unionByName(state.select($"user_id")).distinct()
        .join(state.select($"user_id", $"watermark_d".as("saved_max")),
          Seq("user_id"), "left")
        .select($"user_id",
          coalesce(date_add($"saved_max", 1),
            lit(CciPipeline.DefaultFetchStart).cast("date")).as("fetch_start"),
          lit(s).as("fetch_end"))
        .filter($"fetch_start" <= $"fetch_end")

      // The fetch is consumed exactly once (by the bars aggregation), so it
      // is neither cached nor counted: n_fetched == sum of bar volumes (each
      // event lands in exactly one bar), and the r32 oracle re-derives
      // n_fetched from the RAW events independently — the digest can't hide
      // a bars-aggregation bug behind this identity.
      val fetched = conn.fetch(spark, requests)
      val deltaBars = GraftSession.maybeCache(CciPipeline.barsFromEvents(fetched))
      try {
        overwrite(deltaBars, s"${ws.barsDir}/run_d=$s")

        val deltaCci = GraftSession.maybeCache(CciPipeline.cciDeltaFromState(state, deltaBars, cfg))
        try {
          overwrite(deltaCci, s"${ws.cciDir}/run_d=$s")
          val newState = GraftSession.maybeCache(CciPipeline.updateState(state, deltaCci, cfg))
          try {
            overwrite(newState, s"${ws.stateDir}/run_d=$s")

            finishDay(spark, ws, s, cfg, withOrders, withBalance,
              deltaBars, deltaCci, newState)
          } finally newState.unpersist()
        } finally deltaCci.unpersist()
      } finally deltaBars.unpersist()
    } finally state.unpersist()
  }

  /** Small-day gate for the day loop (round-15, PERF.md "the daily
    * loop's job budget"): under AQE every materialized exchange is its
    * own scheduled job, so the day tail's ~7 delta/dimension-scale
    * actions billed 28 (fix) / 37 (bal) jobs per day — measured 32% of
    * the per-day job count is adaptive-stage ceremony that buys nothing
    * at delta scale (AQE coalescing/skew-split need data big enough to
    * matter), and turning it off cut the rebuild wall ~10% at sf0.1. At
    * 100 TB a day's delta IS big enough to matter (~40 GB/day for a
    * 10-year corpus), so the gate is sized, not hard-off: a day whose
    * latest committed STATE partition (the loop's dimension-scale
    * anchor; the delta is the same order) is under [[DayScaleBytes]]
    * (256 MB) by its [[ScaleGate]] plan-stat size runs with AQE off; any
    * other day keeps the session's settings. Like every scale gate it
    * obeys [[ScaleGate.ForceConf]]: `arm` keeps the session's settings on
    * every day, `off` always shrinks. Bootstrap always keeps the
    * session's AQE — it is the one corpus-scale pass in the loop.
    * Threshold sizing: SURVEY §5 "Sizing a real deployment".
    *
    * Round-16 (optimization, guide §2.2/§6): turning AQE off at delta
    * scale removed the adaptive-job ceremony but LEFT the session's
    * static shuffle partitioning (32 at bench geometry) on every
    * dimension-scale exchange — ~32 near-empty reduce tasks per job and
    * up to 32 tiny files per day-partition write, which the next day's
    * read-back then pays again. So the same small day also runs at
    * [[SmallDayPartitions]] shuffle partitions. Above the threshold the
    * session partitioning stands, so a 100-TB day's delta keeps full
    * parallelism — the shrink is gated on measured size, not on the
    * local core count. Measured (sf0.1, local[32], ONLY-mode
    * daily_rebuild min-of-N): fresh-workspace re-orchestration 9.86 s →
    * 5.37 s at 4 partitions (−46%); 2 and 8 partitions measured
    * 5.61/6.00, so 4 is the flat minimum. DailyRunSpec "small-day gate"
    * pins both overrides and their restore. */
  private val DayScaleBytes = 256L << 20
  private val SmallDayPartitions = 4

  /** Runs `body` under the small-day gate: unless [[ScaleGate]] arms on
    * `prior`, the latest committed state partition before the day (none
    * committed keeps the session's settings), AQE is off and shuffle
    * partitions are [[SmallDayPartitions]]; both are restored after. */
  private def withDayAqe[T](spark: SparkSession, prior: Option[DataFrame])(body: => T): T =
    if (prior.forall(ScaleGate.armed(_, DayScaleBytes))) body
    else {
      val overrides = Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> SmallDayPartitions.toString)
      val prevs = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prevs.foreach { case (k, ov) =>
        ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  /** All three chain tables committed for day `s` — the resume predicate
    * shared by [[runDay]] and [[bootstrap]]. */
  private def chainCommitted(spark: SparkSession, ws: Workspace, s: java.sql.Date): Boolean =
    Seq(ws.barsDir, ws.cciDir, ws.stateDir).forall(committedMarker(spark, _, s))

  private def committedMarker(spark: SparkSession, dir: String, s: java.sql.Date): Boolean = {
    val marker = new Path(s"$dir/run_d=$s", "_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** A day counts as committed FOR THE REQUESTED MODE: the digest marker
    * alone is not enough when this run wants orders/balance but the day
    * was originally committed by an order-less (or balance-less) run —
    * skipping it would leave the mode's partitions silently missing for
    * that day. Re-running such a day is safe: the watermark-driven fetch
    * and every write are deterministic overwrites of the day's own
    * partitions (spec-pinned by the crash-rerun cases). */
  private def digestCommitted(spark: SparkSession, ws: Workspace, s: java.sql.Date,
      withOrders: Boolean, withBalance: Boolean): Boolean =
    committedMarker(spark, ws.digestDir, s) &&
      (!withOrders || committedMarker(spark, ws.positionsDir, s)) &&
      (!withBalance || committedMarker(spark, ws.balanceDir, s))

  /** Run every trading day in [from, to]: the scheduler loop. Non-trading
    * days are skipped (the reference's `is_holiday` gate); days whose digest
    * already committed are resumed from their stored digest, so a restarted
    * schedule continues where it stopped. */
  def run(spark: SparkSession, conn: EventConnector, ws: Workspace,
      from: LocalDate, to: LocalDate, cfg: GridConfig = GridConfig(),
      withOrders: Boolean = false, withBalance: Boolean = false): Seq[DayDigest] = {
    import spark.implicits._
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to))
      .filter(CciPipeline.isTradingDayLocal)
      .map { ld =>
        val s = java.sql.Date.valueOf(ld)
        // tag the day's jobs (thread-local job group): operators watching
        // the cluster see which run day a straggling job belongs to, and
        // a listener can attribute the per-day job bill from the same tag
        spark.sparkContext.setJobGroup(s"graft-day-$s",
          s"daily run day $s", interruptOnCancel = false)
        try {
          if (digestCommitted(spark, ws, s, withOrders, withBalance))
            readPartition(spark, s"${ws.digestDir}/run_d=$s").as[DayDigest].head()
          else runDay(spark, conn, ws, s, cfg, withOrders, withBalance)
        } finally spark.sparkContext.clearJobGroup()
      }
      .toSeq
  }

  /** Repair a committed window after LATE DATA (a broker backfill, a
    * partially-failed fetch discovered after the fact): delete every
    * `run_d >= from` partition across ALL workspace tables — the chain
    * AND the mode outputs, because the orders/positions/balance
    * trajectory downstream of a changed day is invalid too — then replay
    * the trading days through [[run]]. The replay resumes from the last
    * surviving state partition, so each repaired day's fetch window
    * re-derives from pre-repair state and picks the amended events up;
    * determinism then makes the repaired workspace indistinguishable
    * from one that never missed the data (r41's gate reuses r32's
    * oracle verbatim for exactly this reason). The daily loop's
    * watermark would otherwise skip late rows FOREVER — fetch_start
    * starts after each series' stored max date. */
  def repair(spark: SparkSession, conn: EventConnector, ws: Workspace,
      from: LocalDate, to: LocalDate, cfg: GridConfig = GridConfig(),
      withOrders: Boolean = false, withBalance: Boolean = false): Seq[DayDigest] = {
    val fromD = java.sql.Date.valueOf(from)
    val dirs = Seq(ws.barsDir, ws.cciDir, ws.stateDir, ws.ordersDir,
      ws.positionsDir, ws.sellsDir, ws.balanceDir, ws.digestDir)
    dirs.flatMap(runPartitions(spark, _)).filterNot(_.day.before(fromD)).foreach { c =>
      c.path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(c.path, true)
    }
    run(spark, conn, ws, from, to, cfg, withOrders, withBalance)
  }

  /** Seed the cash-balance dimension (r36): the account's settlement cash
    * before the first run day — the get_stock_balance seam
    * (hankook_api.py:283) with the reference's 1M-won starting budget. */
  def seedBalance(spark: SparkSession, ws: Workspace, cutoff: java.sql.Date,
      cents: Long = InitialBalanceCents): Unit = {
    import spark.implicits._
    overwrite(
      Seq((cutoff, cents, 0L, 0L, cents)).toDF("d", "bal_start_cents",
        "buy_cost_cents", "sell_proceeds_cents", "bal_end_cents"),
      s"${ws.balanceDir}/run_d=$cutoff")
  }

  // ---------------------------------------------------------------- r32
  /** One orchestrated run of the composed daily product per (events dir,
    * sizing mode), shared by the three daily gates: the reference runs ONE
    * daily app (app.py:49 execute_pipeline) whose single cron invocation
    * produces the digest feed, the lot lifecycle AND the balance
    * trajectory — r32/r34/r36 gate three OUTPUT TABLES of that one run,
    * so re-orchestrating the whole week per gate (3 bootstraps + 3 day
    * loops per sweep) was pure duplication. Two runs remain because the
    * sizing mode genuinely forks the data: r34 gates the fixed-slice
    * sizing (r13's rule) while r36's balance-fed sizing changes
    * `buy_order_qty` from day 2 on. r32 reads its digests off the
    * balance-fed run — its six gated columns are computed from the
    * fetch→bars→CCI→state chain BEFORE the orders branch and are
    * bit-identical across modes (spec-pinned in DailyRunSpec).
    * Workspaces are shutdown-hook-cleaned temp dirs (Extras.tempDir);
    * the cache is per-JVM, exactly the lifetime of those dirs. */
  private val sharedRuns = new java.util.concurrent.ConcurrentHashMap[
    (String, Boolean), (Workspace, java.sql.Date, LocalDate)]()
  private val sharedChains =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def sharedDailyRun(spark: SparkSession, dir: String,
      balanceFed: Boolean): (Workspace, java.sql.Date, LocalDate) =
    sharedRuns.computeIfAbsent((dir, balanceFed), _ => {
      // the two sizing modes share ONE chain workspace: the
      // fetch→bars→CCI→state chain is mode-independent (spec-pinned by
      // the r32 piggyback test), so whichever mode runs second resolves
      // its bootstrap and every day's chain recompute to committed-chain
      // resumes — the second orchestration pays only its orders branch
      val chainRoot = sharedChains.computeIfAbsent(dir,
        _ => graft.operators.Extras.tempDir("graft-daily-chain"))
      val ws = Workspace(graft.operators.Extras.tempDir(
        if (balanceFed) "graft-daily-bal" else "graft-daily-fix"),
        Some(chainRoot))
      val (cutoff, maxLd) = orchestrate(spark, dir, ws, chainRoot, balanceFed)
      (ws, cutoff, maxLd)
    })

  /** The one orchestration body of [[sharedDailyRun]] and
    * [[rebuildDailyRun]]: the last week of the events is the run window,
    * everything before it the bootstrap; then bootstrap → conditions →
    * balance seed → day loop into `ws`. Returns (cutoff, last day). */
  private def orchestrate(spark: SparkSession, dir: String, ws: Workspace,
      chainRoot: String, balanceFed: Boolean): (java.sql.Date, LocalDate) = {
    import spark.implicits._
    val conn = new LocalFileEventConnector(dir)
    val maxLd = Tables.events(spark, dir)
      .agg(max(to_date($"ts"))).head().getDate(0).toLocalDate
    val start = maxLd.minusDays(6)
    val cutoff = java.sql.Date.valueOf(start.minusDays(1))
    // Serialize the orchestration PER DIR, not just per (dir, mode):
    // computeIfAbsent only locks its map entry, so concurrent first
    // invocations of the two sizing modes would otherwise both build
    // the shared chainRoot and could observe (or overwrite) each
    // other's bars/cci/state partitions mid-commit. The sharedChains
    // value (the interned chainRoot string, one instance per dir) is the
    // lock; the second mode then always resumes a fully committed
    // chain, exactly the sequential contract the design assumes.
    chainRoot.synchronized {
      bootstrap(spark, conn, ws, cutoff)
      writeConditions(spark, dir, ws)
      if (balanceFed) seedBalance(spark, ws, cutoff)
      run(spark, conn, ws, start, maxLd,
        withOrders = true, withBalance = balanceFed): Unit
    }
    (cutoff, maxLd)
  }

  /** The REPEATABLE portion of the daily product for the bench's min-of-N
    * protocol: a fresh-workspace fixed-sizing orchestration that resumes
    * the already-committed shared chain. The memoized [[sharedDailyRun]]
    * builds can only run once per JVM (a second call returns the memo,
    * not a rebuild), which left the bench's biggest entry outside its own
    * reproducibility protocol — this re-runs the bootstrap + day-loop +
    * orders branch against a new temp workspace every call, with the
    * mode-independent chain resolving to committed resumes, so successive
    * reps time identical work. */
  def rebuildDailyRun(spark: SparkSession, dir: String): Unit =
    rebuildDailyRun(spark, dir, balanceFed = false)

  /** Mode-parameterized rebuild (round-13): the bench's daily_build_fix /
    * daily_build_bal cold entries get rep 2+ from this — a fresh-
    * workspace re-orchestration of the SAME mode over the committed
    * chain — so both cold entries carry a reps array instead of being
    * single-run unadjudicable numbers. */
  def rebuildDailyRun(spark: SparkSession, dir: String,
      balanceFed: Boolean): Unit = {
    sharedDailyRun(spark, dir, balanceFed): Unit // chain committed
    val chainRoot = sharedChains.get(dir)
    val ws = Workspace(
      graft.operators.Extras.tempDir(
        if (balanceFed) "graft-daily-rebuild-bal" else "graft-daily-rebuild"),
      Some(chainRoot))
    orchestrate(spark, dir, ws, chainRoot, balanceFed): Unit
  }

  /** The six r32-gated digest columns read back off a workspace — the
    * committed digest partitions ARE the run's return value (run()
    * re-reads them on resume the same way); bootstrap commits no digest,
    * so the read-back is exactly the run window's trading days. */
  private def digestFace(spark: SparkSession, ws: Workspace,
      cutoff: java.sql.Date): DataFrame = {
    import spark.implicits._
    spark.read.parquet(ws.digestDir)
      .filter($"d" > lit(cutoff))
      .select($"d", $"n_fetched", $"n_cci_new", $"n_cci_total",
        $"n_series", $"n_buy_signals")
      .orderBy($"d")
  }

  /** The driver-gated face of the daily run: bootstrap on everything before
    * the last week, then run the week's trading days incrementally in a
    * fresh workspace, and emit the per-day digests. The DuckDB oracle
    * recomputes every digest from scratch on the raw events — the gate
    * proves the persisted incremental chain (watermark → fetch → bars →
    * incremental CCI → signal scan) is indistinguishable, day by day, from
    * a full recompute. Key identities the oracle leans on: CCI state as of
    * day s ≡ the full-corpus CCI restricted to d ≤ s (trailing windows
    * never change under append), and each event row is fetched exactly once
    * — on the first trading day ≥ its date. */
  def dailyRunQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ws, cutoff, _) = sharedDailyRun(spark, dir, balanceFed = true)
    digestFace(spark, ws, cutoff)
  }

  val dailyRunSql: String = {
    val thrValues = BuyThresholds.map(t => s"($t)").mkString(", ")
    CciPipeline.cciCtes + ",\n" +
      s"""b2 AS (SELECT max(d) AS maxd, max(d) - 6 AS start_d FROM bars),
         |days AS (SELECT unnest(generate_series(start_d, maxd, INTERVAL 1 DAY))::DATE AS s FROM b2),
         |tdays AS (
         |  SELECT s FROM days
         |  WHERE (date_diff('day', DATE '1970-01-01', s) + 3) % 7 < 5
         |    AND day(s) % 7 <> 3),
         |sim AS (
         |  SELECT s, coalesce(lag(s) OVER (ORDER BY s),
         |                     (SELECT start_d - 1 FROM b2)) AS prev
         |  FROM tdays),
         |ev2 AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events_us),
         |fetched AS (
         |  SELECT sim.s, count(ev2.user_id) AS n_fetched
         |  FROM sim LEFT JOIN ev2 ON ev2.d > sim.prev AND ev2.d <= sim.s
         |  GROUP BY sim.s),
         |cstat AS (
         |  SELECT sim.s,
         |    count(cci.user_id) AS n_cci_total,
         |    count(CASE WHEN cci.d > sim.prev THEN 1 END) AS n_cci_new,
         |    count(DISTINCT cci.user_id) AS n_series
         |  FROM sim LEFT JOIN cci ON cci.d <= sim.s
         |  GROUP BY sim.s),
         |lat AS (
         |  SELECT sim.s, cci.user_id, max(cci.idx) AS mi
         |  FROM sim JOIN cci ON cci.d <= sim.s
         |  GROUP BY sim.s, cci.user_id),
         |cur AS (
         |  SELECT lat.s, lat.user_id, c1.open_cci AS cur_cci, c2.open_cci AS prev_cci
         |  FROM lat
         |  JOIN cci c1 ON c1.user_id = lat.user_id AND c1.idx = lat.mi
         |  LEFT JOIN cci c2 ON c2.user_id = lat.user_id AND c2.idx = lat.mi - 1),
         |sigs AS (
         |  SELECT cur.s, count(*) AS n_buy_signals
         |  FROM cur CROSS JOIN (VALUES $thrValues) t(thr)
         |  WHERE cur.prev_cci < t.thr AND cur.cur_cci >= t.thr
         |  GROUP BY cur.s)
         |SELECT sim.s AS d,
         |  coalesce(f.n_fetched, 0) AS n_fetched,
         |  coalesce(c.n_cci_new, 0) AS n_cci_new,
         |  coalesce(c.n_cci_total, 0) AS n_cci_total,
         |  coalesce(c.n_series, 0) AS n_series,
         |  coalesce(g.n_buy_signals, 0) AS n_buy_signals
         |FROM sim
         |LEFT JOIN fetched f ON f.s = sim.s
         |LEFT JOIN cstat c ON c.s = sim.s
         |LEFT JOIN sigs g ON g.s = sim.s
         |ORDER BY d""".stripMargin
  }

  // ---------------------------------------------------------------- r41
  /** Every [[RepairDropStride]]-th event of the drop day goes missing in
    * the truncated feed — the partial-outage shape the repair gate and
    * its spec replay. */
  val RepairDropStride = 3L

  /** A transport whose `dropDay` fetch loses every
    * [[RepairDropStride]]-th event (deterministic in-query truncation,
    * t12's convention). */
  final class TruncatedConnector(base: EventConnector, dropDay: java.sql.Date)
      extends EventConnector {
    override def name: String = s"truncated:${base.name}"
    override def listKeys(spark: SparkSession, asOf: java.sql.Date): DataFrame =
      base.listKeys(spark, asOf)
    override def fetch(spark: SparkSession, requests: DataFrame): DataFrame =
      base.fetch(spark, requests)
        .filter(!(to_date(col("ts")) === lit(dropDay) &&
          pmod(col("event_id"), lit(RepairDropStride)) === 0))
  }

  /** File-copy the chain partitions strictly before `x` from one
    * workspace's chain to another's — pure filesystem metadata+bytes, no
    * Spark jobs; the copied `_SUCCESS` markers make every copied day a
    * committed-chain resume in the destination. */
  private def copyChainBefore(spark: SparkSession, from: Workspace,
      to: Workspace, x: java.sql.Date): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(from.barsDir -> to.barsDir, from.cciDir -> to.cciDir,
      from.stateDir -> to.stateDir).foreach { case (srcDir, dstDir) =>
      runPartitions(spark, srcDir).filter(_.day.before(x)).foreach { c =>
        val fs = c.path.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(fs, c.path,
          fs, new Path(dstDir, c.path.getName), false, conf): Unit
      }
    }
  }

  private val repairedRuns =
    new java.util.concurrent.ConcurrentHashMap[String, (Workspace, java.sql.Date)]()

  /** The repair path as a driver-gated face: run the last week with the
    * second-to-last trading day's feed truncated (a partial fetch
    * outage — a downstream day exists, so the replay proves committed
    * LATER days recompute too), then the missing rows "arrive" and
    * [[repair]] replays from the outage day with the full feed. The
    * output is the same six digest columns as r32 and the oracle IS
    * r32's (`dailyRunSql`, reused verbatim): a correct repair is
    * indistinguishable from a run that never lost data. The untouched
    * prefix days reuse the shared fixed-mode chain (file-copied
    * partitions + committed-chain resume), so the gate pays only the
    * fork — the truncated suffix plus the repaired suffix. */
  def dailyRepairQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ws, cutoff) = repairedRuns.computeIfAbsent(dir, _ => {
      val (mainWs, cut, maxLd) = sharedDailyRun(spark, dir, balanceFed = false)
      val start = cut.toLocalDate.plusDays(1)
      val days = Iterator.iterate(start)(_.plusDays(1))
        .takeWhile(!_.isAfter(maxLd))
        .filter(CciPipeline.isTradingDayLocal).toSeq
      require(days.length >= 2, "repair gate needs at least two trading days")
      val x = days(days.length - 2)
      val xD = java.sql.Date.valueOf(x)
      val ws = Workspace(graft.operators.Extras.tempDir("graft-daily-repair"),
        Some(graft.operators.Extras.tempDir("graft-daily-repair-chain")))
      copyChainBefore(spark, mainWs, ws, xD)
      val full = new LocalFileEventConnector(dir)
      run(spark, new TruncatedConnector(full, xD), ws, start, maxLd): Unit
      repair(spark, full, ws, x, maxLd): Unit
      (ws, cut)
    })
    digestFace(spark, ws, cutoff)
  }

  // ---------------------------------------------------------------- r34
  /** The full buy→hold→sell lifecycle of the daily product: bootstrap,
    * persist the best-strategy conditions, run the last week with orders
    * and the position carry on, then emit one row per LOT — opened by a
    * fresh crossover on some run day, closed on a later run day by
    * whichever of target / stop-loss / maturity fired first (reference
    * create_sell_order_data daily_function.py:1713, sell execution :1828,
    * maturity arithmetic as r18's buy date + holding days), or still
    * `open` at the end of the window.
    *
    * The DuckDB oracle replays every lot from the RAW events: per sim day
    * it rebuilds each series' latest (yesterday, current) CCI pair, opens
    * lots on fresh crossovers against the independently recomputed
    * best-strategy dim, and closes each lot at its first qualifying later
    * sim day — the persisted day-by-day position carry must be
    * indistinguishable from that one-shot replay. */
  def dailyPositionsQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ws, _, maxLd) = sharedDailyRun(spark, dir, balanceFed = false)
    val outCols = Seq("user_id", "buy_d", "buy_price", "buy_qty",
      "condition_holding_days", "condition_target_return",
      "trade_result", "sell_d", "sell_price").map(col)
    val open = latestCommitted(spark, ws.positionsDir,
        java.sql.Date.valueOf(maxLd.plusDays(1)))
      .getOrElse(sys.error("r34: no committed positions partition"))
      .withColumn("trade_result", lit("open"))
      .withColumn("sell_d", lit(null).cast("date"))
      .withColumn("sell_price", lit(null).cast("double"))
      .select(outCols: _*)
    val sellsPath = new Path(ws.sellsDir)
    val hasSells = sellsPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sellsPath)
    val closed =
      if (!hasSells) None
      else Some(spark.read.parquet(ws.sellsDir).select(outCols: _*))
    closed.fold(open)(open.unionByName(_)).orderBy($"user_id", $"buy_d")
  }

  val dailyPositionsSql: String = {
    val budgetSlice = s"floor(${Budget * BudgetFraction})"
    CciPipeline.strategyCte + ",\n" +
      s"""bw AS (SELECT * FROM (${CciPipeline.bestCte("win_rate")}) bq),
         |b2x AS (SELECT max(d) AS maxd, max(d) - 6 AS start_d FROM bars),
         |days2 AS (SELECT unnest(generate_series(start_d, maxd, INTERVAL 1 DAY))::DATE AS s FROM b2x),
         |tday2 AS (
         |  SELECT s FROM days2
         |  WHERE (date_diff('day', DATE '1970-01-01', s) + 3) % 7 < 5
         |    AND day(s) % 7 <> 3),
         |sim2 AS (
         |  SELECT s, coalesce(lag(s) OVER (ORDER BY s),
         |                     (SELECT start_d - 1 FROM b2x)) AS prev
         |  FROM tday2),
         |lat2 AS (
         |  SELECT sim2.s, sim2.prev, c.user_id, max(c.idx) AS mi
         |  FROM sim2 JOIN cci c ON c.d <= sim2.s
         |  GROUP BY sim2.s, sim2.prev, c.user_id),
         |cur2 AS (
         |  SELECT l.s, l.prev AS prev_d, l.user_id,
         |    c1.d AS state_d, c1.close_pr, c1.close_cci,
         |    c1.open_cci AS cur_cci, c0.open_cci AS prev_cci
         |  FROM lat2 l
         |  JOIN cci c1 ON c1.user_id = l.user_id AND c1.idx = l.mi
         |  LEFT JOIN cci c0 ON c0.user_id = l.user_id AND c0.idx = l.mi - 1),
         |buys AS (
         |  SELECT c2.s AS buy_sim_d, c2.user_id, c2.state_d AS buy_d,
         |    c2.close_pr AS buy_price,
         |    CAST(floor($budgetSlice / c2.close_pr + 0.5) AS BIGINT) AS buy_qty,
         |    bw.condition_holding_days, bw.condition_target_return,
         |    bw.condition_stop_loss_cci_threshold,
         |    floor((c2.close_pr * (1.0 + (bw.condition_target_return + $TaxRate + ${FeeRate}) / 100.0)) * 1.0 + 0.5) / 1.0 AS net_target_price
         |  FROM cur2 c2 JOIN bw ON bw.user_id = c2.user_id
         |  WHERE c2.state_d > c2.prev_d
         |    AND c2.prev_cci < bw.condition_buy_cci_threshold
         |    AND c2.cur_cci >= bw.condition_buy_cci_threshold
         |    AND c2.close_pr <> 0.0
         |    AND CAST(floor($budgetSlice / c2.close_pr + 0.5) AS BIGINT) >= 1),
         |scans AS (
         |  SELECT b.*, c2.s AS t2, c2.close_pr AS scp,
         |    CASE WHEN c2.state_d > b.buy_d AND c2.close_pr > b.net_target_price THEN 'reach_target'
         |         WHEN c2.state_d > b.buy_d AND c2.close_cci <= b.condition_stop_loss_cci_threshold THEN 'stop_loss'
         |         WHEN c2.s >= b.buy_d + b.condition_holding_days THEN 'maturity' END AS res
         |  FROM buys b JOIN cur2 c2 ON c2.user_id = b.user_id AND c2.s > b.buy_sim_d),
         |firsthit AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id, buy_d ORDER BY t2) AS rn
         |  FROM scans WHERE res IS NOT NULL)
         |SELECT b.user_id, b.buy_d, b.buy_price, b.buy_qty,
         |  b.condition_holding_days, b.condition_target_return,
         |  coalesce(f.res, 'open') AS trade_result,
         |  f.t2 AS sell_d, f.scp AS sell_price
         |FROM buys b
         |LEFT JOIN firsthit f
         |  ON f.user_id = b.user_id AND f.buy_d = b.buy_d AND f.rn = 1
         |ORDER BY b.user_id, b.buy_d""".stripMargin
  }

  // ---------------------------------------------------------------- r36
  /** The daily product's CASH-BALANCE carry: order sizing reads the
    * account's settlement balance instead of a fixed slice (the
    * reference's get_stock_balance → budget chain, hankook_api.py:283 →
    * daily_function.py:1462-1474: ≥ 1M won sizes a 10% slice per order,
    * a smaller positive balance places minimum qty-1 orders), day-s buys
    * debit cost (incl. buy-side fee) and day-s sells credit proceeds net
    * of tax + fee into the NEXT day's snapshot — r11's per-share
    * arithmetic at the account level. Output: one row per run day with
    * the balance trajectory in exact integer cents.
    *
    * The DuckDB oracle replays the feedback loop one-shot from raw
    * events as a recursive day fold: each day's lot sizes derive from
    * the recursively-carried balance (a balance HISTORY list, because a
    * sell's proceeds use the quantity sized on its OPEN day), so the
    * persisted day-by-day carry must equal a from-scratch sequential
    * replay — feedback and all. */
  def dailyBalanceQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ws, cutoff, _) = sharedDailyRun(spark, dir, balanceFed = true)
    spark.read.parquet(ws.balanceDir)
      .filter($"d" > lit(cutoff))
      .select($"d", $"bal_start_cents", $"buy_cost_cents",
        $"sell_proceeds_cents", $"bal_end_cents")
      .orderBy($"d")
  }

  val dailyBalanceSql: String = {
    val qty = (b: String) =>
      s"""(CASE WHEN $b >= $InitialBalanceCents
         |      THEN floor(floor($b / 1000.0) / l.buy_price + 0.5)
         |      WHEN $b > 0 THEN 1 ELSE 0 END)""".stripMargin
    // the balance fold needs WITH RECURSIVE on the (single) WITH clause;
    // the non-recursive CTEs in front are unaffected by the keyword
    CciPipeline.strategyCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      s"""bw AS (SELECT * FROM (${CciPipeline.bestCte("win_rate")}) bq),
         |b3 AS (SELECT max(d) AS maxd, max(d) - 6 AS start_d FROM bars),
         |days3 AS (SELECT unnest(generate_series(start_d, maxd, INTERVAL 1 DAY))::DATE AS s FROM b3),
         |tday3 AS (
         |  SELECT s FROM days3
         |  WHERE (date_diff('day', DATE '1970-01-01', s) + 3) % 7 < 5
         |    AND day(s) % 7 <> 3),
         |sim3 AS (
         |  SELECT s, coalesce(lag(s) OVER (ORDER BY s),
         |                     (SELECT start_d - 1 FROM b3)) AS prev,
         |         row_number() OVER (ORDER BY s) AS si
         |  FROM tday3),
         |lat3 AS (
         |  SELECT sim3.s, sim3.prev, sim3.si, c.user_id, max(c.idx) AS mi
         |  FROM sim3 JOIN cci c ON c.d <= sim3.s
         |  GROUP BY sim3.s, sim3.prev, sim3.si, c.user_id),
         |cur3 AS (
         |  SELECT l.s, l.prev AS prev_d, l.si, l.user_id,
         |    c1.d AS state_d, c1.close_pr, c1.close_cci,
         |    c1.open_cci AS cur_cci, c0.open_cci AS prev_cci
         |  FROM lat3 l
         |  JOIN cci c1 ON c1.user_id = l.user_id AND c1.idx = l.mi
         |  LEFT JOIN cci c0 ON c0.user_id = l.user_id AND c0.idx = l.mi - 1),
         |opens AS (
         |  SELECT c2.si AS open_si, c2.user_id, c2.state_d AS buy_d,
         |    c2.close_pr AS buy_price,
         |    bw.condition_holding_days, bw.condition_stop_loss_cci_threshold,
         |    floor((c2.close_pr * (1.0 + (bw.condition_target_return + $TaxRate + ${FeeRate}) / 100.0)) * 1.0 + 0.5) / 1.0 AS net_target_price
         |  FROM cur3 c2 JOIN bw ON bw.user_id = c2.user_id
         |  WHERE c2.state_d > c2.prev_d
         |    AND c2.prev_cci < bw.condition_buy_cci_threshold
         |    AND c2.cur_cci >= bw.condition_buy_cci_threshold
         |    AND c2.close_pr <> 0.0),
         |hits AS (
         |  SELECT o.user_id, o.buy_d, x.si AS close_si, x.close_pr AS sell_price,
         |    row_number() OVER (PARTITION BY o.user_id, o.buy_d ORDER BY x.si) AS rn
         |  FROM opens o JOIN cur3 x ON x.user_id = o.user_id AND x.si > o.open_si
         |  WHERE (x.state_d > o.buy_d AND x.close_pr > o.net_target_price)
         |     OR (x.state_d > o.buy_d AND x.close_cci <= o.condition_stop_loss_cci_threshold)
         |     OR (x.s >= o.buy_d + o.condition_holding_days)),
         |lots AS (
         |  SELECT o.open_si, o.user_id, o.buy_price, f.close_si, f.sell_price
         |  FROM opens o
         |  LEFT JOIN (SELECT * FROM hits WHERE rn = 1) f
         |    ON f.user_id = o.user_id AND f.buy_d = o.buy_d),
         |nsim AS (SELECT max(si) AS n FROM sim3),
         |balr(si, b, cost_c, proc_c, hist) AS (
         |  SELECT 1, CAST($InitialBalanceCents AS DOUBLE), CAST(NULL AS DOUBLE),
         |         CAST(NULL AS DOUBLE),
         |         [{'si': 1, 'b': CAST($InitialBalanceCents AS DOUBLE)}]
         |  UNION ALL
         |  SELECT balr.si + 1,
         |    balr.b - cost_now + proc_now,
         |    cost_now, proc_now,
         |    list_append(balr.hist, {'si': balr.si + 1, 'b': balr.b - cost_now + proc_now})
         |  FROM balr,
         |    LATERAL (SELECT
         |      coalesce((SELECT sum(floor(
         |          ${qty("balr.b")}
         |          * l.buy_price * (1.0 + ${FeeRate}) * 100.0 + 0.5))
         |        FROM lots l WHERE l.open_si = balr.si), 0) AS cost_now,
         |      coalesce((SELECT sum(floor(
         |          ${qty("ob.b")}
         |          * l.sell_price * (1.0 - $TaxRate - ${FeeRate}) * 100.0 + 0.5))
         |        FROM lots l,
         |          LATERAL (SELECT list_filter(balr.hist, x -> x.si = l.open_si)[1].b AS b) ob
         |        WHERE l.close_si = balr.si), 0) AS proc_now) step
         |  WHERE balr.si <= (SELECT n FROM nsim))
         |SELECT m.s AS d,
         |  CAST(r.b AS BIGINT) AS bal_start_cents,
         |  CAST(r2.cost_c AS BIGINT) AS buy_cost_cents,
         |  CAST(r2.proc_c AS BIGINT) AS sell_proceeds_cents,
         |  CAST(r2.b AS BIGINT) AS bal_end_cents
         |FROM balr r
         |JOIN balr r2 ON r2.si = r.si + 1
         |JOIN sim3 m ON m.si = r.si
         |ORDER BY d""".stripMargin
  }
}
