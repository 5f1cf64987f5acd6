package graft

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}

import graft.operators.{CciPipeline, Relational, TextAnalysis}
import graft.sources.Tables

/** The engine's PURE-SQL surface: everything a SQL-only client needs to
  * run graft queries without touching the Scala API.
  *
  * Three registration layers, each idempotent (temp views and function
  * registry entries are replace-on-register, so SEQUENTIAL per-query
  * callers in a shared session are safe; view names are session-global
  * and parameterized by `dir`, so concurrent callers mixing different
  * scale-factor dirs in one session can re-bind each other's views —
  * concurrent mixed-dir use needs separate sessions via `newSession()`):
  *
  *  1. [[ensureFunctions]] — graft's native Catalyst expressions
  *     (`graft_poly_hash`, `graft_dot`, ...) into the session's function
  *     registry. [[GraftExtensions]] does this at session construction;
  *     this is the post-hoc twin for sessions built WITHOUT the extension
  *     (the driver's Verify, a JDBC/Thrift session pool) — both paths
  *     consume the same [[GraftFunctions.all]] registry.
  *  2. [[registerTables]] — the corpus parquet tables as temp views,
  *     through [[Tables]] so the events nanos→micros discipline is the
  *     SAME one the Scala surface reads (a raw `CREATE TEMP VIEW ... USING
  *     parquet` would silently diverge on `ts`).
  *  3. [[registerOperators]] — flagship operators published as views:
  *     `graft_bars` (r02 OHLC), `graft_cci` (r04 rolling CCI),
  *     `graft_signals` (r05 crossovers), `graft_quality` (t02 scores).
  *     A view body is the operator's own Catalyst plan, so SQL callers get
  *     the identical physical strategy (pushdown, partial aggs, bounded
  *     windows) — views add zero execution surface, only reachability.
  *
  * The `sql01`/`sql02`/`sql03` queries below are driver-gated proof: their
  * Spark side is a SQL string (no DataFrame combinators), checked against
  * the SAME DuckDB oracles as their Scala twins (q01 / t04 / r04).
  *
  * Scale note: nothing here changes plans — `spark.sql` and the DataFrame
  * API meet in the same Catalyst pipeline, so every 100-TB argument made
  * for the Scala operators carries over verbatim to the SQL surface.
  */
object SqlSurface {

  /** Post-hoc function + optimizer-rule registration for sessions built
    * without [[GraftExtensions]]. Safe to call repeatedly. */
  def ensureFunctions(spark: SparkSession): Unit = {
    GraftFunctions.all.foreach { case (id, info, builder) =>
      GraftShim.registerFunction(spark, id, info, builder)
    }
    // experimental.extraOptimizations is the one optimizer hook that works
    // on an ALREADY-BUILT session (extensions only apply at construction)
    if (!spark.experimental.extraOptimizations.contains(SimplifyGraftExpressions))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SimplifyGraftExpressions
    graft.plans.AsOf.ensureStrategy(spark)
  }

  private val tableLoaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> (Tables.region _), "nation" -> (Tables.nation _),
    "customer" -> (Tables.customer _), "supplier" -> (Tables.supplier _),
    "part" -> (Tables.part _), "orders" -> (Tables.orders _),
    "lineitem" -> (Tables.lineitem _), "events" -> (Tables.events _),
    "documents" -> (Tables.documents _), "embeddings" -> (Tables.embeddings _))

  /** Register only the named corpus tables as temp views. Each sql* query
    * registers exactly the tables it reads, so one unreadable table's blast
    * radius is its own queries, not the whole SQL surface (round 7: the
    * events `ts` type break took lineitem-only sql01 down with it). */
  def registerTables(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    tableLoaders.filter { case (n, _) => names.contains(n) }
      .foreach { case (n, f) => f(spark, dir).createOrReplaceTempView(n) }

  /** Corpus tables as temp views named exactly as the oracle's tables, so
    * oracle SQL and Spark SQL read the same names. A table that fails to
    * load (missing file, schema drift) is skipped with a warning rather
    * than failing the whole registration — its own queries will still fail,
    * loudly, at resolution time. PARTIAL breakage only: if EVERY loader
    * fails, the "dir" is wrong (typo, missing corpus), and registering a
    * complete-but-empty SQL surface would defer one obvious error into 14
    * confusing resolution failures — that case throws immediately. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    val failures = tableLoaders.flatMap { case (n, f) =>
      try { f(spark, dir).createOrReplaceTempView(n); None }
      catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"SqlSurface: skipping unreadable table '$n' ($dir): ${e.getMessage}")
          Some(n -> e)
      }
    }
    if (failures.length == tableLoaders.length)
      throw new IllegalArgumentException(
        s"SqlSurface: every corpus table failed to load from '$dir' — bad dir?",
        failures.head._2)
  }

  /** Flagship operators as SQL-queryable views (plan-identical to their
    * Scala call sites — the view wraps the operator's own plan). Same
    * per-view failure isolation as [[registerTables]]: operator plans read
    * source tables at construction time (the CCI views read events), so
    * without it one unreadable table would abort [[registerAll]] before
    * the unrelated views exist. */
  /** One registration per (session, dir) (round-16 optimization): the
    * view BODIES are plans whose construction does planner-scale work
    * (hot-bin detection for the interval family, the zone-map layouts'
    * file indexes), and every sqlNN entry called this per invocation —
    * ~10 view re-plans × reps × entries of pure ceremony. A SQL client
    * registers its catalog once per session; re-registering the same dir
    * is a no-op (createOrReplaceTempView with an identical body). A
    * DIFFERENT dir still re-registers — the memo key carries it. */
  private val operatorViewsMemo = new graft.SessionMemo[String, String]

  def registerOperators(spark: SparkSession, dir: String): Unit = {
    // single slot per session holding the dir the views currently point
    // at: a SAME-dir repeat is the memo hit; a DIFFERENT dir re-registers
    // (the view names are session-global, so a stale memo entry per dir
    // would skip re-pointing them back)
    val cur = operatorViewsMemo.getOrElseUpdate(spark, "views") {
      registerOperatorsAlways(spark, dir); dir
    }
    if (cur != dir) {
      registerOperatorsAlways(spark, dir)
      operatorViewsMemo.put(spark, "views", dir)
    }
  }

  private def registerOperatorsAlways(spark: SparkSession, dir: String): Unit = {
    val views: Seq[(String, () => DataFrame)] = Seq(
      "graft_bars" -> (() => CciPipeline.ohlcBars(spark, dir)),
      "graft_cci" -> (() => CciPipeline.cciQuery(spark, dir)),
      "graft_signals" -> (() => CciPipeline.signalsQuery(spark, dir)),
      "graft_quality" -> (() => TextAnalysis.qualityScore(spark, dir)),
      // the NATIVE as-of join (q47): the view body is the AsOfJoinPlan
      // node itself, so a SQL-only client plans AsOfJoinExec — one
      // exchange per side + in-partition merge — not the window
      // composition (2.1× slower at 64× scale and growing). AsOf.join
      // ensureStrategy()s this session on construction, so the view is
      // plannable wherever it is queryable.
      "graft_asof" -> (() => operators.AsOfNative.asofNativeFrom(
        Tables.events(spark, dir))),
      // the interval family (q44/q48/q49) as views: a SQL-only client
      // writing the naive non-equi spelling would get a nested-loop
      // per-probe scan; the view bodies are the operators' own plans —
      // the sweep-line delta aggregation and the pinned (bin, salt)
      // fan-out equi-joins with their runtime geometry confs — so SQL
      // inherits the 100-TB plan verbatim (SqlSurfaceSpec pins it).
      "graft_interval_concurrency" -> (() =>
        operators.Intervals.intervalConcurrency(spark, dir)),
      "graft_range_join" -> (() => operators.Intervals.rangeJoin(spark, dir)),
      "graft_interval_join" -> (() =>
        operators.Intervals.intervalJoin(spark, dir)),
      // the z-ordered lineitem behind the r47 planner-integrated zone
      // map: a SQL client's own WHERE clause prunes the file listing
      // (ZoneMapFileIndex sees the pushed data filters) — data skipping
      // with zero operator-side plumbing, reachable from pure SQL
      "graft_zorder" -> (() => operators.ZoneMap.zorderTable(spark, dir)),
      // the ts-clustered events layout behind the round-15 LONG-zone
      // index (timestamp zones as micros): a SQL client's own time-window
      // WHERE prunes the file listing at planning time — the time-axis
      // analogue of graft_zorder
      "graft_events_ts" -> (() => operators.ZoneMap.eventsTsTable(spark, dir)))
    views.foreach { case (n, f) =>
      try f().createOrReplaceTempView(n)
      catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"SqlSurface: skipping unbuildable view '$n' ($dir): ${e.getMessage}")
      }
    }
  }

  /** Everything at once — the one call a SQL-only client makes. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    ensureFunctions(spark)
    registerTables(spark, dir)
    registerOperators(spark, dir)
  }

  // ---------------------------------------------------------------- sql01
  /** q01 re-expressed as pure Spark SQL over the registered `lineitem`
    * view — gated on q01's own oracle ([[Relational.q01Sql]]). The text is
    * dialect-shared ANSI: the only Spark/DuckDB divergence in the whole
    * statement is none at all. */
  def pricingSummaryViaSql(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir, Seq("lineitem"))
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-31'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  // ---------------------------------------------------------------- sql02
  /** t04's document fingerprint as pure Spark SQL, exercising the runtime
    * function registry: `graft_poly_hash` here resolves through
    * [[ensureFunctions]], not the Scala `Column` helpers. Shingling uses
    * the same 1-based `element_at` walk as [[TextAnalysis.fingerprint]];
    * gated on t04's oracle. */
  def fingerprintViaSql(spark: SparkSession, dir: String): DataFrame = {
    ensureFunctions(spark)
    registerTables(spark, dir, Seq("documents"))
    spark.sql(
      """WITH tok AS (
        |  SELECT doc_id, text, split(text, ' ') AS tk FROM documents),
        |ok AS (SELECT doc_id, text, tk FROM tok WHERE size(tk) >= 3),
        |sh AS (
        |  SELECT doc_id, text,
        |    array_distinct(transform(sequence(1, size(tk) - 2),
        |      i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
        |                     element_at(tk, i + 2)))) AS shs
        |  FROM ok)
        |SELECT doc_id, graft_poly_hash(text) AS fingerprint,
        |  array_min(transform(shs, s -> graft_poly_hash(s))) AS min_shingle_hash
        |FROM sh
        |ORDER BY doc_id""".stripMargin)
  }

  // ---------------------------------------------------------------- sql03
  /** The flagship rolling CCI reached purely through its registered view —
    * `SELECT ... FROM graft_cci` — gated on r04's oracle. Proves the
    * operator-view layer serves real operator output, not a copy. */
  def cciViaView(spark: SparkSession, dir: String): DataFrame = {
    registerOperators(spark, dir)
    spark.sql("SELECT * FROM graft_cci ORDER BY user_id, d")
  }

  // ---------------------------------------------------------------- sql04
  /** r42's paged-feed digest reached purely through SQL over a view of the
    * DSv2 table — a temp view is just a named plan, so the `WHERE ts >= …`
    * cut STILL narrows every fetch window at the wire and the projection
    * still prunes the readers (temp views don't block V2 pushdown). Gated
    * on r42's oracle: the SQL client sees exactly the DataFrame client's
    * answer. */
  def dsv2ViaSql(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (apiId, minDay, maxDay) = graft.sources.ParquetBackedPagedApi.ensure(spark, dir)
    spark.read.format("graft-events")
      .option("api", apiId)
      .option("from", java.time.LocalDate.ofEpochDay(minDay).toString)
      .option("to", java.time.LocalDate.ofEpochDay(maxDay).toString)
      .load()
      .createOrReplaceTempView("graft_feed")
    val cutoff = java.time.LocalDate.ofEpochDay(minDay + 20)
    spark.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  min(to_date(ts)) AS first_d, max(to_date(ts)) AS last_d,
         |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         |    AS value_sum
         |FROM graft_feed
         |WHERE ts >= TIMESTAMP '$cutoff 12:00:00'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  // ---------------------------------------------------------------- sql05
  /** q47's NATIVE as-of join reached purely through SQL — before this
    * face, `AsOfJoinPlan` was injectable only via the DataFrame path and
    * a SQL-only client silently fell back to the window composition.
    * `graft_asof` is a view whose body IS the native operator's plan, so
    * this statement plans [[graft.plans.AsOfJoinExec]] (SqlSurfaceSpec
    * pins the physical operator); gated on q47's own DuckDB oracle. */
  def asofViaSql(spark: SparkSession, dir: String): DataFrame = {
    registerOperators(spark, dir)
    spark.sql("SELECT * FROM graft_asof ORDER BY user_id, purchase_id")
  }

  // ------------------------------------------------------- sql06..sql08
  /** q44's sweep-line interval concurrency through pure SQL over its
    * view — gated on q44's own independent naive range-join oracle. */
  def intervalConcurrencyViaSql(spark: SparkSession, dir: String): DataFrame = {
    registerOperators(spark, dir)
    spark.sql("SELECT * FROM graft_interval_concurrency ORDER BY d")
  }

  /** q48's bin-bucketed pairwise range join through pure SQL — the view
    * body carries the pinned (bin, salt) fan-out exchange and the
    * hot-bin sub-salt machinery, so the SQL client never sees the
    * BroadcastNestedLoopJoin the naive non-equi spelling would plan.
    * Gated on q48's naive all-pairs oracle. */
  def rangeJoinViaSql(spark: SparkSession, dir: String): DataFrame = {
    registerOperators(spark, dir)
    spark.sql("SELECT * FROM graft_range_join ORDER BY o_orderkey")
  }

  /** q49's meet-once interval×interval overlap join through pure SQL —
    * gated on q49's naive all-pairs oracle. */
  def intervalJoinViaSql(spark: SparkSession, dir: String): DataFrame = {
    registerOperators(spark, dir)
    spark.sql("SELECT * FROM graft_interval_join ORDER BY o_orderkey")
  }

  // ---------------------------------------------------------------- sql10
  /** r48's ranged intraday chart as pure Spark SQL — the k=1 heap
    * open/close picks go through the SQL-registered `graft_topk_ord`
    * (the same typed aggregate the DataFrame fold plans, so the SQL
    * client keeps the ObjectHash path, not a struct-ordered max_by's
    * SortAggregate), and the date window is an ordinary WHERE that
    * reaches the scan as PushedFilters on native-ts encodings
    * (PushdownGuardSpec). Gated on r48's own DuckDB oracle. */
  def itemChartViaSql(spark: SparkSession, dir: String): DataFrame = {
    ensureFunctions(spark)
    registerTables(spark, dir, Seq("events"))
    spark.sql(
      s"""SELECT user_id, date_trunc('minute', ts) AS m,
         |  get(graft_topk_ord(struct(unix_micros(ts), event_id), value, 1), 0) AS open_pr,
         |  max(value) AS high_pr,
         |  min(value) AS low_pr,
         |  get(graft_topk_ord(struct(-unix_micros(ts), -event_id), value, 1), 0) AS close_pr,
         |  count(*) AS volume
         |FROM events
         |WHERE ts >= TIMESTAMP '${operators.CciPipeline.ChartFrom}'
         |  AND ts < TIMESTAMP '${operators.CciPipeline.ChartUntil}'
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin)
  }

  // ---------------------------------------------------------------- sql11
  /** r48's ranged intraday chart over the TS-ZONED events layout: the
    * same pure-SQL chart as sql10, but the FROM is the planner-integrated
    * `graft_events_ts` table, whose LONG-zone (micros) file index prunes
    * the listing under the window's own WHERE — timestamp data skipping
    * with zero operator-side plumbing (ZoneMapIntervalSpec pins the
    * strict file-count reduction). Gated on r48's DuckDB oracle: the
    * layout is a clustered REWRITE of events (same rows, micros grain),
    * so the chart answers are bit-identical. */
  def tsChartViaZonemap(spark: SparkSession, dir: String): DataFrame = {
    ensureFunctions(spark)
    registerOperators(spark, dir)
    spark.sql(
      s"""SELECT user_id, date_trunc('minute', ts) AS m,
         |  get(graft_topk_ord(struct(unix_micros(ts), event_id), value, 1), 0) AS open_pr,
         |  max(value) AS high_pr,
         |  min(value) AS low_pr,
         |  get(graft_topk_ord(struct(-unix_micros(ts), -event_id), value, 1), 0) AS close_pr,
         |  count(*) AS volume
         |FROM graft_events_ts
         |WHERE ts >= TIMESTAMP '${operators.CciPipeline.ChartFrom}'
         |  AND ts < TIMESTAMP '${operators.CciPipeline.ChartUntil}'
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin)
  }

  // ---------------------------------------------------------------- sql09
  /** r47 through pure SQL: the band summary is written as an ORDINARY
    * WHERE clause over the `graft_zorder` view — the client never names a
    * file, and [[graft.plans.ZoneMapFileIndex]] prunes the listing from
    * the pushed filters at planning time (SqlSurfaceSpec pins the index
    * in the scan and the strict pruning). Gated on r46's oracle. */
  def zorderViaSql(spark: SparkSession, dir: String): DataFrame = {
    registerOperators(spark, dir)
    spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_lines,
         |  CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
         |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
         |FROM graft_zorder
         |WHERE l_extendedprice BETWEEN ${operators.ZoneMap.PriceLo} AND ${operators.ZoneMap.PriceHi}
         |  AND l_quantity BETWEEN ${operators.ZoneMap.QtyLo} AND ${operators.ZoneMap.QtyHi}
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }
}
