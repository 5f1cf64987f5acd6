package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{TextFunctions => F}
import graft.sources.Tables

/** Streaming operators over the events table (SURVEY.md §2 D-rows).
  *
  * v01 is the batch-equivalent sessionization (oracle-checked); the
  * streaming variants run the same event schema through Structured
  * Streaming — tumbling-window aggregation with a watermark, and a
  * flatMapGroupsWithState sessionizer — exercised via the parquet source +
  * memory sink in tests. On a cluster the source becomes Kafka/files and
  * the sink a Delta/parquet table; the plans are unchanged.
  */
object EventStream {
  /** Session gap: a new session starts after 30 idle minutes. */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  // ---------------------------------------------------------------- v01
  /** Batch sessionization: lag-gap flag → running sum session id → session
    * aggregates. One shuffle on user_id (window + groupBy co-partitioned).
    * Session totals sum exact integer cents so rounding is
    * engine-deterministic (SURVEY.md §6). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    // RANGE-partition the one corpus exchange (round-17, guide §2.4;
    // PERF.md round 16 measured v01's final deterministic orderBy at 87%
    // of sf100 wall). The session window only needs user_id
    // CLUSTERING, which RangePartitioning(user_id) satisfies — and the
    // final global Sort(user_id, session_id) is then
    // prefix-satisfied by the SAME partitioning, so the planner drops the
    // second corpus-wide exchange entirely (2 Exchanges → 1; the sort
    // runs partition-local over range-contiguous user_ids). Equal keys
    // land in one partition (RangePartitioner is deterministic by key),
    // so window results and the output's total order are byte-identical;
    // no explicit partition count, so AQE still sizes the exchange.
    Tables.events(spark, dir)
      .repartitionByRange($"user_id")
      .withColumn("gap_us", unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
      .withColumn("new_sess", when($"gap_us".isNull || $"gap_us" > SessionGapUs, 1).otherwise(0))
      .withColumn("session_id", sum($"new_sess").over(cum))
      .groupBy($"user_id", $"session_id")
      .agg(
        // Epoch-micros bigints, not timestamps: integer session bounds hash
        // identically regardless of how the compare layer stringifies
        // timestamps (a timestamp-typed output was the round-1 red row).
        unix_micros(min($"ts")).as("session_start_us"),
        unix_micros(max($"ts")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(floor($"value" * 100.0 + 0.5).cast("long")).as("value_cents"))
      .withColumn("total_value", $"value_cents".cast("double") / 100.0)
      .drop("value_cents")
      .orderBy($"user_id", $"session_id")
  }

  val sessionizeSql: String =
    Tables.eventsOracleCte + ",\n" +
      s"""g AS (
         |  SELECT user_id, ts, event_id, value,
         |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
         |  FROM events_us),
         |s AS (
         |  SELECT user_id, ts, event_id, value,
         |    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > $SessionGapUs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM g)
         |SELECT user_id, session_id,
         |  epoch_us(min(ts)) AS session_start_us, epoch_us(max(ts)) AS session_end_us,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
         |FROM s
         |GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin

  // ------------------------------------------------------------ v02/v03
  /** The events schema as the streaming source sees it (`ts` normalized to a
    * micros timestamp by the same type-keyed branch as the batch loader —
    * nanos-int64, timestamp[us], and timestamp_ntz parquet all accepted). */
  /** `streamDir` must be a DIRECTORY of event parquet files (the file
    * stream source tails directories; new files become new micro-batches). */
  def readEventStream(spark: SparkSession, streamDir: String): DataFrame = {
    // same defensive conf as Tables.events: a TIMESTAMP(NANOS) encoding is
    // only readable (as int64) under nanosAsLong on a caller-built session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.readParquet(spark, streamDir).schema
    Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .parquet(streamDir))
  }

  /** v02: tumbling-window per-type aggregation with a watermark — the
    * streaming twin of a groupBy(window(...)) batch agg. Late data beyond
    * 10 minutes is dropped; state is bounded by the watermark. */
  def windowedCounts(spark: SparkSession, streamDir: String): DataFrame = {
    import spark.implicits._
    readEventStream(spark, streamDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 100.0 + 0.5).cast("long")).as("value_cents"))
      .select($"window.start".as("window_start"), $"event_type", $"n",
        ($"value_cents".cast("double") / 100.0).as("total_value"))
  }

  /** v11: NATIVE session-window aggregation — Spark's built-in
    * `session_window` (dynamic-gap merging windows in the streaming state
    * store) instead of v03's hand-rolled flatMapGroupsWithState or v01's
    * batch lag-cumsum. State is one merging window per open session,
    * expired by the watermark; append mode emits a session once the
    * watermark passes its close. The SAME expression runs in batch
    * (sessionWindowsBatch), so the spec asserts exact streaming↔batch
    * parity on the closed set. Window end is last-event + gap (the
    * session_window contract), not last-event time as in v01. */
  /** The ONE session_window aggregation both modes share — the spec's
    * streaming↔batch parity guarantee is structural, not copy-paste. */
  private[graft] def sessionWindowAgg(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor($"value" * 100.0 + 0.5).cast("long")).as("value_cents"))
      .select($"user_id", unix_micros($"sw.start").as("session_start_us"),
        unix_micros($"sw.end").as("session_close_us"), $"n_events",
        ($"value_cents".cast("double") / 100.0).as("total_value"))
  }

  def sessionWindows(spark: SparkSession, streamDir: String): DataFrame =
    sessionWindowAgg(readEventStream(spark, streamDir).withWatermark("ts", "1 hour"))

  /** The batch twin of [[sessionWindows]] — same expression by
    * construction (session_window runs in both modes). The batch input is
    * RANGE-partitioned by user_id (round-17, the v01 discipline): the
    * session-merge needs user_id clustering, which the range partitioning
    * satisfies, and the gated row's final Sort(user_id, session_start_us)
    * is prefix-satisfied by the same exchange — 2 corpus Exchanges → 1.
    * The shared [[sessionWindowAgg]] stays untouched (structural
    * streaming↔batch parity; a streaming source can't range-partition). */
  def sessionWindowsBatch(spark: SparkSession, dir: String): DataFrame =
    sessionWindowAgg(Tables.events(spark, dir).repartitionByRange(col("user_id")))

  /** v02's batch twin as a DRIVER-GATED query row (v02b): the identical
    * tumbling 1-hour aggregation over the batch events table, so the
    * streaming semantics' batch anchor sits under the DuckDB oracle gate,
    * not only in StreamingSpec. Epoch-aligned windows ⇔ date_trunc('hour');
    * integer-cents sum keeps the distributed reduction order-independent
    * (SURVEY.md §6). One partial-aggregable shuffle on (hour, type). */
  def windowedCountsBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 100.0 + 0.5).cast("long")).as("value_cents"))
      .select(unix_micros($"window.start").as("window_start_us"), $"event_type",
        $"n", ($"value_cents".cast("double") / 100.0).as("total_value"))
      .orderBy($"window_start_us", $"event_type")
  }

  val windowedCountsBatchSql: String =
    Tables.eventsOracleCte + "\n" +
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        |FROM events_us
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin

  /** v11's batch twin as a DRIVER-GATED query row (v11b). Close is
    * last-event + gap (the session_window contract). */
  def sessionWindowsBatchQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionWindowsBatch(spark, dir).orderBy($"user_id", $"session_start_us")
  }

  /** Oracle for v11b: session_window re-stated as the lag-cumsum form.
    * The split rule is `gap_us > SessionGapUs` — events EXACTLY `gap`
    * apart have adjacent [ts, ts+gap) windows and Spark MERGES adjacency
    * (pinned by SessionBoundaryProbe); close = max(ts) + gap. */
  val sessionWindowsBatchSql: String =
    Tables.eventsOracleCte + ",\n" +
      s"""g AS (
         |  SELECT user_id, ts, value,
         |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_us
         |  FROM events_us),
         |s AS (
         |  SELECT user_id, ts, value,
         |    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > $SessionGapUs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
         |  FROM g)
         |SELECT user_id,
         |  epoch_us(min(ts)) AS session_start_us,
         |  epoch_us(max(ts)) + $SessionGapUs AS session_close_us,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
         |FROM s
         |GROUP BY user_id, sid
         |ORDER BY user_id, session_start_us""".stripMargin

  /** v05: streaming dedup — exactly-once-per-key semantics over the event
    * stream within the watermark horizon (the at-least-once → effectively-
    * once repair every ingest pipeline needs). */
  def streamDedup(spark: SparkSession, streamDir: String): DataFrame = {
    import spark.implicits._
    readEventStream(spark, streamDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
  }

  /** v05's batch twin as a DRIVER-GATED query row (v05b): exactly-once
    * counts per type = per-type DISTINCT-id counts. Event ids are unique
    * in the schema contract; the streaming form exists precisely so
    * at-least-once delivery CONVERGES to this batch answer, which the v05
    * parity spec asserts against THIS function. Spark plans the single
    * count-distinct as a two-phase partial aggregation — no Expand, one
    * shuffle on event_type after the map-side distinct. */
  def streamDedupBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(count_distinct($"event_id").as("n"))
      .orderBy($"event_type")
  }

  val streamDedupBatchSql: String =
    """SELECT event_type, count(DISTINCT event_id) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** v04: stream-static join — the event stream enriched against a static
    * dimension (user cohort), then aggregated per cohort. The static side
    * is broadcast; on a cluster it would be a slowly-changing dim table. */
  def streamStaticJoin(spark: SparkSession, streamDir: String, dir: String): DataFrame = {
    import spark.implicits._
    val cohorts = Tables.events(spark, dir)
      .select($"user_id").distinct()
      .withColumn("cohort", ($"user_id" % 3).cast("int"))
    readEventStream(spark, streamDir)
      .join(broadcast(cohorts), Seq("user_id"))
      .groupBy($"cohort", $"event_type")
      .agg(count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- v08
  /** v08: stream-stream interval join — views joined to the same user's
    * purchases within the following hour (the attribution join every
    * event pipeline runs). Both sides carry watermarks and the join
    * condition bounds the event-time range, so state on each side is
    * dropped once the watermark passes the interval: bounded state, the
    * only shape a stream-stream join can ship with at scale. */
  def viewToPurchase(spark: SparkSession, streamDir: String): DataFrame = {
    import spark.implicits._
    val views = readEventStream(spark, streamDir)
      .filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val purchases = readEventStream(spark, streamDir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"),
        floor($"value" * 100.0 + 0.5).cast("long").as("purchase_cents"))
      .withWatermark("purchase_ts", "10 minutes")
    views.join(purchases,
      views("user_id") === purchases("user_id") &&
        $"purchase_ts" > $"view_ts" &&
        $"purchase_ts" <= $"view_ts" + expr("INTERVAL 1 HOUR"))
      .select(views("user_id"), $"view_id", $"view_ts",
        $"purchase_id", $"purchase_ts", $"purchase_cents")
  }

  /** v04's batch twin as a DRIVER-GATED query row (v04b): identical cohort
    * enrichment + per-cohort aggregation over the batch events table. No
    * broadcast hint here, unlike the streaming form: the cohort dim has
    * user cardinality, which is NOT metadata-scale at 100 TB — the join
    * shuffles on user_id and AQE demotes it to broadcast when the dim
    * actually fits. StreamingSpec asserts the streaming counts equal THIS
    * function's output, so the driver's oracle anchors v04 transitively. */
  def streamStaticJoinBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cohorts = Tables.events(spark, dir)
      .select($"user_id").distinct()
      .withColumn("cohort", ($"user_id" % 3).cast("int"))
    Tables.events(spark, dir)
      .join(cohorts, Seq("user_id"))
      .groupBy($"cohort", $"event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy($"cohort", $"event_type")
  }

  /** Oracle for v04b. Every event's user joins to exactly one cohort row,
    * so the enrichment join telescopes to a direct expression. */
  val streamStaticJoinBatchSql: String =
    """SELECT CAST(user_id % 3 AS INTEGER) AS cohort, event_type, count(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** v08's batch twin as a DRIVER-GATED query row (v08b): the same
    * attribution join (purchase within the hour after a view, same user)
    * over the batch table. Equi-join on user_id with a residual range
    * predicate — SMJ/shuffle-hash on user_id at scale, per-user fanout
    * bounded by the interval; never a cross product. Timestamps emitted as
    * epoch micros (timestamp-typed outputs hash differently across
    * engines — SURVEY.md §6). StreamingSpec asserts v08's emitted pair set
    * is a subset of (and ≥80% of) THIS join's pairs. */
  def viewToPurchaseBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), unix_micros($"ts").as("view_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"event_id".as("purchase_id"),
        unix_micros($"ts").as("purchase_us"),
        floor($"value" * 100.0 + 0.5).cast("long").as("purchase_cents"))
    views.join(purchases,
      $"user_id" === $"p_uid" &&
        $"purchase_us" > $"view_us" &&
        $"purchase_us" <= $"view_us" + lit(3600L * 1000000L))
      .select($"user_id", $"view_id", $"view_us",
        $"purchase_id", $"purchase_us", $"purchase_cents")
      .orderBy($"user_id", $"view_id", $"purchase_id")
  }

  val viewToPurchaseBatchSql: String =
    Tables.eventsOracleCte + ",\n" +
      """v AS (
        |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
        |  FROM events_us WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us,
        |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS purchase_cents
        |  FROM events_us WHERE event_type = 'purchase')
        |SELECT v.user_id, view_id, view_us, purchase_id, purchase_us, purchase_cents
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND purchase_us > view_us
        |  AND purchase_us <= view_us + 3600000000
        |ORDER BY v.user_id, view_id, purchase_id""".stripMargin

  final case class SessionUpdate(user_id: Long, session_start_us: Long,
      n_events: Long, total_cents: Long, closed: Boolean)
  /** Public: Spark's state encoder codegen needs constructor access. */
  final case class SessState(startUs: Long, lastUs: Long, n: Long, cents: Long)

  /** v03: custom per-key session state via flatMapGroupsWithState —
    * emits a closed session whenever the gap exceeds [[SessionGapUs]].
    * (A production deployment would add an event-time timeout to flush
    * idle keys; NoTimeout keeps the file-replay test drainable —
    * processing-time timeouts schedule batches forever under
    * processAllAvailable.) */
  def statefulSessions(spark: SparkSession, streamDir: String): Dataset[SessionUpdate] = {
    import spark.implicits._
    val events = readEventStream(spark, streamDir)
      .select($"user_id", unix_micros($"ts").as("us"),
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .as[(Long, Long, Long)]
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[SessState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
          sorted.foreach { case (_, us, cents) =>
            st match {
              case null => st = SessState(us, us, 1, cents)
              case s if us - s.lastUs > SessionGapUs =>
                out += SessionUpdate(uid, s.startUs, s.n, s.cents, closed = true)
                st = SessState(us, us, 1, cents)
              case s =>
                // cross-batch late event: never rewind the session clock
                // (lastUs = us would let a late arrival shrink the gap
                // baseline and falsely split the session on the next event)
                st = SessState(math.min(s.startUs, us), math.max(s.lastUs, us),
                  s.n + 1, s.cents + cents)
            }
          }
          if (st != null) state.update(st) else state.remove()
          out.iterator
      }
  }

  final case class AsOfEnriched(user_id: Long, purchase_id: Long, purchase_us: Long,
      view_id: Option[Long], view_us: Option[Long], matched: Boolean)
  /** Public: Spark's state encoder codegen needs constructor access. */
  final case class LatestView(us: Long, id: Long)

  // ---------------------------------------------------------------- v17
  /** v17: STREAMING as-of enrichment — the q47 native as-of join's
    * semantics at the stream door: each arriving purchase is emitted
    * immediately, enriched with the same user's latest prior-or-equal
    * view. State is O(1) per user (the single latest view — not a window
    * buffer, not a retained stream side: the as-of "join" needs only the
    * running maximum, which is what makes it streamable where a general
    * interval join needs two-sided state).
    *
    * Contract: the feed is event-time-ordered ACROSS micro-batches (the
    * daily discipline v12 models); within a batch any order is fine — the
    * walk sorts by (us, kind, id), views before purchases at the same
    * instant (the batch semantics are inclusive) and max event_id winning
    * among equal-ts views (q47's dedup rule). An out-of-order purchase
    * behind the state's view emits UNMATCHED rather than matching a
    * future view — never a wrong answer, the same choice v06's ingest
    * door makes. StreamingSpec proves end-state parity against the
    * NATIVE operator ([[graft.plans.AsOf]]) on a chunked feed, so the
    * oracle-gated q47 anchors this stream transitively. */
  def streamAsOf(spark: SparkSession, streamDir: String): Dataset[AsOfEnriched] = {
    import spark.implicits._
    readEventStream(spark, streamDir)
      .filter($"event_type" === "view" || $"event_type" === "purchase")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        ($"event_type" === "purchase").as("is_purchase"))
      .as[(Long, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LatestView, AsOfEnriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[LatestView]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4, r._2))
          var cand = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfEnriched]
          sorted.foreach { case (_, id, us, isPurchase) =>
            if (!isPurchase) {
              if (cand == null || us > cand.us || (us == cand.us && id > cand.id))
                cand = LatestView(us, id)
            } else {
              val m = cand != null && cand.us <= us
              out += AsOfEnriched(uid, id, us,
                if (m) Some(cand.id) else None, if (m) Some(cand.us) else None, m)
            }
          }
          if (cand != null) state.update(cand)
          out.iterator
      }
  }
}
