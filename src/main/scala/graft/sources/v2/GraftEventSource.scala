package graft.sources.v2

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{ApiRetrySession, PagedEventApi}

/** `spark.read.format("graft-events")` — the paged broker feed as a REAL
  * DataSourceV2 table (the reference's REST API surface, hankook_api.py:131
  * `get_daily_price` + `tr_cont` paging, promoted from a `mapPartitions`
  * transport to a first-class Spark source):
  *
  *  - **Planning**: one driver-side `listKeys` call (the symbol-list
  *    endpoint, dimension-scale) partitioned round-robin into
  *    `partitions` [[InputPartition]]s — the fetch parallelism is the
  *    executor count, and Catalyst owns the plan.
  *  - **Filter pushdown to the WIRE** ([[SupportsPushDownFilters]]):
  *    `user_id = / IN` prunes keys out of the page plan ENTIRELY (exact —
  *    absorbed, no residual); `ts >=/>/<=/< T` narrows each key's fetch
  *    window to whole API days — fewer pages requested — while staying in
  *    the residual (the API speaks day granularity, so sub-day cuts are
  *    re-applied post-scan; the parquet row-group-stats pattern).
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): readers
  *    emit only the projected fields.
  *  - **Limit pushdown** ([[SupportsPushDownLimit]], partial): readers
  *    stop PAGING at the cut — pages past it are never requested.
  *  - **Runtime (join-driven) filtering** ([[SupportsRuntimeFiltering]]):
  *    when this scan probes a broadcast join on `user_id`, the build
  *    side's key set narrows the page plan before partitions are planned
  *    — dynamic partition pruning at the wire.
  *  - **Executor-side paging**: each [[PartitionReader]] opens its own
  *    [[ApiRetrySession]] (token + bounded retry/backoff per partition,
  *    a connection pool's shape) and pages through its keys' windows —
  *    per-task state is O(1): one token, one page buffer.
  *
  * The API handle is a live object, so `.option("api", id)` names an
  * entry in [[GraftEventSource.apis]] (registered by the caller; the
  * planning side resolves it on the driver, the reader factory ships the
  * Serializable handle to executors). Options: `api` (required), `from` /
  * `to` (ISO dates, the full fetch window before pushdown), `partitions`
  * (default = defaultParallelism), `maxRetries`, `backoffMs`.
  */
class GraftEventSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-events"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftEventSource.FullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftEventTable(properties.asScala.getOrElse("api", "?"))
}

object GraftEventSource {
  /** [[graft.sources.Tables.Event]]'s shape; `ts` is a micros instant. */
  val FullSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** Driver-side registry of live API handles, keyed by the `api` option
    * (a live connection can't ride a string option map; registering the
    * handle here is the pattern in-process test/embedded sources use). */
  val apis: ConcurrentHashMap[String, PagedEventApi] = new ConcurrentHashMap

  def registerApi(id: String, api: PagedEventApi): Unit = apis.put(id, api)

  /** Driver-side availability clock per api id, in epoch DAYS — the
    * streaming face's `latestOffset`. The reference's scheduler is
    * CLOCK-driven (app.py:93 cron fires at fixed times and asks for
    * "today"), not data-driven: a feed day becomes fetchable when the
    * clock passes it, so the harness advances this clock and each
    * micro-batch covers the newly available days. Unset = the whole
    * option window is available at once (batch-equivalent catch-up). */
  private val clocks: ConcurrentHashMap[String, java.lang.Long] = new ConcurrentHashMap

  def advanceClock(id: String, epochDay: Long): Unit = clocks.put(id, epochDay)
  private[v2] def clockDay(id: String): Option[Long] = Option(clocks.get(id)).map(_.longValue)

  private[v2] def resolve(id: String): PagedEventApi = {
    val api = apis.get(id)
    require(api != null, s"graft-events: no API registered under '$id' " +
      "(GraftEventSource.registerApi first)")
    api
  }

  private[v2] val MicrosPerDay = 86400000000L
}

final class GraftEventTable(apiId: String) extends Table with SupportsRead {
  override def name(): String = s"graft_events($apiId)"
  override def schema(): StructType = GraftEventSource.FullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftEventScanBuilder(options)
}

final class GraftEventScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {
  private val apiId = options.get("api")
  require(apiId != null, "graft-events requires .option(\"api\", <registered id>)")
  private var fromDay: Long = java.time.LocalDate
    .parse(Option(options.get("from")).getOrElse("1970-01-01")).toEpochDay
  private var toDay: Long = java.time.LocalDate
    .parse(Option(options.get("to")).getOrElse("2100-01-01")).toEpochDay
  private var keySet: Option[Set[Long]] = None
  private var required: StructType = GraftEventSource.FullSchema
  private var pushed: Array[Filter] = Array.empty

  /** Filter value → epoch micros (UTC session contract; both the legacy
    * java.sql and the java8 datetime API spellings arrive here). */
  private def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(Math.multiplyExact(t.getTime, 1000L) +
      (t.getNanos / 1000) % 1000)
    case i: java.time.Instant => Some(Math.multiplyExact(i.getEpochSecond, 1000000L) +
      i.getNano / 1000)
    case _ => None
  }
  private def longVal(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case _ => None
  }
  private def floorDay(us: Long): Long = Math.floorDiv(us, GraftEventSource.MicrosPerDay)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filter {
      // user_id point/set predicates prune keys EXACTLY → absorbed
      case EqualTo("user_id", v) if longVal(v).isDefined =>
        keySet = Some(keySet.getOrElse(Set(longVal(v).get)) intersect Set(longVal(v).get))
        false
      case In("user_id", vs) if vs.nonEmpty && vs.forall(longVal(_).isDefined) =>
        val s = vs.flatMap(longVal).toSet
        keySet = Some(keySet.fold(s)(_ intersect s))
        false
      // ts bounds narrow the fetch window to whole API days — kept in the
      // residual (sub-day precision is re-applied post-scan)
      case GreaterThanOrEqual("ts", v) if tsMicros(v).isDefined =>
        fromDay = math.max(fromDay, floorDay(tsMicros(v).get)); true
      case GreaterThan("ts", v) if tsMicros(v).isDefined =>
        fromDay = math.max(fromDay, floorDay(tsMicros(v).get)); true
      case LessThanOrEqual("ts", v) if tsMicros(v).isDefined =>
        toDay = math.min(toDay, floorDay(tsMicros(v).get)); true
      case LessThan("ts", v) if tsMicros(v).isDefined =>
        // ts < T: the last candidate day is T's day (T at midnight still
        // admits nothing from that day, but day granularity can't tell)
        toDay = math.min(toDay, floorDay(tsMicros(v).get)); true
      case _ => true // untranslatable → Spark evaluates it post-scan
    }
    pushed = filters.diff(residual) ++ residual.filter {
      case GreaterThanOrEqual("ts", _) | GreaterThan("ts", _) |
           LessThanOrEqual("ts", _) | LessThan("ts", _) => true
      case _ => false
    }
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Limit pushdown stops each reader's PAGING once `n` rows are out —
    * pages never requested beat pages discarded. PARTIAL by nature (the
    * cut is per partition); Spark re-applies the global limit. */
  private var limit: Option[Int] = None
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = new GraftEventScan(apiId, fromDay, toDay,
    keySet, required, pushed.map(_.toString), limit,
    Option(options.get("partitions")).map(_.toInt),
    Option(options.get("maxRetries")).map(_.toInt).getOrElse(5),
    Option(options.get("backoffMs")).map(_.toLong).getOrElse(500L))
}

final class GraftEventScan(apiId: String, fromDay: Long, toDay: Long,
    keySet: Option[Set[Long]], override val readSchema: StructType,
    pushedDesc: Array[String], limit: Option[Int], partitionsOpt: Option[Int],
    maxRetries: Int, backoffMs: Long)
    extends Scan with Batch with SupportsRuntimeFiltering {
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-events api=$apiId window=[$fromDay,$toDay] " +
      s"PushedFilters: [${pushedDesc.mkString(", ")}], " +
      s"ReadSchema: ${readSchema.simpleString}"

  /** Join-driven runtime narrowing (SPARK-35779 dynamic filtering): when
    * this scan probes a broadcast join on `user_id`, Spark evaluates the
    * build side first and hands the key set here BEFORE partitions are
    * planned — whole keys drop out of the page plan at runtime, the DSv2
    * analogue of dynamic partition pruning. */
  private var runtimeKeys: Option[Set[Long]] = None
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("user_id"))
  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("user_id", vs) if vs.nonEmpty =>
      // ALL-or-nothing: a partially-converted value list would shrink the
      // key set below the join's true domain and wrongly prune live keys
      // out of the page plan (lost rows, not a missed optimization). If
      // any value arrives in a box we don't recognize, ignore the whole
      // filter — the safe direction for a runtime filter (Spark still
      // applies the join).
      val converted = vs.flatMap {
        case l: Long => Some(l)
        case i: Int => Some(i.toLong)
        case s: Short => Some(s.toLong)
        case b: Byte => Some(b.toLong)
        case _ => None
      }
      if (converted.length == vs.length) {
        val s = converted.toSet
        runtimeKeys = Some(runtimeKeys.fold(s)(_ intersect s))
      }
    case EqualTo("user_id", v: Long) =>
      runtimeKeys = Some(runtimeKeys.getOrElse(Set(v)) intersect Set(v))
    case _ => () // unsupported runtime filter: safely ignored (Spark re-applies)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (toDay < fromDay) return Array.empty // pushdown closed the window
    val api = GraftEventSource.resolve(apiId)
    val asOf = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(toDay))
    // symbol-list endpoint: one driver-side dimension call, retried like
    // any other endpoint (it throws the same transient 5xx class)
    val listed = new ApiRetrySession(api, maxRetries, backoffMs)
      .call(t => api.listKeys(t, asOf))
    val statics = keySet.fold(listed)(s => listed.filter(s))
    val keys = runtimeKeys.fold(statics)(s => statics.filter(s)).sorted
    val n = math.max(1, partitionsOpt.getOrElse(
      SparkSession.active.sparkContext.defaultParallelism))
    keys.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1)
      .map { case (_, ks) =>
        GraftEventInputPartition(ks.map(_._1).toArray, fromDay, toDay)
          : InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftEventReaderFactory(GraftEventSource.resolve(apiId),
      maxRetries, backoffMs, readSchema, limit)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftEventMicroBatchStream(apiId, fromDay, toDay, keySet,
      readSchema, partitionsOpt, maxRetries, backoffMs)
}

/** Day offset for the streaming face: the last epoch day fully ingested. */
final case class GraftDayOffset(day: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = day.toString
}

/** `spark.readStream.format("graft-events")` — the SAME paged feed as a
  * micro-batch stream. Offsets are epoch DAYS (the feed's natural unit:
  * the reference ingests day-granular candles); a micro-batch covers the
  * days between the committed and the latest offset for every listed key,
  * read by the SAME executor-side paging readers as the batch face.
  * `latestOffset` is the availability CLOCK ([[GraftEventSource.advanceClock]],
  * capped at the option window's `to`) — clock-driven like the reference's
  * scheduler, so a quiet feed simply plans no batch. Exactly-once falls
  * out of the offset contract: the engine checkpoints the committed day,
  * and a restart replays only days after it (pages are deterministic
  * snapshots, so a replayed day cannot duplicate rows downstream of the
  * checkpoint). */
final class GraftEventMicroBatchStream(apiId: String, fromDay: Long,
    toDay: Long, keySet: Option[Set[Long]], schema: StructType,
    partitionsOpt: Option[Int], maxRetries: Int, backoffMs: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftDayOffset(fromDay - 1)

  override def latestOffset(): Offset = {
    val avail = GraftEventSource.clockDay(apiId).fold(toDay)(math.min(_, toDay))
    GraftDayOffset(math.max(avail, fromDay - 1))
  }

  override def deserializeOffset(json: String): Offset =
    GraftDayOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftDayOffset].day + 1
    val hi = end.asInstanceOf[GraftDayOffset].day
    if (hi < lo) return Array.empty
    val api = GraftEventSource.resolve(apiId)
    val asOf = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(hi))
    val listed = new ApiRetrySession(api, maxRetries, backoffMs)
      .call(t => api.listKeys(t, asOf))
    val keys = keySet.fold(listed)(s => listed.filter(s)).sorted
    val n = math.max(1, partitionsOpt.getOrElse(
      SparkSession.active.sparkContext.defaultParallelism))
    keys.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1)
      .map { case (_, ks) =>
        GraftEventInputPartition(ks.map(_._1).toArray, lo, hi): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftEventReaderFactory(GraftEventSource.resolve(apiId),
      maxRetries, backoffMs, schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class GraftEventInputPartition(keys: Array[Long],
    fromDay: Long, toDay: Long) extends InputPartition

final class GraftEventReaderFactory(api: PagedEventApi, maxRetries: Int,
    backoffMs: Long, schema: StructType, limit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftEventInputPartition]
    new GraftEventPartitionReader(api, maxRetries, backoffMs, schema,
      gp.keys, gp.fromDay, gp.toDay, limit)
  }
}

/** Executor-side reader: one retry session per partition; pages through
  * each key's window via the `tr_cont` cursor (a transient failure
  * retries THE PAGE); projects each wire row to the pruned schema. */
final class GraftEventPartitionReader(api: PagedEventApi, maxRetries: Int,
    backoffMs: Long, schema: StructType, keys: Array[Long],
    fromDay: Long, toDay: Long, limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {
  private val session = new ApiRetrySession(api, maxRetries, backoffMs)
  private val from = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(fromDay))
  private val to = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(toDay))
  // field projectors resolved ONCE against the pruned schema
  private val fields = schema.fieldNames.map {
    case "event_id" => (r: graft.sources.ApiEventRow) => r.event_id: Any
    case "ts" => (r: graft.sources.ApiEventRow) => r.ts_micros: Any
    case "user_id" => (r: graft.sources.ApiEventRow) => r.user_id: Any
    case "event_type" => (r: graft.sources.ApiEventRow) =>
      UTF8String.fromString(r.event_type): Any
    case "value" => (r: graft.sources.ApiEventRow) => r.value: Any
    case "props" => (r: graft.sources.ApiEventRow) =>
      UTF8String.fromString(r.props): Any
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  private val rows: Iterator[graft.sources.ApiEventRow] =
    keys.iterator.flatMap { uid =>
      Iterator.unfold(Option.empty[String] -> true) {
        case (_, false) => None
        case (cursor, true) =>
          val page = session.call(t => api.fetchPage(t, uid, from, to, cursor))
          Some(page.rows -> (page.next, page.next.isDefined))
      }.flatten
    }
  private var current: InternalRow = _
  private var emitted = 0

  override def next(): Boolean =
    // pushed limit: stop PAGING, not just emitting — `rows` is lazy, so
    // pages past the cut are never requested from the server
    if (limit.forall(emitted < _) && rows.hasNext) {
      val r = rows.next()
      current = new GenericInternalRow(fields.map(_(r)))
      emitted += 1
      true
    } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
