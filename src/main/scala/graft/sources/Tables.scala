package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.plans.ZoneMapFileIndex

/** Typed access to the driver-generated parquet tables.
  *
  * Every load is `spark.read.schema(<footer schema>).parquet`: the schema
  * comes from the first data file's footer ([[parquetSchema]]), read on the
  * driver, so a load runs no Spark job, where a bare `spark.read.parquet`
  * runs a schema-inference job per call. The footer schema is the type
  * Spark's own inference yields, so Catalyst keeps full pushdown (filters +
  * column pruning reach the scan) and [[normalizeEventTs]] still keys off
  * each table's own `ts` encoding. Case classes model the fixed schemas for
  * `Dataset[T]` call sites that want compile-time field checks.
  */
object Tables {
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.sql.Timestamp)
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** The schema Spark's parquet inference yields for one file's footer,
    * without its job: the Spark schema the writer stored in the footer when
    * there is one, else the footer's parquet schema converted under `conf`
    * (which carries the session's `nanosAsLong`, NTZ inference and binary
    * flags). Every field reads back nullable, as Spark's reader makes it. */
  private[graft] def footerSchema(meta: FileMetaData, conf: SQLConf): StructType = {
    def nullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    val stored = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
    nullable(stored.getOrElse(new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema)))
      .asInstanceOf[StructType]
  }

  /** The schema of the parquet table at `path` (one file, or a directory of
    * files sharing one schema) from its first data file's footer — a driver
    * metadata read under the session's own conf; `None` when `path` holds
    * no data file. */
  private[graft] def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    ZoneMapFileIndex.listParquet(p.getFileSystem(conf), p).map(_.getPath)
      .sortBy(_.toString).headOption.map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try footerSchema(reader.getFooter.getFileMetaData,
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)
        finally reader.close()
      }
  }

  /** A parquet table read under its [[parquetSchema]], with no job; a path
    * without a data file falls back to the plain read (and its error). */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    parquetSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** DuckDB-side view of `events` with `ts` truncated from nanos to micros,
    * matching [[events]]. Prepend to any oracle SQL touching events. */
  val eventsOracleCte: String =
    """WITH events_us AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |         user_id, event_type, value, props
      |  FROM events)""".stripMargin

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** Normalize an events frame's `ts` to a plain micros TIMESTAMP regardless
    * of how the parquet encoded it. The driver has shipped this column as
    * TIMESTAMP(NANOS) (readable only as int64 under `nanosAsLong`), as
    * timestamp[us], and could plausibly ship timestamp_ntz or ms — the
    * engine contract is "ts is a session-TZ micros timestamp", so the branch
    * lives here, once, keyed off the actual scanned type:
    *   - LongType        → nanos-as-long: truncate ns→us (`div 1000`)
    *   - TimestampNTZType→ reinterpret as UTC wall clock (sessions run UTC,
    *                       so NTZ and instant semantics coincide)
    *   - TimestampType   → already micros, pass through
    * The DuckDB oracle side (`epoch_ns(ts) // 1000` in [[eventsOracleCte]])
    * is unit-agnostic and matches all three. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // The NTZ cast reinterprets wall-clock fields in the SESSION zone;
        // the engine contract is UTC instants. A caller-built session on a
        // zone with a nonzero offset would silently shift every event —
        // fail loudly instead (the unknown-type branch below already
        // does). Zone equivalence, not string equality: GMT / Etc/UTC /
        // +00:00 are all semantically UTC and always produced correct
        // results here.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        val utcEquivalent = scala.util.Try {
          java.time.ZoneId.of(tz).getRules.isFixedOffset &&
            java.time.ZoneId.of(tz).getRules
              .getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
        }.getOrElse(false)
        require(utcEquivalent,
          s"events.ts is timestamp_ntz: reading it requires a UTC session " +
            s"(spark.sql.session.timeZone=$tz would shift every instant)")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported parquet type $other (expected int64 nanos, timestamp, or timestamp_ntz)")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    // Runtime-settable SQL conf; set defensively so a TIMESTAMP(NANOS)
    // encoding stays readable (as int64) even on sessions the caller built
    // without GraftSession (e.g. an external smoke harness). Harmless for
    // the us/ntz encodings.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
