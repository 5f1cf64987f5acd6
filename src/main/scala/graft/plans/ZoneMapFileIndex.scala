package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GenericRowWithSchema, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Zone-map data skipping INSIDE the planner (VERDICT r12 stretch task):
  * a [[FileIndex]] whose `listFiles` applies the footer-derived per-file
  * [min, max] zones to the query's own pushed data filters — the
  * partition-pruning analogue for NON-partition columns, the way
  * Delta/Iceberg surface their statistics to Spark.
  *
  * This is graft's ONE pruning path (r40, r46, r47, sql09, sql11): the
  * pruning lives INSIDE the plan, so any predicate composed on top
  * prunes, and joins/DPP over the table see the pruned relation. The
  * listing itself is filter-aware: Catalyst pushes the
  * scan's data filters into `listFiles` (`FileSourceScanExec` passes them
  * for exactly this hook), the index drops every file whose zones are
  * provably disjoint with the conjunctive bounds, and the residual
  * predicate still reaches the parquet reader as PushedFilters — pruning
  * is an optimization, never a semantics change.
  *
  * Bound extraction is CONSERVATIVE: only top-level conjuncts of the
  * shapes `col (<|<=|>|>=|=) literal` (either operand order) over the
  * registered skip columns tighten a bound; anything else is ignored and
  * the affected files stay in the listing. Literal values are widened
  * OUTWARD onto the double grid (lo bounds round down, hi bounds round
  * up) so a 64-bit integral or high-precision decimal literal beyond
  * 2^53 can never tighten a bound past the true predicate range — a
  * boundary-equal file stays listed. A file with no zone row also stays.
  * Soundness: a file is dropped ONLY when its zone cannot intersect
  * bounds implied by predicates the scan itself still applies.
  *
  * LIFECYCLE (round-14): files appended to the layout after construction
  * become visible through [[refresh]] — Spark's own hook (`REFRESH
  * TABLE`, `DataFrame.refresh`): it re-lists the root and reads footer
  * zones for ONLY the new files through [[ZoneMapFileIndex.readFooters]]
  * (per-new-file metadata I/O, the same increment [[graft.operators
  * .ZoneMap.appendZorder]] pays); files that vanished (compaction) drop
  * out of both the listing and the zone set. Statuses and zones are
  * otherwise immutable snapshots — consistent for any one query.
  *
  * At 100 TB the index holds one (file, zones) row per file — the same
  * file-count-scale metadata [[graft.operators.ZoneMap]] memoizes — and listing is
  * a driver-side filter over it: zero data reads, zero Spark jobs.
  */
final class ZoneMapFileIndex(
    root: Path,
    zones0: Array[Row],
    statuses0: Seq[FileStatus],
    /** the skip columns: each zones as doubles or longs by its type in
      * `dataSchema` ([[ZoneMapFileIndex.longZone]]) */
    skipCols: Seq[String],
    dataSchema: StructType,
    hadoopConf: Configuration) extends FileIndex {
  import ZoneMapFileIndex.{maxField, minField}

  /** The skip columns whose zones are LONGS (round-15): timestamp
    * (micros), date and integral columns — the columns real 100-TB
    * skipping bites hardest on. Long zones compare EXACTLY (TimestampType
    * literals are Long micros, integral literals are integral), so no
    * grid-widening is needed for them; only a fractional literal against
    * a long zone rounds, OUTWARD onto the long grid (lo floors, hi ceils).
    * The rest zone as doubles. */
  private val longZoned: Set[String] =
    skipCols.filter(c => ZoneMapFileIndex.longZone(dataSchema(c).dataType)).toSet

  // snapshot state, replaced wholesale by refresh() (volatile: a refresh
  // from one thread must publish a consistent (statuses, zones, byPath)
  // triple to planners on others)
  @volatile private var state: (Seq[FileStatus], Array[Row], Map[String, FileStatus]) =
    (statuses0, zones0, statuses0.map(s => s.getPath.toString -> s).toMap)

  private def statuses: Seq[FileStatus] = state._1
  private def zones: Array[Row] = state._2
  private def byPath: Map[String, FileStatus] = state._3

  override def rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = StructType(Nil)
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  /** Re-list the root and fold in appended files' zones (footer reads for
    * ONLY the new files); drop vanished files. Synchronized so concurrent
    * refreshes never double-derive a file's zones. */
  override def refresh(): Unit = synchronized {
    val fs = root.getFileSystem(hadoopConf)
    val listed = ZoneMapFileIndex.listParquet(fs, root)
    val listedKeys = listed.map(_.getPath.toString).toSet
    val known = byPath.keySet
    val fresh = listed.filterNot(s => known.contains(s.getPath.toString))
    val keptZones = zones.filter(z => listedKeys.contains(z.getAs[String]("file")))
    val newZones =
      if (fresh.isEmpty) Array.empty[Row]
      else ZoneMapFileIndex.readFooters(hadoopConf, fresh.map(_.getPath), skipCols)._2
    state = (listed, keptZones ++ newZones,
      listed.map(s => s.getPath.toString -> s).toMap)
  }

  /** Literal -> double bound, widened OUTWARD (`up = true` for hi bounds:
    * never below the true value; `up = false` for lo bounds: never above).
    * Exact-on-the-grid values pass through; a Long/Decimal that rounds
    * toward the predicate interior steps one ulp back out. Float/Double
    * literals are already grid values; Int and narrower are exact. */
  private def asBound(v: Any, up: Boolean): Option[Double] = {
    def widen(d: Double, exact: BigDecimal): Double =
      if (d.isInfinite || BigDecimal(d) == exact) d
      else if (up) { if (BigDecimal(d) < exact) Math.nextUp(d) else d }
      else { if (BigDecimal(d) > exact) Math.nextDown(d) else d }
    v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case s: Short => Some(s.toDouble)
      case b: Byte => Some(b.toDouble)
      case l: Long => Some(widen(l.toDouble, BigDecimal(l)))
      case d: Decimal => Some(widen(d.toDouble, d.toBigDecimal))
      case _ => None
    }
  }

  /** Literal -> LONG bound for the long zones. Integral and
    * timestamp/date literals (Long micros / Int days in Catalyst) are
    * exact on the long grid — no widening. A fractional literal rounds
    * OUTWARD (lo floors, hi ceils); out-of-domain bounds saturate toward
    * the long domain, which only ever KEEPS files (every stored zone
    * value is a long). */
  private def asLongBound(v: Any, up: Boolean): Option[Long] = {
    def frac(x: BigDecimal): Some[Long] = {
      val r = x.setScale(0,
        if (up) BigDecimal.RoundingMode.CEILING else BigDecimal.RoundingMode.FLOOR)
      if (r <= BigDecimal(Long.MinValue)) Some(Long.MinValue)
      else if (r >= BigDecimal(Long.MaxValue)) Some(Long.MaxValue)
      else Some(r.toLong)
    }
    v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case d: Double if d.isNaN => None // never-true predicate; ignore = keep
      case d: Double if d.isInfinite =>
        Some(if (d > 0) Long.MaxValue else Long.MinValue)
      case d: Double => frac(BigDecimal(d))
      case f: Float => asLongBound(f.toDouble, up)
      case d: Decimal => frac(d.toBigDecimal)
      case _ => None
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // consistent snapshot for this one planning pass
    val (snapStatuses, snapZones, snapByPath) = state
    // conservative per-column bounds from the recognizable conjuncts —
    // exact longs for long zones, doubles for the rest
    val lo = collection.mutable.Map.empty[String, Double]
    val hi = collection.mutable.Map.empty[String, Double]
    val loL = collection.mutable.Map.empty[String, Long]
    val hiL = collection.mutable.Map.empty[String, Long]
    // a lo bound must round DOWN (the used bound stays ≤ the true one),
    // a hi bound UP — both keep `zone ∩ bounds = ∅ ⇒ zone ∩ pred = ∅`
    def tightenLo(c: String, v: Any): Unit =
      if (longZoned.contains(c))
        asLongBound(v, up = false).foreach(l =>
          loL.updateWith(c)(p => Some(p.fold(l)(math.max(_, l)))): Unit)
      else
        asBound(v, up = false).foreach(d =>
          lo.updateWith(c)(p => Some(p.fold(d)(math.max(_, d)))): Unit)
    def tightenHi(c: String, v: Any): Unit =
      if (longZoned.contains(c))
        asLongBound(v, up = true).foreach(l =>
          hiL.updateWith(c)(p => Some(p.fold(l)(math.min(_, l)))): Unit)
      else
        asBound(v, up = true).foreach(d =>
          hi.updateWith(c)(p => Some(p.fold(d)(math.min(_, d)))): Unit)
    def skip(a: Expression): Option[String] = a match {
      case ar: AttributeReference if skipCols.contains(ar.name) => Some(ar.name)
      case _ => None
    }
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case GreaterThanOrEqual(a, Literal(v, _)) =>
        skip(a).foreach(tightenLo(_, v))
      case GreaterThan(a, Literal(v, _)) =>
        skip(a).foreach(tightenLo(_, v))
      case LessThanOrEqual(a, Literal(v, _)) =>
        skip(a).foreach(tightenHi(_, v))
      case LessThan(a, Literal(v, _)) =>
        skip(a).foreach(tightenHi(_, v))
      case EqualTo(a, Literal(v, _)) =>
        skip(a).foreach { c => tightenLo(c, v); tightenHi(c, v) }
      // literal-first spellings
      case GreaterThanOrEqual(Literal(v, _), a) =>
        skip(a).foreach(tightenHi(_, v))
      case GreaterThan(Literal(v, _), a) =>
        skip(a).foreach(tightenHi(_, v))
      case LessThanOrEqual(Literal(v, _), a) =>
        skip(a).foreach(tightenLo(_, v))
      case LessThan(Literal(v, _), a) =>
        skip(a).foreach(tightenLo(_, v))
      case EqualTo(Literal(v, _), a) =>
        skip(a).foreach { c => tightenLo(c, v); tightenHi(c, v) }
      case _ => ()
    }
    dataFilters.foreach(visit)

    val selected: Array[FileStatus] =
      if (lo.isEmpty && hi.isEmpty && loL.isEmpty && hiL.isEmpty)
        snapStatuses.toArray
      else {
        val zoned = snapZones.flatMap { z =>
          val admits = skipCols.forall { c =>
            if (longZoned.contains(c)) {
              val (zmin, zmax) = (z.getAs[Long](minField(c)), z.getAs[Long](maxField(c)))
              loL.get(c).forall(zmax >= _) && hiL.get(c).forall(zmin <= _)
            } else {
              val (zmin, zmax) = (z.getAs[Double](minField(c)), z.getAs[Double](maxField(c)))
              lo.get(c).forall(zmax >= _) && hi.get(c).forall(zmin <= _)
            }
          }
          if (admits) snapByPath.get(z.getAs[String]("file")) else None
        }
        // files without a zone row are never silently dropped
        val zonedKeys = snapZones.map(_.getAs[String]("file")).toSet
        zoned ++ snapStatuses.filterNot(s => zonedKeys.contains(s.getPath.toString))
      }
    Seq(PartitionDirectory(InternalRow.empty, selected))
  }
}

object ZoneMapFileIndex {
  /** Whether a skip column of type `dt` zones as exact LONGS (integral,
    * date days, timestamp micros — the INT32/INT64 values parquet stores)
    * or as DOUBLES (float, double). Other types cannot register. */
  def longZone(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => true
    case FloatType | DoubleType => false
    case other => throw new IllegalArgumentException(
      s"zone maps cover integral, date, timestamp, float and double columns, not $other")
  }

  def minField(c: String): String = s"${c}_min"
  def maxField(c: String): String = s"${c}_max"

  /** The one zone-row shape over `cols`: (file, <c>_min, <c>_max per
    * column, n_rows), each bound typed by [[longZone]]. */
  private def zoneSchema(schema: StructType, cols: Seq[String]): StructType = {
    val bounds = cols.flatMap { c =>
      val t = if (longZone(schema(c).dataType)) LongType else DoubleType
      Seq(StructField(minField(c), t), StructField(maxField(c), t))
    }
    StructType(StructField("file", StringType) +: bounds :+ StructField("n_rows", LongType))
  }

  /** The parquet data files directly under `root`. */
  def listParquet(fs: FileSystem, root: Path): Seq[FileStatus] =
    fs.listStatus(root).toSeq.filter(_.getPath.getName.endsWith(".parquet"))

  /** The one zone reader: the first file's footer schema
    * ([[graft.sources.Tables.footerSchema]]; graft writes one schema per
    * layout) and one zone row per file over `cols` — file-count-scale
    * driver I/O, no Spark job and no data-column read. A column without usable footer
    * statistics in some row group gets an UNBOUNDED zone (it matches
    * every band, so pruning stays sound and only skip ratio is lost).
    * Rows are keyed by the Hadoop `Path.toString` rendering, the one
    * `FileStatus` and `_metadata.file_path` share (file:/tmp/...). */
  def readFooters(conf: Configuration, files: Seq[Path],
      cols: Seq[String]): (StructType, Array[Row]) = {
    import scala.jdk.CollectionConverters._
    val read = files.sortBy(_.toString).map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val footer = reader.getFooter
        val schema = graft.sources.Tables.footerSchema(footer.getFileMetaData, SQLConf.get)
        val zSchema = zoneSchema(schema, cols)
        val blocks = footer.getBlocks.asScala.toSeq
        val bounds = cols.flatMap { c =>
          val long = longZone(schema(c).dataType)
          // timestamp zones are micros: statistics in another unit (millis,
          // INT96) would prune unsoundly, so those zone unbounded
          val usable = schema(c).dataType != TimestampType ||
            footer.getFileMetaData.getSchema.getType(Array(c): _*).getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)
          val perBlock = blocks.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c)
              .map(_.getStatistics)
              .filter(s => usable && s != null && s.hasNonNullValue)
              .map(s => (s.genericGetMin.asInstanceOf[Number],
                s.genericGetMax.asInstanceOf[Number]))
          }
          val unbounded = perBlock.isEmpty || perBlock.exists(_.isEmpty)
          if (long) {
            if (unbounded) Seq(Long.MinValue, Long.MaxValue)
            else Seq(perBlock.map(_.get._1.longValue).min, perBlock.map(_.get._2.longValue).max)
          } else {
            if (unbounded) Seq(Double.NegativeInfinity, Double.PositiveInfinity)
            else Seq(perBlock.map(_.get._1.doubleValue).min, perBlock.map(_.get._2.doubleValue).max)
          }
        }
        schema -> (new GenericRowWithSchema(
          (p.toString +: bounds :+ blocks.map(_.getRowCount).sum).toArray, zSchema): Row)
      } finally reader.close()
    }
    (read.headOption.fold(StructType(Nil))(_._1), read.map(_._2).toArray)
  }

  /** Wrap a parquet layout as a DataFrame whose scan prunes files through
    * the footer zone map at PLANNING time. `zones` are [[readFooters]]
    * rows over `skipCols`; files appended after construction get theirs
    * from their own footers on [[ZoneMapFileIndex.refresh]]. */
  def table(spark: SparkSession, layout: String, zones: Array[Row],
      schema: StructType, skipCols: Seq[String]): DataFrame = {
    val rootPath = new Path(layout)
    val conf = spark.sparkContext.hadoopConfiguration
    val index = new ZoneMapFileIndex(rootPath, zones,
      listParquet(rootPath.getFileSystem(conf), rootPath), skipCols, schema, conf)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
  }
}
