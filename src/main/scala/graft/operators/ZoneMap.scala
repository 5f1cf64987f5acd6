package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampType}

import graft.plans.ZoneMapFileIndex
import graft.sources.Tables

/** File-level zone-map data skipping — min/max statistics pruning on a
  * NON-partition column (the Delta/Iceberg data-skipping primitive,
  * expressed with plain parquet + a metadata table).
  *
  * Partition pruning (r16/r19) answers predicates on the partition column
  * only. A range predicate on an ordinary column still scans every file —
  * unless the layout is value-CLUSTERED and a per-file [min, max] "zone
  * map" lets the planner drop files whose range cannot intersect the
  * predicate. Three pieces, one of each:
  *
  *   1. CLUSTER-THEN-SKIP layouts: `repartitionByRange` on the skip
  *      column (r40's price, the events' ts) or on a Morton code of two
  *      (r46/r47's price × quantity) before the write gives each file a
  *      narrow value range. Skipping only bites when values are
  *      clustered — a random layout's zones all span the full domain.
  *   2. The zone map is READ FROM PARQUET FOOTERS
  *      ([[graft.plans.ZoneMapFileIndex.readFooters]]) — the write already
  *      persisted per-file column statistics and the Spark schema, so a
  *      layout's metadata is file-count-scale driver I/O (one row per
  *      FILE — at 100 TB with 1 GiB files that is ~10^5 rows, a
  *      dimension), ZERO Spark jobs and zero data-column reads even in a
  *      fresh session. One memo ([[layouts]]) holds each layout's path,
  *      schema and zone rows; [[appendZorder]] maintains it incrementally
  *      from the new files' footers; the scan-based [[zoneMap]] remains as
  *      the derivation spec the footer rows are tested against.
  *   3. Pruning happens in ONE place, the planner: every query reads its
  *      layout through [[graft.plans.ZoneMapFileIndex]], whose listing
  *      drops the files the query's own pushed filters exclude. The
  *      residual predicate still reaches the parquet reader (zones overlap
  *      at file boundaries, so the filter stays — skipping is an
  *      optimization, never a semantics change). r40 and r46 assert the
  *      skip actually bit: strictly fewer files listed than the layout
  *      holds.
  *
  * The DuckDB oracle runs the same predicate over the ORIGINAL unclustered
  * table, so the gate proves pruned-read ≡ full-scan semantics.
  */
object ZoneMap {
  /** Files in the clustered layout; at sf0.01 each covers ~1/16 of the
    * price quantile range, so the band predicate touches 1–3 of them. */
  val ZoneFiles = 16
  /** The range predicate (inclusive both ends, ~6% of the value domain). */
  val PriceLo = 30000.0
  val PriceHi = 36000.0

  /** A zone-mapped layout: its path, the Spark schema its footers carry,
    * its skip columns and one footer zone row per file. */
  private[graft] final case class Layout(path: String, schema: StructType,
      cols: Seq[String], zones: Array[Row])

  /** The one layout memo, keyed by layout path. Layouts are immutable
    * derived state built once per JVM (the bench sweep and the verify gate
    * both call the queries; same memoization discipline as the ANN index
    * workspace) under one shutdown-hook-cleaned root (Extras.tempDir). */
  private[graft] val layouts = scala.collection.concurrent.TrieMap.empty[String, Layout]

  private lazy val layoutRoot = Extras.tempDir("graft_zonemap")

  /** The layout at `path` from its footers, memoized. */
  private[graft] def layoutAt(spark: SparkSession, path: String,
      cols: Seq[String]): Layout =
    layouts.getOrElseUpdate(path, {
      val root = new Path(path)
      val conf = spark.sparkContext.hadoopConfiguration
      val files = ZoneMapFileIndex.listParquet(root.getFileSystem(conf), root).map(_.getPath)
      val (schema, zones) = ZoneMapFileIndex.readFooters(conf, files, cols)
      Layout(path, schema, cols, zones)
    })

  /** The `kind` layout of source dir `dir`: written once by `write` (under
    * a path derived from both, so a dropped memo entry re-reads the
    * committed layout's footers instead of rebuilding it), then read
    * through [[layoutAt]]. Synchronized: two first callers must not write
    * the same path. */
  private def built(spark: SparkSession, kind: String, dir: String,
      cols: Seq[String])(write: String => Unit): Layout = synchronized {
    val path = s"$layoutRoot/$kind-" +
      java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
    val done = new Path(path, "_SUCCESS")
    if (!layouts.contains(path) &&
        !done.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(done))
      write(path)
    layoutAt(spark, path, cols)
  }

  /** The layout as a PLANNER-INTEGRATED table: the scan's file listing
    * applies the footer zone map to the query's own pushed data filters
    * ([[graft.plans.ZoneMapFileIndex]]) — the partition-pruning analogue
    * for non-partition columns. Schema and zones come from the memo, so
    * building the table runs no Spark job. */
  private[graft] def table(spark: SparkSession, l: Layout): DataFrame =
    ZoneMapFileIndex.table(spark, l.path, l.zones, l.schema, l.cols)

  private val lineitemCols = Seq("l_orderkey", "l_returnflag", "l_quantity",
    "l_extendedprice", "l_discount").map(col)

  private[graft] def zonemapLayout(spark: SparkSession, dir: String): Layout =
    built(spark, "zonemap", dir, Seq("l_extendedprice")) { out =>
      Tables.lineitem(spark, dir).select(lineitemCols: _*)
        .repartitionByRange(ZoneFiles, col("l_extendedprice"))
        .write.mode("overwrite").parquet(out)
    }

  /** The scan-based derivation of [[layoutAt]]'s zone rows over `cols`:
    * one partial-aggregable file-grouped scan with the same row shape
    * (long zones as integral values, day numbers or micros). The
    * derivation spec footer rows are tested against, per file. */
  def zoneMap(spark: SparkSession, layout: String, cols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(layout)
    def asZone(c: Column, dt: DataType): Column = dt match {
      case TimestampType => unix_micros(c)
      case DateType => unix_date(c).cast("long")
      case _ => c.cast(if (ZoneMapFileIndex.longZone(dt)) "long" else "double")
    }
    val bounds = cols.flatMap { c =>
      val dt = df.schema(c).dataType
      Seq(asZone(min(col(c)), dt).as(ZoneMapFileIndex.minField(c)),
        asZone(max(col(c)), dt).as(ZoneMapFileIndex.maxField(c)))
    }
    df.select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(bounds.head, bounds.tail :+ count(lit(1)).as("n_rows"): _*)
  }

  /** The conjunction of inclusive bands, left-nested in argument order. */
  private def band(bands: (String, Double, Double)*): Column =
    bands.flatMap { case (c, lo, hi) => Seq(col(c) >= lo, col(c) <= hi) }.reduce(_ && _)

  /** The band summary per return flag in exact integer cents. */
  private def bandSummary(table: DataFrame, pred: Column): DataFrame =
    table.filter(pred)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(graft.functions.Money.cents(col("l_quantity"))).cast("double") / 100.0)
          .as("sum_qty"),
        (sum(graft.functions.Money.cents(col("l_extendedprice"))).cast("double") / 100.0)
          .as("sum_price"))
      .orderBy(col("l_returnflag"))

  /** `query` after asserting its zone map bit: the index lists at least
    * one file, and strictly fewer than the layout holds, under the
    * query's own pushed filters (planning only — no Spark job). */
  private def requireSkips(query: DataFrame, what: String): DataFrame = {
    val scan = query.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val index = scan.relation.location
    val listed = index.listFiles(Nil, scan.dataFilters).map(_.files.size).sum
    val total = index.inputFiles.length
    require(listed > 0, s"$what matched no file for a non-empty band")
    require(listed < total,
      s"$what failed to skip: $listed of $total files matched — layout not clustered?")
    query
  }

  // ---------------------------------------------------------------- r40
  /** Range-band revenue summary over the price-clustered layout: the naive
    * filter over the index-backed table, so only the files whose price
    * zones intersect the band are read. */
  def zonemapSkip(spark: SparkSession, dir: String): DataFrame =
    requireSkips(bandSummary(table(spark, zonemapLayout(spark, dir)),
      band(("l_extendedprice", PriceLo, PriceHi))),
      s"zone map [$PriceLo, $PriceHi]")

  val zonemapSkipSql: String =
    s"""SELECT l_returnflag, count(*) AS n_lines,
       |  CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
       |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
       |FROM lineitem
       |WHERE l_extendedprice BETWEEN $PriceLo AND $PriceHi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- r46
  // 2-D Z-ORDER layout (Delta/Iceberg `OPTIMIZE ZORDER BY`, expressed with
  // plain parquet): r40's 1-D clustering only serves predicates on THE
  // clustered column — a conjunctive 2-column band still reads every file
  // the price band admits, however selective the second band is. Morton-
  // interleaving the two columns' rank buckets gives every file a small
  // RECTANGLE-ish region of the (price, quantity) plane, so per-file
  // [min, max] zones on BOTH columns prune on BOTH predicates. The curve
  // math is layout-only: zones are honest per-file stats over real values,
  // the residual filter stays on the pruned scans, and the oracle runs the
  // same predicate over the original unclustered table.

  /** Files in the z-ordered layout. 64 contiguous z-ranges ≈ level-3
    * quadtree cells of the 256×256 bucket grid, so a band pair spanning
    * ~6% × ~6% of the two domains touches a handful of files. */
  val ZFiles = 64
  /** The conjunctive band: [[PriceLo]]..[[PriceHi]] AND this quantity
    * band (~6% of the 1..50 domain). */
  val QtyLo = 10.0
  val QtyHi = 12.0
  private val ZBits = 8 // buckets per dimension = 2^ZBits = 256

  /** Spread the low 8 bits of `c` to even bit positions (Morton spread,
    * the classic mask-shift cascade) — pure int arithmetic, codegen'd. */
  private def spread8(c: Column): Column = {
    val m = c.bitwiseAND(lit(0xFF))
    val a = m.bitwiseOR(shiftleft(m, 4)).bitwiseAND(lit(0x0F0F))
    val b = a.bitwiseOR(shiftleft(a, 2)).bitwiseAND(lit(0x3333))
    b.bitwiseOR(shiftleft(b, 1)).bitwiseAND(lit(0x5555))
  }

  /** Uniform rank bucket of `c` over [mn, mx] in [0, 2^ZBits). Bucketing
    * shapes the LAYOUT only — an off-range or skewed value merely lands
    * in an edge bucket and costs skip ratio, never correctness. */
  private def bucket(c: Column, mn: Double, mx: Double): Column =
    least(lit((1 << ZBits) - 1), greatest(lit(0),
      floor((c - mn) / (mx - mn + 1e-9) * (1 << ZBits)).cast("int")))

  /** Morton code of (price, quantity) rank buckets. */
  private def zCode(price: Column, qty: Column,
      pMin: Double, pMax: Double, qMin: Double, qMax: Double): Column =
    spread8(bucket(price, pMin, pMax))
      .bitwiseOR(shiftleft(spread8(bucket(qty, qMin, qMax)), 1))

  /** Bounds pass + one range-shuffle z-ordered write of `df` into `out`:
    * one dimension-scale min/max pass for the bucket bounds, then ONE
    * repartitionByRange on the Morton expression (each file = a
    * contiguous z-range by row count). The z-code is a partitioning
    * expression only — nothing extra is stored. */
  private[graft] def writeZorder(df: DataFrame, out: String, files: Int,
      mode: String = "overwrite"): Unit = {
    val b = df.agg(min(col("l_extendedprice")), max(col("l_extendedprice")),
      min(col("l_quantity")), max(col("l_quantity"))).head()
    df.repartitionByRange(files, zCode(col("l_extendedprice"), col("l_quantity"),
        b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3)))
      .write.mode(mode).parquet(out)
  }

  /** The z-ordered layout's skip columns. */
  private[graft] val ZCols = Seq("l_extendedprice", "l_quantity")

  /** The z-ordered layout per source dir, built once per JVM. */
  private[graft] def zorderLayout(spark: SparkSession, dir: String): Layout =
    built(spark, "zorder", dir, ZCols) { out =>
      writeZorder(Tables.lineitem(spark, dir).select(lineitemCols: _*), out, ZFiles)
    }

  /** r46: the conjunctive band summary through the 2-D zone map — r47's
    * planner path plus the assertion that the skip bit. */
  def zorderSkip(spark: SparkSession, dir: String): DataFrame =
    requireSkips(zorderPlanned(spark, dir),
      s"z-order zone map [$PriceLo,$PriceHi]×[$QtyLo,$QtyHi]")

  // --------------------------------------------------------------- r47
  /** The z-ordered layout as a planner-integrated table: any predicate
    * composed on top prunes automatically, joins/DPP over the table see
    * the pruned relation, and the residual predicate still reaches the
    * parquet reader as PushedFilters (spec-pinned). */
  def zorderTable(spark: SparkSession, dir: String): DataFrame =
    table(spark, zorderLayout(spark, dir))

  /** r47: r46's conjunctive band summary as the NAIVE spelling (filter
    * over the table, no file-list plumbing) — the zone-map skip happens
    * at planning time. Same DuckDB oracle as r46. */
  def zorderPlanned(spark: SparkSession, dir: String): DataFrame =
    bandSummary(zorderTable(spark, dir),
      band(("l_extendedprice", PriceLo, PriceHi), ("l_quantity", QtyLo, QtyHi)))

  /** Incremental layout maintenance: append `delta` (same column set) as
    * NEW z-ordered files without touching existing ones, and return the
    * new files' zone rows — the write-time metadata update both zone-map
    * rows promise. At 100 TB the full rebuild is a corpus scan; this path
    * costs ∝ delta: the append is one range-shuffle write of the delta,
    * and the zone-map increment reads back just the FOOTERS of the files
    * the write produced (a per-new-file metadata read, no data columns).
    * Bucket bounds are recomputed from the delta — bounds shape the
    * LAYOUT of the new files only; zones stay honest per-file stats over
    * real values either way (a delta clustered on its own range merely
    * overlaps the base files' zones, costing skip ratio, never
    * correctness). */
  private[graft] def appendZorder(spark: SparkSession, layout: String,
      delta: DataFrame): Array[Row] = {
    // Hadoop FS listing, not java.io — the layout lives on HDFS/S3 in
    // production, and a listing is a metadata op either way
    val hPath = new Path(layout)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hPath.getFileSystem(conf)
    // Keep the listStatus paths themselves (QUALIFIED — file:/tmp/...),
    // never re-derive them from the scheme-less layout string: zone-row
    // file keys must share one rendering with _metadata.file_path /
    // FileStatus or ZoneMapFileIndex.byPath lookups silently miss and
    // appended files lose pruning (round-13 advice, medium).
    def files(): Map[String, Path] =
      ZoneMapFileIndex.listParquet(fs, hPath).map(s => s.getPath.getName -> s.getPath).toMap
    val before = files().keySet
    writeZorder(delta, layout, math.max(1, ZFiles / 8), mode = "append")
    val after = files()
    val fresh = (after.keySet -- before).toSeq.sorted.map(after)
    require(fresh.nonEmpty, "append produced no new files")
    val newRows = ZoneMapFileIndex.readFooters(conf, fresh, ZCols)._2
    // maintain the in-memory metadata incrementally — existing files are
    // immutable under append, so their zone rows stand verbatim
    layouts.updateWith(layout)(_.map(l => l.copy(zones = l.zones ++ newRows)))
    newRows
  }

  // ------------------------------------------- ts-zoned events (round-15)
  // Real 100-TB skipping bites hardest on date/timestamp/integral columns
  // (the r48 chart window, r16's date layouts). Timestamp zones are LONG
  // MICROS (exact — no double-grid widening needed for timestamp
  // literals, which ARE long micros in Catalyst), and the events layout
  // below is ts-clustered so an r48-style window prunes files through
  // the planner from pure SQL.

  /** Files in the ts-clustered events layout (each covers ~1/16 of the
    * time span, so a one-week window touches few of them). */
  val TsFiles = 16

  /** Events clustered on `ts` — the 1-D zone layout for the time axis.
    * Written as TIMESTAMP_MICROS explicitly: INT96 (a possible session
    * default) persists no usable min/max statistics, and the zone rows
    * ARE those statistics. */
  private[graft] def tsLayout(spark: SparkSession, dir: String): Layout =
    built(spark, "tszone", dir, Seq("ts")) { out =>
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "TIMESTAMP_MICROS")
      try Tables.events(spark, dir)
        .repartitionByRange(TsFiles, col("ts"))
        .write.mode("overwrite").parquet(out)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** The ts-clustered events layout as a planner-integrated table: a plain
    * `WHERE ts >= ... AND ts < ...` — including from pure SQL — prunes
    * the file listing through the LONG-zone index. */
  def eventsTsTable(spark: SparkSession, dir: String): DataFrame =
    table(spark, tsLayout(spark, dir))

  val zorderSkipSql: String =
    s"""SELECT l_returnflag, count(*) AS n_lines,
       |  CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
       |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
       |FROM lineitem
       |WHERE l_extendedprice BETWEEN $PriceLo AND $PriceHi
       |  AND l_quantity BETWEEN $QtyLo AND $QtyHi
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
