package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q44 sweep-line interval concurrency + r40 zone-map data skipping. */
class ZoneMapIntervalSpec extends AnyFunSuite {
  import TestSpark._

  // Round-14: file keys share ONE rendering across every source
  // (_metadata.file_path, FileStatus, footer rows, appendZorder rows —
  // all `file:/tmp/…`), so cross-source comparisons use raw strings;
  // the old test-side scheme normalization masked the appendZorder
  // rendering bug the round-13 advice flagged.
  private def zstats(r: org.apache.spark.sql.Row): Seq[Any] =
    r.schema.fieldNames.toSeq.filterNot(_ == "file").map(r.getAs[Any](_))

  private val ZM = operators.ZoneMap

  /** The files `query`'s zone-map index lists under the query's own
    * pushed filters (sorted), and the layout's total file count. */
  private def listing(query: org.apache.spark.sql.DataFrame): (Seq[String], Int) = {
    val scan = query.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val idx = scan.relation.location
    assert(idx.isInstanceOf[graft.plans.ZoneMapFileIndex], s"scan uses ${idx.getClass}")
    (idx.listFiles(Nil, scan.dataFilters).flatMap(_.files).map(_.getPath.toString).sorted,
      idx.inputFiles.length)
  }

  private val priceBand = col("l_extendedprice") >= ZM.PriceLo &&
    col("l_extendedprice") <= ZM.PriceHi
  private val bothBands = priceBand &&
    col("l_quantity") >= ZM.QtyLo && col("l_quantity") <= ZM.QtyHi

  // ---------------------------------------------------------------- q44

  test("q44: sweep-line equals the naive interval-overlap count") {
    import spark.implicits._
    val got = operators.Intervals.intervalConcurrency(spark, sf).collect()
    // independent naive recompute: explode nothing, just count per
    // boundary day with a driver-side scan (bounded at sf0.001)
    val iv = sources.Tables.orders(spark, sf).select(
      to_date($"o_orderdate").as("s"),
      date_add(to_date($"o_orderdate"),
        (lit(3) + pmod($"o_orderkey", lit(28L))).cast("int")).as("e"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate))
    val days = iv.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val naive = days.map(d => d -> iv.count(p => !p._1.isAfter(d) && d.isBefore(p._2))).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val d = r.getDate(0).toLocalDate
      assert(r.getLong(1) == naive(d).toLong, s"mismatch at $d")
    }
    assert(got.length == days.length, "boundary-day set differs from naive")
  }

  test("q44: running count returns to zero after the last interval closes") {
    val got = operators.Intervals.intervalConcurrency(spark, sf)
      .orderBy(col("d")).collect()
    assert(got.last.getLong(1) == 0L,
      "every interval is finite, so the final boundary day must drain to 0")
    assert(got.forall(_.getLong(1) >= 0L), "active count can never go negative")
  }

  test("q44: the only window runs over the day dimension, partitioned non-foldably") {
    val plan = operators.Intervals.intervalConcurrency(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1)
    assert(windows.head.partitionSpec.nonEmpty,
      "the deliberate single partition must survive constant folding")
  }

  // ---------------------------------------------------------------- q48

  test("q48: bin-bucketed range join equals the naive all-pairs recompute") {
    import spark.implicits._
    val got = operators.Intervals.rangeJoin(spark, sf).collect()
    // independent naive recompute at sf0.001 scale: driver-side O(N^2)
    val os = sources.Tables.orders(spark, sf)
      .select($"o_orderkey", to_date($"o_orderdate").as("d"), $"o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    val naive = os.filter(_._1 % 10 == 0).map { case (k, pd, _) =>
      val covering = os.filter { case (ik, s, _) =>
        val e = s.plusDays(3 + ik % 28)
        !s.isAfter(pd) && pd.isBefore(e)
      }
      val top = covering.maxBy { case (ik, _, pc) => (pc, ik) }
      (k, covering.length.toLong,
        covering.map(_._3).sum.toDouble / 100.0, top._1)
    }.sortBy(_._1)
    assert(got.length == naive.length)
    got.zip(naive).foreach { case (r, (k, n, pr, tp)) =>
      assert(r.getLong(0) == k)
      assert(r.getLong(1) == n, s"n_cover mismatch at order $k")
      assert(math.abs(r.getDouble(2) - pr) < 1e-9, s"cover_price mismatch at $k")
      assert(r.getLong(3) == tp, s"top_order mismatch at $k")
    }
  }

  test("q49: meet-once interval×interval join equals the naive all-pairs recompute") {
    import spark.implicits._
    // double-counting is THE failure mode of bin-exploded overlap joins:
    // a pair sharing k bins must still be credited once — the naive
    // recompute enumerates each pair exactly once by construction
    val got = operators.Intervals.intervalJoin(spark, sf).collect()
    val ows = sources.Tables.orders(spark, sf)
      .filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", to_date($"o_orderdate").as("d"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .map { case (k, s) => (k, s, s.plusDays(3 + k % 28)) }
    val sws = sources.Tables.lineitem(spark, sf)
      .filter($"l_partkey" % 10 === 0)
      .select(($"l_orderkey" * 10 + $"l_linenumber").cast("long").as("lkey"),
        $"l_extendedprice", to_date($"l_shipdate").as("d"))
      .collect().map(r => (r.getLong(0),
        math.floor(r.getDouble(1) * 100 + 0.5).toLong, r.getDate(2).toLocalDate))
      .map { case (lk, pc, s) => (lk, pc, s, s.plusDays(1 + lk % 14)) }
    val naive = ows.flatMap { case (k, s1, e1) =>
      val over = sws.filter { case (_, _, s2, e2) =>
        s1.isBefore(e2) && s2.isBefore(e1) }
      if (over.isEmpty) None
      else {
        val top = over.maxBy { case (lk, pc, _, _) => (pc, lk) }
        Some((k, over.length.toLong,
          over.map(_._2).sum.toDouble / 100.0, top._1))
      }
    }.sortBy(_._1)
    assert(got.length == naive.length)
    got.zip(naive).foreach { case (r, (k, n, pr, tl)) =>
      assert(r.getLong(0) == k)
      assert(r.getLong(1) == n, s"n_overlap mismatch at order $k (double count?)")
      assert(math.abs(r.getDouble(2) - pr) < 1e-9, s"overlap_price mismatch at $k")
      assert(r.getLong(3) == tl, s"top_line mismatch at $k")
    }
  }

  test("q48/q49: plan as EQUI joins on (bin, salt) — never a nested-loop scan") {
    for (q <- Seq("q48_range_join", "q49_interval_join")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q fell back to a per-probe-row scan:\n" + plan.take(1500))
      assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
        plan.contains("ShuffledHashJoin"), s"$q:\n" + plan.take(1500))
    }
  }

  // ---------------------------------------------------------------- r40

  test("r40: zone map skips files and the pruned read matches the full scan") {
    import spark.implicits._
    val result = operators.ZoneMap.zonemapSkip(spark, sf).collect()
    // parity vs the unpruned full-table filter, same rounding
    val full = sources.Tables.lineitem(spark, sf)
      .filter($"l_extendedprice" >= operators.ZoneMap.PriceLo &&
        $"l_extendedprice" <= operators.ZoneMap.PriceHi)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        (sum(floor($"l_quantity" * 100.0 + 0.5).cast("long")).cast("double") / 100.0)
          .as("sum_qty"),
        (sum(floor($"l_extendedprice" * 100.0 + 0.5).cast("long")).cast("double") / 100.0)
          .as("sum_price"))
      .orderBy($"l_returnflag").collect()
    assert(result.map(_.toString).sameElements(full.map(_.toString)))
  }

  test("r40: every zone honestly bounds its file's values") {
    import spark.implicits._
    val layout = ZM.zonemapLayout(spark, sf)
    val zm = ZM.zoneMap(spark, layout.path, layout.cols).collect()
    assert(zm.length == ZM.ZoneFiles)
    zm.foreach { z =>
      val file = z.getAs[String]("file")
      val vals = spark.read.parquet(file).select($"l_extendedprice")
        .agg(min($"l_extendedprice"), max($"l_extendedprice")).head()
      assert(vals.getDouble(0) == z.getAs[Double]("l_extendedprice_min"), s"zmin lies for $file")
      assert(vals.getDouble(1) == z.getAs[Double]("l_extendedprice_max"), s"zmax lies for $file")
    }
    // and the planner's file set is sound AND strictly skipping
    val (files, total) = listing(ZM.zonemapSkip(spark, sf))
    assert(total == ZM.ZoneFiles)
    assert(files.nonEmpty && files.length < total,
      s"expected real skipping, got ${files.length}/$total")
    // soundness: no excluded file may contain an in-band value
    val matched = files.toSet
    val excluded = zm.map(_.getAs[String]("file"))
      .filterNot(matched.contains)
    assert(excluded.nonEmpty)
    excluded.foreach { file =>
      val n = spark.read.parquet(file).filter(priceBand).count()
      assert(n == 0L, s"skipped file $file holds $n in-band rows")
    }
  }

  // ---------------------------------------------------------------- r46

  test("r46: z-order pruned read matches the full 2-D band scan") {
    import spark.implicits._
    val result = operators.ZoneMap.zorderSkip(spark, sf).collect()
    val full = sources.Tables.lineitem(spark, sf)
      .filter($"l_extendedprice" >= operators.ZoneMap.PriceLo &&
        $"l_extendedprice" <= operators.ZoneMap.PriceHi &&
        $"l_quantity" >= operators.ZoneMap.QtyLo &&
        $"l_quantity" <= operators.ZoneMap.QtyHi)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        (sum(floor($"l_quantity" * 100.0 + 0.5).cast("long")).cast("double") / 100.0)
          .as("sum_qty"),
        (sum(floor($"l_extendedprice" * 100.0 + 0.5).cast("long")).cast("double") / 100.0)
          .as("sum_price"))
      .orderBy($"l_returnflag").collect()
    assert(result.nonEmpty)
    assert(result.map(_.toString).sameElements(full.map(_.toString)))
  }

  test("r46: excluded z-order files hold no row satisfying BOTH bands") {
    val layout = ZM.zorderLayout(spark, sf)
    val zm = ZM.zoneMap(spark, layout.path, layout.cols).collect()
    // empty range partitions write no file, so small corpora may land
    // under the target; the skip contract needs many files, not exactly 64
    assert(zm.length <= ZM.ZFiles && zm.length >= ZM.ZFiles / 2,
      s"z-order layout produced ${zm.length} files (target ${ZM.ZFiles})")
    val (files, total) = listing(ZM.zorderSkip(spark, sf))
    assert(total == zm.length)
    assert(files.nonEmpty && files.length < total,
      s"expected real 2-D skipping, got ${files.length}/$total")
    val matched = files.toSet
    val excluded = zm.map(_.getAs[String]("file"))
      .filterNot(matched.contains)
    assert(excluded.nonEmpty)
    excluded.foreach { file =>
      val n = spark.read.parquet(file).filter(bothBands).count()
      assert(n == 0L, s"skipped z-order file $file holds $n in-band rows")
    }
  }

  test("r46: incremental append — delta-only zone rows union to the full rebuild") {
    import spark.implicits._
    // own layout dir: appending to the memoized one would pollute every
    // other r46 assertion in this JVM
    val cols = Seq(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"))
    val base = sources.Tables.lineitem(spark, sf).select(cols: _*)
      .filter($"l_partkey" % 3 =!= 0)
    val delta = sources.Tables.lineitem(spark, sf).select(cols: _*)
      .filter($"l_partkey" % 3 === 0)
    val layout = operators.Extras.tempDir("graft_zorder_append")
    ZM.writeZorder(base, layout, 16)
    val prior = ZM.zoneMap(spark, layout, ZM.ZCols).collect()
    // seed the metadata memo pre-append so the incremental memo update
    // (not a lazy rebuild) is what the post-append plan reads
    ZM.layoutAt(spark, layout, ZM.ZCols)
    // the incremental path: append + zone rows from ONLY the new files
    val newRows = ZM.appendZorder(spark, layout, delta)
    assert(newRows.nonEmpty)
    // the maintained memo must now equal prior ∪ newRows (file-keyed)
    val memo = ZM.layouts(layout)
    assert(memo.zones.length == prior.length + newRows.length)
    // prior zones are untouched by the append (existing files immutable)
    // and prior ∪ delta-rows must equal a full zone-map rebuild
    val rebuilt = ZM.zoneMap(spark, layout, ZM.ZCols).collect()
    val key = (r: org.apache.spark.sql.Row) => r.getAs[String]("file")
    val union = (prior ++ newRows).map(r => key(r) -> zstats(r)).toMap
    val full = rebuilt.map(r => key(r) -> zstats(r)).toMap
    assert(union == full,
      s"incremental zone map diverged from rebuild: ${union.size} vs ${full.size}")
    // and the band query over the appended layout still matches the
    // full scan over base+delta (2-D pruning through the merged memo)
    val banded = ZM.table(spark, memo).filter(bothBands)
    val (files, total) = listing(banded)
    assert(total == memo.zones.length)
    assert(files.nonEmpty && files.length < total)
    val fullScan = base.unionByName(delta).filter(bothBands).count()
    assert(banded.count() == fullScan, s"pruned ${banded.count()} vs full $fullScan")
  }

  test("r40/r46: footer-derived zone rows ≡ the scan-derived derivation spec, per file") {
    // every built layout, double zones (price, price × quantity) and long
    // zones (ts micros) alike
    for (layout <- Seq(ZM.zonemapLayout(spark, sf), ZM.zorderLayout(spark, sf),
        ZM.tsLayout(spark, sf))) {
      val scanned = ZM.zoneMap(spark, layout.path, layout.cols).collect()
        .map(r => r.getAs[String]("file") -> zstats(r)).toMap
      // force a cold rebuild so this compares FOOTERS, not a memo that may
      // predate them
      ZM.layouts.remove(layout.path)
      val cold = ZM.layoutAt(spark, layout.path, layout.cols).zones
        .map(r => r.getAs[String]("file") -> zstats(r)).toMap
      assert(cold.nonEmpty && cold == scanned,
        s"footer zones diverge from the scan spec:\n${cold.take(2)}\nvs\n${scanned.take(2)}")
    }
  }

  test("r40/r46: a FRESH session plans the pruned read with ZERO Spark jobs") {
    // the layouts exist (memoized builds); drop the memo to simulate a
    // cold session over existing layouts: building the index-backed
    // tables (schema and zones from footers) and planning r40, r46/r47
    // and a ts window over eventsTsTable must run no Spark job
    val built = Seq(ZM.zonemapLayout(spark, sf), ZM.zorderLayout(spark, sf),
      ZM.tsLayout(spark, sf))
    built.foreach(l => ZM.layouts.remove(l.path))
    val jobs = JobRecorder.jobsOf(spark) {
      val tsWindow = ZM.eventsTsTable(spark, sf).filter(
        col("ts") >= lit(operators.CciPipeline.ChartFrom).cast("timestamp") &&
          col("ts") < lit(operators.CciPipeline.ChartUntil).cast("timestamp"))
      Seq(ZM.zonemapSkip(spark, sf), ZM.zorderSkip(spark, sf),
          ZM.zorderPlanned(spark, sf), tsWindow).foreach { q =>
        val (files, total) = listing(q)
        assert(files.nonEmpty && files.length < total, s"listed ${files.length}/$total")
      }
    }
    assert(jobs.isEmpty,
      s"cold zone-map planning ran ${jobs.size} Spark job(s) — " +
        "metadata must come from footers, never a scan or a schema inference")
  }

  test("r47: the planner-integrated index prunes in listFiles with PushedFilters intact") {
    import spark.implicits._
    val planned = operators.ZoneMap.zorderPlanned(spark, sf)
    // parity with the operator-assembled r46 path (both share the oracle)
    assert(planned.collect().map(_.toString).toSeq ==
      operators.ZoneMap.zorderSkip(spark, sf).collect().map(_.toString).toSeq)
    // the scan really goes through ZoneMapFileIndex, and the residual
    // predicate still reaches the parquet reader
    // pre-AQE physical plan: AdaptiveSparkPlanExec hides its tree from
    // collect(), and the scan node is identical either way
    val scans = planned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, planned.queryExecution.sparkPlan.toString.take(1500))
    val scan = scans.head
    assert(scan.relation.location.isInstanceOf[graft.plans.ZoneMapFileIndex],
      s"scan uses ${scan.relation.location.getClass}")
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("l_extendedprice") && pushed.contains("l_quantity"),
      s"residual predicate lost from PushedFilters: $pushed")
    // listFiles with the scan's own data filters returns strictly fewer
    // files than the layout holds — the pruning happens IN the listing
    val idx = scan.relation.location
    val total = idx.inputFiles.length
    val listed = idx.listFiles(Nil, scan.dataFilters).flatMap(_.files).size
    assert(listed > 0 && listed < total, s"listed $listed of $total files")
    // no filters -> full listing (soundness: pruning only under bounds)
    assert(idx.listFiles(Nil, Nil).flatMap(_.files).size == total)
    // an unfiltered count over the table sees every row
    assert(operators.ZoneMap.zorderTable(spark, sf).count() ==
      sources.Tables.lineitem(spark, sf).count())
    // composition: a DIFFERENT predicate on the same table prunes too,
    // without any operator-side plumbing
    val other = operators.ZoneMap.zorderTable(spark, sf)
      .filter($"l_quantity" === 10.0)
    val oScan = other.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val oListed = oScan.relation.location
      .listFiles(Nil, oScan.dataFilters).flatMap(_.files).size
    assert(oListed < total, s"composed predicate did not prune: $oListed/$total")
    assert(other.count() ==
      sources.Tables.lineitem(spark, sf).filter($"l_quantity" === 10.0).count())
  }

  test("r47: refresh() folds appended files into the SAME index, pruning still strict") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val cols = Seq(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"))
    val base = sources.Tables.lineitem(spark, sf).select(cols: _*)
      .filter($"l_partkey" % 3 =!= 0)
    val delta = sources.Tables.lineitem(spark, sf).select(cols: _*)
      .filter($"l_partkey" % 3 === 0)
    val layout = operators.Extras.tempDir("graft_zorder_refresh")
    operators.ZoneMap.writeZorder(base, layout, 16)
    val df0 = ZM.table(spark, ZM.layoutAt(spark, layout, ZM.ZCols))
    val scan0 = df0.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s }.head
    val idx = scan0.relation.location.asInstanceOf[graft.plans.ZoneMapFileIndex]
    val relation = scan0.relation
    // fresh DataFrame over the SAME relation/index per read: Spark's own
    // REFRESH TABLE invalidates cached plans the same way (an already-
    // executed QueryExecution snapshots its file listing)
    def read(): org.apache.spark.sql.DataFrame =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(relation.asInstanceOf[HadoopFsRelation])
    val baseN = base.count()
    assert(read().count() == baseN)
    operators.ZoneMap.appendZorder(spark, layout, delta)
    // snapshot semantics until refresh: the held index must not see the
    // appended files yet (consistent for any one query)
    assert(read().count() == baseN, "index saw appended files before refresh()")
    idx.refresh()
    val fullN = base.unionByName(delta).count()
    assert(read().count() == fullN,
      s"refresh() lost appended rows: ${read().count()} vs $fullN")
    // pruning over the refreshed listing: strict AND sound (appended
    // files carry zone rows from their footers, so they prune too)
    val band = read().filter($"l_extendedprice" >= operators.ZoneMap.PriceLo &&
      $"l_extendedprice" <= operators.ZoneMap.PriceHi &&
      $"l_quantity" >= operators.ZoneMap.QtyLo &&
      $"l_quantity" <= operators.ZoneMap.QtyHi)
    val bScan = band.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s }.head
    val listed = idx.listFiles(Nil, bScan.dataFilters).flatMap(_.files).size
    val total = idx.inputFiles.length
    assert(listed > 0 && listed < total, s"refreshed index listed $listed/$total")
    val expect = base.unionByName(delta)
      .filter($"l_extendedprice" >= operators.ZoneMap.PriceLo &&
        $"l_extendedprice" <= operators.ZoneMap.PriceHi &&
        $"l_quantity" >= operators.ZoneMap.QtyLo &&
        $"l_quantity" <= operators.ZoneMap.QtyHi).count()
    assert(band.count() == expect)
  }

  test("r47: integral literals beyond 2^53 widen OUTWARD — boundary zones stay listed") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    import org.apache.hadoop.fs.{FileStatus, Path}
    // synthetic 2-file index over a long skip column: L = 2^53+3 rounds UP
    // on the double grid (to 2^53+4), so the naive lo bound would drop the
    // file whose zone tops out one ulp below the rounded literal; the
    // outward widening steps the bound back down and keeps it
    val L = (1L << 53) + 3 // 9007199254740995; rounds UP on the grid:
    assert(L.toDouble == 9007199254740996.0)
    val zSchema = StructType(Seq(StructField("file", StringType),
      StructField("v_min", DoubleType), StructField("v_max", DoubleType)))
    def zrow(f: String, mn: Double, mx: Double) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](f, mn, mx), zSchema)
    val fA = "file:/tmp/zwiden/a.parquet"
    val fB = "file:/tmp/zwiden/b.parquet"
    def st(f: String) = new FileStatus(1L, false, 1, 1L, 0L, new Path(f))
    // `v` is a DOUBLE column of the relation, so its zones are doubles
    val idx = new graft.plans.ZoneMapFileIndex(new Path("file:/tmp/zwiden"),
      Array(zrow(fA, 0.0, 9007199254740996.0), zrow(fB, 0.0, 9007199254740994.0)),
      Seq(st(fA), st(fB)), Seq("v"), StructType(Seq(StructField("v", DoubleType))),
      spark.sparkContext.hadoopConfiguration)
    val pred = GreaterThanOrEqual(
      AttributeReference("v", LongType)(), Literal(L, LongType))
    val listed = idx.listFiles(Nil, Seq(pred)).flatMap(_.files)
      .map(_.getPath.toString).toSet
    assert(listed.contains(fA))
    assert(listed.contains(fB),
      "zone one ulp under the rounded literal was dropped — lo bound not widened down")
  }

  test("r46: 2-D z-order prunes a strictly smaller file FRACTION than the 1-D layout") {
    // The point of the z-order layout: on the conjunctive predicate the
    // 1-D price-clustered layout can only prune on price (its index zones
    // price alone), so the z-layout's matched fraction must be strictly
    // smaller. Fractions, not counts — the layouts hold a different
    // number of files. Both listings come from the same index under the
    // same query predicate.
    val (f1, t1) = listing(ZM.table(spark, ZM.zonemapLayout(spark, sf)).filter(bothBands))
    val (f2, t2) = listing(ZM.zorderTable(spark, sf).filter(bothBands))
    val frac1 = f1.length.toDouble / t1
    val frac2 = f2.length.toDouble / t2
    assert(frac2 < frac1,
      s"z-order read ${f2.length}/$t2 = $frac2 vs 1-D ${f1.length}/$t1 = $frac1")
  }
}
