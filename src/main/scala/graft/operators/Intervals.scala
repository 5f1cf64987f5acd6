package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Interval-overlap analytics WITHOUT a range join.
  *
  * Spark has no native interval/range join: the naive spellings are either
  * a non-equi theta join (planned as BroadcastNestedLoopJoin — a scan of
  * the fact per probe row) or a grid EXPLODE of every interval into its
  * covered days (fan-out ∝ interval length before the aggregation). Both
  * melt at 100 TB. The sweep-line form used here is the scale answer for
  * the common "how many intervals are active at time t" family:
  *
  *   1. each interval [s, e) contributes two DELTA rows: (s, +1), (e, -1)
  *      — a row-local projection, fan-out exactly 2 regardless of length;
  *   2. one partial-aggregable groupBy(day) collapses the 2N deltas onto
  *      the DATE DIMENSION (map-side combine does most of the work: the
  *      post-shuffle frame is at most one row per boundary day, a few
  *      thousand rows at ANY corpus scale);
  *   3. the running sum over the day dimension recovers the active count.
  *      This is the only window in the plan and it runs over the
  *      dimension-scale frame, never the corpus — the deliberate single
  *      partition is spelled non-foldably (`pmod(year(d), 1)`, SURVEY §5)
  *      so the window spec survives constant folding.
  *
  * The DuckDB oracle is the INDEPENDENT naive semantics — a non-equi
  * LEFT JOIN of every boundary day against every interval — so the gate
  * proves sweep-line ≡ range-join, not sweep-line ≡ itself.
  */
object Intervals {
  /** Deterministic per-order active window, derived in-query (the corpus
    * carries no end-date column): [orderdate, orderdate + 3 + key mod 28)
    * half-open, so every interval is 3–30 days and both engines derive
    * identical bounds from the same integer arithmetic. */
  private val HoldBaseDays = 3
  private val HoldModDays = 28

  // ---------------------------------------------------------------- q44
  /** Per-day count of active order windows via sweep-line delta encoding.
    * Output: one row per boundary day (a day where some interval opens or
    * closes) with the number of intervals covering it. */
  def intervalConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables.orders(spark, dir).select(
      to_date($"o_orderdate").as("s"),
      date_add(to_date($"o_orderdate"),
        (lit(HoldBaseDays) + pmod($"o_orderkey", lit(HoldModDays.toLong))).cast("int")).as("e"))
    val deltas = iv.select($"s".as("d"), lit(1L).as("delta"))
      .unionByName(iv.select($"e".as("d"), lit(-1L).as("delta")))
    // the ONE corpus-scale shuffle; partial aggregation collapses to the
    // day dimension map-side
    val dayDelta = deltas.groupBy($"d").agg(sum($"delta").as("dd"))
    // dimension-scale running sum; deliberate single partition, non-foldable
    val w = Window.partitionBy(pmod(year($"d"), lit(1)))
      .orderBy($"d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dayDelta.select($"d", sum($"dd").over(w).as("n_active")).orderBy($"d")
  }

  // ---------------------------------------------------------------- q48
  /** General PAIRWISE range join via BIN BUCKETING + point-side salting —
    * the complement to q44: the sweep-line answers decomposable
    * per-axis-point aggregates, but a payload that needs the actual
    * (point, interval) PAIRS — here the single most expensive order
    * window covering each order's date (argmax with an exact tiebreak) —
    * requires the join itself, which Spark would otherwise plan as
    * BroadcastNestedLoopJoin (per-probe-row scans of the whole fact).
    *
    * The scalable spelling: bins of B days partition the time axis;
    * each interval replicates into its ≤ span/B+1 covering bins, each
    * point lands in exactly ONE bin, and an EQUI-join on the
    * bin key carries the residual `s <= p < e` predicate — every
    * qualifying pair meets exactly once (bins partition days), so no
    * dedup pass. Shuffle volume is N·(span/B+1) + N instead of N²; the
    * bin-key cardinality is days/B — it grows with the TIME RANGE, not
    * the corpus, so per-bin volume grows with data density. Three
    * things bound the task size: B itself (derived from the interval
    * side's plan-stat size, [[BinDaysAutoAnchorBytes]]; smaller B = more
    * bins = less data per bin, at the cost of more interval replication),
    * point-side SALTING — points spread over [[SaltBuckets]]
    * sub-keys of their bin by key-hash while intervals replicate into
    * every sub-key, so a task's input is ivPerBin + ptsPerBin/S — and
    * the HOT-BIN sub-salt ([[HotBinRowsConf]]): a bin whose interval
    * count crosses the threshold hashes its intervals into subI
    * sub-salts while its points replicate across them, bounding the
    * task at ivPerBin/subI + ptsPerBin/S even when one DAY concentrates
    * the corpus. Aggregation (count, exact-cent price mass, k=1 heap
    * argmax) is partial-aggregable and pipelines straight off the
    * sort-merge join — the pair stream is never materialized.
    *
    * Output per order: how many order windows cover its date, their
    * exact-cent price mass, and the covering order with the highest
    * totalprice (ties to the higher key — mirrored in the oracle). */
  // ---- geometry (sizing recipe: SURVEY §5 "Sizing a real deployment")
  /** REPLICATING-side rows per bin above which the bin is HOT and that
    * side sub-salts (see [[hotBins]]); the other side replicates across
    * the sub-salts. Bounds per-task pair volume by
    * hotBinRows·(otherPerBin/S) however dense one DAY gets. */
  val HotBinRowsConf = "spark.graft.range.hotBinRows"

  /** Days per bin at gate scale: smaller = more bins = less data per
    * bin, at the cost of more interval replication (≤ span/B+1 bins per
    * interval). Wider at scale, see [[BinDaysAutoAnchorBytes]]. */
  private val BaseBinDays = 16
  /** Hash-salt buckets on the point/hashing side: per-task share of that
    * side is 1/S of its bin. */
  private val SaltBuckets = 8
  private val DefaultHotBinRows = 4000000L
  /** Replicating-side plan-stat bytes below which hot-bin detection is
    * skipped entirely (detection is one bin-grouped aggregation scan —
    * don't pay it on small inputs; the sf gates run un-detected). */
  private val MinDetectBytes: Long = 1L << 30 // 1 GiB
  /** Broadcast bound on the hot-bin table (bins above it stay unsplit —
    * graceful degradation, never an abort) and on one bin's sub-salt
    * fan-out (the other side replicates subI×). */
  private val MaxHotBins = 10000
  private val MaxSubSalts = 1024

  /** Auto-derivation anchor for the bin width (round-17, VERDICT r16
    * task 6): days-per-bin doubles per decade of the interval source's
    * plan-stat bytes above this anchor. Measured
    * basis (PERF.md round-16 "binDays curve"): MakeScaledSf's verbatim
    * dates grow per-day density ∝ corpus, and the re-derived sweet spot
    * moved 16 → ~32 at sf1 (1.5× wall win: wider bins cut the interval
    * side's ⌈(D+B)/B⌉ replication once per-bin density dwarfs the gate
    * corpus) while sf0.1 stayed flat at 16. The anchor sits above sf0.1's
    * orders (~2.6 MB) and below sf1's (8.4 MB as MakeScaledSf writes it —
    * replicated rows dictionary-compress far below 10×, so the anchor
    * must hug the gate corpus), so every gated SF derives the former
    * constant (plan byte-identical, proven in plans/r17) and each scaled
    * decade doubles it. Geometry is result-invariant (both sides read the
    * same bin map) — only task shape moves. The cap (×16) bounds the
    * widest bin at 256 days. */
  private val BinDaysAutoAnchorBytes = 4L << 20

  private def binDays(gate: DataFrame): Int = {
    val bytes = graft.plans.ScaleGate.bytes(gate)
    val decades =
      if (bytes <= BinDaysAutoAnchorBytes) 0
      else math.min(4, math.ceil(math.log10(
        bytes.toDouble / BinDaysAutoAnchorBytes)).toInt)
    BaseBinDays << decades
  }

  /** Hot bins of the REPLICATING side: (bin, subSalts) for every bin whose
    * row count crosses [[HotBinRowsConf]], subSalts = ceil(count/hotRows)
    * capped at [[MaxSubSalts]]. One partial-aggregable scan collapsed to
    * the bin dimension (bins grow with the TIME SPAN, not the corpus), a
    * bounded top-[[MaxHotBins]] collect. Gated on `gate`'s plan-stat size
    * (the un-exploded side; [[graft.plans.ScaleGate]] at [[MinDetectBytes]])
    * so small inputs never pay the scan; EAGER at construction time when
    * it runs, like the as-of split's detection, and memoized the same way
    * ([[graft.plans.HotKeys]]). Over the bound, the densest
    * [[MaxHotBins]] bins split and the rest stay unsplit.
    * `binned`'s plan already carries the bin width `b`, so `b` plays no
    * part in the memo. */
  private[graft] def hotBins(spark: SparkSession, binned: DataFrame,
      gate: DataFrame, b: Int): Seq[(Long, Int)] = {
    if (!graft.plans.ScaleGate.armed(gate, MinDetectBytes)) return Seq.empty
    val hotRows = spark.conf.get(HotBinRowsConf, DefaultHotBinRows.toString).toLong
    require(hotRows > 0, s"$HotBinRowsConf must be positive, got $hotRows")
    graft.plans.HotKeys.detect(
      binned.groupBy(col("bin")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > hotRows)
        .orderBy(col("__n").desc, col("bin")), MaxHotBins)
      .take(MaxHotBins)
      .map(r => (r.getLong(0),
        math.min(MaxSubSalts.toLong, (r.getLong(1) + hotRows - 1) / hotRows).toInt))
      .filter(_._2 > 1).toSeq
  }

  /** Attach each row's sub-salt count (`name`, default 1) from the tiny
    * broadcast hot-bin table. */
  private def withSubi(spark: SparkSession, df: DataFrame,
      hot: Seq[(Long, Int)], name: String = "subi"): DataFrame = {
    import spark.implicits._
    df.join(broadcast(hot.toDF("bin", name)), Seq("bin"), "left")
      .withColumn(name, coalesce(col(name), lit(1)))
  }

  /** Probe every 10th order: the row demonstrates the pairwise JOIN plan;
    * an all-points probe at sf0.1 is ~154M matched pairs of plain
    * arithmetic (measured ~7.5 s at 32 cores, ~20M pairs/s — honest but
    * uninformative sweep weight). The interval side stays the FULL
    * corpus, so the bin/salt/residual machinery is exercised unreduced. */
  private val RangeProbeMod = 10L

  def rangeJoin(spark: SparkSession, dir: String): DataFrame =
    rangeJoinFromOrders(Tables.orders(spark, dir))

  /** q48 core, input-parameterized (RangeHotBinSpec feeds synthetic,
    * skewed orders frames). */
  private[graft] def rangeJoinFromOrders(orders: DataFrame): DataFrame =
    rangeJoinFromOrders(orders, binDays(orders), SaltBuckets)

  /** q48 core at an explicit bin width `B` and salt count `S`
    * (RangeHotBinSpec checks the rows do not depend on them). */
  private[graft] def rangeJoinFromOrders(orders: DataFrame,
      B: Int, S: Int): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val iv = orders.select(
      $"o_orderkey".as("ikey"),
      unix_date(to_date($"o_orderdate")).cast("long").as("sd"),
      (unix_date(to_date($"o_orderdate")).cast("long") + lit(HoldBaseDays.toLong)
        + pmod($"o_orderkey", lit(HoldModDays.toLong))).as("ed"),
      graft.functions.Money.cents($"o_totalprice").as("pc"))
    val ivBins = iv.withColumn("bin", explode(sequence(
      floor($"sd" / B), floor(($"ed" - 1) / B))))
    // hot-DAY defense: when one bin's INTERVAL count crosses the hot
    // threshold, salting alone no longer bounds the task — every salt
    // task still carries that bin's whole (replicated) interval side. A
    // hot bin's intervals therefore hash into subI sub-salts while its
    // points replicate across them: per-task input falls to
    // ivPerBin/subI + ptsPerBin/S, pairs to ivPerBin·ptsPerBin/(S·subI),
    // and the non-empty partition count grows with density instead of
    // being structurally capped at bins×salts.
    val hot = hotBins(spark, ivBins, iv, B)
    val pt0 = orders.filter(pmod($"o_orderkey", lit(RangeProbeMod)) === 0)
      .select($"o_orderkey",
        unix_date(to_date($"o_orderdate")).cast("long").as("pd"))
      .withColumn("bin", floor($"pd" / B))
      .withColumn("salt", pmod(xxhash64($"o_orderkey"), lit(S.toLong)).cast("int"))
    // POINT-side hot-bin defense (round-14, PERF.md "the points-hot
    // range-join geometry"): a day hot in POINTS only is invisible to
    // the interval-side detection above, and its per-task bound
    // ptsPerBin/S can only be tightened by raising S globally — which
    // multiplies interval replication EVERYWHERE (measured: S 8→64 cut
    // wall 55→40 s but grew the join stage's max task records 63k→228k
    // on the uniform mass). The symmetric fix: a bin whose POINT count
    // crosses the same threshold hashes its points into psub sub-salts
    // while its intervals replicate across them — per-task input falls
    // to ivPerBin + ptsPerBin/(S·psub) with the replication cost
    // confined to the hot bins.
    val hotP = hotBins(spark, pt0, pt0, B)
    // the (bin, salt[, isalt][, psalt]) hash exchange IS the operator's
    // distribution: the pair-streaming join+aggregate stage must fan out
    // over it — a dense corpus read from few splits would otherwise
    // stream EVERY matched pair through the input's own handful of tasks
    // (measured: 190 s single-task vs seconds distributed at sf0.1). The
    // partition count is EXPLICIT: AQE sizes coalescing by the shuffle's
    // own bytes, which are tiny relative to the ~70× join fan-out behind
    // them, so an unpinned repartition gets coalesced right back into
    // the straggler (measured: 34 s coalesced vs explicit). At cluster
    // scale a shuffle join on these keys needs this exchange anyway,
    // so ENSURE_REQUIREMENTS reuses rather than duplicates it. The
    // no-hot path stays byte-identical to the round-12 pinned plan
    // (RangeHotBinSpec asserts no isalt/psalt under detection-off).
    val nPart = spark.sessionState.conf.numShufflePartitions
    var ivF = ivBins
    var ptF = pt0
    var extraKeys = Seq.empty[String]
    if (hot.nonEmpty) {
      ivF = withSubi(spark, ivF, hot)
        .withColumn("isalt",
          pmod(xxhash64($"ikey"), $"subi".cast("long")).cast("int"))
        .drop("subi")
      ptF = withSubi(spark, ptF, hot)
        .withColumn("isalt", explode(sequence(lit(0), $"subi" - 1)))
        .drop("subi")
      extraKeys :+= "isalt"
    }
    if (hotP.nonEmpty) {
      // mirror image: points HASH (seeded independently of `salt`),
      // intervals REPLICATE
      ivF = withSubi(spark, ivF, hotP, "psubi")
        .withColumn("psalt", explode(sequence(lit(0), $"psubi" - 1)))
        .drop("psubi")
      ptF = withSubi(spark, ptF, hotP, "psubi")
        .withColumn("psalt",
          pmod(xxhash64(lit("pts"), $"o_orderkey"), $"psubi".cast("long")).cast("int"))
        .drop("psubi")
      extraKeys :+= "psalt"
    }
    val ivBinned = ivF
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
      .repartition(nPart, (Seq(col("bin"), col("salt")) ++ extraKeys.map(col)): _*)
    val pt = ptF
    val extraKey = extraKeys
      .map(k => pt(k) === ivBinned(k))
      .foldLeft(lit(true))(_ && _)
    val tk = graft.functions.catalyst.GraftColumns.topk_by_ord _
    pt.join(ivBinned,
        pt("bin") === ivBinned("bin") && pt("salt") === ivBinned("salt") &&
          extraKey && $"sd" <= $"pd" && $"pd" < $"ed")
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_cover"),
        (sum($"pc").cast("double") / 100.0).as("cover_price"),
        get(tk(struct(bitwise_not($"pc").as("np"), bitwise_not($"ikey").as("nk")),
          $"ikey", 1), lit(0)).as("top_order"))
      .orderBy($"o_orderkey")
  }

  val rangeJoinSql: String =
    s"""WITH iv AS (
       |  SELECT o_orderkey AS ikey,
       |         CAST(o_orderdate AS DATE) AS s,
       |         CAST(o_orderdate AS DATE)
       |           + CAST($HoldBaseDays + o_orderkey % $HoldModDays AS INTEGER) AS e,
       |         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pc
       |  FROM orders),
       |pt AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS pd
       |       FROM orders WHERE o_orderkey % $RangeProbeMod = 0),
       |j AS (
       |  SELECT pt.o_orderkey AS k, iv.ikey, iv.pc
       |  FROM pt JOIN iv ON iv.s <= pt.pd AND pt.pd < iv.e),
       |ag AS (
       |  SELECT k, count(*) AS n_cover, CAST(sum(pc) AS DOUBLE) / 100.0 AS cover_price
       |  FROM j GROUP BY k),
       |tp AS (
       |  SELECT k, ikey AS top_order FROM (
       |    SELECT k, ikey,
       |      row_number() OVER (PARTITION BY k ORDER BY pc DESC, ikey DESC) AS rn
       |    FROM j) WHERE rn = 1)
       |SELECT ag.k AS o_orderkey, n_cover, cover_price, top_order
       |FROM ag JOIN tp ON ag.k = tp.k
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q49
  /** INTERVAL × INTERVAL overlap join via MEET-ONCE bin assignment — the
    * third member of the family (q44: decomposable aggregate by sweep-
    * line; q48: point×interval pairs; q49: interval×interval pairs).
    * Overlap([s1,e1), [s2,e2)) ⇔ s1 < e2 AND s2 < e1. Both sides explode
    * into their covering bins, so an overlapping pair shares every bin
    * their intersection touches — naively that double-counts. The
    * meet-once rule: credit the pair ONLY in the bin containing
    * max(s1, s2). That day lies inside BOTH intervals (it is ≥ both
    * starts, and < min(e1,e2) because the overlap is non-empty), so the
    * bin is present in both explosions, and it is unique — one extra
    * equi-residual conjunct replaces a whole dedup shuffle. Salting:
    * the SMALLER side (order windows) replicates into every salt bucket
    * while the bigger side (ship windows) hash-salts, so per-task input
    * is owPerBin·1 + swPerBin/S.
    *
    * Semantics on the sf tables: for every 10th order window, the
    * deterministic ship-transit windows ([l_shipdate, +1 + lkey mod 14)
    * over every 10th part's lineitems) that overlap it — count, exact-
    * cent price mass, and the single most expensive overlapping line
    * (k=1 heap argmax, exact (price, lkey) tiebreak). */
  private val ShipBaseDays = 1
  private val ShipModDays = 14

  def intervalJoin(spark: SparkSession, dir: String): DataFrame =
    intervalJoinFrom(Tables.orders(spark, dir), Tables.lineitem(spark, dir))

  /** q49 core, input-parameterized (RangeHotBinSpec feeds synthetic,
    * skewed frames). The REPLICATING side here is the order
    * windows (they fan out across the ship side's salts), so hot-bin
    * detection watches THAT side: a hot ow bin hashes into sub-salts and
    * the ship side replicates across them — per-task input falls to
    * owPerBin/subI + swPerBin/S, same bound family as q48. */
  private[graft] def intervalJoinFrom(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val B = binDays(orders)
    val S = SaltBuckets
    val ow = orders
      .filter(pmod($"o_orderkey", lit(RangeProbeMod)) === 0)
      .select($"o_orderkey",
        unix_date(to_date($"o_orderdate")).cast("long").as("s1"),
        (unix_date(to_date($"o_orderdate")).cast("long") + lit(HoldBaseDays.toLong)
          + pmod($"o_orderkey", lit(HoldModDays.toLong))).as("e1"))
    val owBins = ow.withColumn("bin", explode(sequence(
      floor($"s1" / B), floor(($"e1" - 1) / B))))
    val hot = hotBins(spark, owBins, ow, B)
    val sw = lineitem
      .filter(pmod($"l_partkey", lit(RangeProbeMod)) === 0)
      .select(($"l_orderkey" * 10 + $"l_linenumber").cast("long").as("lkey"),
        graft.functions.Money.cents($"l_extendedprice").as("lpc"),
        unix_date(to_date($"l_shipdate")).cast("long").as("s2"))
      .withColumn("e2", $"s2" + lit(ShipBaseDays.toLong) + pmod($"lkey", lit(ShipModDays.toLong)))
    val swBins = sw
      .withColumn("bin", explode(sequence(
        floor($"s2" / B), floor(($"e2" - 1) / B))))
      .withColumn("salt", pmod(xxhash64($"lkey"), lit(S.toLong)).cast("int"))
    // the hash-salted sw side's mirror defense (round-14, the q48 point-
    // side geometry): a bin hot in SHIP WINDOWS only is bounded by
    // swPerBin/S, and raising S multiplies ow replication everywhere —
    // instead a hot sw bin hashes its ship windows into ssub sub-salts
    // while the order windows replicate across them.
    val hotS = hotBins(spark, swBins.select(col("bin")), sw, B)
    val nPart = spark.sessionState.conf.numShufflePartitions
    var owF = owBins
    var swF = swBins
    var extraKeys = Seq.empty[String]
    if (hot.nonEmpty) {
      owF = withSubi(spark, owF, hot)
        .withColumn("isalt",
          pmod(xxhash64($"o_orderkey"), $"subi".cast("long")).cast("int"))
        .drop("subi")
      swF = withSubi(spark, swF, hot)
        .withColumn("isalt", explode(sequence(lit(0), $"subi" - 1)))
        .drop("subi")
      extraKeys :+= "isalt"
    }
    if (hotS.nonEmpty) {
      owF = withSubi(spark, owF, hotS, "ssubi")
        .withColumn("ssalt", explode(sequence(lit(0), $"ssubi" - 1)))
        .drop("ssubi")
      swF = withSubi(spark, swF, hotS, "ssubi")
        .withColumn("ssalt",
          pmod(xxhash64(lit("sw"), $"lkey"), $"ssubi".cast("long")).cast("int"))
        .drop("ssubi")
      extraKeys :+= "ssalt"
    }
    val owB = owF.withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    // same pinned fan-out exchange as q48 (AQE would coalesce it away)
    val swB = swF.repartition(nPart,
      (Seq(col("bin"), col("salt")) ++ extraKeys.map(col)): _*)
    val extraKey = extraKeys
      .map(k => owB(k) === swB(k))
      .foldLeft(lit(true))(_ && _)
    val tk = graft.functions.catalyst.GraftColumns.topk_by_ord _
    owB.join(swB, owB("bin") === swB("bin") && owB("salt") === swB("salt") &&
        extraKey && $"s1" < $"e2" && $"s2" < $"e1" &&
        swB("bin") === floor(greatest($"s1", $"s2") / B))
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_overlap"),
        (sum($"lpc").cast("double") / 100.0).as("overlap_price"),
        get(tk(struct(bitwise_not($"lpc").as("np"), bitwise_not($"lkey").as("nk")),
          $"lkey", 1), lit(0)).as("top_line"))
      .orderBy($"o_orderkey")
  }

  val intervalJoinSql: String =
    s"""WITH ow AS (
       |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s1,
       |         CAST(o_orderdate AS DATE)
       |           + CAST($HoldBaseDays + o_orderkey % $HoldModDays AS INTEGER) AS e1
       |  FROM orders WHERE o_orderkey % $RangeProbeMod = 0),
       |sw AS (
       |  SELECT l_orderkey * 10 + l_linenumber AS lkey,
       |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS lpc,
       |         CAST(l_shipdate AS DATE) AS s2,
       |         CAST(l_shipdate AS DATE)
       |           + CAST($ShipBaseDays + (l_orderkey * 10 + l_linenumber) % $ShipModDays AS INTEGER) AS e2
       |  FROM lineitem WHERE l_partkey % $RangeProbeMod = 0),
       |j AS (
       |  SELECT ow.o_orderkey AS k, sw.lkey, sw.lpc
       |  FROM ow JOIN sw ON ow.s1 < sw.e2 AND sw.s2 < ow.e1),
       |ag AS (
       |  SELECT k, count(*) AS n_overlap, CAST(sum(lpc) AS DOUBLE) / 100.0 AS overlap_price
       |  FROM j GROUP BY k),
       |tp AS (
       |  SELECT k, lkey AS top_line FROM (
       |    SELECT k, lkey,
       |      row_number() OVER (PARTITION BY k ORDER BY lpc DESC, lkey DESC) AS rn
       |    FROM j) WHERE rn = 1)
       |SELECT ag.k AS o_orderkey, n_overlap, overlap_price, top_line
       |FROM ag JOIN tp ON ag.k = tp.k
       |ORDER BY 1""".stripMargin

  val intervalConcurrencySql: String =
    s"""WITH iv AS (
       |  SELECT CAST(o_orderdate AS DATE) AS s,
       |         CAST(o_orderdate AS DATE)
       |           + CAST($HoldBaseDays + o_orderkey % $HoldModDays AS INTEGER) AS e
       |  FROM orders),
       |days AS (
       |  SELECT DISTINCT d FROM (
       |    SELECT s AS d FROM iv UNION ALL SELECT e AS d FROM iv))
       |-- independent naive semantics: non-equi join day x interval
       |SELECT dy.d AS d, count(iv.s) AS n_active
       |FROM days dy LEFT JOIN iv ON iv.s <= dy.d AND dy.d < iv.e
       |GROUP BY dy.d
       |ORDER BY d""".stripMargin
}
