package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, TimestampType}

/** Native AS-OF (point-in-time) JOIN — the whole-operator Catalyst
  * extension: logical node + planner strategy + physical operator,
  * registered through `SparkSessionExtensions` / `experimental`.
  *
  * Semantics: for every left row, attach the single right row with the
  * same key whose time is the latest `<=` the left time (`backward`,
  * pandas `merge_asof` default; `forward` flips to earliest `>=`), LEFT
  * OUTER — unmatched left rows keep nulls on the right. An optional
  * tolerance bounds how far back/forward the match may reach. The
  * reference needs exactly this shape whenever it aligns an order event
  * against the latest fetched state before it (order execution vs the
  * price row in force, `daily_function.py:1947` update_order_execution
  * matching each fill against its day's state).
  *
  * Why an operator and not a composition: the window trick q22 uses
  * (`max(when(...)) over (rows unbounded preceding)`) carries ONE scalar
  * per match — recovering the matched row's payload needs an extra
  * equi-join back — and it UNIONs both inputs into one shuffle whose
  * window state spans the combined stream. The native plan is the
  * minimal one: each side shuffles ONCE on its key (`ClusteredDistribution`
  * pair — co-partitioned by `EnsureRequirements`, so bucketed/AQE-coalesced
  * layouts skip or shrink the exchanges), sorts within partitions on
  * (key, time), and a single O(n+m) merge pass walks both sorted streams
  * with O(1) carried state (the current candidate row) — no window
  * buffering, no join-back, whole matched row emitted. That is the plan
  * that survives 100 TB: partition-local, spill-free, one exchange per
  * side.
  *
  * Right-side contract: at most one row per (key, time) — the engine
  * keeps whichever sorts last among exact duplicates, which is
  * nondeterministic under shuffles, so callers dedup first (q47 does, via
  * keep-max-event-id), exactly the contract DuckDB's ASOF JOIN documents.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Option[Long],
    forward: Boolean,
    rightTieBreak: Option[Expression]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] onto [[AsOfJoinExec]]. Injected at session build
  * by [[graft.GraftExtensions]]; [[AsOf.ensureStrategy]] patches
  * already-built sessions through `experimental.extraStrategies`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol, fwd, tie) =>
      AsOfJoinExec(lk, rk, lt, rt, tol, fwd, tie, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join: children co-partitioned on the keys (one
  * exchange each at most) and sorted on (keys, time); each partition pair
  * merges in one pass. Time must be micros-backed (TimestampType or
  * LongType) — [[AsOf.join]] enforces it.
  *
  * `rightTieBreak` resolves exact right-side (key, time) duplicates
  * WITHOUT a pre-aggregation: it joins the required right ordering, and
  * the backward merge's keep-last then deterministically keeps the MAX
  * tiebreak per instant (forward keeps the MIN — the first the head scan
  * meets). That folds the "dedup the right side first" step into the
  * merge itself, deleting a whole groupBy exchange from the caller's
  * plan; without it, callers must guarantee (key, time) uniqueness.
  *
  * Null semantics follow SQL equi-joins: a null key or null time never
  * matches (nulls sort first under the required Ascending/NullsFirst
  * ordering, so both sides discard their null prefix in-stream). */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Option[Long],
    forward: Boolean,
    rightTieBreak: Option[Expression],
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    ((rightKeys :+ rightTime) ++ rightTieBreak).map(SortOrder(_, Ascending)))

  // the merge is left-driven and emits left rows in their sorted order
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    // capture locals only — the closure must not drag the SparkPlan along
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val tol = toleranceUs
    val fwd = forward
    val rightArity = rOut.size

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // bind against NULLABLE right attrs: unmatched rows read a null-filled
      // right row, and a non-nullable BoundReference would skip the null
      // check and read garbage
      val outProj = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightArity)
      val rBuf = rIter.buffered

      // Backward state: the latest right row (copied — UnsafeRow buffers
      // are reused by the sort iterator) whose (key, time) <= the current
      // left (key, time). Forward needs no carried state: the match is
      // always the right head after discarding everything strictly before.
      var candKey: InternalRow = null
      var candRow: InternalRow = null
      var candTs: Long = 0L

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeRow = lTimeProj(lRow)
        val lNull = lKey.anyNull || lTimeRow.isNullAt(0)
        var matched: InternalRow = null
        if (!lNull) {
          val lTs = lTimeRow.getLong(0)
          var advance = true
          while (advance && rBuf.hasNext) {
            val rKey = rKeyProj(rBuf.head)
            val rTimeRow = rTimeProj(rBuf.head)
            if (rKey.anyNull || rTimeRow.isNullAt(0)) rBuf.next() // null prefix
            else {
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) rBuf.next() // key already behind every future left row
              else if (cmp > 0) advance = false
              else {
                val rTs = rTimeRow.getLong(0)
                if (fwd) {
                  if (rTs < lTs) rBuf.next() // strictly before: useless forward
                  else advance = false        // head IS the earliest >= lTs
                } else {
                  if (rTs <= lTs) { // newest-so-far candidate; keep scanning
                    candKey = rKey.copy(); candTs = rTs; candRow = rBuf.next().copy()
                  } else advance = false
                }
              }
            }
          }
          if (fwd) {
            if (rBuf.hasNext) {
              val rKey = rKeyProj(rBuf.head)
              if (!rKey.anyNull && keyOrd.compare(rKey, lKey) == 0) {
                val rTs = rTimeProj(rBuf.head).getLong(0)
                if (tol.forall(rTs - lTs <= _)) matched = rBuf.head
              }
            }
          } else if (candRow != null && keyOrd.compare(candKey, lKey) == 0 &&
              tol.forall(lTs - candTs <= _)) {
            matched = candRow
          }
        }
        numOutputRows += 1
        if (matched != null) {
          numMatched += 1
          outProj(joined(lRow, matched))
        } else outProj(joined(lRow, nullRight))
      }
    }
  }
}

/** DataFrame-level API over the native operator. */
object AsOf {

  /** Idempotently make an ALREADY-BUILT session able to plan
    * [[AsOfJoinPlan]] (extensions only apply at construction — the
    * driver's Verify/Bench sessions arrive plain). */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

  // ------------------------------------------------- hot-key time-split
  // The exact per-key merge requires each key's FULL history in one
  // sorted task. Under a Zipf head (the reference's large-cap symbols)
  // the rank-1 key is ~15% of the corpus — at 100 TB that is one ~15 TB
  // task by construction. Mitigation: range-split hot keys on TIME into
  // `chunks` buckets (the shuffle key becomes (key, chunk)), and carry
  // each chunk's final-instant right row into every LATER chunk so the
  // backward merge's boundary candidate is present locally — the stitch
  // is exact, proven by AsOfSplitSpec's row-for-row equality against the
  // unsplit plan. Engages automatically when either side's plan-stat
  // size reaches [[MinBuildBytes]] (the [[ScaleGate]]) AND a runtime
  // per-key count pass finds keys above [[SplitHotKeyRowsConf]] rows.

  // sizing recipe: SURVEY §5 "Sizing a real deployment"
  /** Right-side rows per key above which the key counts as hot. */
  val SplitHotKeyRowsConf = "spark.graft.asof.split.hotKeyRows"

  /** Time chunks per hot key. */
  private val Chunks = 16
  /** Plan-stat bytes below which the split never engages (the per-key
    * count pass is an extra scan — don't pay it on small inputs). */
  private val MinBuildBytes: Long = 1L << 30 // 1 GiB
  private val DefaultHotKeyRows: Long = 2000000L
  /** Hot keys are collected into a broadcast bounds table; by construction
    * |hot| <= buildRows / hotKeyRows, but guard the broadcast anyway. */
  private val MaxHotKeys = 100000

  /** Tie types the split's carried-winner heap can order EXACTLY: the heap
    * maps the tiebreak onto a long via bitwise NOT (order-reversing for all
    * longs, no sentinel collisions). Decimal/Float/Double would collapse
    * through a double cast — >53-bit Decimal ties become equal, NaN ties
    * map to the wrong end of the merge's nulls-first keep-last order, and
    * real ±Inf collides with the null sentinels — so non-integral ties
    * fall back to [[joinPlain]] (the gate below), keeping the operator's
    * row-for-row exactness contract unconditional. */
  private def integralTie(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType

  /** As-of join `left` to `right`.
    *
    * @param on        (leftKeyCol, rightKeyCol) equi-key pairs (types must
    *                  match pairwise)
    * @param leftTime  left time column — TimestampType or LongType
    * @param rightTime right time column — same type family
    * @param toleranceUs max |leftTime - rightTime| for a match, in the
    *                  column's own units (micros for timestamps)
    * @param forward   false = latest right <= left (backward, default);
    *                  true = earliest right >= left
    * @param rightTieBreak right column resolving exact (key, time)
    *                  duplicates in the merge (backward keeps its max,
    *                  forward its min) — without it the right side must
    *                  be unique per (key, time)
    *
    * Output = left columns ++ right columns (right nullable); name
    * collisions are the caller's to avoid (rename before joining).
    *
    * EAGERNESS: when the hot-key time-split arms (either side's plan-stat
    * size >= [[MinBuildBytes]], or [[ScaleGate.ForceConf]] `arm`), hot-key
    * DETECTION — two corpus-scan aggregations plus a bounded collect —
    * executes HERE, at DataFrame-construction time, not at the first
    * action. The detection result is memoized ([[HotKeys]]), so repeated
    * construction of the same join pays the scans once; distinct inputs or
    * a changed [[SplitHotKeyRowsConf]] re-detect. Callers that only want
    * the plan (explain, plan-shape tests) on large inputs can set
    * [[ScaleGate.ForceConf]] to `off` to keep construction lazy.
    */
  def join(left: DataFrame, right: DataFrame, on: Seq[(String, String)],
      leftTime: String, rightTime: String,
      toleranceUs: Option[Long] = None, forward: Boolean = false,
      rightTieBreak: Option[String] = None): DataFrame = {
    require(on.nonEmpty, "as-of join needs at least one equi-key")
    val spark = left.sparkSession
    // streaming frames can't run the hot-key count action; tie types the
    // heap can't order EXACTLY (anything non-integral — see [[integralTie]])
    // fall back too. EITHER side's size can arm the gate: a probe-side hot
    // key stalls the merge's sorted task just as surely as a build-side one.
    val splittable = !left.isStreaming && !right.isStreaming &&
      rightTieBreak.forall(t => right.schema.find(f =>
        spark.sessionState.conf.resolver(f.name, t))
        .exists(f => integralTie(f.dataType))) &&
      (ScaleGate.armed(right, MinBuildBytes) || ScaleGate.armed(left, MinBuildBytes))
    if (splittable) {
      val hotRows =
        spark.conf.get(SplitHotKeyRowsConf, DefaultHotKeyRows.toString).toLong
      joinTimeSplit(left, right, on, leftTime, rightTime, toleranceUs,
        forward, rightTieBreak, Chunks, hotRows)
    } else joinPlain(left, right, on, leftTime, rightTime, toleranceUs,
      forward, rightTieBreak)
  }

  /** The unsplit native join — one exchange per side on the raw keys. */
  private[graft] def joinPlain(left: DataFrame, right: DataFrame,
      on: Seq[(String, String)], leftTime: String, rightTime: String,
      toleranceUs: Option[Long] = None, forward: Boolean = false,
      rightTieBreak: Option[String] = None): DataFrame = {
    require(on.nonEmpty, "as-of join needs at least one equi-key")
    val spark = left.sparkSession
    ensureStrategy(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String, side: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"as-of join: no column '$name' on the $side side " +
            s"(have ${plan.output.map(_.name).mkString(", ")})"))
    val lKeys = on.map(p => resolve(lPlan, p._1, "left"))
    val rKeys = on.map(p => resolve(rPlan, p._2, "right"))
    lKeys.zip(rKeys).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"as-of key type mismatch: ${l.name}: ${l.dataType} vs ${r.name}: ${r.dataType}")
    }
    val lTime = resolve(lPlan, leftTime, "left")
    val rTime = resolve(rPlan, rightTime, "right")
    Seq(lTime, rTime).foreach { t =>
      require(t.dataType == TimestampType || t.dataType == LongType,
        s"as-of time column ${t.name} must be TIMESTAMP or BIGINT, got ${t.dataType}")
    }
    require(lTime.dataType == rTime.dataType,
      s"as-of time type mismatch: ${lTime.dataType} vs ${rTime.dataType}")
    // The analyzer's self-join attribute dedup only fires for built-in
    // Join nodes — two sides sharing OUTPUT attributes (both straight off
    // the same scan, nothing aliased) would give this node duplicate
    // output exprIds and ambiguous downstream resolution. Fail loudly;
    // the fix on the caller side is one .as alias (q47 aliases every
    // right column anyway).
    val shared = lPlan.outputSet.intersect(rPlan.outputSet)
    require(shared.isEmpty,
      s"as-of join sides share output attributes (${shared.toSeq.map(_.name).mkString(", ")}) " +
        "— alias one side's columns before joining (self-join dedup does not " +
        "apply to custom nodes)")
    val tie = rightTieBreak.map(resolve(rPlan, _, "right"))
    GraftShim.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, lKeys, rKeys, lTime, rTime, toleranceUs,
        forward, tie))
  }

  /** The hot-key time-split. Exactness argument (backward; forward is the
    * mirror): a left row at time t in chunk c matches the globally-latest
    * right row <= t. That row is either (a) in chunk c — present in c's
    * partition; or (b) the final-instant row of the LAST non-empty chunk
    * c' < c — carried into c (every chunk's final-instant winner is
    * replicated to all later chunks, and any carried row from a chunk
    * before c' has a strictly earlier time, so the merge's keep-latest
    * picks the true match). Carried times are < chunk-c's start <= t, so
    * no carried row can overshoot; tolerance is applied by the merge
    * itself, unchanged. Exact (key, time) duplicates share a chunk, so
    * the tiebreak semantics are untouched in-chunk, and the carried
    * winner per chunk is chosen by the SAME (time, tie) order the merge's
    * keep-last would apply.
    *
    * Cost when engaged: one count/min/max pass over EACH side — executed
    * exactly once (the bounded hot table is collected and re-broadcast as
    * a local relation, so neither broadcast re-runs the scans) — one
    * k=1-heap aggregation over the
    * hot subset (map-side partial, ObjectHash path) for the carried rows,
    * and the join's own two exchanges now keyed (key, chunk) — max task
    * input ∝ chunk, not key. Non-hot keys ride chunk 0: their
    * partitioning is what it was. Hotness is judged on BOTH sides — a
    * probe-side hot key stalls the merge's sorted task exactly like a
    * build-side one, and the exactness argument never uses where the
    * bounds came from, only that both sides bucket through the SAME
    * monotone function (rows outside the bounds clamp to the edge chunks,
    * which stay correctly ordered in-chunk). */
  private[graft] def joinTimeSplit(lhs: DataFrame, rhs: DataFrame,
      on: Seq[(String, String)], leftTime: String, rightTime: String,
      toleranceUs: Option[Long], forward: Boolean,
      rightTieBreak: Option[String], chunks: Int, hotRows: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampType => TsT}
    val spark = lhs.sparkSession
    val lKeyNames = on.map(_._1)
    val rKeyNames = on.map(_._2)
    def usCol(df: DataFrame, name: String): org.apache.spark.sql.Column = {
      val dt = df.schema.find(f => spark.sessionState.conf.resolver(f.name, name))
        .map(_.dataType)
      if (dt.contains(TsT)) unix_micros(col(name)) else col(name)
    }

    // pass 1: per-key row counts + time bounds on BOTH sides; a key is
    // hot when either side exceeds the threshold. Partial-aggregable —
    // each shuffle carries one row per key per task, and the filtered
    // outputs are bounded (≤ rows/hotRows keys each) by construction.
    val rStats = rhs.groupBy(rKeyNames.map(col): _*)
      .agg(count(lit(1)).as("__rc"),
        min(usCol(rhs, rightTime)).as("__rmin"),
        max(usCol(rhs, rightTime)).as("__rmax"))
      .filter(col("__rc") >= hotRows && col("__rmin").isNotNull)
    val lStats = lhs.groupBy(lKeyNames.map(col): _*)
      .agg(count(lit(1)).as("__lc"),
        min(usCol(lhs, leftTime)).as("__lmin"),
        max(usCol(lhs, leftTime)).as("__lmax"))
      .filter(col("__lc") >= hotRows && col("__lmin").isNotNull)
      .toDF(rKeyNames ++ Seq("__lc", "__lmin", "__lmax"): _*)
    // least/greatest skip nulls, so a one-sided key gets that side's
    // bounds; both sides bucket through the same values either way
    val hotDist = rStats.join(lStats, rKeyNames, "outer")
      .select(rKeyNames.map(col)
        :+ least(col("__rmin"), col("__lmin")).as("__asof_tmin")
        :+ greatest(col("__rmax"), col("__lmax")).as("__asof_tmax"): _*)
    // Execute the detection subtree exactly ONCE: collect the bounded hot
    // table (limit-guarded so the collect itself can't OOM; |hot| <=
    // rows/hotRows by construction) and rebuild it as a LOCAL relation.
    // Without this, the count job plus each downstream broadcast re-ran
    // the two corpus-scan aggregations — the left/right projections
    // differ, so ReuseExchange can't fire across them — i.e. up to six
    // corpus scans for detection instead of one per side.
    val hotCollected = HotKeys.detect(hotDist, MaxHotKeys)
    if (hotCollected.isEmpty)
      return joinPlain(lhs, rhs, on, leftTime, rightTime, toleranceUs,
        forward, rightTieBreak)
    require(hotCollected.length <= MaxHotKeys,
      s"as-of time-split found > $MaxHotKeys hot keys (broadcast bound) " +
        s"— raise $SplitHotKeyRowsConf or repartition the build side upstream")
    val hot = spark.createDataFrame(
      java.util.Arrays.asList(hotCollected: _*), hotDist.schema)

    // chunk(t): non-hot keys (null bounds) ride chunk 0; hot keys bucket
    // uniformly over the combined [tmin, tmax], clamped so times outside
    // the range land in the edge chunks. All-longs arithmetic: micros
    // spans (~3e15) × chunks stay far inside Long.
    def chunkOf(t: org.apache.spark.sql.Column) =
      when(col("__asof_tmin").isNull, lit(0))
        .otherwise(least(lit(chunks - 1), greatest(lit(0),
          floor((t - col("__asof_tmin")) * chunks /
            (col("__asof_tmax") - col("__asof_tmin") + 1L)).cast("int"))))

    val hotL = hot.toDF(lKeyNames ++ Seq("__asof_tmin", "__asof_tmax"): _*)
    val lC = lhs.join(broadcast(hotL), lKeyNames, "left")
      .withColumn("__asof_chunk_l", chunkOf(usCol(lhs, leftTime)))
      .select(lhs.columns.map(col) :+ col("__asof_chunk_l"): _*)
    val rAug = rhs.join(broadcast(hot), rKeyNames, "left")
    val rC = rAug
      .withColumn("__asof_chunk_r", chunkOf(usCol(rhs, rightTime)))
      .select(rhs.columns.map(col) :+ col("__asof_chunk_r"): _*)

    // carried rows: per (hot key, chunk) the boundary winner — backward
    // carries the final instant's keep-last row to all LATER chunks,
    // forward the first instant's keep-first row to all EARLIER chunks.
    // One k=1 heap per (key, chunk): map-side partial, ObjectHash path.
    val rtUs = usCol(rhs, rightTime)
    // The merge sorts (time asc, tie asc, NULLS FIRST) and keeps the last
    // duplicate backward (max tie — nulls lose) / the first forward (min
    // tie — nulls WIN). Mirror that exactly in the heap's keep-min order:
    // the join() gate admits only INTEGRAL ties here ([[integralTie]] —
    // bitwise NOT is order-reversing for ALL longs, no MinValue overflow,
    // and anything a double cast would collapse fell back to joinPlain),
    // and nulls get their own leading flag component instead of a value
    // sentinel, so no real tie value can collide with the null ordering.
    val tieCols: Seq[org.apache.spark.sql.Column] =
      rightTieBreak.toSeq.flatMap { tname =>
        val t = col(tname)
        if (forward) // keep-min: nulls first (win), then tie asc
          Seq(when(t.isNull, 0L).otherwise(1L).as("tn"),
            coalesce(t.cast("long"), lit(0L)).as("tb"))
        else // keep-min on NOT: nulls last (lose), then tie desc
          Seq(when(t.isNull, 1L).otherwise(0L).as("tn"),
            bitwise_not(coalesce(t.cast("long"), lit(0L))).as("tb"))
      }
    val ordKey = struct(
      (if (forward) rtUs else bitwise_not(rtUs)).as("t") +: tieCols: _*)
    val payload = struct(rhs.columns.map(col): _*)
    val rHot = rAug.filter(col("__asof_tmin").isNotNull && rtUs.isNotNull)
      .withColumn("__c", chunkOf(rtUs))
    val winners = rHot
      .groupBy(rKeyNames.map(col) :+ col("__c"): _*)
      .agg(get(graft.functions.catalyst.GraftColumns.topk_by_ord(
        ordKey, payload, 1), lit(0)).as("__w"))
    val carried =
      (if (forward) winners.filter(col("__c") > 0)
        .withColumn("__asof_chunk_r", explode(sequence(lit(0), col("__c") - 1)))
      else winners.filter(col("__c") < chunks - 1)
        .withColumn("__asof_chunk_r", explode(sequence(col("__c") + 1, lit(chunks - 1)))))
        .select(rhs.columns.map(c => col(s"__w.`$c`").as(c)) :+ col("__asof_chunk_r"): _*)
    val rAll = rC.unionByName(carried)

    joinPlain(lC, rAll,
      on :+ ("__asof_chunk_l" -> "__asof_chunk_r"),
      leftTime, rightTime, toleranceUs, forward, rightTieBreak)
      .select((lhs.columns ++ rhs.columns).map(col): _*)
  }
}
