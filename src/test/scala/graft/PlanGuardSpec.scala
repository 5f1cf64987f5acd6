package graft

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation, LogicalPlan, OneRowRelation, UnaryNode, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** Engine-wide plan-regression guard for the anti-pattern class rounds
  * 4–5 eliminated: a window with NO partition spec funnels its whole
  * input through one task, which is only ever acceptable deliberately —
  * and deliberate single partitions are spelled with a constant key
  * (`pmod(k, 1)`, see Curation), which keeps the spec non-empty. So the
  * invariant is crisp: ZERO unpartitioned logical Windows across the
  * query surface.
  *
  * Guarded set = every `SparkEntry.queries` entry, AUTO-ENROLLED, minus
  * an explicit executes-on-construction denylist: a new query row is
  * guarded by default, and exempting one requires a WRITTEN reason here
  * (the round-9 lesson — r33 shipped an accidentally unpartitioned
  * window because the old hand-maintained include-list silently never
  * learned about it). Denylisted operators execute real work while
  * being BUILT (jobs, fits, filesystem round-trips, driver collects);
  * re-running their actions here would double the suite's runtime for
  * no added coverage — each is audited by its own spec. */
class PlanGuardSpec extends AnyFunSuite with PredicateHelper {
  import TestSpark._

  /** prefix -> why its construction is eager (the written exemption). */
  private val eagerExemptions: Map[String, String] = Map(
    "q43_" -> "iterative pointer-jumping fixpoint runs jobs on construction",
    "q43b_" -> "iterative pointer-jumping fixpoint runs jobs on construction",
    "d03_" -> "eager checkpoint of the banded signature table",
    "d05_" -> "eager checkpoint of the embedding-bucket candidates",
    "d07_" -> "connected-components fixpoint loop runs jobs on construction",
    "d14_" -> "connected-components fixpoint loop runs jobs on construction",
    "d08_" -> "incremental-dedup workspace write + eager checkpoint",
    "d13_" -> "bloom sketch build aggregates the corpus on construction",
    "d09_" -> "IVF centroid training collects a bounded sample on construction",
    "s04_" -> "IVF centroid training collects a bounded sample on construction",
    "s05_" -> "PQ codebook training collects a bounded sample on construction",
    "s05b_" -> "PQ serving batch collects the contract-bounded request set",
    "s06_" -> "persisted ANN index build writes the index on construction",
    "ml01_" -> "MLlib fit executes on construction",
    "ml02_" -> "MLlib fit executes on construction",
    "ml03_" -> "MLlib fit executes on construction",
    "ml04_" -> "MLlib fit executes on construction",
    "ml05_" -> "FPGrowth fit + basket count execute on construction",
    "q13_" -> "two-pass exact quantile runs the size/offset/extract jobs on construction",
    "t06_" -> "driver-collected eval-vocabulary broadcast on construction",
    "t07_" -> "driver-collected bigram table broadcast on construction",
    "t09_" -> "driver-collected LM table broadcast on construction",
    "p02_" -> "train/test split sink writes files on construction",
    "p03_" -> "composes the d07 fixpoint loop on construction",
    "r12_" -> "CSV round-trip writes files on construction",
    "r14_" -> "JSON round-trip writes files on construction",
    "r16_" -> "partitioned sink writes files on construction",
    "r17_" -> "incremental-merge workspace writes on construction",
    "r19_" -> "snapshot workspace write on construction",
    "r21_" -> "watermark workspace write on construction",
    "r22_" -> "calendar workspace write on construction",
    "r23_" -> "digest reads the r21-r23 workspace on construction",
    "r24_" -> "ORC round-trip writes files on construction",
    "r27_" -> "compaction rewrites files on construction",
    "r28_" -> "schema-evolution round-trip writes files on construction",
    "r31_" -> "paged-transport fetch runs the fake API on construction",
    "r40_" -> "zone-map layout write + file-list metadata collect on construction",
    "r46_" -> "z-order layout write + zone-map metadata collect on construction",
    "q45_" -> "pointer-doubling fixpoint loop runs count actions on construction",
    "r32_" -> "the composed daily loop runs end-to-end on construction",
    "r34_" -> "the composed daily loop runs end-to-end on construction",
    "r36_" -> "the composed daily loop runs end-to-end on construction",
    "r41_" -> "the truncated run + repair replay execute on construction",
    "r43_" -> "the sink placement jobs run on construction (the query IS the round-trip)",
    "r38_" -> "the telemetry listener runs the measured action on construction",
    "m05_" -> "binary ingest writes the staged files on construction",
    "t14_" -> "BPE merge loop collects the 1-row argmax each round on construction")

  private val lazyQueries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(n => eagerExemptions.keys.exists(n.startsWith))

  test("plan guard: every exemption names a live query (no rotted entries)") {
    val all = SparkEntry.queries.keySet
    val dead = eagerExemptions.keys.filterNot(p => all.exists(_.startsWith(p)))
    assert(dead.isEmpty,
      s"exemptions for queries that no longer exist: ${dead.mkString(", ")}")
  }

  test("plan guard: no query plans an unpartitioned window (single-task funnel)") {
    assert(lazyQueries.size >= 95, s"guard list shrank: ${lazyQueries.size}")
    val offenders = lazyQueries.flatMap { name =>
      // per-query uncached plans: a previously-constructed query's
      // maybeCache (t11, r30, ...) would substitute InMemoryRelations
      // into later plans and hide the windows this guard inspects
      spark.catalog.clearCache()
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val bad = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (bad.nonEmpty) Some(s"$name (${bad.size} unpartitioned window(s))")
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows found in:\n  ${offenders.mkString("\n  ")}")
  }

  /** A join side whose cardinality is bounded by CONSTRUCTION, not by
    * data: literal rows (condition grids), the 1-row relation, or a
    * global aggregate (no grouping keys ⇒ exactly one row). Unary
    * wrappers (project/filter/alias/explode-over-literals) preserve the
    * bound — every child row count is already literal-bounded. */
  private def boundedSide(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation => true
    case _: OneRowRelation => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case u: UnaryNode => boundedSide(u.child)
    case j: Join => boundedSide(j.left) && boundedSide(j.right)
    case _ => false
  }

  /** Declared all-pairs baselines: s01 exists to be the verified
    * brute-force comparison for the bucketed ANN paths — its cross join
    * IS the operator. Nothing else may plan an unbounded cross join. */
  private val crossJoinBaselines = Set("s01_ann_bruteforce")

  test("plan guard: the ANN family plans NO rank windows (bounded heaps only)") {
    // Round-15 closure of the round-11 sweep: s02 was the last ANN entry
    // whose per-query top-k ranked through row_number().over(partitionBy)
    // — which shuffles and whole-sorts the full candidate stream where
    // the graft_topk heap cuts each map task to ≤k rows per query BEFORE
    // the exchange. Pin the entire lazy ANN family window-free so a
    // future edit cannot quietly regress one member back to the window
    // form (ShuffleGuardSpec pins s02's exchange count; this pins the
    // operator class).
    //
    // Round 16 enrolls the EAGER members too — s04 (trained IVF) and d09
    // (IVF cell-blocked dedup) both ranked through windows despite the
    // round-15 claim that the family was pinned; their KMeans/centroid
    // construction work is memoized per (session, dir), so inspecting
    // their plans here costs one fit, not one per run. The PQ serving
    // entries s05/s05b merge and re-rank through the same heaps (one ADC
    // scan, then the exact finish) and s07b runs s04's trained-cell core,
    // so they are enrolled too. The one family member deliberately NOT
    // here (the denylist discipline): s06, which builds its index on
    // disk on construction; it runs s05's scan (LlmOpsSpec pins s06 ≡
    // s05 over a whole-corpus index).
    val annLazy = Seq("s01_ann_bruteforce", "s02_ann_lsh", "s03_ann_ivf",
      "s04_ann_ivf_trained", "s05_ann_pq", "s05b_ann_pq_served",
      "s07_knn_graph", "s07b_knn_graph_trained", "s08_range_search",
      "d09_dedup_embedding_ivf")
    val offenders = annLazy.flatMap { name =>
      spark.catalog.clearCache()
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val wins = plan.collect { case w: LWindow => w }
      if (wins.nonEmpty) Some(s"$name (${wins.size} window(s))") else None
    }
    assert(offenders.isEmpty,
      s"rank windows found in the ANN family:\n  ${offenders.mkString("\n  ")}")
  }

  test("plan guard: every cross join has a metadata-bounded side (no accidental all-pairs)") {
    var seen = 0
    val offenders = lazyQueries.filterNot(crossJoinBaselines).flatMap { name =>
      spark.catalog.clearCache()
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val crosses = plan.collect {
        case j: Join if j.condition.isEmpty || j.joinType == Cross => j
      }
      seen += crosses.size
      val bad = crosses.filterNot(j => boundedSide(j.left) || boundedSide(j.right))
      if (bad.nonEmpty) Some(s"$name (${bad.size} unbounded cross join(s))")
      else None
    }
    // non-vacuity: the guarded set DOES contain deliberate bounded cross
    // joins (literal grids, 1-row scalar aggregates) — if this ever hits
    // zero the collect pattern rotted, not the engine
    assert(seen > 0, "guard went vacuous: no cross joins matched at all")
    assert(offenders.isEmpty,
      s"unbounded cross joins found in:\n  ${offenders.mkString("\n  ")}")
  }

  /** Does the join carry at least one equi predicate spanning both
    * sides? Without one, Spark can only plan BroadcastNestedLoopJoin /
    * Cartesian — acceptable ONLY against a construction-bounded side. */
  private def spansBoth(j: Join, a: Expression, b: Expression): Boolean =
    (a.references.subsetOf(j.left.outputSet) && b.references.subsetOf(j.right.outputSet)) ||
      (a.references.subsetOf(j.right.outputSet) && b.references.subsetOf(j.left.outputSet))
  private def hasEquiPair(j: Join): Boolean =
    j.condition.toSeq.flatMap(splitConjunctivePredicates).exists {
      case EqualTo(a, b) => spansBoth(j, a, b)
      case EqualNullSafe(a, b) => spansBoth(j, a, b)
      case _ => false
    }

  test("plan guard: every NON-EQUI join has a bounded side (no unbounded nested-loop)") {
    // the class the cross-join guard does not reach: a condition-bearing
    // join with no equi conjunct physically plans as a per-probe-row
    // BroadcastNestedLoopJoin, so this sweeps every guarded entry for one.
    // Same allowlist as the cross-join guard: s01's all-pairs join IS
    // the declared brute-force baseline, condition or no condition
    var seen = 0
    val offenders = lazyQueries.filterNot(crossJoinBaselines).flatMap { name =>
      spark.catalog.clearCache()
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val nonEqui = plan.collect {
        case j: Join if j.condition.nonEmpty && !hasEquiPair(j) => j
      }
      seen += nonEqui.size
      val bad = nonEqui.filterNot(j => boundedSide(j.left) || boundedSide(j.right))
      if (bad.nonEmpty) Some(s"$name (${bad.size} unbounded non-equi join(s))")
      else None
    }
    assert(seen > 0, "guard went vacuous: no non-equi joins matched at all")
    assert(offenders.isEmpty,
      s"unbounded non-equi joins found in:\n  ${offenders.mkString("\n  ")}")
  }
}
