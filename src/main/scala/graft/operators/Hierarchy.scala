package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Hierarchy flattening — the recursive CTE Spark lacks.
  *
  * Org charts, BOM explosions, and category trees all need the ancestor
  * CLOSURE of a parent-pointer table (`WITH RECURSIVE` in ANSI engines).
  * Spark has no recursive CTE; the naive port iterates one frontier join
  * per LEVEL — depth shuffles, each dragging the growing closure. The
  * scale answer is POINTER DOUBLING (path doubling): keep the set of
  * known (node, ancestor, dist) paths and self-join it once per round —
  * after k rounds every path of length ≤ 2^k is known, so a depth-d
  * hierarchy closes in ceil(log2 d) rounds, not d. Real hierarchies are
  * shallow (d ≤ ~30 even at 100 TB part counts), so this is ≤ 5 keyed
  * shuffles over a closure bounded by n·d rows; each round is
  * eager-checkpointed (flat lineage, the d07 loop discipline) and the
  * driver-side fixpoint probe is one count per round.
  *
  * The hierarchy itself is derived in-query (the corpus carries no parent
  * column — t12's determinism convention): parent(k) = (k − 1) div 2 for
  * k ≥ 1, the binary-heap tree rooted at part 0, so both engines build
  * the identical tree from the same integer arithmetic. The DuckDB
  * oracle is the INDEPENDENT `WITH RECURSIVE` evaluation, so the gate
  * proves doubling ≡ level-at-a-time recursion.
  */
object Hierarchy {
  /** 2^MaxDoublingRounds bounds the deepest closable hierarchy (2^20 ≈
    * 1M levels — far past any real tree; the loop stops at fixpoint). */
  val MaxDoublingRounds = 20

  /** The pointer-doubling fixpoint over a `(node, anc, dist)` parent-edge
    * frame — q45's engine. Unordered; callers sort. */
  def closureFrom(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    var closure = graft.GraftSession.maybeEagerCheckpoint(edges)
    // Fixpoint via the CAPACITY argument, not count stagnation (round-16
    // optimization, guide §1.2 "remove unnecessary passes"): after round
    // k the closure provably holds every path of length ≤ 2^k, and path
    // lengths from a node to its ancestors are contiguous (1..depth), so
    // `max(dist) < 2^k` means NO node is deeper than max(dist) and the
    // closure is complete — the count-stagnation form needed one extra
    // full join+distinct round just to observe zero growth. max rides
    // the same single fixpoint action as the count (one agg job/round).
    var Seq(size, maxDist) = closure.agg(count(lit(1)), max($"dist"))
      .head().toSeq.map(_.asInstanceOf[Long])
    var round = 0
    var done = maxDist < 1L // empty edge set: nothing to close
    while (!done && round < MaxDoublingRounds) {
      val hops = closure.toDF("mid", "anc2", "dist2")
      val doubled = closure.join(hops, $"anc" === $"mid")
        .select($"node", $"anc2".as("anc"), ($"dist" + $"dist2").as("dist"))
      val next = graft.GraftSession.maybeEagerCheckpoint(
        closure.unionByName(doubled).distinct())
      val Seq(nextSize, nextMax) = next.agg(count(lit(1)), max($"dist"))
        .head().toSeq.map(_.asInstanceOf[Long])
      round += 1
      done = nextSize == size || nextMax < (1L << round)
      closure = next
      size = nextSize
      maxDist = nextMax
    }
    require(done, s"hierarchy closure did not converge in $MaxDoublingRounds rounds")
    closure
  }

  // ---------------------------------------------------------------- q45
  /** Full ancestor closure of the derived part hierarchy: one row per
    * (node, ancestor) pair with the path length. */
  def hierarchyClosure(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.part(spark, dir)
      .select($"p_partkey".cast("long").as("node"))
      .filter($"node" >= 1L)
      .select($"node", expr("(node - 1) div 2").as("anc"), lit(1L).as("dist"))
    closureFrom(edges).orderBy($"node", $"dist")
  }

  val hierarchyClosureSql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS node,
      |         CAST((p_partkey - 1) // 2 AS BIGINT) AS anc,
      |         CAST(1 AS BIGINT) AS dist
      |  FROM part WHERE p_partkey >= 1
      |  UNION ALL
      |  SELECT node, (anc - 1) // 2, dist + 1 FROM anc WHERE anc >= 1
      |)
      |SELECT node, anc, dist FROM anc ORDER BY node, dist""".stripMargin
}
