package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** q43: trade-flow centrality — PageRank over the nation → nation shipping
  * graph (supplier nation ships to customer nation, edge weight = shipped
  * dollar volume). Demonstrates the ITERATIVE join-aggregate capability an
  * analytics engine needs (label propagation, centrality, affinity —
  * anything fixed-point) expressed as a bounded loop of declarative steps.
  *
  * Engine-exact by construction: ALL arithmetic is 64-bit integer —
  * edge weights in whole dollars, per-edge shares in parts-per-million
  * (`(w * 1e6) div W`), damping as `(85 * S) div 100` — so both engines
  * floor identically and the oracle can replay the same five unrolled
  * iterations with `//`. No float ever enters the fixed point.
  *
  * Scale shape: the edge list aggregates once from the fact join (nations²
  * rows — tiny — but the SAME plan holds for any node domain); each
  * iteration is one shuffle on dst (the contribution rollup) plus a
  * broadcast-sized node join; the rank vector is O(nodes). Five
  * iterations = five chained stages, no driver data path except the
  * node-count literal (planner state, like r27's size listing). */
object GraphRank {
  val Iters = 5

  def tradeRank(spark: SparkSession, dir: String): DataFrame =
    tradeRankWith(spark, dir, rankPartitions = 1)

  /** q43b: the SAME fixed point under the large-domain rank-vector layout
    * (`rankPartitions = 8`): the vector stays hash-distributed on `node`
    * across iterations instead of coalescing to one task. The output is
    * layout-independent — integer arithmetic commutes over any partition
    * assignment — so q43b gates against the IDENTICAL tradeRankSql oracle,
    * proving the layout a 1M-node domain needs (PERF.md round 7) computes
    * the same ranks the small-domain idiom does. */
  def tradeRankPartitioned(spark: SparkSession, dir: String): DataFrame =
    tradeRankWith(spark, dir, rankPartitions = 8)

  private def tradeRankWith(spark: SparkSession, dir: String,
      rankPartitions: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.Money.tenK
    val nations = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    // Materialized ONCE (round-16 optimization, guide §1.2): the edge list
    // is ≤ nations² rows, but pageRankCore reads it through two plans
    // (share = weighted ⋈ outW, and outW's own rollup) — unmaterialized,
    // the corpus-scale fact join + aggregation underneath ran TWICE and
    // the two copies then met in a 32-partition sort-merge join on 25
    // rows. Checkpointing the tiny edge frame runs the fact pass once and
    // lets the share join broadcast.
    val weighted = graft.GraftSession.maybeEagerCheckpoint(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_nationkey".as("src"), $"c_nationkey".as("dst"),
          tenK($"l_extendedprice", $"l_discount").as("v"))
        .groupBy($"src", $"dst")
        .agg(expr("sum(v) div 10000").as("w"))
        .filter($"src" =!= $"dst" && $"w" > 0))
    // nations² node domain → rankPartitions picks the vector layout
    val pr = pageRankCore(nations.select($"n_nationkey".as("node")), weighted,
      rankPartitions)
    pr.join(broadcast(nations), $"node" === $"n_nationkey")
      .select($"n_name", $"pr".as("rank_micros"))
      .orderBy($"rank_micros".desc, $"n_name")
  }

  /** The integer PageRank fixed point over an explicit node domain
    * (`node`) and weighted edge list (`src`, `dst`, `w`) — q43's loop,
    * parameterized by the rank-vector layout. `rankPartitions = 1` is
    * the small-domain idiom (the nations graph: a coalesced vector keeps
    * each tiny stage at scheduling floor); a LARGE node domain passes a
    * partition count (matched to `spark.sql.shuffle.partitions` so the
    * per-iteration src = node join can reuse the cached hash
    * distribution) and the vector never funnels through one task. */
  private[graft] def pageRankCore(nodesIn: DataFrame, weighted: DataFrame,
      rankPartitions: Int): DataFrame = {
    import nodesIn.sparkSession.implicits._
    val nodes = nodesIn.select($"node")
    val n = nodes.count() // node-domain size: planner-scale driver state
    require(n > 0, "pageRankCore needs a non-empty node domain")
    val initPr = 1000000L / n
    val base = 150000L / n
    val outW = weighted.groupBy($"src").agg(sum($"w").as("tw"))
    val share = graft.GraftSession.maybeCache(
      weighted.join(outW, Seq("src"))
        .select($"src", $"dst", expr("(w * 1000000) div tw").as("share_ppm")))
    // Dangling nodes (no out-edges — real at small SF where few suppliers
    // exist) redistribute their mass uniformly each iteration, the
    // standard fix; d is a 1-row aggregate broadcast back in. The
    // existence check is ONE upfront planner-scale job: when the graph has
    // no dangling nodes (the common shape once every source ships), every
    // iteration drops its anti-join + cross-join pair — the fixed-point
    // loop is per-stage-overhead-bound, so halving stages halves latency.
    val srcs = share.select($"src").distinct()
    val hasDangling = !nodes
      .join(srcs, $"node" === $"src", "left_anti").isEmpty
    var pr = nodes.withColumn("pr", lit(initPr))
    for (_ <- 1 to Iters) {
      val contrib = share.join(pr, $"src" === $"node")
        .select($"dst", expr("(pr * share_ppm) div 1000000").as("c"))
        .groupBy($"dst").agg(sum($"c").as("s"))
      val prBase = nodes.join(contrib, $"node" === $"dst", "left")
      val prNext =
        if (hasDangling) {
          val dang = pr.join(srcs, $"node" === $"src", "left_anti")
            .agg(coalesce(sum($"pr"), lit(0L)).as("d"))
          prBase.crossJoin(broadcast(dang)).select($"node",
            (lit(base) + expr(s"(85 * (coalesce(s, 0) + d div $n)) div 100")).as("pr"))
        } else prBase.select($"node",
          (lit(base) + expr("(85 * coalesce(s, 0)) div 100")).as("pr"))
      // Materialize each iteration's O(nodes) rank vector: `pr` is
      // referenced once or twice per step, and an unmaterialized lineage
      // doubles per iteration (2^Iters plan blowup — measured 824
      // exchanges unrolled vs 30 cached). The cache is the
      // iterative-algorithm idiom, not an optimization knob, hence
      // .cache() directly rather than the caller-config maybeCache.
      // Forcing the build per iteration lets the superseded iterate
      // unpersist immediately — state stays ONE vector, not Iters of
      // them.
      val prev = pr
      pr = (if (rankPartitions <= 1) prNext.coalesce(1)
            else prNext.repartition(rankPartitions, $"node")).cache()
      pr.count()
      prev.unpersist(blocking = false)
    }
    pr
  }

  /** NOTE: every CTE is MATERIALIZED — DuckDB inlines plain CTEs, so the
    * doubled pr_{i-1} reference (dangling + contributions) would expand the
    * expression tree 2^Iters-fold, exactly the lineage blowup the Spark
    * side caches away; at sf0.1 the inlined form spilled >80 GB. */
  val tradeRankSql: String = {
    val edges =
      """edges AS MATERIALIZED (
        |  SELECT s_nationkey AS src, c_nationkey AS dst,
        |    sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)
        |        * (100 - CAST(floor(l_discount*100+0.5) AS BIGINT))) // 10000 AS w
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  GROUP BY 1, 2 HAVING src <> dst AND w > 0),
        |ow AS MATERIALIZED (SELECT src, sum(w) AS tw FROM edges GROUP BY 1),
        |shr AS MATERIALIZED (SELECT e.src, e.dst, (e.w * 1000000) // tw AS share_ppm
        |        FROM edges e JOIN ow USING (src)),
        |nn AS MATERIALIZED (SELECT count(*) AS n FROM nation),
        |pr0 AS MATERIALIZED (SELECT n_nationkey AS node, 1000000 // n AS pr FROM nation, nn)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""d$i AS MATERIALIZED (SELECT coalesce(sum(pr), 0) AS d FROM pr${i - 1}
         |        WHERE node NOT IN (SELECT DISTINCT src FROM shr)),
         |c$i AS MATERIALIZED (SELECT dst, sum((pr * share_ppm) // 1000000) AS s
         |        FROM shr JOIN pr${i - 1} ON src = node GROUP BY 1),
         |pr$i AS MATERIALIZED (SELECT n_nationkey AS node,
         |           (150000 // n) + (85 * (coalesce(s, 0) + d // n)) // 100 AS pr
         |         FROM nation CROSS JOIN nn CROSS JOIN d$i
         |         LEFT JOIN c$i ON n_nationkey = dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edges,
       |$iters
       |SELECT n_name, CAST(pr AS BIGINT) AS rank_micros
       |FROM pr$Iters JOIN nation ON n_nationkey = node
       |ORDER BY rank_micros DESC, n_name""".stripMargin
  }
}
