package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.catalyst.GraftColumns

/** Top-k-per-group as an AGGREGATE, not a window.
  *
  * "Top k rows per group" is the reference's best-of selection shape
  * (daily_function.py:1078 idxmax is its k=1 case) and every leaderboard/
  * per-entity-sample query. The textbook Spark form —
  * `row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k` — is no
  * longer the naive disaster it once was: since the rank-limit pushdown
  * (SPARK-37099) Catalyst plans a map-side `WindowGroupLimit(Partial)`,
  * so the exchange carries ≤ tasks×groups×k rows, not the corpus
  * (measured here: 100 shuffle records at sf0.1). What the window plan
  * STILL pays is a WHOLE-PARTITION SORT under each partial limit — every
  * corpus row is sorted (O(n log n) per task, sort buffers sized by the
  * partition, spill at 100 TB widths) before the limit scans it, and the
  * final side sorts again.
  *
  * q46 runs the same semantics through [[graft.functions.catalyst.TopKByScore]]
  * (`graft_topk`), a partial-aggregable TypedImperativeAggregate: each map
  * task streams its slice through a ≤k bounded HEAP per group — O(n log k)
  * comparisons, O(groups×k) fixed memory, nothing to spill — and the
  * exchange carries serialized heaps (measured: 55 shuffle records vs the
  * window's 100, agg ≥ window warm wall-time at sf0.1). Beyond the
  * asymptotics, the aggregate composes where the window pattern can't:
  * top-k can sit NEXT TO count/sum/avg in the same groupBy pass (one scan,
  * one exchange), and the array form feeds array consumers without a
  * re-group. ObjectHashAggregate partial/final; no WindowExec, no sort at
  * all before the exchange (TopKAggSpec pins the plan, and proves
  * agg ≡ window row-for-row).
  */
object TopK {
  val K = 10

  /** q46: per event type, the K highest-value events (value DESC, then
    * event_id ASC — a total order, so ties are deterministic on both
    * engines). Emits one row per (event_type, rank). */
  def q46TopkPergroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(GraftColumns.topk_by($"value", $"event_id", K).as("top"))
      .select($"event_type", posexplode($"top").as(Seq("pos", "t")))
      .select($"event_type", ($"pos" + 1).cast("int").as("rank"),
        $"t.id".as("event_id"), $"t.score".as("value"))
      .orderBy($"event_type", $"rank")
  }

  val q46Sql: String =
    s"""SELECT event_type, CAST(rn AS INT) AS rank, event_id, value
       |FROM (SELECT event_type, event_id, value,
       |        row_number() OVER (PARTITION BY event_type
       |                           ORDER BY value DESC, event_id) AS rn
       |      FROM events)
       |WHERE rn <= $K
       |ORDER BY event_type, rank""".stripMargin
}
