package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.AsOf
import graft.sources.Tables

/** q47: the q22 as-of semantics through the NATIVE operator
  * ([[graft.plans.AsOfJoinExec]]), carrying the matched row's PAYLOAD —
  * the thing the window composition structurally cannot do in one pass.
  *
  * Each purchase is joined to the same user's most recent prior-or-equal
  * view, and the output keeps the view's event_id AND value alongside the
  * purchase. q22's `max(when(view, ts)) over (...)` recovers only the
  * matched timestamp; getting the payload back would cost an extra
  * equi-join on (user_id, ts). Here: two key-partitioned exchanges, two
  * in-partition sorts, one merge pass.
  *
  * Exact (user_id, ts) view ties resolve to the max event_id — a total
  * order, so both engines agree. The NATIVE side gets this for free from
  * the merge's rightTieBreak ordering (raw views straight in, no
  * pre-aggregation — one exchange per side); the composed twin and the
  * DuckDB oracle must dedup explicitly (the window's join-back needs
  * (user, ts) unique; DuckDB's ASOF picks an arbitrary row among exact
  * ties otherwise).
  */
object AsOfNative {

  def q47AsofNative(spark: SparkSession, dir: String): DataFrame =
    asofNativeFrom(Tables.events(spark, dir))
      .orderBy("user_id", "purchase_id")

  private[graft] def purchasesOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"),
        $"value".as("purchase_value"))
  }

  /** The native-operator core over any events frame (SQL/spec entry):
    * raw views straight into the merge — ONE exchange per side, no
    * pre-aggregation anywhere, duplicates resolved by the tiebreak. */
  private[graft] def asofNativeFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val views = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user_id"), $"ts".as("view_ts"),
        $"event_id".as("view_id"), $"value".as("view_value"))
    AsOf.join(purchasesOf(ev), views,
        on = Seq("user_id" -> "v_user_id"),
        leftTime = "purchase_ts", rightTime = "view_ts",
        rightTieBreak = Some("view_id"))
      .select($"user_id", $"purchase_id", $"purchase_ts", $"purchase_value",
        $"view_id", $"view_ts", $"view_value",
        (unix_micros($"purchase_ts") - unix_micros($"view_ts"))
          .as("view_to_purchase_us"))
  }

  val q47Sql: String =
    Tables.eventsOracleCte + ",\n" +
      """purchases AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
        |         value AS purchase_value
        |  FROM events_us WHERE event_type = 'purchase'),
        |views AS (
        |  SELECT user_id AS v_user_id, ts AS view_ts,
        |         max(event_id) AS view_id, arg_max(value, event_id) AS view_value
        |  FROM events_us WHERE event_type = 'view'
        |  GROUP BY 1, 2)
        |SELECT p.user_id, p.purchase_id, p.purchase_ts, p.purchase_value,
        |       v.view_id, v.view_ts, v.view_value,
        |       epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS view_to_purchase_us
        |FROM purchases p
        |ASOF LEFT JOIN views v
        |  ON p.user_id = v.v_user_id AND p.purchase_ts >= v.view_ts
        |ORDER BY p.user_id, p.purchase_id""".stripMargin
}
