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

  private def purchasesOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"),
        $"value".as("purchase_value"))
  }

  /** Views deduped to one per (user_id, ts) by max event_id — the
    * COMPOSED formulation needs this pre-aggregation (the window trick
    * joins back on (user, ts), which must be unique); the native
    * operator does NOT (the rightTieBreak ordering makes the merge's
    * keep-last pick the max event_id per instant for free). */
  private def dedupedViews(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts")
      .agg(max(struct($"event_id", $"value")).as("m"))
      .select($"user_id".as("v_user_id"), $"ts".as("view_ts"),
        $"m.event_id".as("view_id"), $"m.value".as("view_value"))
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

  /** The COMPOSED formulation of the same semantics (the plan the native
    * operator replaces, q22's trick completed): union both inputs into
    * one user-keyed stream, running-max window recovers the matched
    * view ts, then an equi-join back on (user_id, ts) recovers the
    * payload. Two passes over the combined stream + a second join — kept
    * for AsOfJoinSpec's independent-equality gate; never a queries row. */
  private[graft] def asofComposedFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val purchases = purchasesOf(ev)
    val views = dedupedViews(ev)
    // is_view DESC within equal ts: a view at exactly the purchase ts
    // falls inside the ROWS frame (the native semantics are inclusive)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"is_view".desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    purchases
      .select($"user_id", $"purchase_id", $"purchase_ts".as("ts"), $"purchase_value")
      .withColumn("is_view", lit(false))
      .unionByName(views.select($"v_user_id".as("user_id"),
        lit(null).cast("long").as("purchase_id"), $"view_ts".as("ts"),
        lit(null).cast("double").as("purchase_value"))
        .withColumn("is_view", lit(true)))
      .withColumn("last_view_ts", max(when($"is_view", $"ts")).over(w))
      .filter(!$"is_view")
      .join(views, $"user_id" === $"v_user_id" && $"last_view_ts" === $"view_ts", "left")
      .select($"user_id", $"purchase_id", $"ts".as("purchase_ts"), $"purchase_value",
        $"view_id", $"view_ts", $"view_value",
        (unix_micros($"ts") - unix_micros($"view_ts")).as("view_to_purchase_us"))
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
