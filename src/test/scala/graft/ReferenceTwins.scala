package graft

import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.{BpeMinPairCount, BpeNumMerges}
import graft.sources.Tables

/** Independent reference formulations the specs check the shipped
  * operators against. None is a query row; each recomputes an operator's
  * semantics another way (in memory, or through the plan the operator
  * replaced). */
object ReferenceTwins {

  /** The in-memory reference BPE trainer (t14's tie-break), for spec
    * parity with [[operators.TextAnalysis.bpeTrainFrom]]. */
  def bpeReference(wordCounts: Map[String, Long],
      numMerges: Int = BpeNumMerges): Seq[(Int, String, String, Long)] = {
    var dict: Map[Vector[String], Long] =
      wordCounts.groupMapReduce { case (w, _) => w.split("").toVector } { _._2 } { _ + _ }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (seq, cnt) =>
        seq.sliding(2).foreach {
          case Vector(a, b) => pairCounts((a, b)) = pairCounts.getOrElse((a, b), 0L) + cnt
          case _ => ()
        }
      }
      val eligible = pairCounts.filter(_._2 >= BpeMinPairCount)
      if (eligible.isEmpty) done = true
      else {
        val ((l, r), n) = eligible.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((rank, l, r, n))
        dict = dict.groupMapReduce { case (seq, _) =>
          val ns = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < seq.length) {
            if (i + 1 < seq.length && seq(i) == l && seq(i + 1) == r) {
              ns += (l + r); i += 2
            } else { ns += seq(i); i += 1 }
          }
          ns.toVector
        } { _._2 } { _ + _ }
        rank += 1
      }
    }
    out.toSeq
  }

  /** In-memory reference encoder (the independent twin of t16's
    * `bpeEncodeTokens`): same tokenization, same rank-order rewrite. */
  def bpeEncodeReference(text: String, merges: Seq[(String, String)]): Seq[String] =
    text.split(" ").toSeq.filter(_.nonEmpty).flatMap { w =>
      var seq: Seq[String] = w.split("").toSeq
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < seq.length) {
          if (i + 1 < seq.length && seq(i) == l && seq(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += seq(i); i += 1 }
        }
        seq = out.toSeq
      }
      seq
    }

  /** The window formulation of q46 — the plan the top-k aggregate
    * replaces, for TopKAggSpec's row-for-row equality gate. */
  def topKWindowTwin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("rank", row_number().over(
        Window.partitionBy($"event_type").orderBy($"value".desc, $"event_id"))
        .cast("int"))
      .filter($"rank" <= operators.TopK.K)
      .select($"event_type", $"rank", $"event_id", $"value")
      .orderBy($"event_type", $"rank")
  }

  /** The COMPOSED formulation of q47 (the plan the native as-of operator
    * replaces, q22's trick completed): union both inputs into one
    * user-keyed stream, a running-max window recovers the matched view
    * ts, then an equi-join back on (user_id, ts) recovers the payload.
    * That join-back needs (user, ts) unique, so views are deduped to one
    * per instant by max event_id first; the native operator does not
    * need this (its rightTieBreak ordering picks the same view). */
  def asofComposedFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val purchases = operators.AsOfNative.purchasesOf(ev)
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts")
      .agg(max(struct($"event_id", $"value")).as("m"))
      .select($"user_id".as("v_user_id"), $"ts".as("view_ts"),
        $"m.event_id".as("view_id"), $"m.value".as("view_value"))
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

  /** AUC of ml02's win model on its training grid. */
  def winModelAuc(spark: SparkSession, dir: String): Double = {
    val (model, feats) = ml.Features.fittedWinModel(spark, dir)
    new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .evaluate(model.transform(feats))
  }
}
