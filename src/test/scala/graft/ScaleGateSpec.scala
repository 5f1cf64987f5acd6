package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CciPipeline, Intervals}
import graft.plans.{AsOf, ScaleGate}
import graft.similarity.Similarity

/** The one scale-gate switch, `spark.graft.gates.force`: `arm` plans
  * every [[ScaleGate]] caller's scale path, `off` keeps all five on their
  * plain plans even with their hot thresholds low enough to split these
  * tiny inputs, and any other value fails at construction naming the
  * conf. The inputs each carry one hot key, day or account well past the
  * thresholds below; the daily day is delta-scale, far under its gate. */
class ScaleGateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val hotThresholds = Seq(
    AsOf.SplitHotKeyRowsConf -> "100",
    Intervals.HotBinRowsConf -> "100",
    CciPipeline.LedgerHotRowsConf -> "100",
    Similarity.LshMaxBucketConf -> "8")

  /** Sets `pairs` for `fn`, then restores each key's prior value. */
  private def withConfs(pairs: (String, String)*)(fn: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; fn }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A bootstrapped daily workspace and its first trading day after the
    * cutoff: the first run commits the day's chain, later runs resume it. */
  private lazy val daily = {
    val maxLd = sources.Tables.events(spark, sf)
      .agg(max(to_date($"ts"))).head().getDate(0).toLocalDate
    val day = Iterator.iterate(maxLd.minusDays(6))(_.plusDays(1))
      .find(CciPipeline.isTradingDayLocal).get
    val ws = Daily.Workspace(
      java.nio.file.Files.createTempDirectory("graft-scalegate-daily").toString)
    val conn = new sources.LocalFileEventConnector(sf)
    Daily.bootstrap(spark, conn, ws, Date.valueOf(day.minusDays(1)))
    (conn, ws, Date.valueOf(day))
  }

  /** Per caller: builds its frame and tells whether the scale path planned. */
  private val callers: Seq[(String, () => Boolean)] = Seq(
    "as-of time-split" -> { () =>
      val purchases = (0L until 300L).map(i => (0L, i, i * 10L))
        .toDF("user_id", "purchase_id", "purchase_ts")
      val views = (0L until 300L).map(i => (0L, i, i * 10L + 5L))
        .toDF("v_user_id", "view_id", "view_ts")
      AsOf.join(purchases, views, Seq("user_id" -> "v_user_id"),
        "purchase_ts", "view_ts", rightTieBreak = Some("view_id"))
        .queryExecution.executedPlan.toString.contains("__asof_chunk_l")
    },
    "range hot bins" -> { () =>
      val orders = (0L until 600L).map(i => (i, "2024-03-15", 100.0 + i % 7))
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      Intervals.rangeJoinFromOrders(orders)
        .queryExecution.executedPlan.toString.contains("isalt")
    },
    "ledger whale split" -> { () =>
      val fills = (0L until 600L).map { i =>
        (1L, Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 30)),
          i, "buy", 1L, -100L)
      }.toDF("cust_id", "event_date", "order_no", "side", "qty_delta", "cash_delta")
      CciPipeline.positionLedgerFrom(spark, fills).queryExecution.optimizedPlan
        .collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
        .exists(_.partitionSpec.size >= 2) // the (cust, chunk) window
    },
    "LSH member cap" -> { () =>
      val vecs = (0L until 64L).map(i => (i, Seq(math.sin(i.toDouble), math.cos(i.toDouble))))
        .toDF("vec_id", "v").withColumn("norm", lit(1.0))
      Similarity.lshTopKFrom(vecs, 4, 2)
        .queryExecution.executedPlan.toString.contains("graft_topk_ord")
    },
    // the scale path of a delta-scale day keeps the session's AQE on
    "daily small-day gate" -> { () =>
      val (conn, ws, day) = daily
      val aqe = Telemetry.record(spark)(Daily.runDay(spark, conn, ws, day)).jobs
        .filter(_.property("spark.sql.execution.id").nonEmpty)
        .map(_.property("spark.sql.adaptive.enabled")).distinct
      assert(aqe.size == 1, s"the day's query jobs disagree on AQE: $aqe")
      aqe.head.contains("true")
    })

  test("gates.force=arm plans every scale path; off keeps all five plain") {
    withConfs(hotThresholds :+ (ScaleGate.ForceConf -> "arm"): _*) {
      callers.foreach { case (name, scaled) =>
        assert(scaled(), s"$name: gates.force=arm planned the plain path") }
    }
    withConfs(hotThresholds :+ (ScaleGate.ForceConf -> "off"): _*) {
      callers.foreach { case (name, scaled) =>
        assert(!scaled(), s"$name: gates.force=off planned the scale path") }
    }
  }

  test("an unknown gates.force value fails at construction, naming the conf") {
    withConfs(ScaleGate.ForceConf -> "on") {
      callers.foreach { case (name, scaled) =>
        val e = intercept[IllegalArgumentException](scaled())
        assert(e.getMessage.contains(ScaleGate.ForceConf), s"$name: ${e.getMessage}")
      }
    }
  }
}
