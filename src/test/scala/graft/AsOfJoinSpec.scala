package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfNative
import graft.plans.{AsOf, AsOfJoinExec}
import graft.sources.Tables

/** The native as-of join ([[graft.plans.AsOfJoinExec]]): semantics vs an
  * independent composed formulation and vs hand-computed fixtures
  * (backward/forward/tolerance/nulls), the physical plan it promises (the
  * operator itself, co-partitioned children, bounded exchange count), and
  * the plain-session planning path the driver's Verify/Bench sessions
  * exercise. */
class AsOfJoinSpec extends AnyFunSuite {
  import TestSpark._
  import TestSpark.spark.implicits._

  // (key, ts, payload) fixtures; ts as plain longs (micros)
  private def lDf(rows: (Long, Long, String)*): DataFrame =
    rows.toSeq.toDF("k", "ts", "lp").repartition(3)
  private def rDf(rows: (Long, Long, String)*): DataFrame =
    rows.toSeq.toDF("rk", "rts", "rp").repartition(2)

  private def run(l: DataFrame, r: DataFrame, tol: Option[Long] = None,
      forward: Boolean = false): Map[(Long, Long), Option[String]] =
    AsOf.join(l, r, Seq("k" -> "rk"), "ts", "rts", tol, forward)
      .collect().map(row => (row.getLong(0), row.getLong(1)) ->
        Option(row.getString(5))).toMap

  test("backward: latest right <= left, inclusive, per key, left outer") {
    val l = lDf((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 7L, "d"), (3L, 9L, "e"))
    val r = rDf((1L, 8L, "r8"), (1L, 15L, "r15"), (1L, 20L, "r20"), (2L, 9L, "r9"))
    assert(run(l, r) == Map(
      (1L, 10L) -> Some("r8"), (1L, 20L) -> Some("r20"), (1L, 5L) -> None,
      (2L, 7L) -> None, (3L, 9L) -> None))
  }

  test("forward: earliest right >= left, inclusive") {
    val l = lDf((1L, 10L, "a"), (1L, 16L, "b"), (2L, 30L, "c"))
    val r = rDf((1L, 8L, "r8"), (1L, 15L, "r15"), (1L, 20L, "r20"), (2L, 9L, "r9"))
    assert(run(l, r, forward = true) == Map(
      (1L, 10L) -> Some("r15"), (1L, 16L) -> Some("r20"), (2L, 30L) -> None))
  }

  test("tolerance bounds the reach in both directions") {
    val l = lDf((1L, 100L, "a"), (1L, 200L, "b"))
    val r = rDf((1L, 90L, "r90"), (1L, 185L, "r185"))
    assert(run(l, r, tol = Some(10L)) ==
      Map((1L, 100L) -> Some("r90"), (1L, 200L) -> None))
    assert(run(l, r, tol = Some(15L), forward = false) ==
      Map((1L, 100L) -> Some("r90"), (1L, 200L) -> Some("r185")))
    val lf = lDf((1L, 80L, "a"))
    assert(run(lf, r, tol = Some(5L), forward = true) == Map((1L, 80L) -> None))
    assert(run(lf, r, tol = Some(10L), forward = true) ==
      Map((1L, 80L) -> Some("r90")))
  }

  test("rightTieBreak: exact (key, time) duplicates keep max backward, min forward") {
    val l = lDf((1L, 10L, "a"), (1L, 4L, "fwd"))
    val r = Seq((1L, 8L, 3L, "tie3"), (1L, 8L, 7L, "tie7"), (1L, 8L, 5L, "tie5"))
      .toDF("rk", "rts", "tid", "rp").repartition(2)
    val back = AsOf.join(l, r, Seq("k" -> "rk"), "ts", "rts",
        rightTieBreak = Some("tid"))
      .collect().map(row => row.getString(2) -> Option(row.getString(6))).toMap
    assert(back("a") == Some("tie7"), s"backward must keep the MAX tiebreak: $back")
    val fwd = AsOf.join(l, r, Seq("k" -> "rk"), "ts", "rts",
        forward = true, rightTieBreak = Some("tid"))
      .collect().map(row => row.getString(2) -> Option(row.getString(6))).toMap
    assert(fwd("fwd") == Some("tie3"), s"forward must keep the MIN tiebreak: $fwd")
  }

  test("null keys and null times never match, on either side") {
    val l = Seq((Option(1L), Option(10L), "a"), (None: Option[Long], Option(10L), "b"),
        (Option(1L), None: Option[Long], "c"))
      .toDF("k", "ts", "lp").repartition(2)
    val r = Seq((Option(1L), Option(8L), "r8"), (None: Option[Long], Option(1L), "rnull"),
        (Option(1L), None: Option[Long], "rnullts"))
      .toDF("rk", "rts", "rp").repartition(2)
    val out = AsOf.join(l, r, Seq("k" -> "rk"), "ts", "rts")
      .collect().map(row => row.getString(2) -> Option(row.getString(5))).toMap
    assert(out == Map("a" -> Some("r8"), "b" -> None, "c" -> None))
  }

  test("empty sides: empty right -> all-null matches; empty left -> empty") {
    val l = lDf((1L, 10L, "a"))
    val rEmpty = rDf().filter(lit(false))
    assert(run(l, rEmpty) == Map((1L, 10L) -> None))
    val lEmpty = lDf().filter(lit(false))
    assert(run(lEmpty, rDf((1L, 1L, "x"))).isEmpty)
  }

  test("q47 equals the independent composed formulation (window + join-back)") {
    // Independent derivation of the same semantics WITHOUT the operator:
    // q22's running-max window recovers the matched ts, then an equi-join
    // on (user_id, ts) recovers the payload — the two-pass plan the native
    // operator replaces.
    val ev = Tables.events(spark, sf)
    val composed = ReferenceTwins.asofComposedFrom(ev)
    val native = AsOfNative.q47AsofNative(spark, sf)
    val cols = native.columns.map(col).toSeq
    assert(native.exceptAll(composed.select(cols: _*)).isEmpty &&
      composed.select(cols: _*).exceptAll(native).isEmpty)
    assert(native.count() > 0)
  }

  // AQE materializes subtrees into QueryStageExec LEAVES — a plain
  // TreeNode collect stops at the stage boundary, so descend explicitly
  private def countAsOf(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countAsOf(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => countAsOf(q.plan)
    case other =>
      (other match { case _: AsOfJoinExec => 1; case _ => 0 }) +
        other.children.map(countAsOf).sum
  }

  test("plan: AsOfJoinExec present, children co-partitioned, bounded exchanges") {
    val df = AsOfNative.q47AsofNative(spark, sf)
    df.collect() // finalize AQE
    assert(countAsOf(df.queryExecution.executedPlan) == 1,
      df.queryExecution.executedPlan.toString)
    // static plan exchange budget: left hash(user_id) + right
    // hash(user_id) + output sort — NO dedup aggregation anywhere (the
    // rightTieBreak ordering resolves ties inside the merge)
    val initial = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val nShuffles = initial.collect { case _: ShuffleExchangeLike => 1 }.sum
    assert(nShuffles <= 3, s"as-of plan grew a new exchange:\n$initial")
  }

  test("a plain session (no extensions) plans the node via self-registration") {
    val plain = spark.newSession()
    assert(!plain.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
    // AsOf.join registers the strategy itself — the Verify/Bench path
    val out = AsOfNative.q47AsofNative(plain, sf)
    assert(out.count() > 0)
    assert(plain.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
    // and re-joining doesn't duplicate the strategy
    AsOfNative.q47AsofNative(plain, sf)
    assert(plain.experimental.extraStrategies
      .count(_ == graft.plans.AsOfJoinStrategy) == 1)
  }

  test("API rejects missing columns, type mismatches, non-time time columns") {
    val l = lDf((1L, 1L, "a"))
    val r = rDf((1L, 1L, "b"))
    intercept[IllegalArgumentException] { AsOf.join(l, r, Seq("nope" -> "rk"), "ts", "rts") }
    intercept[IllegalArgumentException] { AsOf.join(l, r, Seq("k" -> "rp"), "ts", "rts") }
    intercept[IllegalArgumentException] { AsOf.join(l, r, Seq("k" -> "rk"), "lp", "rts") }
  }
}
