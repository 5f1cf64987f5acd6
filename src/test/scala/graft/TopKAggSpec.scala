package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.catalyst.{GraftColumns, TopKBuffer}
import graft.operators.TopK

/** q46 / graft_topk: the bounded-heap top-k aggregate.
  *
  * The gate that matters is agg ≡ window: the native aggregate must be
  * row-for-row indistinguishable from the row_number() formulation it
  * replaces — including ties (total order via the id tiebreak), k larger
  * than the group, and the partial/merge path across many map partitions
  * (which exercises serialize/deserialize: TypedImperativeAggregate
  * buffers ship through the exchange in serialized form). */
class TopKAggSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("q46 equals its window twin row-for-row at sf0.001") {
    val agg = TopK.q46TopkPergroup(spark, sf).collect().toSeq
    val win = ReferenceTwins.topKWindowTwin(spark, sf).collect().toSeq
    assert(agg.nonEmpty)
    assert(agg == win)
  }

  test("agg ≡ window across many partitions, with duplicate scores and tiny groups") {
    // 3 groups; group g2 has fewer rows than K (k > group size); scores
    // collide heavily so the id tiebreak decides ranks; 13 partitions
    // force partial buffers through serialize/merge
    val rows = (0L until 500L).map { i =>
      (s"g${i % 3}", i, (i % 7).toDouble)
    } ++ Seq(("tiny", 9001L, 1.0), ("tiny", 9002L, 1.0))
    val df = rows.toDF("g", "id", "v").repartition(13)

    val agg = df.groupBy($"g")
      .agg(GraftColumns.topk_by($"v", $"id", 10).as("top"))
      .select($"g", posexplode($"top").as(Seq("pos", "t")))
      .select($"g", ($"pos" + 1).cast("int").as("rank"),
        $"t.id".as("id"), $"t.score".as("v"))
      .orderBy($"g", $"rank").collect().toSeq

    val win = df.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"g")
          .orderBy($"v".desc, $"id")).cast("int"))
      .filter($"rank" <= 10)
      .select($"g", $"rank", $"id", $"v")
      .orderBy($"g", $"rank").collect().toSeq

    assert(agg == win)
    // the tiny group returns ALL its rows, ranked, when k exceeds its size
    assert(agg.count(_.getString(0) == "tiny") == 2)
  }

  test("null score or id rows are skipped like the filtered window form") {
    val df = Seq[(String, java.lang.Long, java.lang.Double)](
      ("a", 1L, 5.0), ("a", null, 9.0), ("a", 3L, null), ("a", 4L, 2.0))
      .toDF("g", "id", "v")
    val agg = df.groupBy($"g")
      .agg(GraftColumns.topk_by($"v", $"id", 10).as("top"))
      .select(explode($"top").as("t"))
      .select($"t.id", $"t.score").collect().toSeq
    assert(agg.map(r => (r.getLong(0), r.getDouble(1))) == Seq((1L, 5.0), (4L, 2.0)))
  }

  test("graft_topk is callable from SQL") {
    SqlSurface.ensureFunctions(spark)
    Seq(("a", 1L, 3.0), ("a", 2L, 7.0), ("b", 3L, 1.0))
      .toDF("g", "id", "v").createOrReplaceTempView("topk_probe")
    val out = spark.sql(
      "SELECT g, graft_topk(v, id, 1) AS top FROM topk_probe GROUP BY g")
      .select($"g", $"top"(0)("id").as("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("a" -> 2L, "b" -> 3L))
  }

  test("graft_topk: BIGINT-literal k works; non-foldable / non-integer k fail clearly") {
    SqlSurface.ensureFunctions(spark)
    Seq(("a", 1L, 3.0), ("a", 2L, 7.0))
      .toDF("g", "id", "v").createOrReplaceTempView("topk_probe_k")
    // CAST(1 AS BIGINT) folds to a Long — must be accepted, not CCE
    val out = spark.sql(
      "SELECT g, graft_topk(v, id, CAST(1 AS BIGINT)) AS top FROM topk_probe_k GROUP BY g")
      .select($"g", $"top"(0)("id").as("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("a" -> 2L))
    // the registry may wrap the builder's error — the requirement is the
    // MESSAGE: descriptive, not an opaque unbound-attribute eval error
    def fullMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    // non-foldable k: a descriptive analysis error
    val e1 = intercept[Exception] {
      spark.sql("SELECT g, graft_topk(v, id, id) FROM topk_probe_k GROUP BY g")
    }
    assert(fullMsg(e1).contains("foldable integer literal"), fullMsg(e1))
    // non-integer literal k: same clear error shape
    val e2 = intercept[Exception] {
      spark.sql("SELECT g, graft_topk(v, id, 'one') FROM topk_probe_k GROUP BY g")
    }
    assert(fullMsg(e2).contains("must be an integer literal"), fullMsg(e2))
  }

  test("the q46 plan aggregates — no window, no whole-partition sort before the exchange") {
    val plan = TopK.q46TopkPergroup(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    // the twin really is the plan being replaced
    val twin = ReferenceTwins.topKWindowTwin(spark, sf).queryExecution.executedPlan.toString
    assert(twin.contains("Window"))
  }

  // ------------------------------------------------------- graft_topk_ord
  test("topk_ord ≡ window on a mixed-type (long DESC, long ASC, string ASC) key") {
    // the t10 shape: rank by (tf DESC, df ASC, term ASC) with a STRING
    // tiebreak; 13 partitions force the serialize/merge path for the
    // generic UnsafeRow-shipped buffers; heavy score collisions make the
    // string tiebreak decide ranks
    val rows = (0L until 600L).map { i =>
      (s"d${i % 5}", s"t${i % 11}x${i % 3}", i % 4 + 1, i % 6 + 1)
    }
    val df = rows.toDF("doc", "term", "tf", "dfreq")
      .groupBy($"doc", $"term")
      .agg(max($"tf").as("tf"), max($"dfreq").as("dfreq"))
      .repartition(13)

    val agg = df.groupBy($"doc")
      .agg(GraftColumns.topk_by_ord(
        struct((-$"tf").as("ntf"), $"dfreq", $"term"),
        struct($"term", $"tf", $"dfreq"), 7).as("top"))
      .select($"doc", posexplode($"top").as(Seq("pos", "t")))
      .select($"doc", ($"pos" + 1).cast("int").as("rk"),
        $"t.term".as("term"), $"t.tf".as("tf"), $"t.dfreq".as("dfreq"))
      .orderBy($"doc", $"rk").collect().toSeq

    val win = df.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc")
          .orderBy($"tf".desc, $"dfreq".asc, $"term")).cast("int"))
      .filter($"rk" <= 7)
      .select($"doc", $"rk", $"term", $"tf", $"dfreq")
      .orderBy($"doc", $"rk").collect().toSeq

    assert(agg.nonEmpty)
    assert(agg == win)
  }

  test("topk_ord skips null keys/payloads and handles k > group size") {
    val df = Seq[(String, java.lang.Long, String)](
      ("a", 3L, "x"), ("a", null, "y"), ("a", 1L, null), ("a", 2L, "z"))
      .toDF("g", "ord", "p")
    val out = df.groupBy($"g")
      .agg(GraftColumns.topk_by_ord($"ord", $"p", 10).as("top"))
      .select(explode($"top").as("p")).collect().map(_.getString(0)).toSeq
    assert(out == Seq("z", "x")) // ord 2 < 3; null ord and null payload skipped
  }

  test("topk_ord serialize copies exact-fit UnsafeRows (fixed-size struct payload, k>1)") {
    // A payload struct of 3 longs serializes to exactly the writer's
    // initial varlen reservation, so UnsafeRow.getBytes returns the
    // projection's REUSED buffer without copying. With k>1 a serialize()
    // that aliases that buffer ships k copies of the LAST pair; 13
    // partitions force every partial heap through serialize/merge.
    val rows = (0L until 400L).map(i => (s"g${i % 4}", i, i * 2, i * 3))
    val df = rows.toDF("g", "a", "b", "c").repartition(13)

    val agg = df.groupBy($"g")
      .agg(GraftColumns.topk_by_ord(
        $"a", struct($"a", $"b", $"c"), 5).as("top"))
      .select($"g", posexplode($"top").as(Seq("pos", "t")))
      .select($"g", ($"pos" + 1).cast("int").as("rk"),
        $"t.a".as("a"), $"t.b".as("b"), $"t.c".as("c"))
      .orderBy($"g", $"rk").collect().toSeq

    val win = df.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"g")
          .orderBy($"a".asc)).cast("int"))
      .filter($"rk" <= 5)
      .select($"g", $"rk", $"a", $"b", $"c")
      .orderBy($"g", $"rk").collect().toSeq

    assert(agg.nonEmpty)
    assert(agg == win)
    // every payload in a group must be distinct — the aliasing bug makes
    // all k entries clones of the last inserted pair
    assert(agg.map(r => (r.getString(0), r.getLong(2))).distinct.size == agg.size)
  }

  test("graft_topk_ord is callable from SQL and rejects unorderable keys") {
    SqlSurface.ensureFunctions(spark)
    Seq(("a", "p1", 2.0), ("a", "p2", 1.0), ("b", "p3", 5.0))
      .toDF("g", "p", "v").createOrReplaceTempView("topk_ord_probe")
    val out = spark.sql(
      "SELECT g, graft_topk_ord(v, p, 1) AS top FROM topk_ord_probe GROUP BY g")
      .select($"g", $"top"(0).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out == Map("a" -> "p2", "b" -> "p3")) // smallest v survives
    val e = intercept[Exception] {
      spark.sql("SELECT g, graft_topk_ord(map('k', v), p, 1) FROM topk_ord_probe GROUP BY g")
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("buffer: eviction keeps the k best under the (score desc, id asc) order") {
    val b = new TopKBuffer(3)
    Seq((1.0, 10L), (5.0, 11L), (3.0, 12L), (5.0, 9L), (0.5, 13L), (3.0, 1L))
      .foreach { case (s, i) => b.insert(s, i) }
    // rank order: 5.0 ties broken by id asc; 3.0/id=1 beats 3.0/id=12
    assert(b.sorted.toSeq == Seq((5.0, 9L), (5.0, 11L), (3.0, 1L)))
  }
}
