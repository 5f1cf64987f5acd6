package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  import TestSpark._

  test("extensions: graft_* SQL functions are registered and correct") {
    import org.apache.spark.unsafe.types.UTF8String
    val got = spark.sql("SELECT graft_poly_hash('abc') AS h, graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head()
    assert(got.getLong(0) == functions.catalyst.PolyHashExpr.hash(UTF8String.fromString("abc")))
    assert(got.getDouble(1) == 11.0)
    val folds = spark.sql(
      "SELECT graft_array_sum(array(1.0d, 2.5d)) AS s, graft_abs_dev_sum(array(1.0d, 3.0d), 2.0d) AS a")
      .head()
    assert(folds.getDouble(0) == 3.5 && folds.getDouble(1) == 2.0)
    assert(spark.sql("SELECT graft_normalize_text('  Héllo,\tWORLD!! ') AS n")
      .head().getString(0) == "hllo world")
  }

  test("maybeCache persists at MEMORY_AND_DISK_SER; a second call changes nothing") {
    import org.apache.spark.storage.StorageLevel
    def entries = org.apache.spark.sql.execution.CacheEntries.count(spark)
    def frame = spark.range(0, 1013).selectExpr("id", "id % 7 AS k")
    val before = entries
    val df = GraftSession.maybeCache(frame)
    try {
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK_SER)
      assert(entries == before + 1)
      // the same Dataset again, and a rebuilt identical plan
      Seq(GraftSession.maybeCache(df), GraftSession.maybeCache(frame)).foreach { again =>
        assert(again.storageLevel == StorageLevel.MEMORY_AND_DISK_SER)
        assert(entries == before + 1)
      }
    } finally df.unpersist(true)
  }

  test("a whole-stage pipeline compiles once, whatever its codegen stage id") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // Union is not whole-stage codegen'd, so each of its two identical
    // children is a pipeline of its own, stages 1 and 2; stage 2 finds
    // the class stage 1 compiled only if the class name leaves the id out
    val p = spark.range(0, 1009).selectExpr("id * 7 + 3 AS x").filter("x % 5 = 1")
    p.collect()
    val ns = CodeGenerator.compileTime
    val both = p.union(p)
    both.collect()
    assert(CodeGenerator.compileTime == ns, both.queryExecution.executedPlan.toString)
  }

  test("the SQL status store keeps at most one finished execution") {
    // GraftSession.plainBuilder sets spark.sql.ui.retainedExecutions=1;
    // the store trims its finished executions asynchronously, so wait
    (1 to 20).foreach(i => spark.range(i).count())
    val store = spark.sharedState.statusStore
    val deadline = System.nanoTime() + 10000000000L
    while (store.executionsCount() > 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(store.executionsCount() <= 1)
  }

  test("maybeEagerCheckpoint returns a LogicalRDD-backed frame with the input's rows") {
    val df = spark.range(0, 509).selectExpr("id", "id * 3 AS v")
    val cp = GraftSession.maybeEagerCheckpoint(df)
    assert(cp.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(cp.collect().sortBy(_.getLong(0)).toSeq == df.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("a01: sketches approximate the exact distinct counts within rsd") {
    val approx = operators.Typed.approxSketches(spark, sf)
      .select("l_returnflag", "approx_parts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = operators.Relational.q12DistinctTopk(spark, sf)
      .select("l_returnflag", "n_parts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e < 0.15, s"$k: approx $a vs exact $e")
    }
  }

  test("plan shapes: r18 single feed exchange, t05 TakeOrdered top-k, no cross joins in dedup") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    // AQE: exchanges only exist in the FINAL adaptive plan, and
    // AdaptiveSparkPlanExec is a leaf — materialize first, then walk its
    // finalized plan (query stages included) or the assertion is vacuous.
    def finalPlanOf(name: String): SparkPlan = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan
    }
    def collectAll(p: SparkPlan,
        f: PartialFunction[SparkPlan, Boolean]): Seq[Boolean] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan) ++ p.subqueries
        case s: ShuffleQueryStageExec => Seq(s.plan) ++ p.subqueries
        case _ => p.children ++ p.subqueries
      }
      (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++ kids.flatMap(collectAll(_, f))
    }
    def shuffles(name: String): Int =
      collectAll(finalPlanOf(name), { case _: ShuffleExchangeLike => true }).size
    // r18: the execution feed shuffles exactly once (keep-last agg), plus
    // the final output sort — no per-leg re-shuffle
    val r18Ex = shuffles("r18_order_reconcile")
    assert(r18Ex >= 1 && r18Ex <= 2,
      s"r18 expected 1-2 exchanges (agg + final sort; 0 would mean a vacuous traversal), got $r18Ex")
    // t05: the top-K must be a TakeOrderedAndProject, not a global sort
    val t05 = SparkEntry.queries("t05_vocab")(spark, sf).queryExecution.executedPlan
    assert(t05.toString.contains("TakeOrderedAndProject"),
      "t05 top-k should plan as TakeOrderedAndProject")
    // near-dup ops never plan a cartesian product (the 1-row cutoff
    // broadcast in d08 is the one permitted cross join — broadcast, not
    // cartesian)
    Seq("d02_dedup_ngram_jaccard", "d03_dedup_minhash_lsh", "d04_dedup_simhash",
      "d06_fuzzy_levenshtein", "d08_dedup_incremental", "d09_dedup_embedding_ivf")
      .foreach { q =>
        val cart = collectAll(finalPlanOf(q), { case _: CartesianProductExec => true })
        assert(cart.isEmpty, s"$q plans a cartesian product")
      }
    // t06: the eval shingle vocabulary must broadcast — the corpus-side
    // explode must NOT shuffle into a sort-merge join
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val t06bc = collectAll(finalPlanOf("t06_decontaminate"),
      { case _: BroadcastHashJoinExec => true })
    assert(t06bc.nonEmpty, "t06 eval set should broadcast-hash-join")
  }

  test("q18: typed Aggregator matches the untyped cents aggregation") {
    val typed = operators.Typed.typedStats(spark, sf).collect()
    val untyped = sources.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 10.0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("l_quantity") * 100.0 + 0.5).cast("long")).cast("double") / 100.0).as("q"))
      .orderBy("l_returnflag").collect()
    assert(typed.length == untyped.length)
    typed.zip(untyped).foreach { case (t, u) =>
      assert(t.getString(0) == u.getString(0))
      assert(t.getLong(1) == u.getLong(1))
      assert(t.getDouble(2) == u.getDouble(1 + 1))
    }
  }

  test("r27: compaction preserves every row and lands within the planned file budget") {
    import TestSpark.spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_compact_spec").toString
    val frag = s"$base/frag"; val out = s"$base/out"
    val li = sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
    li.repartition(20).write.mode("overwrite")
      .partitionBy("l_returnflag").parquet(frag)
    val fragged = spark.read.parquet(frag)
    val stats = operators.Compaction
      .compact(spark, frag, out, "l_returnflag", 64 * 1024)
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (before, planned, after) =
        (r.getLong(r.fieldIndex("files_before")),
         r.getInt(r.fieldIndex("files_planned")),
         r.getLong(r.fieldIndex("files_after")))
      assert(after <= planned, s"partition ${r.getString(0)}: $after > planned $planned")
      assert(after < before, s"partition ${r.getString(0)}: no file reduction")
    }
    // byte-identical contents after the rewrite
    val compacted = spark.read.parquet(out)
    assert(compacted.count() == fragged.count())
    assert(compacted.exceptAll(fragged).count() == 0 &&
      fragged.exceptAll(compacted).count() == 0)
    // idempotence: compacting the compacted table is pure pass-through —
    // every partition is within budget, so files are byte-copied, not
    // rewritten (files_after == files_before), and contents are unchanged
    val out2 = s"$base/out2"
    val stats2 = operators.Compaction
      .compact(spark, out, out2, "l_returnflag", 64 * 1024)
      .collect()
    stats2.foreach { r =>
      assert(r.getLong(r.fieldIndex("files_after")) ==
        r.getLong(r.fieldIndex("files_before")),
        s"partition ${r.getString(0)}: pass-through should not rewrite")
    }
    val copied = spark.read.parquet(out2)
    assert(copied.count() == fragged.count() &&
      copied.exceptAll(fragged).count() == 0)
    // pass-through file IDENTITY: the distributed copy path must carry
    // each file over under its own name, byte-for-byte — a re-encode
    // would produce different footers/compression framing
    def files(root: String): Map[String, java.io.File] =
      new java.io.File(root).listFiles().filter(_.isDirectory)
        .flatMap(d => d.listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f))
        .toMap
    val a = files(out); val b = files(out2)
    assert(a.keySet == b.keySet, "pass-through must preserve file names")
    a.foreach { case (k, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(b(k).toPath)),
        s"$k not byte-identical after pass-through copy")
    }
  }
}
