package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MlSpec extends AnyFunSuite {
  import TestSpark._

  test("ml01: scaled features are standardized (zero-ish mean per column)") {
    val f = ml.Features.tradeFeaturesQuery(spark, sf).cache()
    assert(f.count() > 0)
    val means = f.agg(avg("z_holding"), avg("z_target"), avg("z_buy_thr"), avg("z_stop_thr")).head()
    (0 until 4).foreach(i => assert(math.abs(means.getDouble(i)) < 1e-6))
  }

  test("ml02: win model trains and beats random AUC") {
    val auc = ReferenceTwins.winModelAuc(spark, sf)
    assert(auc > 0.5, s"AUC $auc")
  }

  test("ml02: predicted probabilities are valid and rows match trades") {
    val scored = ml.Features.trainWinModel(spark, sf)
    assert(scored.filter(col("p_win") < 0 || col("p_win") > 1).count() == 0)
    assert(scored.count() == operators.CciPipeline.trades(spark, sf).count())
  }

  test("ml03: kmeans assigns every vector to one of k cells") {
    val cells = ml.Features.kmeansCells(spark, sf, 10)
    assert(cells.count() == sources.Tables.embeddings(spark, sf).count())
    val k = cells.select("cell").distinct().count()
    assert(k > 1 && k <= 10)
  }

  test("ml fits persist: a fresh memo scope reloads models instead of refitting") {
    // Prime: ensure each model exists on disk (may or may not fit here,
    // depending on suite order / a prior run's workspace).
    ml.Features.trainWinModel(spark, sf).count()
    ml.Features.kmeansCells(spark, sf, 10).count()
    ml.Features.alsRecommend(spark, sf).count()
    // Drop the in-memory memos — the state a NEW session/JVM starts with —
    // and re-run all three: every model must LOAD (fit count unchanged).
    ml.Features.clearMemos()
    val fitsBefore = ml.Features.fitCount.get()
    ml.Features.trainWinModel(spark, sf).count()
    ml.Features.kmeansCells(spark, sf, 10).count()
    ml.Features.alsRecommend(spark, sf).count()
    assert(ml.Features.fitCount.get() == fitsBefore,
      "persisted models must reload without refitting")
  }

  test("ml04: ALS recommends exactly K ranked parts per purchasing customer") {
    val recs = ml.Features.alsRecommend(spark, sf)
    val k = ml.Features.AlsTopK
    val perUser = recs.groupBy("c_custkey").count()
    assert(perUser.filter(col("count") =!= k).count() == 0)
    assert(perUser.count() ==
      sources.Tables.orders(spark, sf).select("o_custkey").distinct().count())
    // ranks are contiguous and scores descend with rank
    val byRank = recs.groupBy("rk").agg(avg("score").as("s")).collect()
      .map(r => r.getInt(r.fieldIndex("rk")) -> r.getDouble(r.fieldIndex("s"))).toMap
    assert(byRank.keySet == (1 to k).toSet)
    assert(byRank(1) >= byRank(k))
    // recommended items come from the item universe
    val universe = sources.Tables.part(spark, sf).select(col("p_partkey").cast("int"))
      .collect().map(_.getInt(0)).toSet
    assert(recs.select("rec_partkey").distinct().collect()
      .forall(r => universe.contains(r.getInt(0))))
  }

  test("q22: as-of join pairs each purchase with a strictly earlier view") {
    val a = operators.Extras.asofJoin(spark, sf)
    assert(a.count() > 0)
    assert(a.filter(col("last_view_ts") >= col("purchase_ts")).count() == 0)
    // purchases before any view have null last_view_ts -- allowed
    assert(a.filter(col("last_view_ts").isNotNull && col("view_to_purchase_us") <= 0).count() == 0)
  }

  test("ml05: frequent itemsets respect support monotonicity and ordering") {
    val out = ml.Features.frequentPairs(spark, sf).cache()
    try {
      assert(out.count() > 0)
      val singles = out.filter(col("item_b").isNull)
        .select(col("item_a").as("it"), col("support").as("s1"))
      val pairs = out.filter(col("item_b").isNotNull)
      // anti-monotone support: a pair never outcounts either member, and
      // a frequent pair's members must themselves be frequent
      val joined = pairs
        .join(singles.toDF("item_a", "sa"), "item_a")
        .join(singles.toDF("item_b", "sb"), "item_b")
      assert(pairs.count() == joined.count())
      assert(joined.filter(col("support") > least(col("sa"), col("sb"))).count() == 0)
      assert(pairs.filter(col("item_a") >= col("item_b")).count() == 0)
      assert(out.filter(col("support") < ml.Features.FpMinCount).count() == 0)
    } finally { out.unpersist(); () }
  }
}
