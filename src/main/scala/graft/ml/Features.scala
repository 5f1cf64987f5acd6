package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CciPipeline
import graft.sources.Tables

/** MLlib feature engineering + model training over the pipeline's outputs
  * (SURVEY.md §2 ml-rows; the reference plans "ML-driven trading
  * algorithms" as its roadmap — this is that layer, Spark-native).
  *
  * Deterministic seeds throughout; results are validated by tests (AUC /
  * cluster-count assertions), not the SQL oracle — model internals aren't
  * SQL-expressible. Everything distributes: assembly/scaling are row-local,
  * LR/KMeans train via Spark's own distributed optimizers.
  */
object Features {
  val Seed = 42L

  /** Fit-input compaction gate (round 16, the scale-adaptive-partitioning
    * rule): below this many training rows the fit input is compacted to
    * [[FitCompactSmall]] partitions — per-iteration scheduled-job overhead
    * dominates optimizer math at that scale, and EVERY gated SF sits far
    * below the gate, so gated/spec'd model outputs are bit-identical to
    * the former constant. ABOVE the gate (the scaled rehearsals, a real
    * deployment) partitions grow with the input ([[FitRowsPerPartition]]
    * rows each, capped at max(defaultParallelism, shuffle partitions))
    * instead of pinning a corpus-scale Lloyd/LBFGS/ALS pass to 4 cores.
    * Row count, not plan-stat bytes, drives the gate: two of the fit
    * inputs are join/aggregate plans whose size-only stats are products
    * of their children — useless as a gate signal — and each input is
    * either already counted (FP), cached (LR), or a metadata-cheap scan —
    * so [[graft.plans.ScaleGate.ForceConf]] does not move this gate. */
  private val FitCompactRows = 1000000L
  private val FitCompactSmall = 4
  private val FitRowsPerPartition = 100000L

  private[graft] def fitCompact(df: DataFrame, rows: Long): DataFrame = {
    val spark = df.sparkSession
    if (rows <= FitCompactRows) df.coalesce(FitCompactSmall)
    else {
      // cap at max(defaultParallelism, shuffle.partitions) — on a
      // dynamic-allocation cluster defaultParallelism reflects the cores
      // available THIS INSTANT and can be far below steady-state
      // parallelism, re-pinning a corpus-scale fit to few partitions
      // (ADVICE round-16); the session's shuffle partitioning carries the
      // operator-facing parallelism target either way
      val cap = math.max(spark.sparkContext.defaultParallelism,
        spark.sessionState.conf.numShufflePartitions).toLong
      val n = math.max(FitCompactSmall,
        math.min(cap, (rows + FitRowsPerPartition - 1) / FitRowsPerPartition)).toInt
      // repartition, not coalesce: above the gate the input's scan often
      // has FEWER splits than the target (a 600 MB parquet is ~5 splits)
      // and coalesce can only merge — the round-16 sf100 rehearsal's
      // "20-partition" fit silently ran on the scan's 4 until this
      // shuffle made the fan-out real
      df.repartition(n)
    }
  }

  /** Fits executed by this JVM (test hook: persistence must make reloads
    * free — a second session/memo scope should LOAD, not refit). */
  private[graft] val fitCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Workspace path for a persisted fitted model, keyed by EVERY source
    * table's identity and (mtime, length) token — a regenerated corpus at
    * the same path gets a fresh workspace instead of a stale model (the
    * m05 staleness class from the round-4 review), and regenerating ANY
    * input of a multi-table fit (ALS reads orders ⋈ lineitem) invalidates
    * it. Status comes through the Hadoop FileSystem API, NOT java.io.File
    * — java.io.File answers 0/false for every non-local dir (hdfs://,
    * s3://), which would collapse the token to a constant. */
  private def modelPath(spark: SparkSession, dir: String, tables: Seq[String],
      name: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tok = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      scala.util.Try(p.getFileSystem(conf).getFileStatus(p)).toOption
        .map(s => java.lang.Long.toHexString(s.getModificationTime) + "_" +
          java.lang.Long.toHexString(s.getLen))
        .getOrElse("absent")
    }.mkString("-")
    s"${System.getProperty("java.io.tmpdir")}/graft_models/" +
      s"${dirDigest(dir)}_$tok/$name"
  }

  /** Collision-free corpus-dir key (round-14): `String.hashCode` is 32
    * bits, and [[rebuildFit]] DELETES workspace dirs by this prefix — a
    * hashCode collision between two corpora on one host would wipe the
    * other's persisted models (cost-only, but avoidable). SHA-256/16hex
    * makes an accidental collision practically impossible. */
  private def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Load a persisted model if present, else fit once and persist. The
    * fit is the expensive distributed optimizer; save/load moves
    * planner-scale state (coefficients, centroids, factor frames) through
    * MLlib's own writers, so a new session — a later bench round, a
    * restarted job — pays scoring cost only. Corrupt/partial saves fall
    * back to a refit. Existence goes through the Hadoop FileSystem API —
    * MLlib's save/load resolve a schemeless path against the default FS,
    * so a java.io.File check would answer false forever on HDFS/S3 and
    * silently refit every session. */
  private def loadOrFit[M <: org.apache.spark.ml.util.MLWritable](
      spark: SparkSession, path: String, load: String => M)(fit: => M): M = {
    val p = new org.apache.hadoop.fs.Path(path)
    val exists = scala.util.Try(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    ).getOrElse(false)
    if (exists)
      try return load(path)
      catch { case scala.util.control.NonFatal(_) => () }
    fitCount.incrementAndGet()
    val m = fit
    try m.write.overwrite().save(path)
    catch { case scala.util.control.NonFatal(_) => () }
    m
  }

  /** Drop every in-memory memoized model (tests: forces the persisted
    * path). */
  private[graft] def clearMemos(): Unit = {
    lrMemo.clear(); kmMemo.clear(); alsMemo.clear(); fpMemo.clear()
  }

  /** ml01: feature assembly + standardization over per-trade features.
    * Output: one row per trade with the scaled feature vector exploded to
    * plain columns (SQL-friendly projection of the vector). */
  def tradeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trades = CciPipeline.trades(spark, dir)
      .withColumn("label", when($"trade_result" === "reach_target", 1.0).otherwise(0.0))
      .select($"user_id", $"buy_date", $"buy_price", $"days_held",
        $"condition_holding_days".cast("double").as("f_holding"),
        $"condition_target_return".as("f_target"),
        $"condition_buy_cci_threshold".as("f_buy_thr"),
        $"condition_stop_loss_cci_threshold".as("f_stop_thr"),
        $"label")
    val assembler = new VectorAssembler()
      .setInputCols(Array("f_holding", "f_target", "f_buy_thr", "f_stop_thr"))
      .setOutputCol("features_raw")
    val scaler = new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val model = new Pipeline().setStages(Array(assembler, scaler)).fit(trades)
    model.transform(trades)
  }

  /** ml01 query surface: scaled features flattened to plain double columns
    * (parquet/DuckDB-friendly; vectors stay internal). Rows-only check —
    * StandardScaler's distributed moments aren't bit-reproducible in SQL. */
  def tradeFeaturesQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tradeFeatures(spark, dir)
      .withColumn("f", vector_to_array($"features"))
      .select($"user_id", $"buy_date", $"label",
        element_at($"f", 1).as("z_holding"),
        element_at($"f", 2).as("z_target"),
        element_at($"f", 3).as("z_buy_thr"),
        element_at($"f", 4).as("z_stop_thr"))
      .orderBy($"user_id", $"buy_date", $"z_holding", $"z_target", $"z_buy_thr", $"z_stop_thr")
  }

  /** The fitted win model, memoized per (session, dir) AND persisted to
    * the model workspace (a later session — the next bench round, a
    * restarted job — reloads instead of refitting, so its marginal cost
    * is scoring only): both the query surface and the AUC test hook score
    * the same fit, and a bench session pays LBFGS at most once. The iterative fit drives one treeAggregate job per
    * LBFGS step, so the (small: grid-rows × 4 features) training input is
    * compacted to a few partitions first — per-step task overhead, not
    * gradient math, dominates otherwise. Scoring stays on the distributed
    * `feats` plan: transform is row-local, so the full-scale path is
    * unaffected. */
  private val lrMemo = new graft.SessionMemo[String,
    org.apache.spark.ml.classification.LogisticRegressionModel]

  private[graft] def fittedWinModel(spark: SparkSession, dir: String) = {
    val feats = graft.GraftSession.maybeCache(tradeFeatures(spark, dir))
    val model = lrMemo.getOrElseUpdate(spark, dir) {
      loadOrFit(spark, modelPath(spark, dir, Seq("events"), "win_lr"),
        org.apache.spark.ml.classification.LogisticRegressionModel.load) {
        val lr = new LogisticRegression()
          .setFeaturesCol("features").setLabelCol("label")
          .setMaxIter(25).setRegParam(0.01)
        // feats is session-cached, so the gate count is a cache scan
        val train = feats.select("features", "label")
        lr.fit(fitCompact(train, train.count()))
      }
    }
    (model, feats)
  }

  /** ml02: train a logistic-regression win-probability model on the trade
    * grid and score every strategy row; returns per-strategy predicted win
    * probability next to the realized outcome. */
  def trainWinModel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (model, feats) = fittedWinModel(spark, dir)
    val scored = model.transform(feats)
    scored.select($"user_id", $"buy_date", $"label",
      element_at(vector_to_array($"probability"), 2).as("p_win"))
  }

  /** The trained coarse quantizer, memoized per (session, dir, k): ml03 and
    * the trained-IVF index (s04) share one fit. Production IVF quantizers
    * train on a bounded sample regardless of corpus size (the centroid
    * table is k × dim, driver-side), so the training input is compacted to
    * a few partitions — each of the ~20 Lloyd iterations is then a
    * couple of tasks instead of 32. Assignment (`transform`) remains
    * row-local over the full distributed corpus. */
  private val kmMemo = new graft.SessionMemo[(String, Int),
    org.apache.spark.ml.clustering.KMeansModel]

  def fittedKmeans(spark: SparkSession, dir: String, k: Int)
      : org.apache.spark.ml.clustering.KMeansModel =
    kmMemo.getOrElseUpdate(spark, (dir, k)) {
      loadOrFit(spark, modelPath(spark, dir, Seq("embeddings"), s"kmeans_$k"),
        org.apache.spark.ml.clustering.KMeansModel.load) {
        import spark.implicits._
        // gate count is a parquet metadata count (no column decode)
        val n = Tables.embeddings(spark, dir).count()
        val train = fitCompact(Tables.embeddings(spark, dir)
          .select(array_to_vector($"embedding".cast("array<double>")).as("features")), n)
        new KMeans().setK(k).setSeed(Seed).setFeaturesCol("features").fit(train)
      }
    }

  /** ml03: KMeans over the embeddings — the trained coarse quantizer an
    * IVF index would use in place of the label column (see s03). */
  def kmeansCells(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("arr"))
      .withColumn("features", array_to_vector($"arr"))
    fittedKmeans(spark, dir, k).transform(vecs)
      .select($"vec_id", $"label", $"prediction".as("cell"))
  }

  /** The fitted ALS factorization, memoized per (session, dir). ALS is
    * MLlib's block-partitioned distributed matrix factorization — the
    * canonical Spark recommender (this repo re-expresses a *Recommender*
    * DataPipeline; the reference recommends per-series strategy conditions,
    * and this is the collaborative layer a roadmap "ML-driven" version
    * adds). Implicit-feedback mode: purchase quantity is confidence, not a
    * rating. ALS requires INT ids — the sf keys fit; at 100 TB you first
    * dense-remap keys (ids are the only driver-visible state; factors stay
    * block-distributed). */
  private val alsMemo = new graft.SessionMemo[String,
    org.apache.spark.ml.recommendation.ALSModel]

  val AlsTopK = 3

  private def fittedAls(spark: SparkSession, dir: String)
      : org.apache.spark.ml.recommendation.ALSModel =
    alsMemo.getOrElseUpdate(spark, dir) {
      loadOrFit(spark, modelPath(spark, dir, Seq("orders", "lineitem"), "als"),
        org.apache.spark.ml.recommendation.ALSModel.load) {
        import spark.implicits._
        // persist across the gate count and the fit's own input scans so
        // the corpus-scale join+aggregate runs once (the FP baskets
        // discipline below)
        val purchases = Tables.orders(spark, dir)
          .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_custkey".cast("int").as("user"),
            $"l_partkey".cast("int").as("item"))
          .agg(sum($"l_quantity").cast("float").as("rating"))
          .persist()
        try {
          val n = purchases.count()
          new org.apache.spark.ml.recommendation.ALS()
            .setImplicitPrefs(true).setRank(8).setMaxIter(5).setRegParam(0.1)
            .setSeed(Seed).setColdStartStrategy("drop")
            .setUserCol("user").setItemCol("item").setRatingCol("rating")
            .fit(fitCompact(purchases, n))
        } finally purchases.unpersist()
      }
    }

  /** Pre-fit (or reload from the model workspace) every model the ml*
    * queries serve from. Bench warm-up hook: fitting is memoized per
    * (session, dir) and keyed on source-file (mtime, length), so a testdata
    * regen invalidates the cache and the FIRST serving call pays the refit —
    * round 7's bench recorded ml04 at 29 s (fit+serve) vs round 6's 2.3 s
    * (serve-only), non-comparable. Bench calls this inside its `fit_build`
    * entry so ml01–ml04 time serving only, every round. */
  def warmFit(spark: SparkSession, dir: String): Unit = {
    // The four fits are INDEPENDENT jobs over disjoint inputs (trades
    // grid, embeddings, orders⋈lineitem, lineitem baskets), and each is
    // an iterative optimizer whose per-step job leaves most cores idle
    // at its tiny training scale — so overlap them from driver threads
    // (optimization guide §2.6: Spark's scheduler runs concurrent jobs
    // fine; actions are only sequential because driver code calls them
    // sequentially). Each model's input, seed and hyper-parameters are
    // untouched — the fitted models are bit-identical to the sequential
    // order; only the wall clock changes (measured: rebuild refit
    // 35.4 s → ~max-of-fits on this host). Memos are per-model
    // instances, so no cross-fit lock serializes the pool.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      // every fit is awaited TO COMPLETION before any failure is
      // rethrown (ADVICE round-16): a fail-fast Await would return while
      // the sibling fits keep running Spark jobs and writing to the model
      // workspace from background threads, skewing whatever the bench
      // times next. The timeout is finite-but-generous (a corpus-scale
      // KMeans fit measured ~17 min at sf100; Inf would park three
      // threads forever behind one hung fit).
      val done = Await.result(Future.sequence(Seq(
        Future(scala.util.Try(fittedWinModel(spark, dir))),
        Future(scala.util.Try(fittedKmeans(spark, dir, 10))),
        Future(scala.util.Try(fittedAls(spark, dir))),
        Future(scala.util.Try(fittedFp(spark, dir))))), 4.hours)
      done.collectFirst { case scala.util.Failure(e) => throw e }: Unit
    } finally pool.shutdown()
  }

  /** Bench rebuild hook: a FRESH-WORKSPACE refit of everything [[warmFit]]
    * warms — drop the in-memory memos, delete the persisted model
    * workspace for this corpus (so [[loadOrFit]] cannot take the load
    * path), release the feature-frame cache, then warm again. The cold
    * `fit_build` entry's repeatable twin: it re-pays LBFGS/KMeans/ALS/
    * FP-tree in full and leaves the memo + workspace warm for the ml
    * serving entries that follow. */
  private[graft] def rebuildFit(spark: SparkSession, dir: String): Unit = {
    clearMemos()
    // workspace prefix shared by every modelPath(..) of this corpus: the
    // parent of any one model path
    val one = new org.apache.hadoop.fs.Path(
      modelPath(spark, dir, Seq("events"), "win_lr")).getParent.getParent
    val fs = one.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // delete every token dir for this corpus hash (stale tokens included)
    val prefix = s"${dirDigest(dir)}_"
    scala.util.Try(fs.listStatus(one)).toOption.toSeq.flatten
      .filter(_.getPath.getName.startsWith(prefix))
      .foreach(s => fs.delete(s.getPath, true))
    tradeFeatures(spark, dir).unpersist(true)
    warmFit(spark, dir)
  }

  /** ml04: top-K part recommendations per customer from the implicit-ALS
    * factorization of the customer × part purchase matrix.
    * `recommendForAllUsers` is MLlib's blocked factor cross-product with
    * per-block top-k — the distributed serving path, no driver matrix. */
  def alsRecommend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fittedAls(spark, dir).recommendForAllUsers(AlsTopK)
      .select($"user".as("c_custkey"),
        posexplode($"recommendations").as(Seq("rk0", "rec")))
      .select($"c_custkey", $"rec.item".as("rec_partkey"),
        ($"rk0" + 1).as("rk"), $"rec.rating".as("score"))
  }

  // ---------------------------------------------------------------- ml05
  /** Minimum basket count for a frequent itemset. */
  val FpMinCount = 3L

  /** ml05: frequent-itemset mining (market-basket) over order baskets —
    * MLlib FPGrowth on the distinct parts of each order, reported for
    * itemsets of size ≤ 2 so the row is EXACTLY oracle-checkable (single
    * and pair supports are plain SQL counts; FPGrowth's support counting
    * is exact, so the distributed FP-tree and the oracle's brute
    * enumeration must agree row for row — a rare chance to pin an MLlib
    * algorithm to a SQL oracle, where the other ml rows are rows-only).
    *
    * minSupport is a FRACTION in MLlib (cutoff = ceil(N·minSupport));
    * (FpMinCount − 0.5)/N makes the ceil land exactly on [[FpMinCount]]
    * regardless of floating error. Scale shape: FPGrowth shards baskets
    * and mines conditional trees per partition-aggregated suffix — no
    * all-pairs join; the oracle's pair self-join exists only at gate SF. */
  private val fpMemo = new graft.SessionMemo[String,
    org.apache.spark.ml.fpm.FPGrowthModel]

  /** The fitted FPGrowth model, memoized per (session, dir) and persisted
    * to the model workspace like the other fits — bench's `fit_build`
    * warms it so the ml05 row times serving (freqItemsets read) only. */
  private def fittedFp(spark: SparkSession, dir: String)
      : org.apache.spark.ml.fpm.FPGrowthModel =
    fpMemo.getOrElseUpdate(spark, dir) {
      loadOrFit(spark, modelPath(spark, dir, Seq("lineitem"), "fp"),
        org.apache.spark.ml.fpm.FPGrowthModel.load) {
        import spark.implicits._
        // persist across the two actions (count for the support ratio,
        // then the fit's own scans) so the distinct+collect_set chain
        // over lineitem runs once, not once per action
        val baskets = Tables.lineitem(spark, dir)
          .select($"l_orderkey", $"l_partkey").distinct()
          .groupBy($"l_orderkey").agg(collect_set($"l_partkey").as("items"))
          .persist()
        try {
          val n = baskets.count()
          new org.apache.spark.ml.fpm.FPGrowth()
            .setItemsCol("items")
            .setMinSupport((FpMinCount - 0.5) / n)
            .setMinConfidence(0.5)
            .fit(baskets)
        } finally baskets.unpersist()
      }
    }

  def frequentPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fittedFp(spark, dir).freqItemsets
      .filter(size($"items") <= 2)
      .select(sort_array($"items").as("it"), $"freq".as("support"))
      .select(element_at($"it", 1).as("item_a"),
        when(size($"it") === 2, element_at($"it", 2)).as("item_b"),
        $"support")
      .orderBy($"item_a", $"item_b")
  }

  val frequentPairsSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |singles AS (
       |  SELECT p AS item_a, CAST(NULL AS BIGINT) AS item_b, count(*) AS support
       |  FROM b GROUP BY 1 HAVING count(*) >= $FpMinCount),
       |pairs AS (
       |  SELECT a.p AS item_a, c.p AS item_b, count(*) AS support
       |  FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
       |  GROUP BY 1, 2 HAVING count(*) >= $FpMinCount)
       |SELECT item_a, item_b, support FROM singles
       |UNION ALL
       |SELECT item_a, item_b, support FROM pairs
       |ORDER BY item_a, item_b NULLS FIRST""".stripMargin
}
