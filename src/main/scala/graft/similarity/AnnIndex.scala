package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s06: PERSISTED incremental ANN index — the serving artifact s03/s04/s05
  * only model in-session. A production vector store does not re-derive
  * cells and codes per job; it writes them once and serves many query
  * batches from the files, appending new vectors without retraining. The
  * index is a directory:
  *
  *   indexDir/coarse/      (cell, cv)        — IVF centroids, planner-scale
  *   indexDir/codebooks/   (m, k, cv)        — PQ codebooks, planner-scale
  *   indexDir/vectors/     cell=<c>/...      — (vec_id, codes, v, norm),
  *                                             hash-partitioned BY CELL
  *
  * Build trains both quantizers on s05's bounded ordered sample (the
  * same deterministic seeded Lloyd and codebook trainer) and encodes the
  * corpus map-side. Serving reads `coarse` (tiny), ranks cells per query,
  * and runs s05's ADC scan over ONLY the probed cells' partitions
  * (partition pruning on `cell`), then the exact re-rank — s01's
  * arithmetic, so reported scores are exact. Append encodes a delta with the PERSISTED quantizers (no
  * retrain — the d08 shape: work ∝ delta, never corpus) and appends its
  * cells' files; a committed append is indistinguishable from having
  * built with those rows present under the same quantizers, which the
  * spec asserts as two-batch vs one-batch append equality.
  *
  * At 100 TB: `vectors` is the only large artifact; it shuffles once at
  * build (by cell), serving reads probed cells only, and appends touch
  * only the delta's cells. Approximate by construction → rows-only in the
  * driver (like s04/s05); recall vs s01 and the append/persistence
  * contracts are spec-asserted. */
object AnnIndex {
  import Similarity.{IvfCells, IvfProbe, PqTrainIters, lloyd, nearest, pqCodes,
    pqTrain, sqL2, trainSample, withNorm}

  /** Train coarse + PQ quantizers on a bounded ordered sample of the
    * frame and persist the full index. Overwrites indexDir. `frame` needs
    * (vec_id, v: array<double>). */
  def buildIndex(spark: SparkSession, frame: DataFrame, indexDir: String): Unit = {
    import spark.implicits._
    val e = withNorm(frame.select($"vec_id", $"v")).filter($"norm" > 0)
    val sample = trainSample(e, "s06 buildIndex")
    val coarse = lloyd(sample, IvfCells, PqTrainIters)
    val books = pqTrain(sample)
    coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/coarse")
    books.zipWithIndex.flatMap { case (b, m) =>
      b.zipWithIndex.map { case (c, k) => (m, k, c.toSeq) }
    }.toSeq.toDF("m", "k", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
    encode(spark, e, coarse, books)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/vectors")
  }

  /** Encode NEW vectors with the index's persisted quantizers and append
    * them — work ∝ delta (one map-side encode + the delta's cells'
    * files); no retrain, so existing rows and quantizers are untouched
    * and the append commutes with batching. Caller contract: delta ids
    * are new (an upsert would need a keep-last compaction like r27's). */
  def appendVectors(spark: SparkSession, delta: DataFrame, indexDir: String): Unit = {
    import spark.implicits._
    val (coarse, books) = loadQuantizers(spark, indexDir)
    encode(spark, withNorm(delta.select($"vec_id", $"v")).filter($"norm" > 0),
      coarse, books)
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/vectors")
  }

  /** Serve a query batch from the persisted index: rank cells by L2
    * against `coarse`, scan only the probed cells (partition pruning on
    * the `cell` dir column), ADC-score codes, exact-cosine re-rank. Query
    * frame needs (vec_id, v); output matches s01's shape. */
  def topK(spark: SparkSession, queries: DataFrame, indexDir: String,
      nProbe: Int = IvfProbe, excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    val (coarse, books) = loadQuantizers(spark, indexDir)
    val qv = withNorm(queries.select($"vec_id", $"v"))
    val batch = Similarity.serveBatch(qv, coarse(0).length, "s06 topK")
    // per-query probe set from the tiny centroid table (first-min ties)
    val probed = batch.map { case (_, qn) =>
      coarse.indices.sortBy(c => (sqL2(qn, 0, coarse(c)), c)).take(nProbe).toSet
    }
    // the pruned scan: only probed cells' partitions are read
    val rows = spark.read.parquet(s"$indexDir/vectors")
      .filter($"cell".isin(probed.flatten.distinct.sorted.toSeq: _*))
    Similarity.adcTopK(rows.select($"vec_id", $"cell", $"codes").as[(Long, Int, Seq[Int])],
      rows.select($"vec_id".as("neighbor_id"), $"v".as("vn"), $"norm".as("nn")),
      qv.select($"vec_id".as("query_id"), $"v".as("vq"), $"norm".as("nq")),
      batch, spark.sparkContext.broadcast(books), Some(probed), excludeSelf)
      .orderBy($"query_id", $"rnk")
  }

  /** The driver-gated s06 entry: build (overwrite) the index for the sf
    * corpus under /tmp keyed by the dir name, then serve the default
    * query batch (every QueryStride-th vector) from the FILES. Rows-only
    * (approximate by construction, like s04/s05). */
  def indexedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // sanitized name + a hash of the RAW dir: two distinct dirs that
    // sanitize identically must not silently share (and overwrite) one
    // live index
    val indexDir = s"/tmp/graft_s06_index_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      (dir.hashCode.toLong & 0xffffffffL).toHexString
    buildIndex(spark, graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v")), indexDir)
    topK(spark, Similarity.pqQueryDefault(spark, dir), indexDir,
      excludeSelf = true)
  }

  private def loadQuantizers(spark: SparkSession, indexDir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import spark.implicits._
    val coarse = spark.read.parquet(s"$indexDir/coarse")
      .select($"cell", $"cv").as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
    val books = spark.read.parquet(s"$indexDir/codebooks")
      .select($"m", $"k", $"cv").as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray))
    (coarse, books)
  }

  /** Map-side encode: nearest coarse cell (first-min) + per-subspace PQ
    * codes, against broadcast quantizers. */
  private def encode(spark: SparkSession, e: DataFrame,
      coarse: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val bCoarse = spark.sparkContext.broadcast(coarse)
    val bBooks = spark.sparkContext.broadcast(books)
    e.select($"vec_id", transform($"v", x => x / $"norm").as("vn"), $"v", $"norm")
      .as[(Long, Seq[Double], Seq[Double], Double)]
      .mapPartitions { it =>
        val cs = bCoarse.value; val bk = bBooks.value
        it.map { case (id, vnSeq, v, norm) =>
          val vn = vnSeq.toArray
          // dimension guard at the encode boundary (build AND append): a
          // wrong-dim vector would otherwise either throw a bare AIOOBE
          // in sqL2 (short) or silently commit index rows whose cell/
          // codes ignore the tail while `norm` covers it (long) — served
          // cosines for such rows would be wrong with no error
          require(vn.length == cs(0).length,
            s"s06 encode: vec_id=$id has dim ${vn.length}, index dim is ${cs(0).length}")
          (id, nearest(vn, 0, cs), pqCodes(vn, bk), v, norm)
        }
      }.toDF("vec_id", "cell", "codes", "v", "norm")
  }
}
