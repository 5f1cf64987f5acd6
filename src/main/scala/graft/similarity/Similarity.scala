package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => F, TextSql => S}
import graft.functions.catalyst.GraftColumns
import graft.sources.Tables

/** Similarity search over the embedding column (SURVEY.md §2 s-rows).
  *
  * s01 is the exact brute-force baseline (oracle-verified); s02 is the
  * scale path: random-hyperplane LSH buckets so each query only scores its
  * bucket. At 100 TB the bucket id is the shuffle key and the per-bucket
  * top-k is a partial aggregation; brute force exists only to measure
  * recall at small SF.
  */
object Similarity {
  val TopK = 5
  /** Every vec_id divisible by this is a query point. */
  val QueryStride = 100

  /** LSH defaults: hyperplanes per table (bucket id bits — bucket count is
    * 2^planes PER TABLE, so raise planes as the corpus grows to keep
    * bucket population bounded) and the number of OR'd hash tables
    * (candidates = union over tables — more tables buys back the recall
    * that more planes costs). Both are parameters of [[lshTopKParam]];
    * these defaults suit the sf corpora.
    *
    * The sf100 rehearsal (round 15) PROVED the ceiling the scaladoc
    * predicted — at 2M vectors the default 2^8 buckets put ~7.8k vectors
    * in each, the candidate pair stream hit ~3×10^8 rows carrying two
    * 64-dim arrays each, and the entry died spilling (the s07 label-cell
    * failure shape, one family over). Candidates per query ≈
    * tables · N/2^planes, so planes must grow ~log₂(N) to hold
    * per-bucket population: 12 planes at 2M vectors ran 51 s where 8
    * planes ENOSPC'd (PERF.md round-15 sf100 table). */
  val NumPlanes = 8
  val LshTables = 2

  /** Serving-path contract: the PQ/index topK entry points collect the
    * QUERY batch to the driver (the per-query LUT build wants the batch
    * in one broadcast; the corpus never collects). That is only safe for
    * bounded request strides — cap it so a caller handing a corpus-sized
    * frame to the serving API fails loudly instead of OOM-ing the driver.
    * Corpus-scale query sets belong on the cell-keyed shuffle path
    * (s07 / [[Similarity.knnGraph]]). */
  val MaxServeBatch = 10000

  private[similarity] def vecs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withNorm(Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v")))
  }

  /** `frame` plus `norm`, the L2 norm of its `v`. */
  private[similarity] def withNorm(frame: DataFrame): DataFrame =
    frame.withColumn("norm", sqrt(F.foldSum(transform(col("v"), x => x * x))))

  /** Per-pair cosine from the codegen dot product and the vectors'
    * precomputed norms (oracle arithmetic identical: sqrt of the same
    * per-vector sums, multiplied in the same order). */
  private[similarity] def cosine(va: org.apache.spark.sql.Column, vb: org.apache.spark.sql.Column,
      na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
    when(na * nb =!= 0.0, // ANSI: zero-norm vector would throw on divide
      graft.functions.catalyst.GraftColumns.dot_f64(va, vb) / (na * nb))

  // ---------------------------------------------------------------- s01
  /** Exact cosine top-k per query vector; rank on the rounded cosine with
    * vec_id tiebreak so ordering is engine-independent. */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    val q = e.filter($"vec_id" % QueryStride === 0)
      .select($"vec_id".as("query_id"), $"v".as("vq"), $"norm".as("nq"))
    val c = e.select($"vec_id".as("neighbor_id"), $"v".as("vn"), $"norm".as("nn"))
    exactTopK(q.crossJoin(c).filter($"query_id" =!= $"neighbor_id"))
      .orderBy($"query_id", $"rnk")
  }

  /** The exact finish every top-k entry ends in (s01, s02, the s03/s07
    * core, the s04/s07b core and the PQ re-rank): candidate pairs
    * (query_id, neighbor_id, vq, vn, nq, nn) → (query_id, rnk,
    * neighbor_id, cosine), the [[TopK]] best per query, unordered.
    *
    * Top-k runs through the bounded-heap aggregate, not a rank window:
    * the window form shuffles every candidate on query_id and fully sorts
    * each partition, where graft_topk's partial aggregation cuts each map
    * task's output to ≤k rows per query BEFORE the exchange — at corpus
    * scale the shuffle volume drops from the candidate count to
    * |q|×k×tasks. The heap's (score DESC, id ASC) order is exactly the
    * window's (cosine DESC, neighbor_id) total order; cosine is rounded
    * before ranking so the DuckDB oracles agree bit-for-bit. Zero-norm
    * vectors score null; the heap would skip them anyway, but they are
    * filtered explicitly so heap ≡ window holds even when a query has
    * fewer than TopK non-null candidates (the oracles filter too). */
  private[similarity] def exactTopK(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs
      .withColumn("cosine", F.fr(cosine($"vq", $"vn", $"nq", $"nn"), 6))
      .filter($"cosine".isNotNull)
      .groupBy($"query_id")
      .agg(GraftColumns.topk_by($"cosine", $"neighbor_id", TopK).as("top"))
      .select($"query_id", posexplode($"top").as(Seq("pos", "t")))
      .select($"query_id", ($"pos" + 1).cast("int").as("rnk"),
        $"t.id".as("neighbor_id"), $"t.score".as("cosine"))
  }

  val bruteForceTopKSql: String = {
    val dot = S.foldSum("list_transform(range(1, len(vq) + 1), i -> vq[i] * vn[i])")
    val nq = S.foldSum("list_transform(vq, x -> x * x)")
    val nn = S.foldSum("list_transform(vn, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS vq, c.v AS vn
       |  FROM e q JOIN e c ON q.vec_id % $QueryStride = 0 AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${S.fr(s"CASE WHEN (sqrt($nq) * sqrt($nn)) <> 0.0 THEN ($dot) / (sqrt($nq) * sqrt($nn)) END", 6)} AS cosine
       |  FROM p),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored WHERE cosine IS NOT NULL)
       |SELECT query_id, rnk, neighbor_id, cosine
       |FROM ranked WHERE rnk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- s03
  /** Coarse cells probed per query in the IVF search. The sf corpus's
    * labels are weak geometric clusters (within-cell cosine tops out near
    * 0.47), so recall needs several probes; with tight real-world cells
    * 1–2 probes would do. */
  val IvfProbes = 4

  /** IVF-style ANN: coarse centroids per label cell (fixed-point micro-unit
    * means so both engines compute identical centroids), queries probe the
    * [[IvfProbes]] best cells by a quantized integer dot score (engine-
    * deterministic), then exact cosine top-k within the probed cells.
    * At 100 TB the cell id is the shuffle key; only probed cells are read. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ivfProbedTopK(graft.GraftSession.maybeCache(vecs(spark, dir)),
      _ % QueryStride === 0)
      .orderBy($"query_id", $"rnk")
  }

  /** The s03 IVF core over an arbitrary query subset (`isQuery` applies
    * to vec_id): label-cell centroids, quantized integer probe ranking,
    * exact cosine top-k within probed cells. Unordered — callers add
    * their own final sort. s07 runs it with every vector as a query. */
  private def ivfProbedTopK(e: DataFrame,
      isQuery: Column => Column): DataFrame = {
    import e.sparkSession.implicits._
    val dims = e.select($"vec_id", $"label", posexplode($"v").as(Seq("dim", "dv")))
    val centroids = dims.groupBy($"label", $"dim")
      .agg((sum(floor($"dv" * 1e6).cast("long")).cast("double") /
        count(lit(1)) / 1e6).as("cv"))
    val qdims = e.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), posexplode($"v").as(Seq("dim", "qv")))
    // Both rank stages run through the bounded-heap aggregate, not
    // windows. The quantized probe score (≤ ~32·1e9 in magnitude) is an
    // exact double, so (score DESC, label ASC) survives the cast; the
    // heap replaces the cell-rank window's re-shuffle + full sort with a
    // partial-aggregable exchange.
    val tk = graft.functions.catalyst.GraftColumns.topk_by _
    val probes = qdims.join(centroids, Seq("dim"))
      .groupBy($"query_id", $"label")
      .agg(sum(floor($"qv" * $"cv" * 1e9).cast("long")).as("score"))
      .groupBy($"query_id")
      .agg(tk($"score".cast("double"), $"label".cast("long"), IvfProbes).as("cells"))
      .select($"query_id", explode($"cells.id").as("lbl"))
      .select($"query_id", $"lbl".cast("int").as("label"))
    val q = e.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"v".as("vq"), $"norm".as("nq"))
    val c = e.select($"vec_id".as("neighbor_id"), $"v".as("vn"), $"norm".as("nn"), $"label")
    // Final top-k: the window form shuffled EVERY probed-cell candidate
    // on query_id and sorted each partition — with a corpus-scale query
    // side (s07/d09 run this core with every vector as a query) that is
    // the whole candidate volume, |q| × probed-cell size. The heap cuts
    // each map task to ≤k rows per query before the exchange. A vector
    // has exactly ONE label, so the post-rank label fetch is a 1:1
    // equi-join back to the (cached) corpus frame — |q|·k vs |corpus|
    // rows, broadcast at serving strides, a plain hash join when the
    // query side is the corpus itself; either way it moves k rows per
    // query, never the candidate fan-out the window form shuffled.
    //
    // JOIN ORDER (round-14, found by the sf10 rehearsal): attach the
    // query vectors BEFORE the cell-member join. The old order
    // (probes⋈c, THEN ⋈q) put the q join on the far side of the
    // candidate fan-out — fine while q broadcast (serving strides), but
    // with a corpus-scale q (s07) past the broadcast threshold it
    // planned a sort-merge that SHUFFLED the entire |q|·cellSize·probes
    // candidate stream to disk (measured: 78 GB of spill, then ENOSPC,
    // at 2.5M vectors). This order keeps every join input ≤ |q|·probes
    // or |corpus| rows; candidates are born in the label join and
    // pipeline straight into the partial heap aggregate — never
    // materialized, never shuffled.
    exactTopK(probes
      .join(q, Seq("query_id"))
      .join(c, Seq("label"))
      .filter($"query_id" =!= $"neighbor_id"))
      .join(e.select($"vec_id".as("neighbor_id"), $"label"), Seq("neighbor_id"))
      .select($"query_id", $"rnk", $"neighbor_id", $"label", $"cosine")
  }

  val ivfTopKSql: String = {
    val dot = S.foldSum("list_transform(range(1, len(vq) + 1), i -> vq[i] * vn[i])")
    val nq = S.foldSum("list_transform(vq, x -> x * x)")
    val nn = S.foldSum("list_transform(vn, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (
       |  SELECT vec_id, label, i AS dim, v[i] AS dv
       |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
       |centroids AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(floor(dv * 1000000.0) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS cv
       |  FROM dims GROUP BY 1, 2),
       |qdims AS (
       |  SELECT vec_id AS query_id, i AS dim, v[i] AS qv
       |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
       |  WHERE vec_id % $QueryStride = 0),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT query_id, label,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, label) AS cell_rank
       |    FROM (SELECT query_id, label,
       |            sum(CAST(floor(qv * cv * 1000000000.0) AS BIGINT)) AS score
       |          FROM qdims JOIN centroids USING (dim)
       |          GROUP BY 1, 2) s) r
       |  WHERE cell_rank <= $IvfProbes),
       |pairs AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, c.label, q.v AS vq, c.v AS vn
       |  FROM probes p
       |  JOIN e c ON c.label = p.label
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE c.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, label,
       |    ${S.fr(s"CASE WHEN (sqrt($nq) * sqrt($nn)) <> 0.0 THEN ($dot) / (sqrt($nq) * sqrt($nn)) END", 6)} AS cosine
       |  FROM pairs),
       |ranked AS (
       |  SELECT query_id, neighbor_id, label, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored WHERE cosine IS NOT NULL)
       |SELECT query_id, rnk, neighbor_id, label, cosine
       |FROM ranked WHERE rnk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- s02
  /** Random-hyperplane LSH: per table, bucket = sign bits of the dot
    * products with `planes` deterministic pseudo-random planes; candidates
    * are the UNION over `tables` independent bucketings (multi-table LSH —
    * the OR construction), then exact cosine top-k over the candidate set.
    * Approximate by construction → driver does the rows-only check (no SQL
    * oracle); recall vs s01 is asserted in tests.
    *
    * Scale shape: the bucket id is the shuffle key (2^planes buckets per
    * table — parameterized precisely because a fixed 256 buckets is a
    * fan-in ceiling at 100 TB); candidate dedup and the final top-k are
    * partial aggregations on well-distributed keys.
    *
    * MEGA-BUCKET CAP (round-16, closing the round-15 honest negative
    * result): plane count bounds the AVERAGE bucket population, but a
    * duplicate-heavy corpus — exactly what a pre-dedup crawl looks like —
    * co-buckets near-identical vectors in the SAME bucket of EVERY table
    * at any plane count, and candidate mass is Σ bucket_q·bucket_n, which
    * the sf100 rehearsal measured as a 30+ GB pair shuffle before the
    * kill. The cap is d03's `MaxShingleDf` precedent adapted to LSH: the
    * MEMBER side of each (tbl, bucket) is capped at
    * [[LshMaxBucket]] vectors (the k smallest vec_ids through the bounded
    * heap — deterministic across runs/engines), while the QUERY side
    * stays uncapped so every query still probes. Per-query candidates are
    * then ≤ tables·cap regardless of corpus duplication. Gated on the
    * corpus plan-stat size ([[graft.plans.ScaleGate]] at
    * [[LshCapMinBytes]], the hot-bin discipline) so gate-SF plans — and
    * the ShuffleGuard 5-exchange pin — are byte-identical to the
    * uncapped form; when the cap branch IS armed but no bucket exceeds
    * the cap, capped ≡ plain row-for-row (LlmOpsSpec pins this). */
  val LshMaxBucket = 4096
  val LshMaxBucketConf = "spark.graft.ann.lshMaxBucket"
  private val LshCapMinBytes: Long = 1L << 28 // 256 MiB

  def lshTopKParam(spark: SparkSession, dir: String,
      planes: Int, tables: Int): DataFrame =
    lshTopKFrom(graft.GraftSession.maybeCache(vecs(spark, dir)), planes, tables)

  /** [[lshTopKParam]] over any (vec_id, v, norm) frame (LlmOpsSpec's
    * duplicate-heavy synthetic corpus). */
  private[graft] def lshTopKFrom(e: DataFrame,
      planes: Int, tables: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // plane g (global index t*planes + p) component c in {-1, +1}:
    // deterministic from (g, c) so every engine/run buckets identically.
    // The mix must give DISTINCT patterns per plane — a small-modulus
    // pattern like (g*131 + c*31) % 7 has only 7 distinct planes, so extra
    // planes/tables silently duplicate and recall stops improving.
    //
    // Round-15: the bucketing runs through the NATIVE LshBuckets
    // expression (one pass over the vector inside whole-stage codegen)
    // instead of the zip_with/transform HOF spelling — tables×planes
    // interpreted array traversals per row were the dominant cost of the
    // sf10 bucketing (s07b's 7× precedent; before/after in PERF.md).
    // Constants, fold order and the >= 0 sign test are bit-identical,
    // so the DuckDB oracle (lshTopKSqlFor) is unchanged; LlmOpsSpec also
    // pins native ≡ HOF bucketing directly.
    //
    // zero-length embeddings cannot hash: Spark's sequence(0, -1) would
    // auto-descend (yielding [0,-1]) while DuckDB's range(1,1) is empty,
    // so the two engines would bucket such a vector differently — exclude
    // them on BOTH sides instead (they have no meaningful neighbors)
    // PINNED fan-out exchange (round-15, the q48 discipline): the
    // (tbl, bucket) shuffle is bytes-tiny (pairs of ints), so AQE
    // coalesces it by its own size — measured at sf10: the bucket-pair
    // join ran on 2 of 32 tasks, 19.3 s of a 38 s entry, and at sf100
    // that coalesced straggler is what actually died, not candidate
    // volume. The explicit partition count survives AQE; the self-join
    // needs this exchange anyway, so ENSURE_REQUIREMENTS reuses it on
    // both derivations (one exchange, two readers).
    val nPart = spark.sessionState.conf.numShufflePartitions
    val bucketed = e.filter(size($"v") > 0)
      .select($"vec_id", posexplode(graft.functions.catalyst.GraftColumns
        .lsh_buckets($"v", planes, tables)).as(Seq("tbl", "bucket")))
      .repartition(nPart, $"tbl", $"bucket")
    // Mega-bucket member cap (see the operator scaladoc): armed only past
    // the plan-stat gate, so gate-SF plans are byte-identical. The heap
    // agg groups on the SAME (tbl, bucket) keys as the pinned repartition
    // above, so ENSURE_REQUIREMENTS reuses that exchange — the cap adds
    // no shuffle, only the bounded per-bucket heap.
    val cap = spark.conf.get(LshMaxBucketConf, LshMaxBucket.toString).toInt
    val capOn = cap > 0 && graft.plans.ScaleGate.armed(e, LshCapMinBytes)
    val members =
      if (!capOn) bucketed.toDF("neighbor_id", "tbl", "bucket")
      else bucketed
        .groupBy($"tbl", $"bucket")
        .agg(graft.functions.catalyst.GraftColumns
          .topk_by_ord($"vec_id", $"vec_id", cap).as("ids"))
        .select($"tbl", $"bucket", explode($"ids").as("neighbor_id"))
    val cand = bucketed.filter($"vec_id" % QueryStride === 0)
      .toDF("query_id", "tbl", "bucket")
      .join(members, Seq("tbl", "bucket"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id").distinct()
    val q = e.select($"vec_id".as("query_id"), $"v".as("vq"), $"norm".as("nq"))
    val c = e.select($"vec_id".as("neighbor_id"), $"v".as("vn"), $"norm".as("nn"))
    // Attach the CORPUS vectors first (round-15): the c-join is the
    // sort-merge at scale, and attaching q's vectors before it made the
    // sort run over ~1 KB rows (pair + query vector) — measured 6.2 GB
    // of sort spill at sf10 for a 21M-pair stream. With the c-join on
    // the LEAN 16-byte pairs the sort is cheap; q (the query fraction)
    // then attaches on the join OUTPUT — broadcast-hash at any gate SF,
    // and at production query fractions the one unavoidable fat
    // exchange is the LAST, pipelined straight into the heap aggregate.
    exactTopK(cand
      .join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id")))
      .orderBy($"query_id", $"rnk")
  }

  def lshTopK(spark: SparkSession, dir: String): DataFrame =
    lshTopKParam(spark, dir, NumPlanes, LshTables)

  /** DuckDB twin of [[lshTopKParam]]: the planes are a deterministic
    * function of (global plane index, dimension), and the sign test runs
    * on a fold computed in the identical index order, so both engines
    * bucket identically — s02 is approximate w.r.t. exact ANN but fully
    * deterministic, hence oracle-checkable. */
  def lshTopKSqlFor(planes: Int, tables: Int): String = {
    def planeDot(g: Int): String = {
      val sign = s"CASE WHEN ((${g.toLong * 73856093L} + (i-1)*19349663) % 1000003) % 2 = 1 " +
        "THEN -1.0 ELSE 1.0 END"
      S.foldSum(s"list_transform(range(1, len(v) + 1), i -> v[i] * ($sign))")
    }
    val tableSelects = (0 until tables).map { t =>
      val bucket = (0 until planes).map { p =>
        s"(CASE WHEN (${planeDot(t * planes + p)}) >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n      + ")
      s"SELECT vec_id, $t AS tbl,\n      $bucket AS bucket FROM e WHERE len(v) > 0"
    }.mkString("\n  UNION ALL\n  ")
    val dot = S.foldSum("list_transform(range(1, len(vq) + 1), i -> vq[i] * vn[i])")
    val nq = S.foldSum("list_transform(vq, x -> x * x)")
    val nn = S.foldSum("list_transform(vn, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (
       |  $tableSelects),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id % $QueryStride = 0 AND q.vec_id <> c.vec_id),
       |p AS (
       |  SELECT query_id, neighbor_id, eq.v AS vq, ec.v AS vn
       |  FROM cand
       |  JOIN e eq ON eq.vec_id = query_id
       |  JOIN e ec ON ec.vec_id = neighbor_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${S.fr(s"CASE WHEN (sqrt($nq) * sqrt($nn)) <> 0.0 THEN ($dot) / (sqrt($nq) * sqrt($nn)) END", 6)} AS cosine
       |  FROM p),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored WHERE cosine IS NOT NULL)
       |SELECT query_id, rnk, neighbor_id, cosine
       |FROM ranked WHERE rnk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  val lshTopKSql: String = lshTopKSqlFor(NumPlanes, LshTables)

  // ---------------------------------------------------------------- s04
  /** IVF with a TRAINED coarse quantizer: KMeans centroids (the ml03
    * model) replace s03's fixed-point label-derived cells — the shape a
    * production IVF index actually ships. The centroid table is tiny
    * (k × dim) and broadcast; each query ranks centroids by L2 (the
    * ||q||² term is constant per query, so score = ||c||² − 2·q·c),
    * probes the [[IvfProbe]] nearest cells, and exact cosine re-ranks
    * only those cells' members. At 100 TB the cell id is the shuffle key
    * and unprobed cells are never read. Approximate by construction →
    * rows-only in the driver; recall vs s01 asserted in tests. */
  val IvfCells = 10
  val IvfProbe = 4

  def ivfTrainedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedProbedTopK(spark, dir, IvfCells, _ % QueryStride === 0)
      .orderBy($"query_id", $"rnk")
  }

  /** The trained-cell core over a query subset (`isQuery` applies to
    * vec_id), as [[ivfProbedTopK]] is the label-cell one: `cells` KMeans
    * centroids, each query probes its [[IvfProbe]] nearest by L2, exact
    * finish within the probed cells. Unordered. s04 runs it on the stride
    * queries, s07b with every vector as a query. */
  private[graft] def trainedProbedTopK(spark: SparkSession, dir: String,
      cells: Int, isQuery: Column => Column): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    // cache the SHARED vecs plan (one CacheManager entry with s03/s05/
    // d09 — canonically identical) and add the ml features column OUTSIDE
    // the cache: wrapping the widened plan would pin a second full copy
    // of every embedding for the session
    val e = graft.GraftSession.maybeCache(vecs(spark, dir))
      .withColumn("features", array_to_vector($"v"))
    // One quantizer per (session, dir, k): shared with ml03 and memoized,
    // so a session running both pays a single KMeans fit.
    val model = graft.ml.Features.fittedKmeans(spark, dir, cells)
    val assigned = model.transform(e)
      .select($"vec_id", $"v", $"norm", $"prediction".as("cell"))
    // ||c||² precomputed ONCE per centroid on the driver (k values) —
    // the s07b lesson: a per-row HOF fold re-ran k·|q| non-codegen array
    // traversals through the probe ranking
    val centDf = spark.createDataFrame(
      model.clusterCenters.toSeq.zipWithIndex.map { case (c, i) =>
        (i, c.toArray, c.toArray.foldLeft(0.0)((a, x) => a + x * x)) })
      .toDF("cell", "cv", "cnorm2")
    // Both rank stages through the bounded-heap aggregate, not windows
    // (round 16 — s03's ivfProbedTopK is the model). The probe stage's
    // input is broadcast-bounded (|q|·k rows), but it runs through the
    // same heap for uniformity: heap key −score gives the window's
    // (score ASC, cell ASC) order exactly — double negation is exact, and
    // the heap's id-ASC tiebreak is the window's cell ASC. Score is L2
    // (||c||² − 2·q·c; the ||q||² term is constant per query).
    val q = assigned.filter(isQuery($"vec_id"))
      .select($"vec_id".as("query_id"), $"v".as("vq"), $"norm".as("nq"))
    val probes = q.select($"query_id", $"vq")
      .crossJoin(broadcast(centDf))
      .withColumn("score", $"cnorm2" - lit(2.0) * GraftColumns.dot_f64($"vq", $"cv"))
      .groupBy($"query_id")
      .agg(GraftColumns.topk_by(-$"score", $"cell".cast("long"), IvfProbe).as("cells"))
      .select($"query_id", explode($"cells.id").as("lbl"))
      .select($"query_id", $"lbl".cast("int").as("cell"))
    val members = assigned
      .select($"cell", $"vec_id".as("neighbor_id"), $"v".as("vn"), $"norm".as("nn"))
    // JOIN ORDER (the s03/round-14 lesson): attach the query vectors
    // BEFORE the cell-member fan-out join, so candidates are born
    // adjacent to their partial heap aggregate and the fan-out stream is
    // never shuffled — probes⋈q is |q|·nProbe rows, members is |corpus|.
    exactTopK(probes
      .join(q, Seq("query_id"))
      .join(members, Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id"))
  }

  // ---------------------------------------------------------------- d09
  /** d09: embedding near-dup with DATA-DERIVED blocking — d05's shape
    * with the label column replaced by an IVF cell assignment (nearest
    * fixed-point centroid by quantized L2, engine-deterministic): the
    * corpus blocks itself, no metadata needed. Pairs form only within a
    * cell, so candidate volume is Σ cell² not corpus²; at 100 TB the cell
    * id is the shuffle key, exactly like s03/s04's read path. Assignment
    * uses integer-quantized scores (floor micro/nano units) so both
    * engines pick identical cells; the cosine verify reuses s01's exact
    * arithmetic. */
  def embeddingDedupIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = graft.GraftSession.maybeCache(vecs(spark, dir))
    // ONE posexplode carrying both consumers' columns (the SQL twin's
    // single `dims` CTE selects vec_id AND label) — a second full
    // rows×dims explode of the cached corpus doubled the hot path's work
    val dims = e.select($"vec_id", $"label", posexplode($"v").as(Seq("dim", "dv")))
    val centroids = dims.groupBy($"label", $"dim")
      .agg((sum(floor($"dv" * 1e6).cast("long")).cast("double") /
        count(lit(1)) / 1e6).as("cv"))
      .withColumnRenamed("label", "clabel")
    val cn2 = centroids.groupBy($"clabel")
      .agg(sum(floor($"cv" * $"cv" * 1e9).cast("long")).as("cn2q"))
    // Cell assignment through a k=1 bounded heap, not a window (round 16
    // — the r08/t13 argmax swap): the window form shuffled all N×labels
    // scored rows on vec_id and whole-sorted each partition, where
    // graft_topk_ord partial-aggregates each map task down to ONE row per
    // vec_id before the exchange. The struct key (score ASC, clabel ASC)
    // is exactly the window's total order, and it is unique per group
    // because clabel is a component.
    val assigned = dims.drop("label").join(centroids, Seq("dim"))
      .groupBy($"vec_id", $"clabel")
      .agg(sum(floor($"dv" * $"cv" * 1e9).cast("long")).as("dotq"))
      .join(cn2, Seq("clabel"))
      .withColumn("score", $"cn2q" - lit(2L) * $"dotq")
      .groupBy($"vec_id")
      .agg(graft.functions.catalyst.GraftColumns
        .topk_by_ord(struct($"score", $"clabel"), $"clabel", 1).as("cells"))
      .select($"vec_id", $"cells"(0).as("cell"))
    val m = e.join(assigned, Seq("vec_id"))
      .select($"vec_id", $"cell", $"v", $"norm")
    m.toDF("vec_a", "cell", "va", "na")
      .join(m.toDF("vec_b", "cell", "vb", "nb"), Seq("cell"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("cosine", F.fr(cosine($"va", $"vb", $"na", $"nb"), 6))
      .filter($"cosine" >= graft.dedup.Dedup.CosineThreshold)
      .select($"vec_a", $"vec_b", $"cell", $"cosine")
      .orderBy($"vec_a", $"vec_b")
  }

  val embeddingDedupIvfSql: String = {
    val dot = S.foldSum("list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])")
    val na = S.foldSum("list_transform(va, x -> x * x)")
    val nb = S.foldSum("list_transform(vb, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (
       |  SELECT vec_id, label, i - 1 AS dim, v[i] AS dv
       |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
       |centroids AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(floor(dv * 1000000.0) AS BIGINT)) AS DOUBLE)
       |      / count(*) / 1000000.0 AS cv
       |  FROM dims GROUP BY label, dim),
       |cn2 AS (
       |  SELECT label,
       |    sum(CAST(floor(cv * cv * 1000000000.0) AS BIGINT)) AS cn2q
       |  FROM centroids GROUP BY label),
       |sc AS (
       |  SELECT d.vec_id, c.label,
       |    sum(CAST(floor(d.dv * c.cv * 1000000000.0) AS BIGINT)) AS dotq
       |  FROM dims d JOIN centroids c ON c.dim = d.dim
       |  GROUP BY d.vec_id, c.label),
       |asg AS (
       |  SELECT vec_id, label AS cell FROM (
       |    SELECT s.vec_id, s.label,
       |      row_number() OVER (PARTITION BY s.vec_id
       |                         ORDER BY (n.cn2q - 2 * s.dotq), s.label) AS arnk
       |    FROM sc s JOIN cn2 n USING (label)) z
       |  WHERE arnk = 1),
       |m AS (SELECT e.vec_id, asg.cell, e.v FROM e JOIN asg USING (vec_id)),
       |pr AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
       |    a.v AS va, b.v AS vb
       |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b, cell,
       |    ${S.fr(s"CASE WHEN (sqrt($na) * sqrt($nb)) <> 0.0 THEN ($dot) / (sqrt($na) * sqrt($nb)) END", 6)} AS cosine
       |  FROM pr)
       |SELECT vec_a, vec_b, cell, cosine
       |FROM scored WHERE cosine >= ${graft.dedup.Dedup.CosineThreshold}
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------- s05
  /** PQ geometry: M subspaces × K centroids each. 64-dim vectors → 8-dim
    * subvectors; one byte-sized code per subspace compresses a 512-byte
    * float64 vector to 8 bytes (64×) — THE storage/scan economics that
    * make 100 TB ANN feasible. Exact re-rank pool = PqRerank × TopK. */
  val PqSubspaces = 8
  val PqCentroids = 16
  val PqRerank = 8

  /** Codebook training sample bound and Lloyd iteration count. */
  val PqTrainMax = 2048
  val PqTrainIters = 10

  // weak-session memo (codebook arrays are session-free, so entries die
  // with the session — no pinning; see graft.SessionMemo)
  private val pqCache = new graft.SessionMemo[String, Array[Array[Array[Double]]]]

  /** s05's codebooks for the sf corpus, memoized per (session, dir). */
  private def pqCodebooks(spark: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    pqCache.getOrElseUpdate(spark, dir)(
      pqTrain(trainSample(vecs(spark, dir), "pqCodebooks")))

  /** The ordered training sample both PQ entries train on: the unit
    * vectors of the first [[PqTrainMax]] non-zero rows by vec_id of a
    * (vec_id, v, norm) frame. */
  private[similarity] def trainSample(e: DataFrame,
      caller: String): Array[Array[Double]] = {
    import e.sparkSession.implicits._
    val sample = unitVectors(e).orderBy($"vec_id").limit(PqTrainMax)
      .select($"vn").as[Seq[Double]].collect().map(_.toArray)
    require(sample.nonEmpty,
      s"$caller: no non-zero vectors to train on (empty or all-zero corpus)")
    sample
  }

  /** Per-subspace codebooks (M × K × D/M doubles — planner-scale state,
    * like an IVF centroid table). PQ codebooks train on a BOUNDED sample
    * regardless of corpus size (the production pattern — the codebook is
    * 2 KB of floats; a distributed iterative fit per subspace costs more
    * in job scheduling than the arithmetic is worth: 8 MLlib fits
    * measured 8+ s where this driver-side seeded Lloyd on ≤ [[PqTrainMax]]
    * sampled vectors is sub-millisecond). Deterministic: ordered sample,
    * first-K init, first-min assignment. */
  private[similarity] def pqTrain(sample: Array[Array[Double]])
      : Array[Array[Array[Double]]] = {
    val sub = sample(0).length / PqSubspaces
    Array.tabulate(PqSubspaces) { m =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, m * sub, (m + 1) * sub)),
        PqCentroids, PqTrainIters)
    }
  }

  /** Deterministic seeded Lloyd on a driver-held sample (ordered input,
    * first-K init, first-min assignment, empty cluster keeps its
    * centroid) — shared by the PQ codebooks and the s06 persisted index's
    * coarse quantizer. */
  private[similarity] def lloyd(pts: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    var cent = Array.tabulate(k)(i => pts(i % pts.length).clone())
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        val best = nearest(p, 0, cent)
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cent = Array.tabulate(k) { c =>
        if (counts(c) == 0) cent(c)          // empty cluster keeps its centroid
        else sums(c).map(_ / counts(c))
      }
      iter += 1
    }
    cent
  }

  /** Index of the centroid nearest to `p`'s slice at `off` (first-min
    * tiebreak) — the one assignment step of Lloyd, PQ encoding and the
    * s06 coarse cell. */
  private[similarity] def nearest(p: Array[Double], off: Int,
      cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = sqL2(p, off, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The PQ code of a unit vector: its nearest centroid per subspace. */
  private[similarity] def pqCodes(vn: Array[Double],
      books: Array[Array[Array[Double]]]): Seq[Int] =
    Array.tabulate(PqSubspaces)(m => nearest(vn, m * books(m)(0).length, books(m))).toSeq

  private[similarity] def sqL2(a: Array[Double], off: Int, b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { val d = a(off + i) - b(i); s += d * d; i += 1 }
    s
  }

  /** (vec_id, vn): the unit vectors of a (vec_id, v, norm) frame's
    * non-zero rows — what PQ trains on, encodes and scores. */
  private[similarity] def unitVectors(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"norm" > 0).select($"vec_id", transform($"v", x => x / $"norm").as("vn"))
  }

  /** The serving request batch, collected under the [[MaxServeBatch]]
    * contract (the limit is pushed into the collect itself, so an
    * oversized batch costs one extra row, not a driver OOM) and checked:
    * an external request table is untrusted — a short vector would throw
    * AIOOBE inside executor tasks building the LUTs, a long one would
    * silently ignore its tail, and duplicate ids would each build a heap
    * and then merge under ONE query_id, a silently mixed top-k.
    * `qv` is (vec_id, v, norm); the batch holds its unit vectors. */
  private[similarity] def serveBatch(qv: DataFrame, dim: Int,
      caller: String): Array[(Long, Array[Double])] = {
    import qv.sparkSession.implicits._
    val batch = unitVectors(qv).as[(Long, Seq[Double])]
      .limit(MaxServeBatch + 1).collect()
      .map { case (id, vn) => (id, vn.toArray) }
    require(batch.length <= MaxServeBatch,
      s"$caller: query batch exceeds MaxServeBatch=$MaxServeBatch — the " +
        "serving path collects queries to the driver by design; run " +
        "corpus-scale query sets through the cell-keyed shuffle path " +
        "(s07 knnGraph) instead")
    batch.find(_._2.length != dim).foreach { case (id, vn) =>
      throw new IllegalArgumentException(
        s"$caller: query vec_id=$id has dim ${vn.length}, corpus dim is $dim")
    }
    require(batch.map(_._1).distinct.length == batch.length,
      s"$caller: duplicate vec_id in the query batch")
    batch
  }

  /** The PQ serving scan shared by s05 and s06: ADC-score each code row
    * against one M×K lookup table per query, keep the [[PqRerank]]·TopK
    * nearest per query, and exact-finish them ([[exactTopK]]) against
    * `corpus` (neighbor_id, vn, nn) and `queries` (query_id, vq, nq).
    * `codes` holds (vec_id, cell, codes) rows; with `probed`, query i
    * scores only the rows of its cells `probed(i)` (s06's pruned read),
    * without it the cell is ignored. `excludeSelf` drops the pairs whose
    * ids are equal. Unordered.
    *
    * Per-partition BOUNDED top-k during scoring: a size-(PqRerank·TopK)
    * max-heap per query, so a partition emits ≤ queries × R·K candidate
    * rows — not queries × partition-rows (at 100 TB a hot probed cell
    * would otherwise funnel its whole population through the merge).
    * The merged result is identical to a full sort: each partition's
    * top-R·K is a superset of its contribution to the global top-R·K. */
  private[similarity] def adcTopK(codes: Dataset[(Long, Int, Seq[Int])],
      corpus: DataFrame, queries: DataFrame,
      batch: Array[(Long, Array[Double])],
      books: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
      probed: Option[Array[Set[Int]]], excludeSelf: Boolean): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bQ = spark.sparkContext.broadcast(batch)
    val bProbed = spark.sparkContext.broadcast(probed)
    val keep = PqRerank * TopK
    val scored = codes
      .mapPartitions { it =>
        val c = books.value; val qs = bQ.value; val pr = bProbed.value
        // one LUT per query per partition: luts(q)(m)(k) = ||q_sub − cent||²
        val luts = qs.map { case (_, q) =>
          Array.tabulate(PqSubspaces)(m =>
            Array.tabulate(c(m).length)(k => sqL2(q, m * c(m)(k).length, c(m)(k))))
        }
        // max-heap on (d2, neighbor_id) — the merge's (d2 asc,
        // neighbor_id asc) order, so ties break identically
        val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
        val heaps = Array.fill(qs.length)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(ord))
        it.foreach { case (vid, cell, codes) =>
          var qi = 0
          while (qi < qs.length) {
            if (pr.forall(_(qi).contains(cell)) && !(excludeSelf && qs(qi)._1 == vid)) {
              var d2 = 0.0; var m = 0
              while (m < PqSubspaces) { d2 += luts(qi)(m)(codes(m)); m += 1 }
              val h = heaps(qi)
              if (h.size < keep) h.enqueue((d2, vid))
              else if (ord.lt((d2, vid), h.head)) { h.dequeue(); h.enqueue((d2, vid)) }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (d2, vid) => (qs(qi)._1, vid, d2) } }
      }.toDF("query_id", "neighbor_id", "d2")
    // merge the partitions' heaps: heap key −d2 keeps the smallest d2,
    // id-ASC ties — the per-partition order exactly
    val cands = scored.groupBy($"query_id")
      .agg(GraftColumns.topk_by(-$"d2", $"neighbor_id", keep).as("c"))
      .select($"query_id", explode($"c.id").as("neighbor_id"))
    exactTopK(cands
      .join(corpus, Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id")))
  }

  /** s05: product-quantization ANN — the compression layer of a production
    * IVF-PQ index. Corpus vectors are L2-normalized (cosine ≡ monotone in
    * L2² on the unit sphere) and encoded to M subspace codes map-side; the
    * query batch precomputes one M×K lookup table per query, so scoring a
    * candidate is M table lookups instead of a D-dim dot product
    * (asymmetric distance computation); the PqRerank×TopK best approximate
    * candidates re-rank with the EXACT cosine, so reported scores match
    * s01's arithmetic. The query batch is driver-held by design — it is
    * the serving request, not the corpus; codes and re-rank stay
    * distributed. At 100 TB this composes with the s04 coarse quantizer
    * (probe cells first, ADC within probed cells); approximate by
    * construction → rows-only, recall vs s01 asserted in the spec. */
  /** Default serving batch for the registered s05/s06 queries: every
    * Nth corpus vector — a harness convenience so the driver-checked
    * entries need no external request table. NOT the production contract
    * (real callers pass their own bounded request batch), so the stride
    * must not let the DEFAULT batch outgrow [[MaxServeBatch]] as the
    * corpus grows: it widens from [[QueryStride]] just enough to keep the
    * batch under half the cap (vec_ids are dense, so batch ≈ n/stride).
    * One footer-scale count() per call — the embeddings table is
    * dimension-sized next to the corpus the serving path scores. */
  private[similarity] def serveStride(spark: SparkSession, dir: String): Long = {
    val n = Tables.embeddings(spark, dir).count()
    math.max(QueryStride.toLong, n / (MaxServeBatch / 2) + 1L)
  }

  def pqQueryDefault(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .filter($"vec_id" % serveStride(spark, dir) === 0)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
  }

  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    pqTopKWith(spark, dir, pqQueryDefault(spark, dir), excludeSelf = true)

  /** s05b: the EXPLICIT-request serving contract as a driver-gated query
    * row — an external request batch in its OWN id space (every
    * 2·QueryStride-th corpus vector re-keyed by +[[ServeIdOffset]]), run
    * through [[pqTopKWith]] with the external-id default excludeSelf =
    * false. Approximate by construction like s05 → rows-only; the spec
    * asserts each external query surfaces its identical corpus vector as
    * the rank-1 neighbor at cosine 1.0. */
  val ServeIdOffset = 1000000L

  def pqServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val requests = Tables.embeddings(spark, dir)
      .filter($"vec_id" % (serveStride(spark, dir) * 2) === 0)
      .select(($"vec_id" + ServeIdOffset).as("vec_id"),
        $"embedding".cast("array<double>").as("v"))
    pqTopKWith(spark, dir, requests)
  }

  /** s05 with an EXPLICIT query table (vec_id, v: array<double>) — the
    * serving contract made a parameter: `queries` is the request batch,
    * collected to the driver and broadcast as one M×K distance LUT per
    * query, so its size (not the corpus's) bounds driver/executor memory.
    * Pass a bounded request-sized table; the corpus side (encoding,
    * scoring, re-rank) stays fully distributed regardless.
    *
    * `excludeSelf` drops candidates whose corpus vec_id equals the
    * query's id — ONLY meaningful when the query batch is drawn from the
    * corpus (the [[pqTopK]] default). An external request batch has its
    * own id space, where an id collision is NOT a self-pair and dropping
    * it would silently lose a (possibly nearest) neighbor — hence
    * default false. */
  def pqTopKWith(spark: SparkSession, dir: String, queries: DataFrame,
      excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    val e = graft.GraftSession.maybeCache(vecs(spark, dir))
    val dimRow = e.select(size($"v")).limit(1).collect()
    require(dimRow.nonEmpty, "pqTopKWith: empty embedding corpus")
    val bBooks = spark.sparkContext.broadcast(pqCodebooks(spark, dir))
    val codes = unitVectors(e).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val bk = bBooks.value
        it.map { case (id, vn) => (id, 0, pqCodes(vn.toArray, bk)) } // one cell, unprobed
      }
    val qv = withNorm(queries.select($"vec_id", $"v"))
    val batch = serveBatch(qv, dimRow.head.getInt(0), "pqTopKWith")
    adcTopK(codes, e.select($"vec_id".as("neighbor_id"), $"v".as("vn"), $"norm".as("nn")),
      qv.select($"vec_id".as("query_id"), $"v".as("vq"), $"norm".as("nq")),
      batch, bBooks, None, excludeSelf)
      .orderBy($"query_id", $"rnk")
  }

  // ---------------------------------------------------------------- s08
  /** Minimum cosine for a range-search hit (set where the sf corpora's
    * weak geometric clusters still produce matches — real embedding
    * spaces sit far tighter, and the radius is the caller's knob). */
  val RangeTau = 0.2

  /** s08: RANGE (radius/threshold) similarity search — every corpus
    * vector within cosine ≥ [[RangeTau]] of each query, the
    * recall-controlled retrieval mode top-k cannot express (k truncates
    * dense neighborhoods and pads sparse ones; a dedup-style gate wants
    * "everything closer than τ"). Blocked on the label cell like d05 —
    * at 100 TB the blocking key is the coarse quantizer cell and only
    * the query's probed cells are scanned; the per-pair work is the
    * codegen dot product, no window and no rank state at all (unlike
    * top-k there is nothing to rank — the filter IS the semantics). */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = graft.GraftSession.maybeCache(vecs(spark, dir))
    val q = e.filter($"vec_id" % QueryStride === 0)
      .select($"vec_id".as("query_id"), $"label", $"v".as("vq"), $"norm".as("nq"))
    val c = e.select($"vec_id".as("neighbor_id"), $"label", $"v".as("vn"), $"norm".as("nn"))
    q.join(c, Seq("label"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine_raw", cosine($"vq", $"vn", $"nq", $"nn"))
      .filter($"cosine_raw" >= RangeTau)
      .select($"query_id", $"neighbor_id", $"label",
        F.fr($"cosine_raw", 6).as("cosine"))
      .orderBy($"query_id", $"neighbor_id")
  }

  val rangeSearchSql: String = {
    val dot = S.foldSum("list_transform(range(1, len(vq) + 1), i -> vq[i] * vn[i])")
    val nq = S.foldSum("list_transform(vq, x -> x * x)")
    val nn = S.foldSum("list_transform(vn, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.label AS label,
       |         q.v AS vq, c.v AS vn
       |  FROM e q JOIN e c ON q.label = c.label
       |  WHERE q.vec_id % $QueryStride = 0 AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, label,
       |    CASE WHEN (sqrt($nq) * sqrt($nn)) <> 0.0
       |         THEN ($dot) / (sqrt($nq) * sqrt($nn)) END AS cosine_raw
       |  FROM p)
       |SELECT query_id, neighbor_id, label, ${S.fr("cosine_raw", 6)} AS cosine
       |FROM scored WHERE cosine_raw >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin
  }

  // ---------------------------------------------------------------- s07
  /** s07: the corpus-wide k-NN GRAPH — every vector's [[TopK]] nearest
    * neighbors (not just the stride query set), plus the mutual-kNN flag
    * (edge (a,b) is mutual iff b also ranks a — the symmetric subgraph
    * SemDeDup-style semantic clustering and graph-ANN construction both
    * start from). Built on the s03 IVF core, so candidates stay
    * cell-bounded: at 100 TB this is one probes×cells shuffle keyed on
    * the cell id plus a self-join of the k·N edge list on (dst, src) —
    * never an all-pairs product. Deterministic (quantized probe ranking,
    * rounded cosine, id tiebreaks) → oracle-checked exactly. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    withMutual(ivfProbedTopK(
      graft.GraftSession.maybeCache(vecs(spark, dir)), _ => lit(true)))

  /** A corpus-wide top-k as a graph: (vec_id, rnk, neighbor_id, cosine)
    * edges plus `mutual` — edge (a, b) is mutual iff b also ranks a — by
    * a self-join of the cached k·N edge list on (dst, src). */
  private def withMutual(topk: DataFrame): DataFrame = {
    import topk.sparkSession.implicits._
    val e = graft.GraftSession.maybeCache(topk
      .select($"query_id".as("vec_id"), $"rnk", $"neighbor_id", $"cosine"))
    val rev = e.select($"vec_id".as("r_dst"), $"neighbor_id".as("r_src"))
    e.join(rev, $"vec_id" === $"r_src" && $"neighbor_id" === $"r_dst", "left")
      .select($"vec_id", $"rnk", $"neighbor_id", $"cosine",
        $"r_src".isNotNull.as("mutual"))
      .orderBy($"vec_id", $"rnk")
  }

  // --------------------------------------------------------------- s07b
  /** s07b: the corpus-wide k-NN graph over TRAINED cells — s07's shape
    * with the label cells replaced by the s04 KMeans coarse quantizer, so
    * the cell COUNT is a constant sized k ∝ √N ([[TrainedGraphCells]])
    * instead of a property of the data. This is the 100-TB member of the
    * family (PERF.md round-14 sf10 rehearsal): per-cell membership is
    * N/k, candidate volume |q|·probes·N/k ∝ N^1.5 under k ∝ √N, and the
    * partial top-k aggregate's per-task group count (queries probing one
    * cell ≈ |q|·probes/k) stays inside the hash path that s07's fixed label
    * cells overflow at 100×. It is s04's [[trainedProbedTopK]] core with
    * every vector as a query, so it inherits that core's heap-first rank
    * stages and its query-first join order. Approximate
    * by construction (trained centroids) → rows-only in the driver;
    * recall vs brute force and mutual-flag symmetry are spec-asserted. */
  /** Trained-cell count: size k ∝ √N as the corpus grows — sizing
    * recipe in SURVEY §5 "Sizing a real deployment". */
  val TrainedGraphCells = 16

  def knnGraphTrained(spark: SparkSession, dir: String): DataFrame =
    withMutual(trainedProbedTopK(spark, dir, TrainedGraphCells, _ => lit(true)))

  val knnGraphSql: String = {
    val dot = S.foldSum("list_transform(range(1, len(vq) + 1), i -> vq[i] * vn[i])")
    val nq = S.foldSum("list_transform(vq, x -> x * x)")
    val nn = S.foldSum("list_transform(vn, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (
       |  SELECT vec_id, label, i AS dim, v[i] AS dv
       |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
       |centroids AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(floor(dv * 1000000.0) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS cv
       |  FROM dims GROUP BY 1, 2),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT query_id, label,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, label) AS cell_rank
       |    FROM (SELECT vec_id AS query_id, c.label,
       |            sum(CAST(floor(dv * cv * 1000000000.0) AS BIGINT)) AS score
       |          FROM dims d JOIN centroids c USING (dim)
       |          GROUP BY 1, 2) s) r
       |  WHERE cell_rank <= $IvfProbes),
       |pairs AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, q.v AS vq, c.v AS vn
       |  FROM probes p
       |  JOIN e c ON c.label = p.label
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE c.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${S.fr(s"CASE WHEN (sqrt($nq) * sqrt($nn)) <> 0.0 THEN ($dot) / (sqrt($nq) * sqrt($nn)) END", 6)} AS cosine
       |  FROM pairs),
       |knn AS (
       |  SELECT query_id AS vec_id, rnk, neighbor_id, cosine FROM (
       |    SELECT query_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |    FROM scored) r
       |  WHERE rnk <= $TopK)
       |SELECT k.vec_id, k.rnk, k.neighbor_id, k.cosine,
       |  r.vec_id IS NOT NULL AS mutual
       |FROM knn k LEFT JOIN knn r
       |  ON r.vec_id = k.neighbor_id AND r.neighbor_id = k.vec_id
       |ORDER BY k.vec_id, k.rnk""".stripMargin
  }
}
