package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => F, TextSql => S}
import graft.sources.Tables

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2 C-rows d01–d05).
  *
  * Scale posture: nothing here is a global cross join. Exact dedup is a
  * hash groupBy; MinHash/SimHash generate candidates by shuffling on small
  * band/block keys (bounded pair fan-out); n-gram Jaccard joins through an
  * inverted shingle index (only co-occurring docs ever meet); embedding
  * near-dup blocks on the label column. At 100 TB each of these is one or
  * two shuffles on well-distributed keys.
  */
object Dedup {
  /** Jaccard similarity threshold for near-dup verdicts (the sf data has a
    * clean near-dup cluster at >= 0.9 and background noise below 0.1). */
  val JaccardThreshold = 0.5
  /** Embedding cosine threshold (within-label cosines top out near 0.47 on
    * the sf data; 0.35 keeps a non-trivial result set). */
  val CosineThreshold = 0.35

  /** MinHash: K signatures, banded for LSH candidate generation.
    * h_i(x) = (a_i·x + b_i) mod P with deterministic a_i, b_i so the DuckDB
    * oracle computes the identical signatures. */
  val MinHashK = 32
  val BandRows = 4
  val NumBands: Int = MinHashK / BandRows
  def hashA(i: Int): Long = graft.functions.catalyst.MinHashSigsExpr.a(i)
  def hashB(i: Int): Long = graft.functions.catalyst.MinHashSigsExpr.b(i)

  /** SimHash bit width and Hamming radius for near-dup pairs. */
  val SimHashBits = 32
  val HammingMax = 3

  /** Stop-shingle document-frequency cap: a shingle seen in more than this
    * many documents generates NO candidate pairs (its fan-out is quadratic
    * in df — one "of the and"-class shingle at 100 TB would pair everything
    * with everything). Pairs are verified on the FULL shingle sets either
    * way, so the cap only affects candidate recall for pairs whose every
    * shared shingle is corpus-hot. 64 sits far above the sf corpora's max
    * df (7 at sf0.01, 25 at sf0.1), so small-SF output is the exact
    * all-pairs answer — the oracle keeps the uncapped formulation. */
  val MaxShingleDf = 64

  // ---------------------------------------------------------------- d01
  /** Exact dedup by content hash: keep the minimum doc_id per distinct
    * text, report the duplicate cardinality. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("content_hash"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select($"doc_id", $"content_hash", $"dup_count")
      .orderBy($"doc_id")
  }

  val exactSql: String =
    """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS dup_count
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d10
  /** d10: near-exact dedup after canonicalization — the C4/RefinedWeb-style
    * pass that catches documents identical up to case, punctuation and
    * whitespace, which d01's raw-content hash misses. Normalization is
    * lowercase → strip non-alphanumerics → collapse runs of spaces → trim;
    * dedup then groups on the normalized hash keeping the minimum doc id,
    * and reports how many RAW variants each canonical form collapsed
    * (`n_variants`, via a two-level aggregation — no countDistinct
    * Expand). One shuffle on the normalized hash; trivially 100-TB-safe,
    * exactly like d01. */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupFrom(Tables.documents(spark, dir))

  /** [[normalizedDedup]] over any (doc_id, text) frame (synthetic corpora
    * in tests). */
  def normalizedDedupFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // Single-pass codegen canonicalizer (lowercase → strip non-[a-z0-9\s]
    // → collapse \s runs → trim): semantics of
    //   trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))
    // — which the oracle keeps — without two interpreted regex passes over
    // every byte (the round-4 bench's top non-ML cost, 9 s at sf0.1).
    val norm = graft.functions.catalyst.GraftColumns.normalize_text($"text")
    docs
      .select($"doc_id", md5($"text").as("raw_hash"), md5(norm).as("norm_hash"))
      .groupBy($"norm_hash", $"raw_hash")
      .agg(min($"doc_id").as("min_id"), count(lit(1)).as("n"))
      .groupBy($"norm_hash")
      .agg(min($"min_id").as("doc_id"), sum($"n").as("dup_count"),
        count(lit(1)).as("n_variants"))
      .select($"doc_id", $"norm_hash", $"dup_count", $"n_variants")
      .orderBy($"doc_id")
  }

  val normalizedDedupSql: String =
    """WITH nh AS (
      |  SELECT doc_id, md5(text) AS raw_hash,
      |    md5(trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash
      |  FROM documents),
      |l1 AS (
      |  SELECT norm_hash, raw_hash, min(doc_id) AS min_id, count(*) AS n
      |  FROM nh GROUP BY 1, 2)
      |SELECT min(min_id) AS doc_id, norm_hash,
      |  CAST(sum(n) AS BIGINT) AS dup_count, count(*) AS n_variants
      |FROM l1 GROUP BY norm_hash
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d11
  /** Flag fraction for the span-dup gate: the sf corpus is bimodal (clone
    * docs ~1.0, organic docs 0.0 at 5-gram spans), so any mid threshold
    * gives the same verdicts; 0.3 matches Gopher's duplicated-n-gram
    * ballpark. */
  val SpanDupFracMax = 0.3

  /** d11: sub-document span dedup (the Gopher/RefinedWeb duplicated-n-gram
    * gate). Per document: how many of its 5-gram token spans also occur in
    * at least one OTHER document, as a fraction of its span positions —
    * clones score ~1, organic text ~0.
    *
    * Scale shape: spans explode map-side; one shuffle on the span key
    * computes per-(doc, span) multiplicity. The cross-doc verdict is then
    * taken by COMPLEMENT, not by window or join-back: a span with df = 1
    * lives in exactly one document, so `min(doc_id)` under the span-key
    * groupBy names that document and `dup_spans = n_spans − (occurrences
    * of the doc's df=1 spans)`. Every aggregate (count / min / sum) is
    * map-side partial-aggregable, so a stop-span present in 10M documents
    * collapses to one row per map partition — there is NO operator that
    * materializes a hot span's full (doc, span) occurrence list in a
    * single task (the round-4 flag on the `count().over(partitionBy(sh))`
    * formulation), and no hot-key join back on `sh` either: after the
    * span-key groupBy every remaining key is a doc_id, which is uniform
    * by construction. NO pair space is ever built — linear in total span
    * occurrences, no df cap to tune (hot spans cost one aggregation row,
    * not a fan-out). Within-doc repeats (t08's business) do not count: a
    * span seen 3x in one doc only has df = 1 and lands in the unique
    * complement. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupFrom(Tables.documents(spark, dir))

  def spanDedupFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val occ = docs
      .select($"doc_id", F.tokens($"text").as("tk"))
      .select($"doc_id", explode(F.spans5($"tk")).as("sh"))
      .groupBy($"doc_id", $"sh").agg(count(lit(1)).as("n_occ"))
    // occ is distinct per (doc, span) ⇒ count per sh is the cross-doc
    // document frequency. For df = 1 spans min(doc_id) IS the owning doc,
    // so the per-doc unique-occurrence total needs no row-level join.
    val uniq = occ
      .groupBy($"sh")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("only_doc"),
        sum($"n_occ").as("occ_sum"))
      .filter($"n_docs" === 1)
      .groupBy($"only_doc").agg(sum($"occ_sum").as("uniq_spans"))
      .withColumnRenamed("only_doc", "doc_id")
    val totals = docs.select($"doc_id",
      greatest(size(F.tokens($"text")) - 4, lit(0)).cast("long").as("n_spans"))
    // n_spans == Σ n_occ over the doc's occ rows, so the complement of the
    // unique-span occurrence total is exactly "occurrences of df≥2 spans".
    totals.join(uniq, Seq("doc_id"), "left")
      .select($"doc_id", $"n_spans",
        ($"n_spans" - coalesce($"uniq_spans", lit(0L))).as("dup_spans"))
      .withColumn("dup_frac", F.fr(
        $"dup_spans".cast("double") / nullif($"n_spans", lit(0L)), 4))
      .withColumn("flagged", coalesce($"dup_frac" > SpanDupFracMax, lit(false)))
      .orderBy($"doc_id")
  }

  val spanDedupSql: String =
    S.spans5Cte() + ",\n" +
      s"""occ AS (SELECT doc_id, sh, count(*) AS n_occ FROM spans GROUP BY 1, 2),
         |dfc AS (SELECT doc_id, n_occ, count(*) OVER (PARTITION BY sh) AS n_docs FROM occ),
         |dup AS (SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS dup_spans
         |        FROM dfc WHERE n_docs >= 2 GROUP BY 1),
         |tot AS (SELECT doc_id,
         |          CAST(greatest(len(string_split(text, ' ')) - 4, 0) AS BIGINT) AS n_spans
         |        FROM documents)
         |SELECT tot.doc_id, n_spans, coalesce(dup_spans, 0) AS dup_spans,
         |  ${S.fr("CAST(coalesce(dup_spans, 0) AS DOUBLE) / nullif(n_spans, 0)", 4)} AS dup_frac,
         |  coalesce(${S.fr("CAST(coalesce(dup_spans, 0) AS DOUBLE) / nullif(n_spans, 0)", 4)} > $SpanDupFracMax,
         |    false) AS flagged
         |FROM tot LEFT JOIN dup ON tot.doc_id = dup.doc_id
         |ORDER BY tot.doc_id""".stripMargin

  // ---------------------------------------------------------------- d12
  /** d12: exact duplicated-substring REMOVAL (the rewrite counterpart of
    * d11's flag-only gate — Lee et al. 2021's "Deduplicating Training Data
    * Makes Language Models Better", at d11's 5-token span unit). A token
    * position is dropped when it is covered by a 5-gram span that also
    * occurs in at least one OTHER document, unless this document is the
    * span's canonical owner (min doc_id) — exactly one document keeps each
    * shared substring, so the corpus loses the repeats but never the
    * content. Output is the REWRITTEN text plus removal counts.
    *
    * Scale shape: span occurrences explode map-side and aggregate on
    * (sh, doc) then sh — both partial-aggregable, so a stop-span shared by
    * 10M documents costs one row per map partition in the dim build. The
    * verdict join back to occurrences is filtered to df>=2 spans BEFORE
    * the join (organic corpora: a small fraction) and is linear in dup
    * occurrences — each occurrence needs its own verdict, so no
    * formulation beats linear; AQE handles dup-span skew. Covered-position
    * assembly groups on doc_id (uniform key, arrays bounded by document
    * length) and the rewrite is a row-local indexed-filter HOF. NO pair
    * space is ever built. */
  def substringRewrite(spark: SparkSession, dir: String): DataFrame =
    substringRewriteFrom(Tables.documents(spark, dir))

  def substringRewriteFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select($"doc_id", F.tokens($"text").as("tk"))
    // pos = 0-based span start (posexplode index into the spans5 array).
    val occ = toks.select($"doc_id", posexplode(F.spans5($"tk")))
      .toDF("doc_id", "pos", "sh")
    val dim = occ.groupBy($"sh", $"doc_id").agg(count(lit(1)).as("n_occ"))
      .groupBy($"sh")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("owner"))
      .filter($"n_docs" >= 2)
      .select($"sh", $"owner")
    val dup = occ.join(dim, Seq("sh")).filter($"doc_id" =!= $"owner")
    val cov = dup
      .select($"doc_id", explode(sequence($"pos", $"pos" + 4)).as("cpos"))
      .groupBy($"doc_id").agg(sort_array(collect_set($"cpos")).as("cps"))
    toks.join(cov, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"tk").cast("long").as("n_tokens"),
        when($"cps".isNull, lit(0L))
          .otherwise(size($"cps").cast("long")).as("n_removed"),
        when($"cps".isNull, concat_ws(" ", $"tk"))
          .otherwise(concat_ws(" ",
            filter($"tk", (t, i) => !array_contains($"cps", i))))
          .as("text_clean"))
      .withColumn("removed_frac", F.fr(
        $"n_removed".cast("double") / nullif($"n_tokens", lit(0L)), 4))
      .select($"doc_id", $"n_tokens", $"n_removed", $"removed_frac",
        $"text_clean")
      .orderBy($"doc_id")
  }

  /** DuckDB twin: the two zipped unnests align 1:1 (same range), so each
    * occ row carries its 0-based start position exactly like posexplode. */
  val substringRewriteSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |occ AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(tk) - 3)) - 1 AS pos,
       |    unnest(list_transform(range(1, len(tk) - 3),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
       |  FROM toks),
       |dim AS (
       |  SELECT sh, min(doc_id) AS owner FROM occ
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |dup AS (
       |  SELECT o.doc_id, o.pos FROM occ o JOIN dim d USING (sh)
       |  WHERE o.doc_id <> d.owner),
       |cov AS (
       |  SELECT doc_id, list_sort(list_distinct(flatten(list(
       |    [pos, pos + 1, pos + 2, pos + 3, pos + 4])))) AS cps
       |  FROM dup GROUP BY doc_id),
       |r AS (
       |  SELECT t.doc_id, len(tk) AS n_tokens,
       |    coalesce(len(cps), 0) AS n_removed,
       |    CASE WHEN cps IS NULL THEN array_to_string(tk, ' ')
       |      -- coalesce: DuckDB folds the all-removed empty list to NULL
       |      -- where Spark's concat_ws gives '' — normalize to ''
       |      ELSE coalesce(array_to_string(list_filter(tk,
       |        (x, i) -> NOT list_contains(cps, i - 1)), ' '), '')
       |    END AS text_clean
       |  FROM toks t LEFT JOIN cov c USING (doc_id))
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_removed AS BIGINT) AS n_removed,
       |  ${S.fr("CAST(n_removed AS DOUBLE) / nullif(n_tokens, 0)", 4)} AS removed_frac,
       |  text_clean
       |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d13
  /** Bloom sketch sizing for [[bloomDedup]]: a contract constant, not
    * data-derived — 2^23 bits is a fixed 1 MiB driver/broadcast artifact
    * at ANY corpus size (~1% false-positive rate at 2^20 corpus hashes;
    * a 100 TB deployment sizes it per the corpus-hash cardinality it
    * maintains anyway, and the OUTPUT is invariant to the choice). */
  val BloomNumBits = 1L << 23
  /** Ingest-id offset for the derived re-crawl batch (see [[bloomDedup]]). */
  val ReIngestOffset = 10000000L

  /** d13: Bloom-prefiltered batch-vs-corpus EXACT membership dedup — the
    * re-crawl admission gate at 100 TB (a new ingest batch asks "which of
    * these did the corpus already absorb?" without ever joining the batch
    * against the full corpus). Three steps, each the scale-correct form:
    *
    *  1. BUILD: one pass over the corpus folds every content hash into a
    *     [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    *     — partial sketches merge by bitwise OR, so the build is fully
    *     partial-aggregable and the result is a bounded [[BloomNumBits]]-bit
    *     binary (the same machinery Spark's own runtime row-level filtering
    *     injects). At scale the sketch is built once per ingest cadence and
    *     reused across batches.
    *  2. PREFILTER: the batch probes the sketch as a codegen'd scalar
    *     predicate ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    *     over a literal) — row-local, no shuffle, no false negatives; only
    *     the (dups + ~1% FP) survivors continue.
    *  3. CONFIRM: the survivors' hashes BROADCAST-semi-join into the corpus
    *     scan (the corpus never shuffles — one scan with a map-side probe),
    *     and the matched corpus rows alone aggregate to min-doc_id owners.
    *     False positives die here, so the OUTPUT is exactly the anti-join
    *     semantics the oracle states, Bloom-invisibly.
    *
    * The gated batch is derived in-query (t12's determinism pattern — the
    * sf corpora have no exact cross-id duplicates, so a real split would
    * gate vacuously): docs with doc_id ≡ 3 (mod 7) re-arrive verbatim under
    * ingest_id = doc_id + [[ReIngestOffset]] (the re-crawl), docs ≡ 5
    * (mod 7) arrive REVISED (a marker token appended — genuinely new
    * content). Output: one row per batch doc with its admission verdict. */
  def bloomDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val batch = docs.filter(pmod($"doc_id", lit(7L)) === 3L)
      .select(($"doc_id" + ReIngestOffset).as("ingest_id"), $"text")
      .unionByName(docs.filter(pmod($"doc_id", lit(7L)) === 5L)
        .select(($"doc_id" + 2L * ReIngestOffset).as("ingest_id"),
          concat($"text", lit(" rev")).as("text")))
    bloomDedupFrom(docs, batch)
  }

  private[graft] def bloomDedupFrom(corpus: DataFrame, batch: DataFrame,
      numBits: Long = BloomNumBits): DataFrame = {
    import corpus.sparkSession.implicits._
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    // the sketch key is Spark-internal (xxhash64 never reaches the output,
    // so it needs no oracle twin); md5 is the EXACT membership key, shared
    // with the d01 convention and the DuckDB oracle
    val bloomBytes = corpus.select(GraftShim.column(
        new BloomFilterAggregate(GraftShim.expression(xxhash64($"text")),
          Literal(numBits / 8), Literal(numBits)).toAggregateExpression())
        .as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // the aggregate yields null over an EMPTY corpus (zero inserted
    // hashes): nothing can be a member, so the prefilter is `false`
    val mightContain =
      if (bloomBytes == null) lit(false)
      else GraftShim.column(BloomFilterMightContain(
        Literal(bloomBytes), GraftShim.expression(xxhash64($"text"))))

    val hashedBatch = batch.select($"ingest_id", $"text",
      md5($"text").as("h"), mightContain.as("cand"))
    val survivors = hashedBatch.filter($"cand").select($"h").distinct()
    val owners = corpus.select(md5($"text").as("h"), $"doc_id")
      .join(broadcast(survivors), Seq("h"))
      .groupBy($"h").agg(min($"doc_id").as("dup_of"))
    hashedBatch.join(broadcast(owners), Seq("h"), "left")
      .select($"ingest_id", $"dup_of", $"dup_of".isNull.as("is_new"))
      .orderBy($"ingest_id")
  }

  /** DuckDB twin: the Bloom sketch is implementation, not semantics — the
    * oracle states the plain exact-hash anti-join over the same derived
    * batch, which step 3's confirm join reduces the engine to. */
  val bloomDedupSql: String =
    s"""WITH batch AS (
       |  SELECT doc_id + $ReIngestOffset AS ingest_id, text
       |  FROM documents WHERE doc_id % 7 = 3
       |  UNION ALL
       |  SELECT doc_id + ${2L * ReIngestOffset} AS ingest_id, text || ' rev'
       |  FROM documents WHERE doc_id % 7 = 5),
       |own AS (
       |  SELECT md5(text) AS h, min(doc_id) AS dup_of
       |  FROM documents GROUP BY 1)
       |SELECT b.ingest_id, own.dup_of, own.dup_of IS NULL AS is_new
       |FROM (SELECT ingest_id, md5(text) AS h FROM batch) b
       |LEFT JOIN own USING (h)
       |ORDER BY b.ingest_id""".stripMargin

  // ------------------------------------------------------------ shared
  /** Per-doc distinct shingle arrays (the verify side of LSH). Tokens are
    * projected before the shingle HOF — see [[F.shingles3]]. `carry` keeps
    * extra input columns (the streaming caller threads its watermarked
    * event-time column through). */
  private[graft] def docShinglesFrom(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: F.tokens(col("text")).as("tk") +: carry.map(col): _*)
      .select(col("doc_id") +: F.shingles3(col("tk")).as("shs") +: carry.map(col): _*)

  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShinglesFrom(Tables.documents(spark, dir))

  /** The per-doc shingle subtree the whole dedup block shares (d02's
    * inverted index, d03/d08's verify joins, d06/d07's pair graph, t11's
    * fuzzy decontamination): exposed for the bench's `dedup_build` warm
    * entry, so per-query numbers are marginal costs instead of charging
    * the shared cache build to whichever dedup entry happens to run first
    * (the round-9 d02↔d07 attribution swap). CacheManager canonicalizes
    * the plan, so every caller's maybeCache resolves to this entry. */
  private[graft] def sharedShingles(spark: SparkSession, dir: String): DataFrame =
    graft.GraftSession.maybeCache(docShingles(spark, dir))

  /** (doc_a, doc_b, common, na, nb, jaccard) for all pairs sharing at
    * least one sub-cap shingle.
    *
    * Candidate generation goes through the inverted shingle index with the
    * [[MaxShingleDf]] stop-shingle cap (hot shingles never meet in the
    * self-join — the cap is what keeps the pair space linear-ish at
    * 100 TB); the df aggregate and the candidate self-join share the
    * `sh` shuffle key.
    *
    * `common` is exact regardless of the cap, WITHOUT a per-pair
    * full-array intersect (1M+ candidate pairs × intersect dominated the
    * sf0.1 profile): the sub-cap part falls out of the candidate join as
    * a groupBy count, and the hot part is recovered by intersecting the
    * per-doc HOT-shingle arrays — bounded small (only df>cap shingles; on
    * corpora where the cap never engages they are empty and the
    * correction is free). */
  private[graft] def jaccardPairsFrom(docs: DataFrame, maxDf: Int): DataFrame = {
    val ds = graft.GraftSession.maybeCache(docShinglesFrom(docs))
    val exploded = ds.select(col("doc_id"), explode(col("shs")).as("sh"))
    // Shingle df via partial-aggregable groupBy + join-back — the d11
    // lesson applied here too: the previous count().over(partitionBy(sh))
    // materialized a stop-shingle's ENTIRE posting list in one window
    // task BEFORE the cap could drop it (the cap bounds the pair space,
    // not the df computation). The groupBy collapses hot shingles
    // map-side; the join back on sh streams through a hash probe and is
    // AQE-skew-splittable — neither holds for WindowExec's partition
    // buffer. (Shingle arrays are per-doc distinct, so count == df.)
    val dfTab = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // The df-flagged inverted index feeds BOTH candidate-join branches and
    // the hot-shingle branch — persist it or the explode + join runs 3x.
    val flagged = graft.GraftSession.maybeCache(exploded.join(dfTab, Seq("sh")))
    val capped = flagged.filter(col("df") <= maxDf).select(col("doc_id"), col("sh"))
    val hot = flagged.filter(col("df") > maxDf)
      .groupBy(col("doc_id")).agg(collect_list(col("sh")).as("hot_shs"))
    val commonCold = capped.toDF("doc_a", "sh")
      .join(capped.toDF("doc_b", "sh"), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common_cold"))
    val sizes = ds.select(col("doc_id"), size(col("shs")).cast("long").as("nsh"))
    commonCold
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .join(hot.toDF("doc_a", "hot_a"), Seq("doc_a"), "left")
      .join(hot.toDF("doc_b", "hot_b"), Seq("doc_b"), "left")
      .withColumn("common", col("common_cold") +
        when(col("hot_a").isNull || col("hot_b").isNull, lit(0L))
          .otherwise(size(array_intersect(col("hot_a"), col("hot_b"))).cast("long")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select(col("doc_a"), col("doc_b"), col("common"), col("na"), col("nb"), col("jaccard"))
  }

  /** (doc_a, doc_b, jaccard) for all pairs sharing >= 1 shingle. */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsFrom(Tables.documents(spark, dir), MaxShingleDf)

  private val jaccardCtes: String =
    S.shinglesCte() + ",\n" +
      """cnt AS (SELECT doc_id, count(*) AS nsh FROM shingles GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b, common, x.nsh AS na, y.nsh AS nb,
        |    CAST(common AS DOUBLE) / (x.nsh + y.nsh - common) AS jaccard
        |  FROM common JOIN cnt x ON x.doc_id = doc_a JOIN cnt y ON y.doc_id = doc_b)""".stripMargin

  // ---------------------------------------------------------------- d02
  /** n-gram Jaccard near-dup pairs through the inverted shingle index,
    * at [[JaccardThreshold]] with the [[MaxShingleDf]] stop-shingle cap. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jaccardPairsFrom(Tables.documents(spark, dir), MaxShingleDf)
      .filter($"jaccard" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", $"common", $"na", $"nb",
        F.fr($"jaccard", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  val ngramJaccardSql: String =
    jaccardCtes + "\n" +
      s"""SELECT doc_a, doc_b, common, na, nb, ${S.fr("jaccard", 4)} AS jaccard
         |FROM jac
         |WHERE jaccard >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin

  /** `array<struct<band, bkey>>` of LSH band keys from a K-wide minhash
    * signature array — shared by batch d03 and the streaming candidate
    * detector (v07) so both flag identical near-dup candidates. */
  def bandArray(sigs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array, concat_ws, element_at, lit, struct}
    array((0 until NumBands).map { b =>
      val keyCols = (0 until BandRows)
        .map(r => element_at(sigs, b * BandRows + r + 1).cast("string"))
      struct(lit(b).as("band"), concat_ws("-", keyCols: _*).as("bkey"))
    }: _*)
  }

  /** Per-doc minhash signatures (the d03 map-side pass) from a documents
    * frame — exposed for the streaming detector and tests. */
  private[graft] def minhashSignatures(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    import docs.sparkSession.implicits._
    docShinglesFrom(docs, carry)
      .filter(size($"shs") > 0)
      .select($"doc_id" +:
        graft.functions.catalyst.GraftColumns.minhash_sigs(
          transform($"shs", sh => F.polyHash(sh)), MinHashK).as("sigs") +:
        carry.map(col): _*)
  }

  // ---------------------------------------------------------------- d03
  /** Per-doc exploded LSH band keys, with the optional MEGA-BUCKET guard
    * (`bucketCap`) — the banding analogue of d02's stop-shingle cap. A
    * band bucket of B docs yields B²/2 candidate pairs, and a bucket is
    * only ever mega-sized when its members are (near-)identical en masse
    * — a dup SET, whose pairwise enumeration is quadratic in the OUTPUT,
    * not an algorithmic inefficiency. A 100-TB deployment routes buckets
    * over the cap to the linear-per-doc cluster form (d01/d10 exact hash
    * groups, or d07's components) instead of emitting their pairs; the
    * driver-gated d03/d08 rows keep the cap OFF (full pair contract,
    * oracle-exact). LlmOpsSpec's d03 mega-bucket cases gate the cap. */
  private[graft] def minhashBandsFrom(docs: DataFrame,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    // All K signatures in one map-side pass (native MinHashSigs over the
    // doc's shingle-hash array): no explode, no K-wide aggregate, no
    // shuffle before banding. The eager checkpoint materializes them once
    // so the candidate self-join's two reads don't recompute (config-gated:
    // graft.GraftSession.maybeEagerCheckpoint). The oracle keeps the
    // K-column min-aggregate formulation — identical signatures.
    // sub-3-token docs have no shingles: minhashSignatures excludes them
    // like the oracle's exploded-shingle CTE does (their all-MaxValue
    // signatures would otherwise band every short doc together and divide
    // 0/0 in verify)
    // Register the shared shingle cache BEFORE the eager checkpoint: the
    // checkpoint's materialization job then computes the shingle subtree
    // THROUGH the cache (populating it for the exact-Jaccard verify
    // branches the d03/d08 callers join below) instead of deriving it
    // once for the checkpoint and again per verify branch. Measured at
    // sf1 (a cold-first d03 profile, BENCH_SF1's d03 rep-1 gap): 45.5 s →
    // the staged-cache 14 s shape, warm unchanged. Registration alone is
    // lazy — a bands-only caller that never verifies pays only the
    // storage of what its own job computed anyway.
    graft.GraftSession.maybeCache(docShinglesFrom(docs)): Unit
    val sig = graft.GraftSession.maybeEagerCheckpoint(minhashSignatures(docs))
    val bands = sig
      .select($"doc_id", explode(bandArray($"sigs")).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
    if (bucketCap == Int.MaxValue) bands
    else {
      val sizes = bands.groupBy($"band", $"bkey").agg(count(lit(1)).as("bn"))
      bands.join(sizes.filter($"bn" <= bucketCap), Seq("band", "bkey"))
        // USING-join output leads with the join keys; downstream callers
        // rename POSITIONALLY via toDF — restore the (doc_id, band, bkey)
        // contract or the rename scrambles ids with band keys
        .select($"doc_id", $"band", $"bkey")
    }
  }

  /** MinHash + LSH banding: per-doc K-wide signature over shingle hashes,
    * band keys shuffle candidates together, then exact Jaccard verifies.
    * The brute pair space is never materialized. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(Tables.documents(spark, dir))

  /** [[minhashLsh]] over any documents frame (specs feed their own);
    * `bucketCap` engages the mega-bucket guard (see [[minhashBandsFrom]]). */
  private[graft] def minhashLshFrom(docs: DataFrame,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    val bands = minhashBandsFrom(docs, bucketCap)
    val cand = bands.toDF("doc_a", "band", "bkey")
      .join(bands.toDF("doc_b", "band", "bkey"), Seq("band", "bkey"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    verifiedJaccard(docs, cand)
      .select($"doc_a", $"doc_b", F.fr($"jaccard", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Verify ONLY the LSH candidates (never the full pair space): join the
    * per-doc shingle arrays and intersect — codegen'd, bounded per pair.
    * Keeps the (doc_a, doc_b) candidates at or above [[JaccardThreshold]]
    * with their raw jaccard; shared by d03 and d08. */
  private def verifiedJaccard(docs: DataFrame, cand: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ds = graft.GraftSession.maybeCache(docShinglesFrom(docs))
    cand
      .join(ds.toDF("doc_a", "sha"), Seq("doc_a"))
      .join(ds.toDF("doc_b", "shb"), Seq("doc_b"))
      .withColumn("common", size(array_intersect($"sha", $"shb")))
      .withColumn("jaccard",
        $"common".cast("double") / (size($"sha") + size($"shb") - $"common"))
      .filter($"jaccard" >= JaccardThreshold)
  }

  /** jaccardCtes + the minhash signature / band-key CTEs (`sig`, `bands`)
    * — the oracle-side twin of [[minhashSignatures]] + [[bandArray]],
    * shared by d03 and d08. */
  private[graft] lazy val lshBandCtes: String = {
    val sigExprs = (0 until MinHashK)
      .map(i => s"min((x * ${hashA(i)} + ${hashB(i)}) % ${F.HashP}) AS h$i")
      .mkString(",\n    ")
    val bandSelects = (0 until NumBands).map { b =>
      val key = (0 until BandRows).map(r => s"CAST(h${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    jaccardCtes + ",\n" +
      s"""xh AS (SELECT doc_id, ${S.polyHash("sh")} AS x FROM shingles),
         |sig AS (SELECT doc_id,
         |    $sigExprs
         |  FROM xh GROUP BY doc_id),
         |bands AS (
         |  $bandSelects)""".stripMargin
  }

  val minhashLshSql: String =
    lshBandCtes + ",\n" +
      s"""cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT j.doc_a, j.doc_b, ${S.fr("jaccard", 4)} AS jaccard
         |FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |WHERE jaccard >= $JaccardThreshold
         |ORDER BY j.doc_a, j.doc_b""".stripMargin

  // ---------------------------------------------------------------- d08
  /** Delta CUTOFF position: ids ≥ floor(max_id × this) form the newly
    * arriving delta (i.e. the trailing 1−this of the id range — 0.8 ⇒ a
    * 20% delta batch); everything below is the already-ingested base. */
  val DeltaFraction = 0.8

  /** d08: incremental dedup — the daily-ingest shape at 100 TB. A new
    * delta batch is checked against the existing corpus WITHOUT ever
    * re-pairing the corpus with itself: band keys are derived for both
    * sides (at scale the base side is a maintained index, written once and
    * bucketed by band key), but the candidate join keeps only pairs whose
    * LATER member is a delta doc, so candidate volume scales with
    * |delta| × collision-rate, not |corpus|². Each delta doc reports its
    * earliest near-dup partner (base doc or earlier delta doc) after the
    * exact-Jaccard verify; unmatched delta docs pass through admitted.
    * The cutoff derives from a 1-row aggregate broadcast — no driver
    * action. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupFrom(Tables.documents(spark, dir))

  /** [[incrementalDedup]] over any documents frame (specs feed their own);
    * `bucketCap` engages the mega-bucket guard (see [[minhashBandsFrom]]). */
  private[graft] def incrementalDedupFrom(docs: DataFrame,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    val cutoff = docs.agg(
      floor(max($"doc_id") * DeltaFraction).cast("long").as("cutoff"))
    val bands = minhashBandsFrom(docs, bucketCap)
      .crossJoin(broadcast(cutoff))
    val deltaBands = bands.filter($"doc_id" >= $"cutoff")
      .select($"doc_id".as("doc_b"), $"band", $"bkey")
    val cand = bands.select($"doc_id".as("doc_a"), $"band", $"bkey")
      .join(deltaBands, Seq("band", "bkey"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    val dups = verifiedJaccard(docs, cand)
      .groupBy($"doc_b")
      .agg(min($"doc_a").as("dup_of"), min_by($"jaccard", $"doc_a").as("jacc"))
    docs.crossJoin(broadcast(cutoff))
      .filter($"doc_id" >= $"cutoff")
      .select($"doc_id")
      .join(dups.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", $"dup_of".isNotNull.as("is_dup"), $"dup_of",
        F.fr($"jacc", 4).as("jaccard"))
      .orderBy($"doc_id")
  }

  val incrementalDedupSql: String =
    lshBandCtes + ",\n" +
      s"""cut AS (
         |  SELECT CAST(floor(max(doc_id) * $DeltaFraction) AS BIGINT) AS cutoff
         |  FROM documents),
         |icand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  CROSS JOIN cut
         |  WHERE b.doc_id >= cutoff),
         |dup AS (
         |  SELECT c.doc_b AS doc_id, min(j.doc_a) AS dup_of,
         |    arg_min(j.jaccard, j.doc_a) AS jacc
         |  FROM icand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |  WHERE j.jaccard >= $JaccardThreshold
         |  GROUP BY c.doc_b)
         |SELECT d.doc_id, dup.doc_id IS NOT NULL AS is_dup, dup.dup_of,
         |  ${S.fr("dup.jacc", 4)} AS jaccard
         |FROM documents d CROSS JOIN cut
         |LEFT JOIN dup ON dup.doc_id = d.doc_id
         |WHERE d.doc_id >= cutoff
         |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- d04
  /** SimHash near-dup: 32-bit sign-aggregated fingerprint over shingle
    * hashes; candidates block on 8-bit chunks (any pair within Hamming
    * distance 3 shares at least one of the 4 chunks exactly). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // One map-side pass per doc: hash shingles into an array, collapse to
    // the 32-bit fingerprint with the native SimHash32 expression. (The
    // oracle keeps the relational explode-x32 formulation; same bits.)
    // persisted: both sides of the block self-join read it
    val sim = graft.GraftSession.maybeCache(docShingles(spark, dir)
      .select($"doc_id",
        graft.functions.catalyst.GraftColumns.simhash32(
          transform($"shs", sh => F.polyHash(sh))).as("simhash")))
    val ks = (0 until SimHashBits / 8).toDF("k")
    val blocks = sim.crossJoin(broadcast(ks))
      .withColumn("blk", floor($"simhash" / pow(lit(2.0), $"k" * 8)).cast("long") % 256)
    val a = blocks.select($"doc_id".as("doc_a"), $"simhash".as("sim_a"), $"k", $"blk")
    val b = blocks.select($"doc_id".as("doc_b"), $"simhash".as("sim_b"), $"k", $"blk")
    a.join(b, Seq("k", "blk"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"sim_a", $"sim_b").distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter($"hamming" <= HammingMax)
      .select($"doc_a", $"doc_b", $"hamming")
      .orderBy($"doc_a", $"doc_b")
  }

  val simhashSql: String =
    S.shinglesCte() + ",\n" +
      s"""xh AS (SELECT doc_id, ${S.polyHash("sh")} AS x FROM shingles),
         |bits AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN CAST(floor(x / power(2, j)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS w
         |  FROM xh CROSS JOIN (SELECT unnest(range(0, $SimHashBits)) AS j) jj
         |  GROUP BY 1, 2),
         |sim AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN w > 0 THEN power(2, j) ELSE 0.0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY 1),
         |blocks AS (
         |  SELECT doc_id, simhash, k, CAST(floor(simhash / power(2, k * 8)) AS BIGINT) % 256 AS blk
         |  FROM sim CROSS JOIN (SELECT unnest(range(0, ${SimHashBits / 8})) AS k) kk),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM blocks a JOIN blocks b
         |    ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
         |FROM cand
         |WHERE bit_count(xor(sim_a, sim_b)) <= $HammingMax
         |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- d06
  /** Edit-distance within blocks. */
  val LevenshteinMax = 1

  /** Fuzzy name dedup: Levenshtein distance within a blocking key (type).
    *
    * Candidates come from the deletion-neighborhood (SymSpell/FastSS
    * family): two strings within edit distance 1 must share a key in
    * {s} ∪ {s with one char deleted}, so the pair space is an equi-join on
    * (type, variant) instead of all pairs per block — at sf0.1 that is
    * ~33M brute pairs down to the near-dup candidates, exact by
    * construction because candidates are re-verified with levenshtein.
    * The oracle keeps the brute formulation; identical output. */
  def fuzzyLevenshtein(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_type", $"p_name")
    // Name-level first: the catalog has few distinct names, so matching
    // names (tiny) and expanding back to part pairs avoids pushing the
    // big identical-name groups through the variant join.
    val names = p.select($"p_type", $"p_name").distinct()
    // materialized once: both self-join branches read the variant table
    // (union branches get no cross-branch CSE)
    val nv = graft.GraftSession.maybeEagerCheckpoint(
      names.withColumn("variant",
        explode(array_union(
          array($"p_name"),
          transform(sequence(lit(1), length($"p_name")), i =>
            concat($"p_name".substr(lit(1), i - 1),
              $"p_name".substr(i + 1, lit(100000))))))))
    val namePairs = nv.toDF("p_type", "name_a", "variant")
      .join(nv.toDF("p_type", "name_b", "variant"), Seq("p_type", "variant"))
      .select($"p_type", $"name_a", $"name_b").distinct()
      .withColumn("distance", levenshtein($"name_a", $"name_b"))
      .filter($"distance" <= LevenshteinMax)
    namePairs
      .join(p.toDF("key_a", "p_type", "name_a"), Seq("p_type", "name_a"))
      .join(p.toDF("key_b", "p_type", "name_b"), Seq("p_type", "name_b"))
      .filter($"key_a" < $"key_b")
      .select($"key_a", $"key_b", $"p_type", $"name_a", $"name_b", $"distance")
      .orderBy($"key_a", $"key_b")
  }

  val fuzzyLevenshteinSql: String =
    s"""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b, a.p_type AS p_type,
       |  a.p_name AS name_a, b.p_name AS name_b,
       |  levenshtein(a.p_name, b.p_name) AS distance
       |FROM part a JOIN part b
       |  ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
       |WHERE levenshtein(a.p_name, b.p_name) <= $LevenshteinMax
       |ORDER BY key_a, key_b""".stripMargin

  // ---------------------------------------------------------------- d05
  /** Embedding-cosine near-dup, blocked on the label column (at scale:
    * the blocking key is whatever coarse clustering/partition is available;
    * never the full cross product). Dot/norm folds are explicit so the
    * oracle's arithmetic is identical. */
  def embeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    embeddingCosineRaw(spark, dir)
      .select($"vec_a", $"vec_b", $"label", F.fr($"cosine_raw", 4).as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** The d05 pair core WITHOUT the final rounding/sort — d14's component
    * fixpoint consumes this directly (materializing the sorted form would
    * pay a range-sampling pass + global sort the unordered loop discards,
    * the same trap dedupClusters documents for d07). */
  private[graft] def embeddingCosineRaw(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    // Norms are per-vector: compute them once before the pair join (the
    // oracle's per-pair sqrt(na)*sqrt(nb) sees the identical values).
    // The per-pair dot is the native codegen DotF64 expression.
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
      .withColumn("norm", sqrt(F.foldSum(transform($"v", x => x * x))))
    val a = e.select($"vec_id".as("vec_a"), $"label", $"v".as("va"), $"norm".as("norm_a"))
    val b = e.select($"vec_id".as("vec_b"), $"label", $"v".as("vb"), $"norm".as("norm_b"))
    a.join(b, Seq("label"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("cosine_raw",
        // ANSI zero-norm guard, mirrored by the oracle's CASE
        when($"norm_a" * $"norm_b" =!= 0.0,
          graft.functions.catalyst.GraftColumns.dot_f64($"va", $"vb") / ($"norm_a" * $"norm_b")))
      .filter($"cosine_raw" >= CosineThreshold)
  }

  val embeddingCosineSql: String = {
    val dot = S.foldSum("list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])")
    val na = S.foldSum("list_transform(va, x -> x * x)")
    val nb = S.foldSum("list_transform(vb, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       |         a.v AS va, b.v AS vb
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
       |c AS (
       |  SELECT vec_a, vec_b, label,
       |    CASE WHEN (sqrt($na) * sqrt($nb)) <> 0.0 THEN ($dot) / (sqrt($na) * sqrt($nb)) END AS cosine_raw
       |  FROM p)
       |SELECT vec_a, vec_b, label, ${S.fr("cosine_raw", 4)} AS cosine
       |FROM c WHERE cosine_raw >= $CosineThreshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------- d14
  /** d14: SEMANTIC dedup clusters (the SemDeDup recipe): connected
    * components over the d05 embedding-cosine near-dup graph instead of
    * the d02 shingle graph — semantically redundant groups (paraphrases,
    * re-renders, translations sharing an embedding neighborhood) that
    * lexical dedup can't see, with one canonical representative kept per
    * component. Same [[clustersFromPairs]] core and the same recursive-CTE
    * oracle shape as d07; edges are label-blocked like d05 (at scale the
    * blocking key is the coarse quantizer cell, so candidates never leave
    * their cell and the component loop runs over near-dup vectors only —
    * a sliver of the corpus). Output mirrors d07:
    * (vec_id, cluster_id, cluster_size, is_canonical). Like d07, every
    * call runs its own fixpoint and returns a fresh frame. */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.GraftSession.maybeEagerCheckpoint(
      embeddingCosineRaw(spark, dir)
        .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")))
    clustersFromPairs(
      Tables.embeddings(spark, dir).select($"vec_id".as("doc_id")), pairs)
      .select($"doc_id".as("vec_id"), $"cluster_id", $"cluster_size",
        $"is_canonical")
      .orderBy($"vec_id")
  }

  val semanticClustersSql: String = {
    val dot = S.foldSum("list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])")
    val na = S.foldSum("list_transform(va, x -> x * x)")
    val nb = S.foldSum("list_transform(vb, x -> x * x)")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
       |sp AS (
       |  SELECT vec_a, vec_b FROM p
       |  WHERE CASE WHEN (sqrt($na) * sqrt($nb)) <> 0.0
       |             THEN ($dot) / (sqrt($na) * sqrt($nb)) END >= $CosineThreshold),
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM sp
       |  UNION ALL SELECT vec_b, vec_a FROM sp),
       |reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT vec_id, vec_id FROM embeddings
       |    UNION
       |    SELECT r.a, e2.dst FROM r JOIN edges e2 ON e2.src = r.b)
       |  SELECT * FROM r),
       |comp AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a),
       |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
       |SELECT c.vec_id, c.cluster_id, s.cluster_size,
       |  c.vec_id = c.cluster_id AS is_canonical
       |FROM comp c JOIN csz s USING (cluster_id)
       |ORDER BY c.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- d07
  /** Near-dup CLUSTER formation: connected components over the d02
    * near-dup pair graph, then keep-one-per-cluster — the step that turns
    * pairwise dedup evidence into actual training-set decisions.
    *
    * Distributed min-label propagation to fixpoint: every doc starts
    * labeled with its own id; each round every doc takes the min of its
    * own label and its neighbors' labels. Each round is one join + one
    * aggregation, both shuffling on doc_id; the label table is
    * eager-checkpointed per round so lineage stays flat. Plain propagation
    * needs rounds = component diameter; the loop's pointer jumping brings
    * a chain of diameter d to ⌈log₂(d+2)⌉−1 rounds plus one check round
    * (10 at d = 999, 14 at d = 9999), inside `MaxCcRounds`.
    *
    * Output: every document with its cluster id (= min doc_id reachable),
    * the cluster size, and whether it is the kept canonical doc. */
  val MaxCcRounds = 20

  /** Every call runs its own fixpoint and returns a fresh frame; the
    * caller owns its lifetime (the same contract as `maybeCache`), so
    * `clearCache` and `refreshByPath` reach everything it built. The raw
    * (unsorted, unrounded) pairs are materialized ONCE before the
    * symmetric union: union branches get no cross-branch CSE, and
    * ngramJaccard's final orderBy would add a range-sampling pass — both
    * would re-execute the whole d02 chain per branch. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.GraftSession.maybeEagerCheckpoint(
      jaccardPairs(spark, dir)
        .filter($"jaccard" >= JaccardThreshold)
        .select($"doc_a", $"doc_b"))
    clustersFromPairs(Tables.documents(spark, dir).select($"doc_id"), pairs)
  }

  /** Rounds the last [[clustersFromPairs]] run took, the check round
    * included (test hook: the adversarial-chain spec asserts the
    * logarithmic bound actually holds). */
  private[graft] val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The cluster fixpoint over an explicit (doc_a, doc_b) pair table —
    * exposed so tests can drive it with adversarial graph shapes (long
    * chains) independent of the corpus. */
  private[graft] def clustersFromPairs(docsIn: DataFrame,
      pairsIn: DataFrame): DataFrame = {
    import docsIn.sparkSession.implicits._
    val docs = docsIn.select($"doc_id")
    val pairs = pairsIn.select($"doc_a", $"doc_b")
    // symmetric edge list over the materialized pairs (read every round)
    val edges = pairs
      .unionByName(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .toDF("src", "dst")
    // Only docs touching an edge can ever change label: iterate over THEM
    // (O(near-dup docs), a sliver of the corpus at 100 TB) and union the
    // untouched singletons back after convergence.
    val nodes = edges.select($"src".as("doc_id")).distinct()
    var labels = graft.GraftSession.maybeEagerCheckpoint(
      nodes.select($"doc_id", $"doc_id".as("lbl")))
    var changed = 1L
    var round = 0
    while (changed > 0 && round < MaxCcRounds) {
      val nbrMin = edges.join(labels, $"src" === $"doc_id")
        .groupBy($"dst").agg(min($"lbl").as("nbr_lbl"))
      val stepped = labels.join(nbrMin, $"doc_id" === $"dst", "left")
        .select($"doc_id", least($"lbl", coalesce($"nbr_lbl", $"lbl")).as("l1"))
      // Pointer jumping (path halving): also adopt my label's own label,
      // so chain-shaped components converge in O(log diameter) rounds
      // instead of diameter rounds.
      val next = graft.GraftSession.maybeEagerCheckpoint(
        stepped.join(stepped.toDF("jd", "l2"), $"l1" === $"jd", "left")
          .select($"doc_id", least($"l1", coalesce($"l2", $"l1")).as("lbl")))
      changed = next.toDF("doc_id", "new_lbl")
        .join(labels, Seq("doc_id"))
        .filter($"new_lbl" =!= $"lbl").count()
      labels = next
      round += 1
    }
    lastCcRounds.set(round)
    require(changed == 0, s"component labels did not converge in $MaxCcRounds rounds")
    val withSingletons = labels.unionByName(
      docs.join(nodes, Seq("doc_id"), "left_anti").select($"doc_id", $"doc_id".as("lbl")))
    val sizes = withSingletons.groupBy($"lbl").agg(count(lit(1)).as("cluster_size"))
    withSingletons
      .join(sizes, Seq("lbl"))
      .select($"doc_id", $"lbl".as("cluster_id"), $"cluster_size",
        ($"doc_id" === $"lbl").as("is_canonical"))
      .orderBy($"doc_id")
  }

  /** Oracle CTE chain for the cluster fixpoint: transitive reachability
    * via a recursive CTE, cluster id = min reachable doc (identical
    * fixpoint, engine-independent). Exposes `clus(doc_id, cluster_id,
    * cluster_size, is_canonical)` for composition (p03 reuses it). */
  private[graft] val clusterCtes: String =
    jaccardCtes + ",\n" +
      s"""pairs AS (
         |  SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b)
         |  SELECT * FROM r),
         |comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1),
         |clus AS (
         |  SELECT c.doc_id, c.cluster_id, s.cluster_size,
         |    c.doc_id = c.cluster_id AS is_canonical
         |  FROM comp c JOIN csz s USING (cluster_id))""".stripMargin

  val dedupClustersSql: String =
    clusterCtes + "\n" +
      """SELECT doc_id, cluster_id, cluster_size, is_canonical
        |FROM clus
        |ORDER BY doc_id""".stripMargin
}
