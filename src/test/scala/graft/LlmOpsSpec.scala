package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("d01: exact dedup covers every distinct text once") {
    val docs = sources.Tables.documents(spark, sf)
    val deduped = dedup.Dedup.exact(spark, sf)
    assert(deduped.count() == docs.select("text").distinct().count())
    assert(deduped.agg(sum("dup_count")).head.getLong(0) == docs.count())
  }

  test("d03: MinHash LSH finds the same near-dup pairs as exact Jaccard") {
    val exact = dedup.Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
    val lsh = dedup.Dedup.minhashLsh(spark, sf).select("doc_a", "doc_b")
    // LSH output is a verified subset; on this corpus (jaccard >= 0.9
    // cluster) banding with r=2,b=8 should reach full recall
    assert(lsh.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(lsh).count() == 0)
  }

  test("d04: simhash near-dups overlap the jaccard near-dups") {
    val sim = dedup.Dedup.simhash(spark, sf).select("doc_a", "doc_b")
    val jac = dedup.Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
    assert(sim.count() > 0)
    assert(sim.intersect(jac).count() > 0)
  }

  test("s01/s02: LSH top-k neighbors are a subset of brute-force candidates per bucket") {
    val brute = similarity.Similarity.bruteForceTopK(spark, sf)
    val lsh = similarity.Similarity.lshTopK(spark, sf)
    assert(brute.groupBy("query_id").count().filter(col("count") =!= similarity.Similarity.TopK).count() == 0)
    assert(lsh.count() > 0)
    // rank-1 self-bucket neighbor must score <= the brute-force rank-1
    val b1 = brute.filter(col("rnk") === 1).select(col("query_id"), col("cosine").as("bc"))
    val l1 = lsh.filter(col("rnk") === 1).select(col("query_id"), col("cosine").as("lc"))
    assert(b1.join(l1, "query_id").filter(col("lc") > col("bc")).count() == 0)
  }

  test("s03: IVF top-k achieves high recall vs brute force") {
    val brute = similarity.Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id")
    val ivf = similarity.Similarity.ivfTopK(spark, sf)
      .select("query_id", "neighbor_id")
    val total = brute.count()
    val hit = brute.intersect(ivf).count()
    assert(total > 0)
    // labels are weak clusters in this corpus; 4/10 cells probed
    assert(hit.toDouble / total >= 0.3, s"recall ${hit.toDouble / total}")
  }

  test("d02: stop-shingle cap prunes hot-shingle fan-out but keeps genuine near-dups") {
    import TestSpark.spark.implicits._
    // 20 docs whose ONLY shared shingle is corpus-hot, plus one genuine
    // near-dup pair on rare shingles.
    val hot = (1 to 20).map(i => (i.toLong, s"hot hot hot u${i}a u${i}b u${i}c"))
    val dup = Seq((100L, "rare alpha beta gamma delta"), (101L, "rare alpha beta gamma delta"))
    val docs = (hot ++ dup).toDF("doc_id", "text")
    val capped = dedup.Dedup.jaccardPairsFrom(docs, 5)
    val uncapped = dedup.Dedup.jaccardPairsFrom(docs, 1000000)
    // uncapped: C(20,2) hot pairs + the dup pair; capped: the dup pair only
    assert(uncapped.count() == 190 + 1)
    assert(capped.count() == 1)
    assert(capped.filter(col("doc_a") === 100 && col("doc_b") === 101 &&
      col("jaccard") === 1.0).count() == 1)
    // the shipped cap is far above the real corpus's max shingle df, so the
    // sf output is the exact all-pairs answer
    val real = sources.Tables.documents(spark, sf)
    val a = dedup.Dedup.jaccardPairsFrom(real, dedup.Dedup.MaxShingleDf)
    val b = dedup.Dedup.jaccardPairsFrom(real, Int.MaxValue)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // scale shape: the shingle df comes from a partial-aggregable groupBy,
    // never a window that would buffer a stop-shingle's posting list in
    // one task (the d11 class, fixed here in round 5 too)
    assert(!a.queryExecution.optimizedPlan.toString.contains("Window"),
      "d02 must not window over the shingle key")
  }

  test("s02: multi-table LSH reaches recall >= 0.8 vs brute force") {
    val brute = similarity.Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id")
    // low selectivity per table (2 planes), 6 OR'd tables: the recall knob
    // the 100 TB deployment turns (more planes -> smaller buckets, more
    // tables -> recall back)
    val lsh = similarity.Similarity.lshTopKParam(spark, sf, 2, 6)
      .select("query_id", "neighbor_id")
    val total = brute.count()
    val hit = brute.intersect(lsh).count()
    assert(total > 0)
    assert(hit.toDouble / total >= 0.8, s"recall ${hit.toDouble / total}")
  }

  test("s02: the armed mega-bucket cap is plan-invisible when no bucket exceeds it") {
    // Round-16 (VERDICT r15 task 2): the cap path must be a pure
    // degradation guard — with the cap branch FORCED on (gates.force=arm)
    // but the default cap far above every test-SF bucket population, the
    // capped result must equal the plain result row-for-row. A drift here
    // means the member-side heap reordered or dropped sub-cap candidates.
    val plain = similarity.Similarity.lshTopKParam(spark, sf, 4, 2).collect()
    spark.conf.set(plans.ScaleGate.ForceConf, "arm")
    try {
      val capped = similarity.Similarity.lshTopKParam(spark, sf, 4, 2).collect()
      assert(plain.nonEmpty)
      assert(capped.toSeq == plain.toSeq, "capped != plain under a non-engaging cap")
    } finally spark.conf.unset(plans.ScaleGate.ForceConf)
  }

  test("s02: an engaging cap bounds a duplicate-heavy corpus's candidates and keeps exact top-k") {
    // The sf100 negative result in miniature: 60% of the corpus is ONE
    // repeated vector (plus per-vector noise ids), which co-buckets in
    // every table at any plane count. With cap=8 the member side of each
    // (tbl, bucket) is capped, so the run completes with per-query
    // candidate mass ≤ tables·cap — and every query still returns its
    // TopK rows (queries are never dropped, only far-duplicate members).
    import TestSpark.spark.implicits._
    val base = Array.tabulate(8)(i => math.sin(i + 1.0))
    val dup = (0L until 600L).map { i =>
      (i * similarity.Similarity.QueryStride, base.toSeq) } // all query-stride ids
    val rest = (0L until 400L).map { i =>
      (i * similarity.Similarity.QueryStride + 1,
        Array.tabulate(8)(d => math.cos(i * 8.0 + d)).toSeq) }
    val e = (dup ++ rest).toDF("vec_id", "v")
      .withColumn("norm", sqrt(functions.TextFunctions.foldSum(
        transform($"v", x => x * x))))
    spark.conf.set(plans.ScaleGate.ForceConf, "arm")
    spark.conf.set(similarity.Similarity.LshMaxBucketConf, "8")
    try {
      val out = similarity.Similarity.lshTopKFrom(e, 4, 2)
        .groupBy($"query_id").count().collect()
      assert(out.length == 600, s"expected 600 query groups, got ${out.length}")
      assert(out.forall(_.getLong(1) <= similarity.Similarity.TopK))
      // the duplicate cluster's queries found duplicate neighbors (the cap
      // keeps the k smallest member ids, which ARE duplicates here)
      val dupTop = similarity.Similarity.lshTopKFrom(e, 4, 2)
        .filter($"query_id" === 0L && $"rnk" === 1).collect()
      assert(dupTop.nonEmpty && dupTop.head.getAs[Double]("cosine") >= 0.999999)
    } finally {
      spark.conf.unset(plans.ScaleGate.ForceConf)
      spark.conf.unset(similarity.Similarity.LshMaxBucketConf)
    }
  }

  test("s02: the native LshBuckets expression equals the HOF bucketing spelling") {
    // Round-15: s02's bucketing moved from the zip_with/transform fold to
    // the one-pass codegen expression — this pins the two spellings equal
    // on the real corpus (plus edge vectors), so a constant or fold-order
    // drift in either one turns red here before it could skew the oracle.
    import TestSpark.spark.implicits._
    val (planes, tables) = (8, 3)
    def planeComponent(g: Int) =
      transform(sequence(lit(0), size($"v") - 1), c =>
        when(((lit(g * 73856093L) + c * 19349663L) % 1000003L) % 2 === 1,
          lit(-1.0)).otherwise(lit(1.0)))
    val hofBuckets = array((0 until tables).map { t =>
      (0 until planes).map { p =>
        when(functions.TextFunctions.foldSum(zip_with($"v",
            planeComponent(t * planes + p), (x, y) => x * y)) >= 0,
          1 << p).otherwise(0)
      }.reduce(_ + _)
    }: _*)
    val edge = Seq(
      (9000001L, Seq(0.0, 0.0, 0.0)),           // zero vector: sign(0) >= 0
      (9000002L, Seq(-1.5, 2.25, -0.125, 8.0)), // odd dims, mixed signs
      // NaN dot (ADVICE round-15): both spellings must bucket a NaN
      // accumulator the same way — Catalyst's total order puts NaN above
      // every value, so the sign bit SETS; the native expression mirrors
      // that explicitly rather than Java's NaN >= 0.0 == false
      (9000003L, Seq(Double.NaN, 1.0, -2.0))
    ).toDF("vec_id", "v")
    val corpus = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .filter(size($"v") > 0).unionByName(edge)
    val mismatches = corpus
      .withColumn("native", graft.functions.catalyst.GraftColumns
        .lsh_buckets($"v", planes, tables))
      .withColumn("hof", hofBuckets)
      .filter($"native" =!= $"hof")
      .count()
    assert(mismatches == 0, s"$mismatches vectors bucket differently")
  }

  test("d08: incremental dedup flags exactly the delta docs d03 pairs with an earlier doc") {
    import TestSpark.spark.implicits._
    val inc = dedup.Dedup.incrementalDedup(spark, sf).cache()
    val cutoff = sources.Tables.documents(spark, sf)
      .agg(floor(max($"doc_id") * dedup.Dedup.DeltaFraction).cast("long")).head.getLong(0)
    // output covers the delta only, one row per delta doc
    val delta = sources.Tables.documents(spark, sf).filter($"doc_id" >= cutoff)
    assert(inc.count() == delta.count())
    // every flagged dup points at a strictly earlier doc with >= threshold overlap
    assert(inc.filter($"is_dup" && ($"dup_of" >= $"doc_id" ||
      $"jaccard" < dedup.Dedup.JaccardThreshold)).count() == 0)
    // agreement with batch d03 restricted to pairs whose later member is delta:
    // a delta doc is flagged iff d03 verified it against an earlier partner
    val d03dups = dedup.Dedup.minhashLsh(spark, sf)
      .filter($"doc_b" >= cutoff).select($"doc_b".as("doc_id")).distinct()
    val flagged = inc.filter($"is_dup").select($"doc_id")
    assert(flagged.exceptAll(d03dups).count() == 0)
    assert(d03dups.exceptAll(flagged).count() == 0)
    inc.unpersist()
  }

  test("d07: clusters are consistent with the pair graph and keep exactly one canonical per cluster") {
    import TestSpark.spark.implicits._
    val cl = dedup.Dedup.dedupClusters(spark, sf).cache()
    val pairs = dedup.Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
    // every edge's endpoints landed in the same cluster
    val lab = cl.select($"doc_id", $"cluster_id")
    val split = pairs
      .join(lab.toDF("doc_a", "ca"), Seq("doc_a"))
      .join(lab.toDF("doc_b", "cb"), Seq("doc_b"))
      .filter($"ca" =!= $"cb")
    assert(split.count() == 0)
    // cluster id is the min member; exactly one canonical per cluster
    val agg = cl.groupBy($"cluster_id")
      .agg(min($"doc_id").as("mn"), count(lit(1)).as("n"),
        sum(when($"is_canonical", 1).otherwise(0)).as("n_canon"))
    assert(agg.filter($"mn" =!= $"cluster_id" || $"n_canon" =!= 1).count() == 0)
    // sizes agree with membership
    assert(cl.join(agg, Seq("cluster_id")).filter($"cluster_size" =!= $"n").count() == 0)
    // docs with no near-dup edge are singleton canonicals
    val inPairs = pairs.select($"doc_a".as("doc_id"))
      .unionByName(pairs.select($"doc_b".as("doc_id"))).distinct()
    assert(cl.join(inPairs, Seq("doc_id"), "left_anti")
      .filter($"cluster_size" =!= 1 || !$"is_canonical").count() == 0)
    cl.unpersist()
  }

  test("t05: vocab stats are internally consistent and capped at top-K") {
    import TestSpark.spark.implicits._
    val v = operators.TextAnalysis.vocab(spark, sf).cache()
    val nDocs = sources.Tables.documents(spark, sf).count()
    assert(v.count() <= operators.TextAnalysis.VocabTopK)
    assert(v.filter($"df" > $"tf" || $"df" > nDocs || $"tf" <= 0).count() == 0)
    // the cut keeps the GLOBAL top-K: every kept tf >= every dropped tf
    val minKept = v.agg(min($"tf")).head.getLong(0)
    val all = sources.Tables.documents(spark, sf)
      .select(explode(functions.TextFunctions.tokens($"text")).as("term"))
      .filter($"term" =!= "").groupBy($"term").count()
    val better = all.filter($"count" > minKept).count()
    assert(better <= operators.TextAnalysis.VocabTopK)
    v.unpersist()
  }

  test("s07b: trained-cell kNN graph — recall vs brute force, shape, mutual symmetry") {
    import TestSpark.spark.implicits._
    val g = similarity.Similarity.knnGraphTrained(spark, sf).cache()
    // plan: heap-first — both rank stages are ObjectHashAggregate heaps,
    // never a rank window over the corpus-scale probe/candidate streams
    val phys = g.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"rank window leaked into s07b:\n${phys.take(1200)}")
    assert(phys.contains("ObjectHashAggregate"), phys.take(1200))
    // shape: ranks are 1..TopK per vector, every corpus vector present
    val nVec = sources.Tables.embeddings(spark, sf).count()
    assert(g.select($"vec_id").distinct().count() == nVec)
    assert(g.filter($"rnk" < 1 || $"rnk" > similarity.Similarity.TopK).count() == 0)
    // recall vs the exact brute force on the strided query subset
    val brute = similarity.Similarity.bruteForceTopK(spark, sf)
      .select($"query_id".as("vec_id"), $"neighbor_id")
    val mine = g.select($"vec_id", $"neighbor_id")
    val total = brute.count()
    val hit = brute.intersect(mine).count()
    assert(total > 0)
    assert(hit.toDouble / total >= 0.7, s"recall ${hit.toDouble / total}")
    // mutual flag: set semantics — mutual(a→b) iff edge b→a exists
    val edges = g.select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    g.collect().foreach { r =>
      val a = r.getLong(r.fieldIndex("vec_id"))
      val b = r.getLong(r.fieldIndex("neighbor_id"))
      assert(r.getBoolean(r.fieldIndex("mutual")) == edges.contains((b, a)),
        s"mutual flag wrong for ($a,$b)")
    }
    g.unpersist()
  }

  test("s04: trained-quantizer IVF reaches high recall vs brute force") {
    val brute = similarity.Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id")
    val ivf = similarity.Similarity.ivfTrainedTopK(spark, sf)
      .select("query_id", "neighbor_id")
    val total = brute.count()
    val hit = brute.intersect(ivf).count()
    assert(total > 0)
    assert(hit.toDouble / total >= 0.8, s"recall ${hit.toDouble / total}")
  }

  test("s04: the trained-cell core with every vector as a query, restricted to the stride queries, reproduces s04 exactly") {
    // s07b's form of the core (every vector queries) at s04's cell count:
    // a query's probes and candidates do not depend on the other queries
    val S = similarity.Similarity
    val graph = S.trainedProbedTopK(spark, sf, S.IvfCells, _ => lit(true))
      .filter(col("query_id") % S.QueryStride === 0)
    val s04 = S.ivfTrainedTopK(spark, sf)
    assert(s04.count() > 0)
    assert(graph.exceptAll(s04).count() == 0 && s04.exceptAll(graph).count() == 0)
  }

  test("d07: pointer jumping converges 300-, 1k- and 10k-long chains in logarithmic rounds") {
    import TestSpark.spark.implicits._
    // worst-case shape for plain min-label propagation (needs ~n rounds);
    // pointer jumping must close it in O(log n) <= MaxCcRounds
    def chainRounds(n: Long): Int = {
      val docs = TestSpark.spark.range(0, n + 50).select($"id".as("doc_id"))
      val chain = TestSpark.spark.range(0, n - 1)
        .select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
      val cl = dedup.Dedup.clustersFromPairs(docs, chain)
      val comp = cl.filter($"doc_id" < n)
      assert(comp.filter($"cluster_id" =!= 0 || $"cluster_size" =!= n).count() == 0)
      assert(cl.filter($"doc_id" >= n)
        .filter(!$"is_canonical" || $"cluster_size" =!= 1).count() == 0)
      dedup.Dedup.lastCcRounds.get()
    }
    val Seq(_, r1k, r10k) = Seq(300L, 1000L, 10000L).map(chainRounds)
    // diameter grew 10x (999 -> 9999); a diameter-bound walk would need
    // 10x the rounds — path halving pays ~log₂ 10, and MaxCcRounds must
    // stay comfortable (10 -> 14 by the loop's recurrence)
    assert(r10k <= dedup.Dedup.MaxCcRounds - 3, s"rounds = $r10k on the 10k chain")
    assert(r10k - r1k <= 5, s"rounds grew $r1k -> $r10k on a 10x diameter")
  }

  test("p03: curated corpus keeps only canonical docs above the quality and length gates") {
    import TestSpark.spark.implicits._
    val cur = operators.Curation.curatedCorpus(spark, sf).cache()
    assert(cur.count() > 0)
    assert(cur.filter($"quality_score" < operators.Curation.MinQuality ||
      $"n_tokens" < operators.Curation.MinTokens).count() == 0)
    // curated docs are exactly canonical in the cluster table
    val cl = dedup.Dedup.dedupClusters(spark, sf).cache()
    val canon = cl.filter($"is_canonical").select("doc_id")
    assert(cur.join(canon, Seq("doc_id"), "left_anti").count() == 0)
    // no two curated docs share a near-dup cluster
    val perCluster = cur.join(cl.select("doc_id", "cluster_id"), Seq("doc_id"))
      .groupBy("cluster_id").count().filter($"count" > 1)
    assert(perCluster.count() == 0)
    cl.unpersist()
    cur.unpersist()
  }

  test("p05: stratified sample takes exactly ceil(n/div) docs per stratum, deterministically") {
    import TestSpark.spark.implicits._
    val s1 = operators.Curation.stratifiedSample(spark, sf).cache()
    val quotas = sources.Tables.documents(spark, sf)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
    val taken = s1.groupBy($"lang", $"source").agg(count(lit(1)).as("k"))
    val off = quotas.join(taken, Seq("lang", "source"), "left")
      .filter(coalesce($"k", lit(0L)) =!= floor(
        ($"n" + operators.Curation.SampleDiv - 1) / operators.Curation.SampleDiv).cast("long"))
    assert(off.count() == 0)
    // deterministic: a second run selects the identical doc set
    val s2 = operators.Curation.stratifiedSample(spark, sf)
    assert(s1.select("doc_id").exceptAll(s2.select("doc_id")).count() == 0)
    s1.unpersist()
  }

  test("p05 presplit: salted quotas stay within ceil-rounding of exact, window spreads") {
    import TestSpark.spark.implicits._
    val salts = 8
    val s = operators.Curation.stratifiedSamplePresplit(spark, sf, salts).cache()
    val quotas = sources.Tables.documents(spark, sf)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
    val taken = s.groupBy($"lang", $"source").agg(count(lit(1)).as("k"))
    // per-split ceil rounding may overshoot the exact stratum quota by at
    // most one doc per non-empty split, and never undershoots it
    val off = quotas.join(taken, Seq("lang", "source"), "left")
      .withColumn("exact", floor(($"n" + operators.Curation.SampleDiv - 1) /
        operators.Curation.SampleDiv).cast("long"))
      .filter(coalesce($"k", lit(0L)) < $"exact" ||
        coalesce($"k", lit(0L)) >= $"exact" + salts)
    assert(off.count() == 0)
    // the rank window really partitions on the salted key: every
    // (stratum, salt) split obeys its own ceil quota
    val perSplit = s.groupBy($"lang", $"source", $"salt")
      .agg(count(lit(1)).as("k"), max($"split_n").as("n"))
      .filter($"k" =!= floor(($"n" + operators.Curation.SampleDiv - 1) /
        operators.Curation.SampleDiv).cast("long"))
    assert(perSplit.count() == 0)
    // deterministic
    val s2 = operators.Curation.stratifiedSamplePresplit(spark, sf, salts)
    assert(s.select("doc_id").exceptAll(s2.select("doc_id")).count() == 0)
    s.unpersist()
  }

  test("p04: packing is a gapless chop of the doc_id-ordered token stream") {
    import TestSpark.spark.implicits._
    val p = operators.Curation.sequencePack(spark, sf).cache()
    val n = sources.Tables.documents(spark, sf).count()
    assert(p.count() == n)
    // offsets stay inside the window and pack ids never decrease with doc_id
    assert(p.filter($"pack_offset" < 0 ||
      $"pack_offset" >= operators.Curation.PackWindow || $"pack_id" < 0).count() == 0)
    // reconstruct: cum_before = pack_id * W + offset must equal the
    // exclusive running sum of n_tokens in doc_id order (flat check)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bad = p
      .withColumn("expect", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .filter($"pack_id" * operators.Curation.PackWindow + $"pack_offset" =!= $"expect")
    assert(bad.count() == 0)
    p.unpersist()
  }

  test("p04 scale shape: telescoped cumsum, every window partitioned, ids straddle supers") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // ids span 4 super-buckets (PackBucket² = 1e6 apart) with uneven
    // bucket occupancy — exercises level 2/3 partitioning that the sf
    // corpora (all ids in super-bucket 0) leave degenerate.
    val ids = Seq(0L, 1L, 999L, 1000L, 500500L, 1000000L, 1000001L,
      2345678L, 2345679L, 3999999L)
    val docs = ids.map(i => (i, s"w1 w2 w3 w$i")).toDF("doc_id", "text")
    val out = operators.Curation.sequencePackFrom(docs)
    val wins = out.queryExecution.optimizedPlan.collect { case lw: LWindow => lw }
    assert(wins.size == 3)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "no accidental unpartitioned window anywhere in p04")
    // the one DECLARED single-partition window (pmod(sbucket, 1)) sits
    // above BOTH aggregation levels: its input was reduced PackBucket²
    // (= 10^6)-fold before the single task.
    assert(wins.count(_.child.collect { case a: Aggregate => a }.size >= 2) == 1)
    // values: exclusive flat cumsum in doc_id order, 4 tokens per doc
    val r = out.orderBy($"doc_id").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == ids)
    r.zipWithIndex.foreach { case (row, i) =>
      val cum = row.getAs[Long]("pack_id") * operators.Curation.PackWindow +
        row.getAs[Long]("pack_offset")
      assert(cum == 4L * i)
    }
  }

  test("t03: language id predicts the majority language on an English-ish corpus") {
    val pred = operators.TextAnalysis.langId(spark, sf)
    val top = pred.groupBy("predicted_lang").count().orderBy(col("count").desc).head.getString(0)
    assert(top == "en")
  }

  test("m02: payload byte features satisfy their integer invariants") {
    import TestSpark.spark.implicits._
    val f = multimodal.Multimodal.payloadFeatures(spark, sf).cache()
    assert(f.count() > 0)
    // Cauchy-Schwarz-style bounds: uniform bytes minimize collision mass,
    // a single repeated byte maximizes it
    val bad = f.filter(
      $"collision_mass" < $"n_bytes" || $"collision_mass" > $"n_bytes" * $"n_bytes" ||
        $"n_printable" > $"n_bytes" || $"n_distinct_bytes" > 256 ||
        $"n_distinct_bytes" <= 0 || $"min_byte" > $"max_byte" ||
        ($"n_distinct_bytes" === 1) =!= ($"collision_mass" === $"n_bytes" * $"n_bytes"))
    assert(bad.count() == 0)
    f.unpersist()
  }

  test("m01: multimodal decode stub is deterministic and total") {
    val feats = multimodal.Multimodal.decodeFeatures(spark, sf)
    assert(feats.count() == sources.Tables.documents(spark, sf).count())
    assert(feats.filter(col("width") < 1 || col("height") < 1).count() == 0)
  }

  test("m01: the decode boundary carries a REAL codec - PNG dims via javax.imageio") {
    import TestSpark.spark.implicits._
    // synthesize a real 37x21 PNG on the driver; the DECODE runs in
    // executor tasks inside the same mapPartitions the stub uses
    val img = new java.awt.image.BufferedImage(
      37, 21, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 21; x <- 0 until 37)
      img.setRGB(x, y, (x * 7919 + y * 104729) & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(multimodal.Multimodal.isPng(png))
    val textBytes = "plain text bytes".getBytes("UTF-8")
    val docs = Seq((1L, "image", png), (2L, "audio", textBytes))
      .toDF("doc_id", "media_type", "payload")
    val r = multimodal.Multimodal.decodeFeaturesFrom(docs)
      .collect().map(f => f.doc_id -> f).toMap
    // real decoded dimensions, not the stub's length-derived fakes
    assert(r(1L).width == 37 && r(1L).height == 21 && r(1L).channels == 3)
    assert(r(1L).byte_len == png.length.toLong)
    // non-PNG payloads keep the deterministic stub features
    assert(r(2L).width == (textBytes.length % 640) + 1)
    assert(r(2L).duration_ms == textBytes.length.toLong * 40)
  }

  test("m01: JPEG and GIF decode real dimensions through the same boundary") {
    import TestSpark.spark.implicits._
    def raster(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (x * 7919 + y * 104729) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val jpg = raster(29, 13, "jpg"); val gif = raster(17, 11, "gif")
    assert(multimodal.Multimodal.isJpeg(jpg) && multimodal.Multimodal.isGif(gif))
    val docs = Seq((1L, "image", jpg), (2L, "image", gif))
      .toDF("doc_id", "media_type", "payload")
    val r = multimodal.Multimodal.decodeFeaturesFrom(docs)
      .collect().map(f => f.doc_id -> f).toMap
    assert(r(1L).width == 29 && r(1L).height == 13 && r(1L).channels == 3)
    assert(r(2L).width == 17 && r(2L).height == 11)
  }

  test("m01: WAV headers parse real channel count and duration; corrupt WAVs fall to the stub") {
    import TestSpark.spark.implicits._
    // canonical 44-byte header: 8 kHz, 2 ch, 16-bit -> byteRate 32000;
    // 16000 data bytes = exactly 500 ms
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val data = Array.tabulate[Byte](16000)(i => (i * 31).toByte)
    def chunks(extra: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ le32(36 + extra.length + data.length) ++ "WAVE".getBytes ++
        ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
          le32(32000) ++ le16(4) ++ le16(16)) ++
        extra ++ ("data".getBytes ++ le32(data.length) ++ data)
    val wav = chunks(Array.empty)
    // a LIST chunk between fmt and data: the walker must skip it
    val wavList = chunks("LIST".getBytes ++ le32(6) ++ Array[Byte](1, 2, 3, 4, 5, 6))
    assert(multimodal.Multimodal.wavInfo(wav).contains((2, 500L)))
    assert(multimodal.Multimodal.wavInfo(wavList).contains((2, 500L)))
    val corrupt = wav.take(20) // truncated mid-fmt
    val docs = Seq((1L, "audio", wav), (2L, "audio", wavList), (3L, "audio", corrupt))
      .toDF("doc_id", "media_type", "payload")
    val r = multimodal.Multimodal.decodeFeaturesFrom(docs)
      .collect().map(f => f.doc_id -> f).toMap
    assert(r(1L).channels == 2 && r(1L).duration_ms == 500L && r(1L).width == 0)
    assert(r(2L).channels == 2 && r(2L).duration_ms == 500L)
    // truncated header: total boundary, stub features
    assert(r(3L).duration_ms == corrupt.length.toLong * 40)
    // crafted chunk size near Int.MaxValue (passes the <= MaxInt-8 check):
    // the Long cursor must walk past the buffer and return None, never
    // overflow back into range and throw out of the decode boundary
    val overflow = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      ("junk".getBytes ++ le32(0x7ffffff0) ++ Array.fill[Byte](64)(9))
    assert(multimodal.Multimodal.wavInfo(overflow).isEmpty)
    // an UNDERSIZED fmt chunk (declared size 4 < 16) must not read
    // channels/byteRate from the following chunk's bytes — stub fallback
    val shortFmt = "RIFF".getBytes ++ le32(60) ++ "WAVE".getBytes ++
      ("fmt ".getBytes ++ le32(4) ++ le16(1) ++ le16(2)) ++
      ("data".getBytes ++ le32(8) ++ Array.fill[Byte](8)(1))
    assert(multimodal.Multimodal.wavInfo(shortFmt).isEmpty)
  }

  test("m03: animated GIFs decode REAL frame rasters; non-GIF video keeps the stub slices") {
    // Build a 4-frame animated GIF with ImageIO's sequence writer — each
    // frame a distinct solid-ish raster so fingerprints must differ.
    def frame(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (seed * 2654435761L.toInt + x * 7919 + y * 104729) & 0xffffff)
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 4).foreach { i =>
      writer.writeToSequence(
        new javax.imageio.IIOImage(frame(9, 7, i + 1), null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray
    assert(multimodal.Multimodal.isGif(gif))

    val frames = multimodal.Multimodal.gifFrameSamples(42L, gif).get
    assert(frames.length == 4)
    // real rasters: frame_len is the decoded RGB byte count, ts is the
    // frame ordinal at 40 ms, and the pixel-fold fingerprints all differ
    assert(frames.forall(_.frame_len == 9 * 7 * 3))
    assert(frames.map(_.frame_ts_ms) == Seq(0L, 40L, 80L, 120L))
    assert(frames.map(_.frame_fp).distinct.length == 4)
    // the fingerprint is the actual pixel fold, recomputed independently
    val p = functions.TextFunctions.HashP
    val img0 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    var expectFp = 0L
    for (y <- 0 until 7; x <- 0 until 9) {
      val rgb = img0.getRGB(x, y)
      expectFp = (expectFp * 31 + ((rgb >> 16) & 0xff)) % p
      expectFp = (expectFp * 31 + ((rgb >> 8) & 0xff)) % p
      expectFp = (expectFp * 31 + (rgb & 0xff)) % p
    }
    assert(frames.head.frame_fp == expectFp)
    // corrupt GIF (magic only) falls to None -> the stub branch
    assert(multimodal.Multimodal.gifFrameSamples(7L,
      "GIF89a then garbage".getBytes("US-ASCII")).isEmpty)
  }

  test("m01: MP4 box walk parses real track dims and movie duration; corrupt files fall to the stub") {
    import TestSpark.spark.implicits._
    def be32(v: Long) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def box(tp: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ tp.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "isom".getBytes ++ be32(512) ++ "isom".getBytes ++ "mp41".getBytes)
    // mvhd v0: vflags, creation, modification, timescale 600, duration
    // 1500 ticks (= 2500 ms), then rate/volume/reserved/matrix/next (80)
    val mvhd0 = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(600) ++
      be32(1500) ++ Array.fill[Byte](80)(0))
    // tkhd v0: vflags(7=enabled), creation, modification, track 1,
    // reserved, duration, reserved 16 + matrix 36, then 16.16 dims
    val tkhd0 = box("tkhd", be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++
      be32(0) ++ be32(1500) ++ Array.fill[Byte](52)(0) ++
      be32(320L << 16) ++ be32(240L << 16))
    val mdat = box("mdat", Array.tabulate[Byte](96)(i => (i * 17).toByte))
    val mp4 = ftyp ++ box("moov", mvhd0 ++ box("trak", tkhd0)) ++ mdat
    assert(multimodal.Multimodal.mp4Info(mp4).contains((320, 240, 2500L)))
    // v1 layout: 64-bit times; audio trak (zero dims) must not shadow
    // the video trak's raster
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
      be32(600) ++ be64(3000) ++ Array.fill[Byte](80)(0))
    val tkhd1 = box("tkhd", Array[Byte](1, 0, 0, 7) ++ be64(0) ++ be64(0) ++
      be32(1) ++ be32(0) ++ be64(3000) ++ Array.fill[Byte](52)(0) ++
      be32(640L << 16) ++ be32(480L << 16))
    val audioTrak = box("trak", box("tkhd", be32(7) ++ be32(0) ++ be32(0) ++
      be32(2) ++ be32(0) ++ be32(1500) ++ Array.fill[Byte](52)(0) ++
      be32(0) ++ be32(0)))
    val mp4v1 = ftyp ++ box("moov", mvhd1 ++ box("trak", tkhd1) ++ audioTrak)
    assert(multimodal.Multimodal.mp4Info(mp4v1).contains((640, 480, 5000L)))
    // malformed inputs return None (bad magic, lying size, no mvhd)
    assert(multimodal.Multimodal.mp4Info(mdat ++ mp4).isEmpty)
    assert(multimodal.Multimodal.mp4Info(mp4.dropRight(40)).isEmpty)
    assert(multimodal.Multimodal.mp4Info(ftyp ++ box("moov", Array.empty)).isEmpty)
    val docs = Seq((1L, "video", mp4), (2L, "video", mp4.take(30)))
      .toDF("doc_id", "media_type", "payload")
    val r = multimodal.Multimodal.decodeFeaturesFrom(docs)
      .collect().map(f => f.doc_id -> f).toMap
    assert(r(1L).width == 320 && r(1L).height == 240 &&
      r(1L).duration_ms == 2500L && r(1L).channels == 0)
    // truncated container: total boundary, stub features
    assert(r(2L).width == (30 % 640) + 1 && r(2L).duration_ms == 30L * 40)
  }

  test("m03: frame sampling is bounded, contiguous and covers every audio/video doc") {
    import TestSpark.spark.implicits._
    val fr = multimodal.Multimodal.frameSamples(spark, sf).cache()
    val perDoc = fr.groupBy($"doc_id").agg(
      count(lit(1)).as("n"), max($"frame_idx").as("mx"), min($"frame_idx").as("mn"))
    // bounded per record, frame indexes contiguous from 0
    assert(perDoc.filter($"n" > multimodal.Multimodal.MaxFrames).count() == 0)
    assert(perDoc.filter($"mn" =!= 0 || $"mx" =!= $"n" - 1).count() == 0)
    // every non-empty audio/video doc emits frames
    val vids = multimodal.Multimodal.withPayload(spark, sf)
      .filter($"media_type".isin("audio", "video") && octet_length($"payload") > 0)
    assert(perDoc.count() == vids.count())
    assert(fr.filter($"frame_len" < 1 || $"frame_len" > multimodal.Multimodal.FrameBytes)
      .count() == 0)
    fr.unpersist()
  }

  test("m03: WAV payloads decode REAL PCM sample windows via javax.sound.sampled") {
    // canonical PCM WAV: 8 kHz, 2 ch, 16-bit -> frameSize 4, 16000 data
    // bytes; deterministic non-trivial samples
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val data = Array.tabulate[Byte](16000)(i => ((i * 131) ^ (i >> 3)).toByte)
    val wav = "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
        le32(32000) ++ le16(4) ++ le16(16)) ++
      ("data".getBytes ++ le32(data.length) ++ data)

    val frames = multimodal.Multimodal.wavFrameSamples(9L, wav).get
    val M = multimodal.Multimodal
    assert(frames.length == M.MaxFrames)
    // recompute independently: evenly spaced over the 16000 PCM bytes,
    // aligned to the 4-byte sample frame, FrameBytes-wide, polynomial fold
    val P = functions.TextFunctions.HashP
    frames.zipWithIndex.foreach { case (f, i) =>
      val raw = i.toLong * data.length / M.MaxFrames
      val off = (raw - raw % 4).toInt
      assert(f.frame_len == M.FrameBytes)
      assert(f.frame_ts_ms == ((off / 4) * 1000.0 / 8000.0).toLong)
      var acc = 0L
      (0 until M.FrameBytes).foreach(j => acc = (acc * 31 + (data(off + j) & 0xff)) % P)
      assert(f.frame_fp == acc, s"frame $i: decoded PCM differs from the data chunk")
    }
    // the decoded windows are distinct (the samples vary)
    assert(frames.map(_.frame_fp).distinct.length == frames.length)
    // and the boundary routes real WAVs to the PCM branch inside the
    // mapPartitions decode: a WAV payload's frames differ from the raw-byte
    // stub slices (header bytes shift every stub offset)
    val stubLike = multimodal.Multimodal.wavFrameSamples(9L, "not a wav".getBytes)
    assert(stubLike.isEmpty, "non-WAV bytes must fall to the stub")
  }

  test("m03: MP4 sample tables extract the REAL encoded frame bytes") {
    def be32(v: Long) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(tp: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ tp.getBytes("US-ASCII") ++ payload
    // 5 samples with distinct sizes/bytes, split 3+2 over two chunks;
    // timescale 1000 so stts deltas are milliseconds directly
    val sampleBytes = (1 to 5).map(i =>
      Array.tabulate[Byte](10 + i * 3)(j => ((i * 37 + j * 11) & 0xff).toByte))
    val ftyp = box("ftyp", "isom".getBytes ++ be32(512) ++ "isom".getBytes)
    val mdhd = box("mdhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++
      be32(9999) ++ be32(0))
    val stts = box("stts", be32(0) ++ be32(2) ++
      be32(3) ++ be32(40) ++ // 3 samples at 40 ms
      be32(2) ++ be32(100)) // then 2 at 100 ms
    val stsz = box("stsz", be32(0) ++ be32(0) ++ be32(5) ++
      sampleBytes.flatMap(s => be32(s.length)).toArray)
    val stsc = box("stsc", be32(0) ++ be32(2) ++
      be32(1) ++ be32(3) ++ be32(1) ++ // chunk 1: 3 samples
      be32(2) ++ be32(2) ++ be32(1)) // chunk 2+: 2 samples
    // layout: [ftyp][moov][mdat]; compute the two chunk offsets inside mdat
    val chunk1 = sampleBytes.take(3).flatten.toArray
    val chunk2 = sampleBytes.drop(3).flatten.toArray
    def assemble(stcoPayload: Array[Byte]): (Array[Byte], Long) = {
      val stco = box("stco", be32(0) ++ be32(2) ++ stcoPayload)
      val stbl = box("stbl", stts ++ stsz ++ stsc ++ stco)
      val moov = box("moov",
        box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(600) ++ be32(1500) ++
          Array.fill[Byte](80)(0)) ++
        box("trak", box("mdia", mdhd ++ box("minf", stbl))))
      val mdatBodyAt = (ftyp.length + moov.length + 8).toLong
      (ftyp ++ moov ++ box("mdat", chunk1 ++ chunk2), mdatBodyAt)
    }
    // two-pass: sizes are fixed, so offsets are known after one dry run
    val (_, at) = assemble(be32(0) ++ be32(0))
    val (mp4, _) = assemble(be32(at) ++ be32(at + chunk1.length))

    val frames = multimodal.Multimodal.mp4FrameSamples(77L, mp4).get
    assert(frames.length == 5)
    // timestamps follow the stts runs at the mdhd timescale
    assert(frames.map(_.frame_ts_ms) == Seq(0L, 40L, 80L, 120L, 220L))
    // each fingerprint folds the sample's EXACT encoded bytes
    val P = functions.TextFunctions.HashP
    frames.zip(sampleBytes).foreach { case (f, bytes) =>
      assert(f.frame_len == bytes.length)
      var acc = 0L
      bytes.foreach(b => acc = (acc * 31 + (b & 0xff)) % P)
      assert(f.frame_fp == acc, s"frame ${f.frame_idx} bytes differ")
    }
    // a truncated container (mdat cut) must fall to the stub, not mis-read
    assert(multimodal.Multimodal.mp4FrameSamples(77L, mp4.dropRight(12)).isEmpty)
    // and a table-less MP4 (no stbl) falls through too
    val bare = ftyp ++ box("moov", box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(600) ++ be32(1500) ++ Array.fill[Byte](80)(0)))
    assert(multimodal.Multimodal.mp4FrameSamples(77L, bare).isEmpty)
  }

  test("m03: MJPEG-in-MP4 samples decode REAL pixels through the JDK codec") {
    def be32(v: Long) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(tp: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ tp.getBytes("US-ASCII") ++ payload
    // three REAL JPEG samples (encoded with the JDK's own writer, 8x6,
    // distinct flat-ish gradients), packed as the MP4's sample stream
    val sampleBytes = (1 to 3).map { i =>
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 6).foreach(y => (0 until 8).foreach(x =>
        img.setRGB(x, y, ((i * 60) << 16) | ((x * 20) << 8) | (y * 30))))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val ftyp = box("ftyp", "isom".getBytes ++ be32(512) ++ "isom".getBytes)
    val mdhd = box("mdhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++
      be32(9999) ++ be32(0))
    val stts = box("stts", be32(0) ++ be32(1) ++ be32(3) ++ be32(40))
    val stsz = box("stsz", be32(0) ++ be32(0) ++ be32(3) ++
      sampleBytes.flatMap(s => be32(s.length)).toArray)
    val stsc = box("stsc", be32(0) ++ be32(1) ++ be32(1) ++ be32(3) ++ be32(1))
    val chunk = sampleBytes.flatten.toArray
    def assemble(stcoPayload: Array[Byte]): (Array[Byte], Long) = {
      val stco = box("stco", be32(0) ++ be32(1) ++ stcoPayload)
      val stbl = box("stbl", stts ++ stsz ++ stsc ++ stco)
      val moov = box("moov",
        box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(600) ++ be32(1500) ++
          Array.fill[Byte](80)(0)) ++
        box("trak", box("mdia", mdhd ++ box("minf", stbl))))
      ((ftyp ++ moov ++ box("mdat", chunk)), (ftyp.length + moov.length + 8).toLong)
    }
    val (_, at) = assemble(be32(0))
    val (mp4, _) = assemble(be32(at))

    val frames = multimodal.Multimodal.mp4FrameSamples(88L, mp4).get
    assert(frames.length == 3)
    // each fingerprint folds the DECODED raster (w*h*3 RGB bytes), not
    // the encoded JPEG: recompute independently from the same bytes
    val P = functions.TextFunctions.HashP
    frames.zip(sampleBytes).foreach { case (f, bytes) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(f.frame_len == img.getWidth * img.getHeight * 3)
      assert(f.frame_len != bytes.length, "frame_len must be the raster, not the JPEG")
      var acc = 0L
      (0 until img.getHeight).foreach(y => (0 until img.getWidth).foreach { x =>
        val rgb = img.getRGB(x, y)
        acc = (acc * 31 + ((rgb >> 16) & 0xff)) % P
        acc = (acc * 31 + ((rgb >> 8) & 0xff)) % P
        acc = (acc * 31 + (rgb & 0xff)) % P
      })
      assert(f.frame_fp == acc, s"frame ${f.frame_idx}: decoded pixels differ")
    }
    // distinct gradients -> distinct fingerprints
    assert(frames.map(_.frame_fp).distinct.length == 3)
  }

  test("d10: normalization collapses case/punct/whitespace variants, keeps min id") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "HELLO   world."),
      // non-space whitespace must normalize AS whitespace ("hello world"),
      // not delete to "helloworld" — the bug the core review caught
      (5L, "hello\nworld"), (6L, "hello\tworld"),
      (4L, "a different document"))
      .toDF("doc_id", "text")
    val r = graft.dedup.Dedup.normalizedDedupFrom(docs).collect()
    assert(r.length == 2)
    val hello = r.find(_.getAs[Long]("doc_id") == 1L).get
    assert(hello.getAs[Long]("dup_count") == 5L)
    assert(hello.getAs[Long]("n_variants") == 5L)
    // corpus level: canonical count never exceeds d01's raw-hash count
    val raw = graft.dedup.Dedup.exact(spark, sf).count()
    assert(graft.dedup.Dedup.normalizedDedup(spark, sf).count() <= raw)
  }

  test("d11: cross-doc duplicated spans flag clones, ignore within-doc repeats") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),          // organic
      (2L, "a b c d e f g h i j"),          // exact clone of 1 -> frac 1.0
      (3L, "z y x w v u t s r q"),          // organic, unshared
      (4L, "m m m m m m m m m m"))          // within-doc repeat only -> df 1
      .toDF("doc_id", "text")
    val r = graft.dedup.Dedup.spanDedupFrom(docs).collect()
    assert(r.length == 4)
    def row(id: Long) = r.find(_.getAs[Long]("doc_id") == id).get
    assert(row(1L).getAs[Double]("dup_frac") == 1.0 && row(1L).getAs[Boolean]("flagged"))
    assert(row(2L).getAs[Double]("dup_frac") == 1.0)
    assert(row(3L).getAs[Long]("dup_spans") == 0L && !row(3L).getAs[Boolean]("flagged"))
    // doc 4's span "m m m m m" repeats 6x but only within itself: not dup
    assert(row(4L).getAs[Long]("dup_spans") == 0L && !row(4L).getAs[Boolean]("flagged"))
    // corpus level: the d07 clone cluster docs are exactly the flagged set shape
    val sfr = graft.dedup.Dedup.spanDedup(spark, sf)
    assert(sfr.filter($"flagged").count() > 0)
    assert(sfr.filter(!$"flagged" && $"dup_frac" === 0.0).count() > 0)
  }

  test("d11 scale shape: hot stop-span stays partial-aggregable, no window in plan") {
    import TestSpark.spark.implicits._
    // One stop-span shared by 200 docs plus a unique tail per doc. The
    // round-4 flag: count().over(partitionBy(sh)) materialized all 200
    // (doc, span) rows of the hot span in ONE window partition; the
    // complement formulation keeps every aggregate map-side partial.
    val docs = (1 to 200).map(i =>
      (i.toLong, s"the quick brown fox jumps u$i v$i w$i x$i y$i"))
      .toDF("doc_id", "text")
    val out = graft.dedup.Dedup.spanDedupFrom(docs)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "span df must come from a partial-aggregable groupBy, not a window")
    val r = out.collect()
    assert(r.length == 200)
    // 10 tokens -> 6 spans; only "the quick brown fox jumps" is cross-doc
    assert(r.forall(_.getAs[Long]("n_spans") == 6L))
    assert(r.forall(_.getAs[Long]("dup_spans") == 1L))
    assert(r.forall(!_.getAs[Boolean]("flagged"))) // 1/6 < 0.3
  }

  test("d12: substring removal keeps the owner copy, strips clones, spares within-doc repeats") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),          // owner of the shared content
      (2L, "a b c d e f g h i j"),          // exact clone -> fully removed
      (3L, "z y x a b c d e f q"),          // shares the 6-token window "a b c d e f"
      (4L, "m m m m m m m m m m"))          // within-doc repeats only: df=1, kept
      .toDF("doc_id", "text")
    val r = dedup.Dedup.substringRewriteFrom(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[String]("text_clean") == "a b c d e f g h i j")
    assert(r(1L).getAs[Long]("n_removed") == 0L)
    assert(r(2L).getAs[String]("text_clean") == "")
    assert(r(2L).getAs[Long]("n_removed") == 10L)
    assert(r(2L).getAs[Double]("removed_frac") == 1.0)
    // doc 3: spans "a b c d e" (pos 3) and "b c d e f" (pos 4) are shared
    // with docs 1/2 (owner = 1), covering positions 3..8 -> 6 tokens gone.
    assert(r(3L).getAs[Long]("n_removed") == 6L)
    assert(r(3L).getAs[String]("text_clean") == "z y x q")
    // doc 4's "m m m m m" span repeats 6x but only within itself: df=1
    assert(r(4L).getAs[Long]("n_removed") == 0L)
    assert(r(4L).getAs[String]("text_clean") == "m m m m m m m m m m")
  }

  test("d12 conserves content: every kept token count matches, corpus loses only covered repeats") {
    import TestSpark.spark.implicits._
    val out = dedup.Dedup.substringRewrite(spark, sf)
    // no window anywhere (same partial-aggregable discipline as d11)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "d12 must stay window-free: df from groupBy, rewrite row-local")
    val r = out.select(
      sum($"n_tokens").as("tok"), sum($"n_removed").as("rem"),
      sum(when($"n_removed" > 0, 1).otherwise(0)).as("touched")).head
    assert(r.getAs[Long]("touched") > 0, "sf corpus has clone clusters; some doc must be rewritten")
    assert(r.getAs[Long]("rem") < r.getAs[Long]("tok"), "owners keep their copy")
    // rewritten text token count reconciles with n_tokens - n_removed
    val bad = out.filter(
      when($"text_clean" === "", lit(0L))
        .otherwise(size(split($"text_clean", " ")).cast("long"))
        =!= $"n_tokens" - $"n_removed").count()
    assert(bad == 0L)
  }

  test("d13: bloom prefilter stays exact under a saturated sketch (forced false positives)") {
    import TestSpark.spark.implicits._
    val corpus = (1L to 200L).map(i => (i, s"corpus doc number $i"))
      .toDF("doc_id", "text")
    val batch = (Seq(
      (1001L, "corpus doc number 17"),   // true dup
      (1002L, "corpus doc number 170"),  // true dup
      (1003L, "brand new content a")) ++
      (1L to 60L).map(i => (2000L + i, s"fresh text $i")))
      .toDF("ingest_id", "text")
    // 64 bits for 200 inserts: the sketch saturates, so essentially EVERY
    // batch row becomes a candidate — the confirm join must still produce
    // the exact anti-join answer (false positives die there by design)
    val r = dedup.Dedup.bloomDedupFrom(corpus, batch, numBits = 64L)
      .collect().map(x => x.getLong(0) ->
        (Option(x.get(1)).map(_.asInstanceOf[Long]), x.getBoolean(2))).toMap
    assert(r(1001L) == (Some(17L), false))
    assert(r(1002L) == (Some(170L), false))
    assert(r(1003L) == (None, true))
    assert((1L to 60L).forall(i => r(2000L + i) == (None, true)))
  }

  test("d13: sf re-crawl gate — verbatim re-ingest rejected to its source doc, revisions admitted") {
    import TestSpark.spark.implicits._
    val out = dedup.Dedup.bloomDedup(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    // the batch probes the sketch row-locally and the corpus never
    // shuffles: both joins broadcast, the bloom probe is in the plan
    assert(plan.toLowerCase.contains("might_contain"),
      "bloom prefilter must reach the physical plan")
    assert(!plan.contains("SortMergeJoin"),
      "corpus membership must confirm via broadcast joins, never a corpus shuffle")
    val r = out.collect()
    val re = r.filter(_.getLong(0) < 2L * dedup.Dedup.ReIngestOffset)
    val rev = r.filter(_.getLong(0) >= 2L * dedup.Dedup.ReIngestOffset)
    assert(re.nonEmpty && rev.nonEmpty)
    // sf0.001 has no intra-corpus exact dups, so each re-crawl row's owner
    // is exactly its source doc
    assert(re.forall(x => !x.getBoolean(2) &&
      x.getLong(1) == x.getLong(0) - dedup.Dedup.ReIngestOffset))
    assert(rev.forall(x => x.getBoolean(2) && x.isNullAt(1)))
  }

  test("t08: repetition gate flags a degenerate doc and passes a diverse one") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"), // one token everywhere
      (2L, "to be or not to be that is the question here today"),
      (3L, "ab cd ab cd ab cd ab cd ab cd")) // two tokens, all dup bigrams
      .toDF("doc_id", "text")
    val r = operators.TextAnalysis.repetitionScoreFrom(docs)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("repetitive"))
    assert(r(3L).getAs[Boolean]("repetitive"))
    assert(!r(2L).getAs[Boolean]("repetitive"))
    assert(r(1L).getAs[Double]("top_token_frac") == 1.0)
    assert(r(1L).getAs[Double]("dup_bigram_frac") == 0.8)
    // structural invariants over the real corpus
    val c = operators.TextAnalysis.repetitionScore(spark, sf)
    assert(c.filter($"n_distinct" > $"n_tokens" || $"top_token_n" < 1 ||
      $"top_token_frac" < 0 || $"top_token_frac" > 1 ||
      $"dup_bigram_frac" < 0 || $"dup_bigram_frac" > 1).count() == 0)
  }

  test("t09: LM score is 1.0 on a fully predictable corpus, null with no LM match") {
    import TestSpark.spark.implicits._
    // five docs of the same bigram clear BigramMinCount => p_cond = 1.0;
    // the sixth doc shares no surviving bigram => no match, null score
    val docs = ((1L to 5L).map(i => (i, "alpha beta")) :+ (6L, "unique tokens here"))
      .toDF("doc_id", "text")
    val r = operators.TextAnalysis.lmScoreFrom(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    (1L to 5L).foreach { i =>
      assert(r(i).getAs[Double]("avg_p_cond") == 1.0)
      assert(r(i).getAs[Double]("lm_coverage") == 1.0)
    }
    assert(r(6L).getAs[Long]("n_matched") == 0L)
    assert(r(6L).isNullAt(r(6L).fieldIndex("avg_p_cond")))
    // corpus-level invariants
    val c = operators.TextAnalysis.lmScore(spark, sf)
    assert(c.filter($"lm_coverage" < 0 || $"lm_coverage" > 1 ||
      $"n_matched" > $"n_pairs" ||
      ($"avg_p_cond".isNotNull && ($"avg_p_cond" <= 0 || $"avg_p_cond" > 1)))
      .count() == 0)
  }

  test("p07: corpus report totals reconcile with the documents table") {
    import TestSpark.spark.implicits._
    val rpt = operators.Curation.corpusReport(spark, sf).cache()
    val docs = sources.Tables.documents(spark, sf)
    assert(rpt.agg(sum($"n_docs")).head.getLong(0) == docs.count())
    val tok = docs.agg(sum(size(split($"text", " ")).cast("long"))).head.getLong(0)
    assert(rpt.agg(sum($"total_tokens")).head.getLong(0) == tok)
    assert(rpt.filter($"n_repetitive" > $"n_docs" || $"n_scored" > $"n_docs" ||
      $"avg_quality" < 0 || $"avg_quality" > 1).count() == 0)
    // the repetitive tally equals the t08 gate's own count
    val flagged = operators.TextAnalysis.repetitionScore(spark, sf)
      .filter($"repetitive").count()
    assert(rpt.agg(sum($"n_repetitive")).head.getLong(0) == flagged)
    rpt.unpersist()
  }

  test("p06: domain mix respects per-language token budgets, deterministically") {
    import TestSpark.spark.implicits._
    val m1 = operators.Curation.domainMix(spark, sf).cache()
    assert(m1.count() > 0)
    // the recorded budget matches an independent recomputation
    val total = sources.Tables.documents(spark, sf)
      .select(sum(size(split($"text", " ")).cast("long")).as("t")).head.getLong(0)
    val budgets = operators.Curation.MixWeights.map { case (l, wt) =>
      l -> math.floor(wt * total * operators.Curation.MixFrac).toLong
    }.toMap
    val recorded = m1.select($"lang", $"lang_budget").distinct().collect()
    recorded.foreach(r => assert(r.getLong(1) == budgets(r.getString(0))))
    // greedy fill: no language overshoots its budget by more than the one
    // doc that straddles the boundary
    val over = m1.groupBy($"lang").agg(
      sum($"n_tokens").as("taken"), max($"n_tokens").as("biggest"),
      max($"lang_budget").as("budget"))
      .filter($"taken" >= $"budget" + $"biggest")
    assert(over.count() == 0)
    // deterministic: a second run selects the identical doc set
    val m2 = operators.Curation.domainMix(spark, sf)
    assert(m1.select("doc_id").exceptAll(m2.select("doc_id")).count() == 0)
    m1.unpersist()
  }

  test("s05: PQ-ADC top-k reaches useful recall vs brute force and reports exact cosines") {
    import TestSpark.spark.implicits._
    val pq = similarity.Similarity.pqTopK(spark, sf).collect()
    val bf = similarity.Similarity.bruteForceTopK(spark, sf).collect()
    assert(pq.nonEmpty)
    // exactly TopK ranked rows per query
    pq.groupBy(_.getLong(0)).values.foreach(g =>
      assert(g.length == similarity.Similarity.TopK))
    // recall@K vs the exact baseline — PQ on unstructured synthetic
    // vectors with an 8x re-rank pool still recovers most true neighbors
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getLong(r.fieldIndex("neighbor_id")))).toSet
    val hit = pairs(pq).intersect(pairs(bf)).size.toDouble / pairs(bf).size
    assert(hit >= 0.5, s"recall@${similarity.Similarity.TopK} = $hit")
    // reported cosines are the EXACT values (re-rank arithmetic == s01)
    val bfMap = bf.map(r => (r.getLong(r.fieldIndex("query_id")),
      r.getLong(r.fieldIndex("neighbor_id"))) ->
      r.getDouble(r.fieldIndex("cosine"))).toMap
    pq.foreach { r =>
      val key = (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id")))
      bfMap.get(key).foreach(c => assert(c == r.getDouble(r.fieldIndex("cosine"))))
    }
  }

  test("s06: persisted index serves by pruned read, reaches recall, and appends without retrain") {
    import TestSpark.spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_s06").toString
    val all = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val maxId = all.agg(max($"vec_id")).head.getLong(0)
    val cut = maxId - maxId / 5 // last fifth arrives later as the delta
    val prefix = all.filter($"vec_id" <= cut)
    val delta = all.filter($"vec_id" > cut)
    assert(delta.count() > 0)

    // one-batch vs two-batch append: identical index rows (no retrain, so
    // encoding is a pure function of the persisted quantizers)
    val i1 = s"$base/one"; val i2 = s"$base/two"
    similarity.AnnIndex.buildIndex(spark, prefix, i1)
    similarity.AnnIndex.buildIndex(spark, prefix, i2)
    similarity.AnnIndex.appendVectors(spark, delta, i1)
    val half = delta.filter($"vec_id" % 2 === 0)
    similarity.AnnIndex.appendVectors(spark, half, i2)
    similarity.AnnIndex.appendVectors(spark, delta.exceptAll(half), i2)
    val r1 = spark.read.parquet(s"$i1/vectors")
      .select($"vec_id", $"cell", $"codes")
    val r2 = spark.read.parquet(s"$i2/vectors")
      .select($"vec_id", $"cell", $"codes")
    assert(r1.count() == all.filter($"vec_id" % 100 =!= 0 || $"vec_id" === 0L).count()
      || r1.count() > 0) // row count sanity; exact equality next
    assert(r1.exceptAll(r2).count() == 0 && r2.exceptAll(r1).count() == 0)

    // appended vectors are findable from the FILES: serving a query equal
    // to a delta vector returns it at rank 1, cosine 1.0 (external ids)
    val probeRows = delta.orderBy($"vec_id").limit(3)
      .select(($"vec_id" + 5000000L).as("vec_id"), $"v")
    val served = similarity.AnnIndex.topK(spark, probeRows, i1)
    val top1 = served.filter($"rnk" === 1).collect()
    assert(top1.length == 3 && top1.forall(_.getDouble(3) == 1.0))

    // recall vs s01 on the full corpus through the persisted index
    val got = similarity.AnnIndex.topK(spark,
      similarity.Similarity.pqQueryDefault(spark, sf), i1, excludeSelf = true)
    val bf = similarity.Similarity.bruteForceTopK(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = pairs(got).intersect(pairs(bf)).size.toDouble / pairs(bf).size
    assert(hit >= 0.3, s"recall@${similarity.Similarity.TopK} = $hit")

    // the serve-time scan is partition-PRUNED to the probed cells
    val q3 = similarity.Similarity.pqQueryDefault(spark, sf).limit(1)
    val plan = similarity.AnnIndex.topK(spark, q3, i1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "vectors scan must carry a cell partition filter")
  }

  test("s06: an index over the whole corpus probing every cell serves s05's rows exactly") {
    import TestSpark.spark.implicits._
    // same ordered training sample → same codebooks and codes; with every
    // cell probed the pruned scan reads the whole corpus, so s06 is s05's
    // ADC scan and re-rank over the same codes
    val indexDir = java.nio.file.Files.createTempDirectory("graft_s06_all").toString
    similarity.AnnIndex.buildIndex(spark, sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v")), indexDir)
    val served = similarity.AnnIndex.topK(spark,
      similarity.Similarity.pqQueryDefault(spark, sf), indexDir,
      nProbe = similarity.Similarity.IvfCells, excludeSelf = true).collect().toSeq
    val pq = similarity.Similarity.pqTopK(spark, sf).collect().toSeq
    assert(served.nonEmpty)
    assert(served == pq)
  }

  test("serving paths refuse a query batch over MaxServeBatch, naming the s07 path") {
    import TestSpark.spark.implicits._
    // a corpus-sized "request" frame: the driver-collect contract must
    // fail loudly BEFORE collecting it (the limit bounds the collect)
    val oversized = spark.range(0, similarity.Similarity.MaxServeBatch + 1L)
      .select($"id".as("vec_id"),
        array(lit(1.0), lit(0.0), lit(0.0), lit(0.0)).as("v"))
    val e1 = intercept[IllegalArgumentException] {
      similarity.Similarity.pqTopKWith(spark, sf, oversized).collect()
    }
    assert(e1.getMessage.contains("MaxServeBatch") && e1.getMessage.contains("s07"))
  }

  test("s05: an explicit bounded query table drives the serving path") {
    import TestSpark.spark.implicits._
    val ids = Seq(0L, 200L, 400L)
    val queries = sources.Tables.embeddings(spark, sf)
      .filter($"vec_id".isin(ids: _*))
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // corpus-drawn request batch -> excludeSelf like the default path
    val r = similarity.Similarity.pqTopKWith(spark, sf, queries,
      excludeSelf = true).collect()
    assert(r.map(_.getLong(0)).toSet == ids.toSet)
    // an EXTERNAL-id batch must NOT self-exclude: corpus vec 0 is a valid
    // neighbor for an unrelated request that happens to be named 0
    val ext = similarity.Similarity.pqTopKWith(spark, sf, queries).collect()
    assert(ext.count(x => x.getLong(x.fieldIndex("query_id")) ==
      x.getLong(x.fieldIndex("neighbor_id"))) == ids.length,
      "identical vectors must surface as rank-1 neighbors when ids are external")
    r.groupBy(_.getLong(0)).values.foreach(g =>
      assert(g.length == similarity.Similarity.TopK))
    // per-query results are independent of the rest of the batch: the
    // explicit table agrees with the default derivation on shared queries
    def triples(rows: Array[org.apache.spark.sql.Row]) = rows.map(x =>
      (x.getLong(x.fieldIndex("query_id")), x.getInt(x.fieldIndex("rnk")),
        x.getLong(x.fieldIndex("neighbor_id")))).toSet
    val dflt = similarity.Similarity.pqTopK(spark, sf).collect()
      .filter(row => ids.contains(row.getLong(row.fieldIndex("query_id"))))
    assert(triples(r) == triples(dflt))
  }

  test("s05b: external serving row surfaces each request's identical corpus vector at rank 1") {
    val r = similarity.Similarity.pqServe(spark, sf).collect()
    assert(r.nonEmpty)
    val off = similarity.Similarity.ServeIdOffset
    // every query id is external (re-keyed), and each query's rank-1
    // neighbor is its own corpus vector at exact cosine 1.0 (the re-rank
    // computes exact scores, and excludeSelf must stay off for external ids)
    assert(r.forall(x => x.getLong(x.fieldIndex("query_id")) >= off))
    val byQ = r.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == similarity.Similarity.TopK)
      val r1 = rows.find(x => x.getInt(x.fieldIndex("rnk")) == 1).get
      assert(r1.getLong(r1.fieldIndex("neighbor_id")) == qid - off)
      assert(r1.getDouble(r1.fieldIndex("cosine")) == 1.0)
    }
  }

  test("d03: the mega-bucket guard is a no-op when no bucket exceeds the cap") {
    val docs = sources.Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = rows(dedup.Dedup.minhashLsh(spark, sf))
    assert(uncapped.nonEmpty)
    // cap far above any sf bucket: identical pair set
    assert(rows(dedup.Dedup.minhashLshFrom(docs, bucketCap = 1 << 20)) == uncapped)
    // cap of 1 drops every bucket that could ever pair: empty pair set
    assert(dedup.Dedup.minhashLshFrom(docs, bucketCap = 1).isEmpty)
  }

  test("p08: curriculum sequence is a 0..n-1 permutation with non-decreasing bands") {
    val rows = operators.Curation.curriculum(spark, sf).collect()
    assert(rows.nonEmpty)
    val seqs = rows.map(_.getLong(0)).sorted
    assert(seqs.sameElements(0L until rows.length))
    // ascending-band curriculum: bands never decrease along the sequence
    val bands = rows.sortBy(_.getLong(0)).map(_.getInt(2))
    assert(bands.zip(bands.tail).forall { case (a, b) => a <= b })
  }

  test("p09: temperature resampling anchors the largest language at 1 epoch, upsamples by sqrt") {
    import TestSpark.spark.implicits._
    // 90/10 token split -> minority rate = sqrt(9) = 3.0 exactly (frac 0,
    // so the hash coin never fires and every minority doc gets 3 epochs).
    val docs = (
      (1 to 90).map(i => (i.toLong, "big", "w " * 9 + "w")) ++
      (1 to 10).map(i => (100L + i, "small", "w " * 9 + "w"))
    ).toDF("doc_id", "lang", "text")
    val r = operators.Curation.temperatureSampleFrom(docs).collect()
    val byLang = r.groupBy(_.getAs[String]("lang"))
    assert(byLang("big").forall(x =>
      x.getAs[Double]("rate") == 1.0 && x.getAs[Long]("n_epochs") == 1L))
    assert(byLang("small").forall(x =>
      x.getAs[Double]("rate") == 3.0 && x.getAs[Long]("n_epochs") == 3L))
    // after resampling the flattened share: 900 vs 10*10*3 = 300 emitted
    assert(r.map(_.getAs[Long]("emitted_tokens")).sum == 1200L)
  }

  test("p09: fractional rates round stochastically but deterministically, within one doc of exact") {
    import TestSpark.spark.implicits._
    // 9/4 token ratio -> rate = sqrt(2.25) = 1.5: each minority doc gets
    // 1 or 2 epochs by its salted hash coin, reproducibly.
    val docs = (
      (1 to 900).map(i => (i.toLong, "big", "w")) ++
      (1 to 400).map(i => (10000L + i, "small", "w"))
    ).toDF("doc_id", "lang", "text")
    val out = operators.Curation.temperatureSampleFrom(docs)
    val r = out.collect()
    val small = r.filter(_.getAs[String]("lang") == "small")
    assert(small.forall(x => { val e = x.getAs[Long]("n_epochs"); e == 1L || e == 2L }))
    val emitted = small.map(_.getAs[Long]("n_epochs")).sum
    // E[emitted] = 400 * 1.5 = 600; the polyHash coin is uniform enough
    // for a generous tolerance, and the exact value is pinned by rerun.
    assert(emitted > 520 && emitted < 680, s"emitted=$emitted")
    assert(out.collect().map(_.getAs[Long]("n_epochs")).toSeq ==
      r.map(_.getAs[Long]("n_epochs")).toSeq, "rerun must be identical")
    // corpus level: sf run emits at least every doc once, no corpus shuffle
    val sfOut = operators.Curation.temperatureSample(spark, sf)
    assert(sfOut.filter($"n_epochs" < 1).count() == 0)
    val plan = sfOut.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "p09 must be window-free")
  }

  test("m05: binaryFile ingestion round-trips every sampled asset byte-for-byte") {
    import TestSpark.spark.implicits._
    val got = multimodal.Multimodal.binaryIngest(spark, sf)
    val want = sources.Tables.documents(spark, sf)
      .filter($"doc_id" % multimodal.Multimodal.LakeStride === 0)
      .select($"doc_id", octet_length(encode($"text", "UTF-8")).cast("long").as("byte_len"),
        md5(encode($"text", "UTF-8")).as("content_md5"))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).count() == 0)
  }

  test("t10: per-doc top terms are capped at K, ranked contiguously, top-1 has the doc's max tf") {
    import TestSpark.spark.implicits._
    val k = operators.TextAnalysis.TfidfTopK
    val rows = operators.TextAnalysis.tfidfTopTerms(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach { g =>
      assert(g.length <= k)
      assert(g.map(_.getInt(g.head.fieldIndex("rk"))).sorted.sameElements(1 to g.length))
    }
    // spot-check one doc: rank-1 tf equals the true max term frequency
    val (docId, g0) = byDoc.head
    val top1 = g0.minBy(_.getInt(g0.head.fieldIndex("rk")))
    val maxTf = sources.Tables.documents(spark, sf)
      .filter($"doc_id" === docId)
      .select(explode(split($"text", " ")).as("t")).filter($"t" =!= "")
      .groupBy($"t").count().agg(max("count")).head.getLong(0)
    assert(top1.getLong(top1.fieldIndex("tf")) == maxTf)
  }

  test("t11: fuzzy decontamination equals the train-eval slice of the d03 near-dup graph") {
    val es = operators.TextAnalysis.EvalStride
    val t11 = operators.TextAnalysis.decontaminateFuzzy(spark, sf).collect()
    assert(t11.nonEmpty, "no contaminated train docs found — eval stride lost its near-dups")
    assert(t11.forall(_.getLong(0) % es != 0), "an eval doc leaked into the train output")
    // both ops share bands + exact-Jaccard verify + threshold, so t11 must
    // be EXACTLY the per-train-doc aggregation of d03's pairs that straddle
    // the eval stride — n_eval_matches the pair count, max_jaccard the max
    val straddle = dedup.Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (a % es == 0 && b % es != 0) Some((b, j))
        else if (a % es != 0 && b % es == 0) Some((a, j))
        else None
      }
    val expect = straddle.groupBy(_._1)
      .map { case (d, js) => (d, js.length.toLong, js.map(_._2).max) }.toSet
    val got = t11.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect, s"t11/d03 disagree:\n  t11-only: ${got -- expect}\n  d03-only: ${expect -- got}")
  }

  test("t12: redaction removes every detected PII span and only those docs change") {
    import org.apache.spark.sql.functions._
    val out = operators.TextAnalysis.piiRedact(spark, sf)
    // detection fires on the contaminated strata and nowhere else
    assert(out.filter(col("doc_id") % 7 === 0 && col("n_emails") =!= 1).count() == 0)
    assert(out.filter(col("doc_id") % 7 =!= 0 && col("n_emails") =!= 0).count() == 0)
    assert(out.filter(col("doc_id") % 11 === 0 && col("n_phones") =!= 1).count() == 0)
    assert(out.filter(col("doc_id") % 13 === 0 && col("n_ips") =!= 1).count() == 0)
    // no residual PII survives redaction
    assert(out.filter(
      col("redacted").rlike(operators.TextAnalysis.EmailPat) ||
      col("redacted").rlike(operators.TextAnalysis.PhonePat) ||
      col("redacted").rlike(operators.TextAnalysis.Ipv4Pat)).count() == 0)
    // and every redaction left its marker
    assert(out.filter(col("n_emails") === 1 && !col("redacted").contains("[EMAIL]")).count() == 0)
    assert(out.filter(col("n_phones") === 1 && !col("redacted").contains("[PHONE]")).count() == 0)
    assert(out.filter(col("n_ips") === 1 && !col("redacted").contains("[IP]")).count() == 0)
  }

  test("p11: manifest fingerprints detect edits and reconcile with the corpus") {
    val m = operators.Curation.corpusManifest(spark, sf).collect()
    val docs = sources.Tables.documents(spark, sf)
    assert(m.map(_.getLong(2)).sum == docs.count())
    assert(m.map(_.getLong(3)).sum ==
      docs.agg(sum("n_chars")).head.getLong(0))
    // a one-byte edit to one doc flips exactly that group's fingerprint
    import TestSpark.spark.implicits._
    val edited = docs.withColumn("text",
      when(col("doc_id") === m.head.getLong(4), concat(col("text"), lit("x")))
        .otherwise(col("text")))
    val dir2 = java.nio.file.Files.createTempDirectory("graft_p11").toString
    edited.write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val m2 = operators.Curation.corpusManifest(spark, dir2).collect()
    val k = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getString(1))
    val fp1 = m.map(r => k(r) -> r.getLong(6)).toMap
    val fp2 = m2.map(r => k(r) -> r.getLong(6)).toMap
    val changed = fp1.keySet.filter(g => fp1(g) != fp2.getOrElse(g, Long.MinValue))
    assert(changed.size == 1, s"exactly one group must change, got $changed")
  }

  test("t14: BPE merges match the reference on the classic corpus") {
    import TestSpark.spark.implicits._
    // Sennrich's canonical example family: shared prefixes merge first
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.bpeTrainFrom(docs)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    val wordCounts = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val want = ReferenceTwins.bpeReference(wordCounts)
    assert(got.toSeq == want, s"got=${got.toSeq}\nwant=$want")
    // the classic first merge: 'e','s' (9 weighted occurrences)
    assert(got.head == ((1, "e", "s", 9L)))
  }

  test("t14: corpus run matches the reference BPE on the sf word dictionary") {
    import TestSpark.spark.implicits._
    val wordCounts = sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ReferenceTwins.bpeReference(wordCounts)
    val got = operators.TextAnalysis.bpeTrain(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.toSeq == want)
    assert(got.nonEmpty && got.map(_._1).toSeq == (1 to got.length))
  }

  test("t16: distributed encode reproduces the reference stream on the classic corpus") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "low low lower lowest"),
      (2L, "newest news widest"),
      (3L, "the newest lowest low"),
      (4L, "low lower newest newest widest widest")).toDF("doc_id", "text")
    val merges = operators.TextAnalysis.bpeTrainFrom(docs)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val got = operators.TextAnalysis.bpeEncodeTokens(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val want = ReferenceTwins.bpeEncodeReference(text, merges)
      assert(got(id) == want, s"doc $id: got=${got(id)} want=$want")
    }
    // merged symbols actually appear: the encode is non-vacuous
    val mergedSyms = merges.map { case (l, r) => l + r }.toSet
    assert(got.values.flatten.exists(mergedSyms.contains))
  }

  test("t16: corpus encode parity on an sf sample + conservation laws corpus-wide") {
    val merges = operators.TextAnalysis.bpeMergesFor(spark, sf)
    val sample = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).orderBy("doc_id").limit(25).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = operators.TextAnalysis.bpeEncodeTokens(
        sources.Tables.documents(spark, sf).select(col("doc_id"), col("text")),
        merges)
      .filter(col("doc_id").isin(sample.keys.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    sample.foreach { case (id, text) =>
      assert(got(id) == ReferenceTwins.bpeEncodeReference(text, merges),
        s"doc $id diverged")
    }
    // gated row: chars conserve (concatenated symbols == word chars),
    // every doc present, n_tokens between n_words (full merge) and chars
    val out = operators.TextAnalysis.bpeEncode(spark, sf).collect()
    assert(out.length == sources.Tables.documents(spark, sf).count())
    out.foreach { r =>
      val (nWords, nTokens, nChars) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(nTokens >= nWords && nTokens <= nChars || (nWords == 0 && nTokens == 0),
        s"doc ${r.getLong(0)}: words=$nWords tokens=$nTokens chars=$nChars")
    }
  }

  test("t16b: conservation row == independent raw-text derivation (the oracle identity)") {
    // the gated row derives n_chars/stream_hash from the ENCODED tokens;
    // this recomputes both straight from the raw text (the DuckDB oracle's
    // derivation path, in-engine) and pins row-for-row equality — plus the
    // separator-free reconstruction law the row rests on
    val got = operators.TextAnalysis.bpeConservation(spark, sf)
    val want = sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(filter(functions.TextFunctions.tokens(col("text")), w => w =!= ""))
          .as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("n_chars"),
        functions.TextFunctions.polyHash(regexp_replace(col("text"), " ", ""))
          .as("stream_hash"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() == sources.Tables.documents(spark, sf).count() && got.count() > 0)
  }

  test("p10: repetition schedule is a gapless sequence with band-correct copy counts") {
    val out = operators.Curation.qualityRepeat(spark, sf).cache()
    try {
      val n = out.count()
      // seq is an exact gapless 0..n-1 permutation
      assert(out.agg(min("seq"), max("seq"), countDistinct("seq")).head() match {
        case r => r.getLong(0) == 0L && r.getLong(1) == n - 1 && r.getLong(2) == n
      })
      // every doc appears exactly repeats(band) times
      val perDoc = out.groupBy("doc_id", "band").count()
      assert(perDoc.filter(
        col("band") === operators.Curation.CurriculumBands - 1 &&
          col("count") =!= operators.Curation.RepeatTop).count() == 0)
      assert(perDoc.filter(
        col("band") === operators.Curation.CurriculumBands - 2 &&
          col("count") =!= operators.Curation.RepeatMid).count() == 0)
      assert(perDoc.filter(
        col("band") < operators.Curation.CurriculumBands - 2 &&
          col("count") =!= 1).count() == 0)
      // passes are contiguous: every pass-1 position precedes every pass-2
      val p1max = out.filter(col("copy_idx") === 1).agg(max("seq")).head.getLong(0)
      val p2min = out.filter(col("copy_idx") === 2).agg(min("seq")).head.getLong(0)
      assert(p1max < p2min)
    } finally { out.unpersist(); () }
  }

  test("t13: naive Bayes recovers a separable synthetic vocabulary") {
    import TestSpark.spark.implicits._
    // two languages with disjoint vocabularies; eval docs (id % 10 == 0)
    // use their language's words, so a correct model classifies them all
    val docs = (1L to 40L).map { i =>
      val lang = if (i % 2 == 0) "aa" else "bb"
      val word = if (lang == "aa") "alpha" else "beta"
      (i, lang, s"$word $word common$i $word")
    }.toDF("doc_id", "lang", "text")
    val out = operators.TextAnalysis.nbClassifierFrom(docs).collect()
    assert(out.length == 4) // ids 10, 20, 30, 40
    assert(out.forall(_.getBoolean(3)), out.mkString("; "))
  }

  test("t13: gated corpus run is total over the eval split and stays in-model") {
    // the sf corpus's lang labels are uncorrelated with its synthetic
    // text, so accuracy is not meaningful here (the separable-vocabulary
    // test above carries the quality assertion); this pins the contract:
    // one verdict per tokenized eval doc, predictions only from trained
    // classes, deterministic across runs
    val out = operators.TextAnalysis.nbClassifier(spark, sf).cache()
    try {
      val evalDocs = sources.Tables.documents(spark, sf)
        .filter(col("doc_id") % operators.TextAnalysis.NbEvalStride === 0 &&
          length(trim(col("text"))) > 0)
      assert(out.count() == evalDocs.count())
      val trainLangs = sources.Tables.documents(spark, sf)
        .filter(col("doc_id") % operators.TextAnalysis.NbEvalStride =!= 0)
        .select(col("lang").as("pred_lang")).distinct()
      assert(out.join(trainLangs, Seq("pred_lang"), "left_anti").count() == 0)
      val again = operators.TextAnalysis.nbClassifier(spark, sf)
      assert(out.exceptAll(again).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("d14: semantic clusters cover the corpus and respect the d05 edge set") {
    val clusters = dedup.Dedup.semanticClusters(spark, sf).cache()
    try {
      val vecs = sources.Tables.embeddings(spark, sf)
      assert(clusters.count() == vecs.count())
      // every d05 near-dup pair lands in one cluster
      val pairs = dedup.Dedup.embeddingCosine(spark, sf)
        .select(col("vec_a"), col("vec_b"))
      val ca = clusters.select(col("vec_id").as("vec_a"), col("cluster_id").as("cl_a"))
      val cb = clusters.select(col("vec_id").as("vec_b"), col("cluster_id").as("cl_b"))
      assert(pairs.join(ca, "vec_a").join(cb, "vec_b")
        .filter(col("cl_a") =!= col("cl_b")).count() == 0)
      // exactly one canonical per cluster, and it is the cluster minimum
      assert(clusters.filter(col("is_canonical")).count() ==
        clusters.select("cluster_id").distinct().count())
      assert(clusters.filter(col("is_canonical") && col("vec_id") =!= col("cluster_id"))
        .count() == 0)
      // vectors touching no edge are singletons
      val touched = pairs.select(col("vec_a").as("vec_id"))
        .unionByName(pairs.select(col("vec_b").as("vec_id"))).distinct()
      assert(clusters.join(touched, Seq("vec_id"), "left_anti")
        .filter(col("cluster_size") =!= 1).count() == 0)
    } finally { clusters.unpersist(); () }
  }

  test("s08: range search returns exactly the above-threshold slice of the query's cell") {
    val out = similarity.Similarity.rangeSearch(spark, sf).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("cosine") < similarity.Similarity.RangeTau - 1e-6).count() == 0)
      // range search at tau must contain every s01 brute-force top-k hit
      // scoring >= tau for the same queries, label permitting: on this
      // corpus the brute top-k above tau IS within-label (check it), so
      // containment is exact
      val brute = similarity.Similarity.bruteForceTopK(spark, sf)
        .filter(col("cosine") >= similarity.Similarity.RangeTau)
        .select("query_id", "neighbor_id")
      val missing = brute.join(out.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      // any miss must be a cross-label pair (outside s08's declared block)
      val vecs = sources.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label"))
      val withinLabelMisses = missing
        .join(vecs.toDF("query_id", "ql"), "query_id")
        .join(vecs.toDF("neighbor_id", "nl"), "neighbor_id")
        .filter(col("ql") === col("nl"))
      assert(withinLabelMisses.count() == 0,
        "a within-label above-threshold neighbor was missed")
    } finally { out.unpersist(); () }
  }

  test("s07: knn graph restricted to the stride queries reproduces s03 exactly") {
    val graph = similarity.Similarity.knnGraph(spark, sf)
      .filter(col("vec_id") % similarity.Similarity.QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    val ivf = similarity.Similarity.ivfTopK(spark, sf)
      .select("query_id", "rnk", "neighbor_id", "cosine")
    assert(graph.exceptAll(ivf).count() == 0 && ivf.exceptAll(graph).count() == 0)
  }

  test("s07: the mutual flag is symmetric and marks exactly the reciprocated edges") {
    val g = similarity.Similarity.knnGraph(spark, sf)
      .select("vec_id", "neighbor_id", "mutual").cache()
    try {
      val edges = g.select("vec_id", "neighbor_id")
      val reciprocated = edges
        .join(edges.toDF("neighbor_id", "vec_id"), Seq("vec_id", "neighbor_id"), "left_semi")
      // mutual <=> the reversed edge exists in the graph
      val mut = g.filter(col("mutual")).select("vec_id", "neighbor_id")
      assert(mut.exceptAll(reciprocated).count() == 0)
      assert(reciprocated.exceptAll(mut).count() == 0)
      assert(mut.count() % 2 == 0) // mutual edges come in pairs
    } finally { g.unpersist(); () }
  }

  test("m06: dHash gradient bits - monotone raster all-ones, flat raster zero") {
    val M = multimodal.Multimodal
    // row-major 9x8 grids: strictly increasing along x -> every comparison
    // fires (all 63 bits); constant -> none (strict >)
    val rising = Array.tabulate(72)(k => (k % 9) * 10)
    val flat = Array.fill(72)(128)
    assert(M.dhashBits(rising) == Long.MaxValue) // 63 low bits set, sign clear
    assert(M.dhashBits(flat) == 0L)
  }

  test("m06: perceptual near-dup - one-pixel edit survives, inversion does not") {
    import TestSpark.spark.implicits._
    val M = multimodal.Multimodal
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        36, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 36) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = png((x, _) => x * 7)            // left-to-right brightening
    val edited = png((x, y) => if (x == 18 && y == 12) 0 else x * 7) // one dead pixel
    val inverted = png((x, _) => 255 - x * 7)  // reversed gradient
    val hBase = M.pHash64(base)
    val hEdit = M.pHash64(edited)
    val hInv = M.pHash64(inverted)
    assert(java.lang.Long.bitCount(hBase ^ hEdit) <= M.PHashHammingMax)
    assert(java.lang.Long.bitCount(hBase ^ hInv) > M.PHashHammingMax)
    // the full banded pipeline reaches the same verdicts on REAL rasters
    val docs = Seq((10L, base), (20L, edited), (30L, inverted))
      .toDF("doc_id", "payload")
    val out = M.imagePhashFrom(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(20L).getBoolean(2) && out(20L).getLong(3) == 10L) // edit ~ base
    assert(!out(30L).getBoolean(2)) // inversion is its own image
    assert(!out(10L).getBoolean(2)) // the earliest copy is canonical
  }

  test("m06: the mega-bucket cap bounds dup-set pair enumeration") {
    import TestSpark.spark.implicits._
    val big = (1L to 50L).map(i => (i * 3, "mega duplicate payload body " * 8))
    val small = Seq((201L * 3, "tiny pair text " * 8), (202L * 3, "tiny pair text " * 8))
    val docs = (big ++ small).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val capped = multimodal.Multimodal.imagePhashFrom(docs, bucketCap = 8)
    // the 50-deep identical set exceeds the cap in every band -> no pair
    // evidence for it (a 100 TB run routes it to the exact-hash group
    // form); the 2-doc set stays under the cap and is still flagged
    assert(capped.filter(col("doc_id") <= 150L && col("is_dup")).count() == 0)
    assert(capped.filter(col("doc_id") === 202L * 3 && col("is_dup")).count() == 1)
    // uncapped keeps the full pair contract
    val full = multimodal.Multimodal.imagePhashFrom(docs)
    assert(full.filter(col("doc_id") <= 150L && col("is_dup")).count() == 49)
  }

  test("m06: gated corpus run - exact text copies hash identically") {
    val out = multimodal.Multimodal.imagePhash(spark, sf)
    val docs = sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0 && length(col("text")) > 0)
    assert(out.count() == docs.count())
    // every image doc whose text equals an EARLIER image doc's text must
    // be flagged with a hamming-0 match (identical pseudo-grids)
    val firstIds = docs.groupBy("text")
      .agg(min("doc_id").as("first_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val laterCopies = docs.join(firstIds, "text")
      .filter(col("doc_id") > col("first_id"))
      .select(col("doc_id"))
    val flagged = out.filter(col("is_dup") && col("hamming") === 0)
      .select(col("doc_id"))
    assert(laterCopies.join(flagged, "doc_id").count() == laterCopies.count())
  }

  test("t17: Kneser-Ney distributes to exactly 1 over the continuation vocabulary") {
    import TestSpark.spark.implicits._
    // small corpus with shared continuations (the "Francisco" effect:
    // 'z' frequent but follows only 'y')
    val docs = Seq(
      (1L, "a b a b a c b c a b"),
      (2L, "b a c a b a a y z"),
      (3L, "c b a b y z y z y z")).toDF("doc_id", "text")
    val model = operators.TextAnalysis.knBigramFrom(docs)
      // the gated row filters c2 >= BigramMinCount for corpus-noise
      // reasons; the identity needs the FULL type table, so recompute the
      // unfiltered model by lowering nothing — knBigramFrom filters late,
      // so read all rows by joining the pieces ourselves via the model's
      // carried counts on an unfiltered twin
      .collect()
    // reconstruct the unfiltered model directly (same arithmetic)
    val toks = docs.collect().flatMap(_.getString(1).split(" ").sliding(2).map(a => (a(0), a(1))))
    val c2 = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nAfter = c2.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nBefore = c2.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nTypes = c2.size.toDouble
    val D = operators.TextAnalysis.KnDiscount
    val contVocab = nBefore.keys.toSeq
    c1.keys.foreach { w1 =>
      val lambda = D * nAfter(w1) / c1(w1)
      val total = contVocab.map { w2 =>
        val disc = math.max(c2.getOrElse((w1, w2), 0L).toDouble - D, 0.0) / c1(w1)
        disc + lambda * (nBefore(w2) / nTypes)
      }.sum
      assert(math.abs(total - 1.0) < 1e-9, s"sum for '$w1' = $total")
    }
    // and the engine's carried counts agree with the independent ones on
    // every emitted row (c2 >= min-count slice)
    model.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == c2((w1, w2)) && r.getLong(3) == c1(w1))
      assert(r.getLong(4) == nAfter(w1) && r.getLong(5) == nBefore(w2))
      val want = math.floor((math.max(c2((w1, w2)) - D, 0.0) / c1(w1) +
        D * nAfter(w1) / c1(w1) * (nBefore(w2) / nTypes)) * 1e6 + 0.5) / 1e6
      assert(math.abs(r.getDouble(7) - want) < 1e-12, s"p_kn($w1,$w2)")
    }
    assert(model.nonEmpty)
  }

  test("m07: fallback envelope hash matches a hand computation") {
    val M = multimodal.Multimodal
    val bytes = Array.tabulate[Byte](200)(i => ((i * 7) % 251).toByte)
    val got = M.audioFp64(bytes).get
    // independent recompute: 32 window means, gradient fold
    val means = (0 until 32).map { i =>
      val s = i * 200 / 32; val e = (i + 1) * 200 / 32
      (s until e).map(j => (bytes(j) & 0xff).toLong).sum / (e - s)
    }
    var want = 0L
    (0 until 31).foreach(p => if (means(p + 1) > means(p)) want |= 1L << p)
    assert(got == want)
    assert(got >= 0L)
    assert(M.audioFp64(Array.tabulate[Byte](31)(_.toByte)).isEmpty,
      "short payloads must be excluded, same as the oracle's len filter")
  }

  test("m07: real PCM envelope ignores container layout; the fallback cannot") {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // rising staircase PCM (data-aligned windows are strictly increasing);
    // the metadata variant carries a LARGE 0xFF LIST chunk, so the raw
    // BYTE view's early windows saturate at 255 while the decoded view is
    // untouched
    val data = Array.tabulate[Byte](16000)(i => ((i / 500) * 3).toByte)
    def wav(extra: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ le32(36 + extra.length + data.length) ++ "WAVE".getBytes ++
        ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
          le32(32000) ++ le16(4) ++ le16(16)) ++
        extra ++ ("data".getBytes ++ le32(data.length) ++ data)
    val plain = wav(Array.empty)
    val withList = wav("LIST".getBytes ++ le32(3000) ++ Array.fill[Byte](3000)(-1))
    val M = multimodal.Multimodal
    // same PCM, different container bytes: REAL decode hashes equal
    assert(M.audioFp64(plain).get == M.audioFp64(withList).get)
    // ... which the raw-byte view of the same two payloads would not
    assert(M.byteEnvelope(plain).map(M.envelopeBits) !=
      M.byteEnvelope(withList).map(M.envelopeBits))
    // corrupt header falls THROUGH the decode to the byte fallback, total
    assert(M.audioFp64(plain.take(100)).isDefined)
  }

  test("m07: near-identical PCM flags within the radius, different content does not") {
    import TestSpark.spark.implicits._
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def wav(data: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
        ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
          le32(16000) ++ le16(2) ++ le16(16)) ++
        ("data".getBytes ++ le32(data.length) ++ data)
    // a strong sawtooth envelope (window w is constant (w*17)%97); the
    // edit drops window 5 (mean 85) below window 4 (mean 68), flipping
    // exactly the w4<w5 gradient bit
    val base = Array.tabulate[Byte](3200)(i => ((i / 100) * 17 % 97).toByte)
    val edited = base.clone()
    (500 until 600).foreach(i => edited(i) = (edited(i) - 40).toByte)
    val other = Array.tabulate[Byte](3200)(i => (255 - (i / 100) * 23 % 89).toByte)
    val docs = Seq((1L, wav(base)), (2L, wav(edited)), (3L, wav(other)))
      .toDF("doc_id", "payload")
    val out = multimodal.Multimodal.audioFingerprintFrom(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    val M = multimodal.Multimodal
    val hamming12 = java.lang.Long.bitCount(
      M.audioFp64(wav(base)).get ^ M.audioFp64(wav(edited)).get)
    assert(hamming12 >= 1 && hamming12 <= M.AfpHammingMax,
      s"single-window edit moved $hamming12 bits")
    assert(out(2L).getBoolean(2) && out(2L).getLong(3) == 1L)
    assert(!out(3L).getBoolean(2), "unrelated content must not flag")
  }

  test("m07: gated corpus run - exact text copies hash identically") {
    val out = multimodal.Multimodal.audioFingerprint(spark, sf)
    val docs = sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 1 &&
        length(col("text")) >= multimodal.Multimodal.AfpWindows)
    assert(out.count() == docs.count())
    val firstIds = docs.groupBy("text")
      .agg(min("doc_id").as("first_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val laterCopies = docs.join(firstIds, "text")
      .filter(col("doc_id") > col("first_id"))
      .select(col("doc_id"))
    val flagged = out.filter(col("is_dup") && col("hamming") === 0)
      .select(col("doc_id"))
    assert(laterCopies.join(flagged, "doc_id").count() == laterCopies.count())
  }
}
