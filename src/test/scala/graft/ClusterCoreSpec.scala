package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The d07 connected-components core on hand-built graphs, and the
  * lifetime contract of the frames built on it: every curation pass
  * re-reads its corpus and leaves nothing behind once the caller lets go. */
class ClusterCoreSpec extends AnyFunSuite {
  import TestSpark._
  import TestSpark.spark.implicits._

  private def rows(df: DataFrame) =
    df.select($"doc_id", $"cluster_id", $"cluster_size", $"is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

  test("d07: disjoint components and singletons keep their identities") {
    val docs = (0L to 9L).toDF("doc_id")
    // {0,1,2} via a chain, {5,7} via one edge, rest singletons
    val pairs = Seq((2L, 1L), (1L, 0L), (7L, 5L)).toDF("doc_a", "doc_b")
    val got = rows(dedup.Dedup.clustersFromPairs(docs, pairs))
    assert(got == Set(
      (0L, 0L, 3L, true), (1L, 0L, 3L, false), (2L, 0L, 3L, false),
      (3L, 3L, 1L, true), (4L, 4L, 1L, true),
      (5L, 5L, 2L, true), (6L, 6L, 1L, true), (7L, 5L, 2L, false),
      (8L, 8L, 1L, true), (9L, 9L, 1L, true)))
  }

  test("d07: empty pair set yields all-singleton clusters") {
    val docs = (0L to 4L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = rows(dedup.Dedup.clustersFromPairs(docs, pairs))
    assert(got == (0L to 4L).map(i => (i, i, 1L, true)).toSet)
  }

  /** A corpus directory whose documents table is a directory of parquet
    * files, seeded with the test corpus, so files can be appended to it. */
  private def corpusDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    Files.createDirectories(Paths.get(dir, "documents.parquet"))
    Files.copy(Paths.get(sf, "documents.parquet"),
      Paths.get(dir, "documents.parquet", "part-00000.parquet"))
    dir
  }

  private def curated(dir: String) =
    operators.Curation.curatedCorpus(spark, dir).collect().toSeq

  test("p03: documents appended under the corpus reach the clusters after refreshByPath") {
    val dir = corpusDir("graft_p03_append")
    val before = curated(dir)
    val docs = sources.Tables.documents(spark, dir)
    val maxId = docs.agg(max($"doc_id")).head.getLong(0)
    val (copyId, uniqueId) = (maxId + 1, maxId + 2)
    // a verbatim copy of a curated (canonical) doc under a new id, and a
    // new doc with no near-dup: another curated doc's tokens reversed (same
    // quality features, no shared shingle order)
    val Seq(src, rev) = before.take(2).map(_.getLong(0))
    docs.filter($"doc_id" === src).withColumn("doc_id", lit(copyId))
      .unionByName(docs.filter($"doc_id" === rev).withColumn("doc_id", lit(uniqueId))
        .withColumn("text", concat_ws(" ", reverse(split($"text", " ")))))
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    spark.catalog.refreshByPath(s"$dir/documents.parquet")
    val after = curated(dir)

    val fresh = Files.createTempDirectory("graft_p03_fresh").toString
    Files.walk(Paths.get(dir, "documents.parquet")).filter(Files.isRegularFile(_))
      .forEach { f =>
        val to = Paths.get(fresh).resolve(Paths.get(dir).relativize(f))
        Files.createDirectories(to.getParent)
        Files.copy(f, to)
      }
    val want = curated(fresh)
    assert(after.diff(want).isEmpty && want.diff(after).isEmpty,
      s"stale rows ${after.diff(want)}, missing rows ${want.diff(after)}")
    val ids = after.map(_.getLong(0)).toSet
    assert(ids.contains(uniqueId) && !ids.contains(copyId))
    assert(ids.contains(src))
  }

  test("p03: a curation pass releases its checkpoints once the caller drops the frame") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.keySet
    val dir = corpusDir("graft_p03_release")
    // materialize, then keep no reference to the frame
    assert(curated(dir).nonEmpty)
    spark.catalog.clearCache()
    def left = sc.getPersistentRDDs.keySet -- baseline
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(left.isEmpty, s"persistent RDDs left by the pass: ${left.toSeq.sorted}")
  }
}
