package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Land a mult×-replicated copy of an sf dir (default: sf0.1 × 10 ≈ sf1)
  * so the regular `graft.Bench` can run a second scale factor
  * (`SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_ONLY=...`): VERDICT r11
  * task 8 — the driver benches only sf0.1, and superlinear terms a 0.1
  * corpus can't show need one larger sweep.
  *
  * Replication axes (chosen so growth is the axis a cluster widens on,
  * and so no pair-path becomes quadratic-by-construction):
  *  - `events`: user_id/event_id id-shifted per replica — 10× series,
  *    per-series history fixed (the bars/CCI/as-of shape).
  *  - `orders`/`lineitem`: order keys shifted; values verbatim (quantile
  *    answers stay comparable across sf, group-key set identical).
  *  - `documents`: doc ids shifted AND every token replica-suffixed:
  *    shingles stay replica-local so true near-dup pair volume grows ∝
  *    corpus — verbatim replication would grow d03's OUTPUT
  *    quadratically (dup sets 10× deeper ⇒ 100× pairs), which is a
  *    property of the corpus, not the operator; LlmOpsSpec's bucket-cap
  *    cases gate that hot shape separately.
  *  - `embeddings` + small dims: copied verbatim (the swept entries
  *    don't read them; kept so the dir is a complete table set).
  */
object MakeScaledSf {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.plainBuilder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def reps: DataFrame = spark.range(mult).toDF("rep")
    def land(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def copy(name: String): Unit =
      land(spark.read.parquet(s"$srcDir/$name.parquet"), name)

    land(graft.sources.Tables.events(spark, srcDir)
      .crossJoin(broadcast(reps))
      .select(($"event_id" + $"rep" * 1000000000L).as("event_id"), $"ts",
        ($"user_id" + $"rep" * 10000000L).as("user_id"),
        $"event_type", $"value", $"props"), "events")
    land(spark.read.parquet(s"$srcDir/orders.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("o_orderkey", $"o_orderkey" + $"rep" * 1000000000L)
      .drop("rep"), "orders")
    land(spark.read.parquet(s"$srcDir/lineitem.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("l_orderkey", $"l_orderkey" + $"rep" * 1000000000L)
      .drop("rep"), "lineitem")
    land(spark.read.parquet(s"$srcDir/documents.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("doc_id", $"doc_id" + $"rep" * 10000000L)
      .withColumn("text", regexp_replace($"text", lit("(\\S+)"),
        concat(lit("$1_"), $"rep".cast("string"))))
      .drop("rep"), "documents")
    // embeddings (round-14, for the sf10 ANN rehearsal): id-shifted AND
    // component-perturbed per replica — verbatim replication would make
    // every vector a 100-way exact duplicate (top-k all ties, cells with
    // degenerate centroids), while a small deterministic per-(replica,
    // vector) rotation keeps the corpus geometry honest: 10× vectors,
    // cluster structure preserved, no two replicas identical. The swept
    // ANN entries are bench-only at scaled dirs (the oracle gates run at
    // the driver SFs), so the perturbation changes no gated row. Replica
    // 0 is left UNPERTURBED (the sin term is gated by signum(rep), zero
    // for rep 0 and 1 otherwise so the perturbation AMPLITUDE stays 0.05
    // for every other replica — ADVICE round-14): the base slice of a
    // scaled dir is then bit-identical to the source corpus, so even if
    // a recall spec or oracle gate is ever (mis)pointed at a scaled dir,
    // the rows it anchors on still exist verbatim.
    land(spark.read.parquet(s"$srcDir/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("vec_id", $"vec_id" + $"rep" * 10000000L)
      .withColumn("embedding", transform($"embedding",
        (x, i) => (x + signum($"rep") *
          sin(($"rep" + lit(1)) * (i + lit(1)) * 0.7) * 0.05f)
          .cast("float")))
      .drop("rep"), "embeddings")
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(copy)
    println(s"""{"made":"$outDir","mult":$mult}""")
    spark.stop()
  }
}
