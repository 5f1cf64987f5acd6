package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session factory with graft's scale-oriented defaults.
  *
  * Local testing runs `local[32]`; the same settings are what we would ship
  * on a multi-executor cluster (AQE for runtime re-planning + skew-join
  * handling, modest shuffle partitioning that AQE coalesces further).
  */
object GraftSession {
  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, a static conf, default 100).
    * Guava splits the cap into 4 LRU segments, so at 100 a segment holds
    * 25 classes and graft's working set evicts itself. Counted with
    * `CodegenMetrics` on the perfbench shapes (local[4]): a cold grid
    * refresh compiles 111 classes, a curate pass 126, the daily bootstrap
    * 61 and the first two days 104 and 46 more. At 100 a warm refresh
    * recompiled 71 of its classes (1.3 s) and every steady day 155
    * (~2 s); at 1000 (250 a segment) a warm refresh compiles none and a
    * steady day 10 (0.16 s): the 5 classes that embed its own dates, each
    * compiled once under the driver's and once under the executor's
    * class loader (the cache keys on both).
    *
    * Cost: an entry keeps its source text (the key), its class and its
    * bytecode, so retained memory is bounded by the cap × class size.
    * Here a class averages 4–7 kB of source (the largest 128 kB) and
    * ~5 kB of bytecode; the daily workload's ~210 resident classes keep
    * ~3.7 MB more heap than 100 did. The cache changes no plan, job or
    * output, only whether a compiled class is found again. */
  val CodegenCacheEntries = 1000

  /** The static defaults every graft session carries, with or without
    * graft's extensions. `Bench`, `Verify` and `MakeScaledSf` run on this
    * bare builder, so their sessions stay extension-less like a plain
    * driver's; `builder` adds the extensions and AQE. */
  def plainBuilder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (the physical home of graft_topk /
      // graft_topk_ord / the sketch aggregates) spills to SORT-based
      // aggregation after this many distinct keys per task — the 128
      // default assumes unbounded per-group state, but every typed
      // aggregate this engine plans there is k-bounded (heaps) or
      // constant-size (sketches), so the hash path is safe far beyond
      // it. 64k entries × a k≤25 heap of ~100 B payloads ≈ 160 MB
      // worst-case per task; the sort fallback past that is still the
      // correct memory backstop, this just stops it from engaging on
      // every corpus-keyed (doc_id, query_id) aggregation at key 129.
      //
      // INVARIANT (session-global, so it binds every typed aggregate):
      // per-group buffer state must be BOUNDED — k-heaps, fixed-size
      // sketches, or groups bounded upstream. The raise weakens the
      // sort-fallback memory backstop 512x for anything unbounded.
      // Current collect_list/collect_set sites comply because their
      // groups are bounded before the collect (Dedup span groups are
      // per-document n-gram windows; Daily reco lists are per-user and
      // dimension-scale); a NEW operator collecting unbounded lists over
      // corpus-scale groups must scope this config back down around its
      // own execution (withSQLConf) rather than rely on the session value.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      // static: read once, when the first session in the JVM compiles
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // a whole-stage pipeline's class is named after its codegen stage
      // id, and AQE numbers stages in the order it creates them, which
      // follows the order earlier stages finish in. Named so, the same
      // pipeline under another id misses the codegen cache and compiles
      // again: a warm grid refresh compiled 4 classes when one broadcast
      // stage was created a step later than in the cold refresh.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // static: the SQL status store keeps each execution's UI data (plan
      // graph, metrics) on the heap even with the UI off, up to this many
      // executions (default 1000), and nothing in graft reads it. A long
      // session's retained heap then grew with every query it had run.
      .config("spark.sql.ui.retainedExecutions", "1")

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    plainBuilder(master, shufflePartitions)
      .withExtensions(new GraftExtensions)
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Shared-subtree caching for operators whose subtree is read by
    * several downstream plans (the CCI chain, dedup indexes).
    *
    * Always MEMORY_AND_DISK_SER, switched from MEMORY_AND_DISK on a
    * round-6 scaling measurement (PERF.md "Cache storage level"): at 512×
    * corpus the deserialized d02 inverted-index cache overflowed the
    * storage fraction and wall-clock went ×11.7 on ×4 data; serialized,
    * the same point is ×3.4 (bang on the linear projection, 199.6 s →
    * 65.5 s) and no measured operator got slower at any multiple.
    * Deserialized caching only wins when the working set comfortably
    * fits — which a 100 TB shuffle-heavy operator should never bet on.
    *
    * Lifetime stays with the caller: `spark.catalog.clearCache()` (or
    * `unpersist` on the returned Dataset) releases storage. */
  def maybeCache[T](ds: Dataset[T]): Dataset[T] =
    // Re-invocations rebuild an identical plan; CacheManager canonicalizes
    // and would reuse the existing entry but logs a WARN per call. Probe
    // the storage level first so repeat callers are silent no-ops.
    if (ds.storageLevel == StorageLevel.NONE) ds.persist(StorageLevel.MEMORY_AND_DISK_SER)
    else ds

  /** Eager local checkpoint: truncates lineage and materializes NOW
    * (needed when union/self-join branches would race a lazy cache). */
  def maybeEagerCheckpoint(ds: Dataset[_]): org.apache.spark.sql.DataFrame =
    ds.toDF().localCheckpoint(true)
}
