package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.CciPipeline
import graft.operators.CciPipeline.GridConfig

/** v12: the STREAMING twin of the composed daily run (graft.Daily / r32) —
  * events arrive as a stream instead of being fetched by a scheduler, and
  * every micro-batch lands its delta into the same append-only workspace
  * shape: bars aggregated per batch, incremental CCI recomputed from the
  * persisted base (work ∝ batch + (N−1)·touched series), each written to
  * a `run_b=<batchId>` partition.
  *
  * Contract (the r30 append contract, per micro-batch): a batch carries
  * WHOLE days, strictly after every prior batch's days for each touched
  * series — the natural shape of a daily bar feed, where day d's bar is
  * published once d closes. Under it the final CCI state is bit-equal to
  * the one-shot full recompute over all streamed events (spec-gated).
  *
  * Fault tolerance: Structured Streaming replays a crashed micro-batch
  * from its checkpoint with the SAME batchId; both writes below overwrite
  * exactly their own `run_b=<batchId>` partitions and the base reads only
  * the committed (`_SUCCESS`) `run_b < batchId` partitions, so a replay is
  * file-for-file idempotent and a torn write is never read — the v10
  * lesson (never merge into state a crashed attempt may have touched)
  * applied via partition isolation instead of a manifest.
  *
  * Scale shape: identical to the batch loop, whose resume step it runs
  * ([[CciPipeline.cciIncrementalDelta]]) — per-batch cost tracks the
  * delta, and the base is touched only through a series-pruned semi join
  * into per-series state rows. */
object DailyStream {

  /** Workspace for the streamed variant: same append-only layout as
    * graft.Daily, partitioned by BATCH id (the stream's unit of progress)
    * rather than run date. */
  final case class StreamWorkspace(root: String) {
    def barsDir: String = s"$root/bars"
    def cciDir: String = s"$root/cci"
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def readEventStream(spark: SparkSession, streamDir: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1") // one feed file per micro-batch
      .parquet(streamDir)

  /** Land one micro-batch: bars delta + incremental CCI delta, each to its
    * own `run_b=<batchId>` partition. Public so the spec can drive replay
    * semantics deterministically; the streaming query wires it into
    * foreachBatch. */
  def ingestBatch(batch: DataFrame, ws: StreamWorkspace, batchId: Long,
      cfg: GridConfig = GridConfig()): Unit = {
    val spark = batch.sparkSession
    val deltaBars = graft.GraftSession.maybeCache(
      CciPipeline.barsFromEvents(batch))
    try {
      if (!deltaBars.isEmpty) {
        // bars are the durable RAW layer (same as the batch loop's bars
        // state): the CCI table derives from it, so a reprocessing run —
        // new indicator config, bug fix — replays bars without re-ingesting
        // the stream. Read back via readBarsState; spec-gated against the
        // batch bars.
        deltaBars.write.mode(SaveMode.Overwrite)
          .parquet(s"${ws.barsDir}/run_b=$batchId")
        // base = every batch COMMITTED before this one: a replayed batch
        // never sees its own crashed partition, and a torn write (no
        // _SUCCESS, possibly no files at all) is never read
        val committed = graft.Daily.runPartitions(spark, ws.cciDir, "run_b")
          .filter(c => c.committed && c.value.toLong < batchId)
        val base =
          if (committed.isEmpty) CciPipeline.cciFromBars(deltaBars.limit(0), cfg) // schema-only
          else spark.read.parquet(committed.map(c => s"${ws.cciDir}/run_b=${c.value}"): _*)
        CciPipeline.cciIncrementalDelta(base, deltaBars, cfg)
          .select(base.columns.map(col): _*)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${ws.cciDir}/run_b=$batchId")
      }
    } finally deltaBars.unpersist()
  }

  def ingestQuery(spark: SparkSession, streamDir: String, wsRoot: String,
      checkpointDir: String): StreamingQuery = {
    val ws = StreamWorkspace(wsRoot)
    readEventStream(spark, streamDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) => ingestBatch(batch, ws, id) }
      .start()
  }

  /** The materialized CCI state across all committed batches. */
  def readCciState(spark: SparkSession, ws: StreamWorkspace): DataFrame =
    spark.read.parquet(ws.cciDir).drop("run_b")

  /** The durable raw-bars layer across all committed batches — the input a
    * reprocessing run (new GridConfig) replays instead of the stream. */
  def readBarsState(spark: SparkSession, ws: StreamWorkspace): DataFrame =
    spark.read.parquet(ws.barsDir).drop("run_b")
}
