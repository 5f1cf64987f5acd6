package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CciPipeline
import graft.operators.CciPipeline.GridConfig
import graft.sources.Tables
import graft.streaming.DailyStream
import graft.streaming.DailyStream.StreamWorkspace

/** v12: the streaming twin of the composed daily run — day-ordered event
  * batches through foreachBatch must land a CCI state bit-equal to the
  * one-shot recompute, and micro-batch replays must be no-ops. */
class DailyStreamSpec extends AnyFunSuite {
  import TestSpark._
  import TestSpark.spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The corpus events split into day-ordered thirds (whole days, so each
    * chunk satisfies the append contract against the previous ones). */
  private lazy val dayChunks: Seq[DataFrame] = {
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .withColumn("d", to_date($"ts"))
    val days = ev.select($"d").distinct().orderBy($"d").collect().map(_.getDate(0))
    val cut = Seq(days(days.length / 3), days(2 * days.length / 3))
    Seq(
      ev.filter($"d" <= cut(0)),
      ev.filter($"d" > cut(0) && $"d" <= cut(1)),
      ev.filter($"d" > cut(1))).map(_.drop("d"))
  }

  private def sortedState(df: DataFrame) =
    df.select(df.columns.sorted.map(col): _*)
      .orderBy(col("user_id"), col("d")).collect()

  test("v12: streamed day-ordered batches land CCI state bit-equal to the one-shot recompute") {
    val streamDir = tmp("v12-feed")
    val ws = StreamWorkspace(tmp("v12-ws"))
    val q = DailyStream.ingestQuery(spark, streamDir, ws.root, tmp("v12-ckpt"))
    try {
      // feed one file per chunk; drain between writes so arrival order is
      // day order. The file must appear in the WATCHED dir atomically —
      // a plain copy races the source's directory listing (half-written
      // parquet footer → intermittent StreamingQueryException) — so stage
      // outside and ATOMIC_MOVE into place.
      dayChunks.zipWithIndex.foreach { case (chunk, i) =>
        val stage = tmp(s"v12-stage$i")
        chunk.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$streamDir/chunk_$i.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }
    } finally q.stop()

    val got = sortedState(DailyStream.readCciState(spark, ws))
    val want = sortedState(
      CciPipeline.cciFromBars(CciPipeline.ohlcBars(spark, sf), GridConfig()))
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }

    // the durable raw-bars layer equals the batch bars build: this is the
    // input a reprocessing run would replay instead of the stream
    val gotBars = sortedState(DailyStream.readBarsState(spark, ws))
    val wantBars = sortedState(CciPipeline.ohlcBars(spark, sf))
    assert(gotBars.length == wantBars.length)
    gotBars.zip(wantBars).foreach { case (a, b) => assert(a == b) }
  }

  test("v12: a replayed micro-batch overwrites its own partitions — state unchanged") {
    val ws = StreamWorkspace(tmp("v12-replay"))
    dayChunks.zipWithIndex.foreach { case (chunk, i) =>
      DailyStream.ingestBatch(chunk, ws, i.toLong)
    }
    val before = sortedState(DailyStream.readCciState(spark, ws))
    // Structured Streaming replays the LAST batch after a crash, same id
    DailyStream.ingestBatch(dayChunks.last, ws, (dayChunks.length - 1).toLong)
    val after = sortedState(DailyStream.readCciState(spark, ws))
    assert(before.length == after.length)
    before.zip(after).foreach { case (a, b) => assert(a == b) }
    // and the driven state equals the streamed state's oracle: the full
    // recompute (transitively pins ingestBatch == the query's foreachBatch)
    val want = sortedState(
      CciPipeline.cciFromBars(CciPipeline.ohlcBars(spark, sf), GridConfig()))
    assert(after.length == want.length)
    after.zip(want).foreach { case (a, b) => assert(a == b) }
  }

  test("v12: a batch-0 replay after a torn CCI write reads only committed partitions") {
    val ws = StreamWorkspace(tmp("v12-torn"))
    // a writer killed during batch 0's CCI write leaves only its
    // uncommitted temporary directory behind
    assert(new java.io.File(s"${ws.cciDir}/run_b=0/_temporary/0").mkdirs())
    dayChunks.zipWithIndex.foreach { case (chunk, i) =>
      DailyStream.ingestBatch(chunk, ws, i.toLong)
    }
    val got = sortedState(DailyStream.readCciState(spark, ws))
    val want = sortedState(
      CciPipeline.cciFromBars(CciPipeline.ohlcBars(spark, sf), GridConfig()))
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
  }

  test("r30/v12: the incremental fold equals the one-shot recompute at every window width") {
    // below width 3 the state step keeps more context rows than the window
    // reads; idx must still resume exactly
    val bars = CciPipeline.ohlcBars(spark, sf)
    val days = bars.select($"d").distinct().orderBy($"d").collect().map(_.getDate(0))
    val cut = lit(days(days.length - 7))
    Seq(1, 2, 3, 5).foreach { n =>
      val cfg = GridConfig(cciN = n)
      val want = sortedState(CciPipeline.cciFromBars(bars, cfg))
      val inc = sortedState(CciPipeline.cciIncrementalFrom(
        CciPipeline.cciFromBars(bars.filter($"d" < cut), cfg),
        bars.filter($"d" >= cut), cfg))
      assert(inc.length == want.length && want.nonEmpty, s"cciN=$n")
      inc.zip(want).foreach { case (a, b) => assert(a == b, s"cciN=$n\n$a\n$b") }

      val ws = StreamWorkspace(tmp(s"v12-width$n"))
      dayChunks.zipWithIndex.foreach { case (chunk, i) =>
        DailyStream.ingestBatch(chunk, ws, i.toLong, cfg)
      }
      val streamed = sortedState(DailyStream.readCciState(spark, ws))
      assert(streamed.length == want.length, s"cciN=$n")
      streamed.zip(want).foreach { case (a, b) => assert(a == b, s"cciN=$n\n$a\n$b") }
    }
  }
}
