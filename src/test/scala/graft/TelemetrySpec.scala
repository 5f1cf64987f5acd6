package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkListeners
import org.scalatest.funsuite.AnyFunSuite

/** r38: the engine-native resource monitor. Values are host-dependent so
  * the driver row is rows-only; this spec pins the structural invariants
  * a shuffling parquet aggregation MUST exhibit — if the listener wiring
  * or the fence flush broke, these go to zero. */
class TelemetrySpec extends AnyFunSuite {
  import TestSpark._

  test("r38: a shuffling scan reports jobs, tasks, input and both shuffle sides") {
    val m = Telemetry.telemetryQuery(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set("n_jobs", "n_stages", "n_tasks", "task_time_ms",
      "gc_time_ms", "input_bytes", "shuffle_read_bytes",
      "shuffle_write_bytes", "peak_exec_memory_bytes"))
    assert(m("n_jobs") >= 1, m.toString)
    assert(m("n_stages") >= 2, "q01's agg needs a map and a reduce stage")
    assert(m("n_tasks") >= 2, m.toString)
    assert(m("input_bytes") > 0, "the parquet scan must report bytes read")
    assert(m("shuffle_write_bytes") > 0, "the partial agg writes the exchange")
    assert(m("shuffle_read_bytes") > 0, "the final agg reads the exchange")
    assert(m("peak_exec_memory_bytes") >= 0)
  }

  test("r38: the listener detaches — a second measurement starts from zero") {
    val a = Telemetry.telemetryQuery(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Telemetry.telemetryQuery(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // same workload measured twice: if the first listener leaked, the
    // second run would double-count its events
    assert(b("n_jobs") == a("n_jobs"), s"$a vs $b")
    assert(b("n_stages") == a("n_stages"), s"$a vs $b")
  }

  test("record returns exactly the body's jobs, one from another thread included, and none of the fence's") {
    // two jobs told apart by job group; the fence job would be a third
    val sc = spark.sparkContext
    def job(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(1 to 8, 2).count() finally sc.clearJobGroup()
    }
    val r = Telemetry.record(spark) {
      job("graft.test.caller")
      val other = new Thread(() => job("graft.test.other"))
      other.start()
      other.join()
    }
    assert(r.jobs.size == 2 && r.jobs.flatMap(_.property("spark.jobGroup.id")).sorted ==
      Seq("graft.test.caller", "graft.test.other"), r.jobs)
  }

  test("record sums the metrics of the body's stages and none of the fence's") {
    // one job: a 3-task map stage writing the shuffle and a 2-task reduce
    // stage reading it; the one-task fence stage would make it 3 and 6
    val sc = spark.sparkContext
    val r = Telemetry.record(spark) {
      sc.parallelize(1 to 600, 3).map(i => (i % 7, i)).reduceByKey(_ + _, 2).count()
    }
    assert((r.jobs.size, r.stages, r.tasks) == ((1, 2, 5L)), r)
    assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes == r.shuffleWriteBytes, r)
  }

  test("record removes its listener when the body throws") {
    val before = SparkListeners.of(spark)
    var during = Seq.empty[AnyRef]
    val e = intercept[IllegalStateException] {
      Telemetry.record(spark) {
        during = SparkListeners.of(spark)
        throw new IllegalStateException("the body failed")
      }
    }
    assert(e.getMessage == "the body failed")
    assert(during.size == before.size + 1, "record attached no listener")
    assert(SparkListeners.of(spark) == before)
  }

  test("src/main and src/test hold one SparkListener, Telemetry's") {
    val listener = "\\b(?:extends|with|new)\\s+SparkListener\\b".r
    val found = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(p => listener.findAllMatchIn(Files.readString(p)).map(_ => p.toString))
    }
    assert(found == Seq("src/main/scala/graft/Telemetry.scala"), found)
  }
}
