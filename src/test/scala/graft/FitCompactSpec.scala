package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-16 fit-input compaction gate (ml.Features.fitCompact):
  * at or below the 1M-row gate every fit input compacts to the former
  * constant 4 partitions (gated model outputs bit-identical); above it the
  * partition count must GROW with the input — and must grow even when
  * the input's scan has fewer splits than the target, which is why the
  * above-gate branch is a repartition (coalesce can only merge; the
  * sf100 rehearsal's "20-partition" fit silently ran on the scan's 4
  * until that was fixed). */
class FitCompactSpec extends AnyFunSuite {
  import TestSpark._

  test("below the row gate the input compacts to at most 4 partitions") {
    val df = spark.range(0, 1000, 1, 8).toDF("x") // 8 input partitions
    val out = ml.Features.fitCompact(df, 1000)
    assert(out.rdd.getNumPartitions == 4)
  }

  test("at the gate boundary (rows == gate) the small path still applies") {
    val df = spark.range(0, 100, 1, 8).toDF("x")
    assert(ml.Features.fitCompact(df, 1000000L).rdd.getNumPartitions == 4)
  }

  test("above the gate partitions grow past the input's own split count") {
    // 1-split input: the old coalesce(n) could NEVER grow this past 1
    val df = spark.range(0, 1000, 1, 1).toDF("x")
    // claimed corpus of 5M rows -> ceil(5M/100k)=50 target, capped at
    // defaultParallelism (4 in this suite) -> exactly 4, and > the
    // input's 1 split, proving the repartition branch engaged
    val n = ml.Features.fitCompact(df, 5000000L).rdd.getNumPartitions
    assert(n == spark.sparkContext.defaultParallelism, s"got $n")
    assert(n > df.rdd.getNumPartitions)
  }

  test("the compaction never changes the rows, only their placement") {
    val df = spark.range(0, 1000, 1, 8).toDF("x")
    val small = ml.Features.fitCompact(df, 1000000L).select("x")
    val grown = ml.Features.fitCompact(df, 5000000L).select("x")
    assert(small.except(grown).isEmpty && grown.except(small).isEmpty)
    assert(grown.count() == 1000)
  }
}
