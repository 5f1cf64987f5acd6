package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.catalyst.{DotF64Expr, MinHashSigsExpr, NormalizeTextExpr, PolyHashExpr, SimHash32Expr}

/** Property tests over the native expressions (raw ScalaCheck generators,
  * fixed seeds — the scalatest bridge artifact is not on the offline
  * classpath). */
class PropertySpec extends AnyFunSuite {
  private def samples[T](gen: Gen[T], n: Int = 200): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("PolyHash: deterministic and in [0, P)") {
    samples(Gen.alphaNumStr).foreach { s =>
      val h1 = PolyHashExpr.hash(UTF8String.fromString(s))
      val h2 = PolyHashExpr.hash(UTF8String.fromString(s))
      assert(h1 == h2)
      assert(h1 >= 0 && h1 < PolyHashExpr.P)
    }
  }

  test("PolyHash: newline-bearing text matches the DuckDB oracle fold") {
    // DuckDB value for the TextSql.polyHash oracle ('[\s\S]' char split) on
    // "a\nb" — RE2 '.' would skip the \n and give 3105 instead.
    assert(PolyHashExpr.hash(UTF8String.fromString("a\nb")) == 93625L)
    assert(PolyHashExpr.hash(UTF8String.fromString("x\r\ny\tz")) ==
      ("x\r\ny\tz".foldLeft(0L)((a, c) => (a * 31 + c.toLong) % PolyHashExpr.P)))
  }

  test("NormalizeText: one-pass normalizer equals the regex composition") {
    // The composition d10's oracle runs, with \s spelled as the explicit
    // RE2 whitespace class [ \t\n\f\r]: Java's \s additionally contains
    // U+000B, which RE2/DuckDB treats as a plain strippable char — the
    // normalizer follows the RE2 (oracle-portable) semantics, so the
    // reference here must too. U+000B stays in the palette below to pin
    // the strip behavior.
    def ref(s: String): String = s.toLowerCase
      .replaceAll("[^a-z0-9 \\t\\n\\f\\r]", "")
      .replaceAll("[ \\t\\n\\f\\r]+", " ").trim
    val palette = Gen.oneOf(('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      Seq(' ', '\t', '\n', '\r', '\u000B', '\f', '.', ',', '!', '-', '_',
        '\u00A0', '\u00E9', '\u00DF', '\u4E2D', '\u0130', '\u212A'))
    val gen = Gen.listOf(palette).map(_.mkString)
    (samples(gen, 400) ++ Seq("", "  ", "\t\n", "A.\u00A0B", "a\u000B\u000Bb\u000Bc"))
      .foreach { s =>
        assert(NormalizeTextExpr.normalize(UTF8String.fromString(s)).toString == ref(s),
          s"mismatch on ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      }
  }

  test("MinHashSigs: each signature is the min over the affine-hashed set") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0L, PolyHashExpr.P - 1))
    samples(gen).foreach { xs =>
      val sigs = MinHashSigsExpr.sigs(new GenericArrayData(xs.toArray), 8)
      (0 until 8).foreach { i =>
        val expect = xs.map(x =>
          (x * MinHashSigsExpr.a(i) + MinHashSigsExpr.b(i)) % MinHashSigsExpr.P).min
        assert(sigs.getLong(i) == expect)
      }
    }
  }

  test("SimHash32: deterministic and fits 32 bits") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0L, Long.MaxValue / 64))
    samples(gen).foreach { xs =>
      val h1 = SimHash32Expr.simhash(new GenericArrayData(xs.toArray))
      val h2 = SimHash32Expr.simhash(new GenericArrayData(xs.toArray))
      assert(h1 == h2)
      assert(h1 >= 0 && h1 < (1L << 32))
    }
  }

  test("DotF64: matches the sequential fold exactly and is symmetric") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100.0, 100.0))
    samples(Gen.zip(vecGen, vecGen)).foreach { case (a, b) =>
      val ad = new GenericArrayData(a.toArray)
      val bd = new GenericArrayData(b.toArray)
      val d1 = DotF64Expr.dot(ad, bd)
      val d2 = DotF64Expr.dot(bd, ad)
      val ref = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(d1 == ref)
      assert(d1 == d2) // per-index products commute exactly in IEEE
    }
  }

  test("ArraySumF64/AbsDevSumF64: bit-identical to the left fold they replaced") {
    import graft.functions.catalyst.ArrayFoldExpr
    val vecGen = Gen.chooseNum(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6)))
    samples(vecGen).foreach { xs =>
      val arr = new GenericArrayData(xs.toArray)
      // exact equality with the aggregate(0.0, a+x) fold the CCI oracle uses
      assert(ArrayFoldExpr.sum(arr) == xs.foldLeft(0.0)(_ + _))
      val m = if (xs.nonEmpty) xs.sum / xs.size else 0.0
      val ref = xs.foldLeft(0.0)((acc, x) => acc + math.abs(x - m))
      assert(ArrayFoldExpr.absDevSum(arr, m) == ref)
    }
  }

  test("Scheduler.nextFires: strictly after now, on the cron grid, and self-consistent") {
    import graft.operators.Scheduler
    val cronTimes = Scheduler.Jobs.map { case (_, h, m) => (h, m) }.toSet
    val gen = for {
      epochDay <- Gen.choose(18000L, 22000L) // 2019..2030
      sec <- Gen.choose(0L, 86399L)
    } yield java.time.LocalDateTime.ofEpochSecond(
      epochDay * 86400L + sec, 0, java.time.ZoneOffset.UTC)
    samples(gen).foreach { now =>
      val (at, jobs) = Scheduler.nextFires(now)
      assert(at.isAfter(now), s"$at not after $now")
      assert(cronTimes.contains((at.getHour, at.getMinute)), s"$at off the cron grid")
      assert(jobs.nonEmpty && jobs == jobs.sorted)
      // every listed job fires at exactly this wall time
      jobs.foreach { j =>
        val (_, h, m) = Scheduler.Jobs.find(_._1 == j).get
        assert(h == at.getHour && m == at.getMinute)
      }
      // nothing fires strictly between now and the returned instant:
      // stepping to just-before `at` must return the same instant
      val (at2, jobs2) = Scheduler.nextFires(at.minusSeconds(1))
      assert(at2 == at && jobs2 == jobs)
      // and the fire is never more than a day out
      assert(!at.isAfter(now.plusDays(1).plusMinutes(1)))
    }
  }

  test("microLn: within one micro of libm ln across magnitudes (same definition, no libm)") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.col
    val bs = Seq(1L, 2L, 3L, 7L, 100L, 12345L, 1000003L, 1L << 40)
    val pairs = for {
      b <- bs; a <- Seq(1L, b / 3 + 1, b / 2 + 1, b - 1, b) if a >= 1 && a <= b
    } yield (a, b)
    val got = pairs.distinct.toDF("a", "b")
      .select(col("a"), col("b"),
        functions.TextFunctions.microLn(col("a"), col("b")).as("m"))
      .collect()
    got.foreach { r =>
      val (a, b, m) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ref = math.floor(math.log(a.toDouble / b) * 1e6 + 0.5).toLong
      assert(math.abs(m - ref) <= 1, s"microLn($a,$b)=$m vs libm $ref")
    }
    // exact zero at a == b
    assert(got.filter(r => r.getLong(0) == r.getLong(1)).forall(_.getLong(2) == 0L))
  }

  test("pHash64: total, deterministic, non-negative on arbitrary bytes") {
    val M = multimodal.Multimodal
    val bytesGen = Gen.nonEmptyListOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    samples(bytesGen).foreach { b =>
      val h = M.pHash64(b)
      assert(h == M.pHash64(b))            // deterministic
      assert(h >= 0L)                      // 63-bit contract: sign clear
    }
    // crafted image magics with garbage bodies fall to the fallback, not a throw
    val pngish = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 7, 7)
    val jpgish = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 9, 9)
    assert(M.pHash64(pngish) >= 0L && M.pHash64(jpgish) >= 0L)
  }

  test("pHash64: Hamming distance is bounded by the bit budget and symmetric") {
    val M = multimodal.Multimodal
    val g = Gen.nonEmptyListOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    samples(Gen.zip(g, g), 100).foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(M.pHash64(a) ^ M.pHash64(b))
      assert(d >= 0 && d <= M.PHashBits)
      assert(d == java.lang.Long.bitCount(M.pHash64(b) ^ M.pHash64(a)))
    }
  }

  test("BPE reference: merges are well-formed on arbitrary word dictionaries") {
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val dictGen = Gen.nonEmptyMap(Gen.zip(wordGen, Gen.choose(1L, 9L)))
    samples(dictGen, 60).foreach { dict =>
      val merges = ReferenceTwins.bpeReference(dict, numMerges = 10)
      // ranks are 1..n with no gap, every merge met the support cutoff,
      // and each merged symbol is the concatenation of its parts
      assert(merges.map(_._1) == (1 to merges.length))
      assert(merges.forall(_._4 >= operators.TextAnalysis.BpeMinPairCount))
      assert(merges.forall { case (_, l, r, _) => (l + r).nonEmpty })
    }
  }

  test("p13 core: inclusion follows the w_i/Σw successive-draw law across salts") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 300 docs, one lang, exact weights 1/2/3 by doc_id mod 3; K=30 per
    // salt. Expected inclusion ratio between weight classes ≈ w ratio
    // while K ≪ n (30/300); 80 salts give ~2400 inclusions.
    val weights = (1L to 300L).map(id => (id, "xx", 1 + (id % 3).toInt))
      .toDF("doc_id", "lang", "w").cache()
    val byW = weights.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val counts = scala.collection.mutable.Map(1 -> 0, 2 -> 0, 3 -> 0)
    (1 to 80).foreach { s =>
      val picked = operators.Curation.weightedSampleFrom(weights, 30, s"salt$s")
        .select("doc_id").collect().map(_.getLong(0))
      assert(picked.length == 30 && picked.distinct.length == 30,
        "sample must be without replacement")
      picked.foreach(id => counts(byW(id)) += 1)
    }
    weights.unpersist()
    // each weight class has 100 docs, so per-doc rates divide out
    val r1 = counts(1).toDouble; val r2 = counts(2).toDouble; val r3 = counts(3).toDouble
    assert(r1 < r2 && r2 < r3, s"not monotone in w: $counts")
    assert(r2 / r1 > 1.5 && r2 / r1 < 2.6, s"w=2 rate off ${r2 / r1} ($counts)")
    assert(r3 / r1 > 2.2 && r3 / r1 < 4.0, s"w=3 rate off ${r3 / r1} ($counts)")
  }

  test("p13 core: same salt is bit-deterministic; ranks are 1..K dense") {
    val spark = TestSpark.spark
    import spark.implicits._
    val weights = (1L to 120L).map(id => (id, if (id % 2 == 0) "aa" else "bb",
      1 + (id % 3).toInt)).toDF("doc_id", "lang", "w")
    val a = operators.Curation.weightedSampleFrom(weights, 10, "fixed")
      .orderBy("lang", "rank").collect().toSeq
    val b = operators.Curation.weightedSampleFrom(weights, 10, "fixed")
      .orderBy("lang", "rank").collect().toSeq
    assert(a == b)
    a.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted == (1 to 10))
      // min_h is nondecreasing in rank (the successive-minima order)
      val hs = rows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(hs == hs.sorted)
    }
  }

  test("ZoneMapFileIndex: LONG zones — exact integral bounds, fractional literals widen outward") {
    // Round-15 long-zone soundness twin of the double-grid property:
    // long zone fields compare EXACTLY against integral/timestamp
    // literals (no grid), and a fractional literal must round OUTWARD
    // onto the long grid (lo floors, hi ceils) — a file containing a
    // satisfying long value must stay listed under both literal kinds.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    import org.apache.hadoop.fs.{FileStatus, Path}
    val spark = TestSpark.spark
    val zSchema = StructType(Seq(StructField("file", StringType),
      StructField("v_min", LongType), StructField("v_max", LongType)))
    val f = "file:/tmp/zlprop/a.parquet"
    // `v` is a LONG column of the relation, so its zones are longs
    def idx(mn: Long, mx: Long) = new graft.plans.ZoneMapFileIndex(
      new Path("file:/tmp/zlprop"),
      Array(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](f, mn, mx), zSchema)),
      Seq(new FileStatus(1L, false, 1, 1L, 0L, new Path(f))),
      Seq("v"), StructType(Seq(StructField("v", LongType))),
      spark.sparkContext.hadoopConfiguration)
    val attr = AttributeReference("v", LongType)()
    val near = Gen.chooseNum(-4L, 4L).flatMap(d =>
      Gen.oneOf((1L << 53) + d, -(1L << 53) + d, d * 1000000007L))
    val gen = for { a <- near; b <- near; l <- near } yield (a, b, l)
    samples(gen, 400).foreach { case (a, b, l) =>
      val (mn, mx) = (math.min(a, b), math.max(a, b))
      val i = idx(mn, mx)
      def listed(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        i.listFiles(Nil, Seq(e)).flatMap(_.files).nonEmpty
      // exact long literals: no widening, so the check is sharp
      if (mx >= l) assert(listed(GreaterThanOrEqual(attr, Literal(l, LongType))),
        s"long zones dropped [$mn,$mx] under v >= $l")
      if (mn <= l) assert(listed(LessThanOrEqual(attr, Literal(l, LongType))),
        s"long zones dropped [$mn,$mx] under v <= $l")
      if (mn <= l && l <= mx) assert(listed(EqualTo(attr, Literal(l, LongType))),
        s"long zones dropped [$mn,$mx] under v = $l")
      // fractional literal a half step inside the interval edge: the lo
      // bound must FLOOR (keeping the edge value's file), the hi CEIL.
      // Guarded to the exact-double range — past 2^52 the TEST's own
      // double arithmetic rounds before the literal reaches the index,
      // so the sharp assertion would blame the index for the test's grid
      if (math.abs(mn) < (1L << 52))
        assert(listed(LessThanOrEqual(attr, Literal(mn.toDouble + 0.5, DoubleType))),
          s"hi bound ${mn.toDouble + 0.5} did not ceil to admit [$mn,$mx]")
      if (math.abs(mx) < (1L << 52))
        assert(listed(GreaterThanOrEqual(attr, Literal(mx.toDouble - 0.5, DoubleType))),
          s"lo bound ${mx.toDouble - 0.5} did not floor to admit [$mn,$mx]")
    }
  }

  test("ZoneMapFileIndex: widened integral bounds never drop a satisfying file") {
    // Soundness property across the >2^53 grid: for random long file
    // contents [minV, maxV] (zones = round-to-nearest doubles, the footer
    // convention) and a random long literal L, a file containing a value
    // satisfying the predicate must stay listed. Exercises both bound
    // directions and the equality spelling.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    import org.apache.hadoop.fs.{FileStatus, Path}
    val spark = TestSpark.spark
    val zSchema = StructType(Seq(StructField("file", StringType),
      StructField("v_min", DoubleType), StructField("v_max", DoubleType)))
    val f = "file:/tmp/zprop/a.parquet"
    // `v` is a DOUBLE column of the relation, so its zones are doubles
    def idx(mn: Long, mx: Long) = new graft.plans.ZoneMapFileIndex(
      new Path("file:/tmp/zprop"),
      Array(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](f, mn.toDouble, mx.toDouble), zSchema)),
      Seq(new FileStatus(1L, false, 1, 1L, 0L, new Path(f))),
      Seq("v"), StructType(Seq(StructField("v", DoubleType))),
      spark.sparkContext.hadoopConfiguration)
    val attr = AttributeReference("v", LongType)()
    val near = Gen.chooseNum(-4L, 4L).flatMap(d =>
      Gen.oneOf((1L << 53) + d, -(1L << 53) + d, d * 1000000007L))
    val gen = for { a <- near; b <- near; l <- near } yield (a, b, l)
    samples(gen, 400).foreach { case (a, b, l) =>
      val (mn, mx) = (math.min(a, b), math.max(a, b))
      val i = idx(mn, mx)
      def listed(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        i.listFiles(Nil, Seq(e)).flatMap(_.files).nonEmpty
      if (mx >= l) assert(listed(GreaterThanOrEqual(attr, Literal(l, LongType))),
        s"dropped [$mn,$mx] under v >= $l")
      if (mn <= l) assert(listed(LessThanOrEqual(attr, Literal(l, LongType))),
        s"dropped [$mn,$mx] under v <= $l")
      if (mn <= l && l <= mx) assert(listed(EqualTo(attr, Literal(l, LongType))),
        s"dropped [$mn,$mx] under v = $l")
    }
  }

  test("footer schema: equals Spark's inferred schema for every sf table and ts encoding") {
    import org.apache.spark.sql.functions.{lit, timestamp_micros}
    val spark = TestSpark.spark
    import spark.implicits._
    val sfTables = new java.io.File(TestSpark.sf).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(sfTables.size >= 10, sfTables)
    // the events `ts` encodings the loader specs write: int64 nanos,
    // timestamp[us] (the session's default output type) and timestamp_ntz
    val us = 1709296496789123L
    val encoded = Seq(lit(us * 1000L), timestamp_micros(lit(us)),
        timestamp_micros(lit(us)).cast("timestamp_ntz")).map { ts =>
      val path = java.nio.file.Files.createTempDirectory("graft_footer").toString + "/events.parquet"
      Seq((1L, 7L, "view", 1.5, "{}")).toDF("event_id", "user_id", "event_type", "value", "props")
        .select($"event_id", ts.as("ts"), $"user_id", $"event_type", $"value", $"props")
        .write.parquet(path)
      path
    }
    assert(encoded.map(p => spark.read.parquet(p).schema("ts").dataType.typeName) ==
      Seq("long", "timestamp", "timestamp_ntz"))
    (sfTables ++ encoded).foreach { path =>
      val inferred = spark.read.parquet(path).schema
      assert(sources.Tables.parquetSchema(spark, path).contains(inferred), path)
      assert(sources.Tables.readParquet(spark, path).schema == inferred, path)
    }
  }
}
