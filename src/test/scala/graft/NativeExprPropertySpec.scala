package graft

import graft.ext.{Dedup, Similarity, TextOps}
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based equality of every native Catalyst expression against
  * its named reference formulation (`wordShinglesHof`, `simhash64Hof`,
  * `minhashSignature`, `rhpSignature`, `dotUnrolled`, …), over GENERATED
  * inputs — unicode text, degenerate whitespace, random float vectors —
  * not just the hand-picked fixtures in the per-operator specs.
  * Production operators run only the native expressions; any divergence
  * here means they no longer compute what the reference defines.
  */
class NativeExprPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default

  // text with unicode, repeated tokens, and whitespace pathologies
  private val textGen: Gen[String] = Gen.listOfN(30, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("the", "a", "naïve", "héllo", "日本語テキスト", "x"),
      Gen.const(""), Gen.const("  "), Gen.const("\t")))
    .map(_.mkString(" "))

  private def texts(seed: Long, n: Int): Seq[String] =
    (0 until n).flatMap(i =>
      textGen(params, org.scalacheck.rng.Seed(seed + i)))

  test("shingles + simhash: native ≡ HOF on generated unicode text") {
    GraftFunctions.register(spark)
    val df = texts(seed = 1L, n = 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(col("id"),
        Dedup.wordShinglesHof(col("text"), 3).as("sh_h"),
        Dedup.wordShingles(col("text"), 3).as("sh_n"),
        Dedup.simhash64Hof(col("text")).as("sim_h"),
        Dedup.simhash64(col("text")).as("sim_n"))
      .as[(Long, Seq[String], Seq[String], Long, Long)].collect()
    assert(rows.length == 60)
    rows.foreach { case (id, shH, shN, simH, simN) =>
      assert(shH == shN, s"shingles diverge on row $id")
      assert(simH == simN, s"simhash diverges on row $id")
    }
  }

  test("minhash: native ≡ HOF on generated text") {
    GraftFunctions.register(spark)
    val df = texts(seed = 77L, n = 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sh = Dedup.wordShingles(col("text"), 2)
    val rows = df.select(col("id"),
        Dedup.minhashSignature(sh, 32).as("h"),
        Dedup.minhashSignatureNative(sh, 32).as("n"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, h, n) =>
      assert(h == n, s"minhash diverges on row $id")
    }
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(32, Gen.chooseNum(-1000, 1000).map(_ / 250.0f))
      .map(_.toArray)

  test("rhp signature + dot: native ≡ declarative on generated vectors") {
    GraftFunctions.register(spark)
    val vecs = (0 until 60).flatMap(i =>
      vecGen(params, org.scalacheck.rng.Seed(200L + i)))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, vecs((i + 7) % vecs.size)) }
      .toDF("id", "a", "b")
    val planes = Similarity.hyperplanes(10, 32, seed = 5L)
    val rows = df.select(col("id"),
        Similarity.rhpSignature(col("a"), planes).as("rh"),
        Similarity.rhpSignatureNative(col("a"), 10, 32, seed = 5L).as("rn"),
        Similarity.dotUnrolled(col("a"), col("b"), 32).as("du"),
        Similarity.dotNative(col("a"), col("b"), 32).as("dn"))
      .as[(Long, Long, Long, Double, Double)].collect()
    rows.foreach { case (id, rh, rn, du, dn) =>
      assert(rh == rn, s"rhp diverges on row $id")
      assert(java.lang.Double.doubleToRawLongBits(du) ==
        java.lang.Double.doubleToRawLongBits(dn),
        s"dot diverges on row $id: $du vs $dn")
    }
  }

  test("portable md5 minhash + simhash: native ≡ HOF on generated unicode text") {
    GraftFunctions.register(spark)
    val df = texts(seed = 333L, n = 50).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(col("id"),
        Dedup.minhashSignaturePortableHof(
          Dedup.wordShinglesHof(col("text"), 3), 32).as("mh"),
        Dedup.minhashSignaturePortable(
          Dedup.wordShingles(col("text"), 3), 32).as("mn"),
        Dedup.simhash64PortableHof(col("text")).as("sh_h"),
        Dedup.simhash64Portable(col("text")).as("sh_n"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"portable minhash diverges on row ${r.getLong(0)}")
      assert(r.getStruct(3) == r.getStruct(4),
        s"portable simhash diverges on row ${r.getLong(0)}")
    }
    assert(rows.length == 50)
  }

  test("graft_top_k ≡ window formulation on generated scores with ties") {
    GraftFunctions.register(spark)
    // small score domain forces heavy ord ties — the tie-break must hold
    val rnd = new scala.util.Random(55)
    val df = (1L to 3000L).map(i =>
        (s"g${rnd.nextInt(11)}", i, rnd.nextInt(7).toDouble))
      .toDF("g", "id", "v").repartition(13)
    val agg = df.groupBy("g")
      .agg(call_function("graft_top_k", col("v"), col("id"), lit(6)).as("t"))
      .select(col("g"), posexplode(col("t")).as(Seq("p", "s")))
      .select(col("g"), (col("p") + 1).as("r"),
        col("s.payload").as("id"), col("s.ord").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val win = df.withColumn("r", row_number().over(w)).filter(col("r") <= 6)
      .select("g", "r", "id", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(agg == win)
  }

  test("stopword regex count ≡ token filter count on generated text") {
    // the regexp_count rewrite vs the definitional HOF it replaced
    val df = texts(seed = 900L, n = 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val words = TextOps.Stopwords("en")
    val toks = split(trim(lower(col("text"))), "\\s+")
    val rows = df.select(col("id"),
        TextOps.stopwordCount(col("text"), words).as("re"),
        size(filter(toks, t => t.isin(words: _*))).as("hof"))
      .as[(Long, Int, Int)].collect()
    rows.foreach { case (id, re, hof) =>
      assert(re == hof, s"stopword count diverges on row $id: $re vs $hof")
    }
  }

  test("bloom probe: zero false negatives on generated unicode strings") {
    GraftFunctions.register(spark)
    // unicode + pathological whitespace strings — the probe's UTF-8 byte
    // hashing must agree with the builder's insert path on ALL of them
    val inserted = texts(seed = 4242L, n = 150).distinct
    val bf = inserted.toDF("s").stat
      .bloomFilter("s", inserted.size.toLong, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    val misses = inserted.toDF("s")
      .filter(!call_function("graft_bloom_contains", col("s"), lit(bytes)))
      .count()
    assert(misses == 0L,
      "bloom probe disagreed with the builder's hash on inserted input")
  }
}
