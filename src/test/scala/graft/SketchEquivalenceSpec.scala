package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.{MinHashSignature, SimHash64, TextSim, TokenBagCosine}

/** The single-pass sketch expressions must agree bit-for-bit with their
  * declarative (built-in-fold) twins, and the codegen'd cosine with the
  * reference UDF — these twins are what the DuckDB oracle checks, so
  * equivalence here transfers oracle coverage to the fast path.
  */
class SketchEquivalenceSpec extends SparkSpec {

  import spark.implicits._

  private def texts: DataFrame = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a b"),
    (2L, "single"),
    (3L, "x y z x y z x y z"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
  ).toDF("id", "text")

  test("minhash expression equals the declarative md5-min fold") {
    val cmp = texts.select(
      MinHashSignature(col("text"), 4, 3).as("fast"),
      array((0 until 4).map(i => ReferenceTwins.minhashColumn(col("text"), i, 3)): _*).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("winnow sketch expression equals the declarative window-min fold") {
    // fixture docs + the real corpus sample shapes: ties inside a
    // window, docs shorter than one window, docs shorter than one gram
    val wide = texts.union(Seq(
      (5L, "r r r r r r r r"),   // all grams identical → one fingerprint
      (6L, "p q p q p q")        // alternating grams
    ).toDF("id", "text"))
    val cmp = wide.select(
      Dedup.winnowFingerprints(col("text")).as("fast"),
      ReferenceTwins.winnowFingerprintsDeclarative(col("text")).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
    // and on real fixture documents
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp2 = docs.select(
      Dedup.winnowFingerprints(col("text")).as("fast"),
      ReferenceTwins.winnowFingerprintsDeclarative(col("text")).as("slow"))
    assert(cmp2.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("portable simhash expression equals the declarative vote fold") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = texts.select(col("text")).union(docs.select(col("text"))).select(
      Dedup.simhashPortable(col("text")).as("fast"),
      ReferenceTwins.simhashPortableDeclarative(col("text")).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("simhash expression equals the declarative per-bit fold") {
    val cmp = texts.select(
      SimHash64(col("text")).as("fast"),
      ReferenceTwins.simhashDeclarative(col("text")).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("codegen cosine equals the reference UDF") {
    val pairs = texts.as("a").crossJoin(texts.as("b"))
      .select(col("a.text").as("ta"), col("b.text").as("tb"))
    val cmp = pairs.select(
      TokenBagCosine(col("ta"), col("tb")).as("fast"),
      ReferenceTwins.cosineUdf(col("ta"), col("tb")).as("slow"))
    assert(cmp.filter(abs(col("fast") - col("slow")) > 1e-12).count() === 0)
  }

  test("token-bag cosine is bit-identical to the reference twin on disjoint, overlapping and empty bags") {
    val cases = Seq(
      ("alpha beta", "gamma delta"),                 // disjoint
      ("alpha beta gamma", "beta gamma delta epsilon"), // partly overlapping
      ("a a a b", "a b b c c c d"),                  // overlap with repeats
      ("x", "x y z w v u"),                          // smaller bag on the left
      ("x y z w v u", "x"),                          // and on the right
      ("same words here", "same words here"),        // identical
      ("", "alpha"), ("alpha", ""), ("", ""),        // empty bags
      ("-- !! ..", "alpha"))                         // no word characters
    val df = cases.toDF("ta", "tb")
    // the generated-code path and the interpreted path (folded over the
    // local rows) must both match the UDF twin exactly
    val fast = df.select(TokenBagCosine(col("ta"), col("tb"))).collect().map(_.getDouble(0))
    val slow = df.select(ReferenceTwins.cosineUdf(col("ta"), col("tb")))
      .collect().map(_.getDouble(0))
    val codegen = df.repartition(2).select(col("ta"), col("tb"),
      TokenBagCosine(col("ta"), col("tb")).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(fast(i) === slow(i), (a, b))
      assert(fast(i) === TextSim.cosineBags(a, b), (a, b))
      assert(codegen((a, b)) === slow(i), (a, b))
    }
    assert(fast(0) === 0.0 && fast(6) === 0.0 && fast(8) === 0.0)
  }
}
