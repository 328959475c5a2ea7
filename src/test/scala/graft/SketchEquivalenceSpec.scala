package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.{MinHashSignature, ShingleJaccard, ShingleSet, SimHash64,
  TextSim, TokenBagCosine}

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

  /** The shingling edge cases plus a planted near-dup corpus. */
  private def shingled: DataFrame = Seq[(Long, String)](
    (100L, null),
    (101L, ""),
    (102L, "a  b  c d"),                      // double spaces: empty tokens
    (103L, "a b c d "),                       // trailing space
    (104L, "   "),                            // spaces only
    (105L, "a b"),                            // shorter than k = 3
    (106L, "x y z x y z x y z"),              // repeated shingles
    (107L, "naïve café über straße"),         // multi-byte UTF-8
    (108L, "日本語 の テキスト です 😀 😀 の"),
    (109L, "Zebra apple Apple zebra émile")   // case and byte order
  ).toDF("id", "text").union(texts)
    .union(NearDupSpec.planted(11, background = 60, clusters = 20).toDF("id", "text"))

  test("minhash expression equals the declarative md5-min fold") {
    // the kernel keeps its mins as digest bytes, compared unsigned; the
    // twin takes the min of the lowercase hex strings. A null text has
    // no signature in the kernel and an array of nulls in the twin.
    val docs = shingled.filter(col("text").isNotNull)
    Seq(1, 3).foreach { k =>
      val cmp = docs.select(
        MinHashSignature(col("text"), 4, k).as("fast"),
        array((0 until 4).map(i => ReferenceTwins.minhashColumn(col("text"), i, k)): _*)
          .as("slow"))
      assert(cmp.filter(!(col("fast") <=> col("slow"))).count() === 0, s"k = $k")
    }
  }

  test("shingle-set and jaccard kernels equal the interpreted twin bit for bit") {
    // over the local rows the kernels are folded on the driver
    // (interpreted); over a shuffled frame they run as generated code
    Seq(1, 3).foreach { k =>
      def setsOf(docs: DataFrame) = docs.select(col("id"),
        ShingleSet(col("text"), k).as("fast"),
        ReferenceTwins.shingleSetInterpreted(col("text"), k).as("slow"))
      val sets = setsOf(shingled.repartition(2))
      // the same set, sorted by the kernel
      Seq(setsOf(shingled), sets).foreach { ss =>
        assert(ss.filter(!(col("fast") <=> array_sort(col("slow")))).count() === 0,
          s"k = $k")
      }
      val pairs = sets.as("a").crossJoin(sets.as("b")).select(
        ShingleJaccard(col("a.fast"), col("b.fast")).as("fast"),
        ReferenceTwins.jaccardInterpreted(col("a.slow"), col("b.slow")).as("slow"))
        .collect()
      val n = sets.count()
      assert(pairs.length === n * n)
      val bits = (d: Double) => java.lang.Double.doubleToRawLongBits(d)
      pairs.foreach { r =>
        assert(bits(r.getDouble(0)) === bits(r.getDouble(1)), s"k = $k: $r")
      }
      assert(pairs.exists(r => r.getDouble(0) > 0.0 && r.getDouble(0) < 1.0))
    }
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
