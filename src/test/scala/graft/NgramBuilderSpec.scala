package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.perturb.Augment
import graft.text.{LangModel, TextAnalysis}

/** The n-gram builders bind their token array once per row; their inline
  * twins in [[ReferenceTwins]] reference it from inside the lambda. Both
  * are the same expressions, so they must agree on every value and on
  * the result type, nullability of elements included.
  */
class NgramBuilderSpec extends SparkSpec {

  import spark.implicits._

  private val ks = Seq(2, 3, 5, 13)

  private def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")

  /** Null, empty, one token, k−1 and k tokens for every k, irregular
    * spacing and non-ASCII text.
    */
  private val texts: Seq[String] = Seq(null, "", "solo",
    " leading space", "trailing space ", "double  space here",
    "  both   ends  ", "naïve café über straße", "数据 清洗 去重 管道 模型",
    "emoji 🙂 in 🙂 text 🙂") ++ ks.flatMap(k => Seq(words(k - 1), words(k)))

  private def textFrame: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  private def assertSame(builder: Column, twin: Column): Unit = {
    val df = textFrame.select(col("id"), builder.as("fast"), twin.as("slow"))
    assert(df.schema("fast").dataType === df.schema("slow").dataType)
    val rows = df.orderBy("id").collect()
    assert(rows.length === texts.length)
    rows.foreach(r => assert(r.get(1) === r.get(2), s"text: ${texts(r.getLong(0).toInt)}"))
  }

  test("shingles equal the inline twin at k = 2, 3, 5, 13") {
    ks.foreach(k => assertSame(
      Dedup.shingles(col("text"), k), ReferenceTwins.shinglesInline(col("text"), k)))
    // a null text is one null shingle, and short texts are one shingle
    val nulls = Seq[String](null).toDF("text")
      .select(Dedup.shingles(col("text"), 3)).head().getSeq[String](0)
    assert(nulls === Seq(null))
  }

  test("ngrams (phrase search and span dedup grams) equal the inline twin") {
    ks.foreach(k => assertSame(
      TextAnalysis.ngrams(col("text"), k), ReferenceTwins.ngramsInline(col("text"), k)))
  }

  test("LM bigrams equal the inline twin") {
    assertSame(LangModel.bigrams(col("text")), ReferenceTwins.bigramsInline(col("text")))
  }

  test("subsequence variants equal the inline twin") {
    val src = textFrame.select(col("id"), col("text").as("a"),
      reverse(col("text")).as("b"))
    val (fast, attrs) = Augment.subsequenceVariants(src)
    assert(attrs === Seq("a", "b"))
    val slow = ReferenceTwins.subsequenceVariantsInline(src, attrs)
    assert(fast.schema === slow.schema)
    def sorted(df: DataFrame): Seq[Row] =
      df.orderBy(df.columns.toSeq.map(col): _*).collect().toSeq
    assert(sorted(fast) === sorted(slow))
    assert(sorted(fast).nonEmpty)
  }
}
