package graft.perturb

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Data-augmentation generators (reference local_explain.py:144-215
  * G1 generate_modified / generate_subsequences): for each string
  * attribute of each record and each token cut point, emit two variants
  * with the prefix / suffix dropped.
  *
  * The reference loops rows on the driver; here [[variants]] builds one
  * attribute's variant array as a column program. [[subsequenceVariants]]
  * explodes it executor-side (2·Σ(tokens-1) rows per record per
  * attribute, any source size); [[generateSubsequences]] serves bounded
  * inputs (the explainer's 1-row probes): it projects the arrays,
  * flattens them on the driver and assigns fresh ids `offset + rank` in
  * a deterministic total order. Over a LocalRelation both of its
  * projections fold, so it fires no Spark job.
  */
object Augment {

  /** The G1 variants of one attribute value: for each cut point
    * `cut ∈ [1, nTokens-1]` the value without its first `cut` tokens,
    * then without all but its first `cut` (local_explain.py:207-209);
    * null when the value has fewer than two tokens. The token array is
    * bound once per row.
    */
  def variants(text: Column): Column =
    graft.text.TextAnalysis.bindOnce(split(text, " "))(tk => when(size(tk) >= 2,
      flatten(transform(sequence(lit(1), size(tk) - 1), cut => array(
        array_join(slice(tk, cut + 1, size(tk) - cut), " "),
        array_join(slice(tk, lit(1), cut), " "))))))

  private def stringAttrs(source: DataFrame, attrs: Seq[String]): Seq[String] =
    if (attrs.nonEmpty) attrs
    else source.schema.fields
      .filter(f => f.name != "id" && f.dataType == StringType)
      .map(_.name).toSeq

  /** The G1 variant frame WITHOUT fresh ids: every prefix/suffix
    * token-drop variant of every row, original `id` column untouched.
    * [[generateSubsequences]] layers the deterministic fresh-id
    * assignment on top; censuses that are id-assignment-independent
    * (q57's — its min/max are count-derived identities, asserted as
    * such by its oracle) aggregate this frame directly, at any source
    * size.
    */
  def subsequenceVariants(source: DataFrame,
      attrs: Seq[String] = Nil): (DataFrame, Seq[String]) = {
    val targetAttrs = stringAttrs(source, attrs)
    (targetAttrs.map(a => source.withColumn(a, explode(variants(col(a)))))
      .reduceOption(_ unionByName _).getOrElse(source.limit(0)), targetAttrs)
  }

  /** G1 for a bounded source table (the explainer's probe records):
    * one projection of every attribute's [[variants]] array, read in
    * one collect (none when it folds over a LocalRelation) and
    * flattened on the driver. `attrs` defaults to every non-id string
    * column. Output: a LocalRelation with the schema of `source` (id as
    * long, the varied attributes as strings), only generated rows, ids
    * starting at `startId` (reference start_id = len(source)).
    *
    * Ids follow the rank of each variant in the ascending total order
    * (xxhash64(attrs, id as string), attrs…, id as string) — Spark's
    * ordering: nulls first, strings by unsigned UTF-8 bytes — so they
    * do not depend on partitioning. Spark computes the keys, in a
    * second projection that folds over the variant rows.
    */
  def generateSubsequences(source: DataFrame, startId: Long,
      attrs: Seq[String] = Nil): DataFrame = {
    val targetAttrs = stringAttrs(source, attrs)
    val width = source.columns.length
    // each row once per attribute and variant, that attribute replaced
    val variantRows = source.select(col("*") +: targetAttrs.map(a => variants(col(a))): _*)
      .collect().toIndexedSeq.flatMap { r =>
        targetAttrs.zipWithIndex.flatMap { case (a, k) =>
          Option(r.getSeq[String](width + k)).getOrElse(Nil).map(v =>
            Row.fromSeq(r.toSeq.take(width).updated(source.schema.fieldIndex(a), v)))
        }
      }
    val generated = source.sparkSession.createDataFrame(java.util.Arrays.asList(variantRows: _*),
      StructType(source.schema.map(f =>
        if (targetAttrs.contains(f.name)) f.copy(dataType = StringType) else f)))
    val keyCols = targetAttrs.map(col) :+ col("id").cast("string")
    val rows = generated.select(col("*") +: xxhash64(keyCols: _*) +: keyCols: _*).collect()
    val sorted = rows.sortWith { (x, y) =>
      val c = java.lang.Long.compare(x.getLong(width), y.getLong(width))
      if (c != 0) c < 0
      else (width + 1 until x.length).iterator
        .map(i => graft.operators.SparkOrder.compareStrings(x.getString(i), y.getString(i)))
        .find(_ != 0).exists(_ < 0)
    }
    val idIdx = generated.schema.fieldIndex("id")
    val outSchema = StructType(generated.schema.fields.map(f =>
      if (f.name == "id") f.copy(dataType = LongType) else f))
    val out = sorted.toIndexedSeq.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq.take(width).updated(idIdx, startId + i))
    }
    source.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
  }
}
