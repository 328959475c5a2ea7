package graft.perturb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-augmentation generators (reference local_explain.py:144-215
  * G1 generate_modified / generate_subsequences): for each string
  * attribute of each record and each token cut point, emit two variants
  * with the prefix / suffix dropped.
  *
  * The reference loops rows on the driver; here each attribute
  * contributes one Generator stage — explode over the cut-point
  * sequence × the {suffix-dropped, prefix-dropped} pair — so fan-out
  * (2·Σ(tokens-1) rows per record per attribute) happens executor-side.
  * [[generateSubsequences]] serves bounded inputs (the explainer's 1-row
  * probes): it collects the variants and assigns fresh ids `offset +
  * rank` in a deterministic total order on the driver.
  */
object Augment {

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
    val targetAttrs =
      if (attrs.nonEmpty) attrs
      else source.schema.fields
        .filter(f => f.name != "id" &&
          f.dataType == org.apache.spark.sql.types.StringType)
        .map(_.name).toSeq

    val perAttr = targetAttrs.map { a =>
      val toks = split(col(a), " ")
      // cut ∈ [1, nTokens-1]; variant 0 = drop prefix (keep toks[cut:]),
      // variant 1 = drop suffix (keep toks[:cut]) — local_explain.py:207-209
      val variants = graft.text.TextAnalysis.bindOnce(toks)(tk => flatten(transform(
        sequence(lit(1), size(tk) - 1),
        cut => array(
          array_join(slice(tk, cut + 1, size(tk) - cut), " "),
          array_join(slice(tk, lit(1), cut), " ")))))
      source
        .filter(size(toks) >= 2)
        .withColumn("__newval", explode(variants))
        .withColumn(a, col("__newval"))
        .drop("__newval")
    }
    (perAttr.reduceOption(_ unionByName _).getOrElse(source.limit(0)),
      targetAttrs)
  }

  /** G1 for a bounded source table (the explainer's probe records):
    * the variants are collected in one job. `attrs` defaults to every
    * non-id string column. Output: a LocalRelation with the schema of
    * `source` (id as long), only generated rows, ids starting at
    * `startId` (reference start_id = len(source)).
    *
    * Ids follow the rank of each variant in the ascending total order
    * (xxhash64(attrs, id as string), attrs…, id as string) — Spark's
    * ordering: nulls first, strings by unsigned UTF-8 bytes — so they
    * do not depend on partitioning.
    */
  def generateSubsequences(source: DataFrame, startId: Long,
      attrs: Seq[String] = Nil): DataFrame = {
    val (generated, targetAttrs) = subsequenceVariants(source, attrs)
    val keyCols = targetAttrs.map(col) :+ col("id").cast("string")
    val width = generated.columns.length
    val rows = generated.select(col("*") +: xxhash64(keyCols: _*) +: keyCols: _*).collect()
    val sorted = rows.sortWith { (x, y) =>
      val c = java.lang.Long.compare(x.getLong(width), y.getLong(width))
      if (c != 0) c < 0
      else (width + 1 until x.length).iterator
        .map(i => graft.operators.SparkOrder.compareStrings(x.getString(i), y.getString(i)))
        .find(_ != 0).exists(_ < 0)
    }
    val idIdx = generated.schema.fieldIndex("id")
    val outSchema = org.apache.spark.sql.types.StructType(
      generated.schema.fields.map(f =>
        if (f.name == "id") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val out = sorted.toIndexedSeq.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.take(width).updated(idIdx, startId + i))
    }
    source.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
  }
}
