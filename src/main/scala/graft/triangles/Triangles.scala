package graft.triangles

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.schema.PairSchema

/** Open-triangle discovery (reference triangles_method.py:25-53
  * getMixedTriangles).
  *
  * A triangle is a triple <u, v, w> where <u, v> is a match-classified
  * pair and <v, w> a no-match-classified pair sharing the pivot v
  * (comment at triangles_method.py:26). The reference finds them with an
  * O(|pos|·|neg|) pandas scan loop; here the labeled support set — at
  * most num_triangles rows by construction — is collected and joined
  * driver-side with one hash map per pivot side, so discovery costs no
  * Spark job when the support set is already a LocalRelation (as it is
  * in the explainer).
  */
object Triangles {

  private val outSchema = StructType(Seq("u", "v", "w").map(StructField(_, StringType)))

  /** Discover mixed triangles from a labeled support-pair frame whose
    * `id` column is the composite `"0@<lid>#1@<rid>"`.
    *
    * Output columns (all sided `"<src>@<id>"` strings):
    *   - u: the record matched with the pivot (from the positive pair)
    *   - v: the shared pivot
    *   - w: the support record (from the negative pair)
    *
    * Rows come in the order of a hash join streaming the positives:
    * every left-open triangle (positives in input order, each followed
    * by its matching negatives in input order), then every right-open
    * one in the same order.
    */
  def discover(dataset: DataFrame, schema: PairSchema = PairSchema.default): DataFrame = {
    // (left vertex, right vertex, label); a null id or label joins nothing
    val labeled = dataset.select(col("id"), col("label").cast("int")).collect().toIndexedSeq
      .collect { case r if !r.isNullAt(0) && !r.isNullAt(1) =>
        val sides = r.getString(0).split("#", -1)
        (sides(0), sides.lift(1).orNull, r.getInt(1))
      }
    val pos = labeled.filter(_._3 == 1)
    val neg = labeled.filter(_._3 == 0)

    // triangles whose pivot is the `pivot` vertex of both pairs
    def open(pivot: ((String, String, Int)) => String,
        free: ((String, String, Int)) => String): Seq[Row] = {
      val negByPivot = neg.filter(pivot(_) != null).groupBy(pivot)
      for {
        p <- pos if pivot(p) != null
        n <- negByPivot.getOrElse(pivot(p), Nil)
      } yield Row(free(p), pivot(p), free(n))
    }
    // left-open: positive (l1, r) + negative (l2, r) → <l1, r, l2>;
    // right-open (dual): positive (l, r1) + negative (l, r2) → <r1, l, r2>
    val rows = open(_._2, _._1) ++ open(_._1, _._2)
    dataset.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
  }
}
