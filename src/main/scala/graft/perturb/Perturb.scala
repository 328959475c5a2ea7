package graft.perturb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.PairSchema

/** G3 perturbation generator (reference triangles_method.py:72-121
  * createPerturbationsFromTriangle).
  *
  * For every triangle <u, v, w> and every attribute subset of size
  * `depth` on the free record's side, emit one pair row where the free
  * record has the subset's values copied over from the donor record,
  * paired with the constant pivot v. When explaining class 1 the free
  * record is u and the donor w; for class 0 they swap
  * (triangles_method.py:84-105).
  *
  * The reference loops triangle-by-triangle on the driver
  * (triangles_method.py:278-292) building pandas frames; here the whole
  * triangles frame flows through one declarative plan: resolve the
  * three vertex records once (triangles are bounded by num_triangles,
  * so their records are fetched with one filtered scan per source and
  * assembled driver-side), then explode one literal array holding the
  * subsets of every requested depth and select each attribute through
  * `when(array_contains(...))` — a single Generate + Project fused by
  * whole-stage codegen, no driver fan-out, linear in |triangles| ×
  * Σ C(#attrs, depth).
  *
  * [[resolve]] is depth-independent; the explainer generates every
  * lattice depth from one resolution in one [[forDepth]] call.
  */
object Perturb {

  /** All size-`depth` subsets of `attrs` in combinations order
    * (reference _powerset, triangles_method.py:20-22).
    */
  def subsets(attrs: Seq[String], depth: Int): Seq[Seq[String]] =
    attrs.combinations(depth).map(_.toIndexedSeq).toIndexedSeq

  /** Triangles with their vertex records joined in, split by the free
    * record's side. `left`/`right` carry columns `u,v,w` plus
    * `__u_<attr>`, `__w_<attr>` (free-side schema) and `__v_<attr>`
    * (pivot-side schema). Both frames are bounded LocalRelations
    * (|triangles| rows), so the lattice pass replays nothing against
    * the sources.
    */
  final case class ResolvedTriangles(
      left: DataFrame, right: DataFrame,
      lAttrs: Seq[String], rAttrs: Seq[String])

  /** Resolve each triangle's three vertices to their records — once, for
    * all depths. Triangles are ≤ O(num_triangles²) rows by construction
    * (positives × negatives of a truncated support set), so the vertex
    * id set is bounded: each source is scanned ONCE with an `id IN (…)`
    * filter that pushes down to the columnar reader, the (≤ 3·|triangles|)
    * matching records localize, and the triangle⋈record assembly runs
    * driver-side. This replaces a 6-broadcast-build join chain whose
    * every downstream action re-derived the source scans (the round-3
    * q25 regression).
    */
  def resolve(
      triangles: DataFrame,
      lsource: DataFrame,
      rsource: DataFrame,
      schema: PairSchema = PairSchema.default): ResolvedTriangles = {

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, IntegerType, StringType, StructField, StructType}

    val spark = triangles.sparkSession
    val lAttrs = lsource.columns.filter(_ != "id").toIndexedSeq
    val rAttrs = rsource.columns.filter(_ != "id").toIndexedSeq

    def recId(v: String): String = v.split("@", 2)(1)
    def isLeft(v: String): Boolean = v.startsWith("0@")

    val triRows = triangles.select(col("u").cast("string"),
      col("v").cast("string"), col("w").cast("string")).collect()
    val (leftTri, rightTri) = triRows.partition(r => isLeft(r.getString(0)))

    // record ids needed per source: free-side u/w of same-rooted
    // triangles plus pivots v of opposite-rooted ones
    val lIds = (leftTri.flatMap(r => Seq(recId(r.getString(0)), recId(r.getString(2)))) ++
      rightTri.map(r => recId(r.getString(1)))).distinct
    val rIds = (rightTri.flatMap(r => Seq(recId(r.getString(0)), recId(r.getString(2)))) ++
      leftTri.map(r => recId(r.getString(1)))).distinct

    // one filtered scan per source; the IN filter is typed to the id
    // column so it reaches the parquet reader (a cast on the column
    // side would block pushdown)
    def fetch(src: DataFrame, ids: Array[String]): Map[String, Row] = {
      if (ids.isEmpty) return Map.empty
      val pred = src.schema("id").dataType match {
        case LongType => col("id").isin(ids.map(_.toLong).toIndexedSeq: _*)
        case IntegerType => col("id").isin(ids.map(_.toInt).toIndexedSeq: _*)
        case _ => col("id").isin(ids.toIndexedSeq: _*)
      }
      src.filter(pred).collect()
        .map(r => String.valueOf(r.getAs[Any]("id")) -> r).toMap
    }
    val lRecs = fetch(lsource, lIds)
    val rRecs = fetch(rsource, rIds)

    def side(tri: Array[Row], freeSrc: DataFrame, freeRecs: Map[String, Row],
        pivotSrc: DataFrame, pivotRecs: Map[String, Row]): DataFrame = {
      val outSchema = StructType(
        Seq(StructField("u", StringType), StructField("v", StringType),
          StructField("w", StringType)) ++
          freeSrc.schema.fields.map(f => f.copy(name = s"__u_${f.name}")) ++
          freeSrc.schema.fields.map(f => f.copy(name = s"__w_${f.name}")) ++
          pivotSrc.schema.fields.map(f => f.copy(name = s"__v_${f.name}")))
      // inner-join semantics: a triangle with an unresolvable vertex drops
      val rows = tri.flatMap { t =>
        for {
          u <- freeRecs.get(recId(t.getString(0)))
          w <- freeRecs.get(recId(t.getString(2)))
          v <- pivotRecs.get(recId(t.getString(1)))
        } yield Row.fromSeq(Seq(t.getString(0), t.getString(1), t.getString(2)) ++
          u.toSeq ++ w.toSeq ++ v.toSeq)
      }
      spark.createDataFrame(java.util.Arrays.asList(rows.toIndexedSeq: _*), outSchema)
    }

    ResolvedTriangles(
      side(leftTri, lsource, lRecs, rsource, rRecs),
      side(rightTri, rsource, rRecs, lsource, lRecs),
      lAttrs, rAttrs)
  }

  /** Generate all perturbations for a range of lattice depths from
    * resolved triangles: one explode + project over every depth's
    * subsets — no joins, no source scans, no per-depth union. Each
    * triangle row emits its subsets depth by depth, in combinations
    * order.
    *
    * @return pair rows (ltable_* / rtable_* attrs, no ids) ⊕
    *         alteredAttributes, droppedValues, copiedValues, triangle
    */
  def forDepth(
      resolved: ResolvedTriangles,
      depths: Range,
      classToExplain: Int,
      schema: PairSchema): DataFrame = {

    def generate(joined: DataFrame, freeSide: String): DataFrame = {
      val (freeAttrs, pivotAttrs, freePrefix, pivotPrefix) =
        if (freeSide == "l")
          (resolved.lAttrs, resolved.rAttrs, schema.lprefix, schema.rprefix)
        else
          (resolved.rAttrs, resolved.lAttrs, schema.rprefix, schema.lprefix)

      val (freeRole, donorRole) = if (classToExplain == 1) ("u", "w") else ("w", "u")

      val prefixedSubsets: Seq[Seq[String]] =
        depths.flatMap(subsets(freeAttrs.map(freePrefix + _), _))
      val exploded = joined.withColumn("alteredAttributes",
        explode(typedLit(prefixedSubsets)))

      val valueOf: Map[String, String => Column] = Map(
        "free" -> ((a: String) => col(s"__${freeRole}_$a")),
        "donor" -> ((a: String) => col(s"__${donorRole}_$a")))

      val freeValueMap = map(freeAttrs.flatMap(a =>
        Seq(lit(freePrefix + a), valueOf("free")(a).cast("string"))): _*)
      val donorValueMap = map(freeAttrs.flatMap(a =>
        Seq(lit(freePrefix + a), valueOf("donor")(a).cast("string"))): _*)

      val perturbedFree = freeAttrs.map { a =>
        when(array_contains(col("alteredAttributes"), freePrefix + a),
          valueOf("donor")(a)).otherwise(valueOf("free")(a)).as(freePrefix + a)
      }
      val pivotCols = pivotAttrs.map(a => col(s"__v_$a").as(pivotPrefix + a))

      val (lCols, rCols) =
        if (freeSide == "l") (perturbedFree, pivotCols) else (pivotCols, perturbedFree)

      exploded.select(
        (lCols ++ rCols ++ Seq(
          col("alteredAttributes"),
          transform(col("alteredAttributes"), a => element_at(freeValueMap, a))
            .as("droppedValues"),
          transform(col("alteredAttributes"), a => element_at(donorValueMap, a))
            .as("copiedValues"),
          concat_ws(" ", col("u"), col("v"), col("w")).as("triangle"))): _*)
    }

    generate(resolved.left, "l").unionByName(generate(resolved.right, "r"))
  }

  /** One-shot convenience (spec surface): resolve + one depth. */
  def forDepth(
      triangles: DataFrame,
      lsource: DataFrame,
      rsource: DataFrame,
      depth: Int,
      classToExplain: Int,
      schema: PairSchema = PairSchema.default): DataFrame =
    forDepth(resolve(triangles, lsource, rsource, schema), depth to depth, classToExplain,
      schema)
}
