package graft.perturb

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
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
  * three vertex records once, driver-side from [[VertexRecords]] the
  * caller already holds (the explainer's support rows carry every
  * vertex), then explode one literal array holding the subsets of every
  * requested depth and select each attribute through
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

  /** Un-prefixed entity records keyed by sided vertex id (`"0@<id>"`
    * left, `"1@<id>"` right, the triangle vertex format), with each
    * side's record schema.
    */
  final case class VertexRecords(lSchema: StructType, rSchema: StructType,
      byVertex: Map[String, Row])

  /** The records carried by pair rows. Every row holds a full left
    * record under `lprefix` and a full right record under `rprefix`
    * (the [[graft.candidates.CandidateGenerator.pairs]] contract, G2
    * variants included), so every vertex of the triangles discovered
    * from those rows resolves without reading a source. Columns are
    * taken by name in the order of `lSchema` / `rSchema`; the first row
    * naming a vertex wins.
    */
  def vertexRecords(rows: Seq[Row], pairSchema: StructType, lSchema: StructType,
      rSchema: StructType, schema: PairSchema = PairSchema.default): VertexRecords = {
    def side(tag: String, prefix: String, recSchema: StructType): Seq[(String, Row)] = {
      val idxs = recSchema.fieldNames.toIndexedSeq.map(c => pairSchema.fieldIndex(prefix + c))
      val idIdx = recSchema.fieldIndex("id")
      rows.map { r =>
        val rec = Row.fromSeq(idxs.map(r.get))
        s"$tag@${rec.get(idIdx)}" -> rec
      }
    }
    val all = side("0", schema.lprefix, lSchema) ++ side("1", schema.rprefix, rSchema)
    VertexRecords(lSchema, rSchema, all.reverseIterator.toMap)
  }

  /** Triangles with their vertex records joined in, split by the free
    * record's side. `left`/`right` carry columns `u,v,w` plus
    * `__u_<attr>`, `__w_<attr>` (free-side schema) and `__v_<attr>`
    * (pivot-side schema). Both frames are bounded LocalRelations
    * (|triangles| rows), so the lattice pass replays nothing against
    * the sources.
    */
  final case class ResolvedTriangles(
      left: DataFrame, right: DataFrame,
      lAttrs: Seq[String], rAttrs: Seq[String]) {

    /** Only the triangles listed in `keep` (columns u, v, w), in this
      * frame's order.
      */
    def only(keep: DataFrame): ResolvedTriangles = {
      val key = concat_ws(" ", col("u"), col("v"), col("w"))
      val keys = keep.select(key).collect().map(_.getString(0)).toIndexedSeq
      copy(left = left.filter(key.isin(keys: _*)), right = right.filter(key.isin(keys: _*)))
    }
  }

  /** Resolve each triangle's three vertices to their records — once, for
    * all depths, driver-side: triangles are ≤ O(num_triangles²) rows by
    * construction (positives × negatives of a truncated support set).
    * A triangle with a vertex missing from `records` drops (inner-join
    * semantics).
    */
  def resolve(triangles: DataFrame, records: VertexRecords): ResolvedTriangles = {
    val spark = triangles.sparkSession
    val triRows = triangles.select(col("u").cast("string"),
      col("v").cast("string"), col("w").cast("string")).collect()
    val (leftTri, rightTri) = triRows.partition(r => r.getString(0).startsWith("0@"))

    def side(tri: Array[Row], freeSchema: StructType, pivotSchema: StructType): DataFrame = {
      val outSchema = StructType(
        Seq(StructField("u", StringType), StructField("v", StringType),
          StructField("w", StringType)) ++
          freeSchema.fields.map(f => f.copy(name = s"__u_${f.name}")) ++
          freeSchema.fields.map(f => f.copy(name = s"__w_${f.name}")) ++
          pivotSchema.fields.map(f => f.copy(name = s"__v_${f.name}")))
      val rec = records.byVertex.get _
      val rows = tri.flatMap { t =>
        for (u <- rec(t.getString(0)); w <- rec(t.getString(2)); v <- rec(t.getString(1)))
          yield Row.fromSeq(Seq(t.getString(0), t.getString(1), t.getString(2)) ++
            u.toSeq ++ w.toSeq ++ v.toSeq)
      }
      spark.createDataFrame(java.util.Arrays.asList(rows.toIndexedSeq: _*), outSchema)
    }

    def attrs(s: StructType): Seq[String] = s.fieldNames.filter(_ != "id").toIndexedSeq
    ResolvedTriangles(
      side(leftTri, records.lSchema, records.rSchema),
      side(rightTri, records.rSchema, records.lSchema),
      attrs(records.lSchema), attrs(records.rSchema))
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
}
