package graft.explain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.matcher.ERModel
import graft.perturb.Perturb
import graft.schema.PairSchema

/** G6 matcher-invariant probes (reference triangles_method.py:124-201
  * check_properties): for a triangle <u, v, w>, build the 12 pair
  * permutations probing identity, symmetry and transitivity, score them
  * in ONE batch, and reduce to three booleans.
  *
  * The reference runs this per triangle with 12 pandas frames; here the
  * resolved triangles ([[graft.perturb.Perturb.ResolvedTriangles]], the
  * same vertex records the lattice perturbs) expand via one explode, so
  * all triangles' probes score in a single distributed pass —
  * `checkAll` returns per-triangle invariant flags.
  */
object Invariants {

  private case class Probe(kind: String, idx: Int, left: String, right: String)

  /** The 12 probes in reference order: (group, index, left-role,
    * right-role) over roles u/v/w. Identity pairs each record with
    * itself; symmetry pairs both orientations; transitivity chains
    * u~v, v~w, u~w.
    */
  private val probes: Seq[Probe] = Seq(
    Probe("identity", 0, "u", "u"), Probe("identity", 1, "v", "v"),
    Probe("identity", 2, "w", "w"),
    Probe("symmetry", 3, "u", "v"), Probe("symmetry", 4, "v", "u"),
    Probe("symmetry", 5, "u", "w"), Probe("symmetry", 6, "w", "u"),
    Probe("symmetry", 7, "v", "w"), Probe("symmetry", 8, "w", "v"),
    Probe("transitivity", 9, "u", "v"), Probe("transitivity", 10, "v", "w"),
    Probe("transitivity", 11, "u", "w"))

  /** Check identity/symmetry/transitivity for every resolved triangle.
    *
    * @return (u, v, w, identity, symmetry, transitivity)
    */
  def checkAll(resolved: Perturb.ResolvedTriangles, model: ERModel,
      schema: PairSchema): DataFrame = {

    val attrs = resolved.lAttrs

    def expand(tri: DataFrame): DataFrame = {
      val probeRows = probes.map { p =>
        struct(
          lit(p.kind).as("kind"), lit(p.idx).as("idx"),
          struct(attrs.map(a => col(s"__${p.left}_$a").cast("string").as(a)): _*).as("ls"),
          struct(attrs.map(a => col(s"__${p.right}_$a").cast("string").as(a)): _*).as("rs"))
      }
      tri.select(col("u"), col("v"), col("w"),
          explode(array(probeRows: _*)).as("p"))
        .select(Seq(col("u"), col("v"), col("w"),
          col("p.kind").as("kind"), col("p.idx").as("idx")) ++
          attrs.map(a => col(s"p.ls.$a").as(schema.lprefix + a)) ++
          attrs.map(a => col(s"p.rs.$a").as(schema.rprefix + a)): _*)
    }

    val expanded = expand(resolved.left).unionByName(expand(resolved.right))

    val scored = model.predict(expanded)
      .withColumn("pred", when(col("match_score") > col("nomatch_score"), 1).otherwise(0))

    // reduce the 12 predictions per triangle to the three invariants
    val byIdx = (i: Int) => max(when(col("idx") === i, col("pred"))).as(s"p$i")
    val pivoted = scored.groupBy(col("u"), col("v"), col("w"))
      .agg(byIdx(0), (1 to 11).map(byIdx): _*)

    pivoted.select(col("u"), col("v"), col("w"),
      (col("p0") === 1 && col("p1") === 1 && col("p2") === 1).as("identity"),
      (col("p3") === col("p4") && col("p5") === col("p6") &&
        col("p7") === col("p8")).as("symmetry"),
      {
        val matches = (9 to 11).map(i => when(col(s"p$i") === 1, 1).otherwise(0))
          .reduce(_ + _)
        (matches === 3 || matches === 0 || matches === 1).as("transitivity")
      })
  }
}
