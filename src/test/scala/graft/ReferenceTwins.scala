package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Ann

/** Reference implementations the specs compare the fused operators
  * against. Each is the higher-order-function (or portable-signature)
  * form a SQL oracle replays; the library ships only the fused form.
  */
object ReferenceTwins {

  /** Declarative twin of `Ann.lshBucketPortable` (numPlanes separate
    * zip_with/aggregate folds) — the form the SQL oracles replay.
    */
  def lshBucketPortableDeclarative(emb: Column, dim: Int,
      numPlanes: Int = 8): Column = {
    val w = Ann.portablePlaneWeights(numPlanes, dim)
    val bits = (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(emb, typedLit(w(p).toIndexedSeq), (x, wi) => x.cast("double") * wi),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Integer dot product of two int8 code arrays, accumulated in long
    * (max |dot| = dims · 127² — overflow needs 5.7e14 dims).
    */
  private def int8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Cosine over int8 codes — the scale-free quantized similarity. */
  private def int8Cosine(a: Column, b: Column): Column = {
    val den2 = int8Dot(a, a) * int8Dot(b, b)
    when(den2 === 0L, 0.0)
      .otherwise(int8Dot(a, b).cast("double") / sqrt(den2.cast("double")))
  }

  /** Declarative twin of `Ann.int8TopK` (higher-order-function folds —
    * CodegenFallback, so ~3 interpreted lambda passes per row; the
    * formulation the SQL oracle replays).
    */
  def int8TopKDeclarative(df: DataFrame, embCol: String, idCol: String,
      probe: Seq[Float], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val probeCodes = typedLit(Ann.int8CodesLocal(probe))
    val base = excludeId.fold(df)(id => df.filter(col(idCol) =!= id))
    base.select(col(idCol), Ann.int8Codes(col(embCol)).as("__codes"))
      .select(col(idCol), int8Cosine(col("__codes"), probeCodes).as("qcosine"))
      .orderBy(col("qcosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Declarative twin of `Centroids.sqDistLong` (zip_with + aggregate);
    * identical long ops in identical order.
    */
  def sqDistLongDeclarative(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => { val d = x - y; d * d }),
      lit(0L), (acc, v) => acc + v)

  /** `Dedup.simhashNearDuplicates` over the portable 60-bit signature. */
  def simhashNearDuplicatesPortable(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Int = 8, prefixBits: Int = 16): DataFrame =
    Dedup.simhashNearDuplicatesFromSigs(
      df.select(col(idCol), Dedup.simhashPortable(col(textCol)).as("sig")),
      idCol, maxDistance, prefixBits, bits = 60)
}
