package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The record-pair schema convention of the reference engine: a pair
  * table is a wide frame with left attributes prefixed `ltable_` and
  * right attributes prefixed `rtable_` (reference utils.py:4-10,
  * explain.py:35), plus a composite pair id `"0@<lid>#1@<rid>"`
  * (reference local_explain.py:44).
  *
  * The reference plumbs these as raw strings everywhere; here the
  * convention is one typed helper so operators never re-derive it.
  */
final case class PairSchema(lprefix: String = "ltable_", rprefix: String = "rtable_") {

  def lid: String = lprefix + "id"
  def rid: String = rprefix + "id"

  /** P1 prefix-rename projection (reference triangles_method.py:13-17). */
  def renameWithPrefix(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(prefix + c)).toIndexedSeq: _*)

  /** P2 prefix-select (reference local_explain.py:108). */
  def selectPrefixed(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.filter(_.startsWith(prefix)).map(col).toIndexedSeq: _*)

  /** P3 prefix-strip rename (reference explain.py:116-117). */
  def stripPrefix(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.filter(_.startsWith(prefix))
      .map(c => col(c).as(c.stripPrefix(prefix))).toIndexedSeq: _*)

  /** Non-id attribute column names of a pair frame, both sides
    * (reference triangles_method.py:211-212).
    */
  def pairAttributes(df: DataFrame): Seq[String] =
    df.columns.filter(c =>
      (c.startsWith(lprefix) || c.startsWith(rprefix)) && c != lid && c != rid).toIndexedSeq

  /** F4 composite-id build: `"0@<lid>#1@<rid>"` (local_explain.py:44). */
  def pairId(lidCol: Column, ridCol: Column): Column =
    concat(lit("0@"), lidCol.cast("string"), lit("#1@"), ridCol.cast("string"))

  /** J1 pair assembly: cross of two single-record frames with prefix
    * renames (reference utils.py:4-10 get_row). Both inputs are single
    * records by contract but usually arrive as filtered frames the
    * planner can't size — broadcast the right side so this plans as a
    * BroadcastNestedLoopJoin, never a CartesianProduct whose task count
    * is the product of both sides' partition counts.
    */
  def assemblePair(lRecord: DataFrame, rRecord: DataFrame): DataFrame =
    renameWithPrefix(lRecord, lprefix)
      .crossJoin(broadcast(renameWithPrefix(rRecord, rprefix)))

  /** J2 merge_sources (reference utils.py:13-30): resolve
    * (ltable_id, rtable_id, label) rows against both entity sources via
    * two broadcast equi-joins — O(n) vs the reference's O(n·m) scan loop.
    * At 100 TB the broadcast() hint drops out and Catalyst/AQE picks a
    * shuffled hash join keyed on the id columns.
    */
  def mergeSources(pairs: DataFrame, lsource: DataFrame, rsource: DataFrame,
      broadcastSources: Boolean = true): DataFrame = {
    val l = renameWithPrefix(lsource, lprefix)
    val r = renameWithPrefix(rsource, rprefix)
    val lk = if (broadcastSources) broadcast(l) else l
    val rk = if (broadcastSources) broadcast(r) else r
    val keyCols = Seq("ltable_id", "rtable_id").map(k =>
      k.replace("ltable_", lprefix).replace("rtable_", rprefix))
    pairs
      .join(lk, pairs(keyCols.head) === lk(lid))
      .join(rk, pairs(keyCols(1)) === rk(rid))
      .drop(pairs(keyCols.head)).drop(pairs(keyCols(1)))
  }
}

object PairSchema {
  val default: PairSchema = PairSchema()
}
