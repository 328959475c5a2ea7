package graft.matcher

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextSim
import graft.schema.PairSchema

/** The model-inference boundary (reference models/ermodel.py:1-26):
  * a batch scorer `pair table → pair table ⊕ {nomatch_score,
  * match_score}`. Everything the explainer does is model-agnostic
  * behind this trait.
  *
  * Implementations must be pure column transformations or
  * mapPartitions-style batch scorers — never driver loops — so that
  * scoring distributes with the data at cluster scale.
  */
trait ERModel extends Serializable {
  /** Append `nomatch_score` and `match_score` (doubles in [0,1]) to a
    * pair frame (reference dm.py:77, bert.py:224-225).
    */
  def predict(pairs: DataFrame): DataFrame

  /** Whether a prediction costs materially more than a scan-local
    * column program — true for mapPartitions batch scorers (external
    * neural models) and trained-pipeline transforms. Drives cost-based
    * candidate-generator selection ([[graft.candidates.AutoSelect]]):
    * pruning candidates is worth a blocking pass exactly when the
    * scorer it prunes is the expensive side (the trade measured in
    * SURVEY.md round 5 ScaleSmoke;
    * [[graft.candidates.LshBlockingGenerator]]'s scaladoc).
    */
  def costlyScorer: Boolean = false
}

/** Deterministic rule-based matcher: match score = token-bag cosine of
  * the two sides' concatenated attribute text (the same `cs` measure
  * the reference uses for candidate scoring, local_explain.py:221-234).
  * Exactly reproducible — the oracle of choice for unit tests and the
  * DuckDB-checked ER queries.
  */
final case class TokenCosineModel(schema: PairSchema = PairSchema.default) extends ERModel {
  override def predict(pairs: DataFrame): DataFrame = {
    val lcols = pairs.columns.filter(c => c.startsWith(schema.lprefix) && c != schema.lid)
    val rcols = pairs.columns.filter(c => c.startsWith(schema.rprefix) && c != schema.rid)
    val ltext = TextSim.recordText(lcols.map(col).toIndexedSeq)
    val rtext = TextSim.recordText(rcols.map(col).toIndexedSeq)
    pairs
      .withColumn("match_score", TextSim.tokenCosine(ltext, rtext))
      .withColumn("nomatch_score", lit(1.0) - col("match_score"))
  }
}
