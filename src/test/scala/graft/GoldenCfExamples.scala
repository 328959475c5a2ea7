package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.matcher.ERModel
import graft.schema.PairSchema

/** Frozen counterfactual examples of the two golden explanations
  * ([[graft.queries.ErQueries]]' nation⋈region q60-q62 fixture and the
  * bench-scale q25 self-match on `part`, both at sf0.001): every row,
  * rendered `|`-joined with arrays as `[a,b]`, sorted. The triangle
  * column pins which duplicate row the dedup keeps.
  */
object GoldenCfExamples {

  def render(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(render).mkString("|")).toSeq.sorted

  /** cfExamples schema of both fixtures past their pair columns. */
  val bookkeeping: String = Seq(
    " |-- alteredAttributes: array (nullable = true)",
    " |    |-- element: string (containsNull = true)",
    " |-- droppedValues: array (nullable = true)",
    " |    |-- element: string (containsNull = true)",
    " |-- copiedValues: array (nullable = true)",
    " |    |-- element: string (containsNull = true)",
    " |-- triangle: string (nullable = false)",
    " |-- match_score: double (nullable = false)",
    " |-- nomatch_score: double (nullable = false)",
    " |-- attr_count: integer (nullable = true)").map(_ + "\n").mkString

  def schema(pairCols: Seq[String]): String =
    "root\n" + pairCols.map(c => s" |-- $c: string (nullable = true)\n").mkString + bookkeeping

  val golden: Seq[String] = Seq(
    "NATION_14|MIDDLE EAST|group 0|NATION_0|AFRICA|group 0|[ltable_name,ltable_region]|[NATION_0,AFRICA]|[NATION_14,MIDDLE EAST]|0@0 1@0 0@14|0.4472135954999579|0.5527864045000421|2",
    "NATION_19|MIDDLE EAST|group 0|NATION_0|AFRICA|group 0|[ltable_name,ltable_region]|[NATION_0,AFRICA]|[NATION_19,MIDDLE EAST]|0@0 1@0 0@19|0.4472135954999579|0.5527864045000421|2",
    "NATION_9|MIDDLE EAST|group 0|NATION_0|AFRICA|group 0|[ltable_name,ltable_region]|[NATION_0,AFRICA]|[NATION_9,MIDDLE EAST]|0@0 1@0 0@9|0.4472135954999579|0.5527864045000421|2")
  val q25: Seq[String] = Seq(
    "cold widget|Brand#13|ECONOMY|24|blue gizmo|Brand#13|LARGE|1|[rtable_name,rtable_ptype,rtable_psize]|[cold widget,ECONOMY,24]|[blue gizmo,LARGE,1]|1@0 0@0 1@119|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue gizmo|Brand#22|ECONOMY|1|[rtable_name,rtable_brand,rtable_psize]|[cold widget,Brand#13,24]|[blue gizmo,Brand#22,1]|1@0 0@0 1@119|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue gizmo|Brand#22|LARGE|24|[rtable_name,rtable_brand,rtable_ptype]|[cold widget,Brand#13,ECONOMY]|[blue gizmo,Brand#22,LARGE]|1@0 0@0 1@119|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue ring|Brand#10|ECONOMY|50|[rtable_name,rtable_brand,rtable_psize]|[cold widget,Brand#13,24]|[blue ring,Brand#10,50]|1@0 0@0 1@128|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue ring|Brand#10|STANDARD|24|[rtable_name,rtable_brand,rtable_ptype]|[cold widget,Brand#13,ECONOMY]|[blue ring,Brand#10,STANDARD]|1@0 0@0 1@128|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue ring|Brand#13|PROMO|46|[rtable_name,rtable_ptype,rtable_psize]|[cold widget,ECONOMY,24]|[blue ring,PROMO,46]|1@0 0@0 1@138|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue ring|Brand#13|STANDARD|50|[rtable_name,rtable_ptype,rtable_psize]|[cold widget,ECONOMY,24]|[blue ring,STANDARD,50]|1@0 0@0 1@128|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue ring|Brand#25|ECONOMY|46|[rtable_name,rtable_brand,rtable_psize]|[cold widget,Brand#13,24]|[blue ring,Brand#25,46]|1@0 0@0 1@138|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|blue ring|Brand#25|PROMO|24|[rtable_name,rtable_brand,rtable_ptype]|[cold widget,Brand#13,ECONOMY]|[blue ring,Brand#25,PROMO]|1@0 0@0 1@138|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|new anvil|Brand#10|ECONOMY|15|[rtable_name,rtable_brand,rtable_psize]|[cold widget,Brand#13,24]|[new anvil,Brand#10,15]|1@0 0@0 1@120|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|new anvil|Brand#10|STANDARD|24|[rtable_name,rtable_brand,rtable_ptype]|[cold widget,Brand#13,ECONOMY]|[new anvil,Brand#10,STANDARD]|1@0 0@0 1@120|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|new anvil|Brand#13|STANDARD|15|[rtable_name,rtable_ptype,rtable_psize]|[cold widget,ECONOMY,24]|[new anvil,STANDARD,15]|1@0 0@0 1@120|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|new gear|Brand#13|MEDIUM|32|[rtable_name,rtable_ptype,rtable_psize]|[cold widget,ECONOMY,24]|[new gear,MEDIUM,32]|1@0 0@0 1@109|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|new gear|Brand#14|ECONOMY|32|[rtable_name,rtable_brand,rtable_psize]|[cold widget,Brand#13,24]|[new gear,Brand#14,32]|1@0 0@0 1@109|0.33333333333333337|0.6666666666666666|3",
    "cold widget|Brand#13|ECONOMY|24|new gear|Brand#14|MEDIUM|24|[rtable_name,rtable_brand,rtable_ptype]|[cold widget,Brand#13,ECONOMY]|[new gear,Brand#14,MEDIUM]|1@0 0@0 1@109|0.33333333333333337|0.6666666666666666|3",
    "large gear|Brand#13|MEDIUM|9|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_ptype,ltable_psize]|[cold widget,ECONOMY,24]|[large gear,MEDIUM,9]|0@0 1@0 0@125|0.33333333333333337|0.6666666666666666|3",
    "large gear|Brand#15|ECONOMY|9|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_psize]|[cold widget,Brand#13,24]|[large gear,Brand#15,9]|0@0 1@0 0@125|0.33333333333333337|0.6666666666666666|3",
    "large gear|Brand#15|MEDIUM|24|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_ptype]|[cold widget,Brand#13,ECONOMY]|[large gear,Brand#15,MEDIUM]|0@0 1@0 0@125|0.33333333333333337|0.6666666666666666|3",
    "new anvil|Brand#10|ECONOMY|15|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_psize]|[cold widget,Brand#13,24]|[new anvil,Brand#10,15]|0@0 1@0 0@120|0.33333333333333337|0.6666666666666666|3",
    "new anvil|Brand#10|STANDARD|24|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_ptype]|[cold widget,Brand#13,ECONOMY]|[new anvil,Brand#10,STANDARD]|0@0 1@0 0@120|0.33333333333333337|0.6666666666666666|3",
    "new anvil|Brand#13|STANDARD|15|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_ptype,ltable_psize]|[cold widget,ECONOMY,24]|[new anvil,STANDARD,15]|0@0 1@0 0@120|0.33333333333333337|0.6666666666666666|3",
    "new gizmo|Brand#13|MEDIUM|47|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_ptype,ltable_psize]|[cold widget,ECONOMY,24]|[new gizmo,MEDIUM,47]|0@0 1@0 0@102|0.33333333333333337|0.6666666666666666|3",
    "new gizmo|Brand#20|ECONOMY|47|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_psize]|[cold widget,Brand#13,24]|[new gizmo,Brand#20,47]|0@0 1@0 0@102|0.33333333333333337|0.6666666666666666|3",
    "new gizmo|Brand#20|MEDIUM|24|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_ptype]|[cold widget,Brand#13,ECONOMY]|[new gizmo,Brand#20,MEDIUM]|0@0 1@0 0@102|0.33333333333333337|0.6666666666666666|3",
    "old ring|Brand#11|ECONOMY|47|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_psize]|[cold widget,Brand#13,24]|[old ring,Brand#11,47]|0@0 1@0 0@12|0.33333333333333337|0.6666666666666666|3",
    "old ring|Brand#11|PROMO|24|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_ptype]|[cold widget,Brand#13,ECONOMY]|[old ring,Brand#11,PROMO]|0@0 1@0 0@12|0.33333333333333337|0.6666666666666666|3",
    "old ring|Brand#13|PROMO|47|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_ptype,ltable_psize]|[cold widget,ECONOMY,24]|[old ring,PROMO,47]|0@0 1@0 0@12|0.33333333333333337|0.6666666666666666|3",
    "red gear|Brand#11|ECONOMY|27|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_psize]|[cold widget,Brand#13,24]|[red gear,Brand#11,27]|0@0 1@0 0@122|0.33333333333333337|0.6666666666666666|3",
    "red gear|Brand#11|MEDIUM|24|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_brand,ltable_ptype]|[cold widget,Brand#13,ECONOMY]|[red gear,Brand#11,MEDIUM]|0@0 1@0 0@122|0.33333333333333337|0.6666666666666666|3",
    "red gear|Brand#13|MEDIUM|27|cold widget|Brand#13|ECONOMY|24|[ltable_name,ltable_ptype,ltable_psize]|[cold widget,ECONOMY,24]|[red gear,MEDIUM,27]|0@0 1@0 0@122|0.33333333333333337|0.6666666666666666|3")
}

/** Matches a pair exactly when its sides differ in 0 or exactly 2 of
  * their attributes. Every record of the synthesized-depth fixture
  * differs from the explained pair in all three attributes, so the
  * explained self-match is a match, its support pairs are non-matches,
  * every depth-1 perturbation (one differing attribute) flips, and a
  * depth-2 perturbation would NOT flip if it were scored: its depth-2
  * results must come from the synthesis rule, not from the model.
  */
object TwoDiffModel extends ERModel {
  private val attrs = Seq("name", "city", "color")
  override def predict(pairs: DataFrame): DataFrame = {
    val ps = PairSchema.default
    val diffs = attrs.map(a => when(col(ps.lprefix + a) === col(ps.rprefix + a), 0)
      .otherwise(1)).reduce(_ + _)
    pairs.withColumn("match_score", when(diffs === 0 || diffs === 2, 1.0).otherwise(0.0))
      .withColumn("nomatch_score", lit(1.0) - col("match_score"))
  }
}
