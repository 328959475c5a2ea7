package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.explain.{CertaExplainer, Explanation}
import graft.matcher.TokenCosineModel
import graft.sources.Tables
import graft.triangles.Triangles

/** ER-operator queries on the harness data: `part` as both sides of a
  * self-ER problem (FIXTURES.md §B), brand as the blocking key, type
  * equality as ground-truth label. q20-q23 are DuckDB-checkable
  * re-expressions of the CERTA dataflow stages (J3-blocking, J4, A7,
  * A1); q25-q28 run the real explainer end-to-end — not SQL-expressible,
  * so their oracles are per-SF frozen VALUES literals ([[GoldenLive]])
  * hash-checked at the driver's verify SF.
  */
object ErQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def pp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"), col("p_brand"), col("p_type"), col("p_name"), col("p_size"))

  // ---------------------------------------------------------------- q20
  /** Blocked candidate-pair generation (J3 at scale: equi-join on the
    * blocking key instead of a cross join — the SURVEY §4 scale path)
    * with match labels, per-block stats.
    */
  def q20ErPairs(s: SparkSession, dir: String): DataFrame = {
    val p = pp(s, dir)
    val a = p.select(p.columns.map(c => col(c).as("l_" + c)).toIndexedSeq: _*)
    val b = p.select(p.columns.map(c => col(c).as("r_" + c)).toIndexedSeq: _*)
    a.join(b, col("l_p_brand") === col("r_p_brand") &&
        col("l_p_partkey") < col("r_p_partkey"))
      .groupBy(col("l_p_brand").as("brand"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("l_p_type") === col("r_p_type"), 1L).otherwise(0L)).as("n_matches"))
      .orderBy(col("brand"))
  }

  val q20Sql: String =
    """SELECT a.p_brand AS brand, COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |GROUP BY a.p_brand ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------- q21
  /** J4 triangle discovery on a deterministic labeled pair set (one
    * brand, 10% key sample to bound fan-out): positives ⋈ negatives on
    * the shared pivot, both orientations — the graft.triangles.Triangles
    * join shape, verified against SQL.
    */
  def q21ErTriangles(s: SparkSession, dir: String): DataFrame = {
    val p = pp(s, dir)
      .filter(col("p_brand") === "Brand#13" && pmod(col("p_partkey"), lit(10)) === 0)
    val a = p.select(col("p_partkey").as("lk"), col("p_type").as("lt"))
    val b = p.select(col("p_partkey").as("rk"), col("p_type").as("rt"))
    val pairs = a.join(b, col("lk") < col("rk"))
      .withColumn("label", when(col("lt") === col("rt"), 1).otherwise(0))
      .select(col("lk"), col("rk"), col("label")).cache()
    val pos = pairs.filter(col("label") === 1)
    val neg = pairs.filter(col("label") === 0)
    val leftOpen = pos.select(col("lk").as("pl"), col("rk").as("pr"))
      .join(neg.select(col("lk").as("nl"), col("rk").as("nr")), col("pr") === col("nr"))
      .filter(col("pl") =!= col("nl"))
    val rightOpen = pos.select(col("lk").as("pl"), col("rk").as("pr"))
      .join(neg.select(col("lk").as("nl"), col("rk").as("nr")), col("pl") === col("nl"))
      .filter(col("pr") =!= col("nr"))
    leftOpen.agg(count(lit(1)).as("n_left_open"))
      .crossJoin(rightOpen.agg(count(lit(1)).as("n_right_open")))
      .withColumn("n_total", col("n_left_open") + col("n_right_open"))
  }

  val q21Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_type FROM part
      |  WHERE p_brand = 'Brand#13' AND p_partkey % 10 = 0),
      |pairs AS (
      |  SELECT a.p_partkey AS lk, b.p_partkey AS rk,
      |    CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS label
      |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey),
      |pos AS (SELECT * FROM pairs WHERE label = 1),
      |neg AS (SELECT * FROM pairs WHERE label = 0),
      |lo AS (SELECT COUNT(*) AS n_left_open FROM pos JOIN neg
      |  ON pos.rk = neg.rk AND pos.lk <> neg.lk),
      |ro AS (SELECT COUNT(*) AS n_right_open FROM pos JOIN neg
      |  ON pos.lk = neg.lk AND pos.rk <> neg.rk)
      |SELECT n_left_open, n_right_open, n_left_open + n_right_open AS n_total
      |FROM lo CROSS JOIN ro""".stripMargin

  // ---------------------------------------------------------------- q22
  /** A7 similarity banding: token-set jaccard of part names within each
    * brand block — integer-count output so the oracle is exact.
    */
  def q22ErJaccard(s: SparkSession, dir: String): DataFrame = {
    val p = pp(s, dir).withColumn("toks", array_distinct(split(col("p_name"), " ")))
    val a = p.select(col("p_partkey").as("lk"), col("p_brand").as("brand"),
      col("toks").as("ltoks"))
    val b = p.select(col("p_partkey").as("rk"), col("p_brand").as("rbrand"),
      col("toks").as("rtoks"))
    val inter = size(array_intersect(col("ltoks"), col("rtoks")))
    // |A∪B| = |A|+|B|−|A∩B| — valid because toks is array_distinct at
    // source; identical integer counts, no per-pair union set build
    val uni = size(col("ltoks")) + size(col("rtoks")) - inter
    a.join(b, col("brand") === col("rbrand") && col("lk") < col("rk"))
      .withColumn("jac", inter.cast("double") / uni.cast("double"))
      .groupBy(col("brand"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as("n_similar"),
        sum(when(col("jac") === 0.0, 1L).otherwise(0L)).as("n_disjoint"))
      .orderBy(col("brand"))
  }

  val q22Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_brand, list_distinct(string_split(p_name, ' ')) AS toks
      |  FROM part)
      |SELECT a.p_brand AS brand, COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.5
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_similar,
      |  CAST(SUM(CASE WHEN len(list_intersect(a.toks, b.toks)) = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_disjoint
      |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |GROUP BY a.p_brand ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------- q23
  /** A1 flip-count ranking, SQL-expressible analog: perturb each matched
    * pair by copying one attribute from a per-brand support record
    * (max_by key), score with the deterministic type-equality model,
    * count flips per altered attribute — the getAttributeRanking shape
    * (reference triangles_method.py:376-381) end to end.
    */
  def q23ErSensitivity(s: SparkSession, dir: String): DataFrame = {
    val p = pp(s, dir)
    val a = p.select(col("p_partkey").as("lk"), col("p_brand").as("brand"),
      col("p_type").as("l_type"))
    val b = p.select(col("p_partkey").as("rk"), col("p_brand").as("rbrand"),
      col("p_type").as("r_type"))
    val matched = a.join(b, col("brand") === col("rbrand") &&
      col("lk") < col("rk") && col("l_type") === col("r_type"))
    val supp = p.groupBy(col("p_brand").as("sbrand"))
      .agg(max_by(col("p_type"), col("p_partkey")).as("s_type"))
    val perturbed = matched
      .join(broadcast(supp), col("brand") === col("sbrand"))
      .withColumn("attr", explode(typedLit(Seq("p_name", "p_size", "p_type"))))
      .withColumn("flipped",
        col("attr") === "p_type" && col("s_type") =!= col("r_type"))
    perturbed.groupBy(col("attr"))
      .agg(count(lit(1)).as("n_pert"),
        sum(when(col("flipped"), 1L).otherwise(0L)).as("n_flips"))
      .orderBy(col("attr"))
  }

  val q23Sql: String =
    """WITH matched AS (
      |  SELECT a.p_brand AS brand, b.p_type AS r_type
      |  FROM part a JOIN part b ON a.p_brand = b.p_brand
      |    AND a.p_partkey < b.p_partkey AND a.p_type = b.p_type),
      |supp AS (
      |  SELECT p_brand AS sbrand, max_by(p_type, p_partkey) AS s_type
      |  FROM part GROUP BY p_brand),
      |perturbed AS (
      |  SELECT brand, r_type, s_type, unnest(['p_name', 'p_size', 'p_type']) AS attr
      |  FROM matched JOIN supp ON brand = sbrand)
      |SELECT attr, COUNT(*) AS n_pert,
      |  CAST(SUM(CASE WHEN attr = 'p_type' AND s_type <> r_type THEN 1 ELSE 0 END) AS BIGINT) AS n_flips
      |FROM perturbed GROUP BY attr ORDER BY attr""".stripMargin

  // ---------------------------------------------------------------- q24
  /** A15 matcher-quality evaluation: confusion counts + F1 of a
    * deterministic rule model (same type → match) against a stricter
    * ground truth (same type ∧ |size diff| ≤ 3) over within-brand
    * pairs. One pass; F1 as a single exact division.
    */
  def q24ErF1(s: SparkSession, dir: String): DataFrame = {
    val p = pp(s, dir)
    val a = p.select(col("p_partkey").as("lk"), col("p_brand").as("brand"),
      col("p_type").as("ltype"), col("p_size").as("lsize"))
    val b = p.select(col("p_partkey").as("rk"), col("p_brand").as("rb"),
      col("p_type").as("rtype"), col("p_size").as("rsize"))
    val pairs = a.join(b, col("brand") === col("rb") && col("lk") < col("rk"))
      .withColumn("pred", (col("ltype") === col("rtype")).cast("int"))
      .withColumn("truth", (col("ltype") === col("rtype") &&
        abs(col("lsize") - col("rsize")) <= 3).cast("int"))
    pairs.agg(
        sum(when(col("pred") === 1 && col("truth") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("truth") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("truth") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0 && col("truth") === 0, 1L).otherwise(0L)).as("tn"))
      .withColumn("f1",
        lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn")))
  }

  val q24Sql: String =
    """WITH pairs AS (
      |  SELECT CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS pred,
      |    CASE WHEN a.p_type = b.p_type AND abs(a.p_size - b.p_size) <= 3
      |      THEN 1 ELSE 0 END AS truth
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
      |c AS (SELECT
      |  CAST(SUM(CASE WHEN pred = 1 AND truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(SUM(CASE WHEN pred = 1 AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(SUM(CASE WHEN pred = 0 AND truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(SUM(CASE WHEN pred = 0 AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM pairs)
      |SELECT tp, fp, fn, tn,
      |  2.0 * tp / (2 * tp + fp + fn) AS f1
      |FROM c""".stripMargin

  // ----------------------------------------------------- q25-q27 (rows-only)
  /** Entity sources for the live explainer: parts as string records. */
  private def erSource(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey").as("id"),
      col("p_name").as("name"),
      col("p_brand").as("brand"),
      col("p_type").as("ptype"),
      col("p_size").cast("string").as("psize"))

  // One explanation per (sfDir) — q25/q26/q27 share it. Its frames are
  // LocalRelations, so the memo replays no source scan.
  private val cache = scala.collection.concurrent.TrieMap.empty[String, Explanation]

  /** Bench hook: drop the memoized explanation so a repeated q25 run
    * re-executes the full explainer instead of reading the memo (q26/
    * q27 keep riding the latest q25 run's memo, as always).
    */
  private[graft] def resetExplanationMemo(): Unit = {
    cache.clear(); goldenCache.clear()
  }

  private[graft] def explained(s: SparkSession, dir: String): Explanation =
    cache.getOrElseUpdate(dir, {
      val src = erSource(s, dir)
      val l = src.filter(col("id") === 0)
      val r = src.filter(col("id") === 0)
      new CertaExplainer(src, src).explain(l, r, TokenCosineModel(), numTriangles = 10)
    })

  /** Full CERTA saliency explanation (reference explain.py:34-158) of a
    * self-match on part 0 — live explainer, hash-checked against the
    * per-SF frozen golden ([[GoldenLive]]).
    */
  def q25CertaSaliency(s: SparkSession, dir: String): DataFrame =
    explained(s, dir).saliency.orderBy(col("attribute"))

  /** Baseline saliency comparison on the same pair (the reference
    * eval.py side-by-side): Mojito (LIME-style masking), full per-token
    * Landmark rolled up per attribute, and exact-Shapley SHAP — all
    * seeded/exact, so the weights freeze to per-SF constants —
    * hash-checked against [[GoldenLive]].
    */
  def q28BaselineSaliency(s: SparkSession, dir: String): DataFrame = {
    val src = erSource(s, dir)
    val l = src.filter(col("id") === 0)
    val model = TokenCosineModel()
    val mj = graft.baselines.Mojito.explain(l, l, model)
      .withColumn("method", lit("mojito"))
    val lm = graft.baselines.Landmark.explain(l, l, model)
      .withColumn("method", lit("landmark"))
    val sh = graft.baselines.Shap.attributions(l, l, model)
      .withColumnRenamed("shap", "weight")
      .withColumn("method", lit("shap"))
    mj.unionByName(lm).unionByName(sh)
      .select(col("method"), col("attribute"), col("weight"))
      .orderBy(col("method"), col("attribute"))
  }

  /** Probability-of-sufficiency table (A2) from the same explanation. */
  def q26CertaPss(s: SparkSession, dir: String): DataFrame =
    explained(s, dir).pss.select(col("attrSet"), col("pos")).orderBy(col("attrSet"))

  /** Open triangles used by the same explanation (J4 output). */
  def q27CertaTriangles(s: SparkSession, dir: String): DataFrame =
    explained(s, dir).triangles.orderBy(col("u"), col("v"), col("w"))

  // ------------------------------------------------- q60-q62 (golden oracle)
  /** SF-invariant explainer fixture: nation ⋈ region (both tables are
    * fixed-size TPC-H tables, bit-identical at every scale factor) with
    * attributes built for token overlap — same region and same parity
    * group share tokens, so the deterministic TokenCosineModel yields a
    * full positive/negative structure. Because the input is identical
    * at every SF and every stage of the explainer is seeded/hash-
    * deterministic, the outputs are frozen constants: the DuckDB oracle
    * is a VALUES literal generated from [[GoldenExplainer]]'s constants
    * and the driver hash-checks the LIVE explainer run against it —
    * closing the one core path (reference explain.py:155's tuple) that
    * was rows-only through round 4. q25-q27 stay as the bench-scale
    * live run on `part`.
    */
  private def goldenSource(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_nationkey").cast("long").as("id"),
        col("n_name").as("name"),
        col("r_name").as("region"),
        concat(lit("group "), pmod(col("n_nationkey"), lit(2)).cast("string"))
          .as("grp"))
  }

  private val goldenCache = scala.collection.concurrent.TrieMap.empty[String, Explanation]

  private[graft] def goldenExplained(s: SparkSession, dir: String): Explanation =
    goldenCache.getOrElseUpdate(dir, {
      val src = goldenSource(s, dir)
      val l = src.filter(col("id") === 0)
      new CertaExplainer(src, src).explain(l, l, TokenCosineModel(), numTriangles = 10)
    })

  def q60GoldenSaliency(s: SparkSession, dir: String): DataFrame =
    goldenExplained(s, dir).saliency.orderBy(col("attribute"))

  def q61GoldenPss(s: SparkSession, dir: String): DataFrame =
    goldenExplained(s, dir).pss.select(col("attrSet"), col("pos"))
      .orderBy(col("attrSet"))

  def q62GoldenTriangles(s: SparkSession, dir: String): DataFrame =
    goldenExplained(s, dir).triangles.select(col("u"), col("v"), col("w"))
      .orderBy(col("u"), col("v"), col("w"))

  /** Baseline saliency on the golden fixture: the same three exact /
    * seeded explainers as [[q28BaselineSaliency]] (Mojito masking,
    * Landmark per-token rollup, exact Shapley), but over the
    * SF-invariant nation⋈region source — so their weights freeze to
    * constants and the driver hash-checks the live run against a
    * VALUES oracle ([[GoldenExplainer.baselinesSql]]), upgrading the
    * baseline-explainer path from rows-only to fully checked.
    */
  def q63GoldenBaselines(s: SparkSession, dir: String): DataFrame = {
    val src = goldenSource(s, dir)
    val l = src.filter(col("id") === 0)
    val model = TokenCosineModel()
    val mj = graft.baselines.Mojito.explain(l, l, model)
      .withColumn("method", lit("mojito"))
    val lm = graft.baselines.Landmark.explain(l, l, model)
      .withColumn("method", lit("landmark"))
    val sh = graft.baselines.Shap.attributions(l, l, model)
      .withColumnRenamed("shap", "weight")
      .withColumn("method", lit("shap"))
    mj.unionByName(lm).unionByName(sh)
      .select(col("method"), col("attribute"), col("weight"))
      .orderBy(col("method"), col("attribute"))
  }

  // ------------------------------------------- q170-q171 (metric goldens)
  /** Labeled pair table over the SF-invariant fixture: all 625
    * nation×nation pairs, ground truth = same region. The fixed input
    * for the A13/A14 explanation-quality metric goldens — every number
    * downstream is a deterministic function of these rows.
    */
  private def goldenLabeledPairs(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.schema.PairSchema.default
    val src = goldenSource(s, dir)
    schema.renameWithPrefix(src, schema.lprefix)
      .crossJoin(schema.renameWithPrefix(src, schema.rprefix))
      .withColumn("label",
        when(col("ltable_region") === col("rtable_region"), 1).otherwise(0))
  }

  private val goldenAttrs = Seq("name", "region", "grp")

  /** Deterministic per-pair, per-attribute saliency (long form): the
    * token cosine of the attribute's two sides — the stand-in ranking
    * that exercises A13's per-row ablation path without the explainer
    * in the loop (ties break attribute-asc inside the metric).
    */
  private def goldenSaliencyLong(pairs: DataFrame): DataFrame =
    goldenAttrs.flatMap { a =>
      Seq("ltable_", "rtable_").map { side =>
        pairs.select(col("ltable_id"), col("rtable_id"),
          lit(side + a).as("attribute"),
          graft.functions.TextSim.tokenCosine(
            col("ltable_" + a), col("rtable_" + a)).as("score"))
      }
    }.reduce(_ unionByName _)

  /** A13 faithfulness AUC ([[graft.metrics.SaliencyMetrics
    * .faithfulnessAucPerRow]], reference metrics/saliency.py:138-173) on
    * the SF-invariant fixture: per-pair top-k ablation at each
    * threshold, F1 re-evaluation under TokenCosineModel, trapezoid AUC.
    * Every stage is count/hash arithmetic — the resulting doubles are
    * frozen constants and the oracle is a VALUES literal
    * ([[GoldenMetrics.faithfulnessSql]]), closing the last spec-only §2
    * row pair (A13/A14) with a driver hash check.
    */
  def q170GoldenFaithfulness(s: SparkSession, dir: String): DataFrame = {
    val pairs = goldenLabeledPairs(s, dir)
    val attrs = goldenAttrs.flatMap(a => Seq("ltable_" + a, "rtable_" + a))
    val model = TokenCosineModel()
    val (scores, auc) = graft.metrics.SaliencyMetrics.faithfulnessAucPerRow(
      pairs, goldenSaliencyLong(pairs), model.predict, attrs)
    val rows = ("auc", auc) +:
      graft.metrics.SaliencyMetrics.defaultThresholds.zip(scores)
        .map { case (t, f) => (s"f1@$t", f) }
    import s.implicits._
    rows.toDF("metric", "value").orderBy(col("metric"))
  }

  /** A14 confidence indication ([[graft.metrics.ConfidenceMetrics]],
    * reference metrics/saliency.py:16-135) on the SF-invariant fixture:
    * per-attribute saliency features → model confidence, 5-fold
    * deterministic-hash CV, MLlib MinMaxScaler+LinearRegression. The
    * input is pinned to ONE partition in (ltable_id, rtable_id) order so
    * the normal-equation aggregation order — and therefore every last
    * bit of the fit — is reproducible; outputs are quantized to 1e-9
    * (`*_q` longs) so the frozen oracle is robust to any future
    * last-ulp drift in MLlib internals while still checking 9 digits.
    */
  def q171GoldenConfidence(s: SparkSession, dir: String): DataFrame = {
    val pairs = goldenLabeledPairs(s, dir)
    val feats = goldenAttrs.map(a => "sal_" + a)
    val explanations = goldenAttrs.foldLeft(
        TokenCosineModel().predict(pairs)) { (df, a) =>
        df.withColumn("sal_" + a, graft.functions.TextSim.tokenCosine(
          col("ltable_" + a), col("rtable_" + a)))
      }
      .withColumn("confidence",
        greatest(col("match_score"), col("nomatch_score")))
      .select((feats.map(col) :+ col("confidence") :+ col("ltable_id")
        :+ col("rtable_id")): _*)
      .repartition(1)
      .sortWithinPartitions(col("ltable_id"), col("rtable_id"))
    val r = graft.metrics.ConfidenceMetrics.confidenceIndication(
      explanations, feats, foldCols = Seq("ltable_id", "rtable_id"))
    def q(v: Double): Long = math.round(v * 1e9)
    val rows = Seq(("mean_mae_q", q(r.meanMae)), ("max_err_q", q(r.maxError))) ++
      r.foldMaes.zipWithIndex.map { case (m, i) => (s"fold${i}_mae_q", q(m)) }
    import s.implicits._
    rows.toDF("metric", "value_q").orderBy(col("metric"))
  }

  /** Lattice debug path golden (S4 dot sink + J7 lattice joins + A6
    * group-by-triangle, reference utils.py:84-177 / explain.py:79-153):
    * per-triangle lattices assembled from the golden explanation's
    * counterfactual predictions, each emitted as its Hasse dot code and
    * censused (element count, cover-edge count, md5 of the dot text).
    * Every input is frozen-deterministic (the q60-q63 fixture) and
    * [[graft.explain.Lattice.fromPredictions]] sorts entries by set
    * label, so the dot strings are constants — the oracle is a VALUES
    * literal ([[GoldenMetrics.latticeSql]]), upgrading the last
    * spec-only explainer surface to a driver hash check.
    */
  def q174LatticeGolden(s: SparkSession, dir: String): DataFrame = {
    val e = goldenExplained(s, dir)
    val src = goldenSource(s, dir)
    val l = src.filter(col("id") === 0)
    val pair = graft.schema.PairSchema.default.assemblePair(l, l)
    val orig = TokenCosineModel().predict(pair)
      .select(col("match_score")).head().getDouble(0)
    val allAttrs = goldenAttrs.flatMap(a =>
      Seq("ltable_" + a, "rtable_" + a)).toSet
    val lats = graft.explain.Lattice.fromPredictions(
      e.cfExamples.select(col("triangle"), col("alteredAttributes"),
        col("match_score")),
      orig, allAttrs)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = lats.map { lt =>
      val dot = lt.hasse
      (lt.triangle, lt.elements.size.toLong,
        (dot.split("\" -> \"", -1).length - 1).toLong, md5hex(dot))
    }
    import s.implicits._
    rows.toDF("triangle", "n_elements", "n_edges", "dot_md5")
      .orderBy(col("triangle"))
  }

  /** A9-A12 counterfactual-quality metrics golden
    * ([[graft.metrics.CfMetrics]], reference
    * metrics/counterfactual.py:4-64): validity, proximity, sparsity,
    * diversity of the golden explanation's CF examples against the
    * probe record — frozen to 1e-9-quantized longs (the q171 rule: the
    * values are exact rationals but double summation order varies with
    * partitioning, so the golden checks 9 digits and is immune to the
    * last ulp).
    */
  def q175CfMetricsGolden(s: SparkSession, dir: String): DataFrame = {
    val e = goldenExplained(s, dir)
    val src = goldenSource(s, dir)
    val l = src.filter(col("id") === 0)
    val probePair = graft.schema.PairSchema.default.assemblePair(l, l).head()
    val attrs = goldenAttrs.flatMap(a => Seq("ltable_" + a, "rtable_" + a))
    val cf = e.cfExamples
    import graft.metrics.CfMetrics
    def q(v: Double): Long = math.round(v * 1e9)
    val rows = Seq(
      ("diversity_q", q(CfMetrics.diversity(cf, attrs))),
      ("proximity_q", q(CfMetrics.proximity(cf, probePair, attrs))),
      ("sparsity_q", q(CfMetrics.sparsity(cf, probePair, attrs))),
      // the golden probe is a match (pc = 1): validity counts CF rows
      // whose match_score crossed below 0.5
      ("validity_q", q(CfMetrics.validity(cf, "match_score"))))
    import s.implicits._
    rows.toDF("metric", "value_q").orderBy(col("metric"))
  }

  /** G2 augmentation-fallback golden (reference local_explain.py:51-60
    * via explain.py:67): at `numTriangles = 60` the fixture's 26
    * qualifying support pairs fall short, so the explainer generates
    * prefix/suffix token-drop variants of the probe records and
    * searches support among them — the one explainer branch no other
    * golden executes. On this fixture the mostly-single-token
    * attributes yield no qualifying augmented support, so the frozen
    * output equals the untruncated full-26-support explanation —
    * which is precisely the PARITY.md layer-B configuration, until
    * now never driver-checked. Every stage stays
    * seeded/deterministic, so the resulting saliency freezes
    * ([[GoldenMetrics.augSaliencySql]]).
    */
  def q176AugmentedGolden(s: SparkSession, dir: String): DataFrame = {
    val src = goldenSource(s, dir)
    val l = src.filter(col("id") === 0)
    val e = new CertaExplainer(src, src).explain(l, l, TokenCosineModel(),
      numTriangles = 60)
    e.saliency.orderBy(col("attribute"))
  }

  /** G6 invariant-probe golden (reference triangles_method.py:204-207,
    * 280-283): the golden explanation re-run with `check = true` — all
    * 12 identity/symmetry/transitivity probes scored per triangle in
    * one distributed pass — and the flagged triangle table frozen
    * ([[GoldenMetrics.invariantsSql]]). Upgrades the check path from
    * spec-only to driver hash-checked.
    */
  def q177InvariantsGolden(s: SparkSession, dir: String): DataFrame = {
    val src = goldenSource(s, dir)
    val l = src.filter(col("id") === 0)
    val e = new CertaExplainer(src, src).explain(l, l, TokenCosineModel(),
      numTriangles = 10, check = true)
    e.triangles.select(col("u"), col("v"), col("w"),
        col("identity").cast("long").as("identity"),
        col("symmetry").cast("long").as("symmetry"),
        col("transitivity").cast("long").as("transitivity"))
      .orderBy(col("u"), col("v"), col("w"))
  }

  /** S5 word-embedding text source round-trip (reference
    * DeepER.py:20-32 GloVe loader): deterministic `word v1..v4` lines
    * synthesized from `nation` (vector terms are pure key arithmetic),
    * written as the whitespace text format, read back through
    * [[graft.sources.ErSources.readEmbeddingText]] into the broadcast word→vector map,
    * and censused — count, total dims, integer value sum. The oracle
    * replays the synthesis formula from `nation` directly, so the
    * parse path (tokenization, float conversion, map assembly) is what
    * the hash check exercises.
    */
  def q178EmbeddingTextSource(s: SparkSession, dir: String): DataFrame = {
    val dims = 4
    // synthetic single-token words ("w<key>") rather than raw names:
    // a regenerated fixture with multi-word names would break the
    // whitespace format itself, and duplicate names would silently
    // shrink the map below the COUNT(*) oracle — the parse path under
    // test is identical either way
    val rows = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long")).collect()
    val lines = rows.map(_.getLong(0)).sorted.map { k =>
      val vec = (0 until dims).map(i => (k * 7 + i) % 13 - 6)
      s"w$k " + vec.mkString(" ")
    }
    val tmp = graft.tools.Scratch.tempDir("q178")
    val f = java.nio.file.Paths.get(tmp, "glove.txt")
    java.nio.file.Files.writeString(f, lines.mkString("\n"))
    val b = graft.sources.ErSources.readEmbeddingText(s, f.toString)
    val m = b.value
    val out = Seq((m.size.toLong,
      m.valuesIterator.map(_.length.toLong).sum,
      m.valuesIterator.flatMap(_.iterator).map(_.toLong).sum))
    b.destroy()
    import s.implicits._
    out.toDF("n_words", "sum_dims", "val_sum")
  }

  val q178Sql: String =
    """SELECT COUNT(*) AS n_words,
      |  CAST(4 * COUNT(*) AS BIGINT) AS sum_dims,
      |  CAST(SUM((n_nationkey * 7 + 0) % 13 - 6
      |    + (n_nationkey * 7 + 1) % 13 - 6
      |    + (n_nationkey * 7 + 2) % 13 - 6
      |    + (n_nationkey * 7 + 3) % 13 - 6) AS BIGINT) AS val_sum
      |FROM nation""".stripMargin

  /** Evidence-counterfactual baselines golden (reference shap_c.py /
    * lime_c.py / the DiCE-random driver): SHAP-C (exact-Shapley greedy
    * blanking), LIME-C (seeded Mojito weights, supporting-sign greedy
    * blanking) and DiCE-random (seeded feature-subset draws over
    * bounded domains) on the golden probe — every stage is seeded or
    * exact, so the found/size/set results and the DiCE CF content
    * hash freeze ([[GoldenMetrics.evidenceCfSql]]). Upgrades the last
    * spec-only baseline explainers to driver hash checks.
    */
  def q179EvidenceCfGolden(s: SparkSession, dir: String): DataFrame = {
    val src = goldenSource(s, dir)
    val l = src.filter(col("id") === 0)
    val model = TokenCosineModel()
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shapc = graft.baselines.ShapC.explain(l, l, model)
    val limec = graft.baselines.LimeC.explain(l, l, model)
    val dice = graft.baselines.DiceRandom.explain(l, l, model,
      goldenLabeledPairs(s, dir))
    val diceRows = dice.collect().map(_.toString).sorted
    val rows = Seq(
      ("dice", if (diceRows.nonEmpty) 1L else 0L, diceRows.length.toLong,
        md5hex(diceRows.mkString("\n"))),
      ("limec", if (limec.found) 1L else 0L, limec.sizeExplanation.toLong,
        limec.explanationSet.sorted.mkString("/")),
      ("shapc", if (shapc.found) 1L else 0L, shapc.sizeExplanation.toLong,
        shapc.explanationSet.sorted.mkString("/")))
    import s.implicits._
    rows.toDF("method", "found", "n", "detail").orderBy(col("method"))
  }

  // ---------------------------------------------------------------- q181
  /** Blocking-quality census ([[graft.candidates.Blocking]]): reduction
    * ratio and pair completeness of brand-blocking against type-truth
    * on `part` — the measurement that justifies q20's J3 blocking
    * scheme. Zero joins: every pair count is Σ c·(c−1)/2 over group
    * cardinalities (three count shuffles), so the census never
    * materializes a pair — the same arithmetic evaluates a blocking
    * key over 10^9 records.
    */
  def q181BlockingQuality(s: SparkSession, dir: String): DataFrame =
    graft.candidates.Blocking.blockingQuality(pp(s, dir), "p_brand", "p_type")

  val q181Sql: String =
    """WITH n AS (SELECT COUNT(*) AS n_rows FROM part),
      |b AS (SELECT CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT) AS block_pairs
      |  FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_brand)),
      |t AS (SELECT CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT) AS truth_pairs
      |  FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_type)),
      |cv AS (SELECT CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT) AS covered_matches
      |  FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_brand, p_type)),
      |x AS (SELECT n_rows, CAST(n_rows*(n_rows-1)//2 AS BIGINT) AS cross_pairs,
      |  block_pairs, truth_pairs, covered_matches FROM n, b, t, cv)
      |SELECT n_rows, cross_pairs, block_pairs, truth_pairs, covered_matches,
      |  CASE WHEN cross_pairs = 0 THEN 0 ELSE CAST(FLOOR(
      |    CAST(cross_pairs - block_pairs AS DOUBLE) / CAST(cross_pairs AS DOUBLE)
      |    * 1e9) AS BIGINT) END AS reduction_ratio_q,
      |  CASE WHEN truth_pairs = 0 THEN 0 ELSE CAST(FLOOR(
      |    CAST(covered_matches AS DOUBLE) / CAST(truth_pairs AS DOUBLE)
      |    * 1e9) AS BIGINT) END AS pair_completeness_q
      |FROM x""".stripMargin

  // ---------------------------------------------------------------- q182
  /** Matcher-confidence calibration census ([[graft.metrics
    * .Calibration.calibrationCensus]]): is q22's Jaccard score a
    * probability of q24-style type-match truth? Ten score bins over
    * the within-brand pair stream; per bin the pair count, positive
    * count, quantized confidence mass and the ECE numerator
    * contribution. The score enters as the integer rational |∩|/|∪|,
    * so binning is the shared mul-then-div IEEE order and every
    * aggregate is an exact integer.
    */
  def q182Calibration(s: SparkSession, dir: String): DataFrame = {
    val p = pp(s, dir).withColumn("toks", array_distinct(split(col("p_name"), " ")))
    // fan the PROBE side to cluster width before the pair-amplifying
    // broadcast join: the single-file part scan is one task, and this
    // join multiplies each input row ~400× before the binned keyed
    // aggregation — the bytes-small/CPU-amplifying class again
    // (q118/q121 lesson; measured here 9.8 s → 0.9 s at sf0.1)
    val a = p.repartition(s.sparkContext.defaultParallelism)
      .select(col("p_partkey").as("lk"), col("p_brand").as("brand"),
        col("toks").as("ltoks"), col("p_type").as("ltype"))
    val b = p.select(col("p_partkey").as("rk"), col("p_brand").as("rbrand"),
      col("toks").as("rtoks"), col("p_type").as("rtype"))
    // |A ∪ B| = |A| + |B| − |A ∩ B| exactly (toks is array_distinct on
    // both sides), so the per-pair array_distinct(concat(...)) — a hash
    // set build over BOTH token arrays for every one of the ~8M pairs —
    // drops out; only the intersect remains in the pair loop
    val pairs = a.join(b, col("brand") === col("rbrand") && col("lk") < col("rk"))
      .withColumn("inter", size(array_intersect(col("ltoks"), col("rtoks"))))
      .withColumn("uni", size(col("ltoks")) + size(col("rtoks")) - col("inter"))
      .withColumn("label", (col("ltype") === col("rtype")).cast("int"))
    graft.metrics.Calibration.calibrationCensus(pairs, "inter", "uni", "label")
  }

  val q182Sql: String =
    """WITH p AS (SELECT p_partkey, p_brand, p_type,
      |  list_distinct(string_split(p_name, ' ')) AS toks FROM part),
      |pr AS (SELECT len(list_intersect(a.toks, b.toks)) AS i,
      |  len(list_distinct(list_concat(a.toks, b.toks))) AS u,
      |  CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS label
      |  FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
      |x AS (SELECT
      |  CAST(LEAST(FLOOR(CAST(i AS DOUBLE) * 10 / CAST(u AS DOUBLE)), 9)
      |    AS BIGINT) AS bin,
      |  CAST(FLOOR(CAST(i AS DOUBLE) / CAST(u AS DOUBLE) * 1e9) AS BIGINT)
      |    AS conf_q,
      |  label FROM pr)
      |SELECT bin, COUNT(*) AS n_pairs, CAST(SUM(label) AS BIGINT) AS n_pos,
      |  CAST(SUM(conf_q) AS BIGINT) AS conf_sum_q,
      |  abs(CAST(SUM(conf_q) AS BIGINT)
      |    - CAST(SUM(label) AS BIGINT) * 1000000000) AS gap_q
      |FROM x GROUP BY bin ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q183
  /** Cohen's κ of q24's rule matcher against its stricter truth
    * ([[graft.metrics.Calibration.withCohenKappa]]): chance-corrected
    * agreement from the same one-pass confusion counts, in the
    * overflow-free cross-product form on exact-integer doubles.
    */
  def q183CohenKappa(s: SparkSession, dir: String): DataFrame =
    graft.metrics.Calibration.withCohenKappa(
      q24ErF1(s, dir).select(col("tp"), col("fp"), col("fn"), col("tn")))

  val q183Sql: String =
    """WITH pairs AS (
      |  SELECT CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS pred,
      |    CASE WHEN a.p_type = b.p_type AND abs(a.p_size - b.p_size) <= 3
      |      THEN 1 ELSE 0 END AS truth
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
      |c AS (SELECT
      |  CAST(SUM(CASE WHEN pred = 1 AND truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(SUM(CASE WHEN pred = 1 AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(SUM(CASE WHEN pred = 0 AND truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(SUM(CASE WHEN pred = 0 AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM pairs)
      |SELECT tp, fp, fn, tn,
      |  CASE WHEN (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
      |      * (CAST(fp AS DOUBLE) + CAST(tn AS DOUBLE))
      |    + (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
      |      * (CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)) = 0 THEN 0
      |  ELSE CAST(FLOOR(2.0 * (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
      |      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
      |    / ((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
      |        * (CAST(fp AS DOUBLE) + CAST(tn AS DOUBLE))
      |      + (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
      |        * (CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)))
      |    * 1e9) AS BIGINT) END AS kappa_q
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- q187
  /** OR-of-block-keys pair completeness
    * ([[graft.candidates.Blocking.orPairCompleteness]]): the multi-key
    * census behind [[graft.candidates.CandidateGenerator.auto]]'s
    * evidence gate, here measuring how many same-size truth pairs a
    * brand-OR-type blocking union retains on `part`. Covered pairs come
    * from per-key equi-joins restricted to within-truth-group pairs
    * and deduplicated by pair id — the single-key Σc(c−1)/2 census
    * would double-count pairs agreeing on both keys.
    */
  def q187OrBlocking(s: SparkSession, dir: String): DataFrame =
    graft.candidates.Blocking.orPairCompleteness(
      pp(s, dir).select(col("p_partkey").as("pid"), col("p_size").as("tru"),
        col("p_brand").as("k1"), col("p_type").as("k2")),
      Seq("k1", "k2"), "tru", "pid")

  val q187Sql: String =
    """WITH base AS (SELECT p_partkey AS i, p_size AS t, p_brand AS k1,
      |  p_type AS k2 FROM part),
      |n AS (SELECT COUNT(*) AS n_rows FROM base),
      |tp AS (SELECT CAST(COALESCE(SUM(c*(c-1)//2), 0) AS BIGINT) AS truth_pairs
      |  FROM (SELECT COUNT(*) AS c FROM base GROUP BY t)),
      |cv AS (SELECT COUNT(*) AS covered_matches FROM
      |  (SELECT DISTINCT a.t, a.i, b.i AS i2 FROM base a JOIN base b
      |    ON a.t = b.t AND a.i < b.i AND (a.k1 = b.k1 OR a.k2 = b.k2)))
      |SELECT n_rows, truth_pairs, covered_matches,
      |  CASE WHEN truth_pairs = 0 THEN 0 ELSE CAST(FLOOR(
      |    CAST(covered_matches AS DOUBLE) / CAST(truth_pairs AS DOUBLE)
      |    * 1e9) AS BIGINT) END AS pair_completeness_q
      |FROM n, tp, cv""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_er_pairs" -> (q20ErPairs _),
    "q21_er_triangles" -> (q21ErTriangles _),
    "q22_er_jaccard" -> (q22ErJaccard _),
    "q23_er_sensitivity" -> (q23ErSensitivity _),
    "q24_er_f1" -> (q24ErF1 _),
    "q25_certa_saliency" -> (q25CertaSaliency _),
    "q26_certa_pss" -> (q26CertaPss _),
    "q27_certa_triangles" -> (q27CertaTriangles _),
    "q28_baseline_saliency" -> (q28BaselineSaliency _),
    "q60_certa_saliency_golden" -> (q60GoldenSaliency _),
    "q61_certa_pss_golden" -> (q61GoldenPss _),
    "q62_certa_triangles_golden" -> (q62GoldenTriangles _),
    "q63_baseline_saliency_golden" -> (q63GoldenBaselines _),
    "q170_faithfulness_golden" -> (q170GoldenFaithfulness _),
    "q171_confidence_golden" -> (q171GoldenConfidence _),
    "q174_lattice_golden" -> (q174LatticeGolden _),
    "q175_cf_metrics_golden" -> (q175CfMetricsGolden _),
    "q176_augmented_golden" -> (q176AugmentedGolden _),
    "q177_invariants_golden" -> (q177InvariantsGolden _),
    "q178_embedding_text_source" -> (q178EmbeddingTextSource _),
    "q179_evidence_cf_golden" -> (q179EvidenceCfGolden _),
    "q181_blocking_quality" -> (q181BlockingQuality _),
    "q182_calibration" -> (q182Calibration _),
    "q183_cohen_kappa" -> (q183CohenKappa _),
    "q187_or_blocking" -> (q187OrBlocking _))

  val oracles: Map[String, String] = Map(
    "q20_er_pairs" -> q20Sql,
    "q21_er_triangles" -> q21Sql,
    "q22_er_jaccard" -> q22Sql,
    "q23_er_sensitivity" -> q23Sql,
    "q24_er_f1" -> q24Sql,
    "q25_certa_saliency" -> GoldenLive.saliencySql(GoldenLive.verifySf),
    "q26_certa_pss" -> GoldenLive.pssSql(GoldenLive.verifySf),
    "q27_certa_triangles" -> GoldenLive.trianglesSql(GoldenLive.verifySf),
    "q28_baseline_saliency" -> GoldenLive.baselinesSql(GoldenLive.verifySf),
    "q60_certa_saliency_golden" -> GoldenExplainer.saliencySql,
    "q61_certa_pss_golden" -> GoldenExplainer.pssSql,
    "q62_certa_triangles_golden" -> GoldenExplainer.trianglesSql,
    "q63_baseline_saliency_golden" -> GoldenExplainer.baselinesSql,
    "q170_faithfulness_golden" -> GoldenMetrics.faithfulnessSql,
    "q171_confidence_golden" -> GoldenMetrics.confidenceSql,
    "q174_lattice_golden" -> GoldenMetrics.latticeSql,
    "q175_cf_metrics_golden" -> GoldenMetrics.cfMetricsSql,
    "q176_augmented_golden" -> GoldenMetrics.augSaliencySql,
    "q177_invariants_golden" -> GoldenMetrics.invariantsSql,
    "q178_embedding_text_source" -> q178Sql,
    "q179_evidence_cf_golden" -> GoldenMetrics.evidenceCfSql,
    "q181_blocking_quality" -> q181Sql,
    "q182_calibration" -> q182Sql,
    "q183_cohen_kappa" -> q183Sql,
    "q187_or_blocking" -> q187Sql)
}
