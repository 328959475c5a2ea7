package graft.dedup

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** EXACT token-set similarity join via prefix filtering (the
  * AllPairs/PPJoin family — Bayardo et al. 2007, Xiao et al. 2008):
  * every pair with Jaccard ≥ t is returned, no probabilistic recall —
  * the deterministic complement to MinHash+LSH (Dedup.nearDupPairs),
  * for the pipelines that must certify "no near-dup above t survives".
  *
  * Prefix-filter theorem: order every document's distinct tokens by one
  * global total order; if |a∩b|/|a∪b| ≥ t, then the first
  * `p = L − ⌈t·L⌉ + 1` tokens of each side (its "prefix") must share a
  * token — so an equi-join on prefix tokens is a COMPLETE candidate
  * generator and the exact Jaccard verify removes false positives.
  *
  * Scale shape (no global sort, no all-pairs):
  *  - the total order is (document-frequency asc, token) — realized by
  *    joining tokens to their df ONCE (one token-keyed shuffle) and
  *    `sort_array`ing per document, NOT by a global rank window;
  *  - prefixes hold each document's RAREST tokens, so prefix buckets
  *    are small by construction (df-ascending is the skew guard the
  *    algorithm is named for); `maxBucketSize` caps adversarial cases
  *    (recall trade, off by default — the `maxBucketSize` contract of
  *    [[Dedup.lshCandidatePairs]]);
  *  - verification compares sorted token arrays per candidate pair —
  *    integer cross-multiplied (`|∩|·100 ≥ t100·|∪|`), no doubles.
  */
object SetSimJoin {

  /** Per-id distinct-token-set frame: `(id, toks sorted by (df, token))`. */
  private def rankedSets(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(array_distinct(graft.text.TextAnalysis.tokens(col(textCol))))
          .as("tok"))
      .filter(col("tok") =!= "")
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    toks.join(dfreq, "tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ranked"))
      .select(col("id"), expr("transform(ranked, r -> r.tok)").as("toks"))
  }

  /** All pairs (id_a < id_b) with token-set Jaccard ≥ t100/100, with
    * the exact intersection/union sizes attached.
    */
  def similarPairs(docs: DataFrame, textCol: String, idCol: String,
      t100: Int, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(t100 > 0 && t100 <= 100, "t100 in (0, 100]")
    val sets = rankedSets(docs, textCol, idCol)
    // prefix length p = L − ⌈t·L⌉ + 1 (integer ceil: (t100·L + 99) / 100)
    val L = size(col("toks"))
    val p = L - floor((L * t100 + lit(99)) / lit(100)).cast("int") + 1
    // prefix rows carry (id, hash(ptok), L) ONLY — the token arrays
    // join back in once per deduped candidate, not once per
    // prefix-bucket pairing. The join key is xxhash64(token): an
    // 8-byte shuffle key and integer probes; collisions only ADD
    // candidates (equal tokens always share the key) and the exact
    // Jaccard verify removes them. The PPJoin length band
    // (J ≥ t ⇒ t·max(La,Lb) ≤ 100·min(La,Lb)) prunes size-incompatible
    // bucket pairings before the candidate dedup.
    val pref0 = sets.select(col("id"), L.as("len"),
      explode(slice(col("toks"), lit(1), greatest(p, lit(1)))).as("ptok"))
      .select(col("id"), col("len"), xxhash64(col("ptok")).as("ph"))
    val pref =
      if (maxBucketSize == Int.MaxValue) pref0
      else {
        val hot = pref0.groupBy(col("ph")).agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucketSize).select(col("ph"))
        pref0.join(F.broadcast(hot), Seq("ph"), "left_anti")
      }
    // pin the join's parallelism: prefix rows are BYTES-small but the
    // bucket join is CPU-amplifying (|bucket|² pairings + the Jaccard
    // verify downstream), so AQE's bytes-based coalescing would run it
    // on one task. A user key-repartition is never coalesced and the
    // equi-join reuses the partitioning (no extra exchange).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val prefP = pref.repartition(par, col("ph"))
    val cand = prefP.as("a")
      .join(prefP.as("b"),
        col("a.ph") === col("b.ph") && col("a.id") < col("b.id") &&
          col("a.len") * t100 <= col("b.len") * 100 &&
          col("b.len") * t100 <= col("a.len") * 100)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("n_union",
        size(col("ta")) + size(col("tb")) - col("n_inter"))
      .filter(col("n_inter") * 100 >= col("n_union") * t100)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
  }
}
