package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance (Levenshtein) similarity join — the string-cleaning
  * near-dup primitive the token/embedding stack doesn't cover (typos,
  * OCR noise, serial-number neighbors). All-pairs × levenshtein is
  * O(n²·L²) and dead at corpus scale, so candidates come from
  * FastSS-style DELETION-NEIGHBORHOOD blocking (Bocek et al. 2007):
  * every string emits all variants reachable by ≤ d character
  * deletions; `lev(a, b) ≤ d` implies the neighborhoods intersect
  * (each substitution deletes one position on both sides, each
  * insert/delete one position on one side), so an equi-join on the
  * variant key is a COMPLETE candidate generator, and a final
  * `levenshtein` filter removes the false positives. ScalaCheck-proven
  * equivalent to the brute-force join (PropertySpec).
  *
  * Scale shape: variant generation is a scan-local explode (×~L²/2
  * rows for d=2 — bounded by design, strings here are names/titles,
  * not documents); the join is a hash equi-join on the variant string;
  * nothing is ever all-pairs. Skew note: a hot variant bucket (many
  * near-identical short strings) makes |bucket|² candidate pairs —
  * `maxBucketSize` drops buckets past the cap (recall trade, off by
  * default; same contract as the `maxBucketSize` of
  * [[graft.dedup.Dedup.lshCandidatePairs]]).
  */
object Fuzzy {

  private def delete1(s: Column, i: Column): Column =
    concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))

  private def delete2(s: Column, i: Column, j: Column): Column =
    concat(s.substr(lit(1), i - 1), s.substr(i + 1, j - i - 1),
      s.substr(j + 1, length(s)))

  /** All variants of `s` reachable by at most `maxDel` (1 or 2)
    * character deletions, the string itself included, deduplicated.
    * Empty-array guards matter: Spark's `sequence(1, 0)` counts DOWN.
    */
  def deletionVariants(s: Column, maxDel: Int): Column = {
    require(maxDel == 1 || maxDel == 2, "maxDel must be 1 or 2")
    val L = length(s)
    val d1 = when(L >= 1, transform(sequence(lit(1), L), i => delete1(s, i)))
      .otherwise(array().cast("array<string>"))
    val d2 = when(L >= 2,
      flatten(transform(sequence(lit(1), L - 1), i =>
        transform(sequence(i + 1, L), j => delete2(s, i, j)))))
      .otherwise(array().cast("array<string>"))
    val all =
      if (maxDel == 1) concat(array(s), d1)
      else concat(array(s), d1, d2)
    array_distinct(all)
  }

  /** Distinct candidate pairs (name_a < name_b) whose deletion
    * neighborhoods share a variant — complete for `lev ≤ maxDel`.
    *
    * The equi-join runs on `xxhash64(variant)` rather than the variant
    * string: an 8-byte shuffle key instead of a ~name-length one, and
    * integer hash-join probes. Hash collisions can only ADD candidate
    * pairs (equal strings always share the key), and the caller's
    * exact `levenshtein` verify removes them — completeness is
    * untouched. A length band (`lev ≤ d ⇒ |len(a)−len(b)| ≤ d`) prunes
    * cross-length bucket pairings before the candidate dedup.
    */
  def candidatePairs(df: DataFrame, nameCol: String, maxDel: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val names = df.select(col(nameCol).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
    val v0 = names.select(col("name"), length(col("name")).as("len"),
      explode(deletionVariants(col("name"), maxDel)).as("v"))
      .select(col("name"), col("len"), xxhash64(col("v")).as("vh"))
    val v =
      if (maxBucketSize == Int.MaxValue) v0
      else {
        val sized = v0.groupBy(col("vh"))
          .agg(collect_list(struct(col("name"), col("len"))).as("ns"),
            count(lit(1)).as("n"))
          .filter(col("n") <= maxBucketSize)
          .select(col("vh"), explode(col("ns")).as("r"))
        sized.select(col("vh"), col("r.name").as("name"),
          col("r.len").as("len"))
      }
    // pin the join's parallelism: the variant frame is BYTES-small but
    // the bucket join is CPU-amplifying (|bucket|² pairs + verify), so
    // AQE's bytes-based partition coalescing would collapse it onto one
    // task. An explicit key repartition is never coalesced, and the
    // equi-join reuses the partitioning (no extra exchange).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val vp = v.repartition(par, col("vh"))
    vp.as("a").join(vp.as("b"),
        col("a.vh") === col("b.vh") && col("a.name") < col("b.name") &&
          abs(col("a.len") - col("b.len")) <= maxDel)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
  }

  /** Verified fuzzy pairs: candidates with `lev ≤ maxDist`, distance
    * attached. The verify uses the THRESHOLD form of `levenshtein`
    * (returns −1 past the bound): the banded O(d·L) dynamic program
    * with early exit, not the O(L²) full matrix — at d=2 on ~35-char
    * names that is ~17× fewer cells per candidate, and the verify is
    * where a dense candidate set spends its time.
    */
  def fuzzyPairs(df: DataFrame, nameCol: String, maxDist: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    candidatePairs(df, nameCol, maxDist, maxBucketSize)
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
}
