package certabench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. The same seed gives the same inputs, byte
  * for byte; the program under test only ever sees the generated frames.
  */
object Inputs {

  /** `n` distinct pronounceable words, order fixed by the seed. */
  def vocabulary(rng: SplittableRandom, n: Int): IndexedSeq[String] = {
    val onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
      "s", "t", "v", "z", "br", "st", "tr", "pl", "gr", "sh", "ch", "kl")
    val vowels = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syllables = 2 + rng.nextInt(2)
      seen += (0 until syllables).map(_ =>
        onsets(rng.nextInt(onsets.length)) + vowels(rng.nextInt(vowels.length))).mkString
    }
    seen.toIndexedSeq
  }

  // ------------------------------------------------------------ ER pairs

  /** One entity record: the four attributes the explainer perturbs. */
  final case class Rec(id: Long, name: String, brand: String, category: String,
      descr: String) {
    def tokens: Seq[String] = Seq(name, brand, category, descr).flatMap(_.split(" "))
  }

  /** A pair to explain; `isMatch` is the generator's truth. */
  final case class Pair(lid: Long, rid: Long, isMatch: Boolean)

  final case class ErData(left: IndexedSeq[Rec], right: IndexedSeq[Rec],
      pairs: IndexedSeq[Pair])

  /** Two sources of `n` records each. A third of the left records have a
    * near copy on the right (one token of the description dropped or one
    * name word replaced); those are the true matches. `nPairs` pairs,
    * alternating match and non-match, are drawn for explanation.
    */
  def erData(seed: Long, n: Int, nPairs: Int): ErData = {
    val rng = new SplittableRandom(seed)
    val words = vocabulary(rng, 1500)
    val brands = (0 until 40).map(i => s"brand${words(i)}")
    val categories = (40 until 60).map(words)
    def word(): String = words(60 + rng.nextInt(words.size - 60))
    def record(id: Long): Rec =
      Rec(id, Seq.fill(3)(word()).mkString(" "), brands(rng.nextInt(brands.size)),
        categories(rng.nextInt(categories.size)),
        Seq.fill(5)(word()).mkString(" "))
    def nearCopy(r: Rec, id: Long): Rec =
      if (rng.nextBoolean()) {
        val d = r.descr.split(" ").toBuffer
        d.remove(rng.nextInt(d.size))
        r.copy(id = id, descr = d.mkString(" "))
      } else {
        val nm = r.name.split(" ")
        nm(rng.nextInt(nm.length)) = word()
        r.copy(id = id, name = nm.mkString(" "))
      }
    val left = (0 until n).map(i => record(i.toLong))
    val rightIds = shuffledIds(rng, n)
    val nMatches = n / 3
    val right = (0 until n).map { i =>
      if (i < nMatches) nearCopy(left(i), rightIds(i)) else record(rightIds(i))
    }
    val pairs = (0 until nPairs).map { k =>
      val li = rng.nextInt(nMatches)
      if (k % 2 == 0) Pair(left(li).id, right(li).id, isMatch = true)
      else Pair(left(li).id, right(nMatches + rng.nextInt(n - nMatches)).id, isMatch = false)
    }
    // generator truth: a match shares all but at most one token per
    // attribute with its left record, a non-match shares almost nothing
    val byId = right.map(r => r.id -> r).toMap
    pairs.foreach { p =>
      val a = left(p.lid.toInt).tokens.toSet
      val b = byId(p.rid).tokens.toSet
      val j = (a intersect b).size.toDouble / (a union b).size
      require(if (p.isMatch) j >= 0.6 else j < 0.4,
        s"generator truth violated for pair $p (token jaccard $j)")
    }
    ErData(left, right, pairs)
  }

  // --------------------------------------------------------- dedup corpus

  final case class Doc(id: Long, text: String)

  /** `docs` with `clusterOf(id)` = the planted near-duplicate cluster a
    * doc belongs to (-1 for background docs).
    */
  final case class Corpus(docs: IndexedSeq[Doc], clusterOf: Map[Long, Int]) {
    def background: Set[Long] = docs.map(_.id).filterNot(clusterOf.contains).toSet
  }

  /** `nBackground` documents of 40-80 words drawn Zipf-like from a
    * 4000-word vocabulary, plus `nClusters` planted clusters: a seed
    * document and 1-3 copies, each made from the seed by one seeded token
    * drop or adjacent swap. Ids are a seeded permutation, so cluster
    * members are scattered through the id space (and through stream
    * files).
    */
  def corpus(seed: Long, nBackground: Int, nClusters: Int): Corpus = {
    val rng = new SplittableRandom(seed ^ 0x5deece66dL)
    val words = vocabulary(rng, 4000)
    // Zipf(1) over ranks by inverse-CDF lookup
    val cdf = {
      val w = (1 to words.size).map(r => 1.0 / r)
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      words(math.min(words.size - 1, if (i >= 0) i else -i - 1))
    }
    def text(): Array[String] = Array.fill(40 + rng.nextInt(41))(word())
    def edit(t: Array[String]): Array[String] = {
      val b = t.toBuffer
      val i = rng.nextInt(b.size - 1)
      if (rng.nextBoolean()) b.remove(i)
      else { val x = b(i); b(i) = b(i + 1); b(i + 1) = x }
      b.toArray
    }
    val texts = ArrayBuffer.empty[(Array[String], Int)]
    (0 until nBackground).foreach(_ => texts += ((text(), -1)))
    (0 until nClusters).foreach { c =>
      val s = text()
      texts += ((s, c))
      (0 until 1 + rng.nextInt(3)).foreach(_ => texts += ((edit(s), c)))
    }
    val ids = shuffledIds(rng, texts.size)
    val docs = texts.indices.map(i => Doc(ids(i), texts(i)._1.mkString(" ")))
    val clusterOf = texts.indices.collect { case i if texts(i)._2 >= 0 => ids(i) -> texts(i)._2 }.toMap
    Corpus(docs.sortBy(_.id), clusterOf)
  }

  private def shuffledIds(rng: SplittableRandom, n: Int): IndexedSeq[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** Planted recall: of the planted duplicates among `seen` docs (each
    * cluster's members beyond one), the share that did not survive.
    */
  def plantedRecall(corpus: Corpus, seen: Iterable[Long], survivors: Set[Long]): Double = {
    val byCluster = seen.flatMap(id => corpus.clusterOf.get(id).map(_ -> id))
      .groupBy(_._1).values.map(_.map(_._2))
    val planted = byCluster.map(_.size - 1).sum
    val removed = byCluster.map(m => m.size - m.count(survivors.contains)).sum
    if (planted == 0) 1.0 else removed.toDouble / planted
  }
}
