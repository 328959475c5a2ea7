package graft

import org.apache.spark.sql.DataFrame
import graft.dedup.Components

/** Connected-components specs: exact closure vs a driver union-find on
  * fixed and randomized graphs, convergence on shapes that punish
  * diameter-bound algorithms, and the cache-ownership contract.
  */
class ComponentsSpec extends SparkSpec {

  import spark.implicits._

  private def edgesDf(es: Seq[(Long, Long)]): DataFrame =
    es.toDF("id_a", "id_b")

  /** Reference closure: driver union-find with path compression. */
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def resultMap(mapping: DataFrame): Map[Long, Long] = {
    val m = mapping.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    mapping.unpersist()
    m
  }

  test("fixed graph: chains, a cycle, a pair, self-loops, dup edges") {
    val es = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 4L),             // chain → rep 1
      (10L, 11L), (11L, 12L), (12L, 10L),       // cycle → rep 10
      (20L, 21L),                               // pair → rep 20
      (30L, 30L),                               // self-loop only: ignored
      (1L, 2L), (2L, 1L))                       // duplicate + reversed
    val got = resultMap(Components.connectedComponents(edgesDf(es)))
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long path converges (logarithmic rounds, not diameter)") {
    // a 64-node path has diameter 63; maxIter 25 only suffices if the
    // star rounds contract super-linearly, as the algorithm promises.
    // driverEdgeThreshold = 0 forces the DISTRIBUTED path — the small
    // fixture would otherwise take the driver shortcut
    val es = (0L until 63L).map(i => (i, i + 1))
    val got = resultMap(Components.connectedComponents(edgesDf(es),
      driverEdgeThreshold = 0L))
    assert(got === (0L to 63L).map(_ -> 0L).toMap)
  }

  test("randomized graphs: distributed and driver paths match union-find") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 10 + trial * 8
      val es = Seq.fill(n) {
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      }.filter { case (a, b) => a != b }
      val expected = unionFind(es)
      // distributed alternating-star path (threshold 0 disables the
      // driver shortcut) and the size-gated driver path must agree
      val dist = resultMap(Components.connectedComponents(edgesDf(es),
        driverEdgeThreshold = 0L))
      val drv = resultMap(Components.connectedComponents(edgesDf(es)))
      assert(dist === expected, s"distributed trial $trial edges $es")
      assert(drv === expected, s"driver trial $trial edges $es")
    }
  }

  test("round observer: distributed loop reports log-bounded rounds, driver path none") {
    // 64-node path: the observer must see every round with a
    // monotonically non-increasing canonical edge count, converging in
    // far fewer rounds than the diameter (63) — the log n contract the
    // closure legs measured at ~10M docs (SURVEY.md round 10 ScaleSmoke)
    val es = (0L until 63L).map(i => (i, i + 1))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val got = resultMap(Components.connectedComponents(edgesDf(es),
      driverEdgeThreshold = 0L,
      roundObserver = (r, e) => { seen += ((r, e)); () }))
    assert(got === (0L to 63L).map(_ -> 0L).toMap)
    assert(seen.nonEmpty && seen.size <= 12,
      s"expected log-bounded rounds, saw ${seen.size}: $seen")
    assert(seen.map(_._1) === (1 to seen.size), "rounds must be 1..k in order")
    // converged star graph: 63 leaves on vertex 0
    assert(seen.last._2 === 63L)
    // the driver union-find path has no rounds to observe
    val seenDrv = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    resultMap(Components.connectedComponents(edgesDf(es),
      roundObserver = (r, e) => { seenDrv += ((r, e)); () }))
    assert(seenDrv.isEmpty)
  }

  test("a LocalRelation edge set closes on the driver: distributed mapping, no job") {
    val es = Seq[(Long, Long)]((5L, 3L), (3L, 9L), (9L, 9L), (7L, 8L),
      (8L, 7L), (1L, 2L))
    val dist = resultMap(Components.connectedComponents(edgesDf(es),
      driverEdgeThreshold = 0L))
    // jobs of this thread only: other suites share the session
    val (local, window) = Trace.window(spark) {
      // a Project + Filter over a LocalRelation folds to one
      val edges = edgesDf(es).filter(org.apache.spark.sql.functions.col("id_a") > 0L)
      resultMap(Components.connectedComponents(edges))
    }
    assert(window.flushed)
    assert(local === dist)
    assert(dist === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L,
      1L -> 1L, 2L -> 1L))
    assert(window.jobs.size === 0)
  }

  /** `es` as a one-partition RDD-backed frame: not a LocalRelation, and
    * Spark's bounded take reads it in one job (a wider frame takes one
    * job per scale-up step).
    */
  private def rddEdges(es: Seq[(Long, Long)]): DataFrame =
    spark.sparkContext.parallelize(es, 1).toDF("id_a", "id_b")

  private val mixed = Seq[(Long, Long)]((5L, 3L), (3L, 9L), (9L, 9L), (7L, 8L),
    (8L, 7L), (1L, 2L))

  test("a non-local edge frame under the threshold closes in one bounded collect") {
    val (got, window) = Trace.window(spark)(assertNoNewPins(
      resultMap(Components.connectedComponents(rddEdges(mixed)))))
    assert(window.flushed)
    assert(got === unionFind(mixed.filter { case (a, b) => a != b }))
    // the collect alone: no Pinned copy, no canonical shuffle, no checksum
    assert(window.jobs.size === 1, window.jobs)
  }

  test("duplicated raw edges over the threshold close through the distributed loop") {
    val es = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (7L, 8L))
    val raw = Seq.fill(4)(es).flatten ++ es.map(_.swap) // 15 rows, 3 edges
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val got = resultMap(Components.connectedComponents(edgesDf(raw),
      driverEdgeThreshold = 10L, roundObserver = (r, _) => { rounds += r; () }))
    assert(got === unionFind(es))
    assert(rounds.nonEmpty, "15 raw rows over a threshold of 10 must not close on the driver")
  }

  test("driverEdgeThreshold = 0 fires no bounded collect") {
    def jobs(threshold: Long): Int = {
      val (got, window) = Trace.window(spark)(resultMap(
        Components.connectedComponents(rddEdges(mixed), driverEdgeThreshold = threshold)))
      assert(window.flushed)
      assert(got === unionFind(mixed.filter { case (a, b) => a != b }))
      window.jobs.size
    }
    // a threshold of 1 reads two rows, finds too many and runs the same
    // distributed loop: one job more
    assert(jobs(1L) === jobs(0L) + 1)
  }

  leakGatedTest("withoutLosers pins a loser plan that does not fold, until close()") {
    // the dedup specs' losers come from the driver-side closure and fold
    // to a LocalRelation, which pins nothing; a range-derived loser plan
    // does not fold, so only the persist-and-count path can serve it
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet -- before
    val df = (1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val losers = spark.range(2L, 6L, 2L).toDF("doc_id") // 2, 4
    val res = Components.withoutLosers(df, "doc_id", losers)
    assert(added.size === 1, "the loser plan must be pinned exactly once")
    assert(res.survivors.select("doc_id").as[Long].collect().sorted ===
      Array(1L, 3L, 5L, 6L))
    res.close()
    assert(added.isEmpty, "close() must release the loser pin")
  }

  test("empty edge set yields empty mapping") {
    val got = resultMap(Components.connectedComponents(
      edgesDf(Seq.empty[(Long, Long)])))
    assert(got === Map.empty[Long, Long])
  }

  test("clusters census: sizes and id sums per representative") {
    val mapping = Components.connectedComponents(
      edgesDf(Seq((1L, 2L), (2L, 3L), (7L, 8L))))
    val cl = Components.clusters(mapping).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    mapping.unpersist()
    assert(cl === Map(1L -> ((3L, 6L)), 7L -> ((2L, 15L))))
  }

  test("only the returned mapping is cached; unpersist clears it") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val mapping = Components.connectedComponents(
      edgesDf(Seq((1L, 2L), (2L, 3L), (5L, 6L))), driverEdgeThreshold = 0L)
    mapping.count()
    // iteration frames are released inside the loop — exactly one
    // persisted frame (the caller-owned mapping) remains
    assert(spark.sparkContext.getPersistentRDDs.size === 1)
    mapping.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("driver path pins nothing; caller unpersist stays a safe no-op") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val mapping = Components.connectedComponents(
      edgesDf(Seq((1L, 2L), (2L, 3L), (5L, 6L))))
    mapping.count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    mapping.unpersist(blocking = true) // no-op on a LocalRelation
  }
}
