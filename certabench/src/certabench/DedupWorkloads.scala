package certabench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.dedup.{Components, Dedup}
import graft.streaming.StreamingOps

private[certabench] object Corpora {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def rows(docs: Seq[Inputs.Doc]): Seq[Row] = docs.map(d => Row(d.id, d.text))

  /** Output checks shared by both dedup workloads: survivors are input
    * docs, every background doc survives (the generator plants no
    * near-duplicates among them), and every planted cluster keeps a
    * member, here or among the clusters `keptBefore` (earlier batches).
    */
  def check(corpus: Inputs.Corpus, seen: Set[Long], survivors: Set[Long],
      keptBefore: Set[Int] = Set.empty): Seq[String] = {
    val f = Seq.newBuilder[String]
    val foreign = survivors -- seen
    if (foreign.nonEmpty) f += s"${foreign.size} survivors were never input"
    val lostBackground = corpus.background.intersect(seen) -- survivors
    if (lostBackground.nonEmpty) f += s"${lostBackground.size} background docs dropped"
    val wiped = seen.flatMap(corpus.clusterOf.get) --
      survivors.flatMap(corpus.clusterOf.get) -- keptBefore
    if (wiped.nonEmpty) f += s"${wiped.size} planted clusters lost every member"
    f.result()
  }
}

/** `dedup`: [[Dedup.dropNearDuplicates]] over a seeded corpus with planted
  * near-duplicate clusters. Task-bound and read-only: minhash sketches,
  * band shuffles, jaccard verify and the component closure.
  */
object DedupWorkload extends Workload {
  val background = 3000
  val clusters = 300
  val recallFloor = 0.85

  override def setup(spark: SparkSession, seed: Long, dir: Path,
      tracer: Option[Tracer]): Instance = {
    val corpus = Inputs.corpus(seed, background, clusters)
    val df = Workload.writeParquet(spark, Corpora.rows(corpus.docs), Corpora.schema,
      dir.resolve("corpus"))
    val ids = corpus.docs.map(_.id).toSet

    def result(survivors: Set[Long], wall: Double, recall: Double): OpResult = {
      val failures = Workload.failure("pass", Corpora.check(corpus, ids, survivors) ++
        (if (recall < recallFloor) Seq(f"planted recall $recall%.3f below $recallFloor") else Nil))
      OpResult(wall, corpus.docs.size, 1, failures,
        Seq("survivors" -> Workload.digest(survivors.map(_.toString))))
    }
    def idsOf(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet

    val inst = new Instance {
      override def op(i: Int): OpResult = {
        val (survivors, wall) = Workload.seconds {
          val r = Dedup.dropNearDuplicates(df, "text", "doc_id")
          try idsOf(r.survivors) finally r.close()
        }
        result(survivors, wall, Inputs.plantedRecall(corpus, ids, survivors))
      }

      // the public pieces of dropNearDuplicates, each materialized and timed
      override def tracedOp(i: Int, tracer: Tracer): OpResult = {
        val t0 = System.currentTimeMillis()
        val ((cands, nCands), candS) = Workload.seconds {
          val c = Dedup.lshCandidatePairs(df, "text", "doc_id").persist()
          (c, c.count())
        }
        val ((pairs, nPairs), verifyS) = Workload.seconds {
          val p = Dedup.verifyJaccard(cands, df, "text", "doc_id", 0.7).persist()
          (p, p.count())
        }
        val t1 = System.currentTimeMillis()
        val (mapping, compS) = Workload.seconds {
          val m = Components.connectedComponents(pairs.select("id_a", "id_b"))
          m.count()
          m
        }
        val t2 = System.currentTimeMillis()
        val (survivors, surviveS) = Workload.seconds {
          val losers = mapping.filter(col("id") =!= col("rep")).select(col("id").as("doc_id"))
          idsOf(df.join(losers, Seq("doc_id"), "left_anti"))
        }
        mapping.unpersist(); pairs.unpersist(); cands.unpersist()
        val t3 = System.currentTimeMillis()
        val all = tracer.window(t0, t3)
        val comp = tracer.window(t1, t2)
        val recall = Inputs.plantedRecall(corpus, ids, survivors)
        result(survivors, candS + verifyS + compS + surviveS, recall).copy(layers =
          Workload.common(all, 1) ++ Map(
            "dedup.candidates_s" -> candS,
            "dedup.candidate_pairs" -> nCands.toDouble,
            "dedup.verify_s" -> verifyS,
            "dedup.verified_pairs" -> nPairs.toDouble,
            "dedup.verify_yield" -> (if (nCands > 0) nPairs.toDouble / nCands else 0.0),
            "dedup.components_s" -> compS,
            "dedup.components_jobs" -> comp.jobs.size.toDouble,
            "dedup.survivors_s" -> surviveS,
            "dedup.planted_recall" -> recall))
      }
      override def close(): Unit = ()
    }
    inst.op(0) // warm-up
    inst
  }
}

/** `stream`: [[StreamingOps.nearDupDedupStream]] over the same generator's
  * corpus, fed as single-file micro-batches by a closed-loop client (it
  * lands the next file only once the previous batch committed). Each
  * batch reads the history state table and appends to it, so the state
  * grows through the run and fixed per-batch overhead dominates.
  */
object StreamWorkload extends Workload {
  val background = DedupWorkload.background
  val clusters = DedupWorkload.clusters
  val docsPerFile = 100
  val recallFloor = 0.5

  override def setup(spark: SparkSession, seed: Long, dir: Path,
      tracer: Option[Tracer]): Instance = {
    val corpus = Inputs.corpus(seed, background, clusters)
    val files = corpus.docs.grouped(docsPerFile).toIndexedSeq
    val pending = stage(spark, files, dir)
    val in = Files.createDirectories(dir.resolve("in"))
    val stream = spark.readStream.schema(Corpora.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)

    val survivorsOf = mutable.Map.empty[Long, Set[Long]]
    val sinkS = mutable.Map.empty[Long, Double]
    val query = StreamingOps.nearDupDedupStream(stream, "text", "doc_id",
        dir.resolve("history").toString) { (survivors, batchId) =>
      val (ids, s) = Workload.seconds(
        survivors.select("doc_id").collect().map(_.getLong(0)).toSet)
      survivorsOf.synchronized { survivorsOf(batchId) = ids; sinkS(batchId) = s }
    }
    var fed = 0

    /** Land the next file and wait until its batch committed. */
    def feed(): (Long, Seq[Inputs.Doc]) = {
      require(fed < files.size, s"all ${files.size} staged files consumed")
      val f = files(fed)
      Files.move(pending(fed), in.resolve(pending(fed).getFileName))
      fed += 1
      query.processAllAvailable()
      (fed - 1L, f)
    }
    def progressOf(batchId: Long) = query.recentProgress.find(_.batchId == batchId)
      .getOrElse(throw new IllegalStateException(s"no progress for batch $batchId"))

    val inst = new Instance {
      private val triggers = mutable.ArrayBuffer.empty[Double]

      private def batch(): (OpResult, Long) = {
        val (batchId, docs) = feed()
        val p = progressOf(batchId)
        val seen = docs.map(_.id).toSet
        val (survivors, before) = survivorsOf.synchronized(
          (survivorsOf.getOrElse(batchId, Set.empty[Long]),
            (survivorsOf - batchId).values.flatten.flatMap(corpus.clusterOf.get).toSet))
        val trigger = p.durationMs.get("triggerExecution") / 1e3
        triggers += trigger
        (OpResult(trigger, docs.size, 1, 
          Workload.failure(s"batch $batchId", Corpora.check(corpus, seen, survivors, before)),
          Seq(s"batch-$batchId" -> Workload.digest(survivors.map(_.toString)))), batchId)
      }
      override def op(i: Int): OpResult = batch()._1

      override def tracedOp(i: Int, tracer: Tracer): OpResult = {
        val ((r, batchId), w) = Traced(tracer)(batch())
        val d = progressOf(batchId).durationMs
        val addBatch = d.get("addBatch") / 1e3
        val probe = survivorsOf.synchronized(sinkS(batchId))
        r.copy(layers = Workload.common(w, 1) ++ Map(
          "stream.addbatch_s" -> addBatch,
          "stream.fixed_s" -> (d.get("triggerExecution") / 1e3 - addBatch),
          "stream.probe_s" -> probe,
          "stream.state_append_s" -> (addBatch - probe),
          "stream.jobs_per_batch" -> w.jobs.size.toDouble))
      }

      private def seenDocs = files.take(fed).flatten.map(_.id)
      private def allSurvivors = survivorsOf.synchronized(survivorsOf.values.flatten.toSet)

      override def finalLayers(): Map[String, Double] = Map(
        "stream.history_rows" ->
          spark.read.parquet(dir.resolve("history").toString).count().toDouble,
        "stream.planted_recall" -> Inputs.plantedRecall(corpus, seenDocs, allSurvivors),
        "stream.batch_p90_s" -> triggers.sorted.apply(
          math.min(triggers.size - 1, (0.9 * triggers.size).toInt)))

      override def finalFailures(): Seq[String] = {
        val recall = Inputs.plantedRecall(corpus, seenDocs, allSurvivors)
        if (recall < recallFloor) Seq(f"planted recall $recall%.3f below $recallFloor") else Nil
      }

      override def close(): Unit = { query.stop(); query.awaitTermination() }
    }
    // warm-up: the first batch (empty history) and one that probes history
    feed(); feed()
    inst
  }

  /** Write every file in one job (one task per file), then move each
    * part file to `pending/`, named in feed order.
    */
  private def stage(spark: SparkSession, files: IndexedSeq[Seq[Inputs.Doc]],
      dir: Path): IndexedSeq[Path] = {
    val tagged = StructType(Corpora.schema.fields :+ StructField("__file", IntegerType))
    val rows = files.zipWithIndex.flatMap { case (docs, f) =>
      docs.map(d => Row(d.id, d.text, f))
    }
    val out = dir.resolve("staged")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), tagged)
      .repartition(files.size, col("__file"))
      .write.partitionBy("__file").parquet(out.toString)
    val pending = Files.createDirectories(dir.resolve("pending"))
    files.indices.map { f =>
      val parts = Option(out.resolve(s"__file=$f").toFile.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      require(parts.size == 1, s"file $f staged as ${parts.size} parquet files")
      val dest = pending.resolve(f"batch-$f%05d.parquet")
      Files.move(parts.head.toPath, dest)
      dest
    }
  }
}
