package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** Scoped SQLConf overrides WITHOUT session-global mutation. The
  * round-9 hazard this replaces: operators that sized their
  * edge/state shuffles with `spark.conf.set("spark.sql.shuffle
  * .partitions", ...)` around a stage mutated the SESSION — under
  * concurrent catalog use (EvalDriver runs 16 queries in parallel on
  * one session) any query planned inside the window silently ran at
  * the overridden width.
  *
  * Mechanism: one memoized FORKED session per (parent, width) —
  * `SparkSession.newSession()` shares the SparkContext, CacheManager
  * and listener bus but owns an isolated SQLConf — and the operator's
  * frames are re-bound to the fork. Planning and execution of the
  * re-bound plan (including actions an operator runs internally,
  * e.g. [[graft.dedup.Components]]' per-round checksums) read the
  * fork's conf; the parent session is never written.
  *
  * The fork's conf is cloned from the parent at creation and
  * re-synced on every use (minus the overridden key), so runtime
  * settings made on the parent after forking — e.g. the
  * `nanosAsLong` parquet flag the sources layer sets lazily — stay
  * visible, exactly as they were under the old mutate-and-restore
  * window. Static confs are skipped (they cannot differ per session).
  */
object ConfScope {

  private val forks =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[Int, SparkSession]]()

  private def fork(parent: SparkSession, shufflePartitions: Int): SparkSession = {
    val perParent = forks.synchronized {
      var m = forks.get(parent)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[Int, SparkSession]()
        forks.put(parent, m)
      }
      m
    }
    val f = perParent.computeIfAbsent(shufflePartitions, _ => parent.newSession())
    // re-sync parent's CURRENT runtime conf (cheap in-memory map walk;
    // no-op writes when nothing changed), then assert the override
    parent.conf.getAll.foreach { case (k, v) =>
      if (k != "spark.sql.shuffle.partitions" &&
          !f.conf.getOption(k).contains(v)) {
        try f.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf
      }
    }
    f.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    f
  }

  /** `df` re-bound to a session whose `spark.sql.shuffle.partitions`
    * is `n`: every shuffle planned FROM the returned frame (and from
    * frames derived off it) runs at that width. Scope ends where the
    * caller re-binds a derived frame back (see [[bindTo]]) or joins it
    * under a frame owned by the original session.
    */
  def shufflePartitions(df: DataFrame, n: Int): DataFrame =
    GraftSqlBridge.withSession(df, fork(df.sparkSession, n))

  /** Re-bind `df` to `session` — the exit edge of a scope: a survivor
    * frame computed under a sized fork returns to the caller's session
    * so downstream stages plan at the caller's own width.
    */
  def bindTo(df: DataFrame, session: SparkSession): DataFrame =
    GraftSqlBridge.withSession(df, session)
}
