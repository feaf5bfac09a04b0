package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for expensive shared artifacts — IVF cell
  * assignments, MinHash verified pairs, n-gram candidate pairs, scored
  * risk frames — that several driver entries consume
  * (build-once/read-many: the local analog of a materialized index
  * layout on a cluster).
  *
  * Lifetime contract: an entry lives as long as its owning SparkSession.
  * Sessions are held by IDENTITY through a [[WeakReference]] and every
  * access sweeps entries whose session is stopped or collected, so a
  * long-lived JVM hosting many short sessions cannot accumulate dead
  * cached plans, and a recycled `identityHashCode` can never hand back a
  * frame bound to a dead session (the entry's weak ref is compared `eq`
  * to the caller's session, not by hash).
  *
  * Persisted frames an entry pins are recorded so FORCED eviction can
  * release them when the owning session is still alive (identity
  * collision replacement and [[clear]] — paths where no caller can
  * legitimately still hold the frame) — when the session is already
  * stopped its block manager is gone and dropping the reference
  * suffices. Release handles BOTH storage shapes a builder can pin:
  * CacheManager persists (`unpersist`) and checkpointed frames
  * ([[Checkpoint.release]] drops the blocks behind the `LogicalRDD`;
  * a plain `unpersist` cannot reach them). Bounded-group LRU eviction
  * ([[getOrBuildBounded]]) instead only DROPS the strong reference:
  * in-flight readers may still hold the lineage-truncated frame, so
  * its blocks are left for the ContextCleaner to reclaim on GC.
  *
  * Concurrency: the registry lock covers only map access; each entry
  * builds inside its own cell, so two sessions (or two keys) never
  * serialize on each other's multi-second index builds, while
  * concurrent callers of the SAME key block on one build instead of
  * duplicating it.
  */
object SessionCache {

  /** One memoized build: first `force` runs it, later callers read. */
  private final class Cell(build: () => (Any, Seq[DataFrame])) {
    @volatile private var done: Option[(Any, Seq[DataFrame])] = None
    def force(): Any = this.synchronized {
      done match {
        case Some((v, _)) => v
        case None =>
          val r = build()
          done = Some(r)
          r._1
      }
    }
    def pinned: Seq[DataFrame] = done.map(_._2).getOrElse(Nil)
  }

  private final case class Entry(
      session: WeakReference[SparkSession],
      cell: Cell,
      group: Option[String] = None)

  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[String, Entry]

  private def release(e: Entry): Unit = {
    val s = e.session.get
    if (s != null && !s.sparkContext.isStopped)
      e.cell.pinned.foreach { df =>
        try df.unpersist() catch { case _: Exception => () }
        Checkpoint.release(df)
      }
  }

  private def sweep(): Unit = {
    val dead = entries.collect {
      case (k, e) if e.session.get == null ||
        e.session.get.sparkContext.isStopped => k
    }.toSeq
    dead.foreach(entries.remove)
  }

  /** Return the cached value for (session, key), building and caching it
    * on miss. `build` returns the value plus the persisted frames it
    * pinned (so eviction can release them).
    */
  def getOrBuild[T](spark: SparkSession, key: String)(
      build: => (T, Seq[DataFrame])): T =
    getOrBuildImpl(spark, key, None, Int.MaxValue)(build)

  /** [[getOrBuild]] with a per-(session, group) LRU cap: when inserting
    * a new key pushes the group past `maxPerGroup` live entries, the
    * group's least-recently-used entries are DROPPED from the map —
    * the strong reference goes away, so once no caller holds the frame
    * either, the ContextCleaner reclaims its blocks on GC (the same
    * mechanism that reclaims per-call pins falling out of scope).
    * Eviction deliberately does NOT force-release: a report DataFrame
    * handed to a caller may still read the pinned frame, whose lineage
    * was truncated at pin time — unpersisting under it would fail that
    * read instead of recomputing. For builders whose pinned artifact
    * is large relative to the corpus (the ~30×-text char-gram span
    * frames), an unbounded cache turned a long session that scans many
    * distinct inputs into a storage leak eviction could never fix; the
    * cap bounds the session's STRONGLY-HELD span-frame footprint at
    * `maxPerGroup` inputs and lets GC do the rest. Under the RELIABLE
    * checkpoint policy the evicted frames' files are NOT reclaimed by
    * GC — each eviction logs the orphaned checkpoint dirs
    * ([[logOrphanedCheckpointFiles]]); long-lived sessions should set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` at
    * startup or point the checkpoint dir at a TTL-managed path.
    */
  def getOrBuildBounded[T](spark: SparkSession, key: String, group: String,
      maxPerGroup: Int)(build: => (T, Seq[DataFrame])): T =
    getOrBuildImpl(spark, key, Some(group), maxPerGroup)(build)

  private def getOrBuildImpl[T](spark: SparkSession, key: String,
      group: Option[String], maxPerGroup: Int)(
      build: => (T, Seq[DataFrame])): T = {
    val cell = synchronized {
      sweep()
      val full = s"${System.identityHashCode(spark)}|$key"
      entries.get(full) match {
        case Some(e) if e.session.get != null && (e.session.get eq spark) =>
          if (e.group.isDefined) {
            // True LRU within bounded groups: a hit refreshes recency
            // (re-insert at the tail of the insertion-ordered map), so
            // a hot span frame is never evicted by a one-off scan of a
            // different input.
            entries.remove(full)
            entries(full) = e
          }
          e.cell
        case stale =>
          stale.foreach(release) // identity-hash collision from a live session
          group.foreach { g =>
            val sameGroup = entries.collect {
              case (k, e) if e.group.contains(g) && e.session.get != null &&
                (e.session.get eq spark) => k
            }.toSeq
            // +1 for the entry about to be inserted; drop WITHOUT
            // force-release (see the method doc: in-flight readers).
            sameGroup.dropRight(math.max(maxPerGroup - 1, 0))
              .foreach(k => entries.remove(k)
                .foreach(logOrphanedCheckpointFiles))
          }
          val c = new Cell(() => build)
          entries(full) = Entry(new WeakReference(spark), c, group)
          c
      }
    }
    cell.force().asInstanceOf[T]
  }

  /** Bounded-group eviction drops the strong reference, but a RELIABLE
    * pin's checkpoint FILES outlive the eviction: the ContextCleaner
    * only deletes them when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` was set
    * at context startup, and otherwise they wait for the checkpoint-
    * dir owner (or a filesystem TTL policy on the dir). Surface the
    * accumulation per eviction — the per-path log line is what lets an
    * operator of a long-lived session SEE the growth the
    * [[Checkpoint]] warn-once guard describes in the abstract.
    */
  private def logOrphanedCheckpointFiles(e: Entry): Unit = {
    val files = e.cell.pinned.flatMap(Checkpoint.checkpointDirsOf)
    if (files.nonEmpty)
      org.slf4j.LoggerFactory.getLogger("graft.SessionCache").info(
        s"bounded-group eviction orphaned ${files.size} reliable-" +
          "checkpoint dir(s) (files persist until the ContextCleaner " +
          "with spark.cleaner.referenceTracking.cleanCheckpoints=true, " +
          "the checkpoint-dir owner, or a TTL policy deletes them): " +
          files.mkString(", "))
  }

  /** Evict everything (test hygiene). */
  def clear(): Unit = synchronized {
    entries.values.foreach(release)
    entries.clear()
  }
}
