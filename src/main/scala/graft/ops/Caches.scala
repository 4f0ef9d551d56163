package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** Cache registry for shared query subtrees, in two lifetimes.
  *
  * The repo's subtree-reuse rule (README "100 TB design notes") is: a
  * non-iterative frame consumed by 2+ plan branches gets an EAGER
  * `persist()` — a lazy persist lets branches scheduled in the same job
  * wave race past the empty cache and each recompute the subtree
  * (measured ~2× on q118). A builder cannot unpersist such a frame
  * itself, because it must stay cached until the CALLER materializes the
  * query result.
  *
  *  - Query scope: [[shared]] persists, fills and registers a frame;
  *    [[clear]] releases every registered frame once the query result is
  *    written.
  *  - Window scope: a [[family]] is a derived value a group of queries
  *    re-derives identically (the twin-collapse chain, the dup-cluster
  *    labels, the daily counts, ...). It is built once per (session, data
  *    dir, name), usually from [[pinned]] frames, survives [[clear]], and
  *    is released by [[clearPinned]].
  *
  * Lifetimes are owned by `graft.Harness.Loop`: it calls [[clear]] after
  * every query and [[clearPinned]] before it stops a session, so no
  * family outlives the session it was built on. Single-query callers
  * that never clear are no worse off than an inline persist.
  */
object Caches {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val pinnedTracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  // keyed by the session object itself: SparkSession keeps reference
  // equality, so two live sessions never share an entry
  private val families = new java.util.HashMap[(SparkSession, String, String), AnyRef]()

  /** Persist `ds` (MEMORY_AND_DISK), eagerly fill the cache with one
    * count() so same-wave branches all hit it, and register it for
    * [[clear]].
    */
  def shared[T](ds: Dataset[T]): Dataset[T] = {
    val cached = ds.persist()
    cached.count()
    tracked.add(cached)
    cached
  }

  /** Like [[shared]] but window-scoped: survives [[clear]] and is
    * released only by [[clearPinned]]. For the frames a [[family]] build
    * returns. Pin ONLY frames that are linear in distinct content (never
    * a shingle table): everything pinned stays resident for the window.
    */
  def pinned[T](ds: Dataset[T]): Dataset[T] = {
    val cached = ds.persist()
    cached.count()
    pinnedTracked.add(cached)
    cached
  }

  /** The family `name` over data dir `d` in session `s`: built by `build`
    * on first use and returned as-is until [[clearPinned]]. Builds may
    * NEST (labels → edges → collapse chain), so this is a reentrant
    * monitor around get/put, not `computeIfAbsent` (which throws
    * "Recursive update" on reentry).
    */
  def family[K <: AnyRef](s: SparkSession, d: String, name: String)(build: => K): K =
    families.synchronized {
      val key = (s, d, name)
      families.get(key) match {
        case null =>
          val v = build
          families.put(key, v)
          v
        case v => v.asInstanceOf[K]
      }
    }

  /** Unpersist every [[shared]] frame (non-blocking). Safe to call once
    * the query result that consumed them has been materialized.
    */
  def clear(): Unit = {
    var d = tracked.poll()
    while (d != null) { d.unpersist(blocking = false); d = tracked.poll() }
  }

  /** Release the window scope: every family and every [[pinned]] frame. */
  def clearPinned(): Unit = families.synchronized {
    families.clear()
    var d = pinnedTracked.poll()
    while (d != null) { d.unpersist(blocking = false); d = pinnedTracked.poll() }
  }

  /** The sessions that family entries and pinned frames are bound to. */
  private[graft] def residentSessions: Seq[SparkSession] = families.synchronized {
    families.keySet.asScala.toSeq.map(_._1) ++ pinnedTracked.asScala.map(_.sparkSession)
  }
}
