package graft.engine

import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ListBuffer
import scala.util.DynamicVariable

/** Registry for run-scoped `.cache()` frames.
  *
  * Operators cache intermediate frames (reduced counts, candidate subsets,
  * one row-proportional residual frame) that verdicts + violations share.
  * Those caches are unit- or run-scoped: once the run's outputs are
  * materialized they are dead weight, and a long-lived session (the
  * resumable runner looping over hundreds of units, a notebook reusing one
  * SparkSession) would otherwise accumulate them until the storage pool
  * churns with eviction and spill.
  *
  * `cached(df)` is a drop-in replacement for `df.cache()` that also
  * registers the frame with the innermost open `scope`; the scope
  * unpersists everything registered inside it on exit. Registration is
  * thread-local (parallel build workers use `isolated`), and a
  * `cached` call outside any scope degrades to a plain `.cache()` —
  * short-lived driver-contract queries keep their old behavior.
  */
object CacheTracker {

  private val active = new DynamicVariable[List[ListBuffer[DataFrame]]](Nil)
  private val lock = new Object

  /** Cache `df` and register it with the innermost open scope, if any.
    * If the lineage is already cached (the cache manager matches on the
    * canonicalized plan), this is a no-op: re-caching would only emit
    * "Asked to cache already cached data" warnings that mask real
    * regressions, and re-registering would double-count the release. The
    * check and the cache run under one lock, so concurrent build workers
    * caching lineage-equal frames register that lineage exactly once. */
  def cached(df: DataFrame): DataFrame = lock.synchronized {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else {
      val c = df.cache()
      active.value.headOption.foreach(_ += c)
      c
    }
  }

  /** Chained-call sugar: `df.trackedCache()` ≡ `CacheTracker.cached(df)`. */
  implicit class TrackedCacheOps(private val df: DataFrame) extends AnyVal {
    def trackedCache(): DataFrame = cached(df)
  }

  /** Run `body`; on exit (normal or exceptional) unpersist every frame
    * `cached` registered inside it. The body must MATERIALIZE whatever it
    * needs from the cached lineages before returning — after the scope
    * closes, re-executing a returned lazy frame recomputes from source. */
  def scope[T](body: => T): T = {
    val frames = new ListBuffer[DataFrame]
    try active.withValue(frames :: active.value)(body)
    finally frames.foreach(_.unpersist(blocking = false))
  }

  /** Run `body` and return it together with every frame `cached` registered
    * inside it, WITHOUT unpersisting on exit — the caller owns the release
    * (e.g. `RunResult.release()` after materializing lazy outputs). The
    * collected frames are also re-registered with the enclosing scope, if
    * any, so a surrounding `scope { }` (the resumable runner's per-unit
    * scope) still frees them even if the caller never calls release — or
    * if `body` throws. */
  def collect[T](body: => T): (T, Seq[DataFrame]) = {
    val frames = new ListBuffer[DataFrame]
    try (active.withValue(frames :: active.value)(body), frames.toList)
    finally registerAll(frames)
  }

  /** Run `body` in an ISOLATED cache context that records into `sink`.
    * Any enclosing scopes are masked for the duration — this is the
    * worker-thread entry point: `DynamicVariable` is an
    * InheritableThreadLocal, so a pool thread may inherit the main thread's
    * scope list and `cached` would then append to a ListBuffer the main
    * thread (or a sibling worker) is mutating concurrently. Frames land in
    * `sink` as they are cached, so they survive a `body` that throws; the
    * caller re-homes them into its own scope with `registerAll` from
    * exactly one thread. */
  def isolated[T](sink: ListBuffer[DataFrame])(body: => T): T =
    active.withValue(sink :: Nil)(body)

  /** Register frames that are ALREADY cached (by a worker thread inside
    * `isolated`) with the innermost open scope of the calling thread, so
    * the normal scope/collect release discipline covers them. */
  def registerAll(frames: Iterable[DataFrame]): Unit = lock.synchronized {
    active.value.headOption.foreach(_ ++= frames)
  }
}
