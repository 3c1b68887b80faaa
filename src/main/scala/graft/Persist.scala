package graft

import org.apache.spark.sql.{Dataset, GraftBridge}
import org.apache.spark.storage.StorageLevel

/** The engine's one persist lifecycle (always MEMORY_AND_DISK): every cache
  * is released by the code that made it, so no long-lived session depends
  * on a global `clearCache()`. [[within]] scopes a cache to one call;
  * [[hold]]/[[release]] serve a result that owns caches past one call and
  * releases them in its `close()` (`MtbDataset.Result`). */
object Persist {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** `body` with each of `ds` persisted in order, all released in a
    * `finally`. A Dataset `body` returns that would still read one of the
    * caches (through its plan, or the RDD lineage of a frame built from
    * `queryExecution.toRdd`, as DenseId's are) is [[materialize]]d first.
    * A frame an enclosing owner already cached is left to that owner. */
  def within[A](ds: Dataset[_]*)(body: => A): A = {
    val mine = ds.filterNot(GraftBridge.isCached)
    mine.foreach(_.persist(Level))
    try body match {
      case out: Dataset[_] if mine.exists(GraftBridge.readsCache(out, _)) =>
        materialize(out).asInstanceOf[A]
      case out => out
    } finally mine.foreach(_.unpersist())
  }

  /** `ds` computed now and kept outside the cache registry (an eager
    * `localCheckpoint`, freed with the frame): how rows read from a cache
    * outlive it. */
  def materialize[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = true)

  def hold[T](ds: Dataset[T]): Dataset[T] = ds.persist(Level)

  def release(ds: Dataset[_]*): Unit = ds.foreach(_.unpersist())
}
