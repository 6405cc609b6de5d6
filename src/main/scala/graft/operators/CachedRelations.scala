package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The cache lifecycle of a standing index's persisted relations
  * ([[Dedup.MinhashIndex]], [[SimilaritySearch.LshIndex]],
  * [[SimilaritySearch.IvfPqIndex]]): materialize them together, release
  * them together, and re-mark them after something dropped them.
  */
trait CachedRelations {
  protected def relations: Seq[DataFrame]

  /** Materialize the persisted relations (e.g. before timing probes).
    * Self-releasing on failure: fluent `index(...).build()` callers never
    * receive the reference, so nothing else could unpersist it.
    */
  def build(): this.type =
    BroadcastGate.releasingOnFailure(relations) {
      relations.foreach(_.count()); this
    }

  /** Release the persisted relations when done probing. */
  def unpersist(): Unit = relations.foreach(_.unpersist(blocking = false))

  /** Self-heal the caches: a long-lived session (or a bench harness's
    * cold-isolation teardown, or an external clearCache) that dropped the
    * blocks also dropped the persist REGISTRATIONS, after which every
    * probe recomputes the relations once per consumer — re-mark them so
    * the next action rebuilds the cache instead.
    */
  def ensureCached(): this.type = {
    relations.foreach { df =>
      if (df.storageLevel == StorageLevel.NONE) df.persist()
    }
    this
  }
}
