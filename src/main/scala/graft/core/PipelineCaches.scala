package graft.core

import org.apache.spark.sql.Dataset

/** Session-level registry of pipeline-internal persists. Multi-pass
  * operators (self-joins of derived inputs, LSH discover+verify,
  * k-means training loops) cache their shared intermediate so it
  * computes once; Spark evicts blocks LRU under pressure, but
  * long-lived sessions should drop them eagerly once a pipeline's
  * results are consumed.
  */
object PipelineCaches {

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val clearHooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Persist a frame (typed or not) until [[unpersistAll]]. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    tracked.add(p)
    p
  }

  /** Register a callback run by [[unpersistAll]] — for operator-local
    * state (trained centroids, lineage cuts) that must not outlive the
    * pipeline's cache scope.
    */
  def onClear(hook: () => Unit): Unit = clearHooks.add(hook)

  /** Unpersist every tracked cache (results already computed stay
    * valid; re-running a returned plan recomputes its scan).
    */
  def unpersistAll(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = tracked.poll()
    }
    clearHooks.forEach(h => h())
  }
}
