package org.apache.spark

/** Test access to `private[spark]` SparkContext internals. */
object GraftTestHooks {

  /** Ids of the jobs of job group `group` still active once every event
    * already posted has reached the status store. `statusTracker` reads
    * that store, which the listener bus feeds asynchronously, so without
    * the wait a job that has just ended can still show as active.
    */
  def activeJobs(sc: SparkContext, group: String): Set[Int] = {
    sc.listenerBus.waitUntilEmpty()
    sc.statusTracker.getActiveJobIds.toSet &
      sc.statusTracker.getJobIdsForGroup(group).toSet
  }
}
