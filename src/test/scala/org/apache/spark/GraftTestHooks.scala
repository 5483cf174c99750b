package org.apache.spark

/** Test access to `private[spark]` SparkContext internals. */
object GraftTestHooks {

  /** Waits until every event already posted has reached every listener. */
  def drainEvents(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Ids of the jobs of job group `group` still active once every event
    * already posted has reached the status store, polled for up to
    * `settleMs` until none is left; the last read is returned.
    * `statusTracker` reads that store, which the listener bus feeds
    * asynchronously. Draining the bus is not enough on its own: the DAG
    * scheduler wakes a job's waiter before it posts the job's end event,
    * so a job whose caller has already seen it end may not have posted
    * that event yet. A job that really runs on still shows as active
    * after the poll.
    */
  def activeJobs(sc: SparkContext, group: String,
      settleMs: Long = 2000): Set[Int] = {
    val deadline = System.nanoTime() + settleMs * 1000 * 1000
    def read(): Set[Int] = {
      sc.listenerBus.waitUntilEmpty()
      sc.statusTracker.getActiveJobIds.toSet &
        sc.statusTracker.getJobIdsForGroup(group).toSet
    }
    var active = read()
    while (active.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      active = read()
    }
    active
  }
}
