package org.apache.spark

/** Scheduler and block-manager internals the specs drive; both are
  * `private[spark]`.
  */
object GraftTestHooks {

  /** The number of stored blocks of RDD `id`, as the block managers
    * report them.
    */
  def storedBlocks(id: Int): Int =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case storage.RDDBlockId(`id`, _) => true
      case _ => false
    }, askStorageEndpoints = true).size

  /** Drop every stored block of RDD `id`, as a lost executor would. */
  def removeRddBlocks(id: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(id, blocking = true)

  /** Wait until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
