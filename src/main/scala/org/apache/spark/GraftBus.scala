package org.apache.spark

/** Lives in Spark's package to reach the listener bus and the block
  * manager, both package-private. Listener events arrive asynchronously,
  * and a measurement that reads them must wait until every event its
  * work caused has been delivered; shuffle files are deleted
  * asynchronously, and a pass must not start on a disk still holding
  * the last pass's files.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Wait up to `ms` until no shuffle file is left on this driver's
    * local disk, which in local mode is every executor's. The
    * ContextCleaner deletes a shuffle's files once its dependency has
    * been garbage-collected.
    */
  def awaitShuffleCleanup(sc: SparkContext, ms: Long): Unit = {
    val end = System.nanoTime() + ms * 1000000L
    while (sc.env.blockManager.diskBlockManager.getAllBlocks().exists(_.isShuffle) &&
        System.nanoTime() < end) Thread.sleep(100)
  }
}
