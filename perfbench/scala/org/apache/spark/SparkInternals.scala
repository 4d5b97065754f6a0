package org.apache.spark

import scala.jdk.CollectionConverters._

/** The package-private Spark internals the benchmark needs. */
object SparkInternals {
  /** Block until every event posted to the listener bus has been
    * delivered, so counters can be read or reset without sleeps.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A full GC whose clean-up has finished: what the GC found
    * unreachable (RDDs, broadcasts, shuffles, accumulators, checkpoints
    * the program has dropped) is cleaned here, blocking, instead of later
    * on the context cleaner's own thread, so the heap read afterwards is
    * the same whenever it is read. Blocks the program still holds stay.
    * Returns the number of clean-up tasks run.
    */
  def fullGc(sc: SparkContext): Int = {
    System.gc() // clears the weak references of everything unreachable
    val done = sc.cleaner.map { c =>
      val f = classOf[ContextCleaner].getDeclaredField("referenceBuffer")
      f.setAccessible(true)
      val pending = f.get(c).asInstanceOf[java.util.Set[CleanupTaskWeakReference]]
      val dead = pending.asScala.toList.filter(_.get == null)
      dead.foreach { ref =>
        if (pending.remove(ref)) ref.task match {
          case CleanRDD(id) => c.doCleanupRDD(id, blocking = true)
          case CleanShuffle(id) => c.doCleanupShuffle(id, blocking = true)
          case CleanBroadcast(id) => c.doCleanupBroadcast(id, blocking = true)
          case CleanAccum(id) => c.doCleanupAccum(id, blocking = true)
          case CleanCheckpoint(id) => c.doCleanCheckpoint(id)
          case CleanSparkListener(l) => c.doCleanSparkListener(l)
        }
      }
      dead.size
    }.getOrElse(0)
    if (done > 0) System.gc()
    done
  }
}
