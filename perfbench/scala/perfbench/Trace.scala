package perfbench

import org.apache.spark.SparkInternals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** One traced interval, epoch milliseconds. `kind` is pass, entry, job
  * or a Catalyst phase; `parent` names the enclosing span (jobs carry
  * their entry through a local property), `pass` the pass it belongs to.
  */
final case class Span(kind: String, name: String, parent: String,
    pass: Int, start: Long, end: Long)

/** Layer counters of the traced run: the scheduler, executor, shuffle,
  * scan and block-manager numbers from a `SparkListener`, Catalyst
  * phase times from a `QueryExecutionListener`, and codegen compiles
  * from Spark's own static counters. Attached only while a traced pass
  * runs; every read and reset first drains the listener bus.
  */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  private val blocks = mutable.Set.empty[String]
  private var pass = 0
  private var compileCount0 = 0L
  private var compileNanos0 = 0L

  private def add(k: String, v: Double): Unit =
    counts(k) = counts.getOrElse(k, 0.0) + v

  def attach(passId: Int): Unit = {
    SparkInternals.drain(sc)
    synchronized {
      pass = passId
      counts.clear(); jobStarts.clear(); blocks.clear()
      compileCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      compileNanos0 = CodeGenerator.compileTime
    }
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detach, and return this pass's counters. */
  def detach(): Map[String, Double] = {
    SparkInternals.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      add("codegen.compile_count",
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compileCount0).toDouble)
      add("codegen.compile_s", (CodeGenerator.compileTime - compileNanos0) / 1e9)
      counts.toMap
    }
  }

  def record(s: Span): Unit = synchronized { spans += s }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    val entry = Option(e.properties).map(_.getProperty(Trace.EntryKey)).orNull
    jobStarts(e.jobId) = (e.time, entry)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, entry) =>
      spans += Span("job", s"job-${e.jobId}", entry, pass, t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      add("stages", 1)
      add("tasks", e.stageInfo.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult
      add("task_wait_ms", math.max(0L, delay).toDouble)
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** RDD blocks materialized in the pass: `localCheckpoint`, `cache`. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      val size = b.memSize + b.diskSize
      b.blockId match {
        case id: RDDBlockId if size > 0 && blocks.add(id.name) =>
          add("block_count", 1)
          add("block_bytes", size.toDouble)
        case _ =>
      }
    }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      spans += Span("phase", name, null, pass, p.startTimeMs, p.endTimeMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)
}

object Trace {
  /** Local property that ties every job to the entry that started it. */
  val EntryKey = "perfbench.entry"
}
