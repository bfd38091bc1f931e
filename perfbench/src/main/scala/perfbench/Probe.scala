package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution. Anchored to
  * currentTimeMillis once, so harness spans line up with the millisecond
  * timestamps Spark's listener events carry. */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** One call into the program, timed from outside. `layer` names the module
  * (`queries.Relational`, `exec`, `parser`, ...), `fn` the public function
  * or the query. */
final case class Op(layer: String, fn: String,
    startUs: Long, endUs: Long, ok: Boolean, attrs: Map[String, Long]) {
  def durUs: Long = endUs - startUs
}

/** Records the operations of one timed unit. */
final class OpLog {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Op]
  def ops: Seq[Op] = buf.toSeq

  /** Times `body`; a throw is recorded as a failed op and rethrown. */
  def apply[A](layer: String, fn: String)(body: => A): A =
    timed(layer, fn)(_ => body)

  /** As `apply`, but `body` may attach numeric attributes to the op. */
  def timed[A](layer: String, fn: String)(
      body: scala.collection.mutable.Map[String, Long] => A): A = {
    val attrs = scala.collection.mutable.Map.empty[String, Long]
    val t0 = Clock.nowUs()
    try {
      val r = body(attrs)
      buf += Op(layer, fn, t0, Clock.nowUs(), ok = true, attrs.toMap)
      r
    } catch { case e: Throwable =>
      buf += Op(layer, fn, t0, Clock.nowUs(), ok = false, attrs.toMap)
      throw e
    }
  }
}

/** Spark job, stage and task records from a listener the harness registers
  * only for traced units. Times are the events' own millisecond stamps. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, submitMs: Long, endMs: Long, tasks: Int)
final case class TaskSums(
    var tasks: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
    var shuffleWrite: Long = 0, var shuffleRead: Long = 0, var spill: Long = 0,
    var result: Long = 0)
final case class PhaseRec(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long)

final class LayerListener extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val sums = TaskSums()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, st) =>
      jobs.add(JobRec(e.jobId, t0, e.time, st))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(StageRec(i.stageId, s, c, i.numTasks))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    sums.synchronized {
      sums.tasks += 1
      sums.runMs += m.executorRunTime
      sums.cpuNs += m.executorCpuTime
      sums.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      sums.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      sums.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      sums.result += m.resultSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
    phases.add(PhaseRec(start, ms("analysis"), ms("optimization"), ms("planning")))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detaches after the bus has delivered every event posted so far. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

/** JVM-level readings: heap after a full collection and GC time. */
object Jvm {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** Heap in use after an explicit full collection, in MB. Taken between
    * units, outside the timed window. */
  def heapAfterGcMb(): Double = {
    System.gc()
    heapPools.map(_.getUsage.getUsed).sum / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

