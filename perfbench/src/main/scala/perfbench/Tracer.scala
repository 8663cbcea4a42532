package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One span at a layer boundary. Times are epoch milliseconds. */
final case class Span(name: String, startMs: Double, endMs: Double,
                      parent: String, op: String)

/** What one Spark job did, attributed to the op that submitted it. */
final class JobRec(val op: String, val phase: String, val submitMs: Long) {
  var endMs: Long = submitMs
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var input = 0L
  var spill = 0L
  var peakMem = 0L
}

/** The write's QueryExecution, as the listener saw it. */
final case class WriteRec(op: String, phases: Map[String, (Long, Long)],
                          exchanges: Int, scansCascade: Boolean)

/** Listens from outside the engine: jobs carry the op id as a local
  * property, so tasks and stages are attributed exactly; a
  * QueryExecution event belongs to the op that was running when it
  * was posted (the client drains the bus after every op). */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var currentOp: String = ""
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  val writes = mutable.ArrayBuffer.empty[WriteRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).foreach { op =>
      val rec = new JobRec(op, props.get.getProperty(Tracer.PhaseKey, ""), e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(stageJob(_) = rec)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      rec.input += m.inputMetrics.bytesRead
      rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.peakMem = math.max(rec.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.logical match {
      case _: V2WriteCommand =>
        val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
        val rec = WriteRec(currentOp, phases, Tracer.exchanges(qe),
          Tracer.scannedTables(qe).exists(_ != "base"))
        synchronized { writes += rec }
      case _ => ()
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  private object Helper extends AdaptiveSparkPlanHelper

  /** Exchanges in the final (post-AQE) physical plan. */
  def exchanges(qe: QueryExecution): Int =
    Helper.collect(qe.executedPlan) { case e: Exchange => e }.size

  private val StoreTable = ".*/(base|agg_\\d+|rate_\\d+|quant_\\d+)(/.*)?$".r

  /** Store tables (base, agg_N, ...) the optimized plan scans. */
  def scannedTables(qe: QueryExecution): Set[String] =
    qe.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
          .map(_.toUri.getPath).collect { case StoreTable(t, _) => t }
    }.flatten.toSet
}
