package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task totals, summed from task-end events. */
final class StageAgg(val stageId: Int) {
  var tasks = 0L
  var runMs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var submitMs = 0L
  var completeMs = 0L
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** Counters read from one finished SQL execution's physical plan. */
final case class QueryRec(scanRows: Long, scanFiles: Long, scanBytes: Long,
                          writeRows: Long, writeBytes: Long, writeFiles: Long)

final case class BatchRec(planMs: Long, triggerMs: Long)

final case class Events(jobs: Seq[JobRec], stages: Map[Int, StageAgg],
                        queries: Seq[QueryRec], batches: Seq[BatchRec])

/** Spark's public listeners, attached only for traced passes: jobs,
  * stages and task metrics from the scheduler; scan and write counters
  * from each finished SQL execution's plan; streaming micro-batch
  * durations. Events accumulate until `take()` hands them over. */
final class Tracer(spark: SparkSession) {
  private val jobStarts = mutable.HashMap.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, ids) =>
        jobs += JobRec(e.jobId, start, e.time, ids)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stage(e.stageInfo.stageId).submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId)
      s.submitMs = e.stageInfo.submissionTime.getOrElse(s.submitMs)
      s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      s.tasks += 1
      if (m != null) {
        val info = e.taskInfo
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        // the scheduler delay as Spark's UI derives it
        s.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(planNodes)
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      var rec = QueryRec(0, 0, 0, 0, 0, 0)
      planNodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          rec = rec.copy(scanRows = rec.scanRows + metric(s, "numOutputRows"),
            scanFiles = rec.scanFiles + metric(s, "numFiles"),
            scanBytes = rec.scanBytes + metric(s, "filesSize"))
        case w: DataWritingCommandExec =>
          def m(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
          rec = rec.copy(writeRows = rec.writeRows + m("numOutputRows"),
            writeBytes = rec.writeBytes + m("numOutputBytes"),
            writeFiles = rec.writeFiles + m("numFiles"))
        case _ =>
      }
      Tracer.this.synchronized { queries += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized { batches += BatchRec(ms("queryPlanning"), ms("triggerExecution")) }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Hands over and forgets everything recorded since the last call. */
  def take(): Events = synchronized {
    val ev = Events(jobs.toList, stages.toMap, queries.toList, batches.toList)
    jobs.clear(); stages.clear(); queries.clear(); batches.clear()
    ev
  }
}
