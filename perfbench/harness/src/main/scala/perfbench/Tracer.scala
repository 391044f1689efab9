package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view from outside the engine: Spark's public listeners
  * record jobs, stages, tasks, Catalyst phase times and the streaming
  * progress events of every session,
  * each with its wall-clock time. Events are only kept in memory; after the
  * run they are attributed to the benchmark's own operation spans by time
  * (operations run one at a time, so each event falls in at most one). */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val actions = new ConcurrentLinkedQueue[Long]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  @volatile private var marker = new CountDownLatch(1)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(Job(e.jobId, s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())); ()
    }
    // StreamingQueryListener progress of every session's queries (a
    // session's own StreamingQueryListener sees only the queries it started)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => record(p.progress)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
      ()
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  })

  private def record(qe: QueryExecution): Unit = {
    if (qe.analyzed.output.exists(_.name == MarkerCol)) marker.countDown()
    else {
      val ps = qe.tracker.phases
      ps.foreach { case (name, p) => phases.add(Phase(name, p.startTimeMs, p.endTimeMs)) }
      if (ps.nonEmpty) actions.add(ps.values.map(_.endTimeMs).max)
    }
  }

  private def record(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum,
      p.stateOperators.map(_.commitTimeMs).sum))
    ()
  }

  /** Block until every listener event posted so far has been delivered: a
    * marker query's execution-end event queues behind them all. */
  def drain(): Unit = {
    marker = new CountDownLatch(1)
    spark.range(0, 1, 1, 1).toDF(MarkerCol).collect()
    if (!marker.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }
}

object Tracer {
  val MarkerCol = "perfbench_listener_marker"
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Task(finishMs: Long, cpuNs: Long, inputBytes: Long, outputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Progress(batchId: Long, startMs: Long, durationMs: Map[String, Long],
      stateRows: Long, stateMemoryBytes: Long, stateCommitMs: Long)
}
