package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into the program, as the benchmark thread saw it. */
final case class OpSpan(group: String, pass: Int, startMs: Long, endMs: Long,
                        seconds: Double, error: Option[String]) {
  def op: String = group.split("/")(1)
  def phase: String = group.split("/")(2)
}

/** What one Spark job did, summed over its tasks. */
final class JobRecord(val id: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskRetries = 0
  var taskNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Streaming progress of one fold (Spark's own durationMs breakdown). */
final case class Fold(group: String, triggerMs: Long, addBatchMs: Long,
                      planningMs: Long, walCommitMs: Long)

/** Benchmark-side tracing: a SparkListener (jobs, stages, tasks, retries,
  * shuffle, spill, input/output bytes, job spans), a
  * StreamingQueryListener (per-fold durations) and a
  * QueryExecutionListener (executed AQE plans, for exchange counts).
  * Every call is tagged with a job group `<workload>/<op>/<phase>` by the
  * benchmark thread, so jobs are attributed without touching the program.
  * Everything stays in memory until the run ends.
  */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val attachedMs: Long = System.currentTimeMillis
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val folds = new ConcurrentLinkedQueue[Fold]()
  private val plans = new ConcurrentLinkedQueue[(String, Int)]() // group, exchanges
  @volatile private var currentGroup = ""

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val j = new JobRecord(e.jobId, g, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach { j =>
        j.synchronized(j.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) j.taskRetries += 1
          if (e.taskInfo != null) j.taskNs += e.taskInfo.duration * 1000000L
          val m = e.taskMetrics
          if (m != null) {
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.input += m.inputMetrics.bytesRead
            j.output += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (e.progress.numInputRows > 0 || d.contains("addBatch"))
        folds.add(Fold(currentGroup, d.getOrElse("triggerExecution", 0L),
          d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
          d.getOrElse("walCommit", 0L)))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      plans.add((currentGroup, Trace.exchanges(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(planListener)

  private val groups = scala.collection.mutable.Stack[String]()

  /** Tag every job started until the matching [[end]] with `group`;
    * spans nest, and jobs carry the innermost group.
    */
  def begin(group: String): Unit = {
    groups.push(group)
    setGroup(group)
  }

  /** Close the innermost span; the listener bus is drained first so late
    * events still see its group.
    */
  def end(): Unit = {
    org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    groups.pop()
    if (groups.isEmpty) { currentGroup = ""; sc.clearJobGroup() }
    else setGroup(groups.top)
  }

  private def setGroup(group: String): Unit = {
    currentGroup = group
    sc.setJobGroup(group, group, interruptOnCancel = false)
  }

  def jobsOf(pred: String => Boolean): Seq[JobRecord] =
    jobs.values.asScala.filter(j => pred(j.group)).toSeq.sortBy(_.id)
  def foldsOf(pred: String => Boolean): Seq[Fold] = folds.asScala.filter(f => pred(f.group)).toSeq
  def exchangesOf(pred: String => Boolean): Seq[Int] =
    plans.asScala.collect { case (g, e) if pred(g) => e }.toSeq

  def detach(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }
}

object Trace {

  /** Shuffle and broadcast exchanges in the executed (final AQE) plan. */
  def exchanges(plan: SparkPlan): Int = {
    var exchanges = 0
    val seen = mutable.Set[Int]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec =>
        if (seen.add(q.id)) walk(q.plan)
      case e: ShuffleExchangeLike => exchanges += 1; e.children.foreach(walk)
      case e: BroadcastExchangeLike => exchanges += 1; e.children.foreach(walk)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    exchanges
  }

  /** Length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
