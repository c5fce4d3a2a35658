package perfbench

import scala.collection.mutable

import org.apache.spark.SparkBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary. `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans plus Spark-side counters for one traced run.
  *
  * Spans nest workload → pass → operation → {build, execute} and stay
  * in memory until the run ends. Build and execute spans set their id
  * as the Spark job group, so every job is attributed to the span that
  * started it. Phase times come from the `QueryExecution` handed to
  * `onSuccess` — the plan that actually ran — never from a DataFrame's
  * own tracker, whose phases keep growing on a memoized frame.
  */
final class Trace(spark: SparkSession, val runId: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String, jobGroup: Boolean = false)(f: => T): T = {
    val id = nextId
    nextId += 1
    val start = System.nanoTime()
    stack.push(id)
    val sc = spark.sparkContext
    if (jobGroup) sc.setJobGroup(s"$runId:$id", name)
    try f finally {
      if (jobGroup) sc.clearJobGroup()
      stack.pop()
      val parent = if (stack.isEmpty) -1 else stack.top
      spans += Span(id, parent, name, start - t0, System.nanoTime() - t0)
    }
  }

  /** Id of the most recently closed span named `name`. */
  def lastId(name: String): Int = spans.reverseIterator.find(_.name == name).map(_.id).getOrElse(-1)

  /** Jobs started under a span's job group; complete once the bus is drained. */
  def jobsOf(spanId: Int): Int = stats.jobsIn(s"$runId:$spanId")

  val stats = new SparkStats(spark)

  def spansJson: Iterator[String] = spans.sortBy(_.id).iterator.map { s =>
    f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f}"""
  }
}

/** Counters over one window (a pass), taken as differences of
  * [[SparkStats]] snapshots. */
final case class Counts(
    jobs: Long, stages: Long, tasks: Long, taskRunMs: Long, taskCpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    compiles: Long, compileMsEst: Double) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    compiles - o.compiles, compileMsEst - o.compileMsEst)
}

/** Listener pair feeding [[Counts]]: a SparkListener for jobs, stages
  * and task metrics, and a QueryExecutionListener for planning phases.
  */
final class SparkStats(spark: SparkSession) {
  private val lock = new Object
  private var c = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  /** Closed job intervals in epoch ms. */
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobsByGroup = mutable.Map.empty[String, Int]

  def jobsIn(group: String): Int = lock.synchronized(jobsByGroup.getOrElse(group, 0))

  private def add(f: Counts => Counts): Unit = lock.synchronized { c = f(c) }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1)
      c = c.copy(jobs = c.jobs + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(x => x.copy(stages = x.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(x => x.copy(
        tasks = x.tasks + 1,
        taskRunMs = x.taskRunMs + m.executorRunTime,
        taskCpuNs = x.taskCpuNs + m.executorCpuTime,
        gcMs = x.gcMs + m.jvmGCTime,
        shuffleWrite = x.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = x.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = x.spill + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      add(x => x.copy(
        analysisMs = x.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs = x.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = x.planningMs + ms(QueryPlanningTracker.PLANNING)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    SparkBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Counters once every event posted so far has been delivered. */
  def snapshot(): Counts = {
    SparkBridge.drainListenerBus(spark.sparkContext)
    // CodegenMetrics keeps a count and a sampled reservoir of compile
    // times, not a running sum; time is estimated as count × mean.
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    lock.synchronized(c.copy(compiles = n, compileMsEst = n * h.getSnapshot.getMean))
  }

  /** Wall ms inside [fromMs, toMs] covered by at least one job. */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = {
    val iv = lock.synchronized(intervals.toList)
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case ch if ch < ' ' => b.append(f"\\u${ch.toInt}%04x")
      case ch => b.append(ch)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** One result cell: numbers stay numbers, decimals are tagged so the
    * checker can compare them exactly. */
  def cell(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: java.lang.Integer => n.toString
    case n: java.lang.Long => n.toString
    case d: java.lang.Double => num(d)
    case d: java.math.BigDecimal => s"""{"dec":"${d.stripTrailingZeros.toPlainString}"}"""
    case other => str(other.toString)
  }
}
