package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.{Sessions, SparkEntry}
import graft.sources.SessionCache

/** Ad-hoc profiler for perf work (not part of the driver contract).
  * Two modes over the declared queries named in SPARK_GRAFT_BENCH_ONLY
  * (comma-separated, default g1_pagerank):
  *
  *   jobs  — per-query JOB decomposition at one sf dir: one untimed
  *           warmup, then one instrumented run printing wall, job
  *           count, Σ job span, the driver gap between them (wall −
  *           Σ span), Σ task run time, and each job's span and call site.
  *   curve — sf-scaling curve: min/median of SPARK_GRAFT_BENCH_RUNS
  *           (default 5) warm runs per (query, sf dir); dirs from
  *           SPARK_GRAFT_CURVE_SFS. Rows go to curve_new.json, merged
  *           into the curve_out.json ledger by tools/merge_curve.py.
  *
  * Run:
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.ProfileMain jobs /root/testdata/sf0.1"
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("jobs")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val qnames = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("g1_pagerank"))
    def run(q: String, sf: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    what match {
      case "jobs" =>
        val jobSpans = new ConcurrentHashMap[Int, (Long, Long)]()
        // jobId -> call site (the ACTION that spawned the job), so the
        // inventory names the fixed costs, not just counts them
        val jobSites = new ConcurrentHashMap[Int, String]()
        val taskNanos = new AtomicLong
        val listener = new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit = {
            jobSpans.put(j.jobId, (j.time, -1L))
            jobSites.put(j.jobId, j.stageInfos.lastOption
              .map(_.name.takeWhile(_ != '\n')).getOrElse("?"))
          }
          override def onJobEnd(j: SparkListenerJobEnd): Unit = {
            val s = jobSpans.getOrDefault(j.jobId, (j.time, -1L))
            jobSpans.put(j.jobId, (s._1, j.time))
          }
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
        }
        spark.sparkContext.addSparkListener(listener)
        try for (q <- qnames) {
          // clear() drops the cached frames' strong refs, but their
          // checkpoint blocks survive until a GC lets the ContextCleaner
          // collect them; without the GC, queries late in the list
          // measure under the earlier ones' storage-memory pressure
          SessionCache.clear()
          System.gc()
          run(q, dir) // warmup
          PlanBridge.drainListenerBus(spark)
          jobSpans.clear(); taskNanos.set(0)
          val wall = run(q, dir)
          PlanBridge.drainListenerBus(spark)
          val spans = jobSpans.asScala.toSeq.sortBy(_._1)
            .map { case (id, (s, e)) => (id, s, if (e < 0) s else e) }
          val jobWall = spans.map { case (_, s, e) => (e - s) / 1e3 }.sum
          val detail = spans.map { case (id, s, e) =>
            f"j$id:${(e - s) / 1e3}%.2fs@${jobSites.getOrDefault(id, "?")}"
          }.mkString(" ")
          println(f"[jobs] $q%-34s wall ${wall}%7.3f  jobs ${spans.size}%3d  " +
            f"jobWall ${jobWall}%7.3f  gap ${wall - jobWall}%7.3f  " +
            f"taskSum ${taskNanos.get / 1e9}%8.3f   $detail")
        } finally spark.sparkContext.removeSparkListener(listener)

      case "curve" =>
        // min-of-N: a host stall can only ADD time, so the minimum is
        // the principled statistic; the curve's shape separates flat
        // stage latency from data-proportional cost
        val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
        val sfs = sys.env.get("SPARK_GRAFT_CURVE_SFS")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1"))
        val rows = for (q <- qnames; sf <- sfs) yield {
          // per-(query, sf) cache reset + one untimed warmup: a
          // warehouse export at a static path is rewritten per sf dir,
          // so a cached frame from another dir would point at deleted
          // files; the warmup re-pays JIT/codegen and rebuilds caches
          SessionCache.clear()
          run(q, sf)
          val ts = (1 to runs).map(_ => run(q, sf))
          val line = f"""{"q":"$q","sf":"${sf.split('/').last}","min":${ts.min}%.3f,"median":${ts.sorted.apply(ts.size / 2)}%.3f,"runs":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
          println(s"[curve] $line")
          line
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("curve_new.json"),
          rows.mkString("[", ",\n", "]"))
      case _ => sys.error(s"unknown profile target: $what (jobs | curve)")
    }
    spark.stop()
  }
}
