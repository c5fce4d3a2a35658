package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Sessions, SparkEntry}
import graft.operators.Hierarchy
import graft.plans.Loops

/** Benchmark main: one workload run in its own JVM.
  *
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <cpus> <setups>
  *   perfbench.Main oracle-sql <outFile>
  *
  * A run is one closed-loop client: set-up (repeated `setups` times in
  * fresh sessions; the first repetition is timed from process start),
  * one cold pass that runs every operation once in the fresh session,
  * then warm passes until `seconds` have passed. Results go to
  * `outDir/result.json`; board-mix outputs to `outDir/outputs.jsonl`
  * for the oracle comparison; traced runs add `outDir/spans.jsonl`.
  */
object Main {

  /** board-mix: one or two queries of each kind of work the engine
    * does — a loop driver (d12), native kernels (d13, s20), memoized
    * artifacts (d7, m11), a versioned source (c8). */
  val Board: Seq[String] = Seq(
    "c8_incremental_agg", "d7_minhash_pairs", "d12_embedding_dup_clusters",
    "d13_editdist_pairs", "m11_mp4_header_scan", "s20_ann_topk_int8")

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-sql" :: out :: Nil =>
      val sql = SparkEntry.oracleSql
      val body = Board.map(n => s"  ${Json.str(n)}: ${Json.str(sql(n))}").mkString(",\n")
      Files.writeString(Paths.get(out), s"{\n$body\n}\n", UTF_8)
    case "run" :: w :: seed :: secs :: tr :: data :: out :: cpus :: setups :: Nil =>
      try new Run(w, seed.toLong, secs.toDouble, tr == "1", data, Paths.get(out),
        cpus, setups.toInt).run()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          System.exit(1)
      }
      System.exit(0)
    case _ =>
      System.err.println("usage: perfbench.Main run <workload> <seed> <seconds> " +
        "<trace 0|1> <dataDir> <outDir> <cpus> <setups> | oracle-sql <outFile>")
      System.exit(2)
  }
}

/** One operation: `build` returns the DataFrame (running any eager
  * work the API does while building), `execute` materializes it. */
final case class Op(kind: String, name: String, build: () => DataFrame,
    execute: DataFrame => Unit, depth: Int = 0)

/** A completed operation; span ids are -1 when the pass was not traced. */
final case class OpRec(pass: Int, op: Op, buildNs: Long, execNs: Long,
    buildSpan: Int, execSpan: Int)

final case class PassRec(pass: Int, wallNs: Long, traced: Boolean,
    counts: Option[Counts], jobCoveredMs: Long, cachedBytes: Long)

/** Workload-specific state: what set-up builds, what a pass runs, and
  * the output checks. */
trait Workload {
  /** Set-up work after the session exists (input generation included). */
  def prepare(): Unit
  def ops(pass: Int): Seq[Op]
  /** Called after each pass; `keep` passes' outputs must survive. */
  def afterPass(pass: Int, keep: Set[Int]): Unit = ()
  /** Output checks over the kept passes: (pass, op name) → problem. */
  def check(passes: Seq[Int]): Seq[((Int, String), String)]
  /** Drop everything the benchmark itself holds. */
  def release(): Unit = ()
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
    data: String, out: Path, cpus: String, setups: Int) {

  private var spark: SparkSession = _
  private var inputs: Inputs = _
  private var w: Workload = _
  private var trace: Option[Trace] = None
  private val opRecs = mutable.ArrayBuffer.empty[OpRec]
  private val passRecs = mutable.ArrayBuffer.empty[PassRec]
  private val errors = mutable.LinkedHashMap.empty[(Int, String), String]
  private var attempted = 0

  /** True while a traced pass runs; spans are recorded only then. */
  private var tracing = false

  private def span[T](name: String, jobGroup: Boolean = false)(f: => T): T =
    trace.filter(_ => tracing) match {
      case Some(t) => t.span(name, jobGroup)(f)
      case None => f
    }

  private def newWorkload(): Workload = workload match {
    case "hier" => new Hier(spark, inputs, data)
    case "board-mix" => new BoardMix(spark, inputs, data)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** One set-up: session, inputs, workload preparation. Returns
    * (set-up seconds, session-creation seconds). */
  private def setUp(first: Boolean): (Double, Double) = {
    val t0 = System.nanoTime()
    val fromNs =
      if (first) t0 - (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
      else t0
    spark = Sessions.local(cpus)
    val sessionNs = System.nanoTime() - t0
    inputs = Inputs(workload, seed)
    w = newWorkload()
    w.prepare()
    ((System.nanoTime() - fromNs) / 1e9, sessionNs / 1e9)
  }

  private def tearDown(): Unit = {
    w.release()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def runOp(pass: Int, op: Op): Unit = {
    attempted += 1
    val label = s"${op.kind}:${op.name}"
    var b0, b1, e1 = 0L
    try span(s"op:$label") {
      b0 = System.nanoTime()
      val df = span("build", jobGroup = true)(op.build())
      b1 = System.nanoTime()
      span("execute", jobGroup = true)(op.execute(df))
      e1 = System.nanoTime()
    } catch {
      case NonFatal(e) =>
        errors((pass, label)) = s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    if (e1 > 0) {
      val ids = trace.filter(_ => tracing).map(t => (t.lastId("build"), t.lastId("execute")))
        .getOrElse((-1, -1))
      opRecs += OpRec(pass, op, b1 - b0, e1 - b1, ids._1, ids._2)
    }
  }

  private def runPass(pass: Int, traceThis: Boolean): Unit = {
    tracing = traceThis
    trace.foreach(t => if (traceThis) t.stats.attach() else t.stats.detach())
    val before = trace.filter(_ => traceThis).map(_.stats.snapshot())
    val ops = w.ops(pass)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    span(if (pass == 0) "pass:cold" else s"pass:warm-$pass") {
      ops.foreach(runOp(pass, _))
    }
    val wall = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    val stats = trace.filter(_ => traceThis).map(_.stats)
    val counts = stats.map(s => s.snapshot() - before.get)
    passRecs += PassRec(pass, wall, traceThis, counts,
      stats.map(_.jobCoveredMs(startMs, endMs)).getOrElse(0L),
      stats.map(_.cachedBytes()).getOrElse(0L))
  }

  def run(): Unit = {
    Files.createDirectories(out)
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to setups) {
      if (i > 1) tearDown()
      val (s, c) = setUp(first = i == 1)
      setupS += s
      sessionS += c
    }
    if (traced) trace = Some(new Trace(spark, s"$workload-$seed"))

    // Cold pass, then warm passes for `seconds`. Traced runs alternate
    // untraced and traced warm passes, starting and ending untraced
    // (at least U T U), so the overhead estimate is not skewed by the
    // first warm pass running slower than the later ones.
    def passes(): Int = {
      runPass(0, traceThis = traced)
      val minWarm = if (traced) 3 else 1
      val warmStart = System.nanoTime()
      var pass = 0
      while (pass < minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds ||
          (traced && pass % 2 == 0)) {
        pass += 1
        runPass(pass, traceThis = traced && pass % 2 == 0)
        w.afterPass(pass, keep = Set(0, pass))
      }
      pass
    }
    val pass = trace match {
      case Some(t) => t.span(s"workload:$workload")(passes())
      case None => passes()
    }
    tracing = false
    trace.foreach(_.stats.detach())

    // output checks, once, outside every timed span
    val checked = Seq(0, pass)
    for ((k, msg) <- w.check(checked)) errors.getOrElseUpdate(k, msg)
    val again = Inputs(workload, seed)
    if (again.digest(Main.Board, pass) != inputs.digest(Main.Board, pass))
      errors((-1, "inputs")) = "same seed produced different inputs"
    w match {
      case b: BoardMix => b.writeOutputs(out.resolve("outputs.jsonl"), checked)
      case _ =>
    }

    val kernels = if (traced) Kernels.run(seed) else Nil
    val digest = inputs.digest(Main.Board, pass)
    w.release()
    w = null
    inputs = null
    val heapMb = retainedHeapMb()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val warmUntraced = passRecs.filter(p => p.pass > 0 && !p.traced).map(_.wallNs / 1e9).toSeq
    metrics("setup_s") = (median(setupS.toSeq), "s")
    metrics("cold_s") = (passRecs.head.wallNs / 1e9, "s")
    metrics("warm_s") = (median(warmUntraced), "s")
    metrics("heap_retained_mb") = (heapMb, "MB")
    if (traced) layerMetrics(metrics, sessionS.toSeq, kernels)

    val failures = errors.toSeq.map { case ((p, n), m) =>
      s"""{"pass":$p,"op":${Json.str(n)},"error":${Json.str(m)}}""" }
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    val json =
      s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":${if (traced) 1 else 0},""" +
        s""""attempted":$attempted,"failed":${errors.size},"inputs_sha256":"$digest",""" +
        s""""board":[${(if (workload == "board-mix") Main.Board else Nil).map(Json.str).mkString(",")}],""" +
        s""""setups_s":[${setupS.map(Json.num).mkString(",")}],""" +
        s""""cold_s":${Json.num(passRecs.head.wallNs / 1e9)},""" +
        s""""warm_s":[${passRecs.filter(_.pass > 0).map(p => Json.num(p.wallNs / 1e9)).mkString(",")}],""" +
        s""""warm_traced":[${passRecs.filter(_.pass > 0).map(_.traced).mkString(",")}],""" +
        s""""ops":[${opRecs.map(r => s"""{"pass":${r.pass},"op":${Json.str(s"${r.op.kind}:${r.op.name}")},""" +
          s""""build_s":${Json.num(r.buildNs / 1e9)},"execute_s":${Json.num(r.execNs / 1e9)}}""").mkString(",")}],""" +
        s""""failures":[${failures.mkString(",")}],"metrics":{${ms.mkString(",")}}}"""
    Files.writeString(out.resolve("result.json"), json + "\n", UTF_8)
    trace.foreach { t =>
      Files.write(out.resolve("spans.jsonl"),
        (t.spansJson.mkString("\n") + "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics of the traced passes: warm values are medians
    * over traced warm passes, `cold.*` the traced cold pass. */
  private def layerMetrics(m: mutable.LinkedHashMap[String, (Double, String)],
      sessionS: Seq[Double], kernels: Seq[Kernels.Result]): Unit = {
    val mb = 1048576.0
    val t = trace.get
    def buildJobs(r: OpRec) = t.jobsOf(r.buildSpan)
    def jobs(r: OpRec) = t.jobsOf(r.buildSpan) + t.jobsOf(r.execSpan)
    def perPass(p: PassRec): Seq[(String, Double, String)] = {
      val c = p.counts.get
      val recs = opRecs.filter(_.pass == p.pass)
      def perCall(kind: String): Double = {
        val r = recs.filter(_.op.kind == kind)
        if (r.isEmpty) 0.0 else r.map(x => x.buildNs + x.execNs).sum / 1e9 / r.size
      }
      val dims = recs.filter(r => r.op.kind == "reporting_dim" || r.op.kind == "closure_dim")
      val queries = recs.filter(_.op.kind == "query")
      val wallMs = p.wallNs / 1e6
      Seq(
        ("queries.build_s", queries.map(_.buildNs).sum / 1e9, "s"),
        ("queries.build_jobs", queries.map(buildJobs).sum.toDouble, "count"),
        ("plans.analysis_s", c.analysisMs / 1e3, "s"),
        ("plans.optimization_s", c.optimizationMs / 1e3, "s"),
        ("plans.planning_s", c.planningMs / 1e3, "s"),
        ("operators.hierarchy.reporting_dim_s", perCall("reporting_dim"), "s"),
        ("operators.hierarchy.closure_dim_s", perCall("closure_dim"), "s"),
        ("operators.hierarchy.jobs_per_level",
          if (dims.isEmpty) 0.0
          else dims.map(jobs).sum.toDouble / dims.map(_.op.depth).sum,
          "count"),
        ("operators.hierarchy.rollup_report_s", perCall("rollup_report"), "s"),
        ("operators.hierarchy.closure_report_s", perCall("closure_report"), "s"),
        ("sources.cached_mb", p.cachedBytes / mb, "MB"),
        ("spark.jobs", c.jobs.toDouble, "count"),
        ("spark.stages", c.stages.toDouble, "count"),
        ("spark.tasks", c.tasks.toDouble, "count"),
        ("spark.driver_gap_s", (wallMs - p.jobCoveredMs) / 1e3, "s"),
        ("spark.task_cpu_s", c.taskCpuNs / 1e9, "s"),
        ("spark.idle_core_s", (cpus.toInt * p.jobCoveredMs - c.taskRunMs) / 1e3, "s"),
        ("spark.gc_s", c.gcMs / 1e3, "s"),
        ("spark.shuffle_write_mb", c.shuffleWrite / mb, "MB"),
        ("spark.shuffle_read_mb", c.shuffleRead / mb, "MB"),
        ("spark.spill_mb", c.spill / mb, "MB"),
        ("spark.codegen_compiles", c.compiles.toDouble, "count"),
        ("spark.codegen_compile_s", c.compileMsEst / 1e3, "s"))
    }
    m("sessions.create_s") = (median(sessionS), "s")
    val warm = passRecs.filter(p => p.pass > 0 && p.traced).map(perPass).toSeq
    for (i <- warm.head.indices) {
      val (name, _, unit) = warm.head(i)
      m(name) = (median(warm.map(_(i)._2)), unit)
    }
    for ((name, v, unit) <- perPass(passRecs.head)) m(s"cold.$name") = (v, unit)
    for (k <- kernels) {
      m(s"functions.${k.name}_ns") = (k.nsPerCall, "ns")
      m(s"functions.${k.name}_bytes") = (k.bytesPerCall, "bytes")
      m(s"functions.${k.name}_mb_s") = (k.bytesPerCall / k.nsPerCall * 1e9 / mb, "MB/s")
    }
    val tracedWarm = median(passRecs.filter(p => p.pass > 0 && p.traced).map(_.wallNs / 1e9).toSeq)
    val plainWarm = median(passRecs.filter(p => p.pass > 0 && !p.traced).map(_.wallNs / 1e9).toSeq)
    m("trace.warm_traced_s") = (tracedWarm, "s")
    m("trace.warm_untraced_s") = (plainWarm, "s")
    m("trace.overhead_s") = (tracedWarm - plainWarm, "s")
  }
}

/** hier: per tree, the paper's two dimension builds (each one
  * materialized operation) and its two report strategies over the
  * facts (each collected to the client). Facts, with one leaf key per
  * tree, are built in set-up. */
final class Hier(spark: SparkSession, inputs: Inputs, data: String) extends Workload {
  private val aggs: Seq[(String, Column)] = Seq(
    "sum_total_price" -> sum(col("o_totalprice").cast(DecimalType(18, 2))),
    "distinct_customer_count" -> countDistinct(col("o_custkey")),
    "count_of_fact_records" -> count(lit(1)))
  private var nodes = Map.empty[String, DataFrame]
  private var facts: DataFrame = _
  private val dims = mutable.Map.empty[(Int, String), DataFrame]
  private val closures = mutable.Map.empty[(Int, String), DataFrame]
  private val reports = mutable.Map.empty[(Int, String, String), Array[Row]]

  def prepare(): Unit = {
    facts = inputs.facts(spark.read.parquet(s"$data/orders.parquet")).localCheckpoint(true)
    nodes = inputs.trees.map(t => t.name -> t.nodes(spark)).toMap
  }

  def ops(pass: Int): Seq[Op] = inputs.trees.flatMap { t =>
    def dim = dims((pass, t.name))
    def closure = closures((pass, t.name))
    val key = col(Inputs.factKey(t))
    Seq(
      Op("reporting_dim", t.name,
        () => Hierarchy.buildReportingDim(nodes(t.name), t.levels),
        df => dims((pass, t.name)) = df.localCheckpoint(true), t.levels),
      Op("closure_dim", t.name,
        () => Hierarchy.buildClosureDim(dim),
        df => closures((pass, t.name)) = df.localCheckpoint(true), t.levels),
      Op("rollup_report", t.name,
        () => Hierarchy.rollupReport(facts, dim, key, aggs, t.levels),
        df => reports((pass, t.name, "rollup")) = df.collect()),
      Op("closure_report", t.name,
        () => Hierarchy.closureReport(facts, closure, key, aggs),
        df => reports((pass, t.name, "closure")) = df.collect()))
  }

  override def afterPass(pass: Int, keep: Set[Int]): Unit = {
    for (m <- Seq(dims, closures); k <- m.keys.toSeq if !keep(k._1)) {
      Loops.releaseCheckpoint(m(k))
      m.remove(k)
    }
    reports.keys.filterNot(k => keep(k._1)).toSeq.foreach(reports.remove)
  }

  /** Dim checks: row count against the tree's closed form,
    * `node_sort_order` against the expected depth-first preorder,
    * `level_number` against node depth. */
  private def checkDim(t: Tree, dim: DataFrame): Option[String] = {
    val rows = dim.select("node_id", "node_sort_order", "level_number").collect()
    if (rows.length != t.dimRows) return Some(s"${t.name}: dim has ${rows.length} rows, tree has ${t.dimRows} nodes")
    val pre = t.preorder
    rows.collectFirst {
      case r if r.getLong(1) != pre(r.getLong(0).toInt) =>
        s"${t.name}: node ${r.getLong(0)} has node_sort_order ${r.getLong(1)}, depth-first order gives ${pre(r.getLong(0).toInt)}"
      case r if r.getInt(2) != t.depth(r.getLong(0).toInt) =>
        s"${t.name}: node ${r.getLong(0)} has level_number ${r.getInt(2)}, depth ${t.depth(r.getLong(0).toInt)}"
    }
  }

  private def checkClosure(t: Tree, closure: DataFrame): Option[String] = {
    val n = closure.count()
    if (n != t.closureRows) Some(s"${t.name}: closure has $n rows, sum of node depths is ${t.closureRows}")
    else None
  }

  /** The four output checks: dims against the tree (closed-form row
    * counts, depth-first `node_sort_order`), the two report strategies
    * agreeing row for row, and the root row against a direct aggregate
    * of the facts. */
  def check(passes: Seq[Int]): Seq[((Int, String), String)] = {
    val problems = mutable.ArrayBuffer.empty[((Int, String), String)]
    val direct = facts.agg(aggs.head._2, aggs.tail.map(_._2): _*).head().toSeq
    for (t <- inputs.trees) {
      t.selfCheck().foreach(p => problems += (((-1, s"inputs:${t.name}"), p)))
      for (p <- passes) {
        dims.get((p, t.name)).flatMap(checkDim(t, _))
          .foreach(x => problems += (((p, s"reporting_dim:${t.name}"), x)))
        closures.get((p, t.name)).flatMap(checkClosure(t, _))
          .foreach(x => problems += (((p, s"closure_dim:${t.name}"), x)))
        val r = reports.get((p, t.name, "rollup"))
        val c = reports.get((p, t.name, "closure"))
        for ((rows, kind) <- Seq(r -> "rollup_report", c -> "closure_report"); a <- rows) {
          val root = a.headOption.map(_.toSeq.slice(2, 5))
          if (!root.contains(direct))
            problems += (((p, s"$kind:${t.name}"), s"${t.name}: root row $root != direct aggregate $direct"))
        }
        for (a <- r; b <- c if !a.map(_.toSeq).sameElements(b.map(_.toSeq)))
          problems += (((p, s"closure_report:${t.name}"),
            s"${t.name}: rollup (${a.length} rows) and closure (${b.length} rows) reports differ"))
      }
    }
    problems.toSeq
  }

  override def release(): Unit = {
    afterPass(-1, Set.empty)
    if (facts != null) Loops.releaseCheckpoint(facts)
    facts = null
  }
}

/** board-mix: declared queries, collected to the client; the seed
  * shuffles the order of every warm pass. Outputs are compared with
  * the committed oracle answers after the run. */
final class BoardMix(spark: SparkSession, inputs: Inputs, data: String) extends Workload {
  private val outputs = mutable.Map.empty[(Int, String), (Array[String], Array[Row])]

  def prepare(): Unit = ()

  def ops(pass: Int): Seq[Op] = {
    val order = if (pass == 0) Main.Board.sorted else inputs.boardOrder(Main.Board, pass)
    order.map(n => Op("query", n, () => SparkEntry.queries(n)(spark, data),
      df => outputs((pass, n)) = (df.schema.fieldNames, df.collect())))
  }

  override def afterPass(pass: Int, keep: Set[Int]): Unit =
    outputs.keys.filterNot(k => keep(k._1)).toSeq.foreach(outputs.remove)

  def check(passes: Seq[Int]): Seq[((Int, String), String)] = Nil

  def writeOutputs(path: Path, passes: Seq[Int]): Unit = {
    val lines = for (p <- passes.distinct; n <- Main.Board; (cols, rows) <- outputs.get((p, n))) yield
      s"""{"pass":$p,"query":${Json.str(n)},"columns":[${cols.map(Json.str).mkString(",")}],""" +
        s""""rows":[${rows.map(r => r.toSeq.map(Json.cell).mkString("[", ",", "]")).mkString(",")}]}"""
    Files.writeString(path, lines.mkString("\n") + "\n", UTF_8)
  }

  override def release(): Unit = outputs.clear()
}
