package perfbench

import graft.core.NodeKind
import graft.project.{Project, ProjectLoader}
import graft.run.Runner
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The engine's CLI commands, driven through the same public API calls as
  * `graft.cli.Main`, each call wrapped in a layer span. */
final class Cli(spark: SparkSession, spans: Spans, schema: String,
    warehouse: Path, val projectDir: Path, threads: Int) {
  private val target = projectDir.resolve("target")
  Files.createDirectories(target)

  def load(): Project = spans("project.load")(ProjectLoader.load(projectDir.toString))

  def init(p: Project): Runner = spans("run.init")(new Runner(spark, p, schema,
    warehouseLocation = Some(warehouse.toString), threads = threads))

  private def manifest(r: Runner): Unit =
    spans("run.manifest")(r.writeManifest(target.resolve("manifest.json").toString))

  /** `parse`: load → Runner init (resolve + DAG) → manifest. */
  def parse(): Runner = {
    val r = init(load())
    manifest(r)
    r
  }

  /** `compile`: load → init → select → compileSql of every selected model
    * → manifest. Returns the compiled SQL by model name. */
  def compile(selector: Option[String]): Map[String, String] = {
    val r = init(load())
    val ids = spans("resolve.select")(r.selectIds(None, selector))
    val sql = r.resolved.nodes.values.toSeq
      .filter(n => ids(n.uniqueId) && n.kind == NodeKind.Model)
      .map(n => n.name -> spans("jinja.compile")(r.compileSql(n))).toMap
    manifest(r)
    sql
  }

  /** Wall seconds and epoch-ms window of the last `Runner.run`. */
  var lastRun: (Double, (Long, Long)) = (0.0, (0L, 0L))

  /** `build`: load → init → run → run_results → manifest. */
  def build(select: Option[String], fullRefresh: Boolean = false)
      : (Runner, Seq[Runner#NodeResult]) = {
    val r = init(load())
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = spans("run.run")(r.run(select, fullRefresh))
    lastRun = (Harness.secs(t0), (ms0, System.currentTimeMillis()))
    spans("run.run_results")(
      r.writeRunResults(res, target.resolve("run_results.json").toString))
    manifest(r)
    (r, res)
  }
}

/** Outcomes and timings of one run. */
final class Book {
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0

  def time(cmd: String, s: Double): Unit =
    times.getOrElseUpdate(cmd, mutable.ArrayBuffer.empty) += s
  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Count one checked operation; a false `ok` is a failure. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) System.err.println(s"[check] $what: $detail")
    }
  }
}

object Harness {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, launchMs: Long)

  def parseArgs(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      m.get("--launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A command's end-to-end time is this percentile of its timed samples.
    * On a shared virtual machine single-thread speed swings with the
    * neighbours' load (by up to 1.7x, in bursts of seconds, on a 4-vCPU
    * VM); a low percentile of many samples spread over the window reads
    * the command's own cost, where the median also reads how much of the
    * window fell in a slow burst. */
  val TimePercentile = 10

  def fast(xs: Seq[Double]): Double = Stats.percentile(xs, TimePercentile)

  def main(argv: Array[String]): Unit = {
    val o = parseArgs(argv)
    val spark = session(o.work)
    val book = new Book
    val tracer = new Tracer(spark, o.trace, book)
    val wl: Workload = o.workload match {
      case "parse_compile" => new ParseCompile(spark, o, tracer, book)
      case "build_dag" => new BuildDag(spark, o, tracer, book)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val sessionS = (System.currentTimeMillis() - o.launchMs) / 1e3
      // set-up: session start, input generation (several rounds, the
      // median counts), then the cold-state first command(s) once
      val rounds = (0 until Workload.SetupRounds).map { r =>
        val t0 = System.nanoTime()
        wl.setupRound(r)
        secs(t0)
      }
      val tCold = System.nanoTime()
      wl.coldStart()
      val coldS = secs(tCold)
      val firstCommandS = wl.firstCommandS
      wl.warmUp()
      val warmCommands = wl.commandsRun
      val jit = ManagementFactory.getCompilationMXBean
      val jitWarmS = jit.getTotalCompilationTime / 1e3
      val tWindow = System.nanoTime()
      val deadline = tWindow + (o.seconds * 1e9).toLong
      val cycles = wl.window(deadline)
      val windowS = secs(tWindow)
      val jitWindowS = jit.getTotalCompilationTime / 1e3 - jitWarmS
      wl.finalCheck()
      val liveMb = liveHeapMb()
      val drift = driftReport(book, warmCommands)
      drift.foreach(l => println(s"drift $l"))
      book.times.foreach { case (c, xs) =>
        println(f"timing $c n=${xs.length} p$TimePercentile=${fast(xs.toSeq)}%.4f " +
          f"median=${Stats.median(xs.toSeq)}%.4f samples=${xs.map(x => f"$x%.4f").mkString(",")}")
      }
      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) Seq(
          ("setup_s", sessionS + Stats.median(rounds) + coldS, "s"),
          ("parse_s", fast(book.times("parse").toSeq), "s"),
          ("compile_s", fast(book.times("compile").toSeq), "s"),
          ("build_s", fast(book.times("build").toSeq), "s"),
          ("driver_live_mb", liveMb, "MB"))
        else tracer.perLayer(firstCommandS, book)
      println(f"setup session_s=$sessionS%.3f rounds=${rounds.map(r => f"$r%.3f").mkString(",")} " +
        f"cold_s=$coldS%.3f warm_commands=$warmCommands timed_cycles=$cycles window_s=$windowS%.3f " +
        f"jit_before_window_s=$jitWarmS%.1f jit_in_window_s=$jitWindowS%.1f " +
        f"elapsed_s=${(System.currentTimeMillis() - o.launchMs) / 1e3}%.3f")
      val json = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
      println(s"""PERFBENCH_RESULT {"correct": ${book.failed == 0}, """ +
        s""""attempted": ${book.attempted}, "failed": ${book.failed}, "metrics": $json}""")
    } finally spark.stop()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Driver heap still live after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** First-half median against second-half median per command; a window
    * whose medians move more than 10% is flagged as still trending. */
  def driftReport(book: Book, warmCommands: Int): Seq[String] =
    book.times.toSeq.flatMap { case (cmd, xs) =>
      Stats.drift(xs.toSeq).map { case (a, b, ch) =>
        f"$cmd n=${xs.length} first_half=$a%.4f second_half=$b%.4f " +
          f"change=${ch * 100}%+.1f%% warmup_commands=$warmCommands " +
          (if (math.abs(ch) > 0.10) "TRENDING" else "steady")
      }
    }
}

/** Per-layer collection for traced runs. Traced and untraced cycles
  * alternate, so the same run also states the tracing overhead. */
final class Tracer(spark: SparkSession, val on: Boolean, book: Book) {
  private val recorder = new Recorder
  private var tracing = false
  /** spans are live only during traced cycles */
  val spans = new Spans(false)
  private val untracedTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val tracedTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val remainder = mutable.ArrayBuffer.empty[Double]

  /** Waits until Spark's listener bus has delivered every event. */
  def settle(): Unit = recorder.settle(spark)

  def cycleStart(i: Int): Unit = if (on) {
    val want = i % 2 == 1
    if (want && !tracing) recorder.install(spark)
    if (!want && tracing) {
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
    }
    tracing = want
    spans.on = want
  }

  /** Runs one command; in a traced cycle, records its layer numbers. */
  def command[T](cmd: String, timed: Boolean)(body: => T)(
      after: (T, Double) => Unit = (_: T, _: Double) => ()): T = {
    if (tracing) { recorder.settle(spark); recorder.reset(); spans.drain() }
    // every timed command starts on a collected heap, as a fresh CLI
    // process would, so no command inherits another's garbage
    if (timed) System.gc()
    val t0 = System.nanoTime()
    val out = spans(s"cmd.$cmd")(body)
    val wall = Harness.secs(t0)
    System.err.println(f"[cmd] $cmd%-8s ${if (timed) "timed" else "warm"} $wall%.3f s")
    if (timed) book.time(cmd, wall)
    if (on && timed)
      (if (tracing) tracedTimes else untracedTimes)
        .getOrElseUpdate(cmd, mutable.ArrayBuffer.empty) += wall
    if (tracing && timed) {
      recorder.settle(spark)
      val all = spans.drain()
      val top = all.filter(_.depth == 1)
      all.filter(_.depth == 0).foreach { c =>
        remainder += Stats.selfTime((c.start, c.end), top.map(s => (s.start, s.end))) / 1e9
      }
      all.groupBy(_.name).foreach { case (n, ss) =>
        book.layer(n + "_s", ss.map(s => (s.end - s.start) / 1e9).sum)
      }
      after(out, wall)
    }
    out
  }

  /** Resolve and DAG probes: the Runner constructor's two inner layers,
    * timed on their own after a traced parse. */
  def probe(project: Project, schema: String): Unit = if (tracing) {
    val t0 = System.nanoTime()
    val resolved = graft.resolve.Resolver.resolve(project, schema)
    book.layer("resolve.resolve_s", Harness.secs(t0))
    val t1 = System.nanoTime()
    graft.resolve.Dag.fromNodes(resolved.nodes).topologicalLevels()
    book.layer("resolve.dag_s", Harness.secs(t1))
  }

  /** The per-layer metrics, each the median over the traced commands that
    * produced it; layers a workload never enters report 0. */
  def perLayer(firstCommandS: Double, book: Book): Seq[(String, Double, String)] = {
    def med(n: String) = book.layers.get(n).filter(_.nonEmpty)
      .map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val overhead = {
      val r = untracedTimes.keys.filter(tracedTimes.contains).toSeq.map { c =>
        Stats.median(tracedTimes(c).toSeq) / Stats.median(untracedTimes(c).toSeq)
      }
      if (r.isEmpty) 0.0 else (Stats.median(r) - 1) * 100
    }
    val secs = Seq("cmd.parse_s", "cmd.compile_s", "cmd.build_s", "project.load_s", "resolve.resolve_s", "resolve.dag_s",
      "resolve.select_s", "run.init_s", "run.manifest_s", "run.run_results_s",
      "run.run_s", "run.node_s_sum", "run.critical_path_s", "run.wave_wait_s",
      "jinja.compile_s", "mat.view_s", "mat.table_s", "mat.incremental_s",
      "mat.snapshot_s", "mat.seed_s", "mat.test_s", "mat.pipeline_s",
      "spark.driver_gap_s", "spark.task_s", "catalyst.analysis_s",
      "catalyst.optimization_s", "catalyst.planning_s",
      "ops.gate_s", "ops.minhash_s", "ops.fuzzy_s", "ops.pack_s")
    val counts = Seq("run.nodes", "run.nodes_failed", "jinja.models",
      "adapter.ddl_ops", "spark.jobs", "spark.stages", "spark.tasks",
      "catalyst.queries", "ops.gate_jobs", "ops.minhash_jobs",
      "ops.fuzzy_jobs", "ops.pack_jobs")
    secs.map(n => (n, med(n), "s")) ++
      counts.map(n => (n, med(n), "count")) ++
      Seq(
        ("run.concurrency", med("run.concurrency"), "x"),
        ("jinja.sql_kb", med("jinja.sql_kb"), "KB"),
        ("spark.shuffle_write_mb", med("spark.shuffle_write_mb"), "MB"),
        ("spark.spill_mb", med("spark.spill_mb"), "MB"),
        ("spark.input_mb", med("spark.input_mb"), "MB"),
        ("spark.output_mb", med("spark.output_mb"), "MB"),
        ("trace.remainder_s", if (remainder.isEmpty) 0.0 else Stats.median(remainder.toSeq), "s"),
        ("trace.overhead_pct", overhead, "%"),
        ("jvm.gc_s", gcs.map(_.getCollectionTime).sum / 1e3, "s"),
        ("jvm.gc_count", gcs.map(_.getCollectionCount).sum.toDouble, "count"),
        ("jvm.jit_s", ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3, "s"),
        ("jvm.first_command_s", firstCommandS, "s"))
  }

  /** Scheduler, materialization, Spark and Catalyst numbers of one traced
    * build, from its node results, the DAG and the listener. */
  def recordBuild(r: Runner, results: Seq[Runner#NodeResult], runS: Double,
      runWindowMs: (Long, Long), opsModels: Map[String, String]): Unit = {
    val byId = results.map(x => x.uniqueId -> x).toMap
    val executed = results.filterNot(_.reused)
    val times = executed.map(x => x.uniqueId -> x.executionTimeMs / 1e3).toMap
    val nodeSum = times.values.sum
    val cp = Stats.criticalPath(times, r.graph.deps)
    book.layer("run.node_s_sum", nodeSum)
    book.layer("run.critical_path_s", cp)
    book.layer("run.wave_wait_s", runS - cp)
    book.layer("run.concurrency", if (runS > 0) nodeSum / runS else 0)
    book.layer("run.nodes", results.size)
    book.layer("run.nodes_failed",
      results.count(x => x.status == "error" || x.status == "fail"))
    val matOf = results.map { x =>
      val n = r.resolved.nodes(x.uniqueId)
      val m = n.kind match {
        case NodeKind.Seed => "seed"
        case NodeKind.Snapshot => "snapshot"
        case NodeKind.Test | NodeKind.UnitTest => "test"
        case _ => n.config.materialized
      }
      m -> x.executionTimeMs / 1e3
    }
    Seq("view", "table", "incremental", "snapshot", "seed", "test", "pipeline")
      .foreach(m => book.layer(s"mat.${m}_s", matOf.filter(_._1 == m).map(_._2).sum))
    opsModels.foreach { case (metric, uid) =>
      book.layer(s"ops.${metric}_s", byId.get(uid).map(_.executionTimeMs / 1e3).getOrElse(0.0))
      book.layer(s"ops.${metric}_jobs", recorder.jobsByPool.getOrElse(uid, 0).toDouble)
    }
    recordSpark(runS, runWindowMs)
  }

  private def recordSpark(runS: Double, runWindowMs: (Long, Long)): Unit = {
    val rc = recorder
    val (ws, we) = runWindowMs
    val inRun = rc.jobIntervalsMs.toSeq.map { case (s, e) =>
      (math.max(s, ws), math.min(e, we)) }
    book.layer("spark.driver_gap_s", runS - Stats.covered(inRun) / 1e3)
    book.layer("spark.jobs", rc.jobs.toDouble)
    book.layer("spark.stages", rc.stages.toDouble)
    book.layer("spark.tasks", rc.tasks.toDouble)
    book.layer("spark.task_s", rc.taskNs / 1e9)
    book.layer("spark.shuffle_write_mb", rc.shuffleWriteBytes / 1048576.0)
    book.layer("spark.spill_mb", rc.spillBytes / 1048576.0)
    book.layer("spark.input_mb", rc.inputBytes / 1048576.0)
    book.layer("spark.output_mb", rc.outputBytes / 1048576.0)
    book.layer("adapter.ddl_ops", rc.ddlOps.toDouble)
    book.layer("catalyst.queries", rc.queries.toDouble)
    book.layer("catalyst.analysis_s", rc.analysisMs / 1e3)
    book.layer("catalyst.optimization_s", rc.optimizationMs / 1e3)
    book.layer("catalyst.planning_s", rc.planningMs / 1e3)
  }
}
