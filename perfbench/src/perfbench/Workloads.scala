package perfbench

import graft.core.NodeKind
import graft.run.Runner
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Workload {
  /** input-generation rounds per run; `setup_s` takes their median */
  val SetupRounds = 3

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally s.close()
  }
}

/** One workload: how a set-up round generates its inputs, which cold-state
  * first command follows, how it warms up, and which commands its timed
  * window runs. Every timed command of a name does the same work. */
abstract class Workload(spark: SparkSession, o: Harness.Opts, tracer: Tracer,
    book: Book) {
  /** Generates the inputs from the seed into a fresh directory. */
  def setupRound(round: Int): Unit
  /** The first command(s) on the last round's inputs, on a cold JVM. */
  def coldStart(): Unit
  /** untimed commands after the cold start, until the JIT has compiled
    * the hot code of every timed command */
  def warmUp(): Unit
  /** Runs the timed commands until about `deadline` (a `System.nanoTime`
    * value); returns the number of cycles, each starting with
    * `tracer.cycleStart`, which alternates untraced and traced cycles. */
  def window(deadline: Long): Int
  def finalCheck(): Unit

  /** wall time of the first command the JVM ever ran, cold */
  var firstCommandS = 0.0
  var commandsRun = 0

  protected def command[T](cmd: String, timed: Boolean)(body: => T)(
      after: (T, Double) => Unit = (_: T, _: Double) => ()): T = {
    commandsRun += 1
    val t0 = System.nanoTime()
    val out = tracer.command(cmd, timed)(body)(after)
    if (commandsRun == 1) firstCommandS = Harness.secs(t0)
    out
  }

  protected def newCli(schema: String, dir: Path): Cli =
    new Cli(spark, tracer.spans, schema, o.work.resolve("warehouse"), dir,
      threads = Harness.Cores)

  protected def parse(cli: Cli, schema: String, timed: Boolean): Runner =
    command("parse", timed)(cli.parse()) { (r, _) =>
      tracer.probe(r.resolved.project, schema)
    }

  protected def compile(cli: Cli, selector: Option[String], timed: Boolean)
      : Map[String, String] =
    command("compile", timed)(cli.compile(selector)) { (sql, _) =>
      book.layer("jinja.models", sql.size.toDouble)
      book.layer("jinja.sql_kb", sql.values.map(_.length.toLong).sum / 1024.0)
    }

  /** A build's node statuses: every node succeeds or passes, except the
    * planted failures, which must fail with the given message. */
  protected def checkStatuses(what: String, res: Seq[Runner#NodeResult],
      nodes: Int, planted: Map[String, String] = Map.empty): Unit = {
    val bad = res.filter { r =>
      planted.get(r.uniqueId) match {
        case Some(msg) => !(r.status == "fail" && r.message == msg)
        case None => r.status != "success" && r.status != "pass"
      }
    }
    book.check(s"$what statuses", bad.isEmpty && res.size == nodes,
      s"${res.size}/$nodes nodes; unexpected: " +
        bad.take(3).map(r => s"${r.uniqueId}=${r.status} ${r.message.take(200)}")
          .mkString(" | "))
  }

  protected def scalar(sql: String): Long = {
    val v = spark.sql(sql).head().get(0)
    if (v == null) -1L else v.toString.toDouble.toLong
  }

  protected def expectEq(what: String, sql: String, want: Long): Unit =
    scala.util.Try(scalar(sql)) match {
      case scala.util.Success(got) => book.check(what, got == want, s"got $got, want $want")
      case scala.util.Failure(e) => book.check(what, ok = false, e.getMessage.take(300))
    }
}

/** Saved copies of every table of a schema, restored before each timed
  * build so every build starts from the same state. */
final class Baseline(spark: SparkSession, schema: String, dir: Path) {
  private var saved = Seq.empty[(String, Path, Path)]

  private def tables: Seq[String] =
    spark.catalog.listTables(schema).collect().toSeq
      .filter(_.tableType != "VIEW").map(_.name)

  private def location(t: String): Path = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED `$schema`.`$t`").collect()
      .find(_.getString(0) == "Location").map(_.getString(1))
      .getOrElse(throw new IllegalStateException(s"$schema.$t has no location"))
    java.nio.file.Paths.get(new java.net.URI(loc))
  }

  def capture(): Unit = {
    Workload.deleteTree(dir)
    saved = tables.map { t =>
      val copy = dir.resolve(t)
      Workload.copyTree(location(t), copy)
      (t, location(t), copy)
    }
  }

  def restore(): Unit = {
    val keep = saved.map(_._1).toSet
    tables.filterNot(keep).foreach(t => spark.sql(s"DROP TABLE `$schema`.`$t`"))
    saved.foreach { case (t, loc, copy) =>
      Workload.deleteTree(loc)
      Workload.copyTree(copy, loc)
    }
    spark.catalog.clearCache()
    saved.foreach { case (t, _, _) => spark.catalog.refreshTable(s"`$schema`.`$t`") }
  }
}

/** A large generated project with almost no data: project load, Jinja,
  * resolve and the manifest do nearly all the work. */
final class ParseCompile(spark: SparkSession, o: Harness.Opts, tracer: Tracer,
    book: Book) extends Workload(spark, o, tracer, book) {
  val Models = 400
  private val schema = "pc"
  private var proj: Gen.ParseCompileProject = _
  private var cli: Cli = _
  /** untimed cycles after the cold start, for the tiered JIT: parse
    * times fall for about ten parses; the low percentile the window
    * reports tolerates the tail of that */
  val WarmCycles = 6
  /** timed cycles even when they outlast `--seconds` */
  val MinCycles = 4

  def setupRound(round: Int): Unit = {
    if (proj != null) Workload.deleteTree(proj.dir)
    proj = Gen.parseCompile(o.work.resolve(s"pc_$round"), o.seed, schema, Models)
    cli = newCli(schema, proj.dir)
  }

  def coldStart(): Unit = {
    parseAndCompile(timed = false)
    build(timed = false)
  }

  def warmUp(): Unit = (0 until WarmCycles).foreach(_ => cycle(timed = false))

  def window(deadline: Long): Int = {
    var n = 0
    while (n < MinCycles || System.nanoTime() < deadline) {
      tracer.cycleStart(n)
      cycle(timed = true)
      n += 1
    }
    n
  }

  /** One parse, compile and build: the three commands get about as many
    * samples each. */
  private def cycle(timed: Boolean): Unit = {
    parseAndCompile(timed)
    build(timed)
  }

  private def parseAndCompile(timed: Boolean): Unit = {
    val r = parse(cli, schema, timed)
    val nodes = r.resolved.nodes.values
    val models = nodes.count(_.kind == NodeKind.Model)
    val tests = nodes.count(_.kind == NodeKind.Test)
    val edges = nodes.toSeq.filter(n => n.kind == NodeKind.Model ||
      n.kind == NodeKind.Test).map(_.dependsOn.size).sum
    book.check("parse node and edge counts",
      models == proj.models && tests == proj.tests && edges == proj.edges,
      s"models $models/${proj.models} tests $tests/${proj.tests} edges $edges/${proj.edges}")
    val sql = compile(cli, Some("pb_models"), timed)
    val wrong = proj.expectedSql.filter { case (n, want) =>
      !sql.get(n).map(Gen.squash).contains(want) }
    book.check("compiled SQL", wrong.isEmpty && sql.size == proj.expectedSql.size,
      s"${wrong.size} of ${proj.expectedSql.size} differ, e.g. " +
        wrong.headOption.map { case (n, w) => s"$n: got ${sql.get(n).map(Gen.squash)} want $w" }
          .getOrElse(s"${sql.size} compiled"))
  }

  private def build(timed: Boolean): Unit = {
    val (_, res) = command("build", timed)(cli.build(Some("+tag:smoke"))) {
      case ((r, res), _) => tracer.recordBuild(r, res, cli.lastRun._1,
        cli.lastRun._2, Map.empty)
    }
    checkStatuses("smoke build", res, nodes = 5)
  }

  def finalCheck(): Unit =
    expectEq("smoke_b rows", s"select sum(n) from $schema.smoke_b", 40)
}

/** A DAG of views, tables, ephemerals, merge incrementals, a snapshot,
  * seeds and tests over small seeded data, plus incremental curation
  * pipelines over a corpus with planted near-duplicates: per-node overhead
  * dominates the DAG, operator compute and persisted-index writes the
  * pipelines. Set-up ends with a baseline full build; each cycle then runs
  * parse, compile, restores the baseline and builds once more, ingesting
  * the landed batch. */
final class BuildDag(spark: SparkSession, o: Harness.Opts, tracer: Tracer,
    book: Book) extends Workload(spark, o, tracer, book) {
  import spark.implicits._
  private var data: Gen.DagData = _
  private var want: Gen.DagExpect = _
  private var corpus: Gen.Corpus = _
  private var schema: String = _
  private var dir: Path = _
  private var cli: Cli = _
  private var baseline: Baseline = _
  private var nodes = 0
  /** timed parse and compile pairs before and after the build, at least */
  val Repeats = 6
  /** untimed pairs after the build, before the timed ones: the first
    * parses after a build run up to twice as long while the build's
    * background clean-up finishes */
  val SettlePairs = 2
  /** untimed pairs after the baseline build, for the JIT */
  val WarmPairs = 6

  /** one pipeline model per step family */
  private val opsModels = Map(
    "gate" -> "model.bd.cur_gate", "minhash" -> "model.bd.cur_minhash",
    "fuzzy" -> "model.bd.cur_fuzzy", "pack" -> "model.bd.cur_packed")

  private def planted = Map(
    "test.bd.assert_no_negative_lines" -> s"failures=${data.negativeLines}")

  private def docs(ds: Seq[Gen.Doc]) = ds.map(d => (d.id, d.batch, d.title, d.text))
    .toDF("doc_id", "batch_id", "title", "text")

  private def orders(os: Seq[Gen.Order]) = os.map(x =>
    (x.id, x.customer, x.product, x.qty, x.status, x.day, x.updatedAt))
    .toDF("order_id", "customer_id", "product_id", "qty", "status", "order_day", "updated_at")
  private def customers(cs: Seq[Gen.Customer]) = cs.map(c =>
    (c.id, c.name, c.region, c.tier, c.updatedAt))
    .toDF("customer_id", "customer_name", "region_id", "tier", "updated_at")
  private def events(es: Seq[Gen.Event]) = es.map(e => (e.id, e.customer, e.kind, e.day))
    .toDF("event_id", "customer_id", "kind", "event_day")

  def setupRound(round: Int): Unit = {
    if (dir != null) Workload.deleteTree(dir)
    schema = s"bd_$round"
    dir = o.work.resolve(schema)
    val (dataDir, projDir) = (dir.resolve("data"), dir.resolve("project"))
    data = Gen.dagData(o.seed, days = 20, ordersPerDay = 100, customers = 300,
      eventsPerDay = 150)
    want = Gen.dagExpect(data)
    orders(data.orders).coalesce(2).write.parquet(dataDir.resolve("orders").toString)
    customers(data.customers).coalesce(1).write.parquet(dataDir.resolve("customers").toString)
    events(data.events).coalesce(2).write.parquet(dataDir.resolve("events").toString)
    data.prices.toSeq.sorted.map { case (p, c) => (p, data.categories(p), c) }
      .toDF("product_id", "category", "price_cents").coalesce(1)
      .write.parquet(dataDir.resolve("products").toString)
    (0 until data.regions).map(r => (r, s"region_$r")).toDF("region_id", "region_name")
      .coalesce(1).write.parquet(dataDir.resolve("regions").toString)
    Gen.dagProject(projDir, dataDir, data)
    corpus = Gen.corpus(o.seed, baseClusters = 300, batchClusters = 30)
    docs(corpus.baseline).coalesce(2).write.parquet(dataDir.resolve("docs").toString)
    Gen.curateModels(projDir, dataDir)
    cli = newCli(schema, projDir)
    nodes = cli.parse().resolved.nodes.values
      .count(n => n.kind != NodeKind.Model || !n.isEphemeral)
  }

  /** The baseline: a full build of the generated project, saved, then
    * one new batch lands in the sources. */
  def coldStart(): Unit = {
    val (_, res) = command("build", timed = false)(cli.build(None))()
    checkStatuses("baseline build", res, nodes, planted)
    baseline = new Baseline(spark, schema, dir.resolve("baseline"))
    baseline.capture()
    landBatch(dir.resolve("data"))
  }

  def warmUp(): Unit = pairs(WarmPairs, timed = false)

  /** One timed build a run (the baseline build and a timed one take about
    * 15 s each on 4 cores, and a run must stay short); a traced run adds a
    * second, traced cycle. */
  def window(deadline: Long): Int = {
    val n = if (o.trace) 2 else 1
    (0 until n).foreach { i =>
      tracer.cycleStart(i)
      cycle(deadline)
    }
    n
  }

  /** Parse and compile pairs, one build from the baseline, then pairs
    * again until the deadline, so the short commands' samples span the
    * window. */
  private def cycle(deadline: Long): Unit = {
    pairs(Repeats, timed = true)
    baseline.restore()
    val (_, res) = command("build", timed = true)(cli.build(None)) {
      case ((r, res), _) => tracer.recordBuild(r, res, cli.lastRun._1,
        cli.lastRun._2, opsModels)
    }
    checkStatuses("build", res, nodes, planted)
    expectEq("fct_orders rows", s"select count(*) from $schema.fct_orders", want.ordersRows)
    expectEq("curated survivors = distinct clusters",
      s"select count(*) from $schema.cur_packed", corpus.clusters)
    tracer.settle()
    pairs(SettlePairs, timed = false)
    pairs(Repeats, timed = true)
    while (System.nanoTime() < deadline) pairs(1, timed = true)
  }

  private def pairs(n: Int, timed: Boolean): Unit = (0 until n).foreach { _ =>
    parse(cli, schema, timed)
    val sql = compile(cli, None, timed)
    book.check("compile every model", sql.nonEmpty && sql.values.forall(_.nonEmpty))
  }

  private def landBatch(dataDir: Path): Unit = {
    val tmp = dataDir.resolve("_landing")
    Seq(("orders", orders(data.ordersBatch)),
      ("customers", customers(data.customersBatch)),
      ("events", events(data.eventsBatch)),
      ("docs", docs(corpus.batch))).foreach { case (t, df) =>
      df.coalesce(1).write.parquet(tmp.resolve(t).toString)
      val s = Files.list(tmp.resolve(t))
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .foreach(p => Files.move(p, dataDir.resolve(t).resolve(s"batch-${p.getFileName}")))
      finally s.close()
    }
    Workload.deleteTree(tmp)
  }

  def finalCheck(): Unit = {
    val s = schema
    expectEq("fct_orders qty", s"select sum(qty) from $s.fct_orders", want.ordersQty)
    expectEq("fct_orders delivered",
      s"select count(*) from $s.fct_orders where status = 'delivered'", want.deliveredOrders)
    expectEq("revenue", s"select sum(revenue_cents) from $s.rpt_daily_revenue", want.revenueCents)
    expectEq("dim_customers rows", s"select count(*) from $s.dim_customers", want.customers)
    expectEq("snapshot rows", s"select count(*) from $s.snap_customers", want.snapshotRows)
    expectEq("event rows", s"select sum(n) from $s.fct_events_daily", want.eventRows)
    expectEq("event days", s"select count(distinct event_day) from $s.fct_events_daily",
      want.eventDays)
    expectEq("gate survivors", s"select count(*) from $s.cur_gate", corpus.gatePassing)
    expectEq("minhash survivors", s"select count(*) from $s.cur_minhash", corpus.afterMinhash)
    expectEq("fuzzy survivors", s"select count(*) from $s.cur_fuzzy", corpus.afterFuzzy)
  }
}
