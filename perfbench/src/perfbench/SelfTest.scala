package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The benchmark's own tests, on fixed inputs:
  *   python3 perfbench/run.py --self-test
  * Exits non-zero on the first failed expectation. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, got: Any, want: Any): Unit =
    if (got == want) println(s"ok   $what")
    else { failures += 1; println(s"FAIL $what: got $got, want $want") }

  def main(argv: Array[String]): Unit = {
    // self time = span − the union of its children, clipped to the span
    expect("self time, overlapping and overhanging children",
      Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L), (60L, 70L), (90L, 120L))), 40L)
    expect("self time, no children", Stats.selfTime((5L, 9L), Nil), 4L)
    expect("self time, child covering the span", Stats.selfTime((5L, 9L), Seq((0L, 20L))), 0L)
    expect("10th percentile of 20", Stats.percentile((1 to 20).map(_.toDouble).reverse, 10), 2.0)
    expect("10th percentile of 5", Stats.percentile(Seq(3.0, 1.0, 2.0, 5.0, 4.0), 10), 1.0)
    expect("covered, disjoint and nested", Stats.covered(Seq((0L, 2L), (1L, 2L), (4L, 7L))), 5L)

    // critical path and wave wait on a fixed diamond plus a tail:
    // a(1) → b(2) → d(1); a → c(5) → d; d → e(0.5); f(3) alone
    val times = Map("a" -> 1.0, "b" -> 2.0, "c" -> 5.0, "d" -> 1.0, "e" -> 0.5, "f" -> 3.0)
    val deps = Map("b" -> Seq("a"), "c" -> Seq("a"), "d" -> Seq("b", "c"), "e" -> Seq("d"))
    val cp = Stats.criticalPath(times, deps)
    expect("critical path", cp, 7.5)
    expect("wave wait of a 10 s run", 10.0 - cp, 2.5)
    expect("critical path through an unexecuted node",
      Stats.criticalPath(Map("a" -> 1.0, "c" -> 2.0), Map("b" -> Seq("a"), "c" -> Seq("b"))), 3.0)
    expect("drift halves", Stats.drift(Seq(1.0, 1.0, 2.0, 2.0)), Some((1.0, 2.0, 1.0)))
    expect("median, even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)

    // the listener's counts on a fixed plan: with AQE off, an aggregation
    // over 4 input partitions into 2 shuffle partitions is one job of two
    // stages and 4 + 2 tasks
    val work = java.nio.file.Paths.get(argv.headOption.getOrElse("."))
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val rec = new Recorder
      rec.install(spark)
      rec.settle(spark)
      rec.reset()
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count().collect()
      rec.settle(spark)
      expect("listener jobs", rec.jobs, 1L)
      expect("listener stages", rec.stages, 2L)
      expect("listener tasks", rec.tasks, 6L)
      expect("listener catalyst queries", rec.queries, 1L)
      expect("listener job intervals", rec.jobIntervalsMs.size, 1)
      rec.reset()
      spark.sql("CREATE TABLE self_test_t (a INT) USING parquet")
      spark.sql("ALTER TABLE self_test_t RENAME TO self_test_u")
      spark.sql("DROP TABLE self_test_u")
      rec.settle(spark)
      expect("listener DDL events (create, rename, drop)", rec.ddlOps, 3L)
    } finally spark.stop()
    if (failures > 0) {
      println(s"$failures failed")
      sys.exit(1)
    }
    println("all passed")
  }
}
