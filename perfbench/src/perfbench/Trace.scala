package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Pure arithmetic the per-layer report is built from. Kept free of Spark
  * so the benchmark's own tests pin it on fixed inputs. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length of the union of half-open intervals [start, end). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = s; curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its length minus the part of it its children
    * cover. Children may overlap (parallel work), so the covered part is
    * the union of their intervals, clipped to the parent. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - covered(clipped)
  }

  /** Longest dependency path through the executed nodes, weighted by
    * node time. Dependencies outside `times` (not executed) weigh 0 but
    * still pass the path through. */
  def criticalPath(times: Map[String, Double],
      deps: Map[String, Seq[String]]): Double = {
    val memo = mutable.Map.empty[String, Double]
    def finish(n: String): Double = memo.get(n) match {
      case Some(v) => v
      case None =>
        val v = times.getOrElse(n, 0.0) +
          deps.getOrElse(n, Nil).map(finish).maxOption.getOrElse(0.0)
        memo(n) = v
        v
    }
    times.keys.map(finish).maxOption.getOrElse(0.0)
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** Relative change of the second half's median against the first's. */
  def drift(xs: Seq[Double]): Option[(Double, Double, Double)] =
    if (xs.length < 2) None
    else {
      val (a, b) = xs.splitAt(xs.length / 2)
      val (ma, mb) = (median(a), median(b))
      Some((ma, mb, if (ma > 0) (mb - ma) / ma else 0.0))
    }
}

/** Spans around each call into a layer. Only recorded while `on`; an
  * untraced command pays one branch per call. */
final class Spans(@volatile var on: Boolean) {
  final case class Span(name: String, start: Long, end: Long, depth: Int)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val d = depth.get
      depth.set(d + 1)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        depth.set(d)
        synchronized { buf += Span(name, s, e, d) }
      }
    }

  /** Spans recorded since the last call, removing them. */
  def drain(): Seq[Span] = synchronized { val out = buf.toSeq; buf.clear(); out }
}

/** Spark and Catalyst counters for one traced command: a SparkListener
  * (jobs, stages, tasks, task metrics, catalog DDL events) plus a
  * QueryExecutionListener (Catalyst phase times from `qe.tracker`). */
final class Recorder extends SparkListener with QueryExecutionListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var ddlOps = 0L
  var queries = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val jobsByPool = mutable.Map.empty[String, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskNs = 0; shuffleWriteBytes = 0
    spillBytes = 0; inputBytes = 0; outputBytes = 0; ddlOps = 0
    queries = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0
    jobsByPool.clear(); jobStart.clear(); jobIntervalsMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
    val pool = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.scheduler.pool"))).getOrElse("")
    jobsByPool(pool) = jobsByPool.getOrElse(pool, 0) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervalsMs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskNs += m.executorRunTime * 1000000L
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Catalog events are ExternalCatalogEvents on the listener bus; count
    * the completed create/drop/rename/alter ones (not the Pre events). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    val n = e.getClass.getSimpleName
    if (e.isInstanceOf[org.apache.spark.sql.catalyst.catalog.ExternalCatalogEvent] &&
        !n.endsWith("PreEvent") &&
        Seq("Create", "Drop", "Rename", "Alter").exists(n.startsWith))
      synchronized { ddlOps += 1 }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    synchronized {
      queries += 1
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event posted so far has reached this listener. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
}
