package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval. `group` is shared by the spans of one pass or
  * micro-batch; `parent` is -1 for a root. Wall-clock millis place Spark
  * jobs inside spans; nanos give the span's own duration.
  */
final case class Span(
    id: Int, name: String, parent: Int, group: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long,
    bytesOut: Option[Long])

final class JobRec(val id: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
}

/** Benchmark-owned listener: per Spark job, its interval and the summed
  * metrics of its tasks.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageInfos.foreach(s => stageToJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.recordsRead += m.inputMetrics.recordsRead
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toList)
}

/** Spans around every call the benchmark makes into a graft module. Spans
  * stay in memory; [[write]] puts them out when the run ends. When
  * `enabled` is false every method is a plain call-through. Within a
  * traced run, [[setActive]] switches tracing per pass so traced and
  * untraced passes alternate and the overhead can be measured.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val listener = new JobListener
  private var attached = false
  private var on = false

  def setActive(value: Boolean): Unit = {
    on = enabled && value
    if (on && !attached) { spark.sparkContext.addSparkListener(listener); attached = true }
    if (!on && attached) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener); attached = false
    }
  }

  /** Time `body` as a span. With `watch`, also record the bytes of files
    * created or rewritten under that directory during the span.
    */
  def span[A](name: String, group: String, watch: Option[String] = None)(body: => A): A = {
    if (!on) return body
    val before = watch.map(Tracer.listing)
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, group, System.currentTimeMillis(), -1L, System.nanoTime(), -1L, None)
    stack = id :: stack
    try body
    finally {
      val endNs = System.nanoTime()
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      val out = for (b <- before; d <- watch) yield {
        val after = Tracer.listing(d)
        after.iterator.collect { case (p, (sz, mt)) if !b.get(p).contains((sz, mt)) => sz }.sum
      }
      spans(id) = spans(id).copy(endMs = endMs, endNs = endNs, bytesOut = out)
    }
  }

  /** Per-span measures. Each job belongs to the deepest span whose
    * interval holds its start; a span's counts include its descendants'.
    */
  def measures(): Map[Int, Map[String, Double]] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val jobs = listener.snapshot()
    val closed = spans.filter(_.endMs >= 0).toIndexedSeq
    val depth = mutable.HashMap.empty[Int, Int]
    def depthOf(s: Span): Int =
      depth.getOrElseUpdate(s.id, if (s.parent < 0) 0 else depthOf(spans(s.parent)) + 1)
    val owned = mutable.HashMap.empty[Int, List[JobRec]].withDefaultValue(Nil)
    jobs.foreach { j =>
      val holders = closed.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      if (holders.nonEmpty) {
        val leaf = holders.maxBy(s => (depthOf(s), s.startNs))
        owned(leaf.id) = j :: owned(leaf.id)
      }
    }
    val children = closed.groupBy(_.parent)
    def jobsUnder(s: Span): List[JobRec] =
      owned(s.id) ++ children.getOrElse(s.id, Nil).flatMap(jobsUnder)
    closed.map { s =>
      val js = jobsUnder(s)
      val dur = (s.endNs - s.startNs) / 1e9
      val covered = Tracer.coveredMs(js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
        s.startMs, s.endMs)
      val mb = 1024.0 * 1024.0
      val base = Map(
        "s" -> dur,
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "task_s" -> js.map(_.runMs).sum / 1000.0,
        "shuffle_mb" -> js.map(_.shuffleBytes).sum / mb,
        "spill_mb" -> js.map(_.spillBytes).sum / mb,
        "gap_s" -> math.max(0.0, dur - covered / 1000.0),
        "rows_in" -> js.map(_.recordsRead).sum.toDouble)
      s.id -> (base ++ s.bytesOut.map(b => "bytes_out_mb" -> b / mb))
    }.toMap
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Write spans and jobs as one JSON document. */
  def write(path: Path): Unit = {
    val doc = Json.obj(
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "group" -> s.group, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> (s.endNs - s.startNs) / 1e9, "bytes_out" -> s.bytesOut)),
      "jobs" -> listener.snapshot().map(j => Json.obj("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
        "records_read" -> j.recordsRead)))
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json(doc))
  }
}

object Tracer {
  /** (size, mtime) of every regular file under `dir`. */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally st.close()
  }

  /** Millis of [from, to] covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
