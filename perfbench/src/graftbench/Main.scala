package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one closed-loop caller.
  *
  *   graftbench.Main --workload <export|score|index_ingest> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *
  * Prints a report line (every end-to-end metric of the workload, or with
  * `--trace 1` every per-call span metric) and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`. Exits 1 when an
  * operation or an output check failed.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")))
  }

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()

  def workload(name: String, spark: SparkSession, seed: Long, tracer: Tracer, checks: Checks): Workload =
    name match {
      case "export" => new ExportWorkload(spark, seed, tracer, checks, rows = 200000L)
      case "score" => new ScoreWorkload(spark, seed, tracer, checks, rows = 200000L)
      case "index_ingest" =>
        // stored tables must outgrow the broadcast threshold while a
        // micro-batch stays under it: the threshold scales with the corpus
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (128 * 1024).toString)
        new IndexIngestWorkload(spark, seed, tracer, checks, corpusDocs = 10000L, batchDocs = 500,
          steps = 2, queriesPerStep = 100, cells = 16, targetRecallPpm = 250000L)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    mem.getUsed / (1024.0 * 1024.0)
  }

  /** Jiffies the hypervisor ran other guests while this machine's CPUs
    * had work (the `steal` column of /proc/stat); 0 where not reported.
    */
  private def stealJiffies(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** One measured pass. `stealShare` is the share of the cores' time the
    * hypervisor took away during the pass (USER_HZ = 100).
    */
  final case class PassStat(
      p: Int, traced: Boolean, rows: Long, seconds: Double, gcS: Double, heapMb: Double,
      stealShare: Double) {
    def wallRowsPerS: Double = rows / seconds
    /** Throughput over the timed seconds the cores actually had. */
    def rowsPerS: Double = rows / (seconds * (1.0 - stealShare))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    Files.createDirectories(a.work)
    val spark = session(cores, a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val phases = mutable.LinkedHashMap("session_s" -> (System.nanoTime() - t0) / 1e9)
    val checks = new Checks
    val tracer = new Tracer(spark, a.trace)
    val wl = workload(a.workload, spark, a.seed, tracer, checks)
    val passes = mutable.ArrayBuffer.empty[PassStat]
    var error: Option[Throwable] = None
    val setups = mutable.ArrayBuffer.empty[Double]
    try {
      (0 until wl.setupReps).foreach { r =>
        val dir = a.work.resolve(s"setup$r")
        val s0 = System.nanoTime()
        wl.setup(dir)
        setups += (System.nanoTime() - s0) / 1e9
        if (r > 0) Workload.deleteTree(a.work.resolve(s"setup${r - 1}"))
      }
      phases("setup_total_s") = (System.nanoTime() - t0) / 1e9 - phases.values.sum
      // warm-up: passes until the workload's warm-up time of timed work
      // has run, so caches fill and the JIT settles; only the first
      // measured pass is checked
      var p = 0
      var warm = 0.0
      wl.checking = false
      while (warm < wl.warmupSeconds(a.seconds)) {
        warm += runPass(wl, p, a.work, tracer, traced = false).seconds
        p += 1
      }
      phases("warmup_s") = (System.nanoTime() - t0) / 1e9 - phases.values.sum
      wl.samples.clear()
      var measured = 0.0
      def haveBoth = passes.exists(_.traced) && passes.exists(!_.traced)
      while (checks.failed == 0 && (measured < a.seconds || passes.isEmpty || (a.trace && !haveBoth))) {
        wl.checking = passes.isEmpty
        val ps = runPass(wl, p, a.work, tracer, traced = a.trace && passes.size % 2 == 0)
        passes += ps
        measured += ps.seconds
        p += 1
      }
      phases("measure_s") = (System.nanoTime() - t0) / 1e9 - phases.values.sum
    } catch {
      case e: Throwable =>
        error = Some(e)
        checks.failed += 1
        checks.attempted += 1
    } finally tracer.setActive(false)

    val ok = error.isEmpty && checks.failed == 0
    val report = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "seed" -> a.seed,
      "cores" -> cores, "phases" -> phases, "passes" -> passes.size)
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    def unit(v: Double, u: String) = Json.obj("value" -> v, "unit" -> u)
    if (passes.nonEmpty) {
      val plain = passes.filterNot(_.traced)
      val traced = passes.filter(_.traced)
      if (!a.trace) {
        metrics("setup_s") = unit(Stats.median(setups.toSeq), "s")
        metrics("rows_per_s") = unit(Stats.median(plain.map(_.rowsPerS).toSeq), "rows/s")
        metrics("heap_mb") = unit(Stats.median(plain.map(_.heapMb).toSeq), "MB")
        report ++= metrics
        report("pass_rows_per_s") = plain.map(_.rowsPerS).toSeq
        report("wall_rows_per_s") = Stats.median(plain.map(_.wallRowsPerS).toSeq)
        report("pass_steal_share") = plain.map(_.stealShare).toSeq
        report("error_rate") = unit(checks.failed.toDouble / math.max(1L, checks.attempted), "ratio")
        report ++= workloadMetrics(wl)
      } else {
        val spanM = tracer.measures()
        val spans = tracer.allSpans
        val passSpans = spans.filter(_.name == "pass")
        def passSum(measure: String): Seq[Double] = passSpans.map { ps =>
          spans.filter(_.parent == ps.id).map(c => spanM(c.id)(measure)).sum
        }
        Seq("jobs" -> "count", "tasks" -> "count", "task_s" -> "s", "shuffle_mb" -> "MB",
          "spill_mb" -> "MB", "gap_s" -> "s", "rows_in" -> "count").foreach { case (m, u) =>
          metrics(s"spark.$m") = unit(Stats.median(passSum(m)), u)
        }
        metrics("jvm.gc_s") = unit(Stats.median(passes.map(_.gcS).toSeq), "s")
        report ++= metrics
        val calls = spans.filter(s => s.name.contains('.')).groupBy(_.name)
        calls.toSeq.sortBy(_._1).foreach { case (fn, ss) =>
          spanM(ss.head.id).keys.toSeq.sorted.foreach { m =>
            report(s"$fn.$m") = Stats.median(ss.map(s => spanM(s.id)(m)))
          }
        }
        val passTime = traced.map(_.seconds).sum
        val share = calls.map { case (fn, ss) => fn -> ss.map(s => spanM(s.id)("s")).sum / passTime }
        if (share.nonEmpty) report("largest_span") = share.maxBy(_._2)._1
        report("span_share") = Json.obj(share.toSeq.sortBy(-_._2).map { case (k, v) => k -> v }: _*)
        val tracedR = Stats.median(traced.map(_.rowsPerS).toSeq)
        val plainR = Stats.median(plain.map(_.rowsPerS).toSeq)
        report("trace_overhead") = Json.obj("untraced_rows_per_s" -> plainR, "traced_rows_per_s" -> tracedR,
          "overhead_pct" -> 100.0 * (plainR - tracedR) / plainR)
        tracer.write(a.out.resolve(s"trace-${a.workload}-seed${a.seed}.json"))
      }
    }
    error.foreach(e => report("error") = s"${e.getClass.getName}: ${e.getMessage}")
    if (checks.failures.nonEmpty) report("check_failures") = checks.failures.take(20).toSeq
    println(Json(Json.obj("report" -> report)))
    println(Json(Json.obj("correct" -> ok, "attempted" -> math.max(1L, checks.attempted),
      "failed" -> checks.failed, "metrics" -> metrics)))
    System.out.flush()
    error.foreach(_.printStackTrace())
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(if (ok) 0 else 1)
  }

  private def runPass(wl: Workload, p: Int, work: Path, tracer: Tracer, traced: Boolean): PassStat = {
    tracer.setActive(traced)
    val dir = work.resolve(s"pass$p")
    Files.createDirectories(dir)
    val clock = new Clock
    val gc0 = gcSeconds()
    val steal0 = stealJiffies()
    val wall0 = System.nanoTime()
    val rows = try tracer.span("pass", s"p$p")(wl.pass(p, dir, clock))
      finally Workload.deleteTree(dir)
    val gc = gcSeconds() - gc0
    val cores = Runtime.getRuntime.availableProcessors()
    val steal = (stealJiffies() - steal0) / 100.0 / cores / ((System.nanoTime() - wall0) / 1e9)
    // every pass, warm-up included, ends with a full GC, so no pass pays
    // for the garbage of the one before
    PassStat(p, traced, rows, clock.seconds, gc, heapMb(), math.min(0.9, math.max(0.0, steal)))
  }

  /** The workload's own end-to-end metrics: medians and tails. */
  private def workloadMetrics(wl: Workload): Seq[(String, Any)] = {
    def lat(key: String, name: String): Seq[(String, Any)] = wl.samples.get(key).toSeq.flatMap { xs =>
      val t = Stats.tail(xs.toSeq)
      Seq(s"${name}_p50_s" -> Json.obj("value" -> Stats.median(xs.toSeq), "unit" -> "s", "samples" -> xs.size),
        s"${name}_tail_s" -> Json.obj("value" -> t.map(_._2), "unit" -> "s",
          "percentile" -> t.map(_._1), "samples" -> xs.size))
    }
    val units = Map("stored_bytes_ratio" -> "ratio", "maintain_s" -> "s", "serve_recall" -> "ratio",
      "dup_recall" -> "ratio", "fresh_kept" -> "ratio")
    lat("ingest_s", "ingest") ++ lat("serve_s", "serve") ++
      wl.samples.toSeq.collect { case (k, xs) if units.contains(k) =>
        k -> Json.obj("value" -> Stats.median(xs.toSeq), "unit" -> units(k))
      }
  }
}
