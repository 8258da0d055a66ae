package graft.core

import java.io.FileNotFoundException
import java.nio.file.Files

import scala.util.Random

import org.apache.hadoop.fs.{FSDataInputStream, Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.{DedupIndex, SubstringDedup}
import graft.sim.Similarity

/** The lifecycle readouts that read Parquet footers instead of scanning
  * (IVF stats and probe plans, dedup and substring-index stats) must
  * report exactly what a scan of the served tables reports, in every
  * state the lifecycle operators can leave an index in.
  */
class FooterStatsSpec extends SparkSpec {
  import sqlImplicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/idx"

  // ---- IVF -----------------------------------------------------------

  private def vecs(rng: Random, ids: Range): Seq[(Long, Seq[Float])] =
    ids.map(i => (i.toLong, Seq.fill(8)(rng.nextFloat() - 0.5f)))

  private def ivfStatsMap(dir: String): Map[String, Long] =
    Similarity.ivfStats(spark, dir, "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** ivfStats and the probe plan table against a scan of the served
    * index: base rows, segment rows and the zero-filled histogram.
    */
  private def checkIvf(dir: String): Unit = {
    val served = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding").assigned
    val total = served.count()
    val base = spark.read.parquet(Similarity.servedAssignedDir(spark, dir)).count()
    val hist = served.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perCell = Similarity.readIvfCentroids(spark, dir)
      .map { case (c, _) => hist.getOrElse(c, 0L) }
    val st = ivfStatsMap(dir)
    st("base_rows") shouldBe base
    st("segment_rows") shouldBe total - base
    st("max_cell_rows") shouldBe perCell.max
    st("min_cell_rows") shouldBe perCell.min
    st("empty_cells") shouldBe perCell.count(_ == 0L).toLong
    val plan = Similarity.ivfProbePlanTable(spark, dir, "vec_id", "embedding")
      .orderBy("n_probe").collect()
    plan.map(_.getAs[Long]("worst_rows")).toSeq shouldBe
      perCell.sorted.scanLeft(0L)(_ + _).tail
    plan.map(_.getAs[Long]("best_rows")).toSeq shouldBe
      perCell.sorted.reverse.scanLeft(0L)(_ + _).tail
    plan.foreach(_.getAs[Long]("total_rows") shouldBe total)
    for (target <- Seq(0L, 250000L, 900000L, 1000000L))
      Similarity.ivfProbePlan(spark, dir, "vec_id", "embedding", target) shouldBe
        plan.find(_.getAs[Long]("worst_mass_ppm") >= target).get.getAs[Int]("n_probe")
  }

  /** Copy a directory tree (to restore a folded segment after its GC). */
  private def copyTree(from: String, to: String): Unit = {
    val src = new java.io.File(from).toPath
    Files.walk(src).forEach { p =>
      val q = new java.io.File(to).toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
  }

  /** Compact with `compact`, then put one folded segment's directory
    * back: the crash window between a commit and its eager GC.
    */
  private def compactLeavingZombie(dir: String)(compact: => Unit): Unit = {
    val segs = Option(new java.io.File(s"$dir/segments").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).sortBy(_.getName)
    val keep = segs.headOption.map { s =>
      val aside = Files.createTempDirectory("zombie_").toString + "/" + s.getName
      copyTree(s.getPath, aside)
      (s.getPath, aside)
    }
    compact
    keep.foreach { case (orig, aside) => copyTree(aside, orig) }
  }

  test("IVF footer stats and probe plans equal a scan over a randomized " +
    "lifecycle") {
    for (seed <- Seq(3, 17)) {
      val rng = new Random(seed)
      val dir = tmp("footer_ivf_")
      Similarity.writeIvfIndex(
        Similarity.buildIvf(vecs(rng, 0 until 60).toDF("vec_id", "embedding"),
          "vec_id", "embedding", nCells = 6), dir)
      var next = 1000
      def batch(n: Int) = {
        val b = vecs(rng, next until next + n).toDF("vec_id", "embedding")
        next += n
        b
      }
      checkIvf(dir)
      val ops = Seq("append", "named", "zombie", "append", "remove",
        "retrain", "named", "emptyCell", "compact")
      for (op <- rng.shuffle(ops)) {
        def hasSegments = new java.io.File(s"$dir/segments").exists()
        op match {
          case "append" =>
            Similarity.appendIvfSegment(spark, dir, batch(5), "vec_id", "embedding")
          case "named" =>
            Similarity.appendIvfSegment(spark, dir, batch(4), "vec_id", "embedding",
              segmentName = Some(s"seg_n$next"))
          case "zombie" =>
            Similarity.appendIvfSegment(spark, dir, batch(3), "vec_id", "embedding")
            compactLeavingZombie(dir)(Similarity.compactIvfIndex(spark, dir))
          case "compact" => Similarity.compactIvfIndex(spark, dir)
          case "retrain" =>
            Similarity.compactIvfIndexWithRetrain(spark, dir, "vec_id", "embedding", iters = 1)
          case "remove" | "emptyCell" =>
            // deletion needs a compacted index
            if (hasSegments) Similarity.compactIvfIndex(spark, dir)
            val served = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding").assigned
            val ids =
              if (op == "remove") served.select("vec_id").orderBy("vec_id").limit(3)
              else {
                // every vector of the smallest non-empty cell: the cell
                // directory is deleted
                val cell = served.groupBy("cell").count()
                  .orderBy("count", "cell").head().getInt(0)
                served.filter(col("cell") === cell).select("vec_id")
              }
            Similarity.removeFromIvfIndex(spark, dir, ids.localCheckpoint(), "vec_id")
        }
        withClue(s"seed $seed after $op: ")(checkIvf(dir))
      }
    }
  }

  test("ivfStats and ivfProbePlan start no Spark job with warm caches") {
    val rng = new Random(5)
    val dir = tmp("footer_ivf_jobs_")
    Similarity.writeIvfIndex(
      Similarity.buildIvf(vecs(rng, 0 until 40).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCells = 4), dir)
    Similarity.appendIvfSegment(spark, dir,
      vecs(rng, 100 until 110).toDF("vec_id", "embedding"), "vec_id", "embedding")
    ivfStatsMap(dir) // warms the centroid cache
    jobsStartedBy {
      ivfStatsMap(dir)
      Similarity.ivfProbePlan(spark, dir, "vec_id", "embedding", 500000L)
    } shouldBe 0
  }

  test("ivfStats fails loud on rows outside a cell=N directory") {
    val rng = new Random(6)
    val dir = tmp("footer_ivf_stray_")
    Similarity.writeIvfIndex(
      Similarity.buildIvf(vecs(rng, 0 until 20).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCells = 2), dir)
    // a data file at the root of the served base, as no writer lays out
    val base = Similarity.servedAssignedDir(spark, dir)
    val stray = Files.createTempDirectory("footer_ivf_stray_src_").toString + "/t"
    spark.read.parquet(base).drop("cell").limit(3).coalesce(1)
      .write.parquet(stray)
    val part = new java.io.File(stray).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, new java.io.File(base, "stray.parquet").toPath)
    val e = intercept[IllegalArgumentException](ivfStatsMap(dir))
    e.getMessage should include("outside a cell=N directory")
  }

  // ---- MinHash dedup index -------------------------------------------

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
  private def docs(rng: Random, ids: Range) =
    ids.map(i => (i.toLong,
      Seq.fill(4 + rng.nextInt(6))(words(rng.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")

  private val params = DedupIndex.Params(shingleSize = 1)

  private def dedupStats(dir: String): Map[String, Long] =
    DedupIndex.stats(spark, dir).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("DedupIndex footer stats equal a scan over a randomized lifecycle") {
    for (seed <- Seq(4, 29)) {
      val rng = new Random(seed)
      val dir = tmp("footer_dedup_")
      DedupIndex.write(docs(rng, 0 until 30), "doc_id", "text", dir, params)
      var next = 1000
      var deleted = Seq.empty[Long]
      val ops = Seq("append", "named", "delete", "purge", "zombie",
        "append", "delete", "compact", "named")
      for (op <- rng.shuffle(ops)) {
        op match {
          case "append" =>
            DedupIndex.appendSegment(spark, dir, docs(rng, next until next + 5), "doc_id", "text")
            next += 5
          case "named" =>
            DedupIndex.appendSegment(spark, dir, docs(rng, next until next + 4), "doc_id", "text",
              segmentName = Some(s"seg_n$next"))
            next += 4
          case "delete" =>
            val ids = Seq(rng.nextInt(30).toLong, rng.nextInt(30).toLong)
            DedupIndex.delete(dir, ids.toDF("id"))
            deleted ++= ids
          case "purge" => DedupIndex.purge(spark, dir, deleted.toDF("id"))
          case "compact" => DedupIndex.compact(spark, dir)
          case "zombie" =>
            DedupIndex.appendSegment(spark, dir, docs(rng, next until next + 3), "doc_id", "text")
            next += 3
            compactLeavingZombie(dir)(DedupIndex.compact(spark, dir))
        }
        withClue(s"seed $seed after $op: ") {
          val idx = DedupIndex.read(spark, dir)
          val st = dedupStats(dir)
          st("exact_rows") shouldBe idx.exact.count()
          st("sets_rows") shouldBe idx.sets.count()
        }
      }
    }
  }

  test("DedupIndex.maintenanceAdvice starts no Spark job with no " +
    "tombstone pending and a warm meta cache") {
    val rng = new Random(8)
    val dir = tmp("footer_dedup_jobs_")
    DedupIndex.write(docs(rng, 0 until 20), "doc_id", "text", dir, params)
    DedupIndex.appendSegment(spark, dir, docs(rng, 100 until 105), "doc_id", "text")
    DedupIndex.maintenanceAdvice(spark, dir).collect() // warms the meta cache
    jobsStartedBy {
      DedupIndex.maintenanceAdvice(spark, dir).collect()
    } shouldBe 0
  }

  // ---- substring fingerprint index -----------------------------------

  test("fingerprint-index footer stats equal the masked scan over a " +
    "randomized lifecycle") {
    // the scan side: a tombstone for an id no document has masks
    // nothing, so it routes fingerprint_rows through the masked
    // count() of the same served state
    def viaScan(dir: String): Long = {
      SubstringDedup.deleteFromFingerprintIndex(dir, Seq(-1L).toDF("id"))
      try SubstringDedup.fingerprintIndexStats(spark, dir)
        .filter(col("stat") === "fingerprint_rows").head().getLong(1)
      finally SubstringDedup.purgeFingerprintIndex(spark, dir, Seq(-1L).toDF("id"))
    }
    def viaFooters(dir: String): Long = {
      val st = SubstringDedup.fingerprintIndexStats(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      st("tombstones_pending") shouldBe 0L
      st("fingerprint_rows")
    }
    val rng = new Random(11)
    val dir = tmp("footer_substr_")
    def text(n: Int) = Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ")
    def batch(ids: Range) = ids.map(i => (i.toLong, text(12))).toDF("id", "text")
    SubstringDedup.writeFingerprintIndex(batch(0 until 12), "id", "text", dir, k = 8, window = 8)
    var next = 100
    for (op <- rng.shuffle(Seq("append", "named", "delete+purge", "zombie", "compact"))) {
      op match {
        case "append" =>
          SubstringDedup.appendToFingerprintIndex(spark, dir, batch(next until next + 3), "id", "text")
        case "named" =>
          SubstringDedup.appendToFingerprintIndex(spark, dir, batch(next until next + 3), "id", "text",
            segmentName = Some(s"seg_n$next"))
        case "delete+purge" =>
          SubstringDedup.deleteFromFingerprintIndex(dir, Seq(1L, 2L).toDF("id"))
          SubstringDedup.purgeFingerprintIndex(spark, dir, Seq(1L, 2L).toDF("id"))
        case "zombie" =>
          SubstringDedup.appendToFingerprintIndex(spark, dir, batch(next until next + 2), "id", "text")
          compactLeavingZombie(dir)(SubstringDedup.compactFingerprintIndex(spark, dir))
        case "compact" => SubstringDedup.compactFingerprintIndex(spark, dir)
      }
      next += 3
      withClue(s"after $op: ")(viaFooters(dir) shouldBe viaScan(dir))
    }
  }

  // ---- a footer lost to a racing compact -----------------------------

  test("a segment footer lost to a racing compact re-resolves inside " +
    "retryOnLostSegments") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.lostfooter.impl", classOf[LostFooterFs].getName)
    val rng = new Random(23)
    val dir = tmp("footer_lost_")
    Similarity.writeIvfIndex(
      Similarity.buildIvf(vecs(rng, 0 until 40).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCells = 4), dir)
    val viaLost = s"lostfooter://$dir"
    Similarity.readIvfCentroids(spark, viaLost) // warm: no Spark read below
    Similarity.appendIvfSegment(spark, dir,
      vecs(rng, 100 until 110).toDF("vec_id", "embedding"), "vec_id", "embedding")
    val before = ivfStatsMap(dir)
    // the first footer read of the new segment sees the compact that
    // GC'd it land first
    LostFooterFs.tripped = false
    LostFooterFs.armed = Some(
      (p: HPath) => p.toString.contains("/segments/"),
      () => Similarity.compactIvfIndex(spark, dir))
    val got =
      try Similarity.ivfStats(spark, viaLost, "vec_id", "embedding")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      finally LostFooterFs.armed = None
    LostFooterFs.tripped shouldBe true
    new java.io.File(s"$dir/segments").exists() shouldBe false
    got shouldBe ivfStatsMap(dir)
    got("segments_pending") shouldBe 0L
    got("base_rows") shouldBe before("base_rows") + before("segment_rows")
  }
}

/** The local filesystem under the `lostfooter` scheme. While armed, the
  * first open of a matching path runs the armed action (a compact that
  * GCs the file's segment) and fails with FileNotFoundException, as a
  * footer read racing that compact does.
  */
class LostFooterFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("lostfooter:///")
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    LostFooterFs.trip(f)
    super.open(f, bufferSize)
  }
}

object LostFooterFs {
  @volatile var armed: Option[(HPath => Boolean, () => Unit)] = None
  @volatile var tripped = false

  private def trip(p: HPath): Unit = synchronized {
    armed.foreach { case (hit, action) =>
      if (hit(p)) {
        armed = None
        action()
        tripped = true
        throw new FileNotFoundException(s"$p (GC'd by a racing compact)")
      }
    }
  }
}
