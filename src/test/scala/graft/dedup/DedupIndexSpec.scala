package graft.dedup

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Prepared cross-corpus dedup index: the index path must be a pure
  * amortization of [[Dedup.dedupAgainst]] — identical results, corpus
  * derivation served from parquet.
  */
class DedupIndexSpec extends SparkSpec {
  import sqlImplicits._

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  private def mkDoc(rng: Random): String =
    Seq.fill(3 + rng.nextInt(6))(words(rng.nextInt(words.size))).mkString(" ")

  private def mkCorpusAndBatch(seed: Int) = {
    val rng = new Random(seed)
    val corpus = (0L until 20L).map(i => (i, mkDoc(rng)))
    val batch = (100L until 120L).map { i =>
      rng.nextInt(3) match {
        case 0 => (i, corpus(rng.nextInt(corpus.size))._2) // exact copy
        case 1 => (i, corpus(rng.nextInt(corpus.size))._2 + " omega") // near
        case _ => (i, mkDoc(rng))
      }
    }
    (corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"))
  }

  private val params = DedupIndex.Params(
    shingleSize = 1, numHashes = 64, bands = 16, seed = 42L)

  test("Params.planned derives the pinned hash family from the " +
    "threshold (the planner as the default entry)") {
    // the hand-tuned (64 hashes, 16 bands) every oracle query pins is
    // exactly what the recall-bounded planner derives at t = 0.9
    DedupIndex.Params.planned(0.9, shingleSize = 1) shouldBe params
    // planned params always satisfy the divisibility invariant and
    // never miss more than the best achievable at that (n, t)
    for (t <- Seq(0.5, 0.8, 0.95); n <- Seq(16, 64, 128)) {
      val p = DedupIndex.Params.planned(t, numHashes = n)
      p.numHashes % p.bands shouldBe 0
      val bestMiss = graft.dedup.LshPlan.candidates(n, t).map(c =>
        graft.dedup.LshPlan.missAtThreshold(c.bands, c.rowsPerBand, t)).min
      graft.dedup.LshPlan.missAtThreshold(
        p.bands, p.rowsPerBand, t) should be <= math.max(1e-6, bestMiss)
    }
  }

  test("in-memory index path equals the direct dedupAgainst path") {
    for (seed <- Seq(7, 21, 63)) {
      val (corpus, batch) = mkCorpusAndBatch(seed)
      val direct = Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
        shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val idx = DedupIndex.build(corpus, "doc_id", "text", params)
      val viaIndex = DedupIndex.dedupAgainst(batch, idx, "doc_id", "text",
        threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      viaIndex shouldBe direct
    }
  }

  test("write/read round-trip preserves params and results") {
    val (corpus, batch) = mkCorpusAndBatch(99)
    val path = Files.createTempDirectory("dedup_index_spec_").toString
    DedupIndex.write(corpus, "doc_id", "text", path, params)
    val idx = DedupIndex.read(spark, path)
    idx.params shouldBe params
    val direct = Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
      shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    DedupIndex.dedupAgainst(batch, idx, "doc_id", "text", threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe direct
    // near-dup matches agree too (both anti-join stages, not just the end)
    val directPairs = Dedup.nearDuplicatesAgainst(batch, corpus,
      "doc_id", "text", shingleSize = 1, threshold = 0.9)
      .select("batch_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupIndex.nearDuplicatesAgainst(batch, idx, "doc_id", "text",
      threshold = 0.9)
      .select("batch_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe directPairs
  }

  test("id columns named corpus_id or batch_id work on every dedup-against path") {
    val (corpus, batch) = mkCorpusAndBatch(7)
    def ids(df: org.apache.spark.sql.DataFrame, idCol: String) =
      df.select(idCol).collect().map(_.getLong(0)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("batch_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = ids(Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
      shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9), "doc_id")
    val matched = pairs(Dedup.nearDuplicatesAgainst(batch, corpus, "doc_id", "text",
      shingleSize = 1, threshold = 0.9))
    matched should not be empty
    for (idCol <- Seq("corpus_id", "batch_id")) {
      val c = corpus.withColumnRenamed("doc_id", idCol)
      val b = batch.withColumnRenamed("doc_id", idCol)
      ids(Dedup.dedupAgainst(b, c, idCol, "text",
        shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9), idCol) shouldBe survivors
      pairs(Dedup.nearDuplicatesAgainst(b, c, idCol, "text",
        shingleSize = 1, threshold = 0.9)) shouldBe matched
      val idx = DedupIndex.build(c, idCol, "text", params)
      ids(DedupIndex.dedupAgainst(b, idx, idCol, "text", threshold = 0.9), idCol) shouldBe survivors
      pairs(DedupIndex.nearDuplicatesAgainst(b, idx, idCol, "text", threshold = 0.9)) shouldBe matched
    }
  }

  // a different text with the same distinct-word set: Jaccard 1.0 at
  // shingleSize 1, but never an exact (fingerprint) match
  private def nearOf(t: String): String = s"$t ${t.split(" ").head}"

  test("materialized dedupAgainst equals the lazy path and Dedup.dedupAgainst " +
    "on randomized batches") {
    import org.apache.spark.sql.DataFrame
    type Id = Option[Any]
    for (((stringIds, idCol), k) <- (for (s <- Seq(false, true);
        c <- Seq("doc_id", "corpus_id", "batch_id")) yield (s, c)).zipWithIndex;
        // each case runs uncapped and capped at 2 members, where the three
        // identical near copies below form a batch-side bucket over the cap
        capped <- Seq(false, true)) {
      val p = if (capped) params.copy(maxBucketSize = 2L) else params
      val rng = new Random(101 + k)
      val id: Long => Id = i => Some(if (stringIds) s"d$i" else i)
      val base = (0L until 24L).map(i => id(i) -> Option(mkDoc(rng))) :+ (id(24L) -> Some(""))
      val seg = (40L until 46L).map(i => id(i) -> Option(mkDoc(rng)))
      val deleted = Seq(id(1L), id(2L), id(3L))
      val texts = (base ++ seg).flatMap(_._2).filter(_.nonEmpty)
      def copy() = texts(rng.nextInt(texts.size))
      // a live base document (ids 5-19: never deleted, never empty)
      def liveBase() = base(5 + rng.nextInt(15))._2.get
      val drawn = (100L until 130L).map { i =>
        id(i) -> Option(rng.nextInt(3) match {
          case 0 => copy() // exact copy (of a base, segment or deleted doc)
          case 1 => copy() + " omega" // near copy
          case _ => mkDoc(rng)
        })
      }
      val fresh = mkDoc(rng)
      val hot = nearOf(liveBase())
      val batchRows = drawn ++ Seq(
        id(200L) -> Some(fresh), id(201L) -> Some(fresh), // in-batch exact duplicates
        id(202L) -> Some(drawn.head._2.get + " omega"),
        id(203L) -> None, id(204L) -> Some(""), // null and empty text
        None -> Some(copy()), None -> Some(copy() + " omega"), None -> Some(mkDoc(rng)),
        // repeated ids with different texts: a near hit on either row
        // drops both, an exact hit only the matching row
        id(205L) -> Some(nearOf(liveBase())), id(205L) -> Some(fresh),
        id(206L) -> Some(liveBase()), id(206L) -> Some(mkDoc(rng)),
        // three identical near copies share every batch-side bucket
        id(207L) -> Some(hot), id(208L) -> Some(hot), id(209L) -> Some(hot))
      def df(rows: Seq[(Id, Option[String])]): DataFrame =
        if (stringIds) rows.map { case (i, t) => (i.map(_.asInstanceOf[String]), t) }
          .toDF(idCol, "text")
        else rows.map { case (i, t) => (i.map(_.asInstanceOf[Long]), t) }.toDF(idCol, "text")
      val batch = df(batchRows)
      def rows(out: DataFrame): Seq[(Option[String], Option[String])] =
        out.select(idCol, "text").collect().toSeq
          .map(r => (Option(r.get(0)).map(_.toString), Option(r.getString(1)))).sorted
      def direct(corpus: DataFrame) = rows(Dedup.dedupAgainst(batch, corpus, idCol, "text",
        shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9,
        maxBucketSize = p.maxBucketSize))
      def viaIndex(idx: DedupIndex.Index, expected: Seq[(Option[String], Option[String])]) = {
        rows(DedupIndex.dedupAgainst(batch, idx, idCol, "text", threshold = 0.9)) shouldBe expected
        rows(DedupIndex.dedupAgainst(batch, idx, idCol, "text", threshold = 0.9,
          materialize = false)) shouldBe expected
      }

      val baseDf = df(base)
      val expected = direct(baseDf)
      rows(Dedup.dedupAgainst(batch, baseDf, idCol, "text", shingleSize = 1,
        numHashes = 64, bands = 16, threshold = 0.9, maxBucketSize = p.maxBucketSize,
        materialize = false)) shouldBe expected
      // the fixture is discriminative: copies go, nulls and fresh rows stay
      expected.size should be < batchRows.size - 4
      expected should contain((Some(id(203L).get.toString), None))
      expected.count(_._1.isEmpty) should be >= 1
      expected.count(_._2.contains(fresh)) shouldBe 2
      def kept(i: Long) = expected.count(_._1.contains(id(i).get.toString))
      kept(205L) shouldBe 0
      kept(206L) shouldBe 1
      // over the cap the hot bucket is dropped and its rows survive
      kept(207L) + kept(208L) + kept(209L) shouldBe (if (capped) 3 else 0)

      val path = Files.createTempDirectory("dedup_index_mixed_").toString
      DedupIndex.write(baseDf, idCol, "text", path, p)
      viaIndex(DedupIndex.read(spark, path), expected)
      DedupIndex.appendSegment(spark, path, df(seg), idCol, "text")
      DedupIndex.delete(path, df(deleted.map(d => (d, Option.empty[String]))).select(idCol))
      val idx = DedupIndex.read(spark, path)
      if (capped)
        // per-segment caps and not-yet-purged bucket members bind the
        // corpus side differently from a rebuild: pin materialized ≡ lazy
        viaIndex(idx, rows(DedupIndex.dedupAgainst(batch, idx, idCol, "text",
          threshold = 0.9, materialize = false)))
      else {
        val live = df(base ++ seg).filter(!col(idCol).isin(deleted.flatten: _*))
        viaIndex(idx, direct(live))
      }
    }
  }

  test("materialized nearDuplicatesAgainst returns the lazy plan's " +
    "(batch_id, corpus_id, jaccard) rows with bit-identical jaccard") {
    import org.apache.spark.sql.DataFrame
    for (stringIds <- Seq(false, true)) {
      val rng = new Random(if (stringIds) 12 else 11)
      def id(i: Long): Any = if (stringIds) s"d$i" else i
      def df(rows: Seq[(Long, String)]): DataFrame =
        if (stringIds) rows.map { case (i, t) => (s"d$i", t) }.toDF("doc_id", "text")
        else rows.toDF("doc_id", "text")
      val base = (0L until 30L).map(i => i -> mkDoc(rng))
      val seg = (40L until 50L).map(i => i -> mkDoc(rng))
      val docs = (base ++ seg).map(_._2)
      // partial overlaps spread the scores below 1.0; repeated ids and
      // a segment + pending tombstones exercise the multiplicities
      val batchRows = (100L until 140L).map { i =>
        val d = docs(rng.nextInt(docs.size)).split(" ")
        i -> (rng.nextInt(3) match {
          case 0 => d.mkString(" ")
          case 1 => d.dropRight(1).mkString(" ") + " omega"
          case _ => (d ++ Seq("omega", "psi")).mkString(" ")
        })
      } ++ Seq(120L -> nearOf(docs(3)), 121L -> docs(4))
      val path = Files.createTempDirectory("dedup_index_triples_").toString
      DedupIndex.write(df(base), "doc_id", "text", path, params)
      DedupIndex.appendSegment(spark, path, df(seg), "doc_id", "text")
      DedupIndex.delete(path, df(Seq(5L -> "", 41L -> "")).select("doc_id"))
      val idx = DedupIndex.read(spark, path)
      val batch = df(batchRows)
      def near(materialize: Boolean) =
        DedupIndex.nearDuplicatesAgainst(batch, idx, "doc_id", "text",
          threshold = 0.5, materialize = materialize)
      def triples(df: DataFrame) =
        df.collect().toSeq
          .map(r => (r.get(0).toString, r.get(1).toString,
            java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
          .sorted
      val (lazyPlan, materialized) = (near(materialize = false), near(materialize = true))
      materialized.schema shouldBe lazyPlan.schema
      val lazyRows = triples(lazyPlan)
      triples(materialized) shouldBe lazyRows
      // discriminative: several distinct scores, tombstoned ids masked
      lazyRows.map(_._3).distinct.size should be >= 3
      lazyRows.map(_._2) should not contain id(5L).toString
      lazyRows.map(_._2) should not contain id(41L).toString
      lazyRows.count(_._1 == id(120L).toString) should be >= 1
    }
  }

  test("a materialized dedupAgainst over a read index retains no blocks and " +
    "returns a join-free plan that does not read the index") {
    val (corpus, batch0) = mkCorpusAndBatch(13)
    val dir = Files.createTempDirectory("dedup_index_plan_").toString
    batch0.write.parquet(s"$dir/batch")
    val batch = spark.read.parquet(s"$dir/batch")
    DedupIndex.write(corpus, "doc_id", "text", s"$dir/index", params)
    val idx = DedupIndex.read(spark, s"$dir/index")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = DedupIndex.dedupAgainst(batch, idx, "doc_id", "text", threshold = 0.9)
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
    val plan = out.queryExecution.executedPlan.toString
    plan should include(s"$dir/batch")
    for (table <- Seq("exact", "buckets", "sets")) plan should not include s"$dir/index/$table"
    plan should not include "Join"
    plan should not include "InMemoryTableScan"
    out.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Dedup.dedupAgainst(batch, corpus, "doc_id", "text", shingleSize = 1,
        numHashes = 64, bands = 16, threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("job-count guard: one materialized dedupAgainst(...).count() over a " +
    "read index") {
    val (corpus, batch0) = mkCorpusAndBatch(17)
    val dir = Files.createTempDirectory("dedup_index_jobs_").toString
    batch0.write.parquet(s"$dir/batch")
    val batch = spark.read.parquet(s"$dir/batch")
    DedupIndex.write(corpus, "doc_id", "text", s"$dir/index", params)
    val idx = DedupIndex.read(spark, s"$dir/index")
    // 11 measured: the batch derived once (exchange + collect), the
    // exact filter, six jobs of the near plan over the derived rows
    // (two batch-side broadcasts, the buckets probe with its by-corpus
    // exchange, two broadcasts of the grouped candidates, the verify),
    // then the count's two (14 when the batch was derived per step, 17
    // before that)
    jobsStartedBy {
      DedupIndex.dedupAgainst(batch, idx, "doc_id", "text", threshold = 0.9).count()
    } should be <= 11
  }

  test("query over a read index scans parquet, not corpus text") {
    val (corpus, batch) = mkCorpusAndBatch(5)
    val path = Files.createTempDirectory("dedup_index_spec_").toString
    DedupIndex.write(corpus, "doc_id", "text", path, params)
    val idx = DedupIndex.read(spark, path)
    val plan = DedupIndex.nearDuplicatesAgainst(batch, idx, "doc_id", "text",
      threshold = 0.9, materialize = false)
      .queryExecution.executedPlan.toString
    // the corpus side must come from the stored index files
    plan should include("buckets")
    plan should include("sets")
    // and no corpus-side re-shingling: the only regexp/normalize chain
    // is the batch side (corpus text never appears in the plan)
    plan should not include "Scan ExistingRDD"
  }

  test("one index serves multiple thresholds") {
    val (corpus, batch) = mkCorpusAndBatch(31)
    val idx = DedupIndex.build(corpus, "doc_id", "text", params)
    for (th <- Seq(0.8, 0.9, 0.99)) {
      val direct = Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
        shingleSize = 1, numHashes = 64, bands = 16, threshold = th)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      DedupIndex.dedupAgainst(batch, idx, "doc_id", "text", threshold = th)
        .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe direct
    }
  }

  test("capped buckets are baked into the stored table") {
    // 30 identical corpus docs: every (band, bucket) holds all 30 ids;
    // cap below that drops the bucket AT BUILD TIME, so the stored
    // table is empty and the batch near-dup only sees exact matches
    val corpus = (0L until 30L).map(i => (i, "same text every time"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "same text every time different tail end"))
      .toDF("doc_id", "text")
    val small = DedupIndex.build(corpus, "doc_id", "text",
      params.copy(maxBucketSize = 10))
    small.buckets.count() shouldBe 0L
    DedupIndex.nearDuplicatesAgainst(batch, small, "doc_id", "text",
      threshold = 0.5).count() shouldBe 0L
    val big = DedupIndex.build(corpus, "doc_id", "text",
      params.copy(maxBucketSize = 100))
    DedupIndex.nearDuplicatesAgainst(batch, big, "doc_id", "text",
      threshold = 0.5).count() shouldBe 30L
  }

  test("appendSegment equals a monolithic rebuild (caps not binding)") {
    for (seed <- Seq(5, 17)) {
      val rng = new Random(seed)
      val partA = (0L until 15L).map(i => (i, mkDoc(rng)))
      val partB = (50L until 65L).map(i => (i, mkDoc(rng)))
      val batch = (100L until 120L).map { i =>
        rng.nextInt(3) match {
          case 0 => (i, (partA ++ partB)(rng.nextInt(30))._2)
          case 1 => (i, (partA ++ partB)(rng.nextInt(30))._2 + " omega")
          case _ => (i, mkDoc(rng))
        }
      }.toDF("doc_id", "text")

      val path = Files.createTempDirectory("dedup_index_seg_").toString
      DedupIndex.write(partA.toDF("doc_id", "text"), "doc_id", "text",
        path, params)
      DedupIndex.appendSegment(spark, path,
        partB.toDF("doc_id", "text"), "doc_id", "text")
      val segmented = DedupIndex.read(spark, path)
      segmented.params shouldBe params

      val rebuilt = DedupIndex.build(
        (partA ++ partB).toDF("doc_id", "text"), "doc_id", "text", params)
      def survivors(ix: DedupIndex.Index) =
        DedupIndex.dedupAgainst(batch, ix, "doc_id", "text", threshold = 0.9)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      survivors(segmented) shouldBe survivors(rebuilt)

      // a second append stacks as seg0001 and still serves the union
      DedupIndex.appendSegment(spark, path,
        Seq((200L, "omega omega kappa")).toDF("doc_id", "text"),
        "doc_id", "text")
      val twice = DedupIndex.read(spark, path)
      DedupIndex.dedupAgainst(
        Seq((300L, "omega omega kappa")).toDF("doc_id", "text"),
        twice, "doc_id", "text", threshold = 0.9).count() shouldBe 0L
    }
  }

  test("compact merges segments into the base and preserves answers") {
    val rng = new Random(23)
    val partA = (0L until 15L).map(i => (i, mkDoc(rng)))
    val partB = (50L until 65L).map(i => (i, mkDoc(rng)))
    val batch = (100L until 120L).map { i =>
      rng.nextInt(3) match {
        case 0 => (i, (partA ++ partB)(rng.nextInt(30))._2)
        case 1 => (i, (partA ++ partB)(rng.nextInt(30))._2 + " omega")
        case _ => (i, mkDoc(rng))
      }
    }.toDF("doc_id", "text")

    val path = Files.createTempDirectory("dedup_index_cmp_").toString
    DedupIndex.write(partA.toDF("doc_id", "text"), "doc_id", "text",
      path, params)
    DedupIndex.appendSegment(spark, path,
      partB.toDF("doc_id", "text"), "doc_id", "text")
    def survivors(ix: DedupIndex.Index) =
      DedupIndex.dedupAgainst(batch, ix, "doc_id", "text", threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = survivors(DedupIndex.read(spark, path))

    DedupIndex.compact(spark, path)
    // segments are gone, one base remains, answers unchanged
    new java.io.File(s"$path/segments").exists() shouldBe false
    new java.io.File(s"$path/compact_tmp").exists() shouldBe false
    survivors(DedupIndex.read(spark, path)) shouldBe before
    // compact equals the monolithic rebuild when caps never bound
    val rebuilt = DedupIndex.build(
      (partA ++ partB).toDF("doc_id", "text"), "doc_id", "text", params)
    survivors(DedupIndex.read(spark, path)) shouldBe survivors(rebuilt)
    // idempotent: compacting a segment-free index is a no-op
    DedupIndex.compact(spark, path)
    survivors(DedupIndex.read(spark, path)) shouldBe before
    // the compacted index still accepts new segments
    DedupIndex.appendSegment(spark, path,
      Seq((400L, "omega omega kappa")).toDF("doc_id", "text"),
      "doc_id", "text")
    DedupIndex.dedupAgainst(
      Seq((500L, "omega omega kappa")).toDF("doc_id", "text"),
      DedupIndex.read(spark, path), "doc_id", "text",
      threshold = 0.9).count() shouldBe 0L
  }

  test("delete tombstones: delete-then-dedupAgainst equals " +
    "rebuild-without-deleted, before and after compact") {
    val (corpus, batch) = mkCorpusAndBatch(31)
    val path = Files.createTempDirectory("dedup_index_del_").toString
    DedupIndex.write(corpus, "doc_id", "text", path, params)
    // delete a third of the corpus (two tombstone batches: appends merge)
    DedupIndex.delete(path, Seq(0L, 3L, 6L).toDF("doc_id"))
    DedupIndex.delete(path, Seq(9L, 12L, 15L).toDF("doc_id"))
    val deleted = Set(0L, 3L, 6L, 9L, 12L, 15L)
    val remaining = corpus.filter(!col("doc_id").isin(deleted.toSeq: _*))
    def survivors(ix: DedupIndex.Index) =
      DedupIndex.dedupAgainst(batch, ix, "doc_id", "text", threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def pairs(ix: DedupIndex.Index) =
      DedupIndex.nearDuplicatesAgainst(batch, ix, "doc_id", "text",
        threshold = 0.9)
        .select("batch_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = DedupIndex.build(remaining, "doc_id", "text", params)
    // tombstone reads serve rebuild-without-deleted semantics...
    survivors(DedupIndex.read(spark, path)) shouldBe survivors(rebuilt)
    pairs(DedupIndex.read(spark, path)) shouldBe pairs(rebuilt)
    // ...no near-dup pair ever names a deleted corpus doc...
    pairs(DedupIndex.read(spark, path))
      .map(_._2).intersect(deleted) shouldBe Set.empty
    // ...and compact folds the tombstones in physically: dir gone,
    // bucket member lists purged, answers unchanged
    DedupIndex.compact(spark, path)
    new java.io.File(s"$path/tombstones").exists() shouldBe false
    survivors(DedupIndex.read(spark, path)) shouldBe survivors(rebuilt)
    pairs(DedupIndex.read(spark, path)) shouldBe pairs(rebuilt)
    val idsLeft = DedupIndex.read(spark, path).buckets
      .select(explode(col("ids")).as("id"))
      .collect().map(_.getLong(0)).toSet
    idsLeft.intersect(deleted) shouldBe Set.empty
    // identical-text twin survives a single-sided delete: deleting one
    // of two docs with the same text must keep the fingerprint alive
    val twins = Seq((900L, "twin text alpha"), (901L, "twin text alpha"))
      .toDF("doc_id", "text")
    val tPath = Files.createTempDirectory("dedup_index_twin_").toString
    DedupIndex.write(twins, "doc_id", "text", tPath, params)
    DedupIndex.delete(tPath, Seq(900L).toDF("doc_id"))
    DedupIndex.dedupAgainst(
      Seq((950L, "twin text alpha")).toDF("doc_id", "text"),
      DedupIndex.read(spark, tPath), "doc_id", "text",
      threshold = 0.9).count() shouldBe 0L // still an exact dup of 901
  }

  test("tombstone fence: appendSegment refuses tombstoned ids; " +
    "re-licensing is delete -> compact -> append") {
    // LSM rule (fail-loud variant): a tombstone masks EVERY stored row
    // of its id until compact physically purges them. Clearing the
    // tombstone at append would un-mask the STALE base rows of that id
    // (resurrecting text that no longer exists), so appendSegment
    // REFUSES a batch carrying a tombstoned id and leaves the index
    // untouched; the documented re-licensing flow is
    // delete -> compact -> append.
    val (corpus, _) = mkCorpusAndBatch(47)
    val path = Files.createTempDirectory("dedup_index_fence_").toString
    DedupIndex.write(corpus, "doc_id", "text", path, params)
    val doc5 = corpus.filter(col("doc_id") === 5L)
    val text5 = doc5.select("text").head.getString(0)
    DedupIndex.delete(path, Seq(5L).toDF("doc_id"))
    // masked while deleted
    DedupIndex.dedupAgainst(
      Seq((800L, text5)).toDF("doc_id", "text"),
      DedupIndex.read(spark, path), "doc_id", "text",
      threshold = 0.9).count() shouldBe 1L
    DedupIndex.delete(path, Seq(7L).toDF("doc_id"))
    // the fence: re-ingesting 5 before compact raises...
    val err = intercept[IllegalArgumentException] {
      DedupIndex.appendSegment(spark, path, doc5, "doc_id", "text")
    }
    err.getMessage should include("tombstoned")
    // ...and the refused append left the index untouched: no segment
    // landed and 5 is still masked
    new java.io.File(s"$path/segments").exists() shouldBe false
    DedupIndex.read(spark, path).exact
      .filter(col("corpus_id") === 5L).count() shouldBe 0L
    // a batch of only-fresh ids still appends fine with pending deletes
    DedupIndex.appendSegment(spark, path,
      Seq((600L, "fresh omega kappa")).toDF("doc_id", "text"),
      "doc_id", "text")
    // re-licensing flow: compact purges 5/7 physically and clears the
    // tombstones, after which appending 5 succeeds and it is live
    DedupIndex.compact(spark, path)
    new java.io.File(s"$path/tombstones").exists() shouldBe false
    DedupIndex.appendSegment(spark, path, doc5, "doc_id", "text")
    def dupOf(t: String) = DedupIndex.dedupAgainst(
      Seq((801L, t)).toDF("doc_id", "text"),
      DedupIndex.read(spark, path), "doc_id", "text",
      threshold = 0.9).count() == 0L
    dupOf(text5) shouldBe true // re-added doc is live again
    // 7 stays physically purged (never re-appended)
    DedupIndex.read(spark, path).exact
      .filter(col("corpus_id") === 7L).count() shouldBe 0L
    DedupIndex.read(spark, path).exact
      .filter(col("corpus_id") === 5L).count() should be >= 1L
    // a later compact keeps the re-licensed doc live
    DedupIndex.compact(spark, path)
    dupOf(text5) shouldBe true
  }

  test("targeted purge: purge-then-append equals compact-then-append, " +
    "unrelated tombstones keep masking, and purge is idempotent") {
    val (corpus, batch) = mkCorpusAndBatch(61)
    def freshIndex(): String = {
      val p = Files.createTempDirectory("dedup_index_purge_").toString
      DedupIndex.write(corpus, "doc_id", "text", p, params)
      DedupIndex.delete(p, Seq(2L, 5L).toDF("doc_id"))
      DedupIndex.delete(p, Seq(8L).toDF("doc_id"))
      p
    }
    val doc5 = corpus.filter(col("doc_id") === 5L)
    def survivors(p: String) =
      DedupIndex.dedupAgainst(batch, DedupIndex.read(spark, p),
        "doc_id", "text", threshold = 0.9)
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // path A: full compact, then re-append 5
    val viaCompact = freshIndex()
    DedupIndex.compact(spark, viaCompact)
    DedupIndex.appendSegment(spark, viaCompact, doc5, "doc_id", "text")

    // path B: targeted purge of JUST 5, then re-append 5
    val viaPurge = freshIndex()
    DedupIndex.purge(spark, viaPurge, Seq(5L).toDF("doc_id"))
    // fence is lifted for 5...
    DedupIndex.appendSegment(spark, viaPurge, doc5, "doc_id", "text")
    // ...but still refuses the STILL-tombstoned ids (2, 8)
    intercept[IllegalArgumentException] {
      DedupIndex.appendSegment(spark, viaPurge,
        corpus.filter(col("doc_id") === 2L), "doc_id", "text")
    }
    survivors(viaPurge) shouldBe survivors(viaCompact)

    // the purged id's stale rows are physically gone everywhere and
    // the remaining tombstones still mask 2 and 8
    val idx = DedupIndex.read(spark, viaPurge)
    idx.exact.filter(col("corpus_id").isin(2L, 8L)).count() shouldBe 0L
    idx.sets.filter(col("corpus_id").isin(2L, 8L)).count() shouldBe 0L
    // re-appended 5 is live (exactly its new segment rows)
    idx.exact.filter(col("corpus_id") === 5L).count() shouldBe 1L

    // purging an id that is NOT tombstoned is a no-op (never deletes
    // live rows), and re-running a purge is idempotent
    val before = idx.exact.count()
    DedupIndex.purge(spark, viaPurge, Seq(1L).toDF("doc_id"))
    DedupIndex.purge(spark, viaPurge, Seq(5L).toDF("doc_id"))
    DedupIndex.read(spark, viaPurge).exact.count() shouldBe before
    // purging the LAST tombstones drops the directory entirely
    DedupIndex.purge(spark, viaPurge, Seq(2L, 8L).toDF("doc_id"))
    new java.io.File(s"$viaPurge/tombstones").exists() shouldBe false
    // and a final compact agrees with the compact-path index
    DedupIndex.compact(spark, viaPurge)
    survivors(viaPurge) shouldBe survivors(viaCompact)
  }

  test("maintenanceAdvice folds stats into compact/none with exact " +
    "strict-inequality edges") {
    val (corpus, _) = mkCorpusAndBatch(87)
    val path = Files.createTempDirectory("dedup_index_advice_").toString
    DedupIndex.write(corpus, "doc_id", "text", path, params)
    def verdict(th: DedupIndex.AdviceThresholds): String =
      DedupIndex.maintenanceAdvice(spark, path, th)
        .select("advice").head.getString(0)
    def firedRules(th: DedupIndex.AdviceThresholds): Set[String] =
      DedupIndex.maintenanceAdvice(spark, path, th)
        .filter(col("fired")).select("rule")
        .collect().map(_.getString(0)).toSet

    // fresh index: nothing to fold
    verdict(DedupIndex.AdviceThresholds()) shouldBe "none"

    // segment debt fires past maxSegments, edge is strict
    for (i <- 0 until 3)
      DedupIndex.appendSegment(spark, path,
        Seq((100L + i, s"fresh appended doc number $i")).toDF("doc_id", "text"),
        "doc_id", "text")
    verdict(DedupIndex.AdviceThresholds(maxSegments = 2)) shouldBe "compact"
    firedRules(DedupIndex.AdviceThresholds(maxSegments = 2)) shouldBe
      Set("segments")
    verdict(DedupIndex.AdviceThresholds(maxSegments = 3)) shouldBe "none"

    // tombstone backlog fires on mass relative to live rows
    DedupIndex.delete(path, Seq(0L, 1L, 2L).toDF("doc_id"))
    val st = DedupIndex.stats(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    st("tombstones_pending") shouldBe 3L
    val obs = 100L * st("tombstones_pending")
    val pNoFire = (obs + st("exact_rows") - 1) / st("exact_rows")
    verdict(DedupIndex.AdviceThresholds(maxSegments = 100,
      maxTombstonePct = pNoFire - 1)) shouldBe "compact"
    firedRules(DedupIndex.AdviceThresholds(maxSegments = 100,
      maxTombstonePct = pNoFire - 1)) shouldBe Set("tombstone_mass")
    verdict(DedupIndex.AdviceThresholds(maxSegments = 100,
      maxTombstonePct = pNoFire)) shouldBe "none"

    // acting on the advice clears every trigger
    DedupIndex.compact(spark, path)
    verdict(DedupIndex.AdviceThresholds(maxSegments = 0,
      maxTombstonePct = 0)) shouldBe "none"

    // autoMaintain = decide + act + audit trail, idempotent at the
    // fixpoint
    DedupIndex.appendSegment(spark, path,
      Seq((200L, "another fresh appended document")).toDF("doc_id", "text"),
      "doc_id", "text")
    def act(th: DedupIndex.AdviceThresholds) =
      DedupIndex.autoMaintain(spark, path, th)
        .select("action").head.getString(0)
    act(DedupIndex.AdviceThresholds(maxSegments = 0)) shouldBe "compact"
    DedupIndex.stats(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .apply("segments_pending") shouldBe 0L
    act(DedupIndex.AdviceThresholds(maxSegments = 0)) shouldBe "none"
  }

  test("crashed tombstone swap fails loud: tombstones_old without " +
    "tombstones is mid-swap evidence, not 'no pending deletes'") {
    val (corpus, batch) = mkCorpusAndBatch(77)
    val path = Files.createTempDirectory("dedup_index_tswap_").toString
    DedupIndex.write(corpus, "doc_id", "text", path, params)
    DedupIndex.delete(path, Seq(2L, 5L).toDF("doc_id"))
    val live = new java.io.File(s"$path/tombstones")
    val aside = new java.io.File(s"$path/tombstones_old")

    // simulate a purge crash BETWEEN the two swap renames: the live
    // table has gone aside, the reduced copy never landed. Absence of
    // tombstones/ must NOT read as "no deletes" — that would un-mask
    // the still-pending takedowns of 2 and 5.
    live.renameTo(aside) shouldBe true
    val err = intercept[IllegalArgumentException] {
      DedupIndex.read(spark, path)
    }
    err.getMessage should include("tombstones_old")
    intercept[IllegalArgumentException] {
      DedupIndex.stats(spark, path)
    }
    // the appendSegment fence consults the same reader — a crashed
    // swap must not let a tombstoned id slip back in
    intercept[IllegalArgumentException] {
      DedupIndex.appendSegment(spark, path,
        corpus.filter(col("doc_id") === 2L), "doc_id", "text")
    }

    // documented recovery: rename the aside copy back — everything
    // serves again with the takedowns still masked
    aside.renameTo(live) shouldBe true
    val idx = DedupIndex.read(spark, path)
    idx.exact.filter(col("corpus_id").isin(2L, 5L)).count() shouldBe 0L

    // the OTHER crash state — swap finished, cleanup crashed, BOTH
    // dirs present — is benign: the live (reduced) table wins
    DedupIndex.purge(spark, path, Seq(2L).toDF("doc_id"))
    Seq(5L).toDF("corpus_id").write.parquet(aside.toString)
    val idx2 = DedupIndex.read(spark, path) // no throw
    idx2.sets.filter(col("corpus_id") === 5L).count() shouldBe 0L
    new java.io.File(aside.toString).exists() shouldBe true // untouched

    // a crashed COMPACT (marker present) fences purge exactly like
    // read: purging through a duplicate-row state would cement it
    val marker = new java.io.File(s"$path/compact_pending")
    marker.createNewFile() shouldBe true
    val e2 = intercept[IllegalArgumentException] {
      DedupIndex.purge(spark, path, Seq(5L).toDF("doc_id"))
    }
    e2.getMessage should include("compact_pending")
    marker.delete() shouldBe true
    DedupIndex.purge(spark, path, Seq(5L).toDF("doc_id")) // serves again
    DedupIndex.dedupAgainst(batch, DedupIndex.read(spark, path),
      "doc_id", "text", threshold = 0.9).count() should be >= 0L
  }
}
