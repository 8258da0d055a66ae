package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`Array[Float]`): brute-force
  * cosine top-k as the verifiable baseline, and an IVF (inverted-file)
  * variant as the 100 TB scale path. North-star extension per SURVEY §2.11.
  *
  * Scale design:
  *   - queries are always broadcast (a query set is small by definition);
  *     the corpus side streams map-only;
  *   - brute-force top-k is two-stage: a per-partition bounded heap
  *     (mapPartitions, k×Q state) then a tiny final top-k per query — the
  *     N×Q candidate stream is reduced to P×Q×k before any shuffle;
  *   - the IVF variant prunes the corpus to `nProbe` of `nCells` cells
  *     (centroid assignment is one broadcast pass; per-query work drops by
  *     ~nCells/nProbe at some recall cost — measured in the spec).
  *
  * Dot products fold left-to-right in double so scores are
  * bit-reproducible across engines (same contract as
  * [[graft.inference.Models.ArrayLinear]]).
  */
object Similarity {

  /** Sequential-fold dot product of two float vectors, in double. */
  def dot(a: collection.Seq[Float], b: collection.Seq[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  def norm(a: collection.Seq[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  def cosine(a: collection.Seq[Float], b: collection.Seq[Float]): Double = {
    val d = norm(a) * norm(b)
    if (d == 0.0) 0.0 else dot(a, b) / d
  }

  private val resultSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Brute-force cosine top-k: for each (queryId, queryVec) in the
    * broadcast query set, the k corpus rows with highest cosine
    * similarity (ties broken by ascending vec_id — total order, so
    * results are deterministic and oracle-checkable).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: Seq[(Long, Array[Float])],
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(queries)
    val idIdx = corpus.schema.fieldIndex(idCol)
    val vecIdx = corpus.schema.fieldIndex(vecCol)

    // stage 1: per-partition top-k per query, bounded state
    val partial = corpus.mapPartitions { rows =>
      val qs = bc.value
      val heaps = qs.map { case (qid, _) =>
        qid -> new BoundedTopK(k)
      }.toMap
      rows.foreach { row =>
        val id = row.getLong(idIdx)
        val vec = row.getSeq[Float](vecIdx)
        qs.foreach { case (qid, qvec) =>
          heaps(qid).offer(id, cosine(vec, qvec))
        }
      }
      heaps.iterator.flatMap { case (qid, heap) =>
        heap.results.map { case (id, score) => Row(qid, id, score) }
      }
    }(Encoders.row(resultSchema))

    // stage 2: global top-k per query over P×Q×k rows
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    partial.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Bounded top-k accumulator ordered by (score desc, id asc). */
  private[sim] final class BoundedTopK(k: Int) {
    private val heap = new java.util.PriorityQueue[(Long, Double)](
      k + 1,
      (x: (Long, Double), y: (Long, Double)) => {
        // min-heap on the keep order: worst element first
        val c = java.lang.Double.compare(x._2, y._2)
        if (c != 0) c else java.lang.Long.compare(y._1, x._1)
      })
    def offer(id: Long, score: Double): Unit = {
      heap.offer((id, score))
      if (heap.size > k) heap.poll()
    }
    def results: Seq[(Long, Double)] = {
      import scala.jdk.CollectionConverters._
      heap.iterator().asScala.toSeq.sortBy { case (id, s) => (-s, id) }
    }
  }

  // ---- IVF (inverted-file) approximate search ----

  /** IVF index: corpus rows assigned to their nearest centroid cell.
    * Centroids come from a seeded sample of the corpus (k-means-free
    * variant — for training-data pipelines the sample spread is
    * sufficient and fully deterministic).
    */
  final case class IvfIndex(
      assigned: DataFrame,
      centroids: Seq[(Int, Array[Float])],
      idCol: String,
      vecCol: String)

  def buildIvf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      seed: Long = 42L): IvfIndex = {
    val sampled = corpus
      .select(col(vecCol))
      .orderBy(xxhash64(col(vecCol).cast("array<double>").cast("string"), lit(seed)))
      .limit(nCells)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0).toArray) }
      .toSeq
    buildIvfWithCentroids(corpus, idCol, vecCol, sampled)
  }

  /** [[buildIvf]] with CALLER-SUPPLIED centroids — the seam for
    * externally-chosen cells (a k-means pass, a prior index's
    * centroids, or an engine-replayable deterministic set, as q66's
    * oracle needs). Cell ids must be the centroids' positions in the
    * list contract used everywhere: assignment tie-breaks on the
    * smallest cell id.
    */
  def buildIvfWithCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Array[Float])]): IvfIndex = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val sampled = centroids
    val bc = corpus.sparkSession.sparkContext.broadcast(sampled)
    val vecIdx = corpus.schema.fieldIndex(vecCol)
    val outSchema = corpus.schema.add("cell", IntegerType, nullable = false)
    val assigned = corpus.mapPartitions { rows =>
      val cents = bc.value
      rows.map { row =>
        val vec = row.getSeq[Float](vecIdx)
        val cell = cents.minBy { case (i, c) => (-cosine(vec, c), i) }._1
        Row.fromSeq(row.toSeq :+ cell)
      }
    }(Encoders.row(outSchema))
    IvfIndex(assigned, sampled, idCol, vecCol)
  }

  /** Write an IVF index to disk partitioned by cell, so reading it back
    * turns [[ivfTopK]]'s cell filter into real partition pruning: a
    * probe of `nProbe` of `nCells` cells reads only those directories
    * (`PartitionFilters` at the scan — asserted in SimilaritySpec). This
    * is the storage layout a 100 TB corpus needs: assignment runs once,
    * and every subsequent query batch scans ~nProbe/nCells of the data.
    * Centroids (nCells rows) are stored alongside.
    */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/assigned")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** LSM segment directories of an on-disk IVF index — written by
    * [[graft.streaming.Streaming.ivfIngestSink]], folded back into the
    * base by [[compactIvfIndex]]. Sorted by name for determinism.
    * These are the PHYSICAL directories; [[servedSegmentDirs]] is the
    * set a read actually unions (segments folded into a committed
    * generation are excluded until their eager GC completes).
    */
  private[graft] def ivfSegmentDirs(
      spark: SparkSession, path: String): Seq[String] = {
    val segRoot = new org.apache.hadoop.fs.Path(s"$path/segments")
    val fs = segRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(segRoot)) Nil
    else fs.listStatus(segRoot).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("seg"))
      .sortBy(_.getName)
      .map(_.toString)
  }

  // ---- generational base layout ------------------------------------
  //
  // Compaction swaps the base ASSIGNED table by GENERATION instead of
  // in place: gen M+1 is written whole under `generations/gen=M+1/`,
  // then committed by atomically renaming a `_COMMITTED` manifest into
  // the directory — the manifest lists the segment names the
  // generation folded, so readers that resolve gen M+1 exclude them
  // even if a crash left their directories behind. Readers never
  // observe a half-swapped tree: resolution picks the highest
  // COMMITTED generation, a partially-written generation has no
  // manifest and is invisible, and the previous generation survives
  // one compaction as a grace copy for readers that resolved before
  // the commit (the old compact_pending marker becomes unnecessary on
  // the read path; the guards stay for legacy in-place trees). The
  // residual races, documented honestly: a reader racing TWO
  // consecutive compactions can lose its grace generation to the
  // second one's GC, and folded segment directories are GC'd eagerly
  // after commit, so a reader mid-scan of a segment fails loud
  // (FileNotFound) rather than reading it twice. [[writeIvfIndex]]
  // keeps writing the flat legacy layout; an index upgrades on its
  // first compact.

  private def generationsRoot(path: String) = s"$path/generations"

  /** `cell` as the partition-column schema for pinned multi-path reads
    * of the cell-partitioned `assigned` tables (the footer schema
    * excludes partition columns).
    */
  private val cellPartitionCol = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(
      "cell", org.apache.spark.sql.types.IntegerType)))

  /** The latest COMMITTED generation, if the index uses the
    * generational layout — [[graft.core.Generations.latest]].
    */
  private[sim] def latestGeneration(
      spark: SparkSession, path: String): Option[(String, Int, Set[String])] =
    graft.core.Generations.latest(spark, path)

  /** The directory of the SERVED base `assigned` table — the latest
    * committed generation's, or the flat legacy `assigned` for an
    * index no compaction has upgraded yet. Public because operators
    * and tests that reason about the physical layout (file counts,
    * partition directories) must look where reads actually look.
    */
  def servedAssignedDir(spark: SparkSession, path: String): String =
    latestGeneration(spark, path)
      .map { case (g, _, _) => s"$g/assigned" }
      .getOrElse(s"$path/assigned")

  /** Segment directories a read serves: physical segments minus those
    * folded into the latest committed generation (present only in the
    * crash window between a commit and its eager GC).
    */
  private[sim] def servedSegmentDirs(
      spark: SparkSession, path: String): Seq[String] = {
    val folded = latestGeneration(spark, path)
      .map(_._3).getOrElse(Set.empty[String])
    ivfSegmentDirs(spark, path)
      .filterNot(d => folded.contains(d.split('/').last))
  }


  /** Read an IVF index written by [[writeIvfIndex]] (+ any streaming
    * segments): the served table is the UNION of the base `assigned`
    * and every segment's — each union arm is its own cell-partitioned
    * parquet scan, so [[ivfTopK]]'s cell filter still partition-prunes
    * every arm (the filter pushes through the union).
    */
  def readIvfIndex(
      spark: SparkSession, path: String, idCol: String, vecCol: String): IvfIndex = {
    // one pinned-schema relation per root over base + segments
    // instead of inferring each root's schema (all roots share one
    // writer/schema; cell stays a partition column, so the probe-time
    // cell filter partition-prunes every root exactly as before) —
    // per-root schema inference was the dominant driver cost here
    val assigned = graft.core.ParquetMeta.readPinned(
      spark, servedAssignedRoots(spark, path), partitionCols = cellPartitionCol)
    IvfIndex(assigned, readIvfCentroids(spark, path), idCol, vecCol)
  }

  /** The `assigned` directories a read serves — the base first, then
    * each served segment's — after the fail-loud maintenance-marker
    * guards every read path shares.
    */
  private def servedAssignedRoots(spark: SparkSession, path: String): Seq[String] = {
    // a retrain crashed between its assigned/centroids swaps leaves a
    // GEOMETRICALLY inconsistent index (new cells, old centroid table)
    // that would answer probes plausibly but wrong — fail loud instead
    val marker = new org.apache.hadoop.fs.Path(s"$path/retrain_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(marker),
      s"IVF index at $path is mid-retrain (retrain_pending marker " +
        "present) — a crashed compactIvfIndexWithRetrain left the " +
        "assigned/centroids tables possibly inconsistent; recover " +
        "from the *_old / compact_tmp copies, then remove the marker")
    // a compaction crashed after its swap but before the segments/
    // cleanup would serve every segment row twice (the swapped base
    // already contains them) — fail loud. Recovery: if assigned_old
    // exists, finish the FsSwap recovery first; otherwise the swapped
    // assigned table is complete — delete segments/, compact_tmp/ and
    // the marker.
    val cMarker = new org.apache.hadoop.fs.Path(s"$path/compact_pending")
    require(!fs.exists(cMarker),
      s"IVF index at $path is mid-compaction (compact_pending marker " +
        "present) — a crashed legacy-layout compactIvfIndex may have " +
        "left segment rows both merged into the base and live under " +
        "segments/; delete segments/ and compact_tmp/ (the swapped " +
        "base is complete), then remove the marker")
    // generational resolution: the base is the latest COMMITTED
    // generation (its manifest excludes the segments it folded —
    // present only in the crash window before their eager GC);
    // legacy flat layout when no compaction has upgraded the tree
    servedAssignedDir(spark, path) +:
      servedSegmentDirs(spark, path).map(r => s"$r/assigned")
  }

  /** Served shape of an on-disk IVF index: segment count, base rows,
    * segment rows and rows per cell.
    */
  private final case class ServedCells(
      segments: Int, baseRows: Long, segmentRows: Long, perCell: Map[Int, Long])

  /** [[ServedCells]] of the index at `path`. Every `assigned` table is
    * written `partitionBy("cell")` and IVF has no tombstones (deletion
    * rewrites the cell files), so the Parquet footers of the `cell=N`
    * directories hold exactly the served counts: no Spark job. A root
    * with rows outside a `cell=N` directory is a layout no writer here
    * produces, and fails loud.
    */
  private def servedCells(spark: SparkSession, path: String): ServedCells = {
    val roots = servedAssignedRoots(spark, path)
    // footers' pinned schema is the one-writer guard reads apply
    val perRoot = roots.zip(graft.core.ParquetMeta.footers(spark, roots).counts)
      .map { case (r, counts) =>
        counts.filter(_._2 > 0L).map { case (dir, n) =>
          val cell = Some(dir).filter(_.startsWith("cell="))
            .flatMap(_.stripPrefix("cell=").toIntOption)
          require(cell.isDefined,
            s"IVF table $r holds rows outside a cell=N directory " +
              s"(${if (dir.isEmpty) "at its root" else dir}) — every " +
              "assigned table is written partitionBy(\"cell\"); rebuild " +
              "the index with writeIvfIndex")
          cell.get -> n
        }
      }
    ServedCells(roots.size - 1, perRoot.head.values.sum, perRoot.tail.map(_.values.sum).sum,
      perRoot.flatten.groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** The stored centroid table of an on-disk index (nCells rows —
    * bounded driver collect by construction).
    */
  def readIvfCentroids(
      spark: SparkSession, path: String): Seq[(Int, Array[Float])] = {
    // a retrained generation carries its own centroid table (the
    // geometric twin of its assigned table — committing them together
    // is what makes retrain atomic); compaction-only generations and
    // legacy trees serve the top-level table
    val dir = latestGeneration(spark, path) match {
      case Some((g, _, _)) =>
        val p = new org.apache.hadoop.fs.Path(s"$g/centroids")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) s"$g/centroids" else s"$path/centroids"
      case None => s"$path/centroids"
    }
    // fingerprint-cached bounded collect (nCells rows): the centroid
    // table only changes on retrain, which writes new files and so
    // invalidates the cache; serving/planning paths re-read it per call
    graft.core.ParquetMeta.cachedRows(spark, dir)
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
      .sortBy(_._1)
      .toSeq
  }

  /** Append a vector batch to an on-disk IVF index WITHOUT a rebuild —
    * the index-MAINTENANCE half of the 100 TB ANN story: a daily
    * ingest batch costs one map-only assignment against the STORED
    * centroids plus an append of batch-sized parquet into the
    * cell-partitioned layout; the existing corpus is never re-read.
    * Because assignment is per-row and fully centroid-determined,
    * existing rows' cells cannot change, so the read-back index is
    * row-identical to a full rebuild over old ∪ new with the same
    * centroids (pinned in SimilaritySpec) — every [[ivfTopK]]
    * guarantee carries over unchanged. Centroid drift under sustained
    * appends is a caller policy (periodic rebuild); the index is exact
    * for whatever centroids it stores.
    */
  def appendToIvfIndex(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val centroids = readIvfCentroids(spark, path)
    require(centroids.nonEmpty, s"no centroids stored under $path")
    buildIvfWithCentroids(batch, idCol, vecCol, centroids)
      .assigned.write.partitionBy("cell").mode("append")
      .parquet(servedAssignedDir(spark, path))
  }

  /** Append a vector batch as a NEW LSM SEGMENT under
    * `segments/segNNNN/` — [[graft.dedup.DedupIndex.appendSegment]]'s
    * ANN twin, and the batch-mode form of what
    * [[graft.streaming.Streaming.ivfIngestSink]] does per micro-batch:
    * assign against the STORED centroids (one map-only broadcast
    * pass — the existing corpus is never read) and land the
    * cell-partitioned result as its own segment directory, leaving the
    * base untouched (contrast [[appendToIvfIndex]], which appends
    * files INTO the base cell directories). [[readIvfIndex]] serves
    * base ∪ segments; [[compactIvfIndex]] folds segments back in.
    *
    * `segmentName` (must start with "seg") pins the directory name —
    * the same replay-safety seam as the dedup index: a redelivered
    * batch overwrites its own segment instead of appending twice.
    */
  def appendIvfSegment(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String,
      segmentName: Option[String] = None): Unit = {
    val centroids = readIvfCentroids(spark, path)
    require(centroids.nonEmpty, s"no centroids stored under $path")
    val name = segmentName match {
      case Some(n) =>
        require(n.startsWith("seg") && !n.contains('/'),
          s"segment name must start with 'seg' and hold no '/', got $n")
        n
      case None =>
        val next = ivfSegmentDirs(spark, path)
          .flatMap(_.split('/').last.stripPrefix("seg").toIntOption)
          .foldLeft(-1)(math.max) + 1
        f"seg$next%04d"
    }
    // free the name BEFORE landing the segment: drop stale
    // folded-manifest entries (a stream restarting with a fresh
    // checkpoint reuses batchId names a prior compact folded and
    // GC'd — the stale entry would silently exclude the NEW segment),
    // and delete a folded-but-unGC'd dir holding this name (its dead
    // rows must not mask the replayed batch)
    graft.core.Generations.prepareSegmentLanding(spark, path, Some(name))
    buildIvfWithCentroids(batch, idCol, vecCol, centroids)
      .assigned.write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/segments/$name/assigned")
  }

  /** Operational introspection of an on-disk IVF index —
    * [[graft.dedup.DedupIndex.stats]]'s ANN twin, and the readout that
    * makes [[compactIvfIndexWithRetrain]]'s maintenance decision
    * MEASURABLE: under sustained drifted ingest the day-0 cells grow
    * lopsided, probe recall silently degrades, and nothing in the
    * serving path says so. One row per statistic, all exact integers:
    *
    *   - `n_cells` / `segments_pending` / `base_rows` / `segment_rows`
    *     — index shape (how many scans a read unions, how much of the
    *     corpus sits outside the compacted base);
    *   - `min_cell_rows` / `max_cell_rows` / `empty_cells` — the
    *     served per-cell histogram, zero-filled over the centroid
    *     table so dead cells COUNT (an empty cell is pure probe waste:
    *     a probe budget slot that can never return a row);
    *   - `skew_x100` — ⌊100 · max_cell_rows · n_cells / total_rows⌋,
    *     the hottest cell as a percentage of the perfectly-balanced
    *     mean (100 = balanced; 1600 on a 16-cell index = one cell
    *     holds everything). High skew means probes ranked into the hot
    *     cell scan far more than corpus/nCells rows — retrain;
    *   - `deleted_since_retrain` — the erasure-side staleness signal:
    *     total vectors [[removeFromIvfIndex]] has journaled since the
    *     centroids were last fit (deletions lopside day-0 cells the
    *     same way drifted appends do); reset by
    *     [[compactIvfIndexWithRetrain]].
    *
    * Sources: `n_cells` is the centroid table's size;
    * `segments_pending` the served segment directories; `base_rows`,
    * `segment_rows` and the per-cell histogram come from the Parquet
    * footers of the `cell=N` directories ([[servedCells]]: exact, since
    * IVF has no tombstones); `deleted_since_retrain` sums the journal (a
    * Spark aggregation when the journal exists). So with warm parameter
    * caches and no
    * journal the readout starts no Spark job; the driver-side fold is
    * bounded by nCells. q253 pins every number against DuckDB
    * replaying the assignment and the same integer arithmetic.
    */
  def ivfStats(
      spark: SparkSession, path: String,
      idCol: String, vecCol: String): DataFrame =
    // resolve-then-count is eager, so a compact racing this call can
    // GC a resolved segment (or a footer) mid-count — retry re-resolves
    // to the committed generation holding the same rows
    graft.core.Generations.retryOnLostSegments() {
    import spark.implicits._
    val centroids = readIvfCentroids(spark, path)
    val nCells = centroids.size.toLong
    // SERVED segments only: directories folded into the latest
    // committed generation are dead (crash window before eager GC);
    // marker guards apply (reads fail loud mid-maintenance)
    val served = servedCells(spark, path)
    val perCell = centroids.map { case (c, _) => served.perCell.getOrElse(c, 0L) }
    val total = served.baseRows + served.segmentRows
    val maxCell = if (perCell.isEmpty) 0L else perCell.max
    val skew = if (total == 0L) 0L else 100L * maxCell * nCells / total
    Seq(
      ("base_rows", served.baseRows),
      ("deleted_since_retrain", deletedSinceRetrain(spark, path)),
      ("empty_cells", perCell.count(_ == 0L).toLong),
      ("max_cell_rows", maxCell),
      ("min_cell_rows", if (perCell.isEmpty) 0L else perCell.min),
      ("n_cells", nCells),
      ("segment_rows", served.segmentRows),
      ("segments_pending", served.segments.toLong),
      ("skew_x100", skew))
      .toDF("stat", "value")
    }

  /** Thresholds for [[ivfMaintenanceAdvice]], all exact integers so
    * the decision replays bit-for-bit in SQL. A rule fires when its
    * `observed` strictly exceeds its `bound` (see each rule's docs).
    */
  final case class IvfAdviceThresholds(
      maxSegments: Long = 4,
      maxSegmentRowsPct: Long = 25,
      maxSkewX100: Long = 400,
      maxDeletedPct: Long = 20)

  /** Fold [[ivfStats]]'s readouts into an operational VERDICT —
    * retrain / compact / none — with every triggering number attached.
    * This closes the "readout exists, pipeline ignores it" gap: q253's
    * stats and the deleted-mass journal made ANN maintenance
    * MEASURABLE; this makes the measurement drive the decision a
    * scheduler can act on, instead of an operator eyeballing skew_x100.
    *
    * Four rules, strict integer comparisons (`fired = observed >
    * bound`), evaluated over one [[ivfStats]] pass:
    *
    *   - `deleted_mass` (→ retrain): `100 · deleted_since_retrain >
    *     maxDeletedPct · live_rows` — the erasure-side staleness
    *     signal: centroids were fit to a corpus including the deleted
    *     mass;
    *   - `skew` (→ retrain): `skew_x100 > maxSkewX100` — the hottest
    *     cell serves more than maxSkewX100/100× the balanced mean, so
    *     probes ranked into it scan far more than corpus/nCells rows
    *     (drifted ingest lopsided the day-0 cells);
    *   - `segments` (→ compact): `segments_pending > maxSegments` —
    *     every probe unions one scan per segment;
    *   - `segment_rows` (→ compact): `100 · segment_rows >
    *     maxSegmentRowsPct · live_rows` — most of the corpus sits
    *     outside the cell-compacted base, so probe partition pruning
    *     covers ever less of what it scans.
    *
    * Verdict precedence: any retrain rule fired → `retrain` (the
    * retrain path [[compactIvfIndexWithRetrain]] subsumes compaction);
    * else any compact rule fired → `compact`; else `none`. Returned as
    * one row per rule `(rule, observed, bound, fired, advice)` with
    * the folded verdict repeated on every row — the full evidence
    * table, not just the conclusion (q259 recomputes rows AND verdict
    * from the raw tables in DuckDB). Driver-side cost: the
    * [[ivfStats]] collect (≤ 9 rows) plus integer arithmetic.
    */
  def ivfMaintenanceAdvice(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      thresholds: IvfAdviceThresholds = IvfAdviceThresholds()): DataFrame =
    foldAdviceRules(spark, statsRules(spark, path, idCol, vecCol, thresholds))

  /** The four [[ivfStats]]-derived rules of [[ivfMaintenanceAdvice]],
    * as (rule, observed, bound, kind) — shared with the audited
    * variant so both advice tables fold identically.
    */
  private def statsRules(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      thresholds: IvfAdviceThresholds): Seq[(String, Long, Long, String)] = {
    val st = ivfStats(spark, path, idCol, vecCol)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ 9 rows
    val live = st("base_rows") + st("segment_rows")
    Seq(
      ("deleted_mass", 100L * st("deleted_since_retrain"),
        thresholds.maxDeletedPct * live, "retrain"),
      ("segment_rows", 100L * st("segment_rows"),
        thresholds.maxSegmentRowsPct * live, "compact"),
      ("segments", st("segments_pending"), thresholds.maxSegments,
        "compact"),
      ("skew", st("skew_x100"), thresholds.maxSkewX100, "retrain"))
  }

  /** Fold (rule, observed, bound, kind) rows into the evidence table
    * with the precedence verdict repeated on every row — any retrain
    * rule fired → retrain, else any fired → compact, else none.
    */
  private def foldAdviceRules(
      spark: SparkSession,
      rules: Seq[(String, Long, Long, String)]): DataFrame = {
    import spark.implicits._
    val fired = rules.filter { case (_, obs, bound, _) => obs > bound }
    val advice =
      if (fired.exists(_._4 == "retrain")) "retrain"
      else if (fired.nonEmpty) "compact"
      else "none"
    rules.map { case (rule, obs, bound, _) =>
      (rule, obs, bound, obs > bound, advice)
    }.toDF("rule", "observed", "bound", "fired", "advice")
  }

  /** [[ivfMaintenanceAdvice]] with the EMPIRICAL recall audit folded
    * into the verdict — the loop [[ivfMeasuredRecall]]'s scaladoc
    * promised but no operator ran: the four stats rules see index
    * SHAPE (segments, deleted mass, skew), yet measured recall can
    * drift under a shape the thresholds tolerate (drifted ingest that
    * keeps cells balanced but decouples them from the query
    * distribution). This runs [[ivfMeasuredRecall]] on
    * `auditQueries` at the SERVING probe count and adds a fifth rule:
    *
    *   - `recall_deficit` (→ retrain): observed =
    *     `targetRecallPpm − ⌊Σ recall_ppm / nQueries⌋` (the exact
    *     integer mean over the sample), bound = 0 — fired exactly
    *     when measured mean recall lands strictly under the target.
    *
    * Same strict `observed > bound` semantics and the same precedence
    * fold, so the whole table — stats rules, the measured-recall mean
    * and the verdict — replays in SQL (q272). Cost: one [[ivfStats]]
    * pass + the audit's one brute-force corpus scan with bounded
    * per-query heaps — a maintenance-window price, not a serving one.
    */
  def ivfMaintenanceAdviceAudited(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      auditQueries: Seq[(Long, Array[Float])], auditK: Int,
      auditNProbe: Int, targetRecallPpm: Long,
      thresholds: IvfAdviceThresholds = IvfAdviceThresholds()): DataFrame = {
    require(auditQueries.nonEmpty,
      "ivfMaintenanceAdviceAudited needs a nonempty query sample")
    require(targetRecallPpm >= 0L && targetRecallPpm <= 1000000L,
      s"targetRecallPpm must be in [0, 1000000], got $targetRecallPpm")
    val measured = ivfMeasuredRecall(
      spark, path, idCol, vecCol, auditQueries, auditK, auditNProbe)
    val sumPpm = measured.agg(sum(col("recall_ppm"))).head.getLong(0)
    val meanPpm = sumPpm / auditQueries.size // exact floor (both >= 0)
    foldAdviceRules(spark,
      statsRules(spark, path, idCol, vecCol, thresholds) :+
        (("recall_deficit", targetRecallPpm - meanPpm, 0L, "retrain")))
  }

  /** Measure → decide → ACT with the recall audit in the loop —
    * [[ivfAutoMaintain]] driven by [[ivfMaintenanceAdviceAudited]]:
    * when measured recall on the sample lands under the target (or
    * any stats rule fires, same precedence), the verdict executes —
    * `retrain` re-fits the centroids to the corpus as ingested, which
    * is the re-plan lever that moves measured recall back up
    * (IvfRecallAuditSpec pins restore-to-target on a planted-skew
    * corpus). Returns the five-rule evidence with an `action` column.
    */
  def ivfAutoMaintainAudited(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      auditQueries: Seq[(Long, Array[Float])], auditK: Int,
      auditNProbe: Int, targetRecallPpm: Long,
      thresholds: IvfAdviceThresholds = IvfAdviceThresholds(),
      retrainIters: Int = 2,
      excludeSegments: Set[String] = Set.empty): DataFrame = {
    val advice = ivfMaintenanceAdviceAudited(spark, path, idCol, vecCol,
      auditQueries, auditK, auditNProbe, targetRecallPpm, thresholds)
    val verdict = advice.select("advice").head.getString(0)
    verdict match {
      case "retrain" =>
        compactIvfIndexWithRetrain(spark, path, idCol, vecCol,
          iters = retrainIters, excludeSegments = excludeSegments)
      case "compact" => compactIvfIndex(spark, path, excludeSegments)
      case _ => ()
    }
    advice.withColumn("action", lit(verdict))
  }

  /** The full measure → decide → ACT loop in one call — the operator
    * a maintenance scheduler actually runs: [[ivfMaintenanceAdvice]]
    * reads the verdict off [[ivfStats]] + the deleted-mass journal,
    * and this EXECUTES it — `retrain` →
    * [[compactIvfIndexWithRetrain]], `compact` → [[compactIvfIndex]],
    * `none` → no filesystem touch. Returns the advice evidence table
    * with an `action` column stating what ran, so the maintenance
    * decision is auditable after the fact (q265 proves the action
    * happened by replaying the POST-action stats in DuckDB — a
    * skipped compact leaves segments_pending ≠ 0 and fails the
    * compare). Idempotent at the fixpoint: after the action, a second
    * call at the same thresholds advises `none` (spec-pinned).
    *
    * `excludeSegments` exempts named segments from whatever action
    * runs (never folded, never GC'd; retrain re-assigns their live
    * dirs in place) — [[graft.streaming.Streaming.ivfIngestSink]]
    * passes the current micro-batch's segment so an in-loop compact
    * can never fold rows whose stream offsets are not yet committed
    * (a replayed batch would re-land them and they would serve twice).
    */
  def ivfAutoMaintain(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      thresholds: IvfAdviceThresholds = IvfAdviceThresholds(),
      retrainIters: Int = 2,
      excludeSegments: Set[String] = Set.empty): DataFrame = {
    val advice =
      ivfMaintenanceAdvice(spark, path, idCol, vecCol, thresholds)
    val verdict = advice.select("advice").head.getString(0)
    verdict match {
      case "retrain" =>
        compactIvfIndexWithRetrain(spark, path, idCol, vecCol,
          iters = retrainIters, excludeSegments = excludeSegments)
      case "compact" => compactIvfIndex(spark, path, excludeSegments)
      case _ => ()
    }
    advice.withColumn("action", lit(verdict))
  }

  /** The QUERY-side planner table the maintenance family implies but
    * round 15 left hand-tuned: [[ivfTopK]]'s `nProbe` was a
    * caller-chosen magic number with no recall model behind it. This
    * derives the model from the stored cell histogram (the same
    * readout [[ivfStats]] serves), one row per candidate `n_probe`
    * in [1, nCells]:
    *
    *   - `worst_rows` / `worst_mass_ppm` — the mass-coverage LOWER
    *     bound: whatever nProbe cells a query's centroid ranking
    *     selects, the probed rows are at least the nProbe SMALLEST
    *     cells' total, so under the corpus-mass neighbor model (the
    *     true neighbor's cell is distributed ∝ cell mass — exactly
    *     how a corpus-distributed query workload behaves) expected
    *     recall ≥ worst_mass_ppm / 10⁶ for ANY probed set;
    *   - `best_rows` / `best_mass_ppm` — the symmetric upper curve
    *     (probed set = the nProbe largest cells), bounding how much
    *     headroom a skew-aware router could still win;
    *   - `total_rows` — the served corpus mass the ppm columns divide
    *     by (floor division: both engines do the same integer fold).
    *
    * Ties order deterministically by (rows, cell) so the table —
    * like every planning table in this package (q250/q255/q262) — is
    * engine-replayable: q269 recomputes the assignment, the
    * zero-filled histogram, both cumulative curves and the ppm floor
    * divisions in DuckDB. Source: the centroid table and the served
    * per-cell histogram from the `cell=N` footers ([[servedCells]]) —
    * no Spark job with warm parameter caches; the nCells-row fold runs
    * on the driver.
    */
  def ivfProbePlanTable(
      spark: SparkSession, path: String,
      idCol: String, vecCol: String): DataFrame = {
    import spark.implicits._
    probePlanRows(spark, path).toDF("n_probe", "worst_rows", "best_rows",
      "total_rows", "worst_mass_ppm", "best_mass_ppm")
  }

  /** The rows of [[ivfProbePlanTable]], ascending in `n_probe`. */
  private def probePlanRows(
      spark: SparkSession, path: String): Seq[(Int, Long, Long, Long, Long, Long)] =
    graft.core.Generations.retryOnLostSegments() {
      val centroids = readIvfCentroids(spark, path)
      val hist = servedCells(spark, path).perCell
      val perCell = centroids.map { case (c, _) => (c, hist.getOrElse(c, 0L)) }
      val total = perCell.map(_._2).sum
      val asc = perCell.sortBy { case (c, n) => (n, c) }.map(_._2)
      val desc = perCell.sortBy { case (c, n) => (-n, c) }.map(_._2)
      val cumA = asc.scanLeft(0L)(_ + _).tail
      val cumD = desc.scanLeft(0L)(_ + _).tail
      (1 to perCell.size).map { i =>
        def ppm(cum: Long) =
          if (total == 0L) 1000000L else 1000000L * cum / total
        (i, cumA(i - 1), cumD(i - 1), total,
          ppm(cumA(i - 1)), ppm(cumD(i - 1)))
      }
    }

  /** The planner's decision: the minimal `nProbe` whose conservative
    * mass-coverage bound reaches `targetRecallPpm` (parts-per-million;
    * 900000 = "expected recall ≥ 0.9 under the corpus-mass neighbor
    * model"). Always defined: at nProbe = nCells the bound is exactly
    * 10⁶. Feed the result straight to [[ivfTopK]]; q269 pins the
    * argmin, SimilaritySpec pins that the planned nProbe actually
    * delivers the target recall on a planted-cluster corpus. Picked on
    * the driver from [[ivfProbePlanTable]]'s rows: no Spark job with
    * warm parameter caches.
    */
  def ivfProbePlan(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      targetRecallPpm: Long): Int = {
    require(targetRecallPpm >= 0L && targetRecallPpm <= 1000000L,
      s"targetRecallPpm must be in [0, 1000000], got $targetRecallPpm")
    probePlanRows(spark, path)
      .find(_._5 >= targetRecallPpm).map(_._1)
      .getOrElse(1) // no row only on k=0
  }

  /** The planner WIRED INTO SERVING — the [[ivfTopK]] entry a caller
    * who thinks in recall targets uses instead of a hand-tuned probe
    * count ([[graft.dedup.Dedup.nearDuplicatesPlanned]]'s ANN twin):
    * derive the minimal nProbe meeting `targetRecallPpm` from the
    * stored cell histogram ([[ivfProbePlan]]), then serve the top-k
    * through the partition-pruned probe path with it. Planning reads
    * the cell footers (no Spark job) and is amortizable by the caller
    * across a query batch (the histogram only moves with index
    * maintenance — re-plan after compact/retrain, not per query).
    * q270 pins the whole composition: DuckDB re-derives the pick from
    * the raw corpus and replays the probes at that derived count.
    */
  def ivfTopKPlanned(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Float])], k: Int,
      targetRecallPpm: Long): DataFrame = {
    val nProbe = ivfProbePlan(spark, path, idCol, vecCol, targetRecallPpm)
    ivfTopK(readIvfIndex(spark, path, idCol, vecCol), queries, k, nProbe)
  }

  /** A derived probe plan PINNED to the index generation it was
    * derived from — the amortization [[ivfTopKPlanned]]'s scaladoc
    * told callers to do by hand: the cell histogram (and therefore
    * the minimal nProbe for a target) only moves when maintenance
    * commits a new generation, so a serving batch should plan once
    * and reuse. `generation` is [[latestGeneration]]'s number at
    * derivation time (−1 = the legacy pre-generational layout), the
    * staleness key [[ivfTopKWithHandle]] checks on every serve.
    */
  final case class IvfPlanHandle(
      generation: Int, nProbe: Int, targetRecallPpm: Long)

  /** Derive a reusable [[IvfPlanHandle]]: one [[ivfProbePlan]]
    * histogram pass, stamped with the CURRENT committed generation.
    * The generation is resolved BEFORE the plan derivation — if a
    * maintenance commit lands between the two, the handle reads as
    * stale on first use and re-derives, which is the conservative
    * direction (never serving a plan newer than its stamp claims).
    */
  def ivfPlanHandle(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      targetRecallPpm: Long): IvfPlanHandle = {
    val gen = latestGeneration(spark, path).map(_._2).getOrElse(-1)
    IvfPlanHandle(gen,
      ivfProbePlan(spark, path, idCol, vecCol, targetRecallPpm),
      targetRecallPpm)
  }

  /** Serve a top-k batch through a cached plan handle — plan once,
    * serve many, invalidate on generation change: when the index
    * still sits at the handle's generation the serve costs ZERO
    * planning (no histogram pass, straight to the partition-pruned
    * probe path); when maintenance has committed a newer generation
    * the handle is STALE — the histogram it was derived from no
    * longer describes the served cells — and the call either
    * re-derives at the same target (`replanOnStale = true`, the
    * serving-loop default: one histogram pass, then serve) or fails
    * loud for callers that pin plans explicitly. Returns the handle
    * that actually served (fresh or re-derived) so the caller caches
    * forward. Handle-served results are IDENTICAL to per-call
    * [[ivfTopKPlanned]] at the same tree state (IvfPlanHandleSpec
    * pins equivalence and both staleness behaviors; q270 pins the
    * underlying composition against DuckDB).
    */
  def ivfTopKWithHandle(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Float])], k: Int,
      handle: IvfPlanHandle,
      replanOnStale: Boolean = true): (IvfPlanHandle, DataFrame) = {
    val cur = latestGeneration(spark, path).map(_._2).getOrElse(-1)
    val h =
      if (cur == handle.generation) handle
      else if (replanOnStale)
        ivfPlanHandle(spark, path, idCol, vecCol, handle.targetRecallPpm)
      else throw new IllegalStateException(
        s"stale IVF plan handle for $path: derived at generation " +
          s"${handle.generation}, index now serves generation $cur — " +
          "re-derive with ivfPlanHandle or pass replanOnStale = true")
    (h, ivfTopK(readIvfIndex(spark, path, idCol, vecCol), queries, k,
      h.nProbe))
  }

  /** The EMPIRICAL side of the probe-planning story — the auditor
    * that checks the model: [[ivfProbePlan]] promises recall from the
    * cell histogram under the corpus-mass neighbor model; this
    * MEASURES it on a query sample by running both the probed top-k
    * and the brute-force top-k over the same served corpus and
    * counting the overlap. One row per query
    * `(query_id, hits, k, recall_ppm)` with
    * `recall_ppm = ⌊10⁶ · hits / k⌋` — exact integers, so the whole
    * audit (both rankings, the intersection, the floor division)
    * replays in SQL (q271). A maintenance scheduler closes the loop
    * with it: plan at a target, serve, periodically audit a sample,
    * and re-plan (or retrain — skew is what decouples model from
    * measurement) when measured recall drifts under the target.
    *
    * Cost: the probed path is [[ivfTopK]] (partition-pruned); the
    * brute-force pass scans the corpus ONCE for the whole sample with
    * a bounded per-query heap ([[bruteForceTopK]]) — this is an audit
    * over a SAMPLE of queries, priced for a maintenance window, not
    * the serving path.
    */
  def ivfMeasuredRecall(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Float])], k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val index = readIvfIndex(spark, path, idCol, vecCol)
    val corpus = index.assigned.drop("cell")
    val approx = ivfTopK(index, queries, k, nProbe)
      .select(col("query_id"), col("vec_id"))
    val exact = bruteForceTopK(corpus, idCol, vecCol, queries, k)
      .select(col("query_id"), col("vec_id"))
    val hits = approx.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    queries.map(_._1).toDF("query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        lit(k.toLong).as("k"))
      // `div` is Spark's INTEGRAL division on bigints — bit-exact
      // against the oracle's `//` floor for any hits/k, unlike the
      // double `/`-then-cast it replaces (exact only while 10⁶·hits
      // stays within double's 2⁵³ integer range)
      .withColumn("recall_ppm", expr("(1000000 * hits) div k"))
  }

  /** Compact an on-disk IVF index's cell partitions — the maintenance
    * step [[appendToIvfIndex]] makes necessary (the
    * [[graft.dedup.DedupIndex.compact]] of the ANN family): every
    * append drops one batch-sized parquet file into EACH touched cell
    * directory, so a year of daily appends serves every probe through
    * hundreds of small files per cell (listing + open cost swamps the
    * scan at 100 TB). Compaction rewrites the assigned table with one
    * shuffle BY CELL — each cell's rows coalesce into a task's worth
    * of files — and publishes it as a NEW GENERATION committed by one
    * atomic manifest rename (see [[latestGeneration]]'s layout
    * contract). Assignments are untouched (cells are
    * centroid-determined per row), so the compacted index is
    * row-identical to the segmented one it replaces: every [[ivfTopK]]
    * guarantee carries over, pinned by q228 serving q66's oracle
    * through an appended-then-compacted index. Streaming segments
    * ([[graft.streaming.Streaming.ivfIngestSink]]) fold into the base
    * in the same pass; their directories are GC'd eagerly after the
    * commit. Centroid VALUES are not touched (the generation carries
    * the current table forward). Readers racing ONE compaction stay
    * consistent on the base — they resolve either the old generation
    * (kept as the grace copy) or the committed new one; a reader
    * racing a compaction while mid-scan of a folded SEGMENT fails
    * loud on the eager GC, and a reader racing TWO consecutive
    * compactions can lose its grace generation — run back-to-back
    * compactions in a maintenance window (IvfGenerationSpec pins the
    * single-compaction race).
    */
  def compactIvfIndex(
      spark: SparkSession, path: String,
      excludeSegments: Set[String] = Set.empty,
      graceDepth: Int = 1): Unit =
    compactGenerational(spark, path, None, None, excludeSegments,
      graceDepth)

  /** The shared generational compaction machinery (see the layout
    * comment on [[latestGeneration]]): write generation M+1 whole,
    * commit it atomically with the folded-segment manifest, then GC
    * what the commit made dead — folded segments eagerly, the
    * PRE-previous generation (one generation of grace survives for
    * readers that resolved before the commit). `retrained` carries a
    * new centroid table into the generation, making a retrain's
    * assigned/centroids swap ATOMIC (they commit together — the crash
    * window the old retrain_pending marker guarded no longer exists
    * on this layout).
    *
    * `excludeSegments` (directory names) are left OUT of the fold: not
    * unioned into the new base, not listed in the manifest, not GC'd —
    * they keep serving alongside the new generation. This is the
    * replay-idempotency contract for in-loop streaming maintenance
    * ([[graft.streaming.Streaming.ivfIngestSink]]): the current
    * micro-batch's segment must never be folded before Spark commits
    * the batch offsets, or a replayed batch re-lands rows the base
    * already absorbed and they serve twice. A RETRAIN re-assigns each
    * live excluded segment IN PLACE under the new centroids after the
    * commit (its stored cells were computed against the old ones —
    * serving them unmapped would probe wrong cells); a crash in that
    * window self-heals because the batch replays and
    * [[appendIvfSegment]] overwrites the segment with an assignment
    * against the newly-committed centroids.
    */
  private def compactGenerational(
      spark: SparkSession, path: String,
      retrained: Option[Seq[(Int, Array[Float])]],
      vecColForReassign: Option[String],
      excludeSegments: Set[String] = Set.empty,
      graceDepth: Int = 1): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = latestGeneration(spark, path)
    val curN = gen.map(_._2).getOrElse(-1)
    val curAssigned = servedAssignedDir(spark, path)
    val segs = servedSegmentDirs(spark, path)
      .filterNot(d => excludeSegments.contains(d.split('/').last))
    val target = s"${generationsRoot(path)}/gen=${curN + 1}"
    // a partial gen=curN+1 left by a crashed compact has no manifest
    // (invisible to readers) and is simply overwritten here
    val unioned = graft.core.ParquetMeta.readPinned(
      spark, curAssigned +: segs.map(r => s"$r/assigned"),
      partitionCols = cellPartitionCol)
    val rebuilt = retrained match {
      case Some(cents) =>
        buildIvfWithCentroids(
          unioned.drop("cell"), "", vecColForReassign.get, cents).assigned
      case None => unioned
    }
    // the generation ALWAYS carries its centroid table (retrained or
    // the current one re-written): generation-local resolution must
    // never fall back past a retrain to the stale day-0 top-level
    // table. nCells rows — cost is nil. Both writes are invisible
    // until the manifest commit below, so they overlap safely.
    val centroidRows = {
      import spark.implicits._
      retrained.getOrElse(readIvfCentroids(spark, path))
        .map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid")
    }
    graft.core.Par.awaitAll(
      () => rebuilt.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite")
        .parquet(s"$target/assigned"),
      () => centroidRows.repartition(1).write.mode("overwrite")
        .parquet(s"$target/centroids"))
    // THE COMMIT: atomic manifest rename — readers resolve gen curN+1
    // from this instant, excluding the folded segments by name; prior
    // folded names whose dirs a crashed GC left behind carry forward
    // (a dead segment must never re-enter service)
    val zombies = graft.core.Generations.commitGeneration(
      fs, path, target, segs.map(_.split('/').last).toSet,
      gen.map(_._3).getOrElse(Set.empty))
    retrained.foreach { _ =>
      // the retrained centroids reflect the post-delete corpus —
      // reset the deleted-mass journal [[ivfStats]] reads (after the
      // commit: a crash between the two overcounts staleness, the
      // conservative direction)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/deletions"), true)
    }
    // GC (shared discipline): folded segments eagerly (zombies from a
    // prior crashed GC included), one generation of grace — see
    // [[graft.core.Generations.gcAfterCommit]]
    graft.core.Generations.gcAfterCommit(
      fs, path, curN, segs ++ zombies,
      legacyChildren = Seq("assigned"), graceDepth = graceDepth)
    // geometric consistency for excluded segments under a RETRAIN: their
    // stored cells were assigned against the OLD centroids; re-assign
    // each live one in place under the new table (batch-sized rewrite —
    // exclusion exists for the current micro-batch, never the backlog)
    retrained.foreach { cents =>
      excludeSegments.toSeq.sorted.foreach { name =>
        val segAssigned = s"$path/segments/$name/assigned"
        if (fs.exists(new org.apache.hadoop.fs.Path(segAssigned))) {
          val rows = spark.read.parquet(segAssigned).drop("cell")
            .localCheckpoint(true) // pin before the overwrite deletes its input
          buildIvfWithCentroids(rows, "", vecColForReassign.get, cents)
            .assigned
            .repartition(col("cell"))
            .write.partitionBy("cell").mode("overwrite").parquet(segAssigned)
        }
      }
    }
  }


  /** [[compactIvfIndex]] with a CENTROID RETRAIN — the staleness
    * escape hatch for a continuously-ingested index: every streamed /
    * appended batch is assigned against the centroids the index was
    * BUILT with ([[appendToIvfIndex]] documents drift as caller
    * policy), so under sustained distribution drift the day-0 cells
    * grow lopsided and probe recall silently degrades. This runs the
    * compaction maintenance window one step further: re-cluster the
    * compacted corpus with [[KMeans.fit]] (deterministic
    * quantized-integer Lloyd rounds — bit-replayable, q44's oracle
    * contract), RE-ASSIGN every row against the new centroids (the
    * same smallest-cell-id cosine rule as [[buildIvfWithCentroids]]),
    * and swap BOTH the assigned table and the centroid table into
    * place with the rename-aside discipline. The result is
    * row-identical to a fresh [[buildIvf]]-style build over the
    * union corpus with the retrained centroids (pinned in
    * SimilaritySpec), so every [[ivfTopK]] guarantee holds with
    * cells that reflect the corpus as ingested, not as bootstrapped.
    *
    * `k` is taken from the stored centroid table (cell count is an
    * index invariant across maintenance). Cost: one k-means fit
    * (iters × (map-only assign + k×dim-group aggregate)) + one full
    * re-assign + the compaction rewrite — a maintenance-window rebuild
    * of the PARTITION LAYOUT only, amortized across the appends that
    * made it necessary; the corpus parquet is read, never re-derived.
    */
  def compactIvfIndexWithRetrain(
      spark: SparkSession, path: String, idCol: String, vecCol: String,
      iters: Int, quantBits: Int = 20,
      excludeSegments: Set[String] = Set.empty,
      graceDepth: Int = 1): Unit = {
    // excluded segments stay out of the fit corpus too (their rows are
    // an offset-uncommitted micro-batch — a replay would double-weight
    // them); compactGenerational re-assigns their live dirs in place
    // under the new centroids after the commit
    val roots = servedAssignedDir(spark, path) +:
      servedSegmentDirs(spark, path)
        .filterNot(d => excludeSegments.contains(d.split('/').last))
        .map(r => s"$r/assigned")
    val corpus = graft.core.ParquetMeta.readPinned(
      spark, roots, partitionCols = cellPartitionCol)
      .drop("cell")
    val k = readIvfCentroids(spark, path).size
    val fitted = KMeans.fit(corpus, idCol, vecCol, k, iters, quantBits)
    // centroids are stored as float vectors (the IvfIndex contract);
    // the double->float rounding is the same IEEE cast both engines
    // replay (CAST(... AS FLOAT[]) in the oracle)
    val newCents = fitted.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq
    // the generational machinery re-assigns every row against the new
    // centroids and commits assigned + centroids TOGETHER in one
    // manifest rename — the cross-table crash window the old
    // retrain_pending marker guarded does not exist on this layout
    compactGenerational(spark, path, Some(newCents), Some(vecCol),
      excludeSegments, graceDepth)
  }

  /** Surgical deletion from an on-disk IVF index — the
    * retention/GDPR-erasure half of index maintenance
    * ([[appendToIvfIndex]] grows, this shrinks): only the CELL
    * PARTITIONS containing a deleted id are read (partition pruning)
    * and rewritten (dynamic partition overwrite); a corpus-scale index
    * loses a handful of vectors at the cost of a handful of cells, not
    * a rebuild. A cell whose every vector is deleted needs its
    * directory removed explicitly — dynamic overwrite only replaces
    * partitions PRESENT in the output, so an emptied cell would
    * otherwise survive as a stale partition serving deleted vectors.
    *
    * `ids` is a DataFrame (one column, the id values) so deletion sets
    * scale past driver memory; the only collect is the affected-cell
    * list, bounded by nCells.
    */
  def removeFromIvfIndex(
      spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    // deletion rewrites BASE cell partitions only — with SERVED
    // streaming segments present it would silently keep deleted
    // vectors alive in the segments; compact first (erasure is a
    // maintenance-window op). Folded-but-not-yet-GC'd segment dirs are
    // dead data and no obstacle; their bytes disappear with the GC.
    require(servedSegmentDirs(spark, path).isEmpty,
      s"removeFromIvfIndex: index at $path has streaming segments — " +
        "run compactIvfIndex first, then delete")
    val baseDir = servedAssignedDir(spark, path)
    val assigned = graft.core.ParquetMeta.readPinned(
      spark, Seq(baseDir), partitionCols = cellPartitionCol)
    val del = ids.select(ids.columns.head).toDF(idCol)
    val affected = assigned.join(del, Seq(idCol), "left_semi")
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0)) // bounded: <= nCells
    if (affected.isEmpty) return
    val survivors = assigned
      .filter(col("cell").isin(affected.toSeq: _*)) // partition-pruned read
      .join(del, Seq(idCol), "left_anti")
    val emptied = affected.toSet --
      survivors.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet // bounded: <= nCells
    // deleted mass journal — the staleness signal [[ivfStats]] reads
    // out as `deleted_since_retrain`: centroids were fit to a corpus
    // that included these vectors, so accumulated deletions (like
    // accumulated drifted appends) lopside the cells the day-0 fit
    // chose. One partition-pruned count, one 1-row parquet append;
    // [[compactIvfIndexWithRetrain]] resets it (the retrained
    // centroids reflect the post-delete corpus).
    val nDeleted = assigned
      .filter(col("cell").isin(affected.toSeq: _*))
      .join(del, Seq(idCol), "left_semi").count()
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try survivors.write.partitionBy("cell").mode("overwrite")
      .parquet(baseDir)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$baseDir/cell=$c"), true)
    }
    import spark.implicits._
    Seq(nDeleted).toDF("n")
      .repartition(1).write.mode("append").parquet(s"$path/deletions")
  }

  /** Total vectors deleted since the last retrain (0 when none) — the
    * journal [[removeFromIvfIndex]] appends and
    * [[compactIvfIndexWithRetrain]] resets. The journal's rows are
    * cached by its directory fingerprint
    * ([[graft.core.ParquetMeta.cachedRows]]), so repeat readouts start
    * no Spark job until a removal or retrain rewrites it.
    */
  private def deletedSinceRetrain(
      spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$path/deletions")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      // the journal append runs AFTER removeFromIvfIndex's destructive
      // partition overwrite, so a crash mid-append can leave deletions/
      // present but holding no readable parquet footer — schema
      // inference throws, and a footer-less file sums to null. Neither
      // may brick ivfStats: read with the journal's fixed one-column
      // schema and sum the non-null rows. The accepted failure mode is an
      // UNDERCOUNT of one crashed batch (staleness slightly
      // underestimated, never overestimated) — the same direction the
      // append-after-overwrite ordering already implies.
      graft.core.ParquetMeta.cachedRows(spark, p.toString,
        Some(org.apache.spark.sql.types.StructType.fromDDL("n BIGINT")))
        .iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).sum
    }
  }

  /** Probe the `nProbe` cells nearest to each query and run exact top-k
    * inside them. Returns the same (query_id, vec_id, score) shape as
    * [[bruteForceTopK]]; recall vs brute force is traded for a
    * ~nCells/nProbe reduction in scanned rows (store the index via
    * [[writeIvfIndex]] to turn the cell filter into real partition
    * pruning). With `nProbe == nCells` the search is exhaustive and
    * returns exactly the brute-force result — the oracle contract for
    * the approximate path.
    *
    * The final reduction runs through [[TopKAggregator]]: a partial+final
    * aggregate with O(k) state per query, so the P×Q×k partial rows are
    * combined map-side rather than shuffled into a window sort.
    */
  def ivfTopK(index: IvfIndex, queries: Seq[(Long, Array[Float])], k: Int, nProbe: Int): DataFrame = {
    val probes: Map[Long, Seq[Int]] = queries.map { case (qid, qvec) =>
      qid -> index.centroids
        .sortBy { case (i, c) => (-cosine(qvec, c), i) }
        .take(nProbe).map(_._1)
    }.toMap
    val cellsNeeded = probes.values.flatten.toSet
    val pruned = index.assigned.filter(col("cell").isin(cellsNeeded.toSeq: _*))
    val spark = index.assigned.sparkSession
    val bcProbes = spark.sparkContext.broadcast(probes)
    val bcQueries = spark.sparkContext.broadcast(queries)
    val idIdx = index.assigned.schema.fieldIndex(index.idCol)
    val vecIdx = index.assigned.schema.fieldIndex(index.vecCol)
    val cellIdx = index.assigned.schema.fieldIndex("cell")
    val partial = pruned.mapPartitions { rows =>
      val qs = bcQueries.value
      val pr = bcProbes.value
      val heaps = qs.map { case (qid, _) => qid -> new BoundedTopK(k) }.toMap
      rows.foreach { row =>
        val cell = row.getInt(cellIdx)
        val id = row.getLong(idIdx)
        val vec = row.getSeq[Float](vecIdx)
        qs.foreach { case (qid, qvec) =>
          if (pr(qid).contains(cell)) heaps(qid).offer(id, cosine(vec, qvec))
        }
      }
      heaps.iterator.flatMap { case (qid, heap) =>
        heap.results.map { case (id, score) => Row(qid, id, score) }
      }
    }(Encoders.row(resultSchema))
    val topK = TopKAggregator.udafFor(k)
    partial.groupBy(col("query_id"))
      .agg(topK(col("vec_id"), col("score")).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__s"))
      .select(col("query_id"), col("__s.id").as("vec_id"), col("__s.score").as("score"))
  }

  // ---- embedding-cosine near-duplicate detection ----

  /** Deterministic random hyperplanes for sign-bit LSH (splitmix64
    * stream seeded per (plane, dim) — no RNG state, executor-safe).
    */
  private[sim] def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(bits) { b =>
      Array.tabulate(dim) { d =>
        var z = seed + b.toLong * 7919 + d.toLong + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        // uniform in [-1, 1): direction-only use, magnitude irrelevant
        (z >>> 11).toDouble / (1L << 52).toDouble - 1.0
      }
    }

  /** Near-duplicate pairs by embedding cosine: random-hyperplane sign
    * bits bucket the corpus (cosine-similar vectors land in the same
    * bucket with probability (1 - θ/π)^bits), candidates are generated
    * per bucket — never all-pairs — and verified with exact cosine.
    * `bands` independent hash tables trade recall for candidate volume.
    *
    * Shape (mirrors [[graft.dedup.Dedup.candidatePairs]]): the signature
    * pass emits only (band, bucket, id) — vectors are dropped before the
    * shuffle — candidate ids come from one groupBy with a bounded-memory
    * size-capped bucket collection, and the full float vectors are joined
    * back by id exactly once for the cosine verify. A two-sided bucket
    * self-join would recompute the signature `mapPartitions` on both
    * sides, shuffle every vector twice, and go quadratic on one
    * degenerate bucket (e.g. a mass of near-zero vectors sharing a sign
    * signature); `maxBucketSize` drops such buckets with graceful recall
    * degradation — each member keeps its other `bands - 1` chances.
    */
  def embeddingNearDuplicates(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bits: Int = 12,
      bands: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    val spark = corpus.sparkSession
    val firstVec = corpus.select(col(vecCol)).head(1)
    if (firstVec.isEmpty) {
      // empty corpus: no pairs (head() on an empty frame would throw)
      return corpus.sparkSession.createDataFrame(
        corpus.sparkSession.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("id_a", LongType, nullable = false),
          StructField("id_b", LongType, nullable = false),
          StructField("cosine", DoubleType, nullable = true))))
    }
    val dim = firstVec.head.getSeq[Float](0).size
    val bc = spark.sparkContext.broadcast(hyperplanes(bits * bands, dim, seed))
    val buckets = signBuckets(corpus, idCol, vecCol, bits, bands, bc)
    val pairs = graft.dedup.Dedup.candidatePairs(buckets, "id", maxBucketSize)
    // verify on candidates only: join the vectors back by id once; the
    // native fold keeps the whole verify inside codegen (zero-norm
    // vectors divide to NaN and fail the threshold, same as the
    // composed form)
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.CosineFold.cosineFold(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  private val crossBucketSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("id", LongType, nullable = false)))

  /** (band, bucket, id) sign-bit signatures — vectors dropped before any
    * shuffle. Both sides of a cross-corpus match MUST use one plane set.
    */
  private def signBuckets(
      df: DataFrame, idCol: String, vecCol: String, bits: Int, bands: Int,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
      : DataFrame =
    df.select(col(idCol), col(vecCol)).mapPartitions { rows =>
      val ps = bc.value
      rows.flatMap { row =>
        val id = row.getLong(0)
        val vec = row.getSeq[Float](1)
        (0 until bands).iterator.map { band =>
          var sig = 0L
          var b = 0
          while (b < bits) {
            val p = ps(band * bits + b)
            var acc = 0.0
            var i = 0
            val n = math.min(vec.length, p.length)
            while (i < n) { acc += vec(i).toDouble * p(i); i += 1 }
            if (acc >= 0) sig |= (1L << b)
            b += 1
          }
          Row(band, sig, id)
        }
      }
    }(Encoders.row(crossBucketSchema))

  /** Semantic-overlap pairs between a candidate `batch` and a reference
    * `corpus` (benchmark sets, already-trained data): sign-bit LSH
    * buckets on BOTH sides with one shared hyperplane set, candidates
    * from a single batch×corpus (band, bucket) equi-join — never a
    * self-join, never batch×corpus all-pairs — capped per side, exact
    * [[graft.functions.CosineFold]] verify on candidates only.
    * Returns (batch_id, corpus_id, cosine ≥ threshold).
    *
    * This is the embedding twin of
    * [[graft.dedup.Dedup.nearDuplicatesAgainst]]: use it for SEMANTIC
    * decontamination — paraphrased benchmark leakage that shared-n-gram
    * screens ([[graft.text.Decontaminate]]) cannot see.
    *
    * Recall is probabilistic (sign-LSH): a cosine-θ pair collides per
    * band with probability (1 − θ/π)^bits. The exact bounded baseline
    * [[exactCosinePairsAcross]] is the verification contract (recall
    * pinned in SimilaritySpec on planted near-duplicates).
    */
  def embeddingNearDuplicatesAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bits: Int = 12,
      bands: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    val spark = batch.sparkSession
    val cap = math.min(maxBucketSize, (Int.MaxValue - 8).toLong).toInt
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("batch_id", LongType, nullable = false),
        StructField("corpus_id", LongType, nullable = false),
        StructField("cosine", DoubleType, nullable = true))))
    val firstVec = batch.select(col(vecCol)).head(1)
    if (firstVec.isEmpty) return empty
    val corpusVec = corpus.select(col(vecCol)).head(1)
    if (corpusVec.isEmpty) return empty
    val dim = firstVec.head.getSeq[Float](0).size
    // batch and corpus are independently produced datasets; sizing the
    // shared hyperplanes from one side only would either throw deep in
    // the mapPartitions closure (shorter corpus vectors) or silently
    // truncate signatures and degrade recall (longer ones)
    val corpusDim = corpusVec.head.getSeq[Float](0).size
    require(dim == corpusDim,
      s"embeddingNearDuplicatesAgainst: embedding dimension mismatch — " +
        s"batch $vecCol has dim $dim, corpus $vecCol has dim $corpusDim; " +
        s"the shared-hyperplane LSH requires equal dimensions")
    val bc = spark.sparkContext.broadcast(hyperplanes(bits * bands, dim, seed))
    def capped(df: DataFrame, outCol: String) =
      signBuckets(df, idCol, vecCol, bits, bands, bc)
        .groupBy(col("band"), col("bucket"))
        .agg(graft.functions.CappedCollectList
          .cappedCollectList(col("id"), cap).as(outCol))
        .filter(col(outCol).isNotNull)
    val pairs = capped(batch, "__bids")
      .join(capped(corpus, "__cids"), Seq("band", "bucket"))
      .select(explode(col("__bids")).as("batch_id"), col("__cids"))
      .select(col("batch_id"), explode(col("__cids")).as("corpus_id"))
      .distinct()
    val ba = batch.select(col(idCol).as("batch_id"), col(vecCol).as("__va"))
    val ca = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__vb"))
    pairs.join(ba, "batch_id").join(ca, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        graft.functions.CosineFold.cosineFold(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** `batch` reduced to rows with NO corpus embedding at cosine ≥
    * threshold — semantic decontamination / incremental semantic dedup.
    * One anti-join on the matched ids from
    * [[embeddingNearDuplicatesAgainst]].
    */
  def embeddingDedupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bits: Int = 12,
      bands: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    val matched = embeddingNearDuplicatesAgainst(
      batch, corpus, idCol, vecCol, threshold, bits, bands, seed, maxBucketSize)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  private val planLog = graft.core.Logging.logger("graft.sim.Similarity")

  /** [[embeddingNearDuplicates]] with `(bands, bits)` DERIVED by
    * [[graft.dedup.LshPlan.planRecallBoundedCosine]] — the planner
    * promotion the MinHash family got with
    * [[graft.dedup.Dedup.nearDuplicatesPlanned]], extended to the
    * sign-LSH collision map (per-bit 1 − θ/π): state the cosine
    * threshold, the total plane budget `numBits`, and the per-pair
    * miss bound you tolerate AT the threshold, and the S-curve math
    * picks the banding instead of the caller hand-tuning the one
    * parameter that silently trades recall for candidate volume.
    * The derived pair is logged and equals
    * `LshPlan.planRecallBoundedCosine(numBits, threshold, maxMiss)` —
    * callers can recompute it driver-side for free.
    *
    * `maxMiss` defaults looser (1e-3) than the MinHash planner's 1e-6:
    * sign-LSH S-curves are shallower (pBit(0.95) ≈ 0.90), so tight
    * bounds force degenerate 1-bit bands — see the calibration note on
    * [[graft.dedup.LshPlan]].
    */
  def embeddingNearDuplicatesPlanned(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBits: Int = 48,
      maxMiss: Double = 1e-3,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    val (bands, bits) = graft.dedup.LshPlan
      .planRecallBoundedCosine(numBits, threshold, maxMiss)
    graft.core.Logging.log(planLog,
      s"embeddingNearDuplicatesPlanned: t=$threshold numBits=$numBits " +
        s"maxMiss=$maxMiss -> bands=$bands bitsPerBand=$bits")
    embeddingNearDuplicates(
      corpus, idCol, vecCol, threshold, bits, bands, seed, maxBucketSize)
  }

  /** [[embeddingDedupAgainst]] through the sign-LSH planner — the
    * semantic-decontamination entry where the caller states
    * (threshold, miss bound) instead of hand-picking the banding.
    * Derivation identical to [[embeddingNearDuplicatesPlanned]].
    */
  def embeddingDedupAgainstPlanned(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBits: Int = 48,
      maxMiss: Double = 1e-3,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    val (bands, bits) = graft.dedup.LshPlan
      .planRecallBoundedCosine(numBits, threshold, maxMiss)
    graft.core.Logging.log(planLog,
      s"embeddingDedupAgainstPlanned: t=$threshold numBits=$numBits " +
        s"maxMiss=$maxMiss -> bands=$bands bitsPerBand=$bits")
    embeddingDedupAgainst(
      batch, corpus, idCol, vecCol, threshold, bits, bands, seed,
      maxBucketSize)
  }

  /** EMPIRICAL sign-LSH banding audit — the cosine twin of
    * [[graft.dedup.Dedup.lshMeasuredBandingTable]] and the measured
    * counterpart of the q262 MODEL table: for every divisor banding of
    * `numBits` hyperplanes, the recall and candidate mass ACTUALLY
    * achieved on a bounded audit sample against exact-cosine ground
    * truth. One row per (bands, bits_per_band) with the same columns
    * and the same selection rule as the MinHash audit: `eligible` =
    * measured `recall_ppm ≥ targetRecallPpm`, `chosen` = minimal
    * measured candidate mass among eligible, ties to fewer bands,
    * all-false when nothing is eligible.
    *
    * Recovery = equality of the SIGN-BIT band slices under the SAME
    * seeded hyperplane family the serving pipeline uses
    * ([[hyperplanes]] — band k of an (n/b = r)-bit banding reads
    * planes [k·r, (k+1)·r), exactly [[embeddingNearDuplicates]]'
    * plane layout, so the audit measures the banding the pipeline
    * would serve, not a re-randomized one). The sign bits are computed
    * as COLUMN ALGEBRA (a literal plane matrix folded per row), not in
    * [[signBuckets]]' mapPartitions, so the whole audit — dot
    * products, sign tests, slice agreement, exact cosine — is
    * sequential double arithmetic an independent SQL engine replays
    * bit-exactly (each plane component is the dyadic rational
    * m/2⁵² − 1, so the constants inline as integers).
    *
    * Scale shape: audit-priced like the MinHash twin — ONE sign pass
    * over the sample, all bandings re-slice it, sample² pairs through
    * the zero-key broadcast hash join, #divisors output rows. The
    * caller owns bounding `sample`.
    */
  def signLshMeasuredBandingTable(
      sample: DataFrame,
      idCol: String,
      vecCol: String,
      numBits: Int,
      threshold: Double,
      targetRecallPpm: Long,
      seed: Long = 42L): DataFrame = {
    require(numBits >= 1, s"numBits must be >= 1, got $numBits")
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be in [-1, 1], got $threshold")
    require(targetRecallPpm >= 0L && targetRecallPpm <= 1000000L,
      s"targetRecallPpm must be in [0, 1000000], got $targetRecallPpm")
    val firstVec = sample.select(col(vecCol)).head(1)
    require(firstVec.nonEmpty, "signLshMeasuredBandingTable needs a nonempty sample")
    val dim = firstVec.head.getSeq[Float](0).size
    val planes = typedlit(hyperplanes(numBits, dim, seed).map(_.toSeq).toSeq)
    // one sign bit per plane: sequential dot-product fold, >= 0 test —
    // the same decision signBuckets packs into a Long, kept as an
    // array so every banding is a re-slice of one pass
    val signs = transform(planes, p =>
      when(aggregate(zip_with(col("__v"), p, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x) >= 0, lit(1)).otherwise(lit(0)))
    val signed = sample
      .select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__sg", signs)
    val a = signed.select(col(idCol).as("id_a"),
      col("__v").as("__va"), col("__sg").as("__sga"))
    val b = signed.select(col(idCol).as("id_b"),
      col("__v").as("__vb"), col("__sg").as("__sgb"))
    val divisors = (1 to numBits).filter(numBits % _ == 0)
    val perBanding = divisors.map { nb =>
      val r = numBits / nb
      val rec = (0 until nb).map { k =>
        slice(col("__sga"), k * r + 1, r) === slice(col("__sgb"), k * r + 1, r)
      }.reduce(_ || _)
      struct(lit(nb.toLong).as("bands"), lit(r.toLong).as("bits_per_band"),
        rec.as("rec"))
    }
    val pairs = graft.core.Scalars.withEach(a, b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("__true",
        graft.functions.CosineFold.cosineFold(col("__va"), col("__vb"))
          >= threshold)
      .select(col("__true"), explode(array(perBanding: _*)).as("__bb"))
      .select(col("__true"), col("__bb.bands").as("bands"),
        col("__bb.bits_per_band").as("bits_per_band"),
        col("__bb.rec").as("__rec"))
    val tbl = pairs
      .groupBy(col("bands"), col("bits_per_band"))
      .agg(
        sum(when(col("__true"), 1L).otherwise(0L)).as("pairs_true"),
        sum(when(col("__true") && col("__rec"), 1L).otherwise(0L))
          .as("pairs_recovered"),
        sum(when(col("__rec"), 1L).otherwise(0L)).as("cand_pairs"))
      .withColumn("recall_ppm",
        when(col("pairs_true") === 0L, lit(1000000L))
          .otherwise(expr("(1000000 * pairs_recovered) div pairs_true")))
      .withColumn("eligible", col("recall_ppm") >= targetRecallPpm)
    val mc = tbl.filter(col("eligible"))
      .agg(min(col("cand_pairs")).as("__mc"))
    val sel = graft.core.Scalars.withScalars(
        tbl.filter(col("eligible")), mc)
      .filter(col("cand_pairs") === col("__mc"))
      .agg(min(col("bands")).as("__mb"))
    graft.core.Scalars.withScalars(tbl, sel)
      .withColumn("chosen", coalesce(col("bands") === col("__mb"), lit(false)))
      .select(col("bands"), col("bits_per_band"), col("pairs_true"),
        col("pairs_recovered"), col("recall_ppm"), col("cand_pairs"),
        col("eligible"), col("chosen"))
  }

  /** The measured sign-LSH pick as a `(bands, bitsPerBand)` banding,
    * FAIL-LOUD when no divisor banding met the target — the cosine
    * twin of [[graft.dedup.Dedup.planBandsMeasured]]. Bounded collect:
    * one row per divisor of `numBits`.
    */
  def planSignBandsMeasured(
      sample: DataFrame,
      idCol: String,
      vecCol: String,
      numBits: Int,
      threshold: Double,
      targetRecallPpm: Long,
      seed: Long = 42L): (Int, Int) = {
    val rows = signLshMeasuredBandingTable(sample, idCol, vecCol, numBits,
      threshold, targetRecallPpm, seed)
      .filter(col("chosen"))
      .select(col("bands"), col("bits_per_band"))
      .collect() // bounded: at most one chosen row survives the filter
    require(rows.nonEmpty,
      s"no banding of $numBits planes reached measured recall >= " +
        s"$targetRecallPpm ppm at cosine threshold $threshold on the " +
        "audit sample - raise numBits or lower the target")
    (rows.head.getLong(0).toInt, rows.head.getLong(1).toInt)
  }

  /** [[embeddingNearDuplicates]] with the banding chosen by the
    * EMPIRICAL audit instead of the S-curve model — the cosine twin of
    * [[graft.dedup.Dedup.nearDuplicatesBySetsMeasured]]: the banding
    * that serves the corpus is the one that PROVABLY met the recall
    * target on the audit sample with minimal measured candidate mass,
    * under the very plane family the pipeline hashes with.
    */
  def embeddingNearDuplicatesMeasured(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      sample: DataFrame,
      numBits: Int = 48,
      threshold: Double = 0.95,
      targetRecallPpm: Long = 950000L,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    val (bands, bits) = planSignBandsMeasured(
      sample, idCol, vecCol, numBits, threshold, targetRecallPpm, seed)
    graft.core.Logging.log(planLog,
      s"embeddingNearDuplicatesMeasured: t=$threshold numBits=$numBits " +
        s"target=$targetRecallPpm ppm -> bands=$bands bitsPerBand=$bits")
    embeddingNearDuplicates(
      corpus, idCol, vecCol, threshold, bits, bands, seed, maxBucketSize)
  }

  /** Exact cross-corpus cosine threshold-pairs on BOUNDED inputs: the
    * quadratic-by-contract verification baseline for
    * [[embeddingNearDuplicatesAgainst]] (the cross-corpus analog of
    * [[exactCosinePairs]] — cap the inputs, it is batch×corpus).
    * Every (batch, corpus) pair is compared — batch and corpus are
    * DIFFERENT datasets, so equal id values on the two sides are a
    * coincidence, not the same item, and must not be excluded (the LSH
    * path does not exclude them either).
    */
  def exactCosinePairsAcross(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val a = batch.select(col(idCol).as("batch_id"), col(vecCol).as("__va"))
    val b = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__vb"))
    a.crossJoin(b)
      .select(col("batch_id"), col("corpus_id"),
        graft.functions.CosineFold.cosineFold(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Column-expression cosine between two array columns: sequential
    * `aggregate` folds in double, so the result is bit-reproducible
    * across engines that fold left in double (the cross-engine oracle
    * contract used throughout this project). Builtins-only composed
    * form — the pipelines use the bit-identical native codegen fold
    * ([[graft.functions.CosineFold]]); this stays as the equivalence
    * witness.
    */
  def cosineColumns(a: Column, b: Column): Column = {
    val av = a.cast("array<double>")
    val bv = b.cast("array<double>")
    val dot = aggregate(zip_with(av, bv, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(av, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(bv, x => x * x), lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** Exact cosine threshold-pairs on a bounded corpus: every (a, b) with
    * id_a < id_b and cosine ≥ threshold. Quadratic by construction — this
    * is the verification baseline that [[embeddingNearDuplicates]] (the
    * sub-quadratic LSH path) is measured against; cap the input (sample
    * or partition) before calling at scale.
    */
  def exactCosinePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.CosineFold.cosineFold(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Column-expression cosine between an array column and a literal query
    * vector — the declarative form used by the oracle query (sequential
    * `aggregate` folds in double, bit-reproducible).
    */
  def cosineExpr(vec: Column, query: Seq[Double]): Column = {
    val q = typedlit(query)
    val v = vec.cast("array<double>")
    val dotAcc = aggregate(zip_with(v, q, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val normV = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))
    val normQ = sqrt(aggregate(transform(q, x => x * x), lit(0.0), (acc, x) => acc + x))
    dotAcc / (normV * normQ)
  }
}
