package graft.dedup

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.text.TextStats

/** Prepared on-disk index for cross-corpus (incremental) dedup — the
  * amortization [[Dedup.dedupAgainst]] cannot give: that call
  * re-fingerprints and re-MinHashes the CORPUS on every batch, so at
  * 100 TB the corpus pass dominates every ingest. This module persists
  * the corpus-side derived state ONCE (the same pattern as
  * [[graft.sim.Similarity.writeIvfIndex]] for ANN) and lets every
  * subsequent batch dedup against it touching only:
  *
  *   - `exact`   — the 128-bit content fingerprints per corpus id
  *                 (filtered map-side to the batch's fingerprints for
  *                 exact matches);
  *   - `buckets` — the banded MinHash (band, bucket) → capped member
  *                 list table (probed with the batch's bucket keys for
  *                 near-dup candidates; the cap is baked at build time
  *                 with the same [[graft.functions.CappedCollectList]]
  *                 contract as the direct path);
  *   - `sets`    — (corpus_id, shingles) for the exact-Jaccard verify
  *                 of the candidates;
  *   - `meta`    — the build parameters, so a query can never run with
  *                 a mismatched hash family (params travel WITH the
  *                 index, not as caller arguments).
  *
  * Per-batch cost is then shingling/signing the BATCH plus one
  * fingerprint probe of `exact`, ONE (band, bucket) equi-join against
  * `buckets` and one verify join against `sets` — no stored table is
  * shuffled, never a corpus re-derivation. The materialized calls
  * derive the batch once and run the same near-duplicate plan as the
  * lazy ones over the collected rows. Results are pinned equal to the
  * direct [[Dedup.dedupAgainst]] path in DedupIndexSpec, and q62 runs
  * the index path against q50's oracle.
  *
  * Threshold is deliberately NOT baked: one index serves any Jaccard
  * threshold (it only affects the verify filter). Rebuild when the
  * corpus, shingle size, hash family, bands, or cap change.
  */
object DedupIndex {

  /** Build-time parameters, stored in `meta` and read back verbatim. */
  final case class Params(
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L) {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    def rowsPerBand: Int = numHashes / bands
  }

  object Params {
    /** Params with `bands` DERIVED by [[LshPlan.planRecallBounded]]
      * from the Jaccard threshold the index will serve — the planner
      * as the default entry (state the threshold and recall bound you
      * need; the S-curve math picks the banding) instead of a side
      * table the caller must know to consult. The threshold is NOT
      * baked into the index (it only affects the verify filter at
      * query time, as ever); it is consumed here purely to plan the
      * hash family. At the package defaults (64 hashes, t = 0.9) this
      * derives the (16, 4) every oracle query pins.
      */
    def planned(
        threshold: Double,
        shingleSize: Int = 3,
        numHashes: Int = 64,
        seed: Long = 42L,
        maxBucketSize: Long = 100000L,
        maxMiss: Double = 1e-6): Params = {
      // rowsPerBand = numHashes / bands is recoverable from the
      // returned Params (`.rowsPerBand`); log the derivation so the
      // choice is visible without re-running the planner
      val (bands, rowsPerBand) =
        LshPlan.planRecallBounded(numHashes, threshold, maxMiss)
      graft.core.Logging.log(
        graft.core.Logging.logger("graft.dedup.DedupIndex"),
        s"Params.planned: t=$threshold numHashes=$numHashes " +
          s"maxMiss=$maxMiss -> bands=$bands rowsPerBand=$rowsPerBand")
      Params(shingleSize, numHashes, bands, seed, maxBucketSize)
    }
  }

  /** A loaded index: three DataFrames (on-disk parquet after [[read]],
    * in-memory plans after [[build]]) plus the build parameters.
    */
  final case class Index(
      params: Params,
      exact: DataFrame,   // (corpus_id, __key)
      buckets: DataFrame, // (band, bucket, ids)
      sets: DataFrame)    // (corpus_id, __shingles)

  private def bufferCap(maxBucketSize: Long): Int =
    math.min(maxBucketSize, (Int.MaxValue - 8).toLong).toInt

  /** A (id, __shingles) table with its MinHash signature `__sig`. */
  private def signed(sets: DataFrame, params: Params): DataFrame =
    sets.withColumn("__sig",
      Dedup.minhashSignature(col("__shingles"), params.numHashes, params.seed))

  /** Collapse a [[signed]] (id, __sig) table to capped
    * (band, bucket, members) — the shared shape of the stored corpus
    * table and the query-time batch side, so the two cannot drift.
    */
  private def cappedBuckets(
      signed: DataFrame, idCol: String, outCol: String, params: Params): DataFrame =
    Dedup.lshBuckets(signed, idCol, "__sig", params.bands, params.rowsPerBand)
      .groupBy(col("band"), col("bucket"))
      .agg(graft.functions.CappedCollectList
        .cappedCollectList(col(idCol), bufferCap(params.maxBucketSize)).as(outCol))
      .filter(col(outCol).isNotNull)

  /** Derive the corpus-side index tables (lazily — nothing runs until
    * [[write]] or a query consumes them). Corpus ids must be unique and
    * non-null, as everywhere in this package.
    */
  def build(
      corpus: DataFrame, idCol: String, textCol: String,
      params: Params = Params()): Index = {
    // fingerprints carry their corpus_id so tombstone deletion can
    // exclusion-filter them; two identical texts keep the key alive
    // if only one of them is deleted (exactly rebuild-without-deleted
    // semantics). The anti-join consumer matches on __key alone, so
    // per-id rows are semantically identical to the old distinct-key
    // table.
    val exact = corpus
      .select(col(idCol).as("corpus_id"),
        TextStats.fingerprintMd5(col(textCol)).as("__key"))
    val sets = corpus
      .select(col(idCol).as("corpus_id"),
        Dedup.shingles(col(textCol), params.shingleSize).as("__shingles"))
      .filter(size(col("__shingles")) > 0)
    Index(params, exact, cappedBuckets(signed(sets, params), "corpus_id", "ids", params), sets)
  }

  /** The three derived tables written under `root` (shared by the base
    * [[write]] and every [[appendSegment]]). The corpus is read once:
    * the shingle table is cached for the duration so the signature and
    * sets writes don't re-derive it.
    */
  private def writeTables(
      corpus: DataFrame, idCol: String, textCol: String, root: String,
      params: Params): Unit = {
    val idx = build(corpus, idCol, textCol, params)
    val sets = idx.sets.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // re-root buckets on the cached sets (build() derived them from
      // the uncached plan): same expressions, one corpus pass. The
      // three writes are independent — overlap them so each write's
      // planning/commit fills the others' scheduler gaps (concurrent
      // first touch of the persisted sets is safe: the block manager
      // computes each partition once)
      graft.core.Par.awaitAll(
        () => sets.write.mode("overwrite").parquet(s"$root/sets"),
        () => cappedBuckets(signed(sets, params), "corpus_id", "ids", params)
          .write.mode("overwrite").parquet(s"$root/buckets"),
        () => idx.exact.write.mode("overwrite").parquet(s"$root/exact"))
    } finally sets.unpersist()
  }

  /** Build and persist the index under `path` (subdirs `meta`, `exact`,
    * `buckets`, `sets`, later per-segment trees under `segments/` via
    * [[appendSegment]]).
    */
  def write(
      corpus: DataFrame, idCol: String, textCol: String, path: String,
      params: Params = Params()): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeTables(corpus, idCol, textCol, path, params)
    // formatVersion 2 = id-carrying exact table (tombstone deletes);
    // readParams ignores it, read()'s exact-schema guard enforces it
    Seq((params.shingleSize, params.numHashes, params.bands, params.seed,
      params.maxBucketSize, 2))
      .toDF("shingleSize", "numHashes", "bands", "seed", "maxBucketSize",
        "formatVersion")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private def segmentDirs(
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

  /** The directory holding the SERVED base tables (`exact`, `sets`,
    * `buckets`) — the latest committed generation's after a
    * [[compact]] upgraded the tree to the generational layout
    * ([[graft.core.Generations]]), the index root itself before.
    * `meta` and `tombstones` always live at the root (never
    * generation-scoped: parameters are immutable, and a tombstone
    * must mask every generation).
    */
  def servedBaseDir(spark: SparkSession, path: String): String =
    graft.core.Generations.latest(spark, path)
      .map(_._1).getOrElse(path)

  /** Segment directories a read serves: physical segments minus those
    * folded into the latest committed generation (present only in the
    * crash window between a commit and its eager GC).
    */
  private def servedSegmentDirs(
      spark: SparkSession, path: String): Seq[String] = {
    val folded = graft.core.Generations.latest(spark, path)
      .map(_._3).getOrElse(Set.empty[String])
    segmentDirs(spark, path)
      .filterNot(d => folded.contains(d.split('/').last))
  }

  /** Append `batch` to an on-disk index as a NEW SEGMENT (LSM-style) —
    * the index-growth half of the incremental-dedup lifecycle: after
    * `dedupAgainst(batch, index)` keeps a batch's survivors, those
    * survivors join the corpus by writing THEIR derived tables under
    * `segments/segNNNN/` with the index's stored hash family. Cost is
    * batch-sized; the existing corpus tables are never touched, read,
    * or re-aggregated. [[read]] serves the union of all segments.
    *
    * `segmentName` (must start with "seg") pins the directory name
    * instead of the auto-increment — the REPLAY-SAFETY seam for
    * at-least-once ingest ([[graft.streaming.Streaming
    * .dedupIngestSink]]): a redelivered batch OVERWRITES its own
    * segment rather than appending a duplicate, and the caller can
    * [[read]] with that name excluded so the recompute never sees the
    * half-committed first attempt.
    *
    * Semantics vs a monolithic rebuild: identical EXCEPT that the
    * `maxBucketSize` candidate cap applies per segment rather than
    * globally (a segmented index can only produce MORE candidates for
    * a hot bucket, and the exact-Jaccard verify keeps results correct
    * either way); DedupIndexSpec pins segmented ≡ rebuilt when caps
    * don't bind. Compaction — when segments accumulate — is [[compact]].
    */
  def appendSegment(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      segmentName: Option[String] = None): Unit = {
    val params = readParams(spark, path)
    val name = segmentName match {
      case Some(n) =>
        require(n.startsWith("seg") && !n.contains('/'),
          s"segment name must start with 'seg' and hold no '/', got $n")
        n
      case None =>
        // auto-increment over the NUMERIC segments only; named
        // segments (seg_b00001…) coexist and are simply skipped here
        val next = segmentDirs(spark, path)
          .flatMap(_.split('/').last.stripPrefix("seg").toIntOption)
          .foldLeft(-1)(math.max) + 1
        f"seg$next%04d"
    }
    // tombstone fence: re-ingesting a tombstoned id is FORBIDDEN until
    // compact physically purges the old rows. Anything laxer is wrong
    // in some interleaving — clearing the tombstone wholesale would
    // un-mask the STALE base/segment rows of that id (resurrecting
    // text that no longer exists), and rewriting the tombstone table
    // here would add a crash window where either all takedowns vanish
    // or the new segment stays self-masked. One bounded semi-join
    // against the takedown-sized table, checked BEFORE the segment
    // lands so a refused append leaves the index untouched.
    tombstones(spark, path).foreach { t =>
      val clash = t.join(
        batch.select(col(idCol).as("corpus_id")).distinct(),
        Seq("corpus_id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"appendSegment: batch re-ingests tombstoned ids at $path — " +
          "purge those ids first (targeted: purge(ids); full " +
          "maintenance: compact — both physically drop the deleted " +
          "rows and clear the tombstones), then append the " +
          "re-licensed documents")
    }
    // free the name before the segment lands: stale folded-manifest
    // entries drop (a stream restart reuses batchId names a prior
    // compact folded and GC'd — the stale entry would silently exclude
    // the new segment) and a folded-but-unGC'd dir holding this name
    // is deleted (its dead rows must not mask the replayed batch) —
    // [[graft.core.Generations.prepareSegmentLanding]]
    graft.core.Generations.prepareSegmentLanding(spark, path, Some(name))
    writeTables(batch, idCol, textCol, s"$path/segments/$name", params)
  }

  /** Delete documents from an on-disk index by id — the takedown /
    * license-revocation half of index maintenance (a real operational
    * event at 100 TB) that previously required a full rebuild. LSM
    * tombstone discipline, not a rewrite: the ids land as one
    * batch-sized parquet append under `tombstones/`, [[read]]
    * exclusion-filters the id-carrying tables against them (two
    * anti-joins against a tombstone-sized table), and [[compact]]
    * folds them in physically and clears them. The bucket member
    * lists are deliberately NOT filtered at read: buckets only
    * nominate CANDIDATES, and a tombstoned candidate dies in the
    * exact-Jaccard verify join against the filtered `sets` — so the
    * read-path cost of a delete is two small anti-joins, and the
    * list rewrite is deferred to the compaction maintenance window.
    * Pinned: delete-then-dedupAgainst ≡ rebuild-without-deleted
    * (DedupIndexSpec; q248's oracle), before AND after compact.
    *
    * `ids` is a DataFrame (one column) so deletion sets scale past
    * driver memory; ids absent from the index are harmless.
    *
    * Sequencing vs appends: a tombstone masks EVERY stored row of its
    * id — base and segments alike — until [[compact]] physically
    * purges them and clears the tombstone table. Re-ingesting a
    * tombstoned id before that purge is refused by [[appendSegment]]
    * (fail-loud): clearing the tombstone at append would un-mask the
    * STALE rows of that id (resurrecting text that no longer exists),
    * and any tombstone rewrite at append adds a crash window where
    * takedowns silently vanish. The re-licensing flow is
    * delete → [[purge]] (targeted) or [[compact]] (full maintenance)
    * → append. Same single-writer-per-index contract as the commit
    * paths.
    */
  def delete(path: String, ids: DataFrame): Unit = {
    ids.select(col(ids.columns.head).as("corpus_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** Physically purge PENDING TOMBSTONES for the given ids without a
    * full [[compact]] — the targeted re-licensing path: [[appendSegment]]'s
    * fence refuses re-ingesting a tombstoned id until its stale rows
    * are physically gone, and compact (the only purge until now) is a
    * derived-tables-sized merge of every segment plus a bucket-list
    * explode/re-collect shuffle — a heavy maintenance window for a
    * one-document re-licensing event. This rewrites ONLY the two
    * id-carrying tables (`exact`, `sets`) of each root with the purged
    * ids anti-joined out — a filter-only scan+write per root, no
    * aggregation shuffle, segments left segmented — and then clears
    * exactly those ids from the tombstone table. Bucket member lists
    * stay as stored, the same argument [[delete]] uses: buckets only
    * nominate CANDIDATES, and after the purge the id either has no
    * `sets` row (candidate dies in the verify join) or — once
    * re-appended — only its NEW rows (verify scores the new text).
    *
    * Only ids that are actually tombstoned are purged; other ids in
    * `ids` are ignored (they have nothing pending — purging a live id
    * would be an undeletable takedown bypass, and [[delete]] is the
    * API for that intent). Crash-safe without a marker: the tombstone
    * table is cleared LAST, so any partial state (some roots
    * rewritten, some not) still reads correctly — the surviving
    * tombstones keep masking — and re-running purge is idempotent.
    * Each table rewrite goes through the [[graft.core.FsSwap]]
    * rename-aside discipline. Pinned in DedupIndexSpec:
    * purge-then-append ≡ compact-then-append; q252 runs the
    * delete→purge→append lifecycle against q248's oracle family.
    */
  def purge(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    // same crashed-compact fence as [[read]]: purge reads the tables
    // directly (not through read()), so without this guard it would
    // happily rewrite an index whose segment rows sit BOTH merged in
    // the base and live under segments/ — cementing the duplicate-row
    // state reads fail loud on. Recovery is read()'s documented one.
    val cMarker = new org.apache.hadoop.fs.Path(s"$path/compact_pending")
    val mfs = cMarker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!mfs.exists(cMarker),
      s"dedup index at $path is mid-compaction (compact_pending marker " +
        "present) — finish the compact recovery documented on read() " +
        "before purging")
    val tombOpt = tombstones(spark, path)
    if (tombOpt.isEmpty) return
    val tomb = tombOpt.get
    val requested = ids.select(col(ids.columns.head).as("corpus_id")).distinct()
    val purged = tomb.join(requested, Seq("corpus_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (purged.isEmpty) return
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // SERVED roots only: folded-but-unGC'd segments and grace
      // generations are dead data — their stale bytes disappear with
      // the next compact's GC, never re-entering service
      val roots = servedBaseDir(spark, path) +:
        servedSegmentDirs(spark, path)
      for (root <- roots) {
        val tmp = s"$root/purge_tmp"
        // both reduced tables land in tmp concurrently (independent
        // reads/writes, invisible until the swaps); the swaps stay
        // SEQUENTIAL — the crash-recovery story reasons about one
        // *_old table at a time
        graft.core.Par.awaitAll(Seq("exact", "sets").map(sub => () => {
          graft.core.ParquetMeta.readPinned(spark, Seq(s"$root/$sub"))
            .join(purged, Seq("corpus_id"), "left_anti")
            .write.mode("overwrite").parquet(s"$tmp/$sub")
          ()
        }): _*)
        for (sub <- Seq("exact", "sets"))
          graft.core.FsSwap.swapIntoPlace(fs, root, tmp, sub)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      // all stale rows are gone — NOW the tombstones can clear. An
      // empty remainder drops the directory (same served state as a
      // post-compact index); otherwise swap in the reduced table.
      val remaining = tomb.join(purged, Seq("corpus_id"), "left_anti")
      if (remaining.isEmpty) {
        // clear any aside copy a prior FINISHED swap left behind
        // BEFORE dropping the live table — deleting live first would
        // leave tombstones_old alone, which reads as a crashed swap
        // (fail-loud) instead of the clean no-deletes state. At this
        // point live exists, so the aside copy is provably leftover.
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones_old"), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
      } else {
        val tmp = s"$path/purge_tmp"
        remaining.write.mode("overwrite").parquet(s"$tmp/tombstones")
        graft.core.FsSwap.swapIntoPlace(fs, path, tmp, "tombstones")
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
    } finally purged.unpersist()
  }

  /** The tombstone table, if any deletes are pending.
    *
    * Absence is load-bearing here — "no tombstones dir" reads as "no
    * pending deletes" — so the one crash state that can FORGE absence
    * must fail loud: [[purge]]'s tombstone-table FsSwap renames the
    * live table aside (`tombstones_old`) before renaming the reduced
    * copy in, and a crash between those two renames leaves only the
    * aside copy. Treating that as "no deletes" would silently un-mask
    * every still-pending takedown. `tombstones_old` WITH a live
    * `tombstones` is fine (the swap completed; only its cleanup
    * crashed) — the live table is the reduced post-purge one.
    */
  private def tombstones(
      spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p) ||
      !fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones_old")),
      s"dedup index at $path has tombstones_old but no tombstones — a " +
        "purge crashed between its two swap renames; rename " +
        "tombstones_old back to tombstones, then re-run purge " +
        "(idempotent)")
    if (fs.exists(p))
      Some(graft.core.ParquetMeta.readPinned(spark, Seq(p.toString)))
    else None
  }

  private def antiTombstones(
      df: DataFrame, tomb: Option[DataFrame]): DataFrame =
    tomb.fold(df)(t => df.join(t, Seq("corpus_id"), "left_anti"))

  /** Compact accumulated segments back into the base tables — the
    * third phase of the LSM lifecycle (build → append → compact),
    * closing the cost [[read]]'s union leaves behind: every query
    * unions one parquet scan PER SEGMENT, so a year of daily appends
    * is 365 scans per dedup call. Compaction merges the DERIVED
    * tables — exact fingerprints union-distinct, shingle sets union,
    * bucket member lists explode + re-collect under the global cap —
    * so its cost is derived-table-sized: the corpus TEXT is never
    * re-read, re-shingled, or re-signed (contrast a [[write]] over
    * the unioned raw corpus, which re-derives everything).
    *
    * Cap semantics: per-segment caps already dropped their overflow,
    * so compaction re-caps what the segments STORED — identical to a
    * monolithic rebuild whenever no per-segment cap ever bound
    * (pinned in DedupIndexSpec), and never worse than the segmented
    * index it replaces. The rewrite publishes as a new GENERATION
    * committed by one atomic manifest rename
    * ([[graft.core.Generations]]): all three tables plus the
    * tombstone fold become visible together, readers racing the
    * compact resolve either the grace copy or the committed
    * generation, and the old compact_pending marker is unnecessary
    * on this layout (legacy trees keep their fail-loud guard and
    * upgrade on first compact). `meta` is untouched (same hash
    * family by construction) and stays at the root, as do
    * `tombstones` — a tombstone must mask every generation.
    *
    * `excludeSegments` (directory names) are left OUT of the fold: not
    * merged into the new generation, not manifest-listed, not GC'd —
    * they keep serving alongside it. This is the replay-idempotency
    * contract for in-loop streaming maintenance
    * ([[graft.streaming.Streaming.dedupIngestSink]]): the current
    * micro-batch's segment must never fold before Spark commits the
    * batch offsets, or the replayed batch re-lands rows the base
    * already absorbed and they serve twice. With a nonempty exclusion
    * the tombstone tables also stay on disk (the excluded segment's
    * rows are not re-capped/anti-joined here, so the mask must
    * survive); the next exclusion-free compact or a targeted purge
    * clears them — re-folding already-removed ids is a no-op.
    */
  def compact(
      spark: SparkSession, path: String,
      excludeSegments: Set[String] = Set.empty,
      graceDepth: Int = 1): Unit = {
    val params = readParams(spark, path)
    val tomb = tombstones(spark, path)
    val segs = servedSegmentDirs(spark, path)
      .filterNot(d => excludeSegments.contains(d.split('/').last))
    if (segs.isEmpty && tomb.isEmpty)
      return // nothing to merge, nothing to purge
    // read() already applies the tombstone exclusion to exact/sets;
    // the bucket member lists get their deferred physical purge here
    // (explode → anti-join → re-collect under the global cap)
    val idx = read(spark, path, excludeSegments)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // generational commit ([[graft.core.Generations]]): the three
    // merged tables land whole under gen=N+1 and become visible in
    // ONE atomic manifest rename — no marker, no fail-loud window;
    // readers racing the compact resolve either the grace copy or
    // the committed generation, and the manifest's folded-segment
    // list covers the crash window before the eager segment GC.
    val gen = graft.core.Generations.latest(spark, path)
    val curN = gen.map(_._2).getOrElse(-1)
    val target = s"$path/generations/gen=${curN + 1}"
    val mergedBuckets = antiTombstones(
      idx.buckets
        .select(col("band"), col("bucket"),
          explode(col("ids")).as("corpus_id")),
      tomb)
      .groupBy(col("band"), col("bucket"))
      .agg(graft.functions.CappedCollectList
        .cappedCollectList(col("corpus_id"), bufferCap(params.maxBucketSize))
        .as("ids"))
      .filter(col("ids").isNotNull)
    // independent merged-table writes — overlapped (same contract as
    // writeTables: nothing is visible until the manifest commit below).
    // exact is per-corpus-id rows (ids unique by contract), so no
    // distinct: it could never drop a row and would cost a full
    // corpus-sized shuffle for nothing
    graft.core.Par.awaitAll(
      () => idx.sets.write.mode("overwrite").parquet(s"$target/sets"),
      () => mergedBuckets.write.mode("overwrite").parquet(s"$target/buckets"),
      () => idx.exact.write.mode("overwrite").parquet(s"$target/exact"))
    // prior folded names whose dirs a crashed GC left behind carry
    // forward into the new manifest (a dead segment must never
    // re-enter service) and join the GC list below
    val zombies = graft.core.Generations.commitGeneration(
      fs, path, target, segs.map(_.split('/').last).toSet,
      gen.map(_._3).getOrElse(Set.empty))
    // tombstones were folded into the committed tables; clearing them
    // after the commit is benign in the crash window — re-anti-joining
    // already-removed ids is a no-op, and the appendSegment fence just
    // stays conservatively closed until a compact re-run clears them.
    // Aside-then-live order as in [[purge]]. With excluded segments the
    // mask must SURVIVE (their rows were not anti-joined here).
    if (excludeSegments.isEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones_old"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    }
    graft.core.Generations.gcAfterCommit(fs, path, curN, segs ++ zombies,
      legacyChildren = Seq("exact", "sets", "buckets"),
      graceDepth = graceDepth)
  }

  /** Operational introspection of an on-disk index — the readout a
    * maintenance scheduler needs BEFORE deciding to compact: how many
    * LSM segments a read currently unions (per-query scan count), how
    * many tombstones are pending physical purge, and the live row
    * counts of the served tables after tombstone exclusion. One row
    * per statistic, all exact counts (q251 pins them against DuckDB
    * recomputing the same quantities from the raw corpus slices).
    *
    * Sources: `segments_pending` is the served segment directories.
    * With no tombstone pending, the stored rows are the live rows, so
    * `exact_rows` and `sets_rows` are the Parquet footer row counts of
    * the served `exact` and `sets` tables — no Spark job with a warm
    * `meta` cache. With tombstones pending, `tombstones_pending` counts
    * the distinct pending ids and both row counts `count()` the
    * tombstone-masked read (one job each).
    */
  def stats(spark: SparkSession, path: String): DataFrame =
    // resolve-then-count is eager, so a compact racing this call can
    // GC a resolved segment (or a footer) mid-count — retry re-resolves
    // to the committed generation holding the same rows
    graft.core.Generations.retryOnLostSegments() {
      import spark.implicits._
      val params = readParams(spark, path) // a malformed index fails here, as read() would
      val roots = servedRoots(spark, path)
      val (nTombstones, exactRows, setsRows) = tombstones(spark, path) match {
        case None =>
          // footers' pinned schema is the one-writer guard reads apply,
          // and the layout guard runs on it: one listing per root
          def footers(sub: String) =
            graft.core.ParquetMeta.footers(spark, roots.map(r => s"$r/$sub"))
          val exact = footers("exact")
          requireIdLayout(roots, exact.schema)
          (0L, exact.rows, footers("sets").rows)
        case Some(t) =>
          val idx = readRoots(spark, path, params, roots)
          (t.distinct().count(), idx.exact.count(), idx.sets.count())
      }
      Seq(
        ("segments_pending", (roots.size - 1).toLong),
        ("tombstones_pending", nTombstones),
        ("exact_rows", exactRows),
        ("sets_rows", setsRows))
        .toDF("stat", "value")
    }

  /** Thresholds for [[maintenanceAdvice]] — exact integers, a rule
    * fires when `observed` strictly exceeds its `bound`.
    */
  final case class AdviceThresholds(
      maxSegments: Long = 8,
      maxTombstonePct: Long = 5)

  /** Fold [[stats]] into the operational verdict a maintenance
    * scheduler acts on — compact / none — with the triggering numbers
    * attached ([[graft.sim.Similarity.ivfMaintenanceAdvice]]'s dedup
    * twin; same promotion the readouts owed: measure → decide, not
    * measure → eyeball). Two rules over one [[stats]] pass:
    *
    *   - `segments`: `segments_pending > maxSegments` — every dedup
    *     call unions one parquet scan per segment;
    *   - `tombstone_mass`: `100 · tombstones_pending > maxTombstonePct
    *     · exact_rows` — every read pays two anti-joins against the
    *     pending-delete table, and the masked rows still occupy the
    *     bucket lists compaction would shrink.
    *
    * Either fired → `compact` (the one maintenance op that folds both
    * debts; targeted [[purge]] stays the RE-LICENSING path — it clears
    * named ids, not backlog). One row per rule
    * `(rule, observed, bound, fired, advice)`, verdict repeated on
    * every row; q260 recomputes rows and verdict from the raw corpus
    * slices in DuckDB.
    */
  def maintenanceAdvice(
      spark: SparkSession, path: String,
      thresholds: AdviceThresholds = AdviceThresholds()): DataFrame = {
    import spark.implicits._
    val st = stats(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // 4 rows
    val rules = Seq(
      ("segments", st("segments_pending"), thresholds.maxSegments),
      ("tombstone_mass", 100L * st("tombstones_pending"),
        thresholds.maxTombstonePct * st("exact_rows")))
    val advice =
      if (rules.exists { case (_, obs, bound) => obs > bound }) "compact"
      else "none"
    rules.map { case (rule, obs, bound) =>
      (rule, obs, bound, obs > bound, advice)
    }.toDF("rule", "observed", "bound", "fired", "advice")
  }

  /** Measure → decide → ACT in one call ([[graft.sim.Similarity
    * .ivfAutoMaintain]]'s dedup twin): run [[maintenanceAdvice]] and
    * execute the verdict — `compact` → [[compact]], `none` → no
    * filesystem touch. Returns the advice evidence with an `action`
    * column; q266 proves the action ran by replaying the post-action
    * stats. Idempotent at the fixpoint (post-action advice is `none`
    * at the same thresholds, spec-pinned).
    */
  def autoMaintain(
      spark: SparkSession, path: String,
      thresholds: AdviceThresholds = AdviceThresholds(),
      excludeSegments: Set[String] = Set.empty): DataFrame = {
    val advice = maintenanceAdvice(spark, path, thresholds)
    val verdict = advice.select("advice").head.getString(0)
    if (verdict == "compact") compact(spark, path, excludeSegments)
    advice.withColumn("action", lit(verdict))
  }

  private def readParams(spark: SparkSession, path: String): Params = {
    // fingerprint-cached one-row parameter table: meta is immutable by
    // API contract, and the lifecycle paths (read/append/compact/stats)
    // each re-read it — a per-call Spark job otherwise
    val m = graft.core.ParquetMeta.cachedRows(spark, s"$path/meta")
    require(m.length == 1, s"malformed dedup index meta at $path/meta: ${m.length} rows")
    val r = m.head
    Params(
      r.getAs[Int]("shingleSize"), r.getAs[Int]("numHashes"),
      r.getAs[Int]("bands"), r.getAs[Long]("seed"), r.getAs[Long]("maxBucketSize"))
  }

  /** Load an index written by [[write]] (+ any [[appendSegment]]s):
    * the served tables are the union of the base and every segment.
    * The parameters come from the stored `meta`, so queries are always
    * consistent with the build. `excludeSegments` (directory names)
    * drops named segments from the union — the replay-safety half of
    * [[appendSegment]]'s `segmentName`: recompute a batch against the
    * index WITHOUT the batch's own possibly-half-committed segment.
    */
  def read(
      spark: SparkSession, path: String,
      excludeSegments: Set[String] = Set.empty): Index =
    readRoots(spark, path, readParams(spark, path),
      servedRoots(spark, path, excludeSegments))

  private def readRoots(
      spark: SparkSession, path: String, params: Params, roots: Seq[String]): Index = {
    // one pinned-schema multi-path relation per table instead of a
    // unionByName of per-root scans: same rows (all roots share one
    // writer), ~4x cheaper on the driver (schema inference + N
    // relations were ~70% of this call's wall clock)
    def union(sub: String): DataFrame =
      graft.core.ParquetMeta.readPinned(spark, roots.map(r => s"$r/$sub"))
    val exactDirs = roots.map(r => s"$r/exact")
    val exactSchema = graft.core.ParquetMeta.pinnedSchema(spark, exactDirs)
    requireIdLayout(roots, exactSchema)
    val exact = graft.core.ParquetMeta.readWith(spark, exactDirs, exactSchema)
    // pending deletes exclusion-filter the id-carrying tables; the
    // bucket lists stay as-stored (candidates only — a tombstoned
    // candidate dies in the verify join against the filtered sets)
    // until compact purges them physically
    val tomb = tombstones(spark, path)
    Index(params, antiTombstones(exact, tomb), union("buckets"),
      antiTombstones(union("sets"), tomb))
  }

  /** Format guard: `exact` once held distinct (__key) rows and now
    * holds id-carrying (corpus_id, __key) rows, so tombstone deletes
    * can exclusion-filter it. An index tree holding the old layout
    * must fail HERE with the fix, not silently null-fill through a
    * pinned read. `exactSchema` is the pinned schema of every root's `exact`
    * (one writer, verified per root), so one check covers them all.
    */
  private def requireIdLayout(roots: Seq[String], exactSchema: StructType): Unit =
    require(exactSchema.fieldNames.contains("corpus_id"),
      s"dedup index table ${roots.head}/exact uses the pre-delete layout " +
        "(fingerprints without corpus ids) — rebuild the index with " +
        "DedupIndex.write to enable tombstone deletes and reads")

  /** The root directories a read serves — the served base first, then
    * each served segment not in `excludeSegments` — after the
    * crashed-compact guard every read shares.
    */
  private def servedRoots(
      spark: SparkSession, path: String,
      excludeSegments: Set[String] = Set.empty): Seq[String] = {
    // a compaction crashed after its swaps but before the segments/
    // tombstones cleanup would union already-merged rows with their
    // still-live segment copies — fail loud. Recovery: if any *_old
    // table exists, finish the FsSwap recovery first; otherwise the
    // swapped base tables are complete — delete segments/,
    // tombstones/, compact_tmp/ and the marker.
    val cMarker = new org.apache.hadoop.fs.Path(s"$path/compact_pending")
    val mfs = cMarker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!mfs.exists(cMarker),
      s"dedup index at $path is mid-compaction (compact_pending marker " +
        "present) — a crashed legacy-layout compact may have left " +
        "segment rows both merged into the base and live under " +
        "segments/; delete segments/, tombstones/ and compact_tmp/ " +
        "(the swapped base is complete), then remove the marker")
    // generational resolution: the served base is the latest COMMITTED
    // generation (its manifest excludes the segments it folded); the
    // root itself for a legacy tree no compact has upgraded
    servedBaseDir(spark, path) +:
      servedSegmentDirs(spark, path)
        .filterNot(d => excludeSegments.contains(d.split('/').last))
  }

  /** Near-duplicate matches of `batch` against the indexed corpus —
    * [[Dedup.nearDuplicatesAgainst]] with the corpus side served from
    * the index: the batch is shingled and signed with the index's
    * stored hash family, bucket candidates come from ONE
    * (band, bucket) equi-join against the stored bucket table, and the
    * Jaccard verify joins the stored shingle sets (see
    * [[verifiedAgainst]], the one plan both modes run). Returns
    * (batch_id, corpus_id, jaccard) with jaccard ≥ threshold.
    *
    * Each stored table is scanned once (the two consumers of the
    * candidate pairs share one exchange) and none is shuffled.
    * materialize = true (default) first derives the batch once and
    * collects it ([[derived]]), runs the plan over those rows as a
    * local relation and checkpoints the (small) result locally —
    * executor-local blocks, not replayable after executor loss. The
    * driver holds the batch's derived rows (id, fingerprint, shingles,
    * signature); the candidate pairs (at most batch × bands ×
    * `maxBucketSize`) and the matches stay on the executors.
    * materialize = false returns the lazy plan over `batch`.
    */
  def nearDuplicatesAgainst(
      batch: DataFrame, index: Index, idCol: String, textCol: String,
      threshold: Double = 0.8, materialize: Boolean = true): DataFrame =
    if (!materialize)
      verifiedAgainst(signedSets(batch, idCol, textCol, index.params), index, threshold)
    else {
      val rows = derived(batch, idCol, textCol, index.params)
      verifiedAgainst(local(rows), index, threshold).localCheckpoint(true)
    }

  /** The batch side of the near-duplicate plan: (batch_id, __shingles,
    * __sig) for each row with a non-empty shingle set — the same
    * expressions that sign the stored corpus side.
    */
  private def signedSets(
      batch: DataFrame, idCol: String, textCol: String, p: Params): DataFrame =
    signed(batch
      .select(col(idCol).as("batch_id"),
        Dedup.shingles(col(textCol), p.shingleSize).as("__shingles"))
      .filter(size(col("__shingles")) > 0), p)

  /** A batch derived once and collected: (batch_id, __key, __shingles,
    * __sig) rows, the last two null for a row without shingles. */
  private final case class Derived(
      spark: SparkSession, rows: Array[Row], schema: StructType)

  /** Derive `batch` once and collect it. One hash exchange of the raw
    * rows comes first, so the CPU-dense signing runs at the shuffle
    * width (a one-file batch would otherwise sign in ONE scan task).
    * The state is batch-bounded.
    */
  private def derived(
      batch: DataFrame, idCol: String, textCol: String, p: Params): Derived = {
    val spread = batch.repartition(
      batch.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
    val sets = spread.select(col(idCol).as("batch_id"),
      TextStats.fingerprintMd5(col(textCol)).as("__key"),
      Dedup.shingles(col(textCol), p.shingleSize).as("__shingles"))
    // rows without shingles keep their fingerprint for the exact step
    // but carry no set: the near plan skips them, as signedSets does
    val has = size(col("__shingles")) > 0
    val df = sets.select(col("batch_id"), col("__key"),
      when(has, col("__shingles")).as("__shingles"),
      when(has, Dedup.minhashSignature(col("__shingles"), p.numHashes, p.seed)).as("__sig"))
    Derived(batch.sparkSession, df.collect(), df.schema)
  }

  /** The near plan's batch side over collected [[Derived]] rows: a
    * local relation of (batch_id, __shingles, __sig), without rows that
    * have no shingles or a null id (which match nothing: the bucket
    * lists skip null members).
    */
  private def local(d: Derived): DataFrame = {
    import scala.jdk.CollectionConverters._
    val keep = d.rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(2))
      .map(r => Row(r.get(0), r.get(2), r.get(3)))
      .toSeq
    // one partition: the rows are signed already, so the batch-side
    // bucket aggregation needs no exchange
    d.spark.createDataFrame(keep.asJava,
      StructType(Seq("batch_id", "__shingles", "__sig").map(d.schema(_)))).coalesce(1)
  }

  /** The near-duplicate plan both modes run, over a batch side `side`
    * of (batch_id, __shingles, __sig) rows ([[signedSets]] lazily, or
    * [[local]] rows the materialized paths derived once).
    */
  private def verifiedAgainst(
      side: DataFrame, index: Index, threshold: Double): DataFrame = {
    val batchBuckets = cappedBuckets(side, "batch_id", "__bids", index.params)
    // the batch side is batch-bounded by contract (batch ≪ corpus —
    // the module's whole premise); broadcast it so the STORED bucket
    // table is consumed map-side and never shuffled (a sort-merge
    // join here would exchange the corpus-sized table per call).
    // The candidate pairs come out grouped by corpus id: the probe
    // emits one (corpus_id, batch-side list) row per stored member of
    // a matched bucket, and the pair cross product itself is only
    // formed after the exchange by corpus_id (flatten + distinct of
    // the collected lists), so it runs at the shuffle width, not
    // inside the bucket scan (a small stored table scans as ONE task).
    // That one exchange feeds TWO consumers below: the sets prefilter
    // reads its keys with no further distinct, and the verify join
    // needs no further exchange of this side
    val byCorpus = broadcast(batchBuckets)
      .join(index.buckets, Seq("band", "bucket"))
      .select(explode(col("ids")).as("corpus_id"), col("__bids"))
      .groupBy(col("corpus_id"))
      .agg(array_distinct(flatten(collect_list(col("__bids")))).as("__bs"))
    // both sides are shingles()-derived (distinct arrays) — the exact
    // size-ratio prefilter (J ≥ t ⟹ min ≥ t·max) skips the per-pair
    // set build for candidates the threshold already excludes; zero
    // false drops, identical post-threshold result
    val ba = side.select(col("batch_id"), col("__shingles").as("__sa"))
    // the stored `sets` table is corpus-sized — reduce it to the
    // candidates MAP-SIDE (broadcast semi on the candidate corpus
    // ids) instead of shuffling it whole into the verify join; the
    // joins below then move only candidate-bounded rows, and the
    // per-pair Jaccard work stays spread across shuffle partitions (a
    // fully broadcast verify would run it inside the one-task scan of
    // a small sets file)
    // (the filter, true for every group, keeps `__bs` in this
    // consumer: pruned to a bare distinct it would need an exchange of
    // its own)
    val caCand = index.sets
      .join(broadcast(byCorpus.filter(size(col("__bs")) > 0).select(col("corpus_id"))),
        Seq("corpus_id"), "left_semi")
      .select(col("corpus_id"), col("__shingles").as("__sb"))
    byCorpus.join(caCand, "corpus_id")
      .select(explode(col("__bs")).as("batch_id"), col("corpus_id"), col("__sb"))
      .join(ba, "batch_id")
      .filter(least(size(col("__sa")), size(col("__sb"))).cast("double") >=
        lit(threshold) * greatest(size(col("__sa")), size(col("__sb"))))
      .select(col("batch_id"), col("corpus_id"),
        graft.functions.JaccardDistinct.jaccardDistinct(col("__sa"), col("__sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** `batch` reduced to rows that duplicate nothing in the indexed
    * corpus — [[Dedup.dedupAgainst]] through the index. Result is
    * pinned equal to the direct path (DedupIndexSpec; q62 vs q50's
    * oracle).
    *
    * With materialize = true (default) the batch is derived ONCE and
    * no stored table is shuffled:
    *   - batch: one hash exchange of the raw rows derives each row's
    *     (id, fingerprint, shingles, MinHash signature), collected;
    *   - exact hits: `exact`, filtered map-side to the batch
    *     fingerprints; the hit fingerprints (at most one per batch row)
    *     are collected;
    *   - near hits: the exact survivors' derived rows, as a local
    *     relation, run the [[nearDuplicatesAgainst]] plan (broadcast
    *     probe of `buckets`, candidate pairs exploded and verified on
    *     the executors against `sets` filtered to the candidate ids);
    *     its matched batch ids are collected;
    *   - the result is `batch` filtered by both hit sets. It holds no
    *     join and no cached blocks and does not read the index, so it
    *     stays valid after the index mutates (append, delete, compact).
    * The driver holds the batch's derived rows (id, fingerprint,
    * shingles, signature), the hit fingerprints and the matched ids —
    * state bounded by the batch, the contract the batch-side broadcasts
    * rely on; the candidate pairs (at most batch × bands ×
    * `maxBucketSize`) stay on the executors. Exact hits are filtered by
    * fingerprint and near hits by id, with the lazy anti-joins' null
    * semantics: a null text survives the exact step and a null id the
    * near step. materialize = false returns lazy anti-joins against
    * `exact` and the near matches instead.
    */
  def dedupAgainst(
      batch: DataFrame, index: Index, idCol: String, textCol: String,
      threshold: Double = 0.8, materialize: Boolean = true): DataFrame =
    if (!materialize)
      Dedup.lazySurvivorsAgainst(batch, index.exact, idCol, textCol)(b =>
        verifiedAgainst(signedSets(b, idCol, textCol, index.params), index, threshold))
    else {
      val d = derived(batch, idCol, textCol, index.params)
      val keys = d.rows.iterator.filter(!_.isNullAt(1)).map(_.getString(1)).toSet
      val hits =
        if (keys.isEmpty) Array.empty[Any]
        else Dedup.distinctValues(index.exact.select(col("__key"))
          .filter(col("__key").isin(keys.toSeq: _*)))
      val hit = hits.toSet
      val survivors = d.copy(rows = d.rows.filter(r => r.isNullAt(1) || !hit.contains(r.get(1))))
      val nearIds = Dedup.matchedBatchIds(verifiedAgainst(local(survivors), index, threshold))
      Dedup.without(Dedup.without(batch, TextStats.fingerprintMd5(col(textCol)), hits),
        col(idCol), nearIds)
    }
}
