package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is strictly batch
  * (SURVEY §2.9); the engine's column-algebra operators — stratified
  * sampling, scoring columns, text stats, fingerprints — are stateless
  * and therefore run unchanged on streaming DataFrames (demonstrated in
  * `StreamingSpec`). This module adds the stateful pieces a streaming
  * deployment needs: watermarked windowed aggregation, exact dedup,
  * SimHash near-duplicate detection, and a running vocabulary.
  *
  * Scale notes: windowed counts are partial-aggregated before the
  * state-store shuffle; the watermark bounds state size (late events
  * beyond it are dropped), so state is O(windows in flight × group
  * cardinality) regardless of stream length.
  */
object Streaming {

  /** Watermarked tumbling-window event aggregation — the streaming form
    * of the batch hourly-rollup query (q04).
    */
  def windowedEventCounts(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      valueCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("win"), col(typeCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("win.start").as("window_start"), col(typeCol),
        col("n"), col("total_value"))

  /** Watermarked windowed moments sketch — the streaming form of
    * [[graft.sketch.Moments.sketch]]: per (window, group) exact
    * integer power sums of the quantized value, the live
    * numeric-distribution monitor ("did the value distribution of
    * this hour's ingest drift"). Power sums are algebraic aggregates,
    * so the state store holds five integers per open (window, group)
    * — bounded exactly like [[windowedEventCounts]] — and emitted
    * windows merge downstream with batch sketches by element-wise sum
    * (the mergeable-form argument of [[graft.sketch.Moments]]).
    * Quantization mirrors `Moments.sketch` (`⌊x · 10^decimals⌋`);
    * finish with `Moments.finish` after any merging.
    */
  def windowedMoments(
      events: DataFrame,
      tsCol: String,
      groupCol: String,
      valueCol: String,
      decimals: Int = 0,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    require(decimals >= 0 && decimals <= 9,
      s"decimals must be in [0, 9], got $decimals")
    val scale = math.pow(10.0, decimals)
    val q = when(col(valueCol).isNull,
      raise_error(lit(s"windowedMoments: NULL $valueCol — drop " +
        "explicitly, a silent skip would bias every moment")))
      .otherwise(floor(col(valueCol).cast("double") * lit(scale))
        .cast("long")).cast("decimal(38,0)")
    events
      .withWatermark(tsCol, watermark)
      .withColumn("__q", q)
      .groupBy(window(col(tsCol), windowLength).as("win"), col(groupCol))
      .agg(count(lit(1)).as("n"),
        max(abs(col("__q"))).as("q_absmax"),
        sum(col("__q")).as("s1"),
        sum(col("__q") * col("__q")).as("s2"),
        sum(col("__q") * col("__q") * col("__q")).as("s3"),
        sum(col("__q") * col("__q") * col("__q") * col("__q")).as("s4"))
      .select(col("win.start").as("window_start"), col(groupCol),
        col("n"), col("q_absmax"), col("s1"), col("s2"), col("s3"),
        col("s4"))
  }

  /** Watermarked windowed HLL distinct sketch — the streaming form of
    * [[graft.sketch.Hll.sketch]]: per (window, group, bucket) max-rank
    * registers, the live cardinality monitor ("how many distinct users
    * did this hour's ingest see"). `max` is an algebraic aggregate, so
    * the state store holds at most `2^p` integers per open (window,
    * group) — bounded like [[windowedEventCounts]] — and emitted
    * windows merge downstream with batch sketches via
    * [[graft.sketch.Hll.merge]] (max is idempotent; re-merging an
    * already-merged day is safe). Finish with
    * [[graft.sketch.Hll.estimate]] after any merging.
    */
  def windowedDistinctSketch(
      events: DataFrame,
      tsCol: String,
      groupCol: String,
      value: Column,
      p: Int = 8,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val windowed = events
      .withWatermark(tsCol, watermark)
      .withColumn("__win", window(col(tsCol), windowLength))
    graft.sketch.Hll.sketch(windowed, Seq("__win", groupCol), value, p)
      .select(col("__win.start").as("window_start"), col(groupCol),
        col("bucket"), col("rho"))
  }

  /** Watermarked stream-STREAM interval join — attribution at ingest
    * time: every right event that lands within
    * `[leftTs + lowerBound, leftTs + upperBound]` of a matching left
    * event (click→view attribution, impression→conversion windows).
    * Both sides are watermarked and the join condition carries the
    * explicit event-time range, which is what lets Spark EVICT state:
    * a buffered left row is droppable once the right watermark passes
    * `leftTs + upperBound` (and symmetrically), so state is
    * O(events inside one attribution window per key), not O(stream).
    * Without the range condition a stream-stream inner join must
    * buffer both streams forever — the operator exists to make the
    * bounded form the only reachable one.
    *
    * Contract: `left` and `right` must share ONLY `keyCols` (rename
    * payload columns upstream — the output is `left.* ++ right.*`
    * minus the duplicate keys); bounds are SQL interval strings
    * (`"0 seconds"`, `"30 minutes"`). Inner join by contract, like
    * [[enrichedWindowedCounts]].
    */
  def streamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      lowerBound: String,
      upperBound: String,
      watermark: String): DataFrame = {
    require(keyCols.nonEmpty, "streamIntervalJoin needs join keys")
    val overlap = left.columns.toSet
      .intersect(right.columns.toSet) -- keyCols.toSet
    require(overlap.isEmpty,
      s"left and right must share only the join keys; both have $overlap")
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    val keyCond = keyCols.map(k => l(k) === r(k)).reduce(_ && _)
    val range =
      col(rightTsCol) >= col(leftTsCol) + expr(s"INTERVAL $lowerBound") &&
        col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $upperBound")
    l.join(r, keyCond && range)
      .drop(r(keyCols.head), keyCols.tail.map(r(_)): _*)
  }

  /** Stream-static dimension enrichment + windowed rollup — the
    * standard ingest-time shape: a fact stream joined to a SMALL,
    * slowly-changing dimension (user → segment, host → authority
    * tier) and aggregated per (window, dimension value). The join is
    * explicitly `broadcast`: a stream-static equi-join must not
    * shuffle the static side into the stream's stateful exchange —
    * Spark re-broadcasts the dimension per micro-batch, which is also
    * the semantic (dimension updates picked up at batch boundaries).
    *
    * INNER join by contract: an unmatched fact row carries no
    * dimension value and would pollute the rollup with a NULL group —
    * filter or left-join upstream if unmatched facts must survive.
    * State is bounded exactly as [[windowedEventCounts]] (windows in
    * flight × dimension cardinality).
    */
  def enrichedWindowedCounts(
      events: DataFrame,
      dim: DataFrame,
      tsCol: String,
      keyCol: String,
      segmentCol: String,
      valueCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .join(broadcast(dim.select(col(keyCol), col(segmentCol))), Seq(keyCol))
      .groupBy(window(col(tsCol), windowLength).as("win"), col(segmentCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("win.start").as("window_start"), col(segmentCol),
        col("n"), col("total_value"))

  /** Watermarked session aggregation — the streaming twin of
    * [[graft.operators.Sessionize.sessionStats]], on Spark's native
    * `session_window` (incremental merging session state per key; no
    * sort, state bounded by open sessions + watermark). Boundary
    * convention differs from the batch operator only at exact-gap
    * distances: `session_window` closes at `last + gap`, so a gap of
    * exactly `gap` splits here and merges there.
    */
  def sessionStats(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("total_value"))
      .select((keyCols.map(col) :+
        col("session_window.start").as("session_start") :+
        col("session_window.end").as("session_end") :+
        col("n_events") :+ col("total_value")): _*)

  /** Stateless quality gate for streaming ingestion: keep rows passing
    * the predicate, tagging the rest (dead-letter routing splits on the
    * flag without re-evaluating the predicate).
    */
  def withQualityFlag(df: DataFrame, predicate: Column, flagCol: String = "quality_ok"): DataFrame =
    df.withColumn(flagCol, predicate)

  /** Streaming exact dedup — the streaming form of
    * [[graft.dedup.Dedup.exactDedup]]: first occurrence of each
    * (normalized) content fingerprint passes, later duplicates are
    * dropped. `dropDuplicatesWithinWatermark` keys the state store on
    * the 128-bit content hash only (not the full row), and the
    * watermark bounds state: a duplicate arriving later than the
    * watermark delay after its original may pass again — the standard
    * streaming-dedup tradeoff (exact dedup of an unbounded stream needs
    * unbounded state).
    */
  def streamingExactDedup(
      df: DataFrame,
      textCol: String,
      tsCol: String,
      watermark: String = "1 hour",
      normalizeText: Boolean = true): DataFrame = {
    val key =
      if (normalizeText) graft.text.TextStats.fingerprintMd5(col(textCol))
      else md5(col(textCol))
    df.withColumn("__content_key", key)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__content_key")
      .drop("__content_key")
  }

  final case class BucketDoc(key: String, id: Long, fp: Long, ts: java.sql.Timestamp)
  final case class NearDupPair(id_a: Long, id_b: Long, hamming: Int)

  /** Streaming SimHash near-duplicate detection — the streaming form of
    * [[graft.dedup.Dedup.simhashNearDuplicates]]: each document's 64-bit
    * fingerprint is banded into `chunks` bucket keys
    * (pigeonhole-complete for `maxDistance < chunks`), and
    * `flatMapGroupsWithState` keeps per-bucket state of recent
    * fingerprints, emitting an (id_a, id_b, hamming) pair the moment a
    * new document lands within `maxDistance` of a remembered one.
    *
    * State is bounded two ways: the event-time timeout clears a bucket
    * once the watermark passes `stateRetention` beyond its newest
    * element, and `maxBucketState` caps each bucket FIFO (a degenerate
    * bucket degrades recall instead of growing state without bound —
    * the streaming analogue of `maxBucketSize` in the batch path).
    * Pairs whose documents share several chunks emit once per shared
    * chunk (at-least-once): deduplicate downstream with
    * `dropDuplicatesWithinWatermark` if exactly-once pairs matter.
    */
  def streamingSimhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      maxDistance: Int = 3,
      chunks: Int = 4,
      watermark: String = "1 hour",
      stateRetention: String = "1 hour",
      maxBucketState: Int = 1000): Dataset[NearDupPair] =
    streamingSimhashNearDuplicatesFromFingerprints(
      graft.dedup.Dedup.withSimhash(
        df.select(col(idCol), col(textCol), col(tsCol)), textCol, "__fp"),
      idCol, "__fp", tsCol, maxDistance, chunks, watermark,
      stateRetention, maxBucketState)

  /** [[streamingSimhashNearDuplicates]] over PRECOMPUTED 64-bit
    * fingerprints — the streaming twin of the batch
    * [[graft.dedup.Dedup.simhashNearDuplicatesFromFingerprints]], and
    * the seam that lets an engine-independent hash family (e.g. the
    * md5-portable token hashes q17/q25 replay in DuckDB) flow through
    * the stateful pipeline unchanged.
    */
  def streamingSimhashNearDuplicatesFromFingerprints(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      tsCol: String,
      maxDistance: Int = 3,
      chunks: Int = 4,
      watermark: String = "1 hour",
      stateRetention: String = "1 hour",
      maxBucketState: Int = 1000): Dataset[NearDupPair] = {
    require(64 % chunks == 0, "chunks must divide 64")
    val spark = df.sparkSession
    import spark.implicits._
    val bits = 64 / chunks
    val interval = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(stateRetention))
    require(interval.months == 0, "stateRetention must not use month units")
    val retention = interval.days * 86400000L + interval.microseconds / 1000L
    val fp = df.withColumnRenamed(fpCol, "__fp")
      .withWatermark(tsCol, watermark)
    val chunkStructs = (0 until chunks).map { c =>
      concat_ws(":", lit(c),
        shiftright(col("__fp"), c * bits).bitwiseAND(lit((1L << bits) - 1)))
    }
    // the watermark-tagged timestamp column must reach the stateful
    // operator, so it rides inside BucketDoc as-is
    val buckets = fp
      .select(col(idCol).as("id"), col("__fp").as("fp"),
        col(tsCol).as("ts"),
        explode(array(chunkStructs: _*)).as("key"))
      .as[BucketDoc]
    buckets
      .groupByKey(_.key)
      .flatMapGroupsWithState[List[BucketDoc], NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, docs: Iterator[BucketDoc], state: GroupState[List[BucketDoc]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var remembered = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[NearDupPair]
            docs.foreach { d =>
              remembered.foreach { r =>
                if (r.id != d.id) {
                  val h = java.lang.Long.bitCount(r.fp ^ d.fp)
                  if (h <= maxDistance) {
                    val (a, b) = if (r.id < d.id) (r.id, d.id) else (d.id, r.id)
                    out += NearDupPair(a, b, h)
                  }
                }
              }
              remembered = (d :: remembered).take(maxBucketState)
            }
            state.update(remembered)
            // expire the bucket once the watermark passes retention
            // beyond its newest element (clamped ahead of the current
            // watermark — Spark rejects timeouts at or behind it)
            val newest = remembered.map(_.ts.getTime).foldLeft(0L)(math.max)
            state.setTimeoutTimestamp(
              math.max(newest + retention, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Streaming changelog → maintained snapshot: every micro-batch of a
    * keyed I/U/D change stream merges into a versioned parquet state at
    * `statePath/state` via [[graft.operators.Cdc.mergeVersioned]] — the
    * streaming deployment of the batch changelog-upsert operator, i.e.
    * a continuously-maintained MERGE INTO target.
    *
    * Correctness under streaming's failure model comes from the merge
    * algebra, not from ordering assumptions: `mergeVersioned` is
    * commutative over batch boundaries (strict per-key seq comparison;
    * deletes tombstone) and idempotent under replays — so foreachBatch's
    * at-least-once re-execution and arbitrary file-listing order both
    * land on the same final state. The state swap is
    * write-to-temp-then-rename (the [[graft.dedup.DedupIndex.compact]]
    * pattern): a crash during the tmp write leaves the previous state
    * intact (the replayed batch overwrites the partial tmp); a crash
    * inside the delete→rename window leaves a fully-written tmp that
    * startup recovery renames back into place.
    *
    * Scale shape: per batch, one bounded-heap collapse of the batch's
    * changes + one full-outer join against the state — the state reads
    * and writes once per micro-batch, so batch interval should amortize
    * it (at 100 TB the state is a bucketed table and only the delta
    * shuffles; the swap is a metadata rename either way). Read the
    * result with `Cdc.currentView(spark.read.parquet(statePath/state))`.
    */
  def changelogSnapshotSink(
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String,
      statePath: String,
      checkpointPath: String,
      initial: Option[DataFrame] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.hadoop.fs.Path
    val spark = changes.sparkSession
    val store = s"$statePath/state"
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(store))) {
      // Crash-window recovery: the swap below deletes `state` only
      // AFTER `state_tmp_<id>` is fully written — if we died between
      // the delete and the rename, the newest tmp IS the post-batch
      // state. Restore it instead of re-bootstrapping, which would
      // silently lose every batch merged before the crash.
      val tmps = Option(fs.globStatus(new Path(s"$statePath/state_tmp_*")))
        .getOrElse(Array.empty)
      if (tmps.nonEmpty) {
        val newest = tmps.maxBy(
          _.getPath.getName.stripPrefix("state_tmp_").toLong)
        require(fs.rename(newest.getPath, new Path(store)),
          s"changelogSnapshotSink: recovery rename of ${newest.getPath} " +
            "failed")
      } else {
        val boot = initial.getOrElse {
          // empty snapshot with the changelog's payload schema
          val payloadCols = changes.columns
            .filterNot(Seq(seqCol, opCol).contains).toSeq
          changes.select(payloadCols.map(col): _*).filter(lit(false))
        }
        graft.operators.Cdc.initState(boot)
          .write.mode("errorifexists").parquet(store)
      }
    }
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val state = spark.read.parquet(store)
        val next = graft.operators.Cdc.mergeVersioned(
          state, batch, keyCols, seqCol, opCol)
        val tmp = s"$statePath/state_tmp_$batchId"
        next.write.mode("overwrite").parquet(tmp)
        fs.delete(new Path(store), true)
        require(fs.rename(new Path(tmp), new Path(store)),
          s"changelogSnapshotSink: rename of batch $batchId state " +
            s"failed — previous state removed, $tmp left for recovery")
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Continuous ingest gate: every micro-batch runs the declarative
    * [[graft.operators.Checks]] contract and lands its audit rows —
    * tagged with a CONTENT-derived batch key — in a parquet sink,
    * partitioned by that key. The batch form gates a scheduled
    * publish; this is the same contract applied at ingest time, so a
    * poisoned upstream batch is visible (with per-check violation
    * counts) the moment it arrives, not at the next nightly audit.
    *
    * `batchKey` maps a batch to its ONE-ROW key frame (e.g.
    * `b => b.agg(min("block").as("batch_block"))`) — keying by content
    * rather than `batchId` makes the audit independent of file-listing
    * order AND makes the sink idempotent: the write overwrites only
    * the batch's own key partitions (dynamic partition overwrite), so
    * foreachBatch's at-least-once replays land on the same rows
    * instead of appending duplicates.
    *
    * Scale shape per batch: [[graft.operators.Checks.runChecks]]'s one
    * shared scan-aggregate (+ per-Unique/per-ReferencedIn aggregates),
    * a 1×N zero-key scalar attach, and a #checks-row write.
    */
  def qualityAuditSink(
      stream: DataFrame,
      checks: Seq[graft.operators.Checks.Check],
      batchKey: DataFrame => DataFrame,
      auditPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val keyRow = batchKey(batch)
          val audit = graft.core.Scalars.withScalars(
            graft.operators.Checks.runChecks(batch, checks), keyRow)
          audit.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(keyRow.columns.toIndexedSeq: _*)
            .parquet(auditPath)
        }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming KMV sketch maintenance: each micro-batch's bounded
    * (#groups × k)-row [[graft.sketch.Kmv]] sketch lands in
    * `sketchPath` partitioned by a CONTENT-derived batch key (dynamic
    * partition overwrite — the [[qualityAuditSink]] idempotency
    * discipline: a foreachBatch replay rewrites its own partition, and
    * even a duplicated sketch row is harmless because KMV merging
    * dedups by hash value).
    *
    * Why this is the right streaming shape: KMV is UNION-MERGEABLE
    * with zero loss — a value among the k smallest of the whole stream
    * has at most k−1 values below it anywhere, so it is among the k
    * smallest of its own batch; merging batch sketches
    * ([[mergedKmvSketch]]) therefore reconstructs the batch-computed
    * sketch EXACTLY, not approximately. Per-batch state is bounded by
    * #groups × k; nothing rides the state store.
    */
  def kmvSketchSink(
      stream: DataFrame, groupCols: Seq[String], value: Column, k: Int,
      batchKey: DataFrame => DataFrame,
      sketchPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val keyRow = batchKey(batch)
          val sk = graft.core.Scalars.withScalars(
            graft.sketch.Kmv.sketch(batch, groupCols, value, k,
              materialize = false),
            keyRow)
          sk.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(keyRow.columns.toIndexedSeq: _*)
            .parquet(sketchPath)
        }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Continuous-ingest dedup through a persistent [[graft.dedup
    * .DedupIndex]] — the LIFECYCLE wiring the batch pieces imply but
    * never exercise together: each micro-batch is deduped against the
    * corpus-so-far (base index + every earlier batch's survivors),
    * its survivors land under `survivorPath/batch=NNNNN/`, and the
    * SAME survivors join the corpus as a new LSM segment
    * ([[graft.dedup.DedupIndex.appendSegment]]) so the NEXT batch
    * dedups against them too. This is the production shape of
    * continuous 100 TB ingest: per-batch cost is batch-sized (shingle
    * + sign the batch, two equi-joins against the stored tables),
    * the corpus is never re-derived, and `DedupIndex.compact` folds
    * the accumulated segments down off the ingest path.
    *
    * Replay safety (foreachBatch is at-least-once): the batch's
    * segment is NAMED by batchId and the dedup reads the index with
    * that name EXCLUDED, so a redelivered batch recomputes the same
    * survivors against the same corpus state and overwrites both its
    * survivor partition and its segment — idempotent, never
    * self-deduping against its own half-committed first attempt.
    *
    * Ordering: survivors depend on which batches preceded the batch —
    * that is the SEMANTICS of sequential ingest dedup, not an
    * artifact (q227 stages one file per batch with strictly
    * increasing modification times to pin the order; a production
    * deployment gets its order from the source's offsets).
    *
    * `maintainEvery = Some(n)`: after every n-th batch lands, run
    * [[graft.dedup.DedupIndex.autoMaintain]] at `maintainThresholds`
    * INSIDE the ingest loop — the closing of the index lifecycle's
    * last open seam: without it, a long-running stream appends one
    * segment per micro-batch forever and every dedup read pays one
    * scan per segment until an out-of-band operator intervenes.
    * Running it in foreachBatch is single-writer by construction (the
    * same thread that appends), the decision is the measured advice
    * verdict (never a blind compact), a replayed maintenance batch
    * just re-advises (idempotent at the fixpoint), and a maintenance
    * FAILURE fails the batch loud while the generational commit
    * keeps the index serving its last committed state
    * (StreamingIngestSpec pins it).
    */
  private lazy val ingestLog =
    graft.core.Logging.logger("graft.streaming.Streaming")

  /** Runs one in-loop maintenance boundary under the OPTIONAL advisory
    * write lease. `None` (the default) keeps today's single-writer
    * behavior — the foreachBatch thread is the only writer, no
    * coordination needed. `Some((owner, ttlMs))` coordinates with
    * EXTERNAL maintenance (a cron compactor, an operator console)
    * through [[graft.core.WriteLease]]: a CONTENDED boundary skips
    * maintenance with a log line instead of failing the stream —
    * in-loop maintenance re-evaluates at every following boundary
    * anyway, while a failed batch kills the query — and a lease
    * stolen MID-maintenance still fails loud (the TTL was undersized
    * relative to one maintenance pass; an operator must fix that, the
    * stream must not absorb it silently).
    */
  private def maintainUnderLease(
      indexPath: String, lease: Option[(String, Long)])(
      act: => Unit): Unit = lease match {
    case None => act
    case Some((owner, ttlMs)) =>
      try graft.core.WriteLease.withLease(indexPath, owner, ttlMs)(act)
      catch {
        case busy: graft.core.WriteLease.LeaseBusy =>
          graft.core.Logging.log(ingestLog,
            "skipping in-loop maintenance at this boundary (lease " +
              s"contended; will re-evaluate next boundary): ${busy.getMessage}")
      }
  }

  def dedupIngestSink(
      stream: DataFrame,
      indexPath: String,
      survivorPath: String,
      checkpointPath: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      maintainEvery: Option[Int] = None,
      maintainThresholds: graft.dedup.DedupIndex.AdviceThresholds =
        graft.dedup.DedupIndex.AdviceThresholds(),
      maintainLease: Option[(String, Long)] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val segName = f"seg_b$batchId%05d"
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val idx = graft.dedup.DedupIndex.read(
            spark, indexPath, excludeSegments = Set(segName))
          // the survivors are a filter over the micro-batch (the index
          // hits are collected inside dedupAgainst), so they no longer
          // read the index tree appendSegment extends below; pin them
          // because they are consumed twice (survivor write + segment)
          // and re-running the filter would re-derive the micro-batch
          val survivors = graft.dedup.DedupIndex
            .dedupAgainst(batch, idx, idCol, textCol, threshold)
            .localCheckpoint(true)
          survivors.write.mode("overwrite")
            .parquet(f"$survivorPath/batch=$batchId%05d")
          graft.dedup.DedupIndex.appendSegment(
            spark, indexPath, survivors, idCol, textCol, Some(segName))
        }
        // the current batch's segment is EXCLUDED from the fold set:
        // its stream offsets are not yet committed, and a compact that
        // folded it would make the replayed batch's re-landed segment
        // serve its rows twice (the base already absorbed them)
        if (maintainEvery.exists(n => n > 0 && (batchId + 1) % n == 0))
          maintainUnderLease(indexPath, maintainLease) {
            graft.dedup.DedupIndex.autoMaintain(
              batch.sparkSession, indexPath, maintainThresholds,
              excludeSegments = Set(segName))
          }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Continuous-ingest ANN maintenance through a persistent IVF index —
    * [[dedupIngestSink]]'s exact twin for the similarity family: each
    * micro-batch of vectors is assigned against the index's STORED
    * centroids (one map-only broadcast pass — the existing corpus is
    * never read) and lands as a cell-partitioned LSM segment under
    * `segments/seg_bNNNNN/`; [[graft.sim.Similarity.readIvfIndex]]
    * serves base ∪ segments with the cell filter partition-pruning
    * every arm, and [[graft.sim.Similarity.compactIvfIndex]] folds
    * segments back into the base off the ingest path.
    *
    * Unlike dedup ingest, assignment is a pure per-row function of the
    * stored centroids, so batch ORDER is irrelevant and the final
    * index is row-identical to a one-shot build over the union —
    * which is exactly what q232 pins by serving q66's oracle through
    * a streamed-in index. Replay safety: a redelivered batch
    * overwrites its own named segment; no exclusion read is needed
    * because assignment never consults index contents.
    */
  /** `auditQueries` (optional) puts the EMPIRICAL recall audit inside
    * the ingest loop: at each maintenance boundary the decision runs
    * through [[graft.sim.Similarity.ivfAutoMaintainAudited]] — the
    * stats rules PLUS measured recall on the sample at the serving
    * probe count vs `auditTargetPpm` — so the stream heals its own
    * recall drift (a retrain verdict re-fits the centroids) instead of
    * waiting for an operator to notice probe quality decayed. The
    * audit's brute-force corpus pass is maintenance-window priced:
    * size `maintainEvery` accordingly.
    */
  def ivfIngestSink(
      stream: DataFrame,
      indexPath: String,
      checkpointPath: String,
      idCol: String,
      vecCol: String,
      maintainEvery: Option[Int] = None,
      maintainThresholds: graft.sim.Similarity.IvfAdviceThresholds =
        graft.sim.Similarity.IvfAdviceThresholds(),
      retrainIters: Int = 2,
      auditQueries: Seq[(Long, Array[Float])] = Nil,
      auditK: Int = 10,
      auditNProbe: Int = 1,
      auditTargetPpm: Long = 900000L,
      maintainLease: Option[(String, Long)] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val segName = f"seg_b$batchId%05d"
        if (!batch.isEmpty) {
          graft.sim.Similarity.appendIvfSegment(
            batch.sparkSession, indexPath, batch, idCol, vecCol,
            segmentName = Some(segName))
        }
        // in-loop maintenance ([[dedupIngestSink]]'s contract):
        // measured advice → act, single-writer, fail-loud; a retrain
        // verdict re-fits centroids to the corpus as ingested. The
        // current batch's segment is EXCLUDED from the fold set (its
        // stream offsets are not yet committed — folding it would make
        // the replayed batch's re-landed segment serve twice); a
        // retrain re-assigns the excluded segment in place under the
        // new centroids, so the served index stays geometrically
        // consistent
        if (maintainEvery.exists(n => n > 0 && (batchId + 1) % n == 0))
          maintainUnderLease(indexPath, maintainLease) {
            if (auditQueries.nonEmpty)
              graft.sim.Similarity.ivfAutoMaintainAudited(
                batch.sparkSession, indexPath, idCol, vecCol,
                auditQueries, auditK, auditNProbe, auditTargetPpm,
                maintainThresholds, retrainIters,
                excludeSegments = Set(segName))
            else
              graft.sim.Similarity.ivfAutoMaintain(
                batch.sparkSession, indexPath, idCol, vecCol,
                maintainThresholds, retrainIters,
                excludeSegments = Set(segName))
          }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Continuous ingest into a persistent SUBSTRING-fingerprint index —
    * the third index family joins the streaming world
    * ([[dedupIngestSink]] = MinHash docs, [[ivfIngestSink]] = ANN
    * vectors, this = positional winnowing fingerprints): each
    * micro-batch of documents is winnowed with the index's STORED
    * (k, window, maxDocFreq) parameters and lands as an LSM segment
    * under `segments/seg_bNNNNN/`;
    * [[graft.dedup.SubstringDedup.matchesAgainstIndex]] serves
    * base ∪ segments, and `compactFingerprintIndex` re-caps globally
    * off the ingest path.
    *
    * Like IVF assignment — and unlike dedup ingest — winnowing is a
    * pure per-document function of the stored parameters, so batch
    * ORDER is irrelevant and the final index is row-identical to a
    * batch build over the union (modulo the per-segment df-cap scope
    * `appendToFingerprintIndex` documents). Replay safety: a
    * redelivered batch overwrites its own batchId-named segment; no
    * exclusion read is needed because winnowing never consults index
    * contents.
    *
    * Takedown seam (the [[dedupIngestSink]] composition contract):
    * `appendToFingerprintIndex` runs its tombstone fence per batch, so
    * a stream replaying a TOMBSTONED document id fails the batch loud
    * instead of silently resurrecting taken-down text — purge the id,
    * then restart the stream.
    */
  def substringIngestSink(
      stream: DataFrame,
      indexPath: String,
      checkpointPath: String,
      idCol: String,
      textCol: String,
      maintainEvery: Option[Int] = None,
      maintainThresholds: graft.dedup.DedupIndex.AdviceThresholds =
        graft.dedup.DedupIndex.AdviceThresholds(),
      maintainLease: Option[(String, Long)] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val segName = f"seg_b$batchId%05d"
        if (!batch.isEmpty) {
          graft.dedup.SubstringDedup.appendToFingerprintIndex(
            batch.sparkSession, indexPath, batch, idCol, textCol,
            segmentName = Some(segName))
        }
        // in-loop maintenance ([[dedupIngestSink]]'s contract):
        // measured advice → act, single-writer, fail-loud; the current
        // batch's segment is EXCLUDED from the fold set (offsets not
        // yet committed — folding it would double the replayed batch)
        if (maintainEvery.exists(n => n > 0 && (batchId + 1) % n == 0))
          maintainUnderLease(indexPath, maintainLease) {
            graft.dedup.SubstringDedup.autoMaintainFingerprintIndex(
              batch.sparkSession, indexPath, maintainThresholds,
              excludeSegments = Set(segName))
          }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming CUSUM drift monitoring: each micro-batch reduces to its
    * per-(group, time-bucket) metric rows
    * (`bucketize: raw batch → (groupCols…, orderCol, valueCol)`),
    * lands them in `bucketPath` partitioned by a CONTENT-derived batch
    * key (the [[qualityAuditSink]]/[[kmvSketchSink]] idempotency
    * discipline), and recomputes
    * [[graft.operators.ChangePoint.cusum]] over the WHOLE bucket
    * store into `alarmPath`.
    *
    * Why recompute instead of carrying (C, min C, max C) state: the
    * sequential recurrence is order-sensitive, and a file stream makes
    * no arrival-order promise — incremental state would silently
    * corrupt on out-of-order or late buckets. The bucket store is
    * TINY by [[graft.operators.ChangePoint]]'s pre-bucketed contract
    * (buckets, never raw events), so the per-batch recompute is
    * bounded by bucket count, exact under ANY arrival order, handles
    * late buckets (same (group, ord) across batches merges by sum),
    * and makes streaming ≡ batch an equality (q214) — the q204
    * streaming-KMV argument applied to a sequential statistic.
    */
  def cusumBucketSink(
      stream: DataFrame,
      bucketize: DataFrame => DataFrame,
      groupCols: Seq[String], orderCol: String, valueCol: String,
      k: Long, threshold: Long,
      batchKey: DataFrame => DataFrame,
      bucketPath: String, alarmPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val keyRow = batchKey(batch)
          graft.core.Scalars.withScalars(bucketize(batch), keyRow)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(keyRow.columns.toIndexedSeq: _*)
            .parquet(bucketPath)
          storedCusum(batch.sparkSession, bucketPath, groupCols,
            orderCol, valueCol, k, threshold)
            .write.mode("overwrite").parquet(alarmPath)
        }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The CUSUM table over a [[cusumBucketSink]] bucket store: merge
    * same-(group, bucket) rows across batches by SUM (a bucket split
    * over batches, or re-delivered, accumulates exactly once per
    * landed partition), then the [[graft.operators.ChangePoint]]
    * windows. #buckets-sized work.
    */
  def storedCusum(
      spark: org.apache.spark.sql.SparkSession, bucketPath: String,
      groupCols: Seq[String], orderCol: String, valueCol: String,
      k: Long, threshold: Long): DataFrame =
    graft.operators.ChangePoint.cusum(
      spark.read.parquet(bucketPath)
        .groupBy((groupCols :+ orderCol).map(col): _*)
        .agg(sum(col(valueCol)).as(valueCol)),
      groupCols, orderCol, valueCol, k, threshold)

  /** Merge a [[kmvSketchSink]] store back into the per-group sketch:
    * distinct (group, h) across batches — the same hash CAN surface in
    * several batches — then the k smallest per group. Runs on the
    * store's #batches × #groups × k rows, never the stream's data.
    */
  def mergedKmvSketch(
      spark: org.apache.spark.sql.SparkSession, sketchPath: String,
      groupCols: Seq[String], k: Int): DataFrame =
    graft.operators.GroupLimit.topKPerGroup(
      spark.read.parquet(sketchPath)
        .select((groupCols :+ "h").map(col): _*)
        .distinct(),
      groupCols, Seq(col("h")), k)

  final case class VocabCount(value: String, count: Long)

  /** Streaming vocabulary: running value counts maintained with
    * `mapGroupsWithState` — the stateful form of
    * [[graft.vocab.Vocabulary.vocabCounts]] (SURVEY §2.9 notes batch
    * vocabulary needs exactly this to stream). Each micro-batch emits
    * the updated cumulative count per value; state is one long per
    * distinct value, partitioned by the state-store shuffle.
    */
  def streamingVocabCounts(values: Dataset[String]): Dataset[VocabCount] = {
    import values.sparkSession.implicits._
    values
      .filter((v: String) => v != null)
      .groupByKey(identity[String] _)
      .mapGroupsWithState[Long, VocabCount](GroupStateTimeout.NoTimeout) {
        (value: String, rows: Iterator[String], state: GroupState[Long]) =>
          val updated = state.getOption.getOrElse(0L) + rows.size
          state.update(updated)
          VocabCount(value, updated)
      }
  }

}
