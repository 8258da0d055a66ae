package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextStats

/** Deduplication operators for 100 TB training-data pipelines: exact
  * (hash-grouped), MinHash-LSH and SimHash near-duplicate candidate
  * generation (banded/bucketed — never all-pairs), and exact n-gram
  * Jaccard verification on candidates only. North-star extension per
  * SURVEY §2.11.
  *
  * Scale design:
  *   - exact dedup is one shuffle on a 128-bit content hash; group sizes
  *     are duplicate-cluster sizes (tiny), so no skew mitigation needed;
  *   - near-dup candidate generation explodes each doc into `bands`
  *     bucket keys and self-joins per bucket: cost is Σ bucket²  — tuned
  *     by (bands, rowsPerBand) — instead of N²;
  *   - verification (exact Jaccard / Hamming) runs only on candidate
  *     pairs, joining the shingle sets back by id.
  */
object Dedup {

  // ---- exact dedup ----

  /** Keep one row per distinct (normalized) text: the one with the
    * smallest `idCol` (ids must be unique AND non-null — `min_by` skips
    * null ordering keys, so a null id can neither win nor be counted;
    * the survivor is deterministic under that contract).
    *
    * Implemented as `min_by(row-struct, id)` — a partial+final hash
    * aggregate on the 128-bit content hash. Map-side combine collapses
    * each partition's duplicates before the shuffle, so a corpus that is
    * mostly duplicates ships a fraction of its rows; the older
    * row_number-window form shuffles every row AND sorts each partition.
    * Same single hash-partitioned exchange, no sort, identical output
    * (equivalence pinned in DedupSpec).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String,
      normalizeText: Boolean = true): DataFrame = {
    val key =
      if (normalizeText) TextStats.fingerprintMd5(col(textCol))
      else md5(col(textCol))
    df.groupBy(key.as("__key"))
      .agg(min_by(struct(df.columns.map(col): _*), col(idCol)).as("__row"))
      .select(col("__row.*"))
  }

  /** row_number-window form of [[exactDedup]] — equivalence witness. */
  private[graft] def exactDedupWindowed(df: DataFrame, textCol: String, idCol: String,
      normalizeText: Boolean = true): DataFrame = {
    val key =
      if (normalizeText) TextStats.fingerprintMd5(col(textCol))
      else md5(col(textCol))
    val w = Window.partitionBy(key).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ---- shingles + MinHash ----

  /** Distinct word n-gram shingles of the normalized text. Texts shorter
    * than `n` tokens yield no shingles (guard needed: Spark's `sequence`
    * counts *down* when stop < start).
    *
    * The token array is bound ONCE per row via
    * [[graft.text.TextStats.bindOnce]]: higher-order functions run
    * interpreted with no subexpression elimination, so referencing the
    * normalize+split subtree directly inside the per-shingle lambda
    * would re-run the regex tokenization for every shingle — measured
    * ~8s vs ~0.5s for 5k docs at sf0.1.
    */
  def shingles(text: Column, n: Int): Column = {
    val ts = split(TextStats.normalize(text), " ")
    if (n == 1) {
      // 1-gram shingles are just the distinct tokens; skip the
      // per-token slice/concat lambda (higher-order functions run
      // interpreted, so the general path pays per-element overhead).
      array_distinct(ts)
    } else {
      array_distinct(TextStats.bindOnce(ts) { t0 =>
        when(size(t0) >= n,
          transform(
            sequence(lit(0), size(t0) - lit(n)),
            i => concat_ws(" ", slice(t0, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))
      })
    }
  }

  // Affine MinHash permutation parameters: h_i(x) = (a_i * x + b_i) mod p
  // over the 31-bit Mersenne prime, derived deterministically from the
  // seed via splitmix64 (public-domain mixing constants). The domain is
  // capped at 31 bits so a*h stays below Long.MaxValue — Spark 4 runs in
  // ANSI mode and a 61-bit prime would overflow the multiply.
  private val MersennePrime = (1L << 31) - 1

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (splitmix64(seed + 2L * i) & Long.MaxValue) % (MersennePrime - 1) + 1
      val b = (splitmix64(seed + 2L * i + 1) & Long.MaxValue) % MersennePrime
      (a, b)
    }

  /** MinHash signature column: for each of `numHashes` affine
    * permutations, the minimum over the shingle base hashes
    * (`xxhash64` mod p). Delegates the fold to the native codegen
    * expression [[graft.functions.MinHashFold]] — Spark's higher-order
    * functions are interpreted, so a composed fold pays per-element
    * lambda overhead across shingles × numHashes.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int, seed: Long = 42L): Column =
    graft.functions.MinHashFold.minhashFold(
      transform(shinglesCol, s => pmod(xxhash64(s), lit(MersennePrime))),
      numHashes, seed)

  /** Builtins-only composed form of [[minhashSignature]] (one `aggregate`
    * fold updating a running-min array via `zip_with` against a literal
    * parameter array). Bit-identical to the native expression — kept as
    * the fallback and equivalence witness.
    */
  def minhashSignatureComposed(shinglesCol: Column, numHashes: Int, seed: Long = 42L): Column = {
    val params = typedlit(hashParams(numHashes, seed))
    val base = transform(shinglesCol, s => pmod(xxhash64(s), lit(MersennePrime)))
    aggregate(
      base,
      typedlit(Seq.fill(numHashes)(MersennePrime)),
      (acc, h) => zip_with(acc, params, (m, ab) =>
        least(m, pmod(h * ab.getField("_1") + ab.getField("_2"), lit(MersennePrime)))))
  }

  /** LSH banding: split the signature into `bands` rows of
    * `rowsPerBand`, hash each band. Docs sharing any band hash are
    * candidates. Returns (band, bucket) pairs exploded per doc.
    */
  def lshBuckets(df: DataFrame, idCol: String, signatureCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(col(signatureCol), b * rowsPerBand + 1, rowsPerBand))).as("bucket"))
    }
    df.select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs from shared LSH buckets (id_a < id_b, distinct).
    *
    * Shape matters here: a bucketed *self-join* recomputes the whole
    * shingle→minhash pipeline on both sides (the broadcast side can't
    * reuse the shuffle exchange), and a window-based size guard adds
    * another exchange — measured 3× slower than this form. Instead, one
    * aggregation collects each bucket's ids and two nested `explode`s
    * stream the s² pairs without materializing them: the signature
    * pipeline runs exactly once and the only shuffle is the groupBy.
    *
    * `maxBucketSize` drops pathological buckets (boilerplate headers,
    * empty docs): a size-s bucket streams s² pairs, so one hot bucket
    * can dominate the job at scale. Dropped members keep their other
    * `bands-1` chances, so recall degrades gracefully instead of the
    * job degenerating to all-pairs. The cap is enforced *inside* the
    * aggregation buffer ([[graft.functions.CappedCollectList]] stops
    * accumulating at cap+1 elements and evaluates oversized groups to
    * null), so a degenerate bucket with tens of millions of members
    * never materializes as a multi-GB buffer before the guard fires —
    * memory stays bounded per group at any input size.
    */
  def candidatePairs(buckets: DataFrame, idCol: String,
      maxBucketSize: Long = 100000L): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    // larger sentinels (e.g. Long.MaxValue = "uncapped") clamp to the
    // array-size ceiling — buckets beyond 2^31 elements can't be
    // collected in one buffer anyway
    val cap = math.min(maxBucketSize, (Int.MaxValue - 8).toLong).toInt
    buckets
      .groupBy(col("band"), col("bucket"))
      .agg(graft.functions.CappedCollectList
        .cappedCollectList(col(idCol), cap).as("__ids"))
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Containment near-duplicate pairs: |shingles(A) ∩ shingles(B)| /
    * min(|A|, |B|) ≥ threshold — the asymmetric-overlap complement of
    * Jaccard near-dup (Broder's containment measure). A short document
    * pasted inside a much longer one scores near 1.0 containment but a
    * LOW Jaccard (the union is dominated by the long side), so
    * MinHash-LSH dedup systematically misses exactly the
    * quote-embedding / boilerplate-wrapper duplicates this catches.
    *
    * Scale shape: a posting-list (inverted-index) self-join. Distinct
    * shingles are exploded, shingles appearing in more than
    * `maxDocFreq` documents are dropped BEFORE the join (a shingle
    * shared by d docs fans out d(d−1)/2 candidate pairs; hot
    * boilerplate grams carry no identity signal — the same
    * pre-join doc-frequency cap as [[SubstringDedup]] and
    * `Decontaminate`), then one equi-join on the shingle feeds a pair
    * count (postings are distinct per (doc, shingle) by construction,
    * so `count` IS the intersection size — no count-distinct shuffle).
    * Containment is computed over the RETAINED shingle universe: both
    * the intersection and the set sizes exclude capped shingles, so
    * the reported ratio is internally consistent and the whole
    * pipeline replays as plain SQL (q88). At 100 TB the shingle
    * strings would ride the shuffle as 64-bit hashes (as in
    * [[nearDuplicates]]); exact strings are kept here so the measure
    * is exact, not probabilistic.
    */
  def containmentNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = 1000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxDocFreq >= 2L,
      s"maxDocFreq < 2 can never produce a pair, got $maxDocFreq")
    val postings = df
      .select(col(idCol).as("__cid"),
        explode(shingles(col(textCol), shingleSize)).as("__g"))
    val rare = postings.groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select(col("__g"))
    // corpus-sized on both sides: a plain shuffle equi-join, never a
    // broadcast of the shingle table
    val kept = postings.join(rare, "__g")
    val sizes = kept.groupBy(col("__cid")).agg(count(lit(1)).as("__n"))
    val shared = kept.as("a")
      .join(kept.as("b"),
        col("a.__g") === col("b.__g") && col("a.__cid") < col("b.__cid"))
      .groupBy(col("a.__cid").as("id_a"), col("b.__cid").as("id_b"))
      .agg(count(lit(1)).as("__shared"))
    shared
      .join(sizes.as("sa"), col("id_a") === col("sa.__cid"))
      .join(sizes.as("sb"), col("id_b") === col("sb.__cid"))
      // exact-integer division on both engines → bit-reproducible
      .withColumn("containment",
        col("__shared").cast("double") /
          least(col("sa.__n"), col("sb.__n")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Exact Jaccard similarity between two shingle-set columns —
    * builtins-only composed form, kept as the equivalence witness for
    * the fused native expression
    * ([[graft.functions.JaccardDistinct]]) that the pipelines use.
    */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(1.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)))

  /** Full MinHash-LSH near-duplicate pipeline: shingle → sign → band →
    * bucket-join candidates → exact-Jaccard verify. Returns
    * (id_a, id_b, jaccard) pairs with jaccard ≥ threshold.
    *
    * Executes eagerly: the shingle table feeds three plan branches, so it
    * is persisted for the duration of the computation and the (small —
    * O(duplicate pairs), not O(corpus)) result is materialized via
    * `localCheckpoint` so the cache can be released before returning.
    * Long-lived sessions therefore don't accumulate cached shingle blocks
    * across calls (disk-backed blocks are never evicted by memory
    * pressure). The returned DataFrame reads the checkpointed blocks;
    * they are reclaimed by the ContextCleaner once it is unreachable.
    */
  def nearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L,
      materialize: Boolean = true): DataFrame =
    nearDuplicatesBySets(
      df.select(col(idCol), shingles(col(textCol), shingleSize).as("__set")),
      idCol, "__set", numHashes, bands, threshold, seed, maxBucketSize, materialize)

  /** [[nearDuplicates]] with `bands` DERIVED from the threshold by
    * [[LshPlan.planRecallBounded]] instead of hand-tuned — the planner
    * as the default entry: the caller states the two things they
    * actually know (the Jaccard threshold they serve and the recall
    * they need) and the banding S-curve math picks the divisor pair
    * with that miss bound and minimal wasted-candidate mass. At the
    * package defaults (64 hashes, t = 0.9, maxMiss = 1e-6) this
    * derives the (16, 4) the oracle queries pin, so planned ≡ tuned is
    * driver-checked (q254 against q14's exhaustive closure).
    */
  def nearDuplicatesPlanned(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L,
      materialize: Boolean = true,
      maxMiss: Double = 1e-6): DataFrame = {
    // the derived pair is logged and deterministic — callers wanting
    // it programmatically recompute LshPlan.planRecallBounded(
    // numHashes, threshold, maxMiss) driver-side for free
    val (bands, rowsPerBand) =
      LshPlan.planRecallBounded(numHashes, threshold, maxMiss)
    graft.core.Logging.log(
      graft.core.Logging.logger("graft.dedup.Dedup"),
      s"nearDuplicatesPlanned: t=$threshold numHashes=$numHashes " +
        s"maxMiss=$maxMiss -> bands=$bands rowsPerBand=$rowsPerBand")
    nearDuplicates(df, idCol, textCol, shingleSize, numHashes, bands,
      threshold, seed, maxBucketSize, materialize)
  }

  /** Generic MinHash-LSH near-duplicate pipeline over a precomputed
    * set-valued column — `array<string>` (shingles), `array<bigint>`
    * (e.g. [[graft.text.TextStats.winnowingFingerprints]] rolling-hash
    * fingerprints, whose position-local selection makes the Jaccard
    * reflect shared *passages*, not just whole-document similarity) or
    * `array<int>`. Same execution shape as the text pipeline (it
    * delegates here): sign → band → capped buckets → fused-Jaccard
    * verify on candidates only, eager materialization + cache release.
    */
  def nearDuplicatesBySets(
      df: DataFrame,
      idCol: String,
      setCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L,
      materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    import org.apache.spark.sql.types.{ArrayType, LongType, IntegerType}
    val elemType = df.schema(setCol).dataType match {
      case ArrayType(et, _) => et
      case other => throw new IllegalArgumentException(
        s"$setCol must be an array column, got $other")
    }
    // The set table feeds three plan branches (signatures + both verify
    // sides). With materialize = true it is persisted so upstream
    // derivation runs once (MEMORY_AND_DISK spills rather than OOMs at
    // scale) and released before returning; with materialize = false
    // NOTHING is cached — the plan stays lazy and fault-tolerant, the
    // set derivation recomputes per branch, and callers who want the
    // compute-once behavior persist their own input (the set column is
    // an input here, so its lifecycle is theirs).
    val base0 = df
      .select(col(idCol), col(setCol).as("__shingles"))
      .filter(size(col("__shingles")) > 0)
    val withSets =
      if (materialize)
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    // MinHash base hashes mod the Mersenne prime: integral elements are
    // already hashes (winnowing emits values < 2^31), strings go
    // through xxhash64 first
    val base = elemType match {
      case LongType | IntegerType =>
        transform(col("__shingles"), h => pmod(h.cast("bigint"), lit(MersennePrime)))
      case _ =>
        transform(col("__shingles"), s => pmod(xxhash64(s), lit(MersennePrime)))
    }
    val signed = withSets.withColumn(
      "__sig", graft.functions.MinHashFold.minhashFold(base, numHashes, seed))
    val buckets = lshBuckets(signed, idCol, "__sig", bands, rowsPerBand)
    val pairs = candidatePairs(buckets, idCol, maxBucketSize)
    // verify on candidates only: join the sets back by id. The verify
    // carries each side's DISTINCT cardinality (computed once per DOC,
    // not per pair — setCol is caller-provided and may hold duplicate
    // slots) for the exact size-ratio prefilter below.
    val sa = withSets.select(col(idCol).as("id_a"), col("__shingles").as("__sa"),
      size(array_distinct(col("__shingles"))).as("__na"))
    val sb = withSets.select(col(idCol).as("id_b"), col("__shingles").as("__sb"),
      size(array_distinct(col("__shingles"))).as("__nb"))
    // size-ratio prefilter (classic length filter for set-similarity
    // joins): J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so
    // J ≥ t forces min ≥ t·max. O(1) per pair, ZERO false drops — the
    // post-filter result is identical; it only skips the expensive
    // set-build for pairs the threshold already excludes (measured:
    // drops ~60% of candidates on the bench corpus, verify ~1.8×).
    val verified = pairs.join(sa, "id_a").join(sb, "id_b")
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(threshold) * greatest(col("__na"), col("__nb")))
      .withColumn("jaccard",
        graft.functions.JaccardDistinct.jaccardDistinct(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    if (materialize) {
      // materialize the (small) result so the set cache can be released
      // now instead of leaking until session end. Tradeoff: the result
      // lives in executor-local checkpoint blocks (not fault-tolerant
      // replay) — on clusters with preemptible executors pass
      // materialize = false for a fully lazy, recomputable plan with no
      // hidden caching at all.
      val result = verified.localCheckpoint(true)
      withSets.unpersist()
      result
    } else verified
  }

  // ---- cross-corpus (incremental) dedup ----

  /** Near-duplicate matches of `batch` documents AGAINST an existing
    * `corpus` — the incremental-ingest shape: the corpus was deduped
    * yesterday, today's batch dedupes against it without re-pairing the
    * corpus with itself. Returns (batch_id, corpus_id, jaccard) with
    * jaccard ≥ threshold.
    *
    * Execution: both sides sign with the SAME seeded hash family, band
    * into the same bucket space, and candidates come from ONE
    * (band, bucket) equi-join of the two bucket tables — never a
    * self-join, never corpus × corpus. Each side's bucket membership is
    * capped inside the aggregation buffer ([[graft.functions.
    * CappedCollectList]]) before the join, so a boilerplate bucket hot
    * on both sides streams at most cap² pairs instead of
    * |corpus| × |batch|.
    */
  def nearDuplicatesAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L,
      materialize: Boolean = true): DataFrame =
    verifiedAgainst(batch, corpus, idCol, textCol, shingleSize, numHashes,
      bands, threshold, seed, maxBucketSize, materialize) { verified =>
      if (materialize) verified.localCheckpoint(true) else verified
    }

  /** [[nearDuplicatesAgainst]]'s plan, handed to `finish` while the
    * per-call caches (materialize = true) are still live; they are
    * released once `finish` returns, so `finish` must run its actions
    * itself.
    */
  private def verifiedAgainst[T](
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int, threshold: Double,
      seed: Long, maxBucketSize: Long, materialize: Boolean)(
      finish: DataFrame => T): T = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    val rowsPerBand = numHashes / bands
    val cap = math.min(maxBucketSize, (Int.MaxValue - 8).toLong).toInt
    def sets(df: DataFrame) = df
      .select(col(idCol), shingles(col(textCol), shingleSize).as("__shingles"))
      .filter(size(col("__shingles")) > 0)
    def sign(df: DataFrame) = df.withColumn("__sig",
      graft.functions.MinHashFold.minhashFold(
        transform(col("__shingles"), s => pmod(xxhash64(s), lit(MersennePrime))),
        numHashes, seed))
    // each side's shingle table feeds TWO plan branches (signature
    // buckets + verify join-back). With materialize = true (default),
    // persist both so normalization/shingling runs once per side;
    // nearDuplicatesAgainst eagerly checkpoints the (small) matched-pair
    // result so the caches can be released before returning — same
    // contract and same tradeoff as nearDuplicatesBySets:
    // localCheckpoint blocks are executor-local and not replayable after
    // executor loss, so materialize = false keeps everything lazy and
    // fault-tolerant at the price of the double shingle derivation.
    // CPU-dense per-doc derivation (regex normalize + shingling +
    // 64-hash MinHash) must not be serialized by the input's file
    // layout: a side arriving as one unsplittable file computes
    // everything in ONE scan task (guide §2.5 — repartition right
    // after the read). A pinned-width hash exchange of the raw
    // (id, text) rows moves bytes only and decouples the compute
    // parallelism from the scan splits; AQE cannot coalesce it down
    // (tiny byte sizes would mis-size the compute-bound stage).
    // materialize-only: the lazy path skips this input spread, but it
    // still exchanges the matched buckets below like the materialized
    // path does.
    def spread(df: DataFrame): DataFrame =
      if (!materialize) df
      else df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
    val batchSets0 = sets(spread(batch))
    val corpusSets0 = sets(spread(corpus))
    val batchSets =
      if (materialize) batchSets0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else batchSets0
    val corpusSets =
      if (materialize) corpusSets0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else corpusSets0
    try {
      def cappedBuckets(df: DataFrame, outCol: String) =
        lshBuckets(sign(df), idCol, "__sig", bands, rowsPerBand)
          .groupBy(col("band"), col("bucket"))
          .agg(graft.functions.CappedCollectList
            .cappedCollectList(col(idCol), cap).as(outCol))
          .filter(col(outCol).isNotNull)
      // the batch side is the small side by contract (incremental
      // ingest: batch ≪ corpus) — broadcast its bucket table so the
      // corpus-side aggregate is consumed without a join exchange
      // matched buckets are batch-bounded ROWS carrying the candidate
      // mass as lists — exchange them (pinned width) BEFORE the double
      // explode so pair generation parallelizes with the shuffle width
      // (AQE coalesces the byte-tiny bucket aggregate to one partition,
      // which would serialize the explode of millions of pairs)
      val matched = broadcast(cappedBuckets(batchSets, "__bids"))
        .join(cappedBuckets(corpusSets, "__cids"), Seq("band", "bucket"))
        .select(col("__bids"), col("__cids"))
        .repartition(
          batch.sparkSession.sessionState.conf.numShufflePartitions)
      val pairs0 = matched
        .select(explode(col("__bids")).as("batch_id"), col("__cids"))
        .select(col("batch_id"), explode(col("__cids")).as("corpus_id"))
        .distinct()
      // pairs feed TWO consumers below (the corpus-sets prefilter and
      // the verify join) — cache the batch-bounded table so candidate
      // generation runs once; lazy mode recomputes it, the documented
      // materialize = false price
      val pairs =
        if (materialize) pairs0
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else pairs0
      try {
        // shingles() emits distinct arrays, so size() IS the distinct
        // cardinality — the exact size-ratio prefilter (J ≥ t ⟹
        // min(|A|,|B|) ≥ t·max(|A|,|B|)) drops most candidates in O(1)
        // before the per-pair set build; zero false drops, identical
        // post-threshold result (see nearDuplicatesBySets)
        val ba = batchSets.select(col(idCol).as("batch_id"), col("__shingles").as("__sa"))
        // reduce the corpus sets to the candidates MAP-SIDE (broadcast
        // semi on the candidate corpus ids) instead of shuffling the
        // corpus-sized table into the verify join; the shuffle joins
        // below then move only candidate-bounded rows, and the
        // per-pair Jaccard work stays spread across shuffle partitions
        // the candidate ids are aliased: idCol may itself be "corpus_id"
        val caCand = corpusSets
          .join(broadcast(pairs.select(col("corpus_id").as("__cid")).distinct()),
            corpusSets(idCol) === col("__cid"), "left_semi")
          .select(col(idCol).as("corpus_id"), col("__shingles").as("__sb"))
        val verified = pairs.join(ba, "batch_id").join(caCand, "corpus_id")
          .filter(least(size(col("__sa")), size(col("__sb"))).cast("double") >=
            lit(threshold) * greatest(size(col("__sa")), size(col("__sb"))))
          .withColumn("jaccard",
            graft.functions.JaccardDistinct.jaccardDistinct(col("__sa"), col("__sb")))
          .filter(col("jaccard") >= threshold)
          .select(col("batch_id"), col("corpus_id"), col("jaccard"))
        finish(verified)
      } finally {
        if (materialize) pairs.unpersist()
      }
    } finally {
      if (materialize) {
        batchSets.unpersist()
        corpusSets.unpersist()
      }
    }
  }

  /** `batch` reduced to rows that duplicate NOTHING in `corpus`:
    * removes exact (normalized) content matches on the 128-bit
    * fingerprint, then near-duplicates via [[nearDuplicatesAgainst]].
    * Dedup WITHIN the batch is a separate concern — run [[exactDedup]] /
    * [[nearDuplicates]] + [[Components.keepCanonical]] first, then this
    * against the corpus.
    *
    * With materialize = true (default) the hits are collected and the
    * result is a filter over `batch` (see [[survivorsAgainst]], shared
    * with [[DedupIndex.dedupAgainst]]); materialize = false keeps both
    * steps as lazy anti-joins against the corpus.
    */
  def dedupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L,
      materialize: Boolean = true): DataFrame = {
    val corpusKeys = corpus.select(TextStats.fingerprintMd5(col(textCol)).as("__key"))
    def verified[T](survivors: DataFrame)(finish: DataFrame => T): T =
      verifiedAgainst(survivors, corpus, idCol, textCol, shingleSize,
        numHashes, bands, threshold, seed, maxBucketSize, materialize)(finish)
    if (materialize)
      survivorsAgainst(batch, corpusKeys, idCol, textCol)(verified(_)(matchedBatchIds))
    else
      lazySurvivorsAgainst(batch, corpusKeys.distinct(), idCol, textCol)(verified(_)(identity))
  }

  /** The materialized dedup-against shared by [[dedupAgainst]] and
    * [[DedupIndex.dedupAgainst]]. Per-call state is bounded by the
    * batch (the module's batch ≪ corpus contract):
    *   - exact hits: `storedKeys` (`__key` fingerprints) is semi-joined
    *     to the broadcast batch fingerprints — one map-side scan, the
    *     stored side never shuffled — and the distinct hit keys (at most
    *     one per batch row) are collected;
    *   - near hits: `nearIds` runs the near-duplicate verify over the
    *     exact survivors and returns the matched batch ids;
    *   - the result is `batch` filtered by both hit sets: no join, no
    *     cached blocks, no reference to the stored side, so re-running
    *     it re-reads only the batch.
    * Exact hits are filtered by fingerprint and near hits by id — the
    * keys of the lazy path's two anti-joins, with their null semantics:
    * a null text (null fingerprint) survives the exact step and a null
    * id survives the near step.
    */
  private[dedup] def survivorsAgainst(
      batch: DataFrame, storedKeys: DataFrame, idCol: String, textCol: String)(
      nearIds: DataFrame => Array[Any]): DataFrame = {
    val key = TextStats.fingerprintMd5(col(textCol))
    val exactKeys = distinctValues(storedKeys
      .join(broadcast(batch.select(key.as("__key"))), Seq("__key"), "left_semi"))
    val exactSurvivors = without(batch, key, exactKeys)
    without(exactSurvivors, col(idCol), nearIds(exactSurvivors).filter(_ != null))
  }

  /** [[survivorsAgainst]] as lazy anti-joins (materialize = false):
    * `nearMatches` returns the (batch_id, ...) verify plan over the
    * exact survivors.
    */
  private[dedup] def lazySurvivorsAgainst(
      batch: DataFrame, storedKeys: DataFrame, idCol: String, textCol: String)(
      nearMatches: DataFrame => DataFrame): DataFrame = {
    val exactSurvivors = batch
      .withColumn("__key", TextStats.fingerprintMd5(col(textCol)))
      .join(storedKeys, Seq("__key"), "left_anti")
      .drop("__key")
    val nearMatched = nearMatches(exactSurvivors)
      .select(col("batch_id").as(idCol)).distinct()
    // near-matched ids are batch-bounded: broadcast the anti side so
    // the survivors never shuffle
    exactSurvivors.join(broadcast(nearMatched), Seq(idCol), "left_anti")
  }

  /** The distinct `batch_id`s of a verified near-match plan. */
  private[dedup] def matchedBatchIds(verified: DataFrame): Array[Any] =
    distinctValues(verified.select(col("batch_id")))

  // the distinct values of a one-column plan, deduplicated inside each
  // partition and then on the driver: a distinct() would add an
  // exchange, and so a job, to a collect of batch-bounded values
  private def distinctValues(df: DataFrame): Array[Any] =
    df.rdd.mapPartitions(_.map(_.get(0)).toSet.iterator).collect().distinct

  // rows of `df` whose `c` is null or outside `hits` — a left_anti
  // join's null semantics, as a filter
  private def without(df: DataFrame, c: Column, hits: Array[Any]): DataFrame =
    if (hits.isEmpty) df else df.filter(c.isNull || !c.isin(hits.toIndexedSeq: _*))

  // ---- SimHash ----

  /** 64-bit SimHash from a column holding per-token 64-bit hashes:
    * per-bit vote (+1 when set, -1 when clear), sign → fingerprint bit.
    * Expressed as SQL higher-order-function lambdas (the Scala DSL's
    * `shiftright` only takes literal shift amounts) — still pure
    * Catalyst, codegen-eligible, no UDF, no shuffle.
    */
  def simhashFromHashes(hashesCol: String): Column = expr(
    s"""aggregate(sequence(0, 63), cast(0 as bigint), (acc, i) ->
          acc + if(aggregate($hashesCol, 0,
                     (a, h) -> a + if((shiftright(h, i) & 1) = 1, 1, -1)) > 0,
                   shiftleft(cast(1 as bigint), i), cast(0 as bigint)))""")

  /** Append a 64-bit SimHash fingerprint of the normalized token stream.
    * Uses the native single-pass expression
    * ([[graft.functions.SimHash64]]); [[simhashFromHashes]] is the
    * composed-SQL equivalent kept for comparison and as the
    * builtins-only fallback.
    */
  def withSimhash(df: DataFrame, textCol: String, outputCol: String = "simhash"): DataFrame =
    df.withColumn("__hashes",
        transform(split(TextStats.normalize(col(textCol)), " "), t => xxhash64(t)))
      .withColumn(outputCol, graft.functions.functions.simhash64(col("__hashes")))
      .drop("__hashes")

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: band the 64 bits into `chunks` pieces;
    * docs sharing any chunk value are candidates (a doc within Hamming
    * distance `chunks-1` shares at least one chunk — pigeonhole), then
    * verify exact Hamming ≤ maxDistance. Candidate generation is
    * complete (no missed pairs) whenever `maxDistance < chunks` AND no
    * bucket exceeds `maxBucketSize`: oversized buckets are dropped with
    * graceful recall loss like every banded pipeline here — note that
    * identical fingerprints share ALL chunks, so a duplicate cluster
    * larger than the cap loses its pairs entirely (raise the cap, or
    * run [[exactDedup]] first — exact duplicates are its job).
    *
    * Fingerprints are computed with the engine-default xxhash64 token
    * hashing; use [[simhashNearDuplicatesFromFingerprints]] directly
    * when the fingerprints already exist (or need a portable hash for
    * cross-engine verification).
    */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      chunks: Int = 4,
      maxBucketSize: Long = 100000L): DataFrame = {
    val fp = withSimhash(df.select(col(idCol), col(textCol)), textCol, "__fp")
    simhashNearDuplicatesFromFingerprints(fp, idCol, "__fp", maxDistance, chunks, maxBucketSize)
  }

  /** SimHash near-dup over an existing fingerprint column.
    *
    * Same single-sided bucket shape as [[candidatePairs]] (one groupBy
    * shuffle, bounded-memory [[graft.functions.CappedCollectList]]
    * buckets, nested explode) — never a two-sided self-join, which would
    * recompute the fingerprint pipeline on both sides and go quadratic
    * on a degenerate bucket. The fingerprint rides inside the collected
    * (id, fp) struct, so no join-back is needed for the Hamming verify:
    * a fingerprint is 8 bytes, unlike the shingle sets / embedding
    * vectors the other pipelines must re-join by id.
    */
  def simhashNearDuplicatesFromFingerprints(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      maxDistance: Int = 3,
      chunks: Int = 4,
      maxBucketSize: Long = 100000L): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    val bits = 64 / chunks
    val chunkStructs = (0 until chunks).map { c =>
      struct(
        lit(c).as("band"),
        shiftright(col(fpCol), c * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("bucket"))
    }
    // struct ordering is lexicographic, so id_a < id_b on (id, fp)
    // structs is the id ordering (ids are unique per row)
    val buckets = df
      .select(col(idCol), col(fpCol), explode(array(chunkStructs: _*)).as("bb"))
      .select(struct(col(idCol).as("id"), col(fpCol).as("fp")).as("m"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    candidatePairs(buckets, "m", maxBucketSize)
      .select(col("id_a.id").as("id_a"), col("id_b.id").as("id_b"),
        hammingDistance(col("id_a.fp"), col("id_b.fp")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  /** Character-level near-duplicates: SimHash-banded candidates
    * verified by EXACT Levenshtein distance over the normalized text —
    * the metric the token-set family (MinHash Jaccard) and the
    * token-multiset family (SimHash Hamming) both miss: a handful of
    * character typos that rewrite several tokens. The contract is
    * explicitly two-stage and both stages are part of the result
    * definition: pairs with `hammingDistance(simhash) <= maxDistance`
    * AND `levenshtein(normalize(a), normalize(b)) <= maxEdits`. With
    * `maxDistance < chunks` the pigeonhole makes the candidate stage
    * complete for its own bound, so the result is exactly that
    * conjunction — deterministic and engine-replayable (q69), never
    * "whatever the filter happened to see".
    *
    * Scale shape: candidate generation is the capped banded equi-join
    * (never all-pairs); only surviving candidate pairs join text back,
    * and the verify uses Spark's THRESHOLDED Levenshtein
    * (`levenshtein(l, r, k)` — banded DP, O(len·k) not O(len²),
    * returns -1 past the bound so giant near-miss pairs exit early).
    */
  def editDistanceNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxEdits: Int,
      maxDistance: Int = 7,
      chunks: Int = 8,
      maxBucketSize: Long = 100000L): DataFrame = {
    editDistanceNearDuplicatesFromFingerprints(
      withSimhash(df.select(col(idCol), col(textCol)), textCol, "__fp"),
      idCol, "__fp", textCol, maxEdits, maxDistance, chunks, maxBucketSize)
  }

  /** [[editDistanceNearDuplicates]] over PRECOMPUTED fingerprints —
    * the engine-independent-hash seam, as everywhere in this package.
    */
  def editDistanceNearDuplicatesFromFingerprints(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      textCol: String,
      maxEdits: Int,
      maxDistance: Int = 7,
      chunks: Int = 8,
      maxBucketSize: Long = 100000L): DataFrame = {
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    require(maxDistance < chunks,
      s"maxDistance ($maxDistance) must be < chunks ($chunks) so the " +
        "banded candidate stage is pigeonhole-complete for its bound")
    val cand = simhashNearDuplicatesFromFingerprints(
      df.select(col(idCol), col(fpCol)), idCol, fpCol,
      maxDistance, chunks, maxBucketSize)
    val ta = df.select(col(idCol).as("id_a"),
      TextStats.normalize(col(textCol)).as("__ta"))
    val tb = df.select(col(idCol).as("id_b"),
      TextStats.normalize(col(textCol)).as("__tb"))
    cand.join(ta, "id_a").join(tb, "id_b")
      .withColumn("edits",
        levenshtein(col("__ta"), col("__tb"), maxEdits))
      .filter(col("edits") >= 0 && col("edits") <= maxEdits)
      .select(col("id_a"), col("id_b"), col("hamming"), col("edits"))
  }

  /** Dedup-to-WEIGHTS — keep one representative per near-duplicate
    * cluster carrying the cluster's multiplicity instead of silently
    * dropping it: dropping duplicates changes the training
    * distribution (a 500-copy boilerplate page and a unique document
    * count the same after a hard dedup), so loss-weighting or
    * temperature-flattening pipelines want `(representative, weight)`
    * and decide the exponent themselves (weight¹ = original
    * distribution, weight⁰ = hard dedup, in between = flattened).
    *
    * Composition: [[nearDuplicates]] pairs → [[Components
    * .connectedComponents]] clusters → representative = SMALLEST id
    * per cluster, `weight` = cluster size; documents in no cluster are
    * their own representative with weight 1. Deterministic — the pair
    * set, the clustering, and the min-id pick are all pure functions
    * of the corpus (q236 replays cluster sizes through the q100
    * recursive-CTE closure).
    *
    * Scale shape: the LSH pair pipeline + the log-round components
    * loop, then ONE count by component and ONE min-by pick — both
    * map-side combinable — and a join back to the (id)-keyed docs.
    */
  def dedupToWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    val pairs = nearDuplicates(df, idCol, textCol, shingleSize,
      numHashes, bands, threshold, seed, maxBucketSize)
    // Alias the components table before joining: if the caller's id
    // column is itself named "id", an unqualified col(idCol) ===
    // col("id") is ambiguous (both sides carry an "id") and Spark
    // raises AnalysisException. Private names keep references
    // unambiguous for any caller column name.
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    val withComp = df.select(col(idCol))
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol),
        coalesce(col("__cc_comp"), col(idCol)).as("__comp"))
    withComp
      .groupBy(col("__comp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("weight"))
      .select(col(idCol), col("weight"))
  }

  // ---- empirical banding audit ----

  /** EMPIRICAL banding audit — the measured counterpart of
    * [[LshPlan]]'s S-curve model (q255, which predicts recall from
    * idealized permutation probabilities): for EVERY divisor banding
    * of `numHashes`, the recall and candidate mass ACTUALLY achieved
    * on a bounded audit sample, measured against exact-Jaccard ground
    * truth. One row per (bands, rows_per_band):
    *
    *   - `pairs_true`      — sample pairs with exact Jaccard ≥
    *     `threshold` (banding-independent ground truth);
    *   - `pairs_recovered` — true pairs whose signatures agree on at
    *     least one full band, i.e. pairs this banding would surface as
    *     candidates and verify successfully;
    *   - `recall_ppm`      — `(1000000 · recovered) div true` (exact
    *     integer floor division on both engines; 1000000 when the
    *     sample holds no true pair — a vacuous audit reads as "no
    *     evidence of deficit", mirroring [[graft.sim.Similarity
    *     .ivfMeasuredRecall]]'s convention);
    *   - `cand_pairs`      — ALL sample pairs (any Jaccard) sharing a
    *     band: the measured candidate mass the banding would feed the
    *     verify join — the empirical analogue of q250's FP integral;
    *   - `eligible`        — `recall_ppm ≥ targetRecallPpm`;
    *   - `chosen`          — the eligible banding with minimal
    *     measured candidate mass, ties to fewer bands (fewer bands =
    *     fewer bucket rows shuffled). All-false when nothing is
    *     eligible — the caller must fail loud rather than serve a
    *     banding the audit rejected.
    *
    * Recovery is decided by SIGNATURE SLICE EQUALITY, not by replaying
    * the bucket hash: two docs land in the same `(band, bucket)` iff
    * their band slices agree (modulo a ~2⁻⁶⁴ xxhash64 bucket
    * collision, which could only rescue extra pairs in the real
    * pipeline — the audit conservatively does not credit collisions).
    * Slice equality is what makes the audit REPLAYABLE: over integral
    * set columns the whole computation — affine permutations over the
    * Mersenne prime, min-folds, slice agreement, exact Jaccard — is
    * plain arithmetic an independent SQL engine reproduces bit-exactly
    * (string sets route through xxhash64 and audit identically, but
    * only the integral path is oracle-checkable).
    *
    * Scale shape: this is an AUDIT, priced like [[graft.sim.Similarity
    * .ivfMeasuredRecall]]'s brute-force pass — all-pairs over the
    * SAMPLE, never the corpus. The caller owns bounding `sample` (a
    * few hundred docs); the pair table is built through the zero-key
    * broadcast HASH join ([[graft.core.Scalars.withEach]] — sample²
    * pairs, no nested-loop operator), every divisor banding is
    * evaluated from ONE signature pass (banding only re-slices the
    * signature), and the output is #divisors rows.
    */
  def lshMeasuredBandingTable(
      sample: DataFrame,
      idCol: String,
      setCol: String,
      numHashes: Int,
      threshold: Double,
      targetRecallPpm: Long,
      seed: Long = 42L): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(targetRecallPpm >= 0L && targetRecallPpm <= 1000000L,
      s"targetRecallPpm must be in [0, 1000000], got $targetRecallPpm")
    import org.apache.spark.sql.types.{ArrayType, LongType, IntegerType}
    val elemType = sample.schema(setCol).dataType match {
      case ArrayType(et, _) => et
      case other => throw new IllegalArgumentException(
        s"$setCol must be an array column, got $other")
    }
    val els = sample
      .select(col(idCol), col(setCol).as("__els"))
      .filter(size(col("__els")) > 0)
    val base = elemType match {
      case LongType | IntegerType =>
        transform(col("__els"), h => pmod(h.cast("bigint"), lit(MersennePrime)))
      case _ =>
        transform(col("__els"), s => pmod(xxhash64(s), lit(MersennePrime)))
    }
    val signed = els.withColumn(
      "__sig", graft.functions.MinHashFold.minhashFold(base, numHashes, seed))
    val a = signed.select(col(idCol).as("id_a"),
      col("__els").as("__ea"), col("__sig").as("__sga"))
    val b = signed.select(col(idCol).as("id_b"),
      col("__els").as("__eb"), col("__sig").as("__sgb"))
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    // one struct per banding, all derived from the same signature pair
    val perBanding = divisors.map { nb =>
      val r = numHashes / nb
      val rec = (0 until nb).map { k =>
        slice(col("__sga"), k * r + 1, r) === slice(col("__sgb"), k * r + 1, r)
      }.reduce(_ || _)
      struct(lit(nb.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        rec.as("rec"))
    }
    val pairs = graft.core.Scalars.withEach(a, b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("__true",
        graft.functions.JaccardDistinct.jaccardDistinct(
          col("__ea"), col("__eb")) >= threshold)
      .select(col("__true"), explode(array(perBanding: _*)).as("__bb"))
      .select(col("__true"), col("__bb.bands").as("bands"),
        col("__bb.rows_per_band").as("rows_per_band"),
        col("__bb.rec").as("__rec"))
    val tbl = pairs
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(
        sum(when(col("__true"), 1L).otherwise(0L)).as("pairs_true"),
        sum(when(col("__true") && col("__rec"), 1L).otherwise(0L))
          .as("pairs_recovered"),
        sum(when(col("__rec"), 1L).otherwise(0L)).as("cand_pairs"))
      .withColumn("recall_ppm",
        when(col("pairs_true") === 0L, lit(1000000L))
          .otherwise(expr("(1000000 * pairs_recovered) div pairs_true")))
      .withColumn("eligible", col("recall_ppm") >= targetRecallPpm)
    // the pick: minimal measured candidate mass among eligible, ties to
    // fewer bands; a 1-row aggregate attached via the zero-key
    // broadcast join (no collect, no nested loop)
    val mc = tbl.filter(col("eligible"))
      .agg(min(col("cand_pairs")).as("__mc"))
    val sel = graft.core.Scalars.withScalars(
        tbl.filter(col("eligible")), mc)
      .filter(col("cand_pairs") === col("__mc"))
      .agg(min(col("bands")).as("__mb"))
    graft.core.Scalars.withScalars(tbl, sel)
      .withColumn("chosen", coalesce(col("bands") === col("__mb"), lit(false)))
      .select(col("bands"), col("rows_per_band"), col("pairs_true"),
        col("pairs_recovered"), col("recall_ppm"), col("cand_pairs"),
        col("eligible"), col("chosen"))
  }

  /** The measured table's pick as a banding, FAIL-LOUD when no banding
    * met the target: `(bands, rowsPerBand)` of the `chosen` row of
    * [[lshMeasuredBandingTable]]. The collect is bounded by
    * construction — the table has one row per divisor of `numHashes`
    * (≤ d(numHashes) ≤ 96 for any numHashes ≤ 10⁶).
    */
  def planBandsMeasured(
      sample: DataFrame,
      idCol: String,
      setCol: String,
      numHashes: Int,
      threshold: Double,
      targetRecallPpm: Long,
      seed: Long = 42L): (Int, Int) = {
    val rows = lshMeasuredBandingTable(sample, idCol, setCol, numHashes,
      threshold, targetRecallPpm, seed)
      .filter(col("chosen"))
      .select(col("bands"), col("rows_per_band"))
      .collect() // bounded: at most one chosen row survives the filter
    require(rows.nonEmpty,
      s"no banding of $numHashes hashes reached measured recall >= " +
        s"$targetRecallPpm ppm at threshold $threshold on the audit " +
        "sample - raise numHashes or lower the target")
    (rows.head.getLong(0).toInt, rows.head.getLong(1).toInt)
  }

  /** [[nearDuplicatesBySets]] with the banding chosen by the EMPIRICAL
    * audit instead of the S-curve model — the measured counterpart of
    * [[nearDuplicatesPlanned]]: the caller states the threshold, the
    * recall they need, and a bounded audit sample; the banding that
    * serves the corpus is the one that PROVABLY met the target on the
    * sample with minimal measured candidate mass. Fail-loud when no
    * divisor banding reaches the target (more hashes are needed — a
    * silent best-effort pick would serve known-deficient recall).
    */
  def nearDuplicatesBySetsMeasured(
      df: DataFrame,
      idCol: String,
      setCol: String,
      sample: DataFrame,
      numHashes: Int = 64,
      threshold: Double = 0.8,
      targetRecallPpm: Long = 950000L,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L,
      materialize: Boolean = true): DataFrame = {
    val (bands, rowsPerBand) = planBandsMeasured(
      sample, idCol, setCol, numHashes, threshold, targetRecallPpm, seed)
    graft.core.Logging.log(
      graft.core.Logging.logger("graft.dedup.Dedup"),
      s"nearDuplicatesBySetsMeasured: t=$threshold numHashes=$numHashes " +
        s"target=$targetRecallPpm ppm -> bands=$bands rowsPerBand=$rowsPerBand")
    nearDuplicatesBySets(df, idCol, setCol, numHashes, bands, threshold,
      seed, maxBucketSize, materialize)
  }
}
