package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators._

/** A driver-checkable query: a Spark program plus (when SQL-expressible) an
  * equivalent DuckDB oracle over the same parquet tables.
  *
  * Determinism rules for oracle hash-matching:
  *   - every query ends in a total ORDER BY (unique tie-break column);
  *   - double aggregates go through exact DECIMAL sums, then ONE
  *     deterministic cast-to-double (and at most one IEEE divide), so the
  *     result is bit-identical regardless of aggregation order or engine;
  *   - float literals in oracle SQL are cast to DOUBLE explicitly (DuckDB
  *     otherwise parses `0.9` as DECIMAL and folds constants differently).
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact sum of a 2-decimal double column, emitted as a double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(30,2)")).cast("double")

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the previous value after. Streaming queries size
    * their STATE partitioning with this: a stateful operator plants one
    * state store per shuffle partition per store (a stream-stream join
    * runs four), and the per-store open/commit cost is pure overhead
    * when state is small — partitions should track state size, not the
    * session's batch shuffle width (measured: q150 7.3 s → 3.3 s going
    * 32 → 8 on attribution-window state). Each query starts from a
    * fresh checkpoint, so the choice is free per run; at real scale the
    * same knob turns the other way. Queries run sequentially under
    * Verify/Bench, so the temporary session mutation cannot race.
    */
  private def withShufflePartitions[T](
      s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Recursively delete a temp tree (streaming staging/checkpoint dirs
    * — repeated bench/verify runs would otherwise accumulate in /tmp).
    */
  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }

  val all: Seq[GraftQuery] = Seq(

    // ---- relational core (Catalyst-native; parity with the reference's
    // ---- delegation of scan/filter/agg/sort to Spark) ----

    GraftQuery(
      "q01_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(col("l_extendedprice").cast("decimal(30,2)") *
              (lit(1) - col("l_discount").cast("decimal(30,2)")))
              .cast("double").as("sum_disc_price"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)) * (1 - CAST(l_discount AS DECIMAL(30,2)))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    GraftQuery(
      "q02_revenue_by_nation",
      (s, dir) => {
        // dims broadcast; only orders×customer shuffles (and AQE may
        // convert that too at small SF). At 100 TB: orders is the fact
        // side, customer co-partitions on the join key, nation always fits
        // in a broadcast.
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(dsum(col("o_totalprice")).as("revenue"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("n_name"))
      },
      Some("""
        SELECT n_name,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name""")),

    GraftQuery(
      "q03_top_orders",
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10""")),

    GraftQuery(
      "q04_events_hourly",
      (s, dir) =>
        t(s, dir, "events")
          // hour as a formatted string: Spark timestamps are micros while
          // DuckDB reads the corpus's nanos natively — a string column
          // sidesteps the physical-unit mismatch in the driver compare.
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
          .orderBy(col("hour"), col("event_type")),
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
          event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // ---- stratified weighted sampling (reference sampling.py) ----

    // Oracle-expressible variant: entropy injected as engine-independent
    // arithmetic (Knuth multiplicative hash of event_id), rates chosen so
    // every effective rate/weight is an exact double (0.75, 0.375, 2.0).
    GraftQuery(
      "q05_sample_stratified",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn(
          "u",
          pmod(col("event_id") * lit(2654435761L), lit(4294967296L))
            .cast("double") / lit(4294967296.0))
        Sampling.sampleWithPredicate(
          ev, 0.75, 1.0, 0.5, col("value") > 10,
          samplingColOverride = Some("u"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("weight"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH s AS (
          SELECT *,
            ((event_id * 2654435761) % 4294967296) / CAST(4294967296 AS DOUBLE) AS u
          FROM events
        )
        SELECT event_id, user_id, event_type, value,
          CASE WHEN value > 10
               THEN 1.0 * (CAST(0.75 AS DOUBLE) / CAST(0.75 AS DOUBLE))
               ELSE 1.0 * (CAST(0.75 AS DOUBLE) / CAST(0.375 AS DOUBLE)) END AS weight
        FROM s
        WHERE ((value > 10 AND value IS NOT NULL) AND u < CAST(0.75 AS DOUBLE))
           OR (NOT (value > 10 AND value IS NOT NULL) AND u < CAST(0.375 AS DOUBLE))
        ORDER BY event_id""")),

    // ---- model-scoring column operator (reference inference surface,
    // ---- pytorch/spark_inference.py + common/spark_inference.py) ----

    // Linear scoring over the embeddings table through the real operator
    // (broadcast artifact + batched InferenceColumn). Weights w_i = i+1; the
    // score is a sequential left fold in double, which DuckDB reproduces
    // bit-exactly with list_reduce(list_transform(...)) — 1-based lambda
    // index there matches the 0-based (i+1) here.
    GraftQuery(
      "q07_inference_linear",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = graft.inference.Artifacts.broadcast(
          s, graft.inference.Models.ArrayLinear(
            Array.tabulate(64)(i => (i + 1).toDouble)))
        val fn: graft.inference.Inference.InferenceFn[graft.inference.Models.ArrayLinear] =
          (m, cols, _) => cols(0).map(v => m.score(v.asInstanceOf[collection.Seq[Float]]))
        graft.inference.Inference.withInferenceColumn(
          emb, model, Seq("embedding"), fn,
          org.apache.spark.sql.types.DoubleType,
          batchSize = 256, outputCol = "score")
          .select(col("vec_id"), col("label"), col("score"))
          .orderBy(col("vec_id"))
      },
      Some("""
        SELECT vec_id, label,
          list_reduce(list_transform(CAST(embedding AS DOUBLE[]), (x,i) -> x * i), (a,b) -> a + b) AS score
        FROM embeddings
        ORDER BY vec_id""")),

    // ---- vocabulary construction (reference vocabulary.py) ----

    // Scalar-column vocabulary with a non-trivial threshold (HAVING).
    GraftQuery(
      "q06_vocab_event_types",
      (s, dir) =>
        graft.vocab.Vocabulary.vocabCounts(
          t(s, dir, "events"),
          Map("event_type" -> Seq("event_type")), threshold = 2000)
          .orderBy(col("value")),
      Some("""
        SELECT 'event_type' AS key, event_type AS value, COUNT(*) AS count
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY 2
        HAVING COUNT(*) >= 2000
        ORDER BY 2""")),

    // Array-column vocabulary: token counts over documents (A1's
    // list-flattening path through explode).
    GraftQuery(
      "q10_vocab_tokens",
      (s, dir) =>
        graft.vocab.Vocabulary.vocabCounts(
          t(s, dir, "documents").withColumn("tokens", split(col("text"), " ")),
          Map("token" -> Seq("tokens")), threshold = 500)
          .orderBy(col("value")),
      Some("""
        SELECT 'token' AS key, tok AS value, COUNT(*) AS count
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok IS NOT NULL
        GROUP BY 2
        HAVING COUNT(*) >= 500
        ORDER BY 2""")),

    // ---- ragged → sparse COO, distributed form (reference
    // ---- numpy_to_sparse_tensors.py via posexplode) ----

    GraftQuery(
      "q11_sparse_coo",
      (s, dir) =>
        graft.records.RaggedToCoo.posexplodeCoo(
          t(s, dir, "documents")
            .filter(col("doc_id") < 50)
            .withColumn("tokens", split(col("text"), " ")),
          col("doc_id"), col("tokens"))
          .orderBy(col("row_id"), col("pos")),
      Some("""
        SELECT doc_id AS row_id,
          CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
          unnest(toks) AS value
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id < 50)
        ORDER BY 1, 2""")),

    // ---- LLM-pipeline operators (SURVEY §2.11 north-star extensions) ----

    // Exact deduplication on the normalized-text fingerprint: one shuffle
    // on the content hash, smallest doc_id survives.
    GraftQuery(
      "q08_dedup_exact",
      (s, dir) =>
        graft.dedup.Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, lang, source, n_chars FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
            ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn = 1
        ORDER BY doc_id""")),

    // Text quality scoring: map-only column algebra, single-divide doubles.
    GraftQuery(
      "q09_text_stats",
      (s, dir) =>
        graft.text.TextStats.withQualityStats(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("n_chars_text"), col("n_tokens"),
            col("avg_token_len"), col("stopword_ratio"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
          length(text) AS n_chars_text,
          len(string_split(text, ' ')) AS n_tokens,
          CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
            / len(string_split(text, ' ')) AS avg_token_len,
          CAST(len(list_filter(string_split(text, ' '), t -> t IN
            ('the','a','an','and','or','of','to','in','is','are','was',
             'it','that','this','for','on','with','as','at','by'))) AS DOUBLE)
            / len(string_split(text, ' ')) AS stopword_ratio
        FROM documents
        ORDER BY doc_id""")),

    // ANN brute-force baseline through the real two-stage operator
    // (partition-local bounded heaps, then global top-k): cosine scores
    // fold sequentially in double, bit-reproducible in DuckDB.
    GraftQuery(
      "q12_ann_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k = 10)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
             s AS (SELECT query_id, vec_id,
                     list_reduce(list_transform(cv, (x,i) -> x * qv[i]), (a,b) -> a + b)
                     / (sqrt(list_reduce(list_transform(cv, x -> x * x), (a,b) -> a + b))
                        * sqrt(list_reduce(list_transform(qv, x -> x * x), (a,b) -> a + b))) AS score
                   FROM c, q)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          FROM s)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // Language-ID heuristic: argmax of marker-token counts, earliest
    // language wins ties (the fold keeps the first strict maximum).
    GraftQuery(
      "q13_lang_id",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            graft.text.TextStats.langId(col("text")).as("lang_guess"))
          .orderBy(col("doc_id")),
      Some("""
        WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
        s AS (SELECT doc_id, lang,
          len(list_filter(toks, t -> t IN ('the','and','of','to','is','are','was','it','that','this'))) AS s_en,
          len(list_filter(toks, t -> t IN ('le','la','les','et','est','une','un','des','du','sur'))) AS s_fr,
          len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein','eine','nicht','mit','von'))) AS s_de,
          len(list_filter(toks, t -> t IN ('el','la','los','las','y','es','un','una','del','en'))) AS s_es,
          len(list_filter(toks, t -> t IN ('的','是','了','在','和','有','我','不','这','人'))) AS s_zh
          FROM t)
        SELECT doc_id, lang,
          CASE WHEN s_en >= GREATEST(s_fr, s_de, s_es, s_zh) THEN 'en'
               WHEN s_fr >= GREATEST(s_de, s_es, s_zh) THEN 'fr'
               WHEN s_de >= GREATEST(s_es, s_zh) THEN 'de'
               WHEN s_es >= s_zh THEN 'es'
               ELSE 'zh' END AS lang_guess
        FROM s
        ORDER BY doc_id""")),

    // MinHash-LSH near-duplicates on unigram shingles (the synthetic docs
    // share near-identical vocabularies, so high-jaccard pairs exist).
    // The oracle is the *all-pairs* exact jaccard — the banded candidate
    // generation must not lose any pair above the threshold (miss
    // probability <1e-7 per pair at j>=0.9 with 16 bands of 4, and
    // deterministic given the fixed seed).
    // Bounded to 500 docs: this synthetic corpus draws every doc from the
    // same ~31-word vocabulary, so unigram-shingle buckets (and the true
    // high-jaccard pair set) degenerate toward all-pairs — the cap keeps
    // the demo quadratic-free at larger SFs without changing semantics.
    GraftQuery(
      "q14_near_dup",
      (s, dir) =>
        graft.dedup.Dedup.nearDuplicates(
          t(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
          shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH t AS (SELECT doc_id,
          list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents WHERE doc_id < 500)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        FROM t a, t b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        ORDER BY 1, 2""")),

    // Distributed bootstrap evaluation: per-round weighted losses from
    // seeded Poisson(1) resample weights. The portable affine-mod uniform
    // hash and the decimal-exact loss metric make the whole pipeline
    // reproducible in ANSI SQL, so DuckDB verifies it bit-for-bit
    // (Poisson CDF constants below are the IEEE-exact cumulative values
    // of BootstrapEval.poissonInverseCdf's when-chain).
    GraftQuery(
      "q15_bootstrap_eval",
      (s, dir) =>
        graft.eval.BootstrapEval.bootstrapMetricsDf(
          t(s, dir, "events").withColumn("pred", col("value") * lit(0.9)),
          col("event_id"),
          Seq(graft.eval.BootstrapEval.OutputSpec("value", "pred", "value")),
          nbBootstrap = 20, seed = 42L,
          metrics = Seq(graft.eval.BootstrapEval.mseExact),
          uniform = Some(graft.eval.BootstrapEval.portableUniform(42L) _))
          .select(col("round"), col("value_loss_exact"))
          .orderBy(col("round")),
      Some("""
        WITH r AS (SELECT CAST(range AS BIGINT) AS round FROM range(0, 20)),
        d AS (
          SELECT e.event_id, e.value, e.value * CAST(0.9 AS DOUBLE) AS pred, r.round,
            ((((e.event_id % 2147483647) * 1103515245 + r.round * 12345 + 42)
               % 2147483647) * 784588716 + 997) % 2147483647 AS h2
          FROM events e CROSS JOIN r),
        w AS (
          SELECT round, value, pred,
            CASE
              WHEN u <= 0.36787944117144233 THEN 0.0
              WHEN u <= 0.7357588823428847 THEN 1.0
              WHEN u <= 0.9196986029286058 THEN 2.0
              WHEN u <= 0.9810118431238463 THEN 3.0
              WHEN u <= 0.9963401531726563 THEN 4.0
              WHEN u <= 0.9994058151824183 THEN 5.0
              WHEN u <= 0.9999167588507120 THEN 6.0
              WHEN u <= 0.9999897508033253 THEN 7.0
              WHEN u <= 0.9999988747974020 THEN 8.0
              ELSE 9.0 END AS w
          FROM (SELECT round, value, pred,
                  (CAST(h2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(2147483647 AS DOUBLE) AS u
                FROM d)),
        agg AS (
          SELECT round,
            CAST(SUM(CAST(w * (pred - value) * (pred - value) AS DECIMAL(27,6))) AS DOUBLE)
              / CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE) AS value_loss_exact
          FROM w GROUP BY round)
        SELECT CAST(round AS INTEGER) AS round, value_loss_exact
        FROM agg ORDER BY round""")),

    // TFRecord write→read round-trip through the DSv2 format: the oracle
    // is the original table, so a hash match proves the Example codec,
    // the TFRecord container framing, and the DSv2 read/write paths are
    // jointly lossless.
    GraftQuery(
      "q16_tfrecord_roundtrip",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val out = s"/tmp/graft_q16_${math.abs(dir.hashCode)}/tfr"
        docs.write.format("tfrecord").mode("overwrite").save(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType, nullable = false)))
        s.read.format("tfrecord").schema(schema).load(out)
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, text, lang FROM documents ORDER BY doc_id""")),

    // Native SimHash fingerprints (custom codegen expression,
    // graft.functions.SimHash64). Token hashes are the first 60 bits of
    // md5 — portable across engines — so DuckDB replays the exact
    // per-bit vote and verifies the fingerprints bit-for-bit. (The
    // engine's default xxhash64 token hashing stays covered in
    // DedupSpec; the expression itself is input-agnostic.)
    GraftQuery(
      "q17_simhash",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            transform(
              split(graft.text.TextStats.normalize(col("text")), " "),
              tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"))
              .as("__hashes"))
          .select(col("doc_id"),
            graft.functions.functions.simhash64(col("__hashes")).as("simhash"))
          .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id,
            unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        h AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        votes AS (
          SELECT doc_id, b.range AS bit,
            SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h CROSS JOIN range(0, 60) b
          GROUP BY doc_id, b.range)
        SELECT doc_id,
          CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
            AS simhash
        FROM votes GROUP BY doc_id ORDER BY doc_id""")),

    // Distinct aggregation over exploded tokens (§2.4 notes distinct-agg
    // rides Spark built-ins — exercised here with an exact oracle).
    GraftQuery(
      "q18_distinct_tokens",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("lang"))
          .agg(countDistinct(col("tok")).as("n_distinct"),
            count(lit(1)).as("n_tokens"))
          .orderBy(col("lang")),
      Some("""
        SELECT lang, COUNT(DISTINCT tok) AS n_distinct, COUNT(*) AS n_tokens
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY lang
        ORDER BY lang""")),

    // As-of join: each click enriched with the user's most recent
    // purchase at or before it, checked against DuckDB's native ASOF
    // JOIN. Right side pre-aggregated to one row per (user, ts) so tie
    // behavior is engine-independent; timestamps emitted as strings
    // (micros agree: the corpus has no sub-microsecond components).
    GraftQuery(
      "q19_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("value"))
        graft.operators.AsOf.joinAsOf(clicks, purchases, Seq("user_id"), "ts")
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
            col("value").as("purchase_value"),
            date_format(col("ts_right"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             r AS (SELECT user_id, ts, max(value) AS value FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts)
        SELECT l.event_id, l.user_id,
          strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
          r.value AS purchase_value,
          strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id""")),

    // Same as-of semantics through the custom LogicalPlan + Strategy +
    // physical operator (graft.plans.AsOfJoinExec) — a custom Catalyst
    // operator validated end-to-end by the DuckDB ASOF JOIN oracle.
    GraftQuery(
      "q20_asof_custom_operator",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("value"))
        graft.plans.AsOfJoinPlan.joinAsOfExec(clicks, purchases, Seq("user_id"), "ts")
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
            col("value").as("purchase_value"),
            date_format(col("ts_right"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             r AS (SELECT user_id, ts, max(value) AS value FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts)
        SELECT l.event_id, l.user_id,
          strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
          r.value AS purchase_value,
          strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id""")),

    // Window functions (§2.5 rides built-ins — oracle evidence): running
    // per-user event counts and value sums in (ts, event_id) total order.
    GraftQuery(
      "q21_window_running",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .filter(col("user_id") < 10)
          .select(col("event_id"), col("user_id"),
            row_number().over(w).as("event_seq"),
            sum(col("value").cast("decimal(30,2)")).over(w)
              .cast("double").as("running_value"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id,
          CAST(ROW_NUMBER() OVER w AS INTEGER) AS event_seq,
          CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER w AS DOUBLE) AS running_value
        FROM events
        WHERE user_id < 10
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // Semi/anti joins (§2.3 rides built-ins — oracle evidence): customers
    // with at least one order minus those with an open-status order.
    GraftQuery(
      "q22_semi_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .join(o.filter(col("o_orderstatus") === "O"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        ORDER BY c_custkey""")),

    // N-gram (n=3) Jaccard near-duplicates: the same banded MinHash-LSH
    // pipeline exercised on word trigrams, where only genuinely
    // near-identical docs survive the 0.85 threshold. 32 bands of 2 give
    // per-pair miss probability (1 - j^2)^32 ≈ 1e-18 at j = 0.85, so the
    // all-pairs exact-Jaccard oracle is an equality check, not an
    // approximation.
    GraftQuery(
      "q23_ngram_jaccard",
      (s, dir) =>
        graft.dedup.Dedup.nearDuplicates(
          t(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.85)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH tok AS (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents WHERE doc_id < 500),
        t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(ts) - 1),
            i -> array_to_string(ts[i:i+2], ' '))) AS gs
          FROM tok WHERE len(ts) >= 3)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            / len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
        FROM t a, t b
        WHERE a.doc_id < b.doc_id
          AND len(a.gs) > 0 AND len(b.gs) > 0
          AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.85
        ORDER BY 1, 2""")),

    // Embedding-cosine near-duplicate pairs, exact quadratic baseline on
    // a bounded slice (the verification contract for the sub-quadratic
    // hyperplane-LSH path, Similarity.embeddingNearDuplicates, whose
    // recall is asserted in SimilaritySpec). Sequential double folds on
    // both sides make the cosine bit-reproducible vs DuckDB.
    GraftQuery(
      "q24_embedding_neardup",
      (s, dir) =>
        graft.sim.Similarity.exactCosinePairs(
          t(s, dir, "embeddings").filter(col("vec_id") < 300)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", threshold = 0.35)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 300),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_reduce(list_transform(a.v, (x,i) -> x * b.v[i]), (x,y) -> x + y)
                / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x,y) -> x + y))
                   * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x,y) -> x + y))) AS cosine
              FROM s a JOIN s b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM p
        WHERE cosine >= 0.35
        ORDER BY id_a, id_b""")),

    // SimHash near-duplicates end-to-end (q17 verifies the fingerprints;
    // this verifies the banded candidate generation + Hamming verify).
    // With chunks = 4 > maxDistance = 3 the pigeonhole guarantees zero
    // missed candidates, so the DuckDB all-pairs Hamming oracle over the
    // replayed md5-portable fingerprints is an equality check.
    GraftQuery(
      "q25_simhash_neardup",
      (s, dir) => {
        val fp = t(s, dir, "documents")
          .select(col("doc_id"),
            transform(
              split(graft.text.TextStats.normalize(col("text")), " "),
              tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"))
              .as("__hashes"))
          .select(col("doc_id"),
            graft.functions.functions.simhash64(col("__hashes")).as("__fp"))
        graft.dedup.Dedup.simhashNearDuplicatesFromFingerprints(
          fp, "doc_id", "__fp", maxDistance = 3, chunks = 4)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
            unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        h AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        votes AS (
          SELECT doc_id, b.range AS bit,
            SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h CROSS JOIN range(0, 60) b
          GROUP BY doc_id, b.range),
        fp AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
              AS simhash
          FROM votes GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY 1, 2""")),

    // IVF top-k with nProbe = nCells: the probe covers every cell, so the
    // approximate path must return exactly the brute-force result — the
    // same DuckDB oracle as q12. Exercises buildIvf (deterministic
    // centroid sampling + assignment), ivfTopK's cell pruning, and the
    // typed TopKAggregator final stage end-to-end.
    GraftQuery(
      "q26_ivf_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        val index = graft.sim.Similarity.buildIvf(emb, "vec_id", "embedding", nCells = 16)
        graft.sim.Similarity.ivfTopK(index, queries, k = 10, nProbe = 16)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
             s AS (SELECT query_id, vec_id,
                     list_reduce(list_transform(cv, (x,i) -> x * qv[i]), (a,b) -> a + b)
                     / (sqrt(list_reduce(list_transform(cv, x -> x * x), (a,b) -> a + b))
                        * sqrt(list_reduce(list_transform(qv, x -> x * x), (a,b) -> a + b))) AS score
                   FROM c, q)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          FROM s)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // SequenceExample write→read round-trip through the DSv2 format
    // (recordType=sequenceExample): context scalar + per-step feature
    // list. The read-back sequence is exploded with positions so the
    // oracle (the original table) checks order-preserving losslessness
    // of the SequenceExample codec + distributed read path.
    GraftQuery(
      "q27_seqexample_roundtrip",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tokens"))
        val out = s"/tmp/graft_q27_${math.abs(dir.hashCode)}/tfr"
        docs.write.format("tfrecord").option("recordType", "sequenceExample")
          .mode("overwrite").save(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("tokens",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType, containsNull = false),
            nullable = false)))
        val back = s.read.format("tfrecord").schema(schema)
          .option("recordType", "sequenceExample").load(out)
        graft.records.RaggedToCoo.posexplodeCoo(back, col("doc_id"), col("tokens"))
          .orderBy(col("row_id"), col("pos"))
      },
      Some("""
        SELECT doc_id AS row_id,
          CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
          unnest(toks) AS value
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ORDER BY 1, 2""")),

    // Salted equi-join (skew mitigation, operators/Skew.scala): the salt
    // spreads each hot key over `buckets` reducers without changing join
    // semantics, so the plain-join SQL is an exact oracle.
    GraftQuery(
      "q28_salted_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        val n = t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
        graft.operators.Skew.saltedJoin(c, n, Seq("c_nationkey"), buckets = 8)
          .select(col("c_custkey"), col("c_name"), col("n_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        ORDER BY c_custkey""")),

    // Merged-key vocabulary (A2): several source columns feed one
    // vocabulary key — counts are over the union of the columns' values.
    GraftQuery(
      "q29_vocab_merged_keys",
      (s, dir) =>
        graft.vocab.Vocabulary.vocabCounts(
          t(s, dir, "documents"),
          Map("cat" -> Seq("lang", "source")), threshold = 2)
          .orderBy(col("value")),
      Some("""
        SELECT 'cat' AS key, v AS value, COUNT(*) AS count
        FROM (SELECT lang AS v FROM documents
              UNION ALL SELECT source AS v FROM documents)
        WHERE v IS NOT NULL
        GROUP BY 2
        HAVING COUNT(*) >= 2
        ORDER BY 2""")),

    // Winnowing (rolling-hash) fingerprints, exploded with positions.
    // DuckDB replays the Karp-Rabin hash per character (ASCII-only docs
    // so char ordinals equal UTF-8 bytes — the negative character-class
    // filter is anchor-free, so Java and RE2 regex agree even on
    // trailing newlines) and selects rightmost window minima via a
    // min-key encoding (hash·2^31 + (2^31 − pos)) in one window pass,
    // plus a branch for docs shorter than one window (single global
    // minimum). Exact: same base/modulus, same fold order
    // (list_reduce's first-element seed equals the 0-seeded fold), same
    // tie rule.
    GraftQuery(
      "q30_winnowing",
      (s, dir) =>
        t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
          .select(col("doc_id"),
            graft.text.TextStats.winnowingFingerprints(col("text"), k = 5, window = 4)
              .as("fps"))
          .select(col("doc_id"), posexplode(col("fps")))
          .withColumnRenamed("col", "hash")
          .orderBy(col("doc_id"), col("pos")),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        h AS (
          SELECT doc_id, p,
            list_reduce(
              list_transform(range(0, 5),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 5 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, p, hash, hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id, p,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS selp
          FROM wmin WHERE wn = 4
        ),
        short AS (
          SELECT doc_id, min(hash) AS hash, 0 AS selp
          FROM h GROUP BY doc_id HAVING COUNT(*) < 4
        ),
        allsel AS (
          SELECT doc_id, hash, selp FROM sel
          UNION ALL SELECT doc_id, hash, selp FROM short
        )
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY selp) - 1 AS INTEGER) AS pos,
          hash
        FROM allsel ORDER BY doc_id, pos""")),

    // Binned point-in-interval range join (operators/RangeJoin): shipments
    // falling inside 7-day windows opened by a subset of orders. Spark
    // would plan the bare BETWEEN condition as a nested loop; the operator
    // turns it into a hash equi-join on week-width bins + residual filter.
    // DuckDB plans the same predicate as an IEJoin — two engines, two
    // range-join strategies, one result.
    GraftQuery(
      "q31_range_join",
      (s, dir) => {
        val windows = t(s, dir, "orders")
          .filter(col("o_orderkey") % 997 === 0)
          .select(col("o_orderkey"),
            col("o_orderdate").as("w_lo"),
            (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("w_hi"))
        val shipments = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        graft.operators.RangeJoin.pointIntervalJoin(
          shipments, "l_shipdate", windows, "w_lo", "w_hi",
          binWidth = 7L * 86400L)
          .select(col("o_orderkey"), col("l_orderkey"), col("l_linenumber"),
            date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"))
          .orderBy(col("o_orderkey"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        WITH w AS (
          SELECT o_orderkey, o_orderdate AS w_lo,
                 o_orderdate + INTERVAL 7 DAY AS w_hi
          FROM orders WHERE o_orderkey % 997 = 0
        )
        SELECT w.o_orderkey, l.l_orderkey, l.l_linenumber,
               strftime(l.l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts
        FROM lineitem l JOIN w
          ON l.l_shipdate >= w.w_lo AND l.l_shipdate <= w.w_hi
        ORDER BY w.o_orderkey, l.l_orderkey, l.l_linenumber""")),

    // Binned interval-overlap join: urgent-order activity windows crossing
    // low-priority ones. The operator emits each overlapping pair from the
    // first bin both intervals share — exactly-once without a distinct()
    // pass — and DuckDB verifies via the quadratic overlap predicate.
    GraftQuery(
      "q32_interval_overlap",
      (s, dir) => {
        def side(prio: String, mod: Int, keyAs: String, lo: String, hi: String) =
          t(s, dir, "orders")
            .filter(col("o_orderpriority") === prio && col("o_orderkey") % mod === 0)
            .select(col("o_orderkey").as(keyAs),
              col("o_orderdate").as(lo),
              (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as(hi))
        graft.operators.RangeJoin.intervalOverlapJoin(
          side("1-URGENT", 31, "a_key", "a_lo", "a_hi"), "a_lo", "a_hi",
          side("5-LOW", 37, "b_key", "b_lo", "b_hi"), "b_lo", "b_hi",
          binWidth = 3L * 86400L)
          .select(col("a_key"), col("b_key"),
            (datediff(least(col("a_hi"), col("b_hi")),
              greatest(col("a_lo"), col("b_lo"))) + lit(1)).cast("long")
              .as("overlap_days"))
          .orderBy(col("a_key"), col("b_key"))
      },
      Some("""
        WITH a AS (
          SELECT o_orderkey AS a_key, o_orderdate AS a_lo,
                 o_orderdate + INTERVAL 3 DAY AS a_hi
          FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 31 = 0
        ), b AS (
          SELECT o_orderkey AS b_key, o_orderdate AS b_lo,
                 o_orderdate + INTERVAL 3 DAY AS b_hi
          FROM orders WHERE o_orderpriority = '5-LOW' AND o_orderkey % 37 = 0
        )
        SELECT a_key, b_key,
          date_diff('day', greatest(a_lo, b_lo), least(a_hi, b_hi)) + 1 AS overlap_days
        FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
        ORDER BY a_key, b_key""")),

    // Group-wise corpus capping (operators/GroupLimit): the 3 longest
    // documents per (lang, source). The row_number-filter form is the one
    // InferWindowGroupLimit rewrites to a WindowGroupLimit physical node —
    // a bounded per-group heap on the map side, so hot groups never ship
    // more than k rows per partition into the shuffle.
    GraftQuery(
      "q33_group_cap",
      (s, dir) =>
        graft.operators.GroupLimit.topKPerGroup(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          Seq("lang", "source"),
          Seq(col("n_chars").desc, col("doc_id").asc), k = 3, rankCol = "rnk")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("lang"), col("source"), col("rnk")),
      Some("""
        SELECT doc_id, lang, source, n_chars, rnk FROM (
          SELECT doc_id, lang, source, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY lang, source
                                    ORDER BY n_chars DESC, doc_id) AS rnk
          FROM documents)
        WHERE rnk <= 3
        ORDER BY lang, source, rnk""")),

    // Bloom-pruned selective join (operators/BloomPrune): lineitem rows
    // are discarded at the scan by a bloom filter built from the selected
    // order keys — map-side, before any shuffle — then the real join
    // removes the bloom's false positives, so the result is the exact
    // equi-join DuckDB computes directly.
    GraftQuery(
      "q34_bloom_pruned_join",
      (s, dir) => {
        val sel = t(s, dir, "orders")
          .filter(col("o_orderkey") % 211 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        graft.operators.BloomPrune.prunedJoin(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
          "l_orderkey", sel, "o_orderkey", expectedItems = 4096L)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("o_totalprice"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_totalprice
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey % 211 = 0
        ORDER BY l.l_orderkey, l.l_linenumber""")),

    // Exact heavy hitters through the space-saving sketch
    // (sketch/FrequentItems): pass 1 summarizes tokens in bounded memory
    // (candidates only), pass 2 exact-counts just the candidates — so
    // the result equals DuckDB's plain GROUP BY ... HAVING even though
    // no full token aggregation ever shuffles. The threshold is
    // data-relative (N/30, integer division) so the query scales with
    // the corpus rather than baking in a row count.
    GraftQuery(
      "q35_frequent_tokens",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
        val thr = math.max(1L, toks.count() / 30L)
        graft.sketch.FrequentItems.frequentItems(toks, "tok",
          threshold = thr, capacity = 200)
          .orderBy(col("item"))
      },
      Some("""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        )
        SELECT tok AS item, COUNT(*) AS count
        FROM toks
        GROUP BY tok
        HAVING COUNT(*) >= greatest(1, (SELECT COUNT(*) // 30 FROM toks))
        ORDER BY item""")),

    // Symmetric int8 embedding quantization (sim/Quantize), exploded per
    // element so the oracle hash-checks every code: scale = max|v|/127
    // and round-half-up as floor(x+0.5) are plain IEEE double algebra
    // both engines reproduce bit-for-bit. The scale binds once per row
    // in a stacked select — never inside the per-element lambda.
    GraftQuery(
      "q36_quantize_int8",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            graft.sim.Quantize.int8Scale(col("embedding")).as("scale"))
          .select(col("vec_id"), col("scale"),
            posexplode(graft.sim.Quantize.int8Codes(
              col("embedding"), col("scale"))))
          .withColumnRenamed("col", "code")
          .select(col("vec_id"), col("pos"), col("code").cast("long").as("code"),
            col("scale"))
          .orderBy(col("vec_id"), col("pos")),
      Some("""
        WITH q AS (
          SELECT vec_id, embedding,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
          FROM embeddings
        )
        , e AS (
          SELECT vec_id, scale,
            CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
            CAST(unnest(embedding) AS DOUBLE) AS x
          FROM q
        )
        SELECT vec_id, pos,
          CASE WHEN scale = 0 THEN 0
               ELSE CAST(least(greatest(floor(x / scale + 0.5),
                 -127), 127) AS BIGINT)
          END AS code,
          scale
        FROM e
        ORDER BY vec_id, pos""")),

    // Gap-based sessionization (operators/Sessionize): interaction logs →
    // behavioral sessions, the first transform of most training pipelines
    // over event streams. One shuffle on the key; the lag-flag and
    // running-sum window passes share a single exchange+sort. DuckDB
    // replays the identical lag/cumulative-sum construction; timestamps
    // compare as unix micros (both engines truncate the corpus's nanos
    // identically — Spark via `div 1000`, DuckDB at parquet read).
    GraftQuery(
      "q37_sessionize",
      (s, dir) =>
        graft.operators.Sessionize.sessionStats(
          t(s, dir, "events").filter(col("user_id") < 50),
          Seq("user_id"), "ts", gapSeconds = 1800L,
          tieBreak = Seq(col("event_id")), valueCol = Some("value"))
          .select(col("user_id"), col("session_idx"),
            unix_micros(col("session_start")).as("session_start_us"),
            unix_micros(col("session_end")).as("session_end_us"),
            col("n_events"), col("total_value"))
          .orderBy(col("user_id"), col("session_idx")),
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS is_start
          FROM events
          WHERE user_id < 50
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id, ts, value,
            SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM flagged
        )
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          epoch_us(MIN(ts)) AS session_start_us,
          epoch_us(MAX(ts)) AS session_end_us,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        FROM sess
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // Gopher-style repetition quality signals (text/Repetition): duplicate
    // n-gram fraction and top-n-gram character coverage per document —
    // map-only (no shuffle, no UDF), one native O(len) codegen pass per
    // (row, n) (functions/NgramRepetition) shared by both fractions via
    // a stacked projection. DuckDB replays via explode+group+window;
    // both sides divide exact integers, so the doubles compare
    // bit-for-bit, and the count tie breaks toward the lexicographically
    // greatest gram in both engines (byte order in the native pass,
    // ORDER BY c DESC, gram DESC here).
    GraftQuery(
      "q38_repetition",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            graft.text.Repetition.ngramStats(col("text"), 2).as("__s2"),
            graft.text.Repetition.ngramStats(col("text"), 3).as("__s3"))
          .select(col("doc_id"),
            graft.text.Repetition.dupFractionFromStats(col("__s2"))
              .as("dup_2gram_frac"),
            graft.text.Repetition
              .topCharFractionFromStats(col("__s2"), col("text"))
              .as("top_2gram_char_frac"),
            graft.text.Repetition.dupFractionFromStats(col("__s3"))
              .as("dup_3gram_frac"),
            graft.text.Repetition
              .topCharFractionFromStats(col("__s3"), col("text"))
              .as("top_3gram_char_frac"))
          .orderBy(col("doc_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, str_split(text, ' ') AS ts, len(text) AS nc
          FROM documents
        ),
        g AS (
          SELECT doc_id, nc, n,
            unnest(list_transform(range(0, greatest(len(ts) - n + 1, 0)),
              i -> array_to_string(ts[(i+1):(i+n)], ' '))) AS gram
          FROM d, (SELECT unnest([2, 3]) AS n) ns
        ),
        counts AS (
          SELECT doc_id, nc, n, gram, COUNT(*) AS c
          FROM g GROUP BY 1, 2, 3, 4
        ),
        sel AS (
          SELECT doc_id, nc, n, c, gram,
            ROW_NUMBER() OVER (PARTITION BY doc_id, n
                               ORDER BY c DESC, gram DESC) AS rn,
            SUM(c) OVER (PARTITION BY doc_id, n) AS total,
            COUNT(*) OVER (PARTITION BY doc_id, n) AS ndistinct
          FROM counts
        ),
        picked AS (
          SELECT doc_id, n,
            CAST(total - ndistinct AS DOUBLE) / total AS dup_frac,
            CAST(c * len(gram) AS DOUBLE) / nc AS top_frac
          FROM sel WHERE rn = 1
        )
        SELECT d.doc_id,
          COALESCE(p2.dup_frac, 0.0) AS dup_2gram_frac,
          COALESCE(p2.top_frac, 0.0) AS top_2gram_char_frac,
          COALESCE(p3.dup_frac, 0.0) AS dup_3gram_frac,
          COALESCE(p3.top_frac, 0.0) AS top_3gram_char_frac
        FROM d
        LEFT JOIN picked p2 ON p2.doc_id = d.doc_id AND p2.n = 2
        LEFT JOIN picked p3 ON p3.doc_id = d.doc_id AND p3.n = 3
        ORDER BY d.doc_id""")),

    // Train/test decontamination (text/Decontaminate): held-out docs
    // (source='src0') vs the training corpus (everything else), shared
    // distinct word 3-grams per pair. The hot-gram cap (train doc
    // frequency <= 40) is part of the operator contract and replayed by
    // the oracle: it never binds at sf0.01 (max df 7) and does bind at
    // sf0.1 — the same query text stays exact at both scales because
    // both engines apply the identical drop.
    GraftQuery(
      "q39_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.text.Decontaminate.overlapPairs(
          docs.filter(col("source") =!= "src0"), "doc_id",
          docs.filter(col("source") === "src0"), "doc_id",
          "text", n = 3, maxTrainDocFreq = 40L)
          .orderBy(col("train_id"), col("test_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source, str_split(text, ' ') AS ts FROM documents
        ),
        tr AS (
          SELECT doc_id, unnest(list_distinct(
            list_transform(range(0, greatest(len(ts) - 2, 0)),
              i -> array_to_string(ts[(i+1):(i+3)], ' ')))) AS gram
          FROM d WHERE source <> 'src0'
        ),
        te AS (
          SELECT doc_id, unnest(list_distinct(
            list_transform(range(0, greatest(len(ts) - 2, 0)),
              i -> array_to_string(ts[(i+1):(i+3)], ' ')))) AS gram
          FROM d WHERE source = 'src0'
        ),
        rare AS (
          SELECT gram FROM tr GROUP BY gram HAVING COUNT(*) <= 40
        )
        SELECT tr.doc_id AS train_id, te.doc_id AS test_id,
          COUNT(*) AS shared_ngrams
        FROM tr
        JOIN rare ON tr.gram = rare.gram
        JOIN te ON tr.gram = te.gram
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // BM25 relevance scoring (text/Relevance) with the log-free rational
    // idf, so every score is built from correctly-rounded +,-,*,/ only
    // and replays bit-for-bit in DuckDB. Both engines fold the per-term
    // contributions in sorted term order (sort_array+aggregate there,
    // list_sort+list_reduce here) with the same 0.0 seed, making the
    // floating-point sum order-deterministic across engines.
    GraftQuery(
      "q40_bm25",
      (s, dir) =>
        graft.text.Relevance.bm25(
          t(s, dir, "documents"), "doc_id", "text",
          query = Seq("vector", "stream", "merge"),
          idf = graft.text.Relevance.rationalIdf)
          .orderBy(col("doc_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
          FROM documents
        ),
        post AS (
          SELECT doc_id, t AS term, COUNT(*) AS tf, MAX(dl) AS dl
          FROM (SELECT doc_id, unnest(ts) AS t, len(ts) AS dl FROM d)
          WHERE t IN ('vector', 'stream', 'merge')
          GROUP BY doc_id, t
        ),
        freq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
        stats AS (SELECT COUNT(*) AS n, SUM(len(ts)) AS total_dl FROM d),
        scored AS (
          -- e0 suffixes force DOUBLE literals: DuckDB parses bare 1.2 as
          -- DECIMAL, making tf*(1.2+1.0) exactly 6.6 instead of the
          -- IEEE product Spark computes — a 1-ulp hash break.
          SELECT p.doc_id, p.term,
            ((CAST(s.n - f.df AS DOUBLE) + 0.5e0) / (CAST(f.df AS DOUBLE) + 0.5e0))
              * (p.tf * (1.2e0 + 1.0e0))
              / (p.tf + 1.2e0 * (1.0e0 - 0.75e0 +
                   0.75e0 * p.dl / (CAST(s.total_dl AS DOUBLE) / s.n))) AS s
          FROM post p JOIN freq f USING (term) CROSS JOIN stats s
        )
        SELECT doc_id,
          list_reduce(list_prepend(0.0e0, list_transform(
            list_sort(list(struct_pack(term := term, s := s))), x -> x.s)),
            (a, b) -> a + b) AS score
        FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // PII-pattern redaction (text/Redact): the synthetic corpus carries
    // no PII, so the query plants deterministic email/IP/phone/ID spans
    // derived from doc_id — the SAME derivation in both engines — and
    // both replay the identical regexp_replace chain. Patterns live in
    // the Java-regex ∩ RE2 subset (no lookaround), so byte-identical
    // rewrites are guaranteed; counts are per-stage (each pattern counts
    // against the text already rewritten by earlier rules).
    GraftQuery(
      "q41_redact",
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com from 10."),
            (col("doc_id") % 200).cast("string"), lit(".0."),
            (col("doc_id") % 250).cast("string"),
            lit(" call +1 555 010 "),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" ref 90000000"), (col("doc_id") % 10).cast("string")
          ).as("t"))
        graft.text.Redact.withRedactions(planted, "t")
          .select(col("doc_id"), col("t_redacted"),
            col("n_email"), col("n_ip"), col("n_phone"), col("n_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH planted AS (
          -- concat() not ||: stripMargin would eat line-leading pipes
          SELECT doc_id,
            concat(substr(text, 1, 40),
              ' contact user', CAST(doc_id AS VARCHAR),
              '@mail.example.com from 10.',
              CAST(doc_id % 200 AS VARCHAR), '.0.',
              CAST(doc_id % 250 AS VARCHAR),
              ' call +1 555 010 ',
              lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
              ' ref 90000000', CAST(doc_id % 10 AS VARCHAR)) AS t
          FROM documents
        ),
        s0 AS (SELECT doc_id, t AS r0 FROM planted),
        s1 AS (SELECT *, regexp_replace(r0,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r1 FROM s0),
        s2 AS (SELECT *, regexp_replace(r1,
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS r2 FROM s1),
        s3 AS (SELECT *, regexp_replace(r2,
          '\+[0-9][0-9 ()-]{5,}[0-9]', '<PHONE>', 'g') AS r3 FROM s2),
        s4 AS (SELECT *, regexp_replace(r3,
          '\b[0-9]{9,}\b', '<ID>', 'g') AS r4 FROM s3)
        SELECT doc_id, r4 AS t_redacted,
          CAST(len(regexp_extract_all(r0,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
          CAST(len(regexp_extract_all(r1,
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
          CAST(len(regexp_extract_all(r2,
            '\+[0-9][0-9 ()-]{5,}[0-9]')) AS INTEGER) AS n_phone,
          CAST(len(regexp_extract_all(r3,
            '\b[0-9]{9,}\b')) AS INTEGER) AS n_id
        FROM s4 ORDER BY doc_id""")),

    // Temperature-based corpus mixing (operators/Mixing) over the skewed
    // lang distribution: alpha=0.5 via sqrt (IEEE-correctly-rounded in
    // both engines), keep/drop decided by the portable affine-mod
    // uniform draw — the whole decision replays bit-for-bit in SQL, so
    // the surviving row SET (not just its size) is the oracle.
    GraftQuery(
      "q42_temperature_mix",
      (s, dir) =>
        graft.operators.Mixing.mixByTemperature(
          t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, seed = 41L)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id")),
      Some("""
        WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        tot AS (SELECT SUM(n) AS total_n FROM counts),
        r AS (
          SELECT lang,
            sqrt(CAST(n AS DOUBLE) / CAST(total_n AS DOUBLE))
              / (CAST(n AS DOUBLE) / CAST(total_n AS DOUBLE)) AS ratio
          FROM counts, tot
        ),
        m AS (SELECT MAX(ratio) AS mr FROM r),
        rates AS (SELECT lang, ratio / mr AS rate FROM r, m)
        SELECT d.doc_id, d.lang
        FROM documents d JOIN rates USING (lang)
        WHERE (CAST(((((d.doc_id % 2147483647) * 1103515245 + 41) % 2147483647)
                      * 784588716 + 997) % 2147483647 AS DOUBLE) + 0.5e0)
                / 2147483647e0
              < rate
        ORDER BY d.doc_id""")),

    // Near-dup pairs → duplicate CLUSTERS (dedup/Components): min-label
    // propagation over the q23 trigram-Jaccard pair graph, every doc
    // labeled by its cluster's minimum id (singletons label themselves).
    // DuckDB recomputes the same edge set exactly (q23 proved the LSH
    // pipeline finds precisely the ≥0.85 pairs) and closes it with a
    // recursive CTE — two engines, two closure algorithms, one labeling.
    GraftQuery(
      "q43_dup_clusters",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = graft.dedup.Dedup.nearDuplicates(
          docs.filter(col("doc_id") < 500), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.85)
        val comp = graft.dedup.Components.connectedComponents(
          pairs, "id_a", "id_b")
        docs.join(comp, docs("doc_id") === comp("id"), "left")
          .select(docs("doc_id"),
            coalesce(col("component"), docs("doc_id")).as("component"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE tok AS (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents WHERE doc_id < 500),
        t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(ts) - 1),
            i -> array_to_string(ts[i:i+2], ' '))) AS gs
          FROM tok WHERE len(ts) >= 3),
        e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM t a, t b
          WHERE a.doc_id <> b.doc_id
            AND len(a.gs) > 0 AND len(b.gs) > 0
            AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.85
        ),
        reach AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
          WHERE e2.v <> r.u
        ),
        comp AS (SELECT u AS id, least(u, MIN(v)) AS component
                 FROM reach GROUP BY u)
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ORDER BY d.doc_id""")),

    // Deterministic k-means (sim/KMeans): 2 Lloyd rounds, k=4, init from
    // the 4 smallest vec_ids. Centroid updates accumulate floor(x·2^20)
    // LONGS — integer sums are order-independent, so the centroids (and
    // every squared-L2 distance computed from them) are bit-identical
    // under any partitioning and replay exactly in SQL: DuckDB unrolls
    // both rounds as CTEs with the same sequential distance folds.
    GraftQuery(
      "q44_kmeans",
      (s, dir) =>
        graft.sim.KMeans.kmeans(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 4, iters = 2)
          .orderBy(col("vec_id")),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, x AS c FROM v WHERE vec_id < 4),
        d1 AS (
          SELECT v.vec_id, v.x, c0.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(v.x, (e, i) -> (e - c0.c[i]) * (e - c0.c[i]))),
              (a, b) -> a + b) AS dist
          FROM v, c0
        ),
        a1 AS (
          SELECT vec_id, x, cid, dist,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d1
        ),
        q1 AS (
          SELECT cid, unnest(list_transform(x, (e, i) ->
            struct_pack(pos := i, q := CAST(floor(e * 1048576e0) AS BIGINT)))) AS u
          FROM a1 WHERE rn = 1
        ),
        c1 AS (
          SELECT cid, list((CAST(s AS DOUBLE) / 1048576e0) / n ORDER BY pos) AS c
          FROM (SELECT cid, u.pos AS pos, SUM(u.q) AS s, COUNT(*) AS n
                FROM q1 GROUP BY cid, u.pos)
          GROUP BY cid
        ),
        d2 AS (
          SELECT v.vec_id, v.x, c1.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(v.x, (e, i) -> (e - c1.c[i]) * (e - c1.c[i]))),
              (a, b) -> a + b) AS dist
          FROM v, c1
        ),
        a2 AS (
          SELECT vec_id, x, cid, dist,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d2
        ),
        q2 AS (
          SELECT cid, unnest(list_transform(x, (e, i) ->
            struct_pack(pos := i, q := CAST(floor(e * 1048576e0) AS BIGINT)))) AS u
          FROM a2 WHERE rn = 1
        ),
        c2 AS (
          SELECT cid, list((CAST(s AS DOUBLE) / 1048576e0) / n ORDER BY pos) AS c
          FROM (SELECT cid, u.pos AS pos, SUM(u.q) AS s, COUNT(*) AS n
                FROM q2 GROUP BY cid, u.pos)
          GROUP BY cid
        ),
        df AS (
          SELECT v.vec_id, c2.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(v.x, (e, i) -> (e - c2.c[i]) * (e - c2.c[i]))),
              (a, b) -> a + b) AS dist
          FROM v, c2
        ),
        af AS (
          SELECT vec_id, cid, dist,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM df
        )
        SELECT vec_id, cid AS cluster, dist FROM af WHERE rn = 1
        ORDER BY vec_id""")),

    // Exact substring-level dedup (dedup/SubstringDedup — the Lee et al.
    // 2022 family): cross-document repeated substrings via winnowing
    // fingerprints with positions (k=16, window=16 — any shared
    // normalized substring >= 31 bytes is detected), df-capped at 50
    // docs per hash, verified by exact 16-byte snippet equality at the
    // matched offsets. DuckDB replays fingerprint selection with the
    // q30 min-key window machinery (plus positions) and the same
    // cap/join/verify. ASCII filter as in q30 so byte offsets align
    // with character substrings in both engines.
    GraftQuery(
      "q45_substring_dedup",
      (s, dir) =>
        graft.dedup.SubstringDedup.substringMatches(
          t(s, dir, "documents").filter(!col("text").rlike("[^ -~]")),
          "doc_id", "text", k = 16, window = 16, maxDocFreq = 50)
          .orderBy(col("id_a"), col("id_b"), col("pos_a"), col("pos_b")),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        h AS (
          SELECT doc_id, t, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 16 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, t, p, hash,
            hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id, t,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, t, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS p
          FROM wmin WHERE wn = 16
        ),
        shortd AS (
          SELECT doc_id, t, hash, p FROM (
            SELECT doc_id, t, hash, p,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hash, p DESC) AS rn,
              COUNT(*) OVER (PARTITION BY doc_id) AS nn
            FROM h) WHERE nn < 16 AND rn = 1
        ),
        fp AS (
          SELECT doc_id, hash, p, substr(t, CAST(p AS INTEGER), 16) AS snippet
          FROM sel
          UNION ALL
          SELECT doc_id, hash, p, substr(t, CAST(p AS INTEGER), 16) FROM shortd
        ),
        rare AS (
          SELECT hash FROM fp GROUP BY hash HAVING COUNT(DISTINCT doc_id) <= 50
        ),
        fpc AS (SELECT fp.* FROM fp JOIN rare USING (hash))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(a.p - 1 AS INTEGER) AS pos_a,
               CAST(b.p - 1 AS INTEGER) AS pos_b,
               a.snippet
        FROM fpc a JOIN fpc b
          ON a.hash = b.hash AND a.doc_id < b.doc_id AND a.snippet = b.snippet
        ORDER BY id_a, id_b, pos_a, pos_b""")),

    // Structured Streaming sessionization, oracle-checked: the events
    // table replayed through a file-source stream (Trigger.AvailableNow),
    // Streaming.sessionStats (native session_window + watermark), a
    // parquet sink, and read back. Streaming semantics differ from batch
    // q37 in two pinned ways the oracle replays: a gap of EXACTLY
    // `gap` splits (session_window merges only strictly-overlapping
    // windows), and append mode emits only sessions whose end the final
    // watermark passed — with a 0-second delay, sessions ending within
    // `gap` of the stream's max timestamp stay in state and are NOT
    // emitted. Values are decimal-summed for bit-exact totals.
    GraftQuery(
      "q46_streaming_sessionize",
      (s, dir) => {
        // the file source tails a DIRECTORY (the production shape: new
        // files land, the stream picks them up); stage the single test
        // file into one via hard link (copy if cross-device)
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q46_src_")
        val staged = srcDir.resolve("events.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/events.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
        val typed = org.apache.spark.sql.functions.expr("ts div 1000") // nanos -> micros
        // normalize every corpus generation of `ts` (Long nanos /
        // TIMESTAMP_NTZ / TIMESTAMP) to TIMESTAMP — event-time
        // watermarks reject NTZ; sessions run UTC so values are unchanged
        val stream = (src.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            src.withColumn("ts", timestamp_micros(typed))
          case org.apache.spark.sql.types.TimestampNTZType =>
            src.withColumn("ts", col("ts").cast("timestamp"))
          case _ => src
        })
          .filter(col("user_id") < 50)
          .withColumn("value_dec", col("value").cast("decimal(30,2)"))
        val sessions = graft.streaming.Streaming.sessionStats(
          stream, Seq("user_id"), "ts", "value_dec",
          gap = "30 minutes", watermark = "0 seconds")
        val out = java.nio.file.Files
          .createTempDirectory("graft_q46_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q46_ckpt_").toString
        // state partitioning sized to the small in-flight state, not
        // the session's batch shuffle width (see withShufflePartitions)
        withShufflePartitions(s, 8) {
          sessions.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        // staging + state are done with; the sink must outlive this call
        // (the returned frame reads it lazily)
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out)
          .select(col("user_id"),
            unix_micros(col("session_start")).as("session_start_us"),
            unix_micros(col("session_end")).as("session_end_us"),
            col("n_events"),
            col("total_value").cast("double").as("total_value"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, ts, CAST(value AS DECIMAL(30,2)) AS v
          FROM events WHERE user_id < 50
        ),
        flagged AS (
          SELECT user_id, ts, v,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                 THEN 1 ELSE 0 END AS is_start
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
          SELECT user_id, ts, v,
            SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        ),
        agg AS (
          SELECT user_id,
            epoch_us(MIN(ts)) AS session_start_us,
            epoch_us(MAX(ts)) + 1800000000 AS session_end_us,
            COUNT(*) AS n_events,
            CAST(SUM(v) AS DOUBLE) AS total_value
          FROM sess GROUP BY user_id, sid
        )
        SELECT user_id, session_start_us, session_end_us, n_events, total_value
        FROM agg
        WHERE session_end_us <= (SELECT MAX(epoch_us(ts)) FROM e)
        ORDER BY user_id, session_start_us""")),

    // Maximal verified shared spans (dedup/SubstringDedup.substringSpans):
    // q45's matched fingerprints merged along alignment diagonals
    // (pos_a - pos_b) with a gap<=k sessionization — window <= k makes
    // consecutive in-span k-gram matches overlap, so every reported span
    // is an exact shared substring, Lee-et-al.-shaped. DuckDB replays
    // the q45 pipeline plus the same diagonal merge.
    GraftQuery(
      "q47_substring_spans",
      (s, dir) =>
        graft.dedup.SubstringDedup.substringSpans(
          t(s, dir, "documents").filter(!col("text").rlike("[^ -~]")),
          "doc_id", "text", k = 16, window = 16, maxDocFreq = 50)
          .orderBy(col("id_a"), col("id_b"), col("start_a"), col("start_b")),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        h AS (
          SELECT doc_id, t, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 16 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, t, p, hash,
            hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id, t,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, t, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS p
          FROM wmin WHERE wn = 16
        ),
        shortd AS (
          SELECT doc_id, t, hash, p FROM (
            SELECT doc_id, t, hash, p,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hash, p DESC) AS rn,
              COUNT(*) OVER (PARTITION BY doc_id) AS nn
            FROM h) WHERE nn < 16 AND rn = 1
        ),
        fp AS (
          SELECT doc_id, hash, p, substr(t, CAST(p AS INTEGER), 16) AS snippet
          FROM sel
          UNION ALL
          SELECT doc_id, hash, p, substr(t, CAST(p AS INTEGER), 16) FROM shortd
        ),
        rare AS (
          SELECT hash FROM fp GROUP BY hash HAVING COUNT(DISTINCT doc_id) <= 50
        ),
        fpc AS (SELECT fp.* FROM fp JOIN rare USING (hash)),
        matches AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(a.p - 1 AS INTEGER) AS pos_a,
                 CAST(b.p - 1 AS INTEGER) AS pos_b
          FROM fpc a JOIN fpc b
            ON a.hash = b.hash AND a.doc_id < b.doc_id AND a.snippet = b.snippet
        ),
        diag AS (
          SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS dg FROM matches
        ),
        flagged AS (
          SELECT id_a, id_b, pos_a, pos_b, dg,
            CASE WHEN lag(pos_a) OVER w IS NULL
                   OR pos_a - lag(pos_a) OVER w > 16
                 THEN 1 ELSE 0 END AS is_start
          FROM diag WINDOW w AS (PARTITION BY id_a, id_b, dg ORDER BY pos_a)
        ),
        sess AS (
          SELECT id_a, id_b, pos_a, pos_b, dg,
            SUM(is_start) OVER (PARTITION BY id_a, id_b, dg ORDER BY pos_a
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        )
        SELECT id_a, id_b,
          MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
          CAST(MAX(pos_a) - MIN(pos_a) + 16 AS INTEGER) AS length,
          COUNT(*) AS n_fingerprints
        FROM sess GROUP BY id_a, id_b, dg, sid
        ORDER BY id_a, id_b, start_a, start_b""")),

    // DSIR-style data selection (text/Dsir): hashed 1-2-gram importance
    // scores of non-English docs against the English target slice, top
    // 100 kept. NO floating point anywhere: smoothed bucket ratios are
    // exact Q20 integers and their log2 runs the integer
    // square-and-shift algorithm (20 rounds) in both engines — Spark in
    // Scala over the bounded B-row bucket table, DuckDB as a recursive
    // CTE — so scores are exact integer sums and the ranking is
    // bit-reproducible. ASCII filter keeps the KR gram hash byte/char
    // identical across engines (q30/q45 precedent).
    GraftQuery(
      "q48_dsir_selection",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(!col("text").rlike("[^ -~]"))
        val target = docs.filter(col("lang") === "en")
        val raw = docs.filter(col("lang") =!= "en")
        graft.text.Dsir.selectTopK(raw, "doc_id", "text", target, k = 100)
          .orderBy(col("score").desc, col("doc_id"))
      },
      Some("""
        WITH RECURSIVE d AS (
          SELECT doc_id, lang,
            list_filter(
              string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
              x -> x <> '') AS toks
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        grams AS (
          SELECT doc_id, lang, unnest(list_concat(
            toks,
            list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
          )) AS g
          FROM d
        ),
        hashed AS (
          SELECT doc_id, lang,
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, len(g) + 1),
                  j -> CAST(ord(substr(g, CAST(j AS INTEGER), 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) % 4096 AS bucket
          FROM grams
        ),
        tcnt AS (SELECT bucket, COUNT(*) AS c FROM hashed WHERE lang = 'en' GROUP BY 1),
        rcnt AS (SELECT bucket, COUNT(*) AS c FROM hashed WHERE lang <> 'en' GROUP BY 1),
        tot AS (
          SELECT (SELECT COUNT(*) FROM hashed WHERE lang = 'en') AS nt,
                 (SELECT COUNT(*) FROM hashed WHERE lang <> 'en') AS nr
        ),
        ratio AS (
          SELECT b, greatest(
            ((COALESCE(tc.c, 0) + 1) * (tot.nr + 4096) * 1048576)
              // ((COALESCE(rc.c, 0) + 1) * (tot.nt + 4096)), 1) AS s
          FROM (SELECT unnest(range(0, 4096)) AS b) bb
          CROSS JOIN tot
          LEFT JOIN tcnt tc ON tc.bucket = bb.b
          LEFT JOIN rcnt rc ON rc.bucket = bb.b
        ),
        norm AS (
          SELECT b, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM ratio
        ),
        iter(b, bl, i, m, frac) AS (
          SELECT b, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT b, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20
        ),
        ltab AS (SELECT b, (bl - 21) * 1048576 + frac AS l FROM iter WHERE i = 20)
        SELECT h.doc_id, CAST(SUM(ltab.l) AS BIGINT) AS score
        FROM hashed h JOIN ltab ON h.bucket = ltab.b
        WHERE h.lang <> 'en'
        GROUP BY h.doc_id
        ORDER BY score DESC, h.doc_id
        LIMIT 100""")),

    // CCNet-style LM perplexity scoring (text/NgramLm): add-one bigram
    // model fit on the English slice, exact integer negative
    // log2-likelihood per non-English document. Probabilities are Q20
    // integers, log2 is the native integer square-and-shift expression
    // (functions/ILog2Q20) running DISTRIBUTED over the joined bigram
    // table — DuckDB replays the same 20 rounds as a recursive CTE over
    // the DISTINCT probability values and joins back. Integer sums →
    // bit-exact rows.
    GraftQuery(
      "q49_lm_perplexity",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(!col("text").rlike("[^ -~]"))
        val lm = graft.text.NgramLm.fit(docs.filter(col("lang") === "en"), "text")
        graft.text.NgramLm.score(
          docs.filter(col("lang") =!= "en"), "doc_id", "text", lm)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE d AS (
          SELECT doc_id, lang,
            list_filter(
              string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
              x -> x <> '') AS toks
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        bi AS (
          SELECT doc_id, lang, toks[i] AS u, toks[i + 1] AS v
          FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM d)
        ),
        cuv AS (SELECT u, v, COUNT(*) AS c FROM bi WHERE lang = 'en' GROUP BY 1, 2),
        cu AS (SELECT u, COUNT(*) AS c FROM bi WHERE lang = 'en' GROUP BY 1),
        vsz AS (
          SELECT COUNT(DISTINCT t) + 1 AS v
          FROM (SELECT unnest(toks) AS t FROM d WHERE lang = 'en')
        ),
        probs AS (
          SELECT b.doc_id,
            greatest(((COALESCE(cuv.c, 0) + 1) * 1048576)
              // (COALESCE(cu.c, 0) + vsz.v), 1) AS s
          FROM bi b
          CROSS JOIN vsz
          LEFT JOIN cuv ON b.u = cuv.u AND b.v = cuv.v
          LEFT JOIN cu ON b.u = cu.u
          WHERE b.lang <> 'en'
        ),
        svals AS (SELECT DISTINCT s FROM probs),
        norm AS (
          SELECT s, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM svals
        ),
        iter(s, bl, i, m, frac) AS (
          SELECT s, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT s, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20
        ),
        ltab AS (SELECT s, (bl - 21) * 1048576 + frac AS l FROM iter WHERE i = 20)
        SELECT p.doc_id, COUNT(*) AS n_bigrams,
          CAST(SUM(-ltab.l) AS BIGINT) AS nll_q20
        FROM probs p JOIN ltab ON p.s = ltab.s
        GROUP BY 1
        ORDER BY 1""")),

    // Cross-corpus (incremental) dedup (dedup/Dedup.dedupAgainst): the
    // batch slice deduped against the existing-corpus slice — exact
    // fingerprint anti-join, then banded MinHash candidates from ONE
    // batch×corpus bucket equi-join (never a self-join), Jaccard
    // verify, anti-join. DuckDB replays the CONTRACT: surviving batch
    // rows = those with no exact content match and no corpus doc at
    // Jaccard >= 0.9 (unigram shingle regime where banded recall is
    // complete — same as q14's oracle).
    GraftQuery(
      "q50_dedup_against_corpus",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.dedup.Dedup.dedupAgainst(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400),
          "doc_id", "text",
          shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents
        ),
        corpus AS (SELECT * FROM d WHERE doc_id < 400),
        batch AS (SELECT * FROM d WHERE doc_id >= 400)
        SELECT b.doc_id FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = b.t)
          AND NOT EXISTS (
            SELECT 1 FROM corpus c
            WHERE CAST(len(list_intersect(b.toks, c.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(b.toks, c.toks))) >= 0.9)
        ORDER BY 1""")),

    // Semantic dedup (sim/SemDeDup — the SemDeDup recipe): 1 Lloyd
    // round of the deterministic quantized k-means (k=4, init = 4
    // smallest vec_ids — same machinery the q44 oracle replays), then
    // within-cluster exact-cosine pairs at tau=0.35 (q24's fold), then
    // keep-smallest-id per connected duplicate group (q43's recursive
    // closure). DuckDB replays all three stages; every stage is
    // bit-deterministic so the whole composition hash-matches.
    GraftQuery(
      "q51_semdedup",
      (s, dir) =>
        graft.sim.SemDeDup.semDeDup(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 4, iters = 1, tau = 0.35)
          .orderBy(col("vec_id")),
      Some("""
        WITH RECURSIVE v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, x AS c FROM v WHERE vec_id < 4),
        d1 AS (
          SELECT v.vec_id, v.x, c0.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(v.x, (e, i) -> (e - c0.c[i]) * (e - c0.c[i]))),
              (a, b) -> a + b) AS dist
          FROM v, c0),
        a1 AS (
          SELECT vec_id, x, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d1),
        q1 AS (
          SELECT cid, unnest(list_transform(x, (e, i) ->
            struct_pack(pos := i, q := CAST(floor(e * 1048576e0) AS BIGINT)))) AS u
          FROM a1 WHERE rn = 1),
        c1 AS (
          SELECT cid, list((CAST(s AS DOUBLE) / 1048576e0) / n ORDER BY pos) AS c
          FROM (SELECT cid, u.pos AS pos, SUM(u.q) AS s, COUNT(*) AS n
                FROM q1 GROUP BY cid, u.pos)
          GROUP BY cid),
        dfin AS (
          SELECT v.vec_id, v.x, c1.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(v.x, (e, i) -> (e - c1.c[i]) * (e - c1.c[i]))),
              (a, b) -> a + b) AS dist
          FROM v, c1),
        af AS (
          SELECT vec_id, x, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM dfin),
        m AS (SELECT vec_id, x, cid FROM af WHERE rn = 1),
        e AS (
          SELECT a.vec_id AS u, b.vec_id AS w FROM m a JOIN m b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id
          WHERE list_reduce(list_transform(a.x, (p, i) -> p * b.x[i]), (p, q) -> p + q)
            / (sqrt(list_reduce(list_transform(a.x, p -> p * p), (p, q) -> p + q))
               * sqrt(list_reduce(list_transform(b.x, p -> p * p), (p, q) -> p + q)))
            >= 0.35),
        reach AS (
          SELECT u, w FROM e
          UNION
          SELECT r.u, e2.w FROM reach r JOIN e e2 ON r.w = e2.u
          WHERE e2.w <> r.u),
        comp AS (SELECT u AS id, least(u, MIN(w)) AS component
                 FROM reach GROUP BY u)
        SELECT m.vec_id, m.cid AS cluster,
          COALESCE(c.component, m.vec_id) AS "group",
          m.vec_id = COALESCE(c.component, m.vec_id) AS keep
        FROM m LEFT JOIN comp c ON m.vec_id = c.id
        ORDER BY m.vec_id""")),

    // Deterministic train/valid/test split (operators/Splits): the
    // cross-engine-replayable Karp-Rabin bucket hash on "doc_id:v1",
    // 80/10/10 over 10 000 buckets. Map-only, layout-independent —
    // DuckDB replays the byte fold exactly (doc_id digits and the salt
    // are ASCII, so ord(char) ≡ byte).
    GraftQuery(
      "q52_hash_split",
      (s, dir) =>
        graft.operators.Splits.withSplit(
          t(s, dir, "documents").select(col("doc_id")),
          "doc_id",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
          salt = "v1")
          .orderBy(col("doc_id")),
      Some("""
        WITH s AS (
          SELECT doc_id, CAST(doc_id AS VARCHAR) || ':v1' AS k FROM documents),
        h AS (
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(k) + 1),
                i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM s),
        hb AS (SELECT doc_id, ((hh * hh) % 2147483647) % 10000 AS b FROM h)
        SELECT doc_id,
          CASE WHEN b < 8000 THEN 'train'
               WHEN b < 9000 THEN 'valid'
               ELSE 'test' END AS split
        FROM hb ORDER BY doc_id""")),

    // Sequence packing (operators/Packing): concat-and-chunk the corpus
    // into 2048-unit training sequences (n_chars as the unit count),
    // one row per (doc, sequence) overlap with slice coordinates. The
    // engine computes the global prefix sum with the two-level
    // distributed scan (bucketed partial sums + per-bucket windows);
    // DuckDB replays it as the plain global-window cumsum the scan is
    // equivalent to — all-integer arithmetic, so exact.
    GraftQuery(
      "q53_pack_sequences",
      (s, dir) =>
        graft.operators.Packing.packSequences(
          t(s, dir, "documents"), "doc_id", "doc_id", "n_chars",
          seqLen = 2048, bucketWidth = 64)
          .orderBy(col("seq_id"), col("doc_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS n FROM documents
          WHERE n_chars > 0),
        c AS (
          SELECT doc_id, n,
            CAST(SUM(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS start
          FROM d),
        sp AS (
          SELECT doc_id, n, start,
            unnest(range(start // 2048, (start + n - 1) // 2048 + 1)) AS seq_id
          FROM c)
        SELECT seq_id, doc_id,
          greatest(0, start - seq_id * 2048) AS seq_off,
          greatest(0, seq_id * 2048 - start) AS doc_off,
          least((seq_id + 1) * 2048, start + n)
            - greatest(seq_id * 2048, start) AS n_tok
        FROM sp ORDER BY seq_id, doc_id""")),

    // Exact grouped quantiles (sketch/Quantiles): per-(lang, source)
    // length quantiles from the lossless (group, value) histogram —
    // the shuffle carries distinct values, never rows, and the answer
    // is the true discrete quantile (smallest value whose cumulative
    // count reaches ceil(q·n)), not a sketch approximation. DuckDB
    // replays histogram, cumulative window and threshold pick; the
    // single q·n double product is the same IEEE op in both engines.
    GraftQuery(
      "q54_quantiles",
      (s, dir) =>
        graft.sketch.Quantiles.grouped(
          t(s, dir, "documents"), Seq("lang", "source"), "n_chars",
          Seq(0.25, 0.5, 0.75, 0.9, 0.99))
          .orderBy(col("lang"), col("source"), col("q")),
      Some("""
        WITH h AS (
          SELECT lang, source, n_chars AS v, COUNT(*) AS c
          FROM documents GROUP BY 1, 2, 3),
        w AS (
          SELECT lang, source, v, c,
            CAST(SUM(c) OVER (PARTITION BY lang, source ORDER BY v) AS BIGINT) AS cum,
            CAST(SUM(c) OVER (PARTITION BY lang, source) AS BIGINT) AS n
          FROM h),
        e AS (
          SELECT lang, source, v, cum, n,
            unnest([0.25e0, 0.5e0, 0.75e0, 0.9e0, 0.99e0]) AS q
          FROM w)
        SELECT lang, source, q,
          MIN(CASE WHEN cum >= ceil(q * n) THEN v END) AS value
        FROM e GROUP BY lang, source, q
        ORDER BY lang, source, q""")),

    // Streaming exact dedup through a real file sink (streaming/
    // Streaming.streamingExactDedup): documents replayed as a stream
    // (event time from doc_id), watermarked dropDuplicates on the
    // normalized-content key, parquet sink, read back. Which physical
    // duplicate survives is batch-order-dependent, so the query emits
    // only columns DETERMINED BY the dedup key (the normalized text and
    // its md5) — the oracle is a plain DISTINCT. Gives the streaming
    // dedup path the same hard cross-engine evidence the batch q08 has.
    GraftQuery(
      "q55_streaming_dedup",
      (s, dir) => {
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q55_src_")
        val staged = srcDir.resolve("documents.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/documents.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/documents.parquet").schema)
          .parquet(srcDir.toString)
          // +1s: epoch-0 event time would sit exactly ON the initial
          // watermark and be discarded as late before reaching the store
          .withColumn("__ts", timestamp_micros((col("doc_id") + 1L) * 1000000L))
        val deduped = graft.streaming.Streaming.streamingExactDedup(
          src, "text", "__ts", watermark = "0 seconds")
          .select(
            graft.text.TextStats.fingerprintMd5(col("text")).as("fp"),
            graft.text.TextStats.normalize(col("text")).as("norm_text"))
        val out = java.nio.file.Files
          .createTempDirectory("graft_q55_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q55_ckpt_").toString
        // state partitioning sized to the small in-flight state, not
        // the session's batch shuffle width (see withShufflePartitions)
        withShufflePartitions(s, 8) {
          deduped.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        // staging + state are done with; the sink must outlive this call
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out).orderBy(col("fp"))
      },
      Some("""
        SELECT DISTINCT
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text
        FROM documents
        ORDER BY fp""")),

    // Vocabulary tokenizer (functions/VocabTokenize): greedy maximal
    // munch against a fixed vocabulary — multi-word entries ("table
    // value", "key agg") win over word-by-word, and two corpus words
    // ("merge", "vector") are deliberately absent so the per-character
    // unk fallback is exercised on real rows. Native codegen map-only
    // pass; DuckDB replays the same longest-match scan as a recursive
    // CTE with a correlated max-length probe. ASCII filter as in
    // q30/q45 so character indexing agrees byte-for-byte.
    GraftQuery(
      "q56_vocab_tokenize",
      (s, dir) => {
        val vocab = Seq(
          "a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "order", "part",
          "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
          "table", "the", "value", "window", " ", "table value", "key agg")
        t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
          .select(col("doc_id"),
            graft.functions.VocabTokenize.vocabTokenize(
              graft.text.TextStats.normalize(col("text")), vocab).as("__toks"))
          .select(col("doc_id"),
            size(col("__toks")).cast("long").as("n_tokens"),
            (size(col("__toks")) -
              size(array_remove(col("__toks"), "<unk>"))).cast("long")
              .as("n_unk"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE vocab(w) AS (
          SELECT * FROM (VALUES ('a'),('agg'),('batch'),('big'),('column'),
            ('customer'),('data'),('fast'),('filter'),('group'),('hash'),
            ('join'),('key'),('line'),('order'),('part'),('query'),('row'),
            ('scan'),('slow'),('small'),('sort'),('spark'),('stream'),
            ('table'),('the'),('value'),('window'),(' '),
            ('table value'),('key agg')) v(w)),
        d AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')),
        step(doc_id, pos, n_tok, n_unk) AS (
          SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          FROM d
          UNION ALL
          SELECT doc_id, pos + coalesce(l, 1), n_tok + 1,
                 n_unk + CASE WHEN l IS NULL THEN 1 ELSE 0 END
          FROM (
            SELECT s.doc_id, s.pos, s.n_tok, s.n_unk,
              (SELECT max(len(w)) FROM vocab v
               WHERE substr(d.t, CAST(s.pos AS INTEGER), len(v.w)) = v.w) AS l
            FROM step s JOIN d ON d.doc_id = s.doc_id
            WHERE s.pos <= len(d.t)) q)
        SELECT doc_id, max(n_tok) AS n_tokens, max(n_unk) AS n_unk
        FROM step GROUP BY doc_id ORDER BY doc_id""")),

    // Semantic decontamination, exact cross-corpus baseline
    // (sim/Similarity.exactCosinePairsAcross): every (batch, corpus)
    // embedding pair at cosine >= 0.35 on bounded slices — the
    // quadratic-BY-CONTRACT verification baseline for the sub-quadratic
    // LSH path (embeddingNearDuplicatesAgainst, benched uncapped as
    // q57b; recall pinned on planted duplicates in
    // CrossCorpusSimilaritySpec). Same precedent as q24/q24b.
    GraftQuery(
      "q57_semantic_decontaminate",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.sim.Similarity.exactCosinePairsAcross(
          emb.filter(col("vec_id") >= 300),
          emb.filter(col("vec_id") < 300),
          "vec_id", "embedding", threshold = 0.35)
          .orderBy(col("batch_id"), col("corpus_id"))
      },
      Some("""
        WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT a.vec_id AS batch_id, b.vec_id AS corpus_id,
                list_reduce(list_transform(a.v, (x,i) -> x * b.v[i]), (x,y) -> x + y)
                / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x,y) -> x + y))
                   * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x,y) -> x + y))) AS cosine
              FROM s a JOIN s b ON a.vec_id >= 300 AND b.vec_id < 300)
        SELECT batch_id, corpus_id, cosine FROM p
        WHERE cosine >= 0.35
        ORDER BY batch_id, corpus_id""")),

    // Overlapping document chunking (text/Chunking): 256-char chunks
    // every 192 chars (64 overlap) — the embedding/RAG prep step.
    // Map-only sequence-explode + substring; all-integer start
    // arithmetic and character-based substring replay exactly. ASCII
    // filter as in q30/q45 so character indexing agrees.
    GraftQuery(
      "q58_chunking",
      (s, dir) =>
        graft.text.Chunking.chunk(
          t(s, dir, "documents").filter(!col("text").rlike("[^ -~]")),
          "doc_id", "text", chunkSize = 256, overlap = 64)
          .orderBy(col("doc_id"), col("chunk_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, text, len(text) AS n FROM documents
          WHERE NOT regexp_matches(text, '[^ -~]') AND len(text) > 0),
        c AS (
          SELECT doc_id, text,
            unnest(range(0, greatest(1, (n - 64 + 191) // 192))) AS chunk_id
          FROM d)
        SELECT doc_id, chunk_id, chunk_id * 192 AS chunk_start,
          substr(text, CAST(chunk_id * 192 + 1 AS INTEGER), 256) AS chunk_text
        FROM c ORDER BY doc_id, chunk_id""")),

    // Token-weighted temperature mixing (operators/Mixing
    // .mixByTemperatureWeighted): keep rates from per-source n_chars
    // SUMS instead of document counts — LM mixes are token budgets, so
    // a source of few huge documents counts as its mass. Same portable
    // affine-mod draw and IEEE-sqrt rates as q42; weight sums are exact
    // integers in both engines.
    GraftQuery(
      "q59_weighted_mix",
      (s, dir) =>
        graft.operators.Mixing.mixByTemperatureWeighted(
          t(s, dir, "documents"), "source", "doc_id", "n_chars",
          alpha = 0.5, seed = 41L)
          .select(col("doc_id"), col("source"))
          .orderBy(col("doc_id")),
      Some("""
        WITH weights AS (
          SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS w
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM weights),
        r AS (
          SELECT source,
            sqrt(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE))
              / (CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE)) AS ratio
          FROM weights, tot
        ),
        m AS (SELECT MAX(ratio) AS mr FROM r),
        rates AS (SELECT source, ratio / mr AS rate FROM r, m)
        SELECT d.doc_id, d.source
        FROM documents d JOIN rates USING (source)
        WHERE (CAST(((((d.doc_id % 2147483647) * 1103515245 + 41) % 2147483647)
                      * 784588716 + 997) % 2147483647 AS DOUBLE) + 0.5e0)
                / 2147483647e0
              < rate
        ORDER BY d.doc_id""")),

    // Rule-based quality filter with audit reason codes (text/
    // QualityFilter — the C4/Gopher recipe): word-count bounds,
    // mean-word-length bounds, minimum stopword ratio, each violation
    // contributing its named code to a '|'-joined audit string.
    // Map-only column predicates; single-divide double arithmetic
    // replays bit-exactly.
    GraftQuery(
      "q60_quality_filter",
      (s, dir) =>
        graft.text.QualityFilter.withQualityFilter(
          t(s, dir, "documents"), "text",
          graft.text.QualityFilter.gopherRules(col("text"),
            minWords = 30, maxWords = 90))
          .select(col("doc_id"), col("fail_reasons"), col("keep"))
          .orderBy(col("doc_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
        s AS (
          SELECT doc_id, text IS NULL AS tn, len(ts) AS wc,
            CAST(len(text) - (len(ts) - 1) AS DOUBLE) / len(ts) AS ml,
            CAST(len(list_filter(ts, t -> list_contains(
              ['the','a','an','and','or','of','to','in','is','are','was',
               'it','that','this','for','on','with','as','at','by'], t)))
              AS DOUBLE) / len(ts) AS sr
          FROM d),
        r AS (
          SELECT doc_id,
            CASE WHEN tn THEN 'null_text' ELSE concat_ws('|',
              CASE WHEN wc < 30 THEN 'too_few_words' END,
              CASE WHEN wc > 90 THEN 'too_many_words' END,
              CASE WHEN ml < 3.0e0 OR ml > 10.0e0 THEN 'mean_word_length' END,
              CASE WHEN sr < 0.06e0 THEN 'low_stopword_ratio' END) END
              AS fail_reasons
          FROM s)
        SELECT doc_id, fail_reasons, fail_reasons = '' AS keep
        FROM r ORDER BY doc_id""")),

    // BPE-style phrase mining (text/Phrases): 2 merge-training rounds —
    // most-frequent adjacent DISTINCT pair, ties (count desc, lexico
    // (u,v)) — then the corpus transformed by both merges. Distinct-
    // sided pairs cannot chain, so the merge is a per-position neighbor
    // test (map-only, no sequential state) that DuckDB replays with the
    // same indexed list lambdas; per-doc before/after token counts pin
    // both the learned merges and every application site.
    GraftQuery(
      "q61_phrase_mining",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val (_, out) = graft.text.Phrases.minePhrases(
          docs, "doc_id", "text", rounds = 2)
        val before = docs.select(col("doc_id"),
          size(graft.text.TextStats.tokens(
            graft.text.TextStats.normalize(col("text"))))
            .cast("long").as("n_before"))
        before.join(out, Seq("doc_id"))
          .select(col("doc_id"), col("n_before"),
            size(col("tokens")).cast("long").as("n_after"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents),
        p1 AS (
          SELECT u, v FROM (
            SELECT pr.u AS u, pr.v AS v, COUNT(*) AS c FROM (
              SELECT unnest(list_transform(range(1, len(ts)),
                i -> struct_pack(u := ts[i], v := ts[i+1]))) AS pr
              FROM d) q
            WHERE pr.u <> pr.v GROUP BY 1, 2) cnts
          ORDER BY c DESC, u, v LIMIT 1),
        a1 AS (
          SELECT doc_id, list_filter(
            list_transform(ts, (t, i) ->
              CASE WHEN t = p1.u AND ts[i+1] = p1.v THEN p1.u || ' ' || p1.v
                   WHEN i > 1 AND ts[i-1] = p1.u AND t = p1.v THEN NULL
                   ELSE t END),
            x -> x IS NOT NULL) AS ts
          FROM d, p1),
        p2 AS (
          SELECT u, v FROM (
            SELECT pr.u AS u, pr.v AS v, COUNT(*) AS c FROM (
              SELECT unnest(list_transform(range(1, len(ts)),
                i -> struct_pack(u := ts[i], v := ts[i+1]))) AS pr
              FROM a1) q
            WHERE pr.u <> pr.v GROUP BY 1, 2) cnts
          ORDER BY c DESC, u, v LIMIT 1),
        a2 AS (
          SELECT doc_id, list_filter(
            list_transform(ts, (t, i) ->
              CASE WHEN t = p2.u AND ts[i+1] = p2.v THEN p2.u || ' ' || p2.v
                   WHEN i > 1 AND ts[i-1] = p2.u AND t = p2.v THEN NULL
                   ELSE t END),
            x -> x IS NOT NULL) AS ts
          FROM a1, p2)
        SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_before,
          CAST(len(a2.ts) AS BIGINT) AS n_after
        FROM d JOIN a2 USING (doc_id) ORDER BY doc_id""")),

    // Cross-corpus dedup through the PREPARED INDEX
    // (dedup/DedupIndex): the same split and parameters as q50, but the
    // corpus side is served from an on-disk index built ONCE per
    // process (exact fingerprints + capped MinHash bucket table +
    // shingle sets as parquet) — the 100 TB incremental-ingest shape,
    // where a new batch never re-shingles the corpus. Same oracle as
    // q50: the index path must produce the identical survivor set. In
    // Bench, the warmup pass pays the one-time build and the timed
    // runs measure the amortized batch-only cost.
    GraftQuery(
      "q62_dedup_against_index",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val idx = dedupIndexFor(s, dir, docs.filter(col("doc_id") < 400))
        graft.dedup.DedupIndex.dedupAgainst(
          docs.filter(col("doc_id") >= 400), idx, "doc_id", "text",
          threshold = 0.9)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents
        ),
        corpus AS (SELECT * FROM d WHERE doc_id < 400),
        batch AS (SELECT * FROM d WHERE doc_id >= 400)
        SELECT b.doc_id FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = b.t)
          AND NOT EXISTS (
            SELECT 1 FROM corpus c
            WHERE CAST(len(list_intersect(b.toks, c.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(b.toks, c.toks))) >= 0.9)
        ORDER BY 1""")),

    // Multimodal: fixed-stride chunk sampling over a RAW binary
    // payload (multimodal/Multimodal.chunkSample) — the distribution
    // step for fixed-record payloads (frame dumps, tensor blobs).
    // The payload here is the document text cast to binary (the
    // documents table is pure ASCII at every SF, verified, so DuckDB's
    // character substring replays the byte slicing exactly); chunks
    // are emitted back as strings for the compare. everyN=2 proves the
    // stride logic, 64-byte chunks, truncated tail dropped.
    GraftQuery(
      "q63_chunk_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        graft.multimodal.Multimodal.chunkSample(docs, "payload",
            everyN = 2, chunkBytes = 64)
          .select(col("doc_id"), col("chunk_idx"),
            col("chunk_bytes").cast("string").as("chunk_text"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""
        WITH c AS (
          SELECT doc_id, text,
            unnest(range(0, length(text) // 64, 2)) AS i
          FROM documents)
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
          substring(text, CAST(i * 64 + 1 AS BIGINT), 64) AS chunk_text
        FROM c
        ORDER BY 1, 2""")),

    // Multimodal: REAL JDK codec decode over golden fixtures
    // (src/main/resources/graft/fixtures) — ImageIoDecoder metadata
    // (width/height/channels/mean pixel) for three checked-in PNGs and
    // JavaSoundDecoder metadata (rate/frames/per-window energies) for a
    // checked-in WAV, plus the payload CRC32 proving the exact bytes
    // decoded. The oracle replays the goldens as constants: fixtures
    // are committed files, so the expected values are pinned, and the
    // decode itself runs DISTRIBUTED through the same mapPartitions
    // operators the unit suite covers (this is the north-star family's
    // driver-visible correctness row).
    GraftQuery(
      "q64_media_meta",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val mm = graft.multimodal.Multimodal
        def fixture(name: String): Array[Byte] = {
          val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
          require(in != null, s"missing golden fixture $name")
          try in.readAllBytes() finally in.close()
        }
        val schema = StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        def df(names: Seq[String]): DataFrame = s.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              names.map(n => Row(n, fixture(n)))).asJava),
          schema).repartition(2)
        val img = mm.withImageFeatures(
            df(Seq("img_gradient.png", "img_solid.png", "img_checker.png")),
            "payload", mm.ImageIoDecoder)
          .select(col("name"),
            col("image_features.width").as("width"),
            col("image_features.height").as("height"),
            col("image_features.channels").as("channels"),
            col("image_features.mean_pixel").as("mean_pixel"),
            lit(null).cast("int").as("sample_rate"),
            lit(null).cast("int").as("n_samples"),
            // a STRING, not array<double>: the driver's pandas compare
            // lexsorts every column and list-typed cells are unsortable
            lit("").as("energies_e9"),
            crc32(col("payload")).as("crc"))
        val aud = mm.withAudioFeatures(
            df(Seq("audio_ramp.wav")), "payload", mm.JavaSoundDecoder,
            windowSamples = 128)
          .select(col("name"),
            lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("int").as("channels"),
            lit(null).cast("double").as("mean_pixel"),
            col("audio_features.sample_rate").as("sample_rate"),
            col("audio_features.n_samples").as("n_samples"),
            // nano-quantized integers joined to one sortable string;
            // round() is HALF_UP in both engines for positive doubles
            concat_ws(",", transform(
              col("audio_features.window_energies").cast("array<double>"),
              e => round(e * lit(1e9)).cast("long").cast("string")))
              .as("energies_e9"),
            crc32(col("payload")).as("crc"))
        img.unionByName(aud).orderBy(col("name"))
      },
      Some("""
        SELECT * FROM (VALUES
          ('audio_ramp.wav', CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), 8000, 440,
           '251920760,197988823,217873544,308018953',
           CAST(3235884360 AS BIGINT)),
          ('img_checker.png', 16, 16, 4, 0.5e0, CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), '',
           CAST(1044419773 AS BIGINT)),
          ('img_gradient.png', 8, 6, 3, 0.42483660130718953e0,
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           '', CAST(3788437974 AS BIGINT)),
          ('img_solid.png', 5, 5, 3, 0.4000000000000001e0,
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           '', CAST(3529441795 AS BIGINT)))
          v(name, width, height, channels, mean_pixel, sample_rate,
            n_samples, energies_e9, crc)
        ORDER BY name""")),

    // Streaming SimHash near-duplicate detection, oracle-checked — the
    // last streaming path that was unit-only: documents replayed
    // through a file-source stream (the q46/q55 pattern), md5-portable
    // fingerprints (the q17/q25 hash family) through the stateful
    // banded flatMapGroupsWithState pipeline, parquet sink, read back.
    // With chunks = 4 > maxDistance = 3 the pigeonhole guarantees every
    // qualifying pair shares a bucket, and within one AvailableNow
    // micro-batch every bucket member is compared against all earlier
    // arrivals, so after collapsing the documented at-least-once
    // emission (once per shared chunk) the sink holds EXACTLY the
    // all-pairs Hamming result — the same oracle as q25. Event time is
    // synthesized from doc_id (+1s origin: rows at the initial
    // watermark are dropped).
    GraftQuery(
      "q65_streaming_simhash",
      (s, dir) => {
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q65_src_")
        val staged = srcDir.resolve("documents.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/documents.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/documents.parquet").schema)
          .parquet(srcDir.toString)
        val fp = src
          .select(col("doc_id"),
            transform(
              split(graft.text.TextStats.normalize(col("text")), " "),
              tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"))
              .as("__hashes"),
            timestamp_micros((col("doc_id") + 1) * lit(1000000L)).as("ts"))
          .select(col("doc_id"),
            graft.functions.functions.simhash64(col("__hashes")).as("__fp"),
            col("ts"))
        val pairs = graft.streaming.Streaming
          .streamingSimhashNearDuplicatesFromFingerprints(
            fp, "doc_id", "__fp", "ts", maxDistance = 3, chunks = 4,
            watermark = "0 seconds", maxBucketState = 100000)
        val out = java.nio.file.Files
          .createTempDirectory("graft_q65_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q65_ckpt_").toString
        // state partitioning sized to the small in-flight state, not
        // the session's batch shuffle width (see withShufflePartitions)
        withShufflePartitions(s, 8) {
          pairs.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .distinct()
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
            unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        h AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        votes AS (
          SELECT doc_id, b.range AS bit,
            SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h CROSS JOIN range(0, 60) b
          GROUP BY doc_id, b.range),
        fp AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
              AS simhash
          FROM votes GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY 1, 2""")),

    // IVF approximate top-k with nProbe < nCells, served from the
    // PREPARED on-disk index (sim/Similarity.writeIvfIndex: assigned
    // rows partitioned by cell, so the 4-of-16-cell probe is real
    // partition pruning — the ~nCells/nProbe scan reduction a 100 TB
    // corpus depends on). q26 proves the exhaustive case; this pins the
    // APPROXIMATE path exactly: centroids are the first 16 embeddings
    // (cell = vec_id, engine-replayable), so DuckDB replays the
    // assignment argmax, the per-query probe ranking, and the pruned
    // top-k — approximate recall as an equality check, not a bound.
    GraftQuery(
      "q66_ivf_probe",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = ivfIndexFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfTopK(index, queries, k = 10, nProbe = 4)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c) WHERE rn <= 4),
        s AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q
          JOIN probes USING (query_id)
          JOIN assign ON assign.cell = probes.cell
          JOIN e ON e.vec_id = assign.vec_id)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
          FROM s)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // The full S3 export pipeline (records/TfRecords.dfToTfRecord:
    // vocab emission → spec projection → one hash exchange on a per-row
    // rand key, sorted within partitions → gzip TFRecord part files →
    // listing),
    // oracle-checked end-to-end: the export is read back through the
    // DSv2 source and must hold exactly the source rows (the oracle
    // compare is content-based over sorted rows, so the shuffle's
    // reordering is invisible — losslessness is what's pinned). The
    // emitted lang vocabulary is folded into the same result:
    // every read-back row's lang must appear in the .voc file
    // (lang_in_vocab, all true) and the file's cardinality must equal
    // COUNT(DISTINCT lang) (vocab_size, via a constant-key broadcast
    // scalar join — no BNLJ).
    GraftQuery(
      "q67_export_pipeline",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val base = java.nio.file.Files
          .createTempDirectory("graft_q67_").toString
        val specs: graft.types.FeatureSpec.Specs = Map(
          "doc_id" -> graft.types.FixedLenFeature(Nil, graft.types.FeatureDType.Int64),
          "text" -> graft.types.FixedLenFeature(Nil, graft.types.FeatureDType.TfString),
          "lang" -> graft.types.FixedLenFeature(Nil, graft.types.FeatureDType.TfString))
        graft.records.TfRecords.dfToTfRecord(docs, specs, base,
          vocabColumns = Seq("lang"), threshold = 0, seed = Some(7L),
          requireHdfs = false)
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("text", StringType, nullable = false),
          StructField("lang", StringType, nullable = false)))
        val back = s.read.format("tfrecord").schema(schema)
          .option("codec", "gzip").load(s"$base/tf_records")
        val vocab = s.read.textFile(s"$base/col_cardinalities/lang.voc")
          .toDF("lang").withColumn("lang_in_vocab", lit(true))
        graft.core.Scalars.withScalars(
          back.join(broadcast(vocab), Seq("lang"), "left")
            .withColumn("lang_in_vocab",
              coalesce(col("lang_in_vocab"), lit(false))),
          vocab.agg(count(lit(1)).as("vocab_size")))
          .select(col("doc_id"), col("text"), col("lang"),
            col("lang_in_vocab"), col("vocab_size"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, text, lang, TRUE AS lang_in_vocab,
          (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents)
            AS vocab_size
        FROM documents ORDER BY doc_id""")),

    // Corpus-wide LINE dedup (dedup/LineDedup) — the C4 boilerplate
    // removal step: a line survives iff it is the first corpus-wide
    // occurrence of its content (ordered by doc_id, line index), docs
    // reassembled in order, gutted docs kept with empty text. The
    // corpus has no natural newlines, so both engines derive the same
    // synthetic lines first (consecutive 2-token windows joined by
    // "\n") and then the oracle replays keep-first as a window
    // row_number — the aggregate min-struct form and the window form
    // are the same answer, computed shuffle-cheap vs sort-heavy.
    GraftQuery(
      "q68_line_dedup",
      (s, dir) => {
        val toks = split(col("text"), " ")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            array_join(
              transform(
                sequence(lit(0),
                  ((size(toks) - lit(1)) / lit(2)).cast("int")),
                i => array_join(
                  slice(toks, i * lit(2) + lit(1), lit(2)), " ")),
              "\n").as("text"))
        graft.dedup.LineDedup.dedupLines(docs, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        l AS (
          SELECT doc_id,
            list_transform(range(0, (len(toks) + 1) // 2),
              i -> array_to_string(toks[i*2+1 : i*2+2], ' ')) AS lines
          FROM d),
        ln AS (
          SELECT doc_id,
            unnest(range(0, len(lines))) AS idx,
            unnest(lines) AS line
          FROM l),
        ranked AS (
          SELECT doc_id, idx, line,
            ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
          FROM ln),
        keep AS (
          SELECT doc_id,
            string_agg(line, chr(10) ORDER BY idx) AS text_dedup,
            COUNT(*) AS n_lines_after
          FROM ranked WHERE rn = 1 GROUP BY doc_id)
        SELECT l.doc_id,
          COALESCE(k.text_dedup, '') AS text_dedup,
          CAST(len(l.lines) AS BIGINT) AS n_lines_before,
          CAST(COALESCE(k.n_lines_after, 0) AS BIGINT) AS n_lines_after
        FROM l LEFT JOIN keep k USING (doc_id)
        ORDER BY l.doc_id""")),

    // Character-level near-dup (dedup/Dedup.editDistanceNearDuplicates):
    // SimHash-banded candidates (hamming <= 7 over 8 chunks —
    // pigeonhole-complete for the bound) verified by EXACT Levenshtein
    // distance <= 10 over normalized text. Both stages are part of the
    // result contract, so the oracle replays the conjunction: the
    // md5-portable fingerprint pipeline (as q17/q25/q65) all-pairs
    // Hamming filter AND DuckDB's levenshtein. The Spark side uses the
    // thresholded banded-DP levenshtein; at sf0.01 the edit bound
    // keeps 23 of 345 fingerprint candidates — both stages bite.
    GraftQuery(
      "q69_edit_distance_neardup",
      (s, dir) => {
        val fp = t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            transform(
              split(graft.text.TextStats.normalize(col("text")), " "),
              tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"))
              .as("__hashes"))
          .withColumn("__fp",
            graft.functions.functions.simhash64(col("__hashes")))
          .drop("__hashes")
        graft.dedup.Dedup.editDistanceNearDuplicatesFromFingerprints(
          fp, "doc_id", "__fp", "text",
          maxEdits = 10, maxDistance = 7, chunks = 8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
            unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        h AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        votes AS (
          SELECT doc_id, b.range AS bit,
            SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h CROSS JOIN range(0, 60) b
          GROUP BY doc_id, b.range),
        fp AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
              AS simhash
          FROM votes GROUP BY doc_id),
        n AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents),
        cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 7)
        SELECT c.id_a, c.id_b, c.hamming,
          CAST(levenshtein(na.t, nb.t) AS INTEGER) AS edits
        FROM cand c
        JOIN n na ON na.doc_id = c.id_a
        JOIN n nb ON nb.doc_id = c.id_b
        WHERE levenshtein(na.t, nb.t) <= 10
        ORDER BY 1, 2""")),

    // Per-stratum token-budget selection (Mixing.sampleToTokenBudget) —
    // the Pile/DoReMi budget-mix: each language contributes documents
    // in stable KrHash order (the q52-replayable hash, salt 'mix1')
    // until its char budget fills; a document survives iff the
    // language's running inclusive total stays within budget. The
    // engine computes the running total with the Packing-style
    // two-level scan; DuckDB replays it as the equivalent plain
    // per-stratum window cumsum. Budgets bite in every language at
    // both verify SFs. cum_tokens is emitted as the audit trail.
    GraftQuery(
      "q70_token_budget_mix",
      (s, dir) => {
        val budgets = {
          import s.implicits._
          Seq(("en", 30000L), ("de", 12000L), ("es", 12000L),
            ("fr", 12000L), ("zh", 12000L)).toDF("lang", "budget")
        }
        graft.operators.Mixing.sampleToTokenBudget(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "doc_id", "n_chars", budgets, salt = "mix1")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH s AS (
          SELECT doc_id, lang, n_chars,
            CAST(doc_id AS VARCHAR) || ':mix1' AS k
          FROM documents),
        h AS (
          SELECT doc_id, lang, n_chars,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(k) + 1),
                i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM s),
        o AS (
          SELECT doc_id, lang, n_chars,
            ((hh * hh) % 2147483647) % 1048576 AS ord
          FROM h),
        c AS (
          SELECT doc_id, lang, n_chars,
            SUM(n_chars) OVER (PARTITION BY lang ORDER BY ord, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM o),
        b AS (SELECT * FROM (VALUES
          ('en', 30000), ('de', 12000), ('es', 12000),
          ('fr', 12000), ('zh', 12000)) v(lang, budget))
        SELECT c.doc_id, c.lang, c.n_chars,
          CAST(c.cum AS BIGINT) AS cum_tokens
        FROM c JOIN b USING (lang)
        WHERE c.cum <= b.budget
        ORDER BY c.doc_id""")),

    // Exact tie-aware ROC-AUC per group (eval/Ranking.rocAuc) — the
    // Mann–Whitney form over a (group, score) histogram: shuffle
    // carries DISTINCT scores (the Quantiles shape), the numerator is
    // all-integer (ties count half via the 2N+n trick), and ONE IEEE
    // divide emits the value, so DuckDB replays it bit-for-bit.
    // Scores are a deterministic integer hash of doc_id (heavy ties —
    // the tie path is load-bearing), labels lang='en', grouped by
    // source (20 groups, both classes present in each at sf0.01/0.1).
    GraftQuery(
      "q71_roc_auc",
      (s, dir) =>
        graft.eval.Ranking.rocAuc(
          t(s, dir, "documents")
            .select(col("source"),
              pmod(col("doc_id") * lit(37L), lit(101L)).cast("double")
                .as("score"),
              when(col("lang") === "en", 1).otherwise(0).as("label")),
          "score", "label", groupCols = Seq("source"))
          .orderBy(col("source")),
      Some("""
        WITH b AS (
          SELECT source,
            CAST((doc_id * 37) % 101 AS DOUBLE) AS s,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        hist AS (
          SELECT source, s,
            CAST(SUM(y) AS BIGINT) AS p,
            CAST(SUM(1 - y) AS BIGINT) AS n
          FROM b GROUP BY source, s),
        c AS (
          SELECT source, p, n,
            SUM(n) OVER (PARTITION BY source ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cumn
          FROM hist),
        agg AS (
          SELECT source,
            CAST(SUM(p * (2 * cumn + n)) AS BIGINT) AS num,
            CAST(SUM(p) AS BIGINT) AS n_pos,
            CAST(SUM(n) AS BIGINT) AS n_neg
          FROM c GROUP BY source)
        SELECT source,
          CASE WHEN n_pos > 0 AND n_neg > 0
               THEN CAST(num AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
          END AS auc,
          n_pos, n_neg
        FROM agg ORDER BY source""")),

    // T5-style span corruption (text/SpanCorrupt): 30% of 3-token
    // spans masked per document by the KrHash bucket of (doc_id#span),
    // salt 'c1' — mask decisions, sentinel numbering, and both
    // assembled strings are pure functions of the inputs, so DuckDB
    // replays the exact (input, target) pair set: same span windows
    // (q68's range/unnest zip), same hash fold (q52), same exclusive
    // running count for <extra_id_k>, same ordered reassembly.
    GraftQuery(
      "q72_span_corrupt",
      (s, dir) =>
        graft.text.SpanCorrupt.spanCorrupt(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", maskRate = 0.3, spanLen = 3, salt = "c1")
          .orderBy(col("doc_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        sp AS (
          SELECT doc_id,
            unnest(range(0, (len(toks) + 2) // 3)) AS j,
            unnest(list_transform(range(0, (len(toks) + 2) // 3),
              j -> array_to_string(toks[j*3+1 : j*3+3], ' '))) AS span
          FROM d),
        k AS (
          SELECT doc_id, j, span,
            CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR) || ':c1'
              AS key
          FROM sp),
        h AS (
          SELECT doc_id, j, span,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(key) + 1),
                i -> CAST(ord(substr(key, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM k),
        m AS (
          SELECT doc_id, j, span,
            ((hh * hh) % 2147483647) % 1000000 < 300000 AS masked
          FROM h),
        n AS (
          SELECT doc_id, j, span, masked,
            SUM(CASE WHEN masked THEN 1 ELSE 0 END) OVER
              (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - CASE WHEN masked THEN 1 ELSE 0 END AS kk
          FROM m)
        SELECT doc_id,
          string_agg(CASE WHEN masked THEN '<extra_id_' || kk || '>'
                          ELSE span END, ' ' ORDER BY j) AS input_text,
          COALESCE(string_agg(
            CASE WHEN masked THEN '<extra_id_' || kk || '> ' || span END,
            ' ' ORDER BY j), '') AS target_text,
          CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
            AS n_masked
        FROM n GROUP BY doc_id ORDER BY doc_id""")),

    // TF event-log source (eval/Events, reference S7) over a golden
    // fixture — the last reference source that was unit-only: a
    // checked-in events.out.tfevents file (Event protos in an
    // uncompressed TFRecord stream) staged into a model dir, parsed by
    // the native proto subset reader into the tidy (step, name, value)
    // table. The oracle pins the goldens as constants; the no-value
    // event in the fixture must be dropped (proto3 elides 0.0, the
    // reference's `if value.simple_value:` behavior).
    GraftQuery(
      "q73_event_log_metrics",
      (s, dir) => {
        val modelDir = java.nio.file.Files
          .createTempDirectory("graft_q73_model_")
        val in = getClass.getResourceAsStream(
          "/graft/fixtures/events.out.tfevents.golden")
        require(in != null, "missing golden event-file fixture")
        try java.nio.file.Files.copy(in,
          modelDir.resolve("events.out.tfevents.golden"))
        finally in.close()
        graft.eval.Events
          .getAllMetrics(s, modelDir.toString, requireHdfs = false)
          .orderBy(col("step"), col("name"))
      },
      Some("""
        SELECT * FROM (VALUES
          (CAST(10 AS BIGINT), 'auc',  0.6100000143051147e0),
          (CAST(10 AS BIGINT), 'loss', 2.75e0),
          (CAST(20 AS BIGINT), 'auc',  0.7400000095367432e0),
          (CAST(20 AS BIGINT), 'loss', 1.5e0),
          (CAST(30 AS BIGINT), 'auc',  0.8299999833106995e0),
          (CAST(30 AS BIGINT), 'loss', 0.875e0))
          v(step, name, value)
        ORDER BY step, name""")),

    // Size-preserving temperature remix WITH repeats (operators/Mixing
    // .mixByTemperatureWithRepeats): the DoReMi/Pile reweighting form —
    // rare sources get rate > 1 and are upsampled by document
    // REPETITION (floor(rate) copies + a deterministic fractional
    // extra), dominant sources downsample, expected total row count
    // preserved. The rate normalizer Σ_t p_t^α is a SEQUENTIAL fold
    // over strata in UTF-8 order (order-dependent IEEE sum made
    // deterministic), which DuckDB replays as an ordered list_reduce;
    // everything else is the q42 arithmetic (sqrt + single divides +
    // the portable affine-mod uniform), so the exact multiset of
    // (doc_id, copy) rows matches.
    GraftQuery(
      "q74_upsample_mix",
      (s, dir) =>
        graft.operators.Mixing.mixByTemperatureWithRepeats(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", alpha = 0.5, seed = 41L)
          .orderBy(col("doc_id"), col("copy")),
      Some("""
        WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n FROM counts),
        r AS (
          SELECT source, n,
            CAST(n AS DOUBLE) / total_n AS share,
            sqrt(CAST(n AS DOUBLE) / total_n) AS w
          FROM counts, tot),
        den AS (
          SELECT list_reduce(list_prepend(0e0, list(w ORDER BY source)),
            (a, b) -> a + b) AS d
          FROM r),
        rates AS (SELECT source, (w / share) / d AS rate FROM r, den),
        base AS (
          SELECT d.doc_id, d.source, rate, floor(rate) AS fl,
            (CAST(((((d.doc_id % 2147483647) * 1103515245 + 41) % 2147483647)
                    * 784588716 + 997) % 2147483647 AS DOUBLE) + 0.5e0)
              / 2147483647e0 AS u
          FROM documents d JOIN rates USING (source)),
        nc AS (
          SELECT doc_id, source,
            CAST(fl AS BIGINT)
              + CASE WHEN u < rate - fl THEN 1 ELSE 0 END AS n_copies
          FROM base)
        SELECT doc_id, source, unnest(range(0, n_copies)) AS copy
        FROM nc ORDER BY doc_id, copy""")),

    // Exact per-stratum k-sample (operators/Sampling.sampleExactK):
    // exactly min(k, |stratum|) docs per source, the k smallest in the
    // salted Karp-Rabin hash order of doc_id. Engine-side it's a
    // bounded-heap aggregate (TopKAggregator — partial truncation to k
    // BEFORE the shuffle, never a full-stratum window sort); DuckDB
    // replays the selection as the row_number window it is equivalent
    // to, over the same replayed hash (q52's fold + square).
    GraftQuery(
      "q75_exact_k_sample",
      (s, dir) =>
        graft.operators.Sampling.sampleExactK(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", k = 5, salt = "v1")
          .orderBy(col("doc_id")),
      Some("""
        WITH s AS (
          SELECT doc_id, source,
            CAST(doc_id AS VARCHAR) || ':v1' AS k
          FROM documents),
        h AS (
          SELECT doc_id, source,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(k) + 1),
                i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM s),
        b AS (
          SELECT doc_id, source,
            ((hh * hh) % 2147483647) % 1048576 AS bk
          FROM h),
        r AS (
          SELECT doc_id, source,
            row_number() OVER (PARTITION BY source ORDER BY bk, doc_id) AS rn
          FROM b)
        SELECT doc_id, source FROM r WHERE rn <= 5 ORDER BY doc_id""")),

    // Precision/recall/F1 threshold sweep (eval/Ranking.prCurve) over
    // the same scored table as q71: one operating point per (source,
    // distinct score), classify positive iff score >= threshold.
    // tp/fp/fn are exact-integer cumulative windows over the score
    // histogram (descending for tp/fp, whole-partition for n_pos);
    // precision/recall/f1 are each ONE integer-operand IEEE divide, so
    // the entire table is bit-identical in DuckDB.
    GraftQuery(
      "q76_pr_curve",
      (s, dir) =>
        graft.eval.Ranking.prCurve(
          t(s, dir, "documents")
            .select(col("source"),
              pmod(col("doc_id") * lit(37L), lit(101L)).cast("double")
                .as("score"),
              when(col("lang") === "en", 1).otherwise(0).as("label")),
          "score", "label", groupCols = Seq("source"))
          .orderBy(col("source"), col("threshold")),
      Some("""
        WITH b AS (
          SELECT source,
            CAST((doc_id * 37) % 101 AS DOUBLE) AS s,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        hist AS (
          SELECT source, s,
            CAST(SUM(y) AS BIGINT) AS p,
            CAST(SUM(1 - y) AS BIGINT) AS n
          FROM b GROUP BY source, s),
        c AS (
          SELECT source, s, p, n,
            SUM(p) OVER (PARTITION BY source ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
            SUM(n) OVER (PARTITION BY source ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
            SUM(p) OVER (PARTITION BY source) AS npos
          FROM hist)
        SELECT source, s AS threshold,
          CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
          CAST(npos - tp AS BIGINT) AS fn,
          CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
          CASE WHEN npos > 0
               THEN CAST(tp AS DOUBLE) / CAST(npos AS DOUBLE) END AS recall,
          CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + (npos - tp) AS DOUBLE)
            AS f1
        FROM c ORDER BY source, threshold""")),

    // Best-k per stratum by a quality score (operators/Sampling
    // .topKByScore): the 5 longest documents per source, ties to the
    // smaller doc_id — bounded-heap aggregate engine-side (k rows per
    // stratum per partition cross the shuffle), a row_number window in
    // the oracle (the equivalence IS the check).
    GraftQuery(
      "q77_topk_by_score",
      (s, dir) =>
        graft.operators.Sampling.topKByScore(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "doc_id", "n_chars", k = 5)
          .orderBy(col("doc_id")),
      Some("""
        WITH r AS (
          SELECT doc_id, source, n_chars,
            row_number() OVER (PARTITION BY source
              ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
          FROM documents)
        SELECT doc_id, source, n_chars FROM r WHERE rn <= 5
        ORDER BY doc_id""")),

    // Cohen's kappa (eval/Ranking.cohensKappa) between a threshold
    // classifier on the q71 score and the lang='en' labels, per
    // source: exact 64-bit-integer confusion arithmetic with one final
    // divide — κ's textbook (p_o−p_e)/(1−p_e) in its integer-rational
    // form, bit-identical in DuckDB.
    GraftQuery(
      "q78_cohens_kappa",
      (s, dir) =>
        graft.eval.Ranking.cohensKappa(
          t(s, dir, "documents")
            .select(col("source"),
              when(pmod(col("doc_id") * lit(37L), lit(101L)) >= 50, 1)
                .otherwise(0).as("pred"),
              when(col("lang") === "en", 1).otherwise(0).as("gold")),
          "pred", "gold", groupCols = Seq("source"))
          .orderBy(col("source")),
      Some("""
        WITH b AS (
          SELECT source,
            CASE WHEN (doc_id * 37) % 101 >= 50 THEN 1 ELSE 0 END AS a,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        cm AS (
          SELECT source,
            CAST(SUM(a * y) AS BIGINT) AS n11,
            CAST(SUM(a * (1 - y)) AS BIGINT) AS n10,
            CAST(SUM((1 - a) * y) AS BIGINT) AS n01,
            CAST(SUM((1 - a) * (1 - y)) AS BIGINT) AS n00
          FROM b GROUP BY source),
        k AS (
          SELECT source, n11 + n10 + n01 + n00 AS n,
            (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS ch,
            n11 + n00 AS diag
          FROM cm)
        SELECT source,
          CASE WHEN n * n <> ch
               THEN CAST(n * diag - ch AS DOUBLE) / CAST(n * n - ch AS DOUBLE)
          END AS kappa,
          CAST(n AS BIGINT) AS n
        FROM k ORDER BY source""")),

    // Corpus drift report (text/Drift.tokenKlContributions): per-token
    // KL(en ‖ non-en) contributions over the union vocabulary, add-one
    // smoothed, probabilities in Q20 fixed point and log2 via the
    // integer square-and-shift expression — every contribution an
    // exact 64-bit integer (Q40), order-independent, replayed in
    // DuckDB with the q48/q49 recursive-CTE log2 on both sides.
    GraftQuery(
      "q79_kl_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.text.Drift.tokenKlContributions(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"),
          "text")
          .orderBy(col("contrib_q40").desc, col("token"))
      },
      Some("""
        WITH RECURSIVE ta AS (
          SELECT unnest(list_filter(
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS token
          FROM documents WHERE lang = 'en'),
        tb AS (
          SELECT unnest(list_filter(
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS token
          FROM documents WHERE lang <> 'en'),
        ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY 1),
        cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY 1),
        j AS (
          SELECT COALESCE(ca.token, cb.token) AS token,
            COALESCE(c_a, 0) AS n_a, COALESCE(c_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        tot AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS na,
            CAST(SUM(n_b) AS BIGINT) AS nb, COUNT(*) AS v
          FROM j),
        sq AS (
          SELECT token, n_a, n_b,
            greatest(((n_a + 1) * 1048576) // (na + v), 1) AS sa,
            greatest(((n_b + 1) * 1048576) // (nb + v), 1) AS sb
          FROM j, tot),
        stack AS (
          SELECT token, 0 AS side, sa AS s FROM sq
          UNION ALL SELECT token, 1, sb FROM sq),
        norm AS (
          SELECT token, side, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM stack),
        iter(token, side, bl, i, m, frac) AS (
          SELECT token, side, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT token, side, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20),
        ltab AS (SELECT token, side, (bl - 21) * 1048576 + frac AS l
                 FROM iter WHERE i = 20),
        la AS (SELECT token, l FROM ltab WHERE side = 0),
        lb AS (SELECT token, l FROM ltab WHERE side = 1)
        SELECT j.token, CAST(j.n_a AS BIGINT) AS n_a,
          CAST(j.n_b AS BIGINT) AS n_b,
          CAST(sq.sa * (la.l - lb.l) AS BIGINT) AS contrib_q40
        FROM j JOIN sq ON j.token = sq.token
          JOIN la ON j.token = la.token
          JOIN lb ON j.token = lb.token
        ORDER BY contrib_q40 DESC, j.token""")),

    // Reliability/calibration table (eval/Ranking.calibrationTable)
    // over integer-quantized predictions (the quantize-first contract):
    // per (source, bin) counts, empirical positive rate, mean predicted
    // probability and gap — integer sums + one divide each, so every
    // cell replays bit-exactly.
    GraftQuery(
      "q80_calibration",
      (s, dir) =>
        graft.eval.Ranking.calibrationTable(
          t(s, dir, "documents")
            .select(col("source"),
              pmod(col("doc_id") * lit(37L), lit(101L)).as("pq"),
              when(col("lang") === "en", 1).otherwise(0).as("label")),
          "pq", scale = 100L, "label", bins = 10,
          groupCols = Seq("source"))
          .orderBy(col("source"), col("bin")),
      Some("""
        WITH b AS (
          SELECT source, (doc_id * 37) % 101 AS q,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        bb AS (SELECT source, least((q * 10) // 100, 9) AS bin, q, y FROM b),
        agg AS (
          SELECT source, bin, COUNT(*) AS n,
            CAST(SUM(y) AS BIGINT) AS n_pos, CAST(SUM(q) AS BIGINT) AS sq
          FROM bb GROUP BY source, bin)
        SELECT source, CAST(bin AS BIGINT) AS bin, n, n_pos,
          CAST(sq AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS mean_pred,
          CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
          CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(sq AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS gap
        FROM agg ORDER BY source, bin""")),

    // Calibration summary scalars (eval/Ranking.calibrationSummary)
    // over the same quantized predictions as q80: per source, ECE
    // (the weighted |gap| telescopes to an exact integer sum over
    // bins / one divide), MCE (max of per-bin exact divides), and
    // Brier score (integer Σ(q−scale·y)² / one divide) — every value
    // bit-replayable.
    GraftQuery(
      "q81_calibration_summary",
      (s, dir) =>
        graft.eval.Ranking.calibrationSummary(
          t(s, dir, "documents")
            .select(col("source"),
              pmod(col("doc_id") * lit(37L), lit(101L)).as("pq"),
              when(col("lang") === "en", 1).otherwise(0).as("label")),
          "pq", scale = 100L, "label", bins = 10,
          groupCols = Seq("source"))
          .orderBy(col("source")),
      Some("""
        WITH b AS (
          SELECT source, (doc_id * 37) % 101 AS q,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        bb AS (SELECT source, least((q * 10) // 100, 9) AS bin, q, y FROM b),
        agg AS (
          SELECT source, bin, COUNT(*) AS n,
            CAST(SUM(y) AS BIGINT) AS np, CAST(SUM(q) AS BIGINT) AS sq,
            CAST(SUM((q - 100 * y) * (q - 100 * y)) AS BIGINT) AS sq2
          FROM bb GROUP BY source, bin)
        SELECT source, CAST(SUM(n) AS BIGINT) AS n,
          CAST(SUM(ABS(100 * np - sq)) AS DOUBLE)
            / CAST(SUM(n) * 100 AS DOUBLE) AS ece,
          MAX(CAST(ABS(100 * np - sq) AS DOUBLE)
            / CAST(n * 100 AS DOUBLE)) AS mce,
          CAST(SUM(sq2) AS DOUBLE)
            / CAST(SUM(n) * 10000 AS DOUBLE) AS brier
        FROM agg GROUP BY source ORDER BY source""")),

    // Exact-count deterministic split (operators/Splits.splitExactCounts):
    // per source, train/val/test sizes are exactly the cumulative-floor
    // differences n·cumW//W over integer weights 8/1/1, rows ranked by
    // the replayable salted KrHash bucket (q52/q75's hash) then id —
    // layout-independent and bit-replayable as a row_number window.
    GraftQuery(
      "q82_split_exact",
      (s, dir) =>
        graft.operators.Splits.splitExactCounts(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          Seq("train" -> 8L, "val" -> 1L, "test" -> 1L), salt = "v1")
          .orderBy(col("doc_id")),
      Some("""
        WITH s AS (
          SELECT doc_id, source,
            CAST(doc_id AS VARCHAR) || ':v1' AS k
          FROM documents),
        h AS (
          SELECT doc_id, source,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(k) + 1),
                i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM s),
        r AS (
          SELECT doc_id, source,
            row_number() OVER (PARTITION BY source
              ORDER BY ((hh * hh) % 2147483647) % 1048576, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY source) AS n
          FROM h)
        SELECT doc_id, source,
          CASE WHEN rn <= (n * 8) // 10 THEN 'train'
               WHEN rn <= (n * 9) // 10 THEN 'val'
               ELSE 'test' END AS split
        FROM r ORDER BY doc_id""")),

    // Pipeline funnel report (text/Funnel.funnelReport): per-stage
    // doc/token survival with FIRST-failing-stage attribution over the
    // q60 gopher rules run as an ordered pipeline. The corpus reduces
    // to <= nStages+1 rows in one aggregate; in/out columns are exact
    // integer cumulative windows over that tiny table, so every cell
    // replays bit-exactly.
    GraftQuery(
      "q83_funnel",
      (s, dir) => {
        val rules = graft.text.QualityFilter.gopherRules(col("text"),
          minWords = 30, maxWords = 90)
        graft.text.Funnel.funnelReport(
          t(s, dir, "documents"), rules,
          graft.text.TextStats.tokenCount(col("text")))
          .orderBy(col("stage_idx"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
        s AS (
          SELECT len(ts) AS wc,
            CAST(len(text) - (len(ts) - 1) AS DOUBLE) / len(ts) AS ml,
            CAST(len(list_filter(ts, t -> list_contains(
              ['the','a','an','and','or','of','to','in','is','are','was',
               'it','that','this','for','on','with','as','at','by'], t)))
              AS DOUBLE) / len(ts) AS sr
          FROM d),
        f AS (
          SELECT wc,
            CASE WHEN wc < 30 THEN 0
                 WHEN wc > 90 THEN 1
                 WHEN ml < 3.0e0 OR ml > 10.0e0 THEN 2
                 WHEN sr < 0.06e0 THEN 3
                 ELSE 4 END AS ff
          FROM s),
        a AS (
          SELECT ff, CAST(COUNT(*) AS BIGINT) AS nd,
            CAST(SUM(wc) AS BIGINT) AS nt
          FROM f GROUP BY ff),
        st AS (SELECT * FROM (VALUES
          (0, 'too_few_words'), (1, 'too_many_words'),
          (2, 'mean_word_length'), (3, 'low_stopword_ratio'))
          AS t(stage_idx, stage)),
        tot AS (
          SELECT CAST(SUM(nd) AS BIGINT) AS totd,
            CAST(SUM(nt) AS BIGINT) AS tott
          FROM a),
        j AS (
          SELECT st.stage_idx, st.stage,
            COALESCE(a.nd, 0) AS dd, COALESCE(a.nt, 0) AS dt
          FROM st LEFT JOIN a ON st.stage_idx = a.ff),
        c AS (
          SELECT stage_idx, stage, dd, dt,
            COALESCE(SUM(dd) OVER (ORDER BY stage_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cdd,
            COALESCE(SUM(dt) OVER (ORDER BY stage_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cdt
          FROM j)
        SELECT CAST(c.stage_idx AS BIGINT) AS stage_idx, c.stage,
          CAST(tot.totd - c.cdd AS BIGINT) AS docs_in,
          CAST(c.dd AS BIGINT) AS docs_dropped,
          CAST(tot.totd - c.cdd - c.dd AS BIGINT) AS docs_out,
          CAST(tot.tott - c.cdt AS BIGINT) AS tokens_in,
          CAST(c.dt AS BIGINT) AS tokens_dropped,
          CAST(tot.tott - c.cdt - c.dt AS BIGINT) AS tokens_out
        FROM c, tot ORDER BY stage_idx""")),

    // Deterministic systematic PPS sampling (operators/Sampling
    // .samplePps): exactly k=10 picks per source distributed
    // proportionally to token-count weight, rows ordered by the
    // replayable salted KrHash; n_picks is the all-integer
    // floor-difference of pick-points in each row's weight interval,
    // replayed as two cumulative windows.
    GraftQuery(
      "q84_pps_sample",
      (s, dir) =>
        graft.operators.Sampling.samplePps(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            graft.text.TextStats.tokenCount(col("text")).cast("long").as("w")),
          "source", "doc_id", "w", k = 10, salt = "v1")
          .orderBy(col("doc_id")),
      Some("""
        WITH s AS (
          SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
            CAST(doc_id AS VARCHAR) || ':v1' AS kk
          FROM documents),
        h AS (
          SELECT doc_id, source, w,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(kk) + 1),
                i -> CAST(ord(substr(kk, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM s),
        c AS (
          SELECT doc_id, source, w,
            SUM(w) OVER (PARTITION BY source
              ORDER BY ((hh * hh) % 2147483647) % 1048576, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
            SUM(w) OVER (PARTITION BY source) AS tw
          FROM h)
        SELECT doc_id, source, w,
          CAST((cw * 10) // tw - ((cw - w) * 10) // tw AS BIGINT) AS n_picks
        FROM c
        WHERE (cw * 10) // tw - ((cw - w) * 10) // tw >= 1
        ORDER BY doc_id""")),

    // HTML → visible text (text/Boilerplate.stripHtml): the web-corpus
    // ingestion step. Each document is deterministically wrapped in a
    // fixed HTML shell (script block with a bare `<`, style block,
    // comment, entities incl. a double-encoded `&amp;lt;` case) and the
    // operator must recover exactly the visible text. Map-only regex
    // chain in the Java∩RE2 subset; the oracle replays the identical
    // chain with DuckDB's RE2.
    GraftQuery(
      "q85_strip_html",
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>"), col("source"),
          lit("</title><style type=\"text/css\"> p { margin: 0; } " +
            "</style><script> if (1 < 2) { document.write(\"&nbsp;\"); } " +
            "</script></head><body><!-- nav --><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"),
          lit(" &amp; more &lt;tags&gt; &quot;q&quot; " +
            "&#39;x&#39;</p></body></html>"))
        graft.text.Boilerplate.withStrippedHtml(
          t(s, dir, "documents").select(col("doc_id"), html.as("text")),
          "text")
          .select(col("doc_id"), col("text_clean"), col("n_chars_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            '<html><head><title>' || source ||
            '</title><style type="text/css"> p { margin: 0; } ' ||
            '</style><script> if (1 < 2) { document.write("&nbsp;"); } ' ||
            '</script></head><body><!-- nav --><h1>Doc ' ||
            CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
            ' &amp; more &lt;tags&gt; &quot;q&quot; ' ||
            '&#39;x&#39;</p></body></html>' AS html
          FROM documents),
        s AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              html,
              '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
              '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
              '<[^>]*>', ' ', 'g') AS t1
          FROM h),
        d AS (
          SELECT doc_id,
            replace(replace(replace(replace(replace(replace(t1,
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t2
          FROM s),
        c AS (
          SELECT doc_id,
            trim(regexp_replace(t2, '\s+', ' ', 'g')) AS text_clean
          FROM d)
        SELECT doc_id, text_clean,
          CAST(len(text_clean) AS BIGINT) AS n_chars_clean
        FROM c ORDER BY doc_id""")),

    // URL normalization + domain-policy filter (text/Urls): canonical
    // scheme/host/port/path/query/fragment policy, then subdomain-aware
    // blocklisting on the domain key. URLs are synthesized per doc_id
    // to cover every branch: mixed-case scheme/host, default and
    // non-default ports, trailing slashes, tracking params in first/
    // middle/last/only position, fragments. doc_id%7∈{3,5} lands on
    // blocked domains and must vanish. Map-only regexp algebra.
    GraftQuery(
      "q86_url_policy",
      (s, dir) => {
        val id = col("doc_id")
        val url = concat(
          when(pmod(id, lit(3)) === 0, "HTTP")
            .when(pmod(id, lit(3)) === 1, "https").otherwise("HtTpS"),
          lit("://WWW.Site"), pmod(id, lit(7)).cast("string"),
          lit(".Example.COM"),
          when(pmod(id, lit(3)) === 0, ":80")
            .when(pmod(id, lit(3)) === 1, ":443").otherwise(":8443"),
          lit("/Articles/"), col("source"),
          when(pmod(id, lit(2)) === 0, "/").otherwise(""),
          when(pmod(id, lit(4)) === 0,
            concat(lit("?utm_source=news&id="), id.cast("string"),
              lit("&utm_medium=email")))
            .when(pmod(id, lit(4)) === 1,
              concat(lit("?id="), id.cast("string"), lit("&gclid=abc")))
            .when(pmod(id, lit(4)) === 2, lit(""))
            .otherwise(lit("?utm_campaign=x")),
          when(pmod(id, lit(5)) === 0, "#section2").otherwise(""))
        val withUrl = t(s, dir, "documents").select(col("doc_id"),
          url.as("url"))
        graft.text.Urls.filterByDomainPolicy(withUrl, "url",
          Seq("site3.example.com", "site5.example.com"))
          .select(col("doc_id"),
            graft.text.Urls.normalizeUrl(col("url")).as("url_norm"),
            graft.text.Urls.domain(col("url")).as("domain"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
              ELSE 'HtTpS' END) ||
            '://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
            '.Example.COM' ||
            (CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
              ELSE ':8443' END) ||
            '/Articles/' || source ||
            (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
            (CASE doc_id % 4
              WHEN 0 THEN '?utm_source=news&id=' ||
                CAST(doc_id AS VARCHAR) || '&utm_medium=email'
              WHEN 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&gclid=abc'
              WHEN 2 THEN '' ELSE '?utm_campaign=x' END) ||
            (CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END)
              AS url
          FROM documents),
        p AS (
          SELECT doc_id,
            lower(regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
              1)) AS sch,
            regexp_replace(lower(regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
              2)), '^www\.', '') AS hp0,
            regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
              3) AS pth0,
            coalesce(regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
              4), '') AS q0
          FROM u),
        n AS (
          SELECT doc_id, sch,
            CASE WHEN sch = 'http' THEN regexp_replace(hp0, ':80$', '')
                 WHEN sch = 'https' THEN regexp_replace(hp0, ':443$', '')
                 ELSE hp0 END AS hp,
            CASE WHEN regexp_replace(pth0, '/+$', '') = '' THEN '/'
                 ELSE regexp_replace(pth0, '/+$', '') END AS pth,
            CASE WHEN regexp_replace(regexp_replace(q0,
                '(?i)[?&](utm_[a-z0-9_]+|gclid|fbclid|msclkid)=[^&#]*',
                '', 'g'), '^&', '?') = '?' THEN ''
              ELSE regexp_replace(regexp_replace(q0,
                '(?i)[?&](utm_[a-z0-9_]+|gclid|fbclid|msclkid)=[^&#]*',
                '', 'g'), '^&', '?') END AS qq
          FROM p),
        f AS (
          SELECT doc_id, sch || '://' || hp || pth || qq AS url_norm,
            regexp_replace(hp, ':[0-9]+$', '') AS domain
          FROM n)
        SELECT doc_id, url_norm, domain
        FROM f
        WHERE NOT (domain = 'site3.example.com'
          OR domain LIKE '%.site3.example.com'
          OR domain = 'site5.example.com'
          OR domain LIKE '%.site5.example.com')
        ORDER BY doc_id""")),

    // C4-style line-level boilerplate removal (text/Boilerplate
    // .cleanLines): keep lines with >=3 words that end in terminal
    // punctuation and mention no boilerplate marker. Each document is
    // extended with four synthetic boilerplate lines (javascript
    // notice, nav bar, legal footer, and an alternating fifth line
    // that is kept on even ids and too short on odd ids), so survival
    // varies per row. ArrayFilter HOF, map-only; the oracle replays
    // the predicate with DuckDB list_filter.
    GraftQuery(
      "q87_c4_lines",
      (s, dir) => {
        val doc = concat(
          col("text"),
          lit(".\nPlease enable JavaScript to continue.\n" +
            "Home | About | Contact\n© 2026 "),
          col("source"), lit(" All Rights Reserved.\n"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("Document "), col("doc_id").cast("string"),
              lit(" includes a closing sentence here.")))
            .otherwise(lit("Tiny line.")))
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.text.Boilerplate.cleanLines(doc).as("text_clean"))
          .withColumn("n_lines_kept",
            when(col("text_clean") === "", lit(0L))
              .otherwise(size(split(col("text_clean"), "\n")).cast("long")))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            text || '.' || chr(10) ||
            'Please enable JavaScript to continue.' || chr(10) ||
            'Home | About | Contact' || chr(10) ||
            '© 2026 ' || source || ' All Rights Reserved.' || chr(10) ||
            (CASE WHEN doc_id % 2 = 0 THEN 'Document ' ||
                CAST(doc_id AS VARCHAR) ||
                ' includes a closing sentence here.'
              ELSE 'Tiny line.' END) AS doc
          FROM documents),
        k AS (
          SELECT doc_id,
            array_to_string(list_filter(string_split(doc, chr(10)), l ->
              len(string_split(trim(l), ' ')) >= 3
              AND regexp_matches(trim(l), '[.!?]$')
              AND NOT contains(lower(trim(l)), 'javascript')
              AND NOT contains(lower(trim(l)), 'cookie')
              AND NOT contains(lower(trim(l)), 'all rights reserved')
              AND NOT contains(lower(trim(l)), 'terms of use')
              AND NOT contains(lower(trim(l)), '©')), chr(10))
              AS text_clean
          FROM d)
        SELECT doc_id, text_clean,
          CAST(CASE WHEN text_clean = '' THEN 0
            ELSE len(string_split(text_clean, chr(10))) END AS BIGINT)
            AS n_lines_kept
        FROM k ORDER BY doc_id""")),

    // Containment near-duplicates (dedup/Dedup.containmentNearDuplicates):
    // |A∩B| / min(|A|,|B|) over 3-gram shingle sets — the asymmetric
    // overlap measure that catches short-doc-inside-long-doc duplication
    // Jaccard dilutes. Posting-list self-join with the doc-frequency cap
    // replayed by the oracle; exact integer division → bit-equal doubles.
    GraftQuery(
      "q88_containment",
      (s, dir) =>
        graft.dedup.Dedup.containmentNearDuplicates(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text",
          shingleSize = 3, threshold = 0.4, maxDocFreq = 50)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH tok AS (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents WHERE doc_id < 500),
        t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(ts) - 1),
            i -> array_to_string(ts[i:i+2], ' '))) AS gs
          FROM tok WHERE len(ts) >= 3),
        p0 AS (SELECT doc_id, unnest(gs) AS g FROM t),
        rare AS (SELECT g FROM p0 GROUP BY g HAVING count(*) <= 50),
        keep AS (SELECT doc_id, g FROM p0 JOIN rare USING (g)),
        sz AS (SELECT doc_id, count(*) AS n FROM keep GROUP BY doc_id),
        sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS shared
               FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
        SELECT id_a, id_b,
          CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS containment
        FROM sh JOIN sz sa ON sh.id_a = sa.doc_id
          JOIN sz sb ON sh.id_b = sb.doc_id
        WHERE CAST(shared AS DOUBLE) / least(sa.n, sb.n) >= 0.4
        ORDER BY 1, 2""")),

    // Encoding-quality triage (text/Encoding.withEncodingQuality):
    // U+FFFD replacement chars, C0-control spill, and UTF-8-as-Latin-1
    // mojibake lead sequences, counted exactly. Corruption is
    // synthesized deterministically per doc_id%5 (replacement chars /
    // mojibake é+’ / control bytes / mojibake ñ / clean) so every
    // branch fires; the corpus text itself is pure ASCII at every SF.
    GraftQuery(
      "q89_encoding_quality",
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(5))
        val tail = when(m === 0, lit(" caf� tr�s bad"))
          .when(m === 1, lit(" cafÃ© donâ€™t"))
          .when(m === 2, lit(" xyz"))
          .when(m === 3, lit(" niÃ±o more"))
          .otherwise(lit(" clean tail."))
        graft.text.Encoding.withEncodingQuality(
          t(s, dir, "documents")
            .select(col("doc_id"), concat(col("text"), tail).as("text")),
          "text")
          .select(col("doc_id"), col("n_chars"), col("n_replacement"),
            col("n_control"), col("n_mojibake"), col("bad_char_frac"),
            col("enc_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text ||
            (CASE doc_id % 5
              WHEN 0 THEN ' caf' || chr(65533) || ' tr' || chr(65533) || 's bad'
              WHEN 1 THEN ' caf' || chr(195) || chr(169) || ' don' ||
                chr(226) || chr(8364) || chr(8482) || 't'
              WHEN 2 THEN ' x' || chr(1) || 'y' || chr(2) || 'z'
              WHEN 3 THEN ' ni' || chr(195) || chr(177) || 'o more'
              ELSE ' clean tail.' END) AS t
          FROM documents),
        c AS (
          SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
            CAST(len(t) - len(replace(t, chr(65533), '')) AS BIGINT)
              AS n_replacement,
            CAST(len(t) - len(regexp_replace(t,
              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT)
              AS n_control,
            CAST(
              (len(t) - len(replace(t, chr(195) || chr(169), ''))) // 2 +
              (len(t) - len(replace(t, chr(195) || chr(168), ''))) // 2 +
              (len(t) - len(replace(t, chr(195) || chr(160), ''))) // 2 +
              (len(t) - len(replace(t, chr(195) || chr(177), ''))) // 2 +
              (len(t) - len(replace(t, chr(195) || chr(188), ''))) // 2 +
              (len(t) - len(replace(t, chr(195) || chr(182), ''))) // 2 +
              (len(t) - len(replace(t, chr(226) || chr(8364), ''))) // 2 +
              (len(t) - len(replace(t, chr(194) || chr(160), ''))) // 2
              AS BIGINT) AS n_mojibake
          FROM d)
        SELECT doc_id, n_chars, n_replacement, n_control, n_mojibake,
          CASE WHEN n_chars = 0 THEN 0e0
            ELSE CAST(n_replacement + n_control AS DOUBLE) / n_chars END
            AS bad_char_frac,
          (n_replacement = 0 AND n_control = 0 AND n_mojibake = 0)
            AS enc_clean
        FROM c ORDER BY doc_id""")),

    // Corpus composition report (text/CorpusReport.report): per-source
    // plus grand-total doc/token/char counts and token extremes in ONE
    // ROLLUP aggregate — one scan + one shuffle however many levels,
    // vs a per-level union re-scanning the corpus. All-integer output;
    // GROUPING() disambiguates the total row.
    GraftQuery(
      "q90_corpus_report",
      (s, dir) =>
        graft.text.CorpusReport.report(
          t(s, dir, "documents"), "source", "text")
          .select(coalesce(col("source"), lit("<all>")).as("source_group"),
            col("is_total"), col("n_docs"), col("n_tokens"),
            col("n_chars"), col("min_tokens"), col("max_tokens"))
          .orderBy(col("is_total"), col("source_group")),
      Some("""
        WITH d AS (
          SELECT source,
            CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split(
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
            END AS t,
            len(text) AS c
          FROM documents)
        SELECT coalesce(source, '<all>') AS source_group,
          GROUPING(source) = 1 AS is_total,
          count(*) AS n_docs,
          CAST(SUM(t) AS BIGINT) AS n_tokens,
          CAST(SUM(c) AS BIGINT) AS n_chars,
          CAST(MIN(t) AS BIGINT) AS min_tokens,
          CAST(MAX(t) AS BIGINT) AS max_tokens
        FROM d GROUP BY ROLLUP (source)
        ORDER BY is_total, source_group""")),

    // Sharded-materialization manifest (operators/Sharding
    // .shardManifest): stable KrHash shard assignment plus per-shard
    // row count, key range, and an order-independent sum-of-squared-
    // hashes checksum — what a writer emits next to the data and a
    // reader recomputes to verify a transfer. The oracle replays the
    // full hash→shard→aggregate pipeline.
    GraftQuery(
      "q91_shard_manifest",
      (s, dir) =>
        graft.operators.Sharding.shardManifest(
          t(s, dir, "documents"), "doc_id", nShards = 16)
          .orderBy(col("shard")),
      Some("""
        WITH s AS (
          SELECT doc_id, CAST(doc_id AS VARCHAR) AS kk FROM documents),
        h AS (
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(kk) + 1),
                i -> CAST(ord(substr(kk, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM s),
        b AS (
          SELECT doc_id, (hh * hh) % 2147483647 AS h2,
            CAST(((hh * hh) % 2147483647) % 16 AS INTEGER) AS shard
          FROM h)
        SELECT shard, count(*) AS n_rows, min(doc_id) AS min_key,
          max(doc_id) AS max_key,
          CAST(sum(h2) AS BIGINT) AS key_checksum
        FROM b GROUP BY shard ORDER BY shard""")),

    // Tolerant JSONL ingestion (sources/JsonCorpus): documents staged
    // as JSONL with every doc_id%97==0 line deterministically truncated
    // (the crawler partial-flush failure mode), read back PERMISSIVE
    // with explicit schema + corrupt-record audit. Valid rows survive
    // byte-exact; the corrupt count rides every row via the BNLJ-free
    // 1-row broadcast join, so the oracle checks parse tolerance AND
    // the audit trail in one result.
    GraftQuery(
      "q92_jsonl_ingest",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val line = to_json(struct(col("doc_id"), col("source"), col("text")))
        val lines = t(s, dir, "documents").filter(col("doc_id") < 500)
          .withColumn("l", line)
          .select(
            when(pmod(col("doc_id"), lit(97)) === 0,
              expr("substring(l, 1, length(l) - 1)"))
              .otherwise(col("l")).as("value"))
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft_q92_src_").toString
        lines.write.mode("overwrite").text(srcDir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("text", StringType)))
        graft.sources.JsonCorpus.readJsonlWithAudit(s, srcDir, schema)
          .select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("n_chars"),
            col("n_corrupt"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH v AS (
          SELECT doc_id, source, CAST(len(text) AS BIGINT) AS n_chars
          FROM documents WHERE doc_id < 500 AND doc_id % 97 <> 0),
        c AS (
          SELECT count(*) AS n_corrupt FROM documents
          WHERE doc_id < 500 AND doc_id % 97 = 0)
        SELECT v.doc_id, v.source, v.n_chars, c.n_corrupt
        FROM v, c ORDER BY v.doc_id""")),

    // Snapshot-over-snapshot corpus diff (text/CorpusDiff.diff): the
    // per-ingest volume-shift monitor. Old = doc_id < 300 with src4
    // withheld (so src4 reports "added"); new = the full table with
    // src0 withheld (so src0 reports "removed"); everything else lands
    // changed/unchanged with exact integer deltas.
    GraftQuery(
      "q93_corpus_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.text.CorpusDiff.diff(
          docs.filter(col("doc_id") < 300 && col("source") =!= "src4"),
          docs.filter(col("source") =!= "src0"),
          "source", "text")
          .orderBy(col("source"))
      },
      Some("""
        WITH tok AS (
          SELECT source,
            CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split(
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
            END AS t, doc_id
          FROM documents),
        o AS (
          SELECT source, count(*) AS docs_old,
            CAST(SUM(t) AS BIGINT) AS tokens_old
          FROM tok WHERE doc_id < 300 AND source <> 'src4'
          GROUP BY source),
        n AS (
          SELECT source, count(*) AS docs_new,
            CAST(SUM(t) AS BIGINT) AS tokens_new
          FROM tok WHERE source <> 'src0'
          GROUP BY source)
        SELECT coalesce(o.source, n.source) AS source,
          coalesce(docs_old, 0) AS docs_old,
          coalesce(docs_new, 0) AS docs_new,
          coalesce(docs_new, 0) - coalesce(docs_old, 0) AS docs_delta,
          coalesce(tokens_old, 0) AS tokens_old,
          coalesce(tokens_new, 0) AS tokens_new,
          coalesce(tokens_new, 0) - coalesce(tokens_old, 0) AS tokens_delta,
          CASE WHEN o.source IS NULL THEN 'added'
            WHEN n.source IS NULL THEN 'removed'
            WHEN docs_old = docs_new AND tokens_old = tokens_new
              THEN 'unchanged'
            ELSE 'changed' END AS status
        FROM o FULL OUTER JOIN n ON o.source = n.source
        ORDER BY source""")),

    // Train-side decontamination with a Bloom prefilter
    // (text/Decontaminate.dropContaminatedTrain): eval grams → one
    // Bloom filter, train gram table probed MAP-SIDE, exact semi-join
    // on the hits. The oracle replays the exact no-bloom computation —
    // the two are provably identical (no false negatives; the
    // semi-join kills false positives), so hash-equality here IS the
    // bloom-path correctness proof.
    GraftQuery(
      "q94_bloom_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.text.Decontaminate.dropContaminatedTrain(
          docs.filter(col("doc_id") >= 50 && col("doc_id") < 1000),
          "doc_id",
          docs.filter(col("doc_id") < 50), "doc_id",
          "text", n = 3, maxTrainDocFreq = 40L)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, str_split(text, ' ') AS ts FROM documents
          WHERE doc_id < 1000),
        g AS (
          SELECT doc_id, unnest(list_distinct(
            list_transform(range(0, greatest(len(ts) - 2, 0)),
              i -> array_to_string(ts[(i+1):(i+3)], ' ')))) AS gram
          FROM d),
        te AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
        tr AS (SELECT doc_id, gram FROM g WHERE doc_id >= 50),
        rare AS (SELECT gram FROM tr GROUP BY gram HAVING count(*) <= 40),
        bad AS (
          SELECT DISTINCT tr.doc_id FROM tr
          JOIN rare ON tr.gram = rare.gram
          JOIN te ON tr.gram = te.gram)
        SELECT doc_id FROM d
        WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM bad)
        ORDER BY doc_id""")),

    // End-to-end curation composition: quality gate (map-only) → exact
    // dedup (one agg) → deterministic split → shard assignment
    // (map-only) — four operator families composed as plain DataFrame
    // transforms and replayed as ONE SQL pipeline. This is the
    // README-cookbook shape verified as a whole, not piecewise: each
    // stage's output feeds the next, so a contract mismatch between
    // stages (normalization drift, id type change) fails the hash here
    // even if every stage is green in isolation.
    GraftQuery(
      "q95_curation_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val gated = docs.filter(
          size(split(graft.text.TextStats.normalize(col("text")), " "))
            >= 5)
        val deduped = graft.dedup.Dedup.exactDedup(gated, "text", "doc_id")
        val assigned = graft.operators.Splits.withSplit(
          deduped, "doc_id", Seq("train" -> 0.9, "val" -> 0.1),
          salt = "r9")
        graft.operators.Sharding.withShard(assigned, "doc_id", nShards = 8)
          .select(col("doc_id"), col("split"), col("shard"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH gated AS (
          SELECT doc_id, text FROM documents
          WHERE len(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) >= 5),
        deduped AS (
          SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
              PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
              ORDER BY doc_id) AS rn
            FROM gated)
          WHERE rn = 1),
        hashed AS (
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(kk) + 1),
                i -> CAST(ord(substr(kk, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hsplit,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(kb) + 1),
                i -> CAST(ord(substr(kb, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hshard
          FROM (SELECT doc_id,
                  CAST(doc_id AS VARCHAR) || ':r9' AS kk,
                  CAST(doc_id AS VARCHAR) AS kb
                FROM deduped))
        SELECT doc_id,
          CASE WHEN ((hsplit * hsplit) % 2147483647) % 10000 < 9000
            THEN 'train' ELSE 'val' END AS split,
          CAST(((hshard * hshard) % 2147483647) % 8 AS INTEGER) AS shard
        FROM hashed
        ORDER BY doc_id""")),

    // Z-order (Morton) clustering key (operators/ZOrder.zValue2): the
    // multi-dimensional layout key behind Delta/Iceberg OPTIMIZE
    // ZORDER — bit-interleave (doc_id, n_chars) so range-partitioning
    // on one value keeps BOTH dimensions' file stats tight (per-file
    // span proof in ZOrderSpec). Pure shift/and algebra, map-only,
    // replayed bit-for-bit in SQL.
    GraftQuery(
      "q96_zorder_key",
      (s, dir) =>
        graft.operators.ZOrder.withZValue(
          t(s, dir, "documents")
            .select(col("doc_id"), length(col("text")).as("n_chars_z")),
          "doc_id", "n_chars_z", bits = 16)
          .select(col("doc_id"), col("n_chars_z").cast("long").as("n_chars_z"),
            col("zvalue"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars_z,
          CAST(list_sum(list_transform(range(0, 16), i ->
            (((doc_id >> i) & 1) << (2 * i)) +
            (((len(text) >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zvalue
        FROM documents
        ORDER BY doc_id""")),

    // Unicode NFC canonicalization (functions/NfcNormalize, native
    // codegen over JDK Normalizer): decomposed sequences (e +
    // combining acute) are appended per doc_id%3 so composed,
    // decomposed, and pure-ASCII branches all fire; both engines must
    // produce identical composed output and char counts. DuckDB
    // replays via its nfc_normalize.
    GraftQuery(
      "q97_nfc_normalize",
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(3))
        val tail = when(m === 0, lit(" café résumé"))
          .when(m === 1, lit(" café déjà"))
          .otherwise(lit(" plain ascii"))
        val raw = concat(col("text"), tail)
        t(s, dir, "documents")
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            length(col("raw")).cast("long").as("n_chars_raw"),
            graft.functions.NfcNormalize.nfcNormalize(col("raw"))
              .as("text_nfc"))
          .withColumn("n_chars_nfc", length(col("text_nfc")).cast("long"))
          .select(col("doc_id"), col("n_chars_raw"), col("n_chars_nfc"),
            col("text_nfc"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text ||
            (CASE doc_id % 3
              WHEN 0 THEN ' cafe' || chr(769) || ' re' || chr(769) ||
                'sume' || chr(769)
              WHEN 1 THEN ' caf' || chr(233) || ' d' || chr(233) ||
                'j' || chr(224)
              ELSE ' plain ascii' END) AS raw
          FROM documents)
        SELECT doc_id,
          CAST(len(raw) AS BIGINT) AS n_chars_raw,
          CAST(len(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc,
          nfc_normalize(raw) AS text_nfc
        FROM d ORDER BY doc_id""")),

    // Incremental IVF index maintenance (sim/Similarity
    // .appendToIvfIndex): the on-disk index is built from vec_id < 800
    // and the remainder is APPENDED against the stored centroids —
    // then q66's exact probe query runs against it with q66's oracle
    // verbatim. Green here proves the append path is invisible in
    // results: assignment is centroid-determined per row, so
    // build-then-append ≡ one-shot build (also pinned row-level in
    // SimilaritySpec).
    GraftQuery(
      "q98_ivf_append",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = ivfAppendIndexFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfTopK(index, queries, k = 10, nProbe = 4)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c) WHERE rn <= 4),
        s AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q
          JOIN probes USING (query_id)
          JOIN assign ON assign.cell = probes.cell
          JOIN e ON e.vec_id = assign.vec_id)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
          FROM s)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // Segmented dedup-index growth (dedup/DedupIndex.appendSegment):
    // q62's corpus enters the on-disk index as a base build
    // (doc_id < 300) plus one appended LSM segment ([300, 400)), then
    // q62's EXACT query and oracle run against the segment union —
    // green means index growth by append is invisible in results (the
    // per-segment candidate cap can only widen candidates; the exact
    // verify keeps the answer identical).
    GraftQuery(
      "q99_dedup_index_segment",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val idx = dedupSegIndexFor(s, dir, docs.filter(col("doc_id") < 400))
        graft.dedup.DedupIndex.dedupAgainst(
          docs.filter(col("doc_id") >= 400), idx, "doc_id", "text",
          threshold = 0.9)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents
        ),
        corpus AS (SELECT * FROM d WHERE doc_id < 400),
        batch AS (SELECT * FROM d WHERE doc_id >= 400)
        SELECT b.doc_id FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = b.t)
          AND NOT EXISTS (
            SELECT 1 FROM corpus c
            WHERE CAST(len(list_intersect(b.toks, c.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(b.toks, c.toks))) >= 0.9)
        ORDER BY 1""")),

    // Leakage-safe splitting: a train/val split hashed on the ROW key
    // puts two near-duplicate documents in different splits and the
    // model "generalizes" to its own training data — the standard
    // dedup-aware fix is splitting by the duplicate-CLUSTER id, so a
    // whole cluster lands on one side. Pure composition: q43's
    // near-dup components feed Splits.withSplit keyed on the component
    // (co-location is then true BY CONSTRUCTION — a split is a pure
    // function of the key). The oracle replays clustering (recursive
    // CTE) + the salted KrHash split thresholds end to end.
    GraftQuery(
      "q100_leakage_safe_split",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = graft.dedup.Dedup.nearDuplicates(
          docs.filter(col("doc_id") < 500), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.85)
        val comp = graft.dedup.Components.connectedComponents(
          pairs, "id_a", "id_b")
        val withComp = docs.filter(col("doc_id") < 500)
          .join(comp, docs("doc_id") === comp("id"), "left")
          .select(docs("doc_id"),
            coalesce(col("component"), docs("doc_id")).as("component"))
        graft.operators.Splits.withSplit(
          withComp, "component", Seq("train" -> 0.9, "val" -> 0.1),
          salt = "leak")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE tok AS (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents WHERE doc_id < 500),
        t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(ts) - 1),
            i -> array_to_string(ts[i:i+2], ' '))) AS gs
          FROM tok WHERE len(ts) >= 3),
        e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM t a, t b
          WHERE a.doc_id <> b.doc_id
            AND len(a.gs) > 0 AND len(b.gs) > 0
            AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.85
        ),
        reach AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
          WHERE e2.v <> r.u
        ),
        comp AS (SELECT u AS id, least(u, MIN(v)) AS component
                 FROM reach GROUP BY u),
        assigned AS (
          SELECT d.doc_id,
            COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
          WHERE d.doc_id < 500),
        hashed AS (
          SELECT doc_id, component,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(kk) + 1),
                i -> CAST(ord(substr(kk, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM (SELECT doc_id, component,
                  CAST(component AS VARCHAR) || ':leak' AS kk
                FROM assigned))
        SELECT doc_id, component,
          CASE WHEN ((hh * hh) % 2147483647) % 10000 < 9000
            THEN 'train' ELSE 'val' END AS split
        FROM hashed
        ORDER BY doc_id""")),

    // Mergeable distinct-count sketch (sketch/Hll): per-source distinct
    // whitespace tokens via HyperLogLog with EXACT-integer registers —
    // the 60-bit md5-prefix hash (q69's), rho from binary bit-length
    // (never a float log), and the scaled register sum S = Σ 2^(R−rho)
    // as a plain BIGINT, so the whole sketch replays bit-for-bit in
    // DuckDB; the only IEEE arithmetic is the final fixed-order
    // α·m²·2^R/S estimate chain. exact_distinct rides along as the
    // audit column (and pins the estimate's error in data). The sketch
    // shuffle carries ≤ sources × 256 register rows, not tokens — the
    // mergeable-dashboard shape for 100 TB (HllSpec pins union ≡
    // max-merge of per-shard sketches).
    GraftQuery(
      "q101_hll_distinct",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("source"),
            explode(split(graft.text.TextStats.normalize(col("text")), " "))
              .as("tok"))
          .filter(col("tok") =!= "")
        val est = graft.sketch.Hll.distinctEstimate(
          toks, Seq("source"), col("tok"), p = 8)
        val exact = toks.groupBy(col("source"))
          .agg(countDistinct(col("tok")).as("exact_distinct"))
        est.join(exact, "source").orderBy(col("source"))
      },
      Some("""
        WITH toks AS (
          SELECT source, unnest(list_filter(
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS tok
          FROM documents),
        h AS (
          SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
          FROM toks),
        b AS (
          SELECT source, hv >> 52 AS bucket,
            hv & ((CAST(1 AS BIGINT) << 52) - 1) AS rest
          FROM h),
        r AS (
          SELECT source, bucket,
            MAX(CASE WHEN rest = 0 THEN 53
                     ELSE 53 - length(bin(rest)) END) AS rho
          FROM b GROUP BY source, bucket),
        agg AS (
          SELECT source, COUNT(*) AS nb,
            CAST(SUM(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT) AS sp
          FROM r GROUP BY source),
        ex AS (
          SELECT source, COUNT(DISTINCT tok) AS exact_distinct
          FROM toks GROUP BY source)
        SELECT agg.source,
          CAST(256 - nb AS BIGINT) AS v_zero,
          CAST(sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
            AS s_scaled,
          CAST(0.7213 AS DOUBLE)
            / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
            * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
            * CAST(9007199254740992 AS DOUBLE)
            / CAST(sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
            AS est_distinct,
          ex.exact_distinct
        FROM agg JOIN ex ON agg.source = ex.source
        ORDER BY agg.source""")),

    // Vocabulary coverage / OOV-rate curve (vocab/Coverage): what does
    // a k-entry vocab cover? Computed WITHOUT ranking tokens — token
    // counts collapse to frequency classes (distinct count values,
    // O(√N) rows), one tiny-table window gives each class its prefix,
    // and each k gets its exact top-k mass by class arithmetic (the
    // boundary class contributes (k − before)·c — exact because
    // same-count tokens are interchangeable). All-integer sums, one
    // IEEE divide per ratio.
    GraftQuery(
      "q102_vocab_coverage",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(
            explode(split(graft.text.TextStats.normalize(col("text")), " "))
              .as("tok"))
          .filter(col("tok") =!= "")
        graft.vocab.Coverage.coverageReport(
          toks, col("tok"), Seq(100L, 1000L, 5000L, 20000L, 100000L))
          .orderBy(col("k"))
      },
      Some("""
        WITH toks AS (
          SELECT unnest(list_filter(
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS tok
          FROM documents),
        cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        cls AS (
          SELECT c, COUNT(*) AS nc, CAST(c * COUNT(*) AS BIGINT) AS mass
          FROM cnt GROUP BY c),
        rk AS (
          SELECT c, nc, mass,
            COALESCE(CAST(SUM(nc) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
              0) AS before
          FROM cls),
        ks AS (SELECT unnest([100, 1000, 5000, 20000, 100000]) AS k),
        per AS (
          SELECT k, nc, mass,
            CASE WHEN before + nc <= k THEN mass
                 WHEN before >= k THEN 0
                 ELSE (k - before) * c END AS covered_here,
            CASE WHEN before + nc <= k THEN nc
                 WHEN before >= k THEN 0
                 ELSE k - before END AS used_here
          FROM rk CROSS JOIN ks)
        SELECT CAST(k AS BIGINT) AS k,
          CAST(SUM(used_here) AS BIGINT) AS tokens_used,
          CAST(SUM(covered_here) AS BIGINT) AS covered_tokens,
          CAST(SUM(mass) AS BIGINT) AS total_tokens,
          CAST(SUM(nc) AS BIGINT) AS distinct_tokens,
          CAST(SUM(covered_here) AS DOUBLE) / CAST(SUM(mass) AS DOUBLE)
            AS coverage,
          CAST(SUM(mass) - SUM(covered_here) AS DOUBLE)
            / CAST(SUM(mass) AS DOUBLE) AS oov_rate
        FROM per GROUP BY k ORDER BY k""")),

    // Character-entropy quality signal (text/Entropy): per-doc Shannon
    // entropy in Q20 integer fixed point — numerator n·L(n) − Σ c·L(c)
    // with L = the ILog2Q20 square-and-shift log, one IEEE divide for
    // bits/char — the gibberish / single-char-flood / base64-noise
    // detector. DuckDB replays the identical integers with the q79
    // 20-round recursive-CTE log over the (doc, char) count stack.
    // Bounded to doc_id < 1500 purely for oracle-side replay cost; the
    // engine path is two hash aggregates whose shuffle carries
    // (doc × distinct char) rows.
    GraftQuery(
      "q103_char_entropy",
      (s, dir) =>
        graft.text.Entropy.charEntropy(
          t(s, dir, "documents").filter(col("doc_id") < 1500),
          Seq("doc_id"), col("text"))
          .orderBy(col("doc_id")),
      Some("""
        WITH RECURSIVE d AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 1500),
        ch AS (
          SELECT doc_id, substr(text, CAST(i AS BIGINT), 1) AS ch
          FROM (SELECT doc_id, text,
                  unnest(range(1, length(text) + 1)) AS i FROM d)),
        cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
        n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS dc
              FROM cnt GROUP BY doc_id),
        stack AS (
          SELECT doc_id, ch, 0 AS side, c << 20 AS s FROM cnt
          UNION ALL
          SELECT doc_id, '', 1, n << 20 FROM n),
        norm AS (
          SELECT doc_id, ch, side, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM stack),
        iter(doc_id, ch, side, bl, i, m, frac) AS (
          SELECT doc_id, ch, side, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT doc_id, ch, side, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20),
        ltab AS (SELECT doc_id, ch, side, (bl - 21) * 1048576 + frac AS l
                 FROM iter WHERE i = 20),
        sumc AS (
          SELECT c.doc_id, CAST(SUM(c.c * lt.l) AS BIGINT) AS sum_clog
          FROM cnt c JOIN ltab lt
            ON lt.doc_id = c.doc_id AND lt.ch = c.ch AND lt.side = 0
          GROUP BY c.doc_id),
        lnd AS (SELECT doc_id, l AS ln FROM ltab WHERE side = 1)
        SELECT n.doc_id, n.n AS n_chars,
          CAST(n.dc AS BIGINT) AS distinct_chars,
          CAST(n.n * lnd.ln - sumc.sum_clog AS BIGINT) AS entropy_num_q20,
          CAST(n.n * lnd.ln - sumc.sum_clog AS DOUBLE)
            / CAST(n.n * 1048576 AS DOUBLE) AS entropy_bits
        FROM n JOIN sumc ON n.doc_id = sumc.doc_id
        JOIN lnd ON n.doc_id = lnd.doc_id
        ORDER BY n.doc_id""")),

    // Prefix-filtered EXACT Jaccard set-similarity join
    // (dedup/PrefixJoin, AllPairs/PPJoin family): every token-set pair
    // with J ≥ 3/5 — no LSH recall loss. The rational threshold keeps
    // ⌈t·|r|⌉ and the acceptance test in exact integers (an IEEE
    // ceil(0.6·5) is 4, which would silently shorten the prefix and
    // drop true pairs). The oracle is the brute-force all-pairs
    // SEMANTIC definition on a bounded slice — green means the prefix
    // filter is lossless, which PrefixJoinSpec additionally pins vs
    // brute force on random corpora.
    GraftQuery(
      "q104_prefix_jaccard_join",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 800)
          .select(col("doc_id"),
            filter(
              split(graft.text.TextStats.normalize(col("text")), " "),
              tok => tok =!= "").as("toks"))
        graft.dedup.PrefixJoin.prefixJaccardJoin(
          docs, "doc_id", col("toks"), tNum = 3, tDen = 5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, list_distinct(list_filter(
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS ts
          FROM documents WHERE doc_id < 800)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
            / CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))
                   AS DOUBLE) AS jaccard
        FROM tok a, tok b
        WHERE a.doc_id < b.doc_id
          AND len(a.ts) > 0 AND len(b.ts) > 0
          AND 5 * len(list_intersect(a.ts, b.ts)) >=
              3 * (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
        ORDER BY 1, 2""")),

    // Scale-safe dense row enumeration (operators/Enumerate): global
    // contiguous ids 0..n−1 in (source, doc_id) order via range
    // repartition + per-partition sort + the two-job offset scan
    // (zipWithIndex) — never a partitionless row_number window that
    // funnels the corpus through one task. The id is a pure function
    // of the total order, so DuckDB's window replay matches exactly
    // even though the engine never builds that window.
    GraftQuery(
      "q105_dense_ids",
      (s, dir) =>
        graft.operators.Enumerate.denseIds(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("source", "doc_id"))
          .orderBy(col("dense_id")),
      Some("""
        SELECT doc_id, source,
          CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
            AS dense_id
        FROM documents
        ORDER BY dense_id""")),

    // Bucketed co-located join (operators/Bucketing): orders and
    // customer written ONCE as same-bucketed catalog tables on
    // custkey, then joined with no Exchange on either side — the
    // pay-the-shuffle-at-write-time layout for repeat joins
    // (BucketingSpec machine-checks the exchange-free plan and the
    // bucket-pruned scan; the oracle checks the join's answers).
    // Build-once per process via bucketedTablesFor, so bench's timed
    // runs measure the exchange-free join, not the write.
    GraftQuery(
      "q106_bucketed_join",
      (s, dir) => {
        val (to, tc) = bucketedTablesFor(s, dir,
          t(s, dir, "orders"), t(s, dir, "customer"))
        graft.operators.Bucketing.bucketedJoin(s, to, tc, Seq("custkey"))
          .groupBy(col("c_nationkey"))
          .agg(
            count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_total"))
          .orderBy(col("c_nationkey"))
      },
      Some("""
        SELECT c_nationkey, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
            AS sum_total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")),

    // Clipped n-gram overlap (eval/Overlap, the BLEU modified-precision
    // core) as a cleaning-divergence report: q41's planted-PII corpus
    // is the reference, its redacted form the candidate, and the
    // per-doc unigram/bigram clipped precision quantifies exactly how
    // much the redaction stage rewrote each document. Integer clipped
    // counts + one IEEE divide per row; no joins on the engine side —
    // one (id, gram)-keyed aggregate per n.
    GraftQuery(
      "q107_ngram_overlap",
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com from 10."),
            (col("doc_id") % 200).cast("string"), lit(".0."),
            (col("doc_id") % 250).cast("string"),
            lit(" call +1 555 010 "),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" ref 90000000"), (col("doc_id") % 10).cast("string")
          ).as("t"))
        val norm = graft.text.TextStats
        val pairs = planted.select(col("doc_id"),
          filter(split(norm.normalize(graft.text.Redact.redact(col("t"))), " "),
            x => x =!= "").as("ct"),
          filter(split(norm.normalize(col("t")), " "),
            x => x =!= "").as("rt"))
        graft.eval.Overlap.ngramPrecision(
          pairs, Seq("doc_id"), col("ct"), col("rt"), Seq(1, 2))
          .orderBy(col("doc_id"), col("n"))
      },
      Some("""
        WITH planted AS (
          SELECT doc_id,
            concat(substr(text, 1, 40),
              ' contact user', CAST(doc_id AS VARCHAR),
              '@mail.example.com from 10.',
              CAST(doc_id % 200 AS VARCHAR), '.0.',
              CAST(doc_id % 250 AS VARCHAR),
              ' call +1 555 010 ',
              lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
              ' ref 90000000', CAST(doc_id % 10 AS VARCHAR)) AS t
          FROM documents),
        s1 AS (SELECT doc_id, t, regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r1 FROM planted),
        s2 AS (SELECT *, regexp_replace(r1,
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS r2 FROM s1),
        s3 AS (SELECT *, regexp_replace(r2,
          '\+[0-9][0-9 ()-]{5,}[0-9]', '<PHONE>', 'g') AS r3 FROM s2),
        s4 AS (SELECT *, regexp_replace(r3,
          '\b[0-9]{9,}\b', '<ID>', 'g') AS r4 FROM s3),
        tk AS (
          SELECT doc_id,
            list_filter(string_split(
              regexp_replace(lower(trim(r4)), '\s+', ' ', 'g'), ' '),
              x -> x <> '') AS ct,
            list_filter(string_split(
              regexp_replace(lower(trim(t)), '\s+', ' ', 'g'), ' '),
              x -> x <> '') AS rt
          FROM s4),
        cand_g AS (
          SELECT doc_id, 1 AS n, unnest(ct) AS g FROM tk
          UNION ALL
          SELECT doc_id, 2, unnest(list_transform(range(1, len(ct)),
            i -> array_to_string(ct[i:i+1], ' '))) FROM tk),
        ref_g AS (
          SELECT doc_id, 1 AS n, unnest(rt) AS g FROM tk
          UNION ALL
          SELECT doc_id, 2, unnest(list_transform(range(1, len(rt)),
            i -> array_to_string(rt[i:i+1], ' '))) FROM tk),
        cc AS (SELECT doc_id, n, g, COUNT(*) AS c FROM cand_g GROUP BY doc_id, n, g),
        rc AS (SELECT doc_id, n, g, COUNT(*) AS r FROM ref_g GROUP BY doc_id, n, g),
        j AS (
          SELECT COALESCE(cc.doc_id, rc.doc_id) AS doc_id,
            COALESCE(cc.n, rc.n) AS n,
            COALESCE(c, 0) AS c, COALESCE(r, 0) AS r
          FROM cc FULL OUTER JOIN rc
            ON cc.doc_id = rc.doc_id AND cc.n = rc.n AND cc.g = rc.g),
        agg AS (
          SELECT doc_id, n,
            CAST(SUM(LEAST(c, r)) AS BIGINT) AS clipped,
            CAST(SUM(c) AS BIGINT) AS cand_ngrams,
            CAST(SUM(r) AS BIGINT) AS ref_ngrams
          FROM j GROUP BY doc_id, n)
        SELECT doc_id, CAST(n AS INTEGER) AS n, clipped, cand_ngrams,
          ref_ngrams,
          CASE WHEN cand_ngrams > 0
            THEN CAST(clipped AS DOUBLE) / CAST(cand_ngrams AS DOUBLE)
          END AS clip_precision
        FROM agg
        ORDER BY doc_id, n""")),

    // Per-source mergeable MinHash sketch → source-level similarity
    // matrix (sketch/SourceSketch): each source collapses to a
    // 32-component element-wise-min signature over KR token hashes
    // (engine-replayable hash family — the SIGNATURES are oracle-checked
    // through the matrix, not just a downstream condition); the pairwise
    // stage runs on the |sources|×32 signature table, corpus-size-
    // independent. ASCII-only docs as in q49: the oracle replays the KR
    // byte fold with per-character ords.
    GraftQuery(
      "q108_source_similarity",
      (s, dir) =>
        graft.sketch.SourceSketch.similarityMatrix(
          t(s, dir, "documents").filter(!col("text").rlike("[^ -~]")),
          "source", "text", numHashes = 32, seed = 42L)
          .orderBy(col("group_a"), col("group_b")),
      Some {
        val params = graft.dedup.Dedup.hashParams(32, 42L)
        val values = params.zipWithIndex
          .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(",\n          ")
        s"""
        WITH p(i, a, b) AS (VALUES
          $values),
        d AS (SELECT source, text FROM documents
              WHERE NOT regexp_matches(text, '[^ -~]')),
        tok AS (SELECT DISTINCT source, tk FROM (
          SELECT source, unnest(list_filter(string_split(
            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS tk
          FROM d)),
        kr AS (SELECT source, tk,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, len(tk) + 1),
              i -> CAST(ord(substr(tk, i, 1)) AS BIGINT))),
            (acc, ch) -> (acc * 257 + ch) % 2147483647) AS h
          FROM tok),
        sig AS (SELECT source, p.i AS i,
          MIN((h * p.a + p.b) % 2147483647) AS sig
          FROM kr CROSS JOIN p GROUP BY 1, 2),
        pairs AS (SELECT sa.source AS group_a, sb.source AS group_b,
          CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT)
            AS matches
          FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.source < sb.source
          GROUP BY 1, 2)
        SELECT group_a, group_b, matches,
          CAST(matches AS DOUBLE) / CAST(32 AS DOUBLE) AS est_jaccard
        FROM pairs ORDER BY group_a, group_b"""
      }),

    // Exact two-sample Kolmogorov–Smirnov drift (eval/Ranking
    // .ksStatistic): per source, D between the n_chars distributions of
    // English vs non-English docs — max |cumA·n_b − cumB·n_a| in exact
    // integers over the shared distinct-value histogram, ONE final
    // divide; at_value = smallest value attaining the max.
    GraftQuery(
      "q109_ks_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.eval.Ranking.ksStatistic(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"),
          "n_chars", groupCols = Seq("source"))
          .orderBy(col("source"))
      },
      Some("""
        WITH u AS (
          SELECT source, n_chars AS v, 1 AS ca, 0 AS cb
          FROM documents WHERE lang = 'en'
          UNION ALL
          SELECT source, n_chars, 0, 1
          FROM documents WHERE lang <> 'en'),
        hist AS (SELECT source, v,
          CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
          FROM u GROUP BY 1, 2),
        cum AS (SELECT source, v,
          SUM(ca) OVER (PARTITION BY source ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS cuma,
          SUM(cb) OVER (PARTITION BY source ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS cumb,
          SUM(ca) OVER (PARTITION BY source) AS na,
          SUM(cb) OVER (PARTITION BY source) AS nb
          FROM hist),
        d AS (SELECT source, v, abs(cuma * nb - cumb * na) AS dd, na, nb
          FROM cum),
        agg AS (SELECT source, MAX(na) AS n_a, MAX(nb) AS n_b,
          MAX(dd) AS d_max FROM d GROUP BY 1),
        atv AS (SELECT d.source, MIN(d.v) AS at_value
          FROM d JOIN agg ON d.source = agg.source AND d.dd = agg.d_max
          GROUP BY 1)
        SELECT agg.source, CAST(n_a AS BIGINT) AS n_a,
          CAST(n_b AS BIGINT) AS n_b,
          CASE WHEN n_a > 0 AND n_b > 0
            THEN CAST(d_max AS BIGINT) END AS d_num,
          CASE WHEN n_a > 0 AND n_b > 0
            THEN CAST(d_max AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
          END AS ks,
          CASE WHEN n_a > 0 AND n_b > 0 THEN at_value END AS at_value
        FROM agg JOIN atv ON agg.source = atv.source
        ORDER BY agg.source""")),

    // PMI collocation mining (text/Collocations): adjacent-bigram
    // pointwise mutual information as the EXACT Q20 integer
    // L(c_xy) + L(N) − L(c_x) − L(c_y) over the ILog2Q20
    // square-and-shift log — replayed with the q49/q79 recursive-CTE
    // integer log2 over the distinct count values.
    GraftQuery(
      "q110_pmi_collocations",
      (s, dir) =>
        graft.text.Collocations.pmi(
          t(s, dir, "documents"), "text", minCount = 5L)
          .orderBy(col("pmi_q20").desc, col("w1"), col("w2")),
      Some("""
        WITH RECURSIVE tk AS (
          SELECT list_filter(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '') AS toks
          FROM documents),
        nz AS (SELECT toks FROM tk WHERE len(toks) > 0),
        uni AS (SELECT unnest(toks) AS w FROM nz),
        uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
        bi AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
          FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM nz)),
        bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi
          GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        sel AS (SELECT w1, w2, c_xy, ux.c AS c_x, uy.c AS c_y
          FROM bc JOIN uc ux ON bc.w1 = ux.w
                  JOIN uc uy ON bc.w2 = uy.w),
        vals AS (SELECT DISTINCT v FROM (
          SELECT c_xy AS v FROM sel
          UNION SELECT c_x FROM sel
          UNION SELECT c_y FROM sel
          UNION SELECT n FROM tot)),
        sv AS (SELECT v, v * 1048576 AS s FROM vals),
        norm AS (SELECT v, length(bin(s)) AS bl,
          CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
               ELSE s << (21 - length(bin(s))) END AS m
          FROM sv),
        iter(v, bl, i, m, frac) AS (
          SELECT v, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT v, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20),
        ltab AS (SELECT v, (bl - 21) * 1048576 + frac AS l
          FROM iter WHERE i = 20)
        SELECT sel.w1, sel.w2, CAST(c_xy AS BIGINT) AS c_xy,
          CAST(c_x AS BIGINT) AS c_x, CAST(c_y AS BIGINT) AS c_y,
          CAST(lxy.l + ln2.l - lx.l - ly.l AS BIGINT) AS pmi_q20
        FROM sel CROSS JOIN tot
          JOIN ltab lxy ON sel.c_xy = lxy.v
          JOIN ltab lx ON sel.c_x = lx.v
          JOIN ltab ly ON sel.c_y = ly.v
          JOIN ltab ln2 ON tot.n = ln2.v
        ORDER BY pmi_q20 DESC, w1, w2""")),

    // Unicode script-mix profile (text/Scripts): per-doc counts over
    // explicit BMP code-point-range classes (Java∩RE2 — NOT engine-
    // dependent \p{Script} properties) + dominant-script routing label.
    // Non-Latin material is synthesized per doc_id%5 branch (the
    // q89/q97 pattern) since the corpus is Latin-heavy.
    GraftQuery(
      "q111_script_mix",
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(substring(col("text"), 1, 60),
            when(col("doc_id") % 5 === 0, lit(" Привет мир данных"))
              .when(col("doc_id") % 5 === 1, lit(" 機械学習データ処理"))
              .when(col("doc_id") % 5 === 2, lit(" مرحبا بالبيانات"))
              .when(col("doc_id") % 5 === 3, lit(" αλφα βητα 42"))
              .otherwise(lit(""))).as("t"))
        graft.text.Scripts.withScriptProfile(planted, "t")
          .drop("t")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH planted AS (
          SELECT doc_id,
            concat(substr(text, 1, 60),
              CASE WHEN doc_id % 5 = 0 THEN ' Привет мир данных'
                   WHEN doc_id % 5 = 1 THEN ' 機械学習データ処理'
                   WHEN doc_id % 5 = 2 THEN ' مرحبا بالبيانات'
                   WHEN doc_id % 5 = 3 THEN ' αλφα βητα 42'
                   ELSE '' END) AS t
          FROM documents),
        counted AS (
          SELECT doc_id, t,
            length(t) - length(regexp_replace(t,
              '[A-Za-z\x{C0}-\x{D6}\x{D8}-\x{F6}\x{F8}-\x{24F}]', '', 'g'))
              AS n_latin,
            length(t) - length(regexp_replace(t,
              '[\x{400}-\x{4FF}]', '', 'g')) AS n_cyrillic,
            length(t) - length(regexp_replace(t,
              '[\x{370}-\x{3FF}]', '', 'g')) AS n_greek,
            length(t) - length(regexp_replace(t,
              '[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]',
              '', 'g')) AS n_cjk,
            length(t) - length(regexp_replace(t,
              '[\x{600}-\x{6FF}]', '', 'g')) AS n_arabic,
            length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
            length(t) AS n_total
          FROM planted),
        m AS (SELECT *, greatest(n_latin, n_cyrillic, n_greek, n_cjk,
            n_arabic, n_digit) AS mx FROM counted)
        SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
          n_digit, n_total,
          CASE WHEN t IS NULL THEN NULL
               WHEN mx = 0 THEN 'none'
               WHEN n_latin = mx THEN 'latin'
               WHEN n_cyrillic = mx THEN 'cyrillic'
               WHEN n_greek = mx THEN 'greek'
               WHEN n_cjk = mx THEN 'cjk'
               WHEN n_arabic = mx THEN 'arabic'
               ELSE 'digit' END AS dominant_script
        FROM m ORDER BY doc_id""")),

    // Streaming tumbling-window throughput monitor (streaming
    // .windowedEventCounts promoted to oracle evidence): AvailableNow
    // file stream → watermarked 1-hour windows → parquet sink; append
    // mode emits only windows the final watermark closed, which the
    // oracle replays as the max-event-time cutoff (the q46 protocol).
    GraftQuery(
      "q112_streaming_window",
      (s, dir) => {
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q112_src_")
        val staged = srcDir.resolve("events.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/events.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
        val typed = expr("ts div 1000") // nanos -> micros
        val stream = (src.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            src.withColumn("ts", timestamp_micros(typed))
          case org.apache.spark.sql.types.TimestampNTZType =>
            src.withColumn("ts", col("ts").cast("timestamp"))
          case _ => src
        }).withColumn("value_dec", col("value").cast("decimal(30,2)"))
        val windows = graft.streaming.Streaming.windowedEventCounts(
          stream, "ts", "event_type", "value_dec",
          windowLength = "1 hour", watermark = "0 seconds")
        val out = java.nio.file.Files
          .createTempDirectory("graft_q112_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q112_ckpt_").toString
        // state partitioning sized to the small in-flight state, not
        // the session's batch shuffle width (see withShufflePartitions)
        withShufflePartitions(s, 8) {
          windows.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out)
          .select(unix_micros(col("window_start")).as("window_start_us"),
            col("event_type"), col("n"),
            col("total_value").cast("double").as("total_value"))
          .orderBy(col("window_start_us"), col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT ts, event_type, CAST(value AS DECIMAL(30,2)) AS v
          FROM events),
        agg AS (
          SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws,
            event_type, COUNT(*) AS n,
            CAST(SUM(v) AS DOUBLE) AS total_value
          FROM e GROUP BY 1, 2)
        SELECT ws AS window_start_us, event_type, n, total_value
        FROM agg
        WHERE ws + 3600000000 <= (SELECT MAX(epoch_us(ts)) FROM e)
        ORDER BY 1, 2""")),

    // Embedding-space drift (sim/EmbeddingDrift): pairwise cosine
    // between per-label centroids off exact Q20-quantized integer
    // coordinate sums (cos(S_a/n_a, S_b/n_b) = cos(S_a, S_b), so no
    // per-group divide exists at all); decimal dot/norm accumulators,
    // one deterministic cast + IEEE sqrt/divide per pair.
    GraftQuery(
      "q113_embedding_drift",
      (s, dir) =>
        graft.sim.EmbeddingDrift.centroidCosine(
          t(s, dir, "embeddings"), "label", "embedding", quantBits = 20)
          .orderBy(col("group_a"), col("group_b")),
      Some("""
        WITH x AS (
          SELECT label, i - 1 AS dim,
            CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
              AS qv
          FROM (SELECT label, embedding,
                  unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings)),
        sums AS (SELECT label, dim, SUM(qv) AS s, COUNT(*) AS n
          FROM x GROUP BY 1, 2),
        norms AS (SELECT label, SUM(s * s) AS n2, MAX(n) AS n
          FROM sums GROUP BY 1),
        dots AS (SELECT a.label AS group_a, b.label AS group_b,
            SUM(a.s * b.s) AS dot
          FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
          GROUP BY 1, 2)
        SELECT group_a, group_b,
          CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
          CASE WHEN na.n2 > 0 AND nb.n2 > 0
            THEN CAST(dot AS DOUBLE) /
              (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          END AS cos
        FROM dots
          JOIN norms na ON dots.group_a = na.label
          JOIN norms nb ON dots.group_b = nb.label
        ORDER BY group_a, group_b""")),

    // Population stability index (text/Drift.psiContributions): the
    // industry-standard binned drift gate, per-bin contributions over
    // caller-owned integer length buckets — exact Q20/Q40 integers via
    // the shared add-one smoothing + ILog2Q20 machinery (q79's replay
    // shape with bins instead of tokens).
    GraftQuery(
      "q114_psi_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("bin", expr("least(n_chars div 100, 20L)"))
        graft.text.Drift.psiContributions(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"), "bin")
          .orderBy(col("bin"))
      },
      Some("""
        WITH RECURSIVE b1 AS (
          SELECT LEAST(n_chars // 100, 20) AS bin
          FROM documents WHERE lang = 'en'),
        b2 AS (
          SELECT LEAST(n_chars // 100, 20) AS bin
          FROM documents WHERE lang <> 'en'),
        ca AS (SELECT bin, COUNT(*) AS n_a FROM b1 GROUP BY 1),
        cb AS (SELECT bin, COUNT(*) AS n_b FROM b2 GROUP BY 1),
        j AS (
          SELECT COALESCE(ca.bin, cb.bin) AS bin,
            COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
        tot AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS na,
            CAST(SUM(n_b) AS BIGINT) AS nb, COUNT(*) AS v
          FROM j),
        sq AS (
          SELECT bin, n_a, n_b,
            greatest(((n_a + 1) * 1048576) // (na + v), 1) AS sa,
            greatest(((n_b + 1) * 1048576) // (nb + v), 1) AS sb
          FROM j, tot),
        stack AS (
          SELECT bin, 0 AS side, sa AS s FROM sq
          UNION ALL SELECT bin, 1, sb FROM sq),
        norm AS (
          SELECT bin, side, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM stack),
        iter(bin, side, bl, i, m, frac) AS (
          SELECT bin, side, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT bin, side, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20),
        ltab AS (SELECT bin, side, (bl - 21) * 1048576 + frac AS l
                 FROM iter WHERE i = 20),
        la AS (SELECT bin, l FROM ltab WHERE side = 0),
        lb AS (SELECT bin, l FROM ltab WHERE side = 1)
        SELECT j.bin, CAST(j.n_a AS BIGINT) AS n_a,
          CAST(j.n_b AS BIGINT) AS n_b,
          CAST((sq.sa - sq.sb) * (la.l - lb.l) AS BIGINT) AS contrib_q40
        FROM j JOIN sq ON j.bin = sq.bin
          JOIN la ON j.bin = la.bin
          JOIN lb ON j.bin = lb.bin
        ORDER BY j.bin""")),

    // Image perceptual-hash dedup (multimodal/ImageHash): synthesized
    // ANALYTIC-pixel PNGs round-trip the real JDK codec, hash to the
    // exact-integer 8×8 average-hash, and group by hash with keep-min
    // canonicals. The oracle re-derives the hash from the pixel FORMULA
    // (nearest-neighbor sample + integer mean threshold) — the first
    // multimodal oracle that replays the math, not pinned constants.
    // Hash emitted as (hi, lo) 32-bit halves: exact nonneg integers on
    // both sides, no two's-complement reconstruction in SQL.
    GraftQuery(
      "q115_image_hash_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 25).cast("int").as("pattern"))
        val withPng = graft.multimodal.ImageHash.withSyntheticPng(
          docs, "pattern", "img")
        val hashed = graft.multimodal.ImageHash.withImageHash(
          withPng, "img", "ahash")
        graft.multimodal.ImageHash.duplicateGroups(hashed, "doc_id", "ahash")
          .select(col("doc_id"),
            shiftrightunsigned(col("ahash"), 32).as("ahash_hi"),
            col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"),
            col("canonical_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH g AS (
          SELECT doc_id, j * 8 + i AS k,
            299 * ((28 * i + 13 * (doc_id % 25)) % 256)
            + 587 * ((44 * j + 29 * (doc_id % 25)) % 256)
            + 114 * ((4 * i + 4 * j + (doc_id % 25)) % 256) AS gv
          FROM documents,
            (SELECT unnest(range(0, 8)) AS i),
            (SELECT unnest(range(0, 8)) AS j)),
        means AS (
          SELECT doc_id, CAST(SUM(gv) // 64 AS BIGINT) AS mean
          FROM g GROUP BY 1),
        bits AS (
          SELECT g.doc_id, k,
            CASE WHEN gv > mean THEN 1 ELSE 0 END AS bit
          FROM g JOIN means ON g.doc_id = means.doc_id),
        hashes AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN k >= 32
              THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
              AS BIGINT) AS ahash_hi,
            CAST(SUM(CASE WHEN k < 32
              THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS ahash_lo
          FROM bits GROUP BY 1),
        canon AS (
          SELECT ahash_hi, ahash_lo, MIN(doc_id) AS canonical_id
          FROM hashes GROUP BY 1, 2)
        SELECT h.doc_id, h.ahash_hi, h.ahash_lo, c.canonical_id
        FROM hashes h JOIN canon c
          ON h.ahash_hi = c.ahash_hi AND h.ahash_lo = c.ahash_lo
        ORDER BY h.doc_id""")),

    // Duplicate-cluster size report (dedup/Components.sizeHistogram):
    // q43's clustering reduced to the dedup ops dashboard — how many
    // clusters of each size, how much corpus they hold. The oracle
    // extends q43's recursive-CTE closure with the two-level histogram.
    GraftQuery(
      "q116_cluster_sizes",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = graft.dedup.Dedup.nearDuplicates(
          docs.filter(col("doc_id") < 500), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.85)
        val comp = graft.dedup.Components.connectedComponents(
          pairs, "id_a", "id_b")
        val labeled = docs
          .join(comp, docs("doc_id") === comp("id"), "left")
          .select(coalesce(col("component"), docs("doc_id")).as("component"))
        graft.dedup.Components.sizeHistogram(labeled, "component")
          .orderBy(col("size"))
      },
      Some("""
        WITH RECURSIVE tok AS (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents WHERE doc_id < 500),
        t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(ts) - 1),
            i -> array_to_string(ts[i:i+2], ' '))) AS gs
          FROM tok WHERE len(ts) >= 3),
        e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM t a, t b
          WHERE a.doc_id <> b.doc_id
            AND len(a.gs) > 0 AND len(b.gs) > 0
            AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.85
        ),
        reach AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
          WHERE e2.v <> r.u
        ),
        comp AS (SELECT u AS id, least(u, MIN(v)) AS component
                 FROM reach GROUP BY u),
        lab AS (
          SELECT COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        sizes AS (
          SELECT component, COUNT(*) AS size FROM lab GROUP BY 1)
        SELECT CAST(size AS BIGINT) AS size,
          CAST(COUNT(*) AS BIGINT) AS n_clusters,
          CAST(SUM(size) AS BIGINT) AS n_docs
        FROM sizes GROUP BY size ORDER BY size""")),

    // Count-Min sketch (sketch/CountMin): point-frequency estimates
    // from a fixed depth×width cell table over the KR+affine
    // engine-replayable hash family (params inlined as VALUES, the
    // q108 protocol). Output pairs every estimate with the exact count
    // so the never-underestimates contract is visible in the data;
    // ASCII docs as in q49/q108 for the byte-fold replay.
    GraftQuery(
      "q117_count_min",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
          .select(explode(split(
            graft.text.TextStats.normalize(col("text")), " ")).as("token"))
          .filter(col("token") =!= "")
        // width 16 << vocab so cells genuinely collide and the
        // min-over-rows estimate differs from the exact counts
        val sk = graft.sketch.CountMin.sketch(
          toks, "token", depth = 4, width = 16, seed = 42L)
        val est = graft.sketch.CountMin.estimate(
          sk, toks, "token", depth = 4, width = 16, seed = 42L)
        val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        est.join(exact, est("value") === exact("token"))
          .select(col("value"), col("est"), col("n_exact"))
          .orderBy(col("value"))
      },
      Some {
        val params = graft.dedup.Dedup.hashParams(4, 42L)
        val values = params.zipWithIndex
          .map { case ((a, b), j) => s"($j, ${a}, ${b})" }.mkString(", ")
        s"""
        WITH p(j, a, b) AS (VALUES $values),
        d AS (SELECT text FROM documents
              WHERE NOT regexp_matches(text, '[^ -~]')),
        tok AS (SELECT unnest(list_filter(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
          x -> x <> '')) AS token FROM d),
        tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
               FROM tok GROUP BY 1),
        kr AS (SELECT token, n,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, len(token) + 1),
              i -> CAST(ord(substr(token, i, 1)) AS BIGINT))),
            (acc, ch) -> (acc * 257 + ch) % 2147483647) AS h
          FROM tc),
        cells AS (SELECT p.j AS row_, ((h * p.a + p.b) % 2147483647) % 16
            AS cell, n
          FROM kr CROSS JOIN p),
        sk AS (SELECT row_, cell, CAST(SUM(n) AS BIGINT) AS c
               FROM cells GROUP BY 1, 2),
        qc AS (SELECT kr.token, kr.n, p.j AS row_,
            ((kr.h * p.a + p.b) % 2147483647) % 16 AS cell
          FROM kr CROSS JOIN p)
        SELECT qc.token AS value,
          CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS est,
          CAST(MIN(qc.n) AS BIGINT) AS n_exact
        FROM qc LEFT JOIN sk ON qc.row_ = sk.row_ AND qc.cell = sk.cell
        GROUP BY qc.token
        ORDER BY value"""
      }),

    // Audio perceptual-hash dedup (multimodal/AudioHash): synthesized
    // ANALYTIC-waveform WAVs round-trip the real javax.sound codec,
    // hash to the exact-integer 64-window energy profile, and group by
    // hash — q115's protocol for the audio modality: the oracle
    // re-derives the hash from the sample FORMULA.
    GraftQuery(
      "q118_audio_hash_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 20).cast("int").as("pattern"))
        val withWav = graft.multimodal.AudioHash.withSyntheticWav(
          docs, "pattern", "audio")
        val hashed = graft.multimodal.AudioHash.withAudioHash(
          withWav, "audio", "ahash")
        graft.multimodal.ImageHash.duplicateGroups(hashed, "doc_id", "ahash")
          .select(col("doc_id"),
            shiftrightunsigned(col("ahash"), 32).as("ahash_hi"),
            col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"),
            col("canonical_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH g AS (
          SELECT doc_id, (i * 64) // 640 AS w,
            abs(((i * ((doc_id % 20) + 3)) % 199 - 99) * 300) AS av
          FROM documents, (SELECT unnest(range(0, 640)) AS i)),
        e AS (SELECT doc_id, w, CAST(SUM(av) AS BIGINT) AS ew
              FROM g GROUP BY 1, 2),
        means AS (SELECT doc_id, CAST(SUM(ew) // 64 AS BIGINT) AS mean
                  FROM e GROUP BY 1),
        bits AS (
          SELECT e.doc_id, w AS k,
            CASE WHEN ew > mean THEN 1 ELSE 0 END AS bit
          FROM e JOIN means ON e.doc_id = means.doc_id),
        hashes AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN k >= 32
              THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
              AS BIGINT) AS ahash_hi,
            CAST(SUM(CASE WHEN k < 32
              THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS ahash_lo
          FROM bits GROUP BY 1),
        canon AS (
          SELECT ahash_hi, ahash_lo, MIN(doc_id) AS canonical_id
          FROM hashes GROUP BY 1, 2)
        SELECT h.doc_id, h.ahash_hi, h.ahash_lo, c.canonical_id
        FROM hashes h JOIN canon c
          ON h.ahash_hi = c.ahash_hi AND h.ahash_lo = c.ahash_lo
        ORDER BY h.doc_id""")),

    // Moments sketch (sketch/Moments): per-event-type exact-integer
    // power sums of the quantized value column, built as TWO batch
    // sketches (even/odd user_id — the shards-arrive-separately
    // shape) merged and finished — so the oracle's whole-corpus
    // replay is itself the proof that merge ≡ concatenation. Big
    // integers ride as strings (exact digits on both engines); the
    // only IEEE results are the two single divides of finish.
    GraftQuery(
      "q119_moments_sketch",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val a = graft.sketch.Moments.sketch(
          ev.filter(col("user_id") % 2 === 0), "event_type", "value",
          decimals = 1)
        val b = graft.sketch.Moments.sketch(
          ev.filter(col("user_id") % 2 =!= 0), "event_type", "value",
          decimals = 1)
        graft.sketch.Moments.finish(graft.sketch.Moments.mergeSketches(a, b))
          .select(col("group"), col("n"),
            col("q_absmax").cast("long").as("q_absmax"),
            col("s1").cast("string").as("s1"),
            col("s2").cast("string").as("s2"),
            col("s3").cast("string").as("s3"),
            col("s4").cast("string").as("s4"),
            col("m3_n3").cast("string").as("m3_n3"),
            col("m4_n4").cast("string").as("m4_n4"),
            col("mean_q"), col("var_q2"))
          .orderBy(col("group"))
      },
      Some("""
        WITH q AS (
          SELECT event_type,
            CAST(floor(value * 10.0) AS BIGINT) AS q
          FROM events),
        sums AS (
          SELECT event_type AS grp,
            CAST(COUNT(*) AS HUGEINT) AS n,
            CAST(MAX(abs(q)) AS BIGINT) AS q_absmax,
            CAST(SUM(q) AS HUGEINT) AS s1,
            CAST(SUM(q * q) AS HUGEINT) AS s2,
            CAST(SUM(CAST(q AS HUGEINT) * q * q) AS HUGEINT) AS s3,
            CAST(SUM(CAST(q AS HUGEINT) * q * q * q) AS HUGEINT) AS s4
          FROM q GROUP BY 1)
        SELECT grp AS "group", CAST(n AS BIGINT) AS n, q_absmax,
          CAST(s1 AS VARCHAR) AS s1, CAST(s2 AS VARCHAR) AS s2,
          CAST(s3 AS VARCHAR) AS s3, CAST(s4 AS VARCHAR) AS s4,
          CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
            AS VARCHAR) AS m3_n3,
          CAST(n * n * n * s4 - 4 * n * n * s1 * s3
            + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
            AS VARCHAR) AS m4_n4,
          CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
          CAST(n * s2 - s1 * s1 AS DOUBLE) /
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_q2
        FROM sums
        ORDER BY "group"""")),

    // Link-graph authority (graph/PageRank): damped power iteration in
    // exact integer fixed-point over a deterministic host graph derived
    // from documents (source → 'src'||((doc_id·37 + n_chars) mod 20) —
    // the synthesized-branch protocol of q89/q111/q115). Three
    // iterations, unrolled in the oracle because SQL recursion cannot
    // aggregate over its own recursive term; every step is an integral
    // div, so ranks replay bit-exactly. The convergence GATE runs ON
    // here (driver-visible, not just spec'd): maxResidual 1e8 sits
    // between this graph's measured iteration-2 L1 residual
    // (2.8–2.9e8 across SFs) and iteration-3 (0–3.9e7), so an
    // under-iteration regression fails the whole query loudly while
    // the converged 3-round run passes the unchanged oracle.
    GraftQuery(
      "q120_domain_authority",
      (s, dir) => {
        val e = t(s, dir, "documents")
          .select(col("source").as("src"),
            concat(lit("src"),
              pmod(col("doc_id") * 37 + col("n_chars"), lit(20))
                .cast("string")).as("dst"))
        graft.graph.PageRank.ranks(e, "src", "dst", iterations = 3,
          maxResidual = Some(100000000L))
          .withColumnRenamed("rank", "rank_q")
          .orderBy(col("vertex"))
      },
      Some("""
        WITH e AS (
          SELECT DISTINCT source AS src,
            'src' || CAST((doc_id * 37 + n_chars) % 20 AS VARCHAR) AS dst
          FROM documents),
        v AS (SELECT src AS vx FROM e UNION SELECT dst FROM e),
        od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        r0 AS (SELECT vx, CAST(1000000000 AS BIGINT) AS r FROM v),
        i1 AS (SELECT e.dst AS vx, SUM(r0.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r0 ON r0.vx = e.src
               GROUP BY 1),
        r1 AS (SELECT v.vx, 150000000 + COALESCE(i1.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i1 USING (vx)),
        i2 AS (SELECT e.dst AS vx, SUM(r1.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r1 ON r1.vx = e.src
               GROUP BY 1),
        r2 AS (SELECT v.vx, 150000000 + COALESCE(i2.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i2 USING (vx)),
        i3 AS (SELECT e.dst AS vx, SUM(r2.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r2 ON r2.vx = e.src
               GROUP BY 1),
        r3 AS (SELECT v.vx, 150000000 + COALESCE(i3.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i3 USING (vx))
        SELECT vx AS vertex, CAST(r AS BIGINT) AS rank_q
        FROM r3 ORDER BY vertex""")),

    // Reciprocal-rank fusion (eval/Fusion): two per-language top-10
    // retrieval lists over documents — a length prior (n_chars desc)
    // and a hash pseudo-relevance ((doc_id·37 + n_chars) mod 101 asc),
    // both via GroupLimit's map-side-capped WindowGroupLimit shape —
    // fused into exact integer Q20 scores; n_lists doubles as the
    // agreement signal.
    GraftQuery(
      "q121_rrf_fusion",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val byLength = graft.operators.GroupLimit.topKPerGroup(
          docs, Seq("lang"),
          Seq(desc("n_chars"), asc("doc_id")), 10, rankCol = "r")
        val byHash = graft.operators.GroupLimit.topKPerGroup(
          docs.withColumn("h", pmod(col("doc_id") * 37 + col("n_chars"),
            lit(101))),
          Seq("lang"), Seq(asc("h"), asc("doc_id")), 10, rankCol = "r")
        graft.eval.Fusion.rrfFuse(
          Seq(byLength, byHash), "lang", "doc_id", "r")
          .orderBy(col("query"), col("item"))
      },
      Some("""
        WITH a AS (
          SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
              PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT)
            AS r
          FROM documents QUALIFY r <= 10),
        b AS (
          SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
              PARTITION BY lang
              ORDER BY (doc_id * 37 + n_chars) % 101, doc_id) AS BIGINT)
            AS r
          FROM documents QUALIFY r <= 10),
        u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        SELECT lang AS query, doc_id AS item,
          CAST(SUM(1048576 // (60 + r)) AS BIGINT) AS rrf_q,
          CAST(COUNT(*) AS BIGINT) AS n_lists
        FROM u GROUP BY 1, 2
        ORDER BY query, item""")),

    // Point-in-time-correct trailing features (§2.5 windows, RANGE
    // frame): per-user count/sum/max over the preceding hour AT each
    // event — the leakage-free feature-engineering shape (only past
    // rows enter the frame; a future-peeking frame is the classic
    // train-serve skew bug). RANGE (by time value), not ROWS: ties in
    // ts contribute identically however the shuffle orders them.
    GraftQuery(
      "q122_trailing_features",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourUs = 3600L * 1000000L
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-hourUs, 0L)
        t(s, dir, "events")
          .filter(col("user_id") < 10)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            count(lit(1)).over(w).as("n_1h"),
            sum(col("value").cast("decimal(30,2)")).over(w)
              .cast("double").as("sum_1h"),
            max(col("value")).over(w).as("max_1h"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
          CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER w AS DOUBLE)
            AS sum_1h,
          MAX(value) OVER w AS max_1h
        FROM events
        WHERE user_id < 10
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // Chat-template assembly with loss masks (text/ChatTemplate):
    // documents become 5-turn alternating conversations (doc_id div 5
    // / mod 5 — the synthesized-branch protocol); the oracle replays
    // the render, the cumulative char offsets, and the assistant-only
    // half-open spans byte-exactly. Spans ride as "s-e;s-e" strings
    // (the joined-string form the driver's row sort requires).
    GraftQuery(
      "q123_chat_template",
      (s, dir) => {
        val convs = t(s, dir, "documents")
          .select(expr("doc_id div 5").as("conv"),
            (col("doc_id") % 5).as("turn"),
            when(col("doc_id") % 2 === 0, "user")
              .otherwise("assistant").as("role"),
            col("text"))
        graft.text.ChatTemplate.render(
          convs, "conv", "turn", "role", "text")
          .orderBy(col("conv"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id // 5 AS conv, doc_id % 5 AS turn,
            CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END
              AS role,
            text
          FROM documents),
        r AS (
          SELECT conv, turn, role, text,
            '<|' || role || '|>' || text || chr(10) AS rendered,
            length(role) + 4 AS tag_len
          FROM t),
        o AS (
          SELECT conv, turn, role, rendered, text,
            COALESCE(SUM(length(rendered)) OVER (
              PARTITION BY conv ORDER BY turn
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + tag_len AS s
          FROM r)
        SELECT conv, CAST(COUNT(*) AS BIGINT) AS n_turns,
          string_agg(rendered, '' ORDER BY turn) AS text,
          CAST(SUM(length(rendered)) AS BIGINT) AS total_chars,
          COALESCE(string_agg(CASE WHEN role = 'assistant'
            THEN s || '-' || (s + length(text)) END, ';' ORDER BY turn),
            '') AS loss_spans
        FROM o GROUP BY conv ORDER BY conv""")),

    // Deterministic negative sampling (operators/NegativeSampling):
    // the hash-ring strategy — documents on a circle in KR-hash order
    // (denseIds positions), k global per-rank rotations, one
    // position equi-join; same-label false negatives flagged, not
    // dropped. Rotation hashes inline as VALUES (q117's protocol);
    // the ring hash replays via the list_reduce byte fold.
    GraftQuery(
      "q124_negative_sampling",
      (s, dir) =>
        graft.operators.NegativeSampling.ringNegatives(
          t(s, dir, "documents"), "doc_id", "lang", k = 3)
          .orderBy(col("anchor_id"), col("neg_rank")),
      Some {
        val hs = (1 to 3).map(j =>
          s"($j, ${graft.functions.KrHash.hash(s"neg#$j".getBytes("UTF-8"))})")
          .mkString(", ")
        s"""
        WITH rot(j, h) AS (VALUES $hs),
        keyed AS (
          SELECT doc_id, lang,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(
                range(1, len('neg' || CAST(doc_id AS VARCHAR)) + 1),
                i -> CAST(ord(substr(
                  'neg' || CAST(doc_id AS VARCHAR), i, 1)) AS BIGINT))),
              (acc, ch) -> (acc * 257 + ch) % 2147483647) AS h
          FROM documents),
        ring AS (
          SELECT doc_id, lang, h,
            ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS pos
          FROM keyed),
        nn AS (SELECT COUNT(*) AS n FROM ring),
        anchors AS (
          SELECT r.doc_id AS anchor_id, r.lang AS alab, rot.j AS neg_rank,
            (r.pos + 1 + (rot.h % (nn.n - 1))) % nn.n AS neg_pos
          FROM ring r CROSS JOIN rot CROSS JOIN nn)
        SELECT anchor_id, neg_rank, b.doc_id AS neg_id,
          (alab = b.lang) AS same_label
        FROM anchors JOIN ring b ON anchors.neg_pos = b.pos
        ORDER BY anchor_id, neg_rank"""
      }),

    // Per-group percentile normalization (sketch/Quantiles
    // .withGroupPercentile): every source's lengths onto a common
    // [0,1] rank scale, then ONE global threshold — the per-dump
    // thresholding trick. The engine computes it on the (source,
    // value) histogram (window bounded by distinct values, not rows —
    // a 100 TB source never sorts in one task); the oracle replays
    // with the engine-native PERCENT_RANK() window, pinning that the
    // scale-safe plan computes the standard function.
    GraftQuery(
      "q125_quality_percentile",
      (s, dir) =>
        graft.sketch.Quantiles.withGroupPercentile(
          t(s, dir, "documents").select(
            col("doc_id"), col("source"), col("n_chars")),
          Seq("source"), "n_chars")
          .withColumn("keep", col("pct") >= 0.4)
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, source, n_chars,
          PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars)
            AS pct,
          (PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars)
            >= 0.4) AS keep
        FROM documents
        ORDER BY doc_id""")),

    // Stride-scheduled epoch order (operators/Interleave): sources
    // weighted 1/2/3 by source index mod 3; the oracle replays the
    // per-source KR-hash ranks with a partitioned ROW_NUMBER (the
    // engine computes them scale-safely as global-enumeration minus
    // per-source offsets — same function, q125's proof shape), the
    // exact integer virtual times off inlined strides, and the final
    // total order.
    GraftQuery(
      "q126_interleave_order",
      (s, dir) => {
        val weights = (0 until 20).map(i => s"src$i" -> (1L + i % 3)).toMap
        graft.operators.Interleave.stridedOrder(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", weights)
          .orderBy(col("doc_id"))
      },
      Some {
        val weights = (0 until 20).map(i => s"src$i" -> (1L + i % 3))
        val totalW = weights.map(_._2).sum
        val values = weights.map { case (s, w) =>
          s"('$s', ${totalW * (1L << 20) / w})"
        }.mkString(", ")
        s"""
        WITH w(source, stride) AS (VALUES $values),
        h AS (
          SELECT doc_id, source,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(
                range(1, len('mix' || CAST(doc_id AS VARCHAR)) + 1),
                i -> CAST(ord(substr(
                  'mix' || CAST(doc_id AS VARCHAR), i, 1)) AS BIGINT))),
              (acc, ch) -> (acc * 257 + ch) % 2147483647) AS hh
          FROM documents),
        r AS (
          SELECT doc_id, source,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id)
              - 1 AS src_rank
          FROM h),
        v AS (
          SELECT r.doc_id, r.source, r.src_rank,
            (r.src_rank + 1) * w.stride AS vtime
          FROM r JOIN w USING (source))
        SELECT doc_id, source, src_rank, vtime,
          ROW_NUMBER() OVER (ORDER BY vtime, source, src_rank) - 1
            AS position
        FROM v ORDER BY doc_id"""
      }),

    // Length-bucketed batching (operators/Batching): documents routed
    // to caller-owned n_chars buckets, KR-hash shuffled within the
    // bucket, batches of 16 formed by exact integer div/mod off the
    // scale-safe rank (global enumeration minus per-bucket offsets —
    // the oracle replays with a partitioned ROW_NUMBER, q125/q126's
    // same-function-different-plan proof shape).
    GraftQuery(
      "q127_length_batches",
      (s, dir) =>
        graft.operators.Batching.lengthBucketedBatches(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars",
          boundaries = Seq(200L, 400L, 700L, 100000L), batchSize = 16)
          .orderBy(col("doc_id")),
      Some("""
        WITH h AS (
          SELECT doc_id, n_chars,
            CASE WHEN n_chars <= 200 THEN 200
                 WHEN n_chars <= 400 THEN 400
                 WHEN n_chars <= 700 THEN 700
                 ELSE 100000 END AS bucket_bound,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(
                range(1, len('batch' || CAST(doc_id AS VARCHAR)) + 1),
                i -> CAST(ord(substr(
                  'batch' || CAST(doc_id AS VARCHAR), i, 1)) AS BIGINT))),
              (acc, ch) -> (acc * 257 + ch) % 2147483647) AS hh
          FROM documents),
        r AS (
          SELECT doc_id, n_chars, bucket_bound,
            ROW_NUMBER() OVER (PARTITION BY bucket_bound
              ORDER BY hh, doc_id) - 1 AS rk
          FROM h)
        SELECT doc_id, n_chars, CAST(bucket_bound AS BIGINT)
            AS bucket_bound,
          rk // 16 AS batch_idx, rk % 16 AS pos_in_batch
        FROM r ORDER BY doc_id""")),

    // Stream-static enrichment (streaming.enrichedWindowedCounts):
    // the events stream broadcast-joined to the customer dimension
    // (user_id = c_custkey → market segment) and rolled up per
    // watermarked hour window — the q112 protocol (AvailableNow file
    // stream, append mode, max-event-time cutoff replay), now with
    // the per-micro-batch dimension broadcast in the plan.
    GraftQuery(
      "q128_streaming_enriched",
      (s, dir) => {
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q128_src_")
        val staged = srcDir.resolve("events.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/events.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
        val typed = expr("ts div 1000") // nanos -> micros
        val stream = (src.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            src.withColumn("ts", timestamp_micros(typed))
          case org.apache.spark.sql.types.TimestampNTZType =>
            src.withColumn("ts", col("ts").cast("timestamp"))
          case _ => src
        }).withColumn("value_dec", col("value").cast("decimal(30,2)"))
          .withColumnRenamed("user_id", "c_custkey")
        val dim = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val windows = graft.streaming.Streaming.enrichedWindowedCounts(
          stream, dim, "ts", "c_custkey", "c_mktsegment", "value_dec",
          windowLength = "1 hour", watermark = "0 seconds")
        val out = java.nio.file.Files
          .createTempDirectory("graft_q128_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q128_ckpt_").toString
        // state partitioning sized to the small in-flight state, not
        // the session's batch shuffle width (see withShufflePartitions)
        withShufflePartitions(s, 8) {
          windows.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out)
          .select(unix_micros(col("window_start")).as("window_start_us"),
            col("c_mktsegment"), col("n"),
            col("total_value").cast("double").as("total_value"))
          .orderBy(col("window_start_us"), col("c_mktsegment"))
      },
      Some("""
        WITH e AS (
          SELECT ts, c_mktsegment, CAST(value AS DECIMAL(30,2)) AS v
          FROM events JOIN customer ON events.user_id = customer.c_custkey),
        agg AS (
          SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws,
            c_mktsegment, COUNT(*) AS n,
            CAST(SUM(v) AS DOUBLE) AS total_value
          FROM e GROUP BY 1, 2)
        SELECT ws AS window_start_us, c_mktsegment, n, total_value
        FROM agg
        WHERE ws + 3600000000 <=
          (SELECT MAX(epoch_us(ts)) FROM events)
        ORDER BY 1, 2""")),

    // Exact-integer outlier gate (sketch/Moments.flagOutliers): the
    // per-type 3σ rule with zero floating point — (q·n − Σq)² >
    // 9·(n·Σq² − (Σq)²) cross-multiplied so μ and σ never
    // materialize; flags replay bit-exactly with HUGEINT arithmetic.
    GraftQuery(
      "q129_outlier_gate",
      (s, dir) =>
        graft.sketch.Moments.flagOutliers(
          t(s, dir, "events").select(
            col("event_id"), col("event_type"), col("value")),
          "event_type", "value", decimals = 0, k = 3)
          .select(col("event_id"), col("event_type"), col("q"),
            col("is_outlier"))
          .orderBy(col("event_id")),
      Some("""
        WITH q AS (
          SELECT event_id, event_type,
            CAST(floor(value) AS BIGINT) AS q
          FROM events),
        st AS (
          SELECT event_type,
            CAST(COUNT(*) AS HUGEINT) AS n,
            CAST(SUM(q) AS HUGEINT) AS s1,
            CAST(SUM(q * q) AS HUGEINT) AS s2
          FROM q GROUP BY 1)
        SELECT q.event_id, q.event_type, q.q,
          ((q.q * st.n - st.s1) * (q.q * st.n - st.s1)
            > 9 * (st.n * st.s2 - st.s1 * st.s1)) AS is_outlier
        FROM q JOIN st USING (event_type)
        ORDER BY q.event_id""")),

    // Half-life decayed activity (sketch/Decay): per-event-type
    // recency-weighted counts — a row aged d days contributes
    // 2^20 >> d, exact integers end to end; the corpus max timestamp
    // rides in BNLJ-free on the Scalars constant-key broadcast join.
    GraftQuery(
      "q130_halflife_activity",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"))
        val mx = ev.agg(max(col("us")).as("max_us"))
        val aged = graft.core.Scalars.withScalars(ev, mx)
          .withColumn("age", expr("(max_us - us) div 86400000000"))
        graft.sketch.Decay.halfLifeCounts(aged, "event_type", "age",
          shift = 20)
          .orderBy(col("group"))
      },
      Some("""
        WITH e AS (
          SELECT event_type, epoch_us(ts) AS us FROM events),
        m AS (SELECT MAX(us) AS mx FROM e),
        a AS (SELECT event_type, (mx - us) // 86400000000 AS age
              FROM e, m)
        SELECT event_type AS "group",
          CAST(SUM(CASE WHEN age >= 63 THEN 0
            ELSE 1048576 >> age END) AS BIGINT) AS score_q
        FROM a GROUP BY 1
        ORDER BY "group"""")),

    // Salted skew join (operators/Skew.saltedJoinDeterministic):
    // events with a synthesized
    // hot key (80% of rows collapse onto custkey 0) dimension-joined
    // to customer through 16 salt sub-keys; the oracle replays the
    // PLAIN join — salted ≡ plain is the whole correctness contract.
    GraftQuery(
      "q131_salted_join",
      (s, dir) => {
        val left = t(s, dir, "events")
          .select(col("event_id"),
            when(col("user_id") < 120, 0L).otherwise(col("user_id"))
              .as("key"))
        val right = t(s, dir, "customer")
          .select(col("c_custkey").as("key"), col("c_mktsegment"))
        graft.operators.Skew.saltedJoinDeterministic(
          left, right, "key", "event_id", nSalts = 16)
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT e.event_id,
          CASE WHEN e.user_id < 120 THEN 0 ELSE e.user_id END AS key,
          c.c_mktsegment
        FROM events e JOIN customer c
          ON (CASE WHEN e.user_id < 120 THEN 0 ELSE e.user_id END)
            = c.c_custkey
        ORDER BY e.event_id""")),

    // Token-weighted quantiles (sketch/Quantiles.groupedWeighted):
    // per-language doc-length quantiles ranked by CHAR MASS, not rows
    // — "half the corpus characters sit in docs this long or shorter"
    // (q54's replay shape with summed weights in the histogram).
    GraftQuery(
      "q132_weighted_quantiles",
      (s, dir) =>
        graft.sketch.Quantiles.groupedWeighted(
          t(s, dir, "documents"), Seq("lang"), "n_chars", "n_chars",
          Seq(0.25, 0.5, 0.9))
          .orderBy(col("lang"), col("q")),
      Some("""
        WITH h AS (
          SELECT lang, n_chars AS v, CAST(SUM(n_chars) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2 HAVING SUM(n_chars) > 0),
        w AS (
          SELECT lang, v, c,
            CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT)
              AS cum,
            CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM h),
        e AS (
          SELECT lang, v, cum, n,
            unnest([0.25e0, 0.5e0, 0.9e0]) AS q
          FROM w)
        SELECT lang, q,
          MIN(CASE WHEN cum >= ceil(q * n) THEN v END) AS value
        FROM e GROUP BY lang, q
        ORDER BY lang, q""")),

    // Robust outlier gate (sketch/Quantiles.medianMad): per-type
    // median + MAD over the integer-floored value, gate
    // |q − median| > 3·mad — every quantity an exact data element,
    // so the flags replay with zero epsilon. The robust complement
    // of q129: masking outliers inflate σ but not the MAD.
    GraftQuery(
      "q133_robust_gate",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value")).cast("long").as("q"))
        val stats = graft.sketch.Quantiles.medianMad(
          ev, Seq("event_type"), "q")
        ev.join(stats, "event_type")
          .select(col("event_id"), col("event_type"), col("q"),
            col("median"), col("mad"),
            (abs(col("q") - col("median")) > lit(3L) * col("mad"))
              .as("is_outlier"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH q AS (
          SELECT event_id, event_type,
            CAST(floor(value) AS BIGINT) AS q
          FROM events),
        h AS (SELECT event_type, q AS v, COUNT(*) AS c
              FROM q GROUP BY 1, 2),
        w AS (
          SELECT event_type, v,
            CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v)
              AS BIGINT) AS cum,
            CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM h),
        med AS (
          SELECT event_type,
            MIN(CASE WHEN cum >= ceil(0.5e0 * n) THEN v END) AS median
          FROM w GROUP BY 1),
        dev AS (
          SELECT q.event_type, abs(q.q - med.median) AS d
          FROM q JOIN med USING (event_type)),
        dh AS (SELECT event_type, d AS v, COUNT(*) AS c
               FROM dev GROUP BY 1, 2),
        dw AS (
          SELECT event_type, v,
            CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v)
              AS BIGINT) AS cum,
            CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM dh),
        mad AS (
          SELECT event_type,
            MIN(CASE WHEN cum >= ceil(0.5e0 * n) THEN v END) AS mad
          FROM dw GROUP BY 1)
        SELECT q.event_id, q.event_type, q.q, med.median, mad.mad,
          (abs(q.q - med.median) > 3 * mad.mad) AS is_outlier
        FROM q JOIN med USING (event_type) JOIN mad USING (event_type)
        ORDER BY q.event_id""")),

    // Image Hamming near-dup (the promised seam, closed): q115's
    // real-codec synthetic PNGs hashed, then banded through the
    // GENERIC 64-bit-fingerprint machinery
    // (Dedup.simhashNearDuplicatesFromFingerprints — pigeonhole-
    // complete for maxDistance 3 < chunks 4, so banded ≡ exact), and
    // the oracle replays the EXACT quadratic Hamming enumeration off
    // the pixel-formula hashes: bit_count(xor) over (hi, lo) halves.
    GraftQuery(
      "q134_image_near_dup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), (col("doc_id") % 25).cast("int").as("pattern"))
        val hashed = graft.multimodal.ImageHash.withImageHash(
          graft.multimodal.ImageHash.withSyntheticPng(docs, "pattern", "img"),
          "img", "ahash")
        graft.dedup.Dedup.simhashNearDuplicatesFromFingerprints(
          hashed.select(col("doc_id"), col("ahash")), "doc_id", "ahash",
          maxDistance = 3, chunks = 4)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH g AS (
          SELECT doc_id, j * 8 + i AS k,
            299 * ((28 * i + 13 * (doc_id % 25)) % 256)
            + 587 * ((44 * j + 29 * (doc_id % 25)) % 256)
            + 114 * ((4 * i + 4 * j + (doc_id % 25)) % 256) AS gv
          FROM documents,
            (SELECT unnest(range(0, 8)) AS i),
            (SELECT unnest(range(0, 8)) AS j)
          WHERE doc_id % 5 = 0),
        means AS (
          SELECT doc_id, CAST(SUM(gv) // 64 AS BIGINT) AS mean
          FROM g GROUP BY 1),
        bits AS (
          SELECT g.doc_id, k,
            CASE WHEN gv > mean THEN 1 ELSE 0 END AS bit
          FROM g JOIN means ON g.doc_id = means.doc_id),
        hashes AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN k >= 32
              THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
              AS BIGINT) AS hi,
            CAST(SUM(CASE WHEN k < 32
              THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS lo
          FROM bits GROUP BY 1)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            AS INTEGER) AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        ORDER BY id_a, id_b""")),

    // Streaming moments sketch (streaming.windowedMoments): per-hour
    // per-type exact power sums over the live stream — the q112
    // protocol (AvailableNow, append mode, max-event-time cutoff
    // replay); big integers ride as strings (q119's protocol). The
    // sketch family's live-monitor evidence: the emitted windows are
    // the same mergeable form the batch Moments sketch produces.
    GraftQuery(
      "q135_streaming_moments",
      (s, dir) => {
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q135_src_")
        val staged = srcDir.resolve("events.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/events.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
        val typed = expr("ts div 1000") // nanos -> micros
        val stream = src.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            src.withColumn("ts", timestamp_micros(typed))
          case org.apache.spark.sql.types.TimestampNTZType =>
            src.withColumn("ts", col("ts").cast("timestamp"))
          case _ => src
        }
        val windows = graft.streaming.Streaming.windowedMoments(
          stream, "ts", "event_type", "value", decimals = 0,
          windowLength = "1 hour", watermark = "0 seconds")
        val out = java.nio.file.Files
          .createTempDirectory("graft_q135_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q135_ckpt_").toString
        // state partitioning sized to the small in-flight state, not
        // the session's batch shuffle width (see withShufflePartitions)
        withShufflePartitions(s, 8) {
          windows.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out)
          .select(unix_micros(col("window_start")).as("window_start_us"),
            col("event_type"), col("n"),
            col("q_absmax").cast("long").as("q_absmax"),
            col("s1").cast("string").as("s1"),
            col("s2").cast("string").as("s2"),
            col("s3").cast("string").as("s3"),
            col("s4").cast("string").as("s4"))
          .orderBy(col("window_start_us"), col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws,
            event_type, CAST(floor(value) AS BIGINT) AS q
          FROM events),
        agg AS (
          SELECT ws, event_type, COUNT(*) AS n,
            CAST(MAX(abs(q)) AS BIGINT) AS q_absmax,
            CAST(SUM(q) AS HUGEINT) AS s1,
            CAST(SUM(q * q) AS HUGEINT) AS s2,
            CAST(SUM(CAST(q AS HUGEINT) * q * q) AS HUGEINT) AS s3,
            CAST(SUM(CAST(q AS HUGEINT) * q * q * q) AS HUGEINT) AS s4
          FROM e GROUP BY 1, 2)
        SELECT ws AS window_start_us, event_type, n, q_absmax,
          CAST(s1 AS VARCHAR) AS s1, CAST(s2 AS VARCHAR) AS s2,
          CAST(s3 AS VARCHAR) AS s3, CAST(s4 AS VARCHAR) AS s4
        FROM agg
        WHERE ws + 3600000000 <= (SELECT MAX(epoch_us(ts)) FROM events)
        ORDER BY 1, 2""")),

    // Retrieval metrics (eval/RetrievalMetrics): MRR + NDCG@10 of the
    // per-language length-prior ranking against a data-derived gold
    // set (n_chars % 5 = 0). Position discounts are the Q20 integer
    // log (Dsir.ilog2Q20) precomputed driver-side and inlined as
    // VALUES on both sides — no log evaluates at row scope anywhere.
    GraftQuery(
      "q136_retrieval_metrics",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rk = graft.operators.GroupLimit.topKPerGroup(
          docs, Seq("lang"),
          Seq(desc("n_chars"), asc("doc_id")), 10, rankCol = "r")
        val g = docs.filter(col("n_chars") % 5 === 0)
          .select(col("lang"), col("doc_id"))
        graft.eval.RetrievalMetrics.mrrNdcg(
          rk, g, "lang", "doc_id", "r", k = 10)
          .orderBy(col("query"))
      },
      Some {
        val inv = (1 to 10).map(graft.eval.RetrievalMetrics.invDiscountQ20)
        val prefix = inv.scanLeft(0L)(_ + _).drop(1)
        val invVals = inv.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
        val preVals = prefix.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
        s"""
        WITH inv(i, v) AS (VALUES $invVals),
        pre(i, v) AS (VALUES $preVals),
        rk AS (
          SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
              PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT)
            AS r
          FROM documents QUALIFY r <= 10),
        g AS (SELECT lang, doc_id FROM documents WHERE n_chars % 5 = 0),
        nr AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rel
               FROM g GROUP BY 1),
        h AS (
          SELECT rk.lang, rk.r, (g.doc_id IS NOT NULL) AS rel
          FROM rk LEFT JOIN g
            ON rk.lang = g.lang AND rk.doc_id = g.doc_id),
        pq AS (
          SELECT lang,
            MIN(CASE WHEN rel THEN r END) AS first_rel_rank,
            CAST(SUM(CASE WHEN rel
              THEN (SELECT v FROM inv WHERE i = r) ELSE 0 END)
              AS BIGINT) AS dcg_q
          FROM h GROUP BY 1)
        SELECT pq.lang AS query, COALESCE(nr.n_rel, 0) AS n_rel,
          pq.first_rel_rank,
          COALESCE(1048576 // pq.first_rel_rank, 0) AS mrr_q,
          pq.dcg_q,
          CASE WHEN COALESCE(nr.n_rel, 0) > 0
            THEN (SELECT v FROM pre WHERE i = LEAST(nr.n_rel, 10)) END
            AS idcg_q,
          CASE WHEN COALESCE(nr.n_rel, 0) > 0
            THEN CAST(pq.dcg_q AS DOUBLE) /
              CAST((SELECT v FROM pre WHERE i = LEAST(nr.n_rel, 10))
                AS DOUBLE) END AS ndcg
        FROM pq LEFT JOIN nr ON pq.lang = nr.lang
        ORDER BY query"""
      }),

    // Cohort retention (operators/Cohorts.retention): users bucketed
    // by first-activity DAY, distinct-user counts per (cohort, day
    // offset) — the retention triangle off two map-side-combinable
    // aggregates; period derivation is the caller's integral div.
    GraftQuery(
      "q137_cohort_retention",
      (s, dir) =>
        graft.operators.Cohorts.retention(
          t(s, dir, "events")
            .select(col("user_id"),
              expr("unix_micros(ts) div 86400000000").as("day")),
          "user_id", "day")
          .orderBy(col("cohort"), col("offset")),
      Some("""
        WITH e AS (
          SELECT DISTINCT user_id AS u,
            epoch_us(ts) // 86400000000 AS period
          FROM events),
        c AS (SELECT u, MIN(period) AS cohort FROM e GROUP BY 1)
        SELECT c.cohort, e.period - c.cohort AS "offset",
          CAST(COUNT(*) AS BIGINT) AS n_users
        FROM e JOIN c ON e.u = c.u
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Ordered funnel (operators/Cohorts.orderedFunnel): view → click
    // → purchase with STRICT first-qualifying-timestamp ordering —
    // each stage anchors at the user's min event time strictly after
    // the previous anchor, so pre-view clicks (bot traffic) never
    // count as conversions.
    GraftQuery(
      "q138_ordered_funnel",
      (s, dir) =>
        graft.operators.Cohorts.orderedFunnel(
          t(s, dir, "events")
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("us")),
          "user_id", "event_type", "us",
          Seq("view", "click", "purchase"))
          .orderBy(col("stage_idx")),
      Some("""
        WITH e AS (
          SELECT user_id AS u, event_type AS stage, epoch_us(ts) AS t
          FROM events),
        a1 AS (SELECT u, MIN(t) AS anchor FROM e
               WHERE stage = 'view' GROUP BY 1),
        a2 AS (SELECT e.u, MIN(e.t) AS anchor FROM e
               JOIN a1 ON e.u = a1.u
               WHERE e.stage = 'click' AND e.t > a1.anchor GROUP BY 1),
        a3 AS (SELECT e.u, MIN(e.t) AS anchor FROM e
               JOIN a2 ON e.u = a2.u
               WHERE e.stage = 'purchase' AND e.t > a2.anchor GROUP BY 1)
        SELECT 0 AS stage_idx, 'view' AS stage,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM a1) AS n_users
        UNION ALL SELECT 1, 'click',
          (SELECT CAST(COUNT(*) AS BIGINT) FROM a2)
        UNION ALL SELECT 2, 'purchase',
          (SELECT CAST(COUNT(*) AS BIGINT) FROM a3)
        ORDER BY stage_idx""")),

    // Compacted dedup index (dedup/DedupIndex.compact): q99's
    // base+segment build COMPACTED back into one base (derived-table
    // merge — the corpus text is never re-read), then q62/q99's exact
    // query and oracle run against it VERBATIM — green means the
    // full LSM lifecycle (build → append → compact) is invisible in
    // results.
    GraftQuery(
      "q139_dedup_index_compact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val idx = dedupCompactIndexFor(s, dir, docs.filter(col("doc_id") < 400))
        graft.dedup.DedupIndex.dedupAgainst(
          docs.filter(col("doc_id") >= 400), idx, "doc_id", "text",
          threshold = 0.9)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents
        ),
        corpus AS (SELECT * FROM d WHERE doc_id < 400),
        batch AS (SELECT * FROM d WHERE doc_id >= 400)
        SELECT b.doc_id FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = b.t)
          AND NOT EXISTS (
            SELECT 1 FROM corpus c
            WHERE CAST(len(list_intersect(b.toks, c.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(b.toks, c.toks))) >= 0.9)
        ORDER BY 1""")),

    // Positional inverted index (text/InvertedIndex.postings): one row
    // per (token, doc) with exact corpus-wide df, per-doc tf, and the
    // sorted position list as CSV. ONE shuffle total — an explicit
    // repartition(token) whose partitioning satisfies both the
    // (token, doc) group-by and the per-token df/cap window, so
    // Catalyst adds no second exchange. Posting lists are capped at the
    // 12 lowest doc ids per token while df stays exact over all docs
    // (the stop-word row stays bounded at any corpus size).
    GraftQuery(
      "q140_inverted_index",
      (s, dir) =>
        graft.text.InvertedIndex.postings(
          t(s, dir, "documents"), "doc_id", "text",
          minDf = 5, maxDocs = 12)
          .orderBy(col("token"), col("doc_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, list_filter(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '') AS l
          FROM documents),
        toks AS (
          SELECT doc_id, l[CAST(i AS BIGINT)] AS token,
                 CAST(i AS BIGINT) AS pos
          FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM d)),
        g AS (
          SELECT token, doc_id, COUNT(*) AS tf,
                 string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)
                   AS positions
          FROM toks GROUP BY token, doc_id),
        w AS (
          SELECT token, doc_id, tf, positions,
                 COUNT(*) OVER (PARTITION BY token) AS df,
                 ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
          FROM g)
        SELECT token, doc_id, df, tf, positions
        FROM w WHERE df >= 5 AND rn <= 12
        ORDER BY token, doc_id""")),

    // Phrase search (text/InvertedIndex.phraseSearch): documents
    // containing "value table part" as consecutive tokens. The token
    // stream is filtered to the phrase's 3 terms BEFORE any join
    // (selective isin over the map-only posexplode), then 2 equi-joins
    // on (doc, pos + offset) — no window, no cartesian path, each join
    // side already tiny at any corpus size.
    GraftQuery(
      "q141_phrase_search",
      (s, dir) =>
        graft.text.InvertedIndex.phraseSearch(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("value", "table", "part"))
          .select(col("doc_id"), col("n_matches"),
            col("first_pos").cast("long").as("first_pos"))
          .orderBy(col("doc_id")),
      Some(phraseOracleSql)),

    // BPE merge learning (text/Bpe.learnMerges): 6 merge steps over the
    // corpus word-frequency table — the "train a tokenizer" step of an
    // LLM pipeline. The corpus-sized work is ONE token-count pass; each
    // step then runs on the vocabulary-sized table (pair explode +
    // argmax with count-desc/lexicographic tie-break + literal
    // replace). The oracle replays all 6 steps as unrolled CTE stages —
    // the merge choices themselves are checked, not just the final
    // segmentation.
    GraftQuery(
      "q142_bpe_merges",
      (s, dir) => {
        val words = graft.text.Bpe.wordFrequencies(
          t(s, dir, "documents"), "doc_id", "text")
        val merges = graft.text.Bpe.learnMerges(words, BpeSteps)
        import s.implicits._
        merges.map(m => (m.step, m.left, m.right, m.merged, m.pairCount))
          .toDF("step", "left_sym", "right_sym", "merged", "pair_count")
          .orderBy(col("step"))
      },
      Some(bpeOracle(BpeSteps,
        """SELECT step, l AS left_sym, r AS right_sym, merged, pair_count
           FROM BEST ORDER BY step"""))),

    // BPE segmentation (text/Bpe.applyMerges): the 6 learned merges
    // applied back to the full vocabulary — every word's final subword
    // split. Oracle = the unrolled replay's final rep table, so the
    // greedy-leftmost replace semantics (back-to-back merges included)
    // are pinned end-to-end, per word.
    GraftQuery(
      "q143_bpe_segments",
      (s, dir) => {
        val words = graft.text.Bpe.wordFrequencies(
          t(s, dir, "documents"), "doc_id", "text")
        val merges = graft.text.Bpe.learnMerges(words, BpeSteps)
        graft.text.Bpe.applyMerges(words, "word", merges)
          .select(col("word"), col("freq"), col("segments"))
          .orderBy(col("word"))
      },
      Some(bpeOracle(BpeSteps,
        """SELECT word, freq, rtrim(rep) AS segments
           FROM FINAL ORDER BY word"""))),

    // Streaming windowed HLL distinct sketch
    // (streaming/Streaming.windowedDistinctSketch): distinct users per
    // (hour, event_type) estimated live — registers stream through the
    // q135 AvailableNow file-source→parquet-sink loop, then the BATCH
    // Hll.estimate finishes the read-back registers (the
    // stream-then-merge deployment shape). Oracle replays q101's
    // md5-register HLL per hour window with q135's append-mode
    // emission rule (only windows the final watermark closed).
    GraftQuery(
      "q144_streaming_hll",
      (s, dir) => {
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q144_src_")
        val staged = srcDir.resolve("events.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/events.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/events.parquet").schema)
          .parquet(srcDir.toString)
        val typed = expr("ts div 1000") // nanos -> micros
        val stream = src.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            src.withColumn("ts", timestamp_micros(typed))
          case org.apache.spark.sql.types.TimestampNTZType =>
            src.withColumn("ts", col("ts").cast("timestamp"))
          case _ => src
        }
        val regs = graft.streaming.Streaming.windowedDistinctSketch(
          stream, "ts", "event_type", col("user_id").cast("string"),
          p = 8, windowLength = "1 hour", watermark = "0 seconds")
        val out = java.nio.file.Files
          .createTempDirectory("graft_q144_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q144_ckpt_").toString
        // state partitioning sized to the small in-flight state, not
        // the session's batch shuffle width (see withShufflePartitions)
        withShufflePartitions(s, 8) {
          regs.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        graft.sketch.Hll.estimate(
          s.read.parquet(out), Seq("window_start", "event_type"), p = 8)
          .select(unix_micros(col("window_start")).as("window_start_us"),
            col("event_type"), col("v_zero"), col("s_scaled"),
            col("est_distinct"))
          .orderBy(col("window_start_us"), col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws,
            event_type, CAST(user_id AS VARCHAR) AS u
          FROM events),
        h AS (
          SELECT ws, event_type,
            ('0x' || substr(md5(u), 1, 15))::BIGINT AS hv
          FROM e),
        b AS (
          SELECT ws, event_type, hv >> 52 AS bucket,
            hv & ((CAST(1 AS BIGINT) << 52) - 1) AS rest
          FROM h),
        r AS (
          SELECT ws, event_type, bucket,
            MAX(CASE WHEN rest = 0 THEN 53
                     ELSE 53 - length(bin(rest)) END) AS rho
          FROM b GROUP BY ws, event_type, bucket),
        agg AS (
          SELECT ws, event_type, COUNT(*) AS nb,
            CAST(SUM(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT) AS sp
          FROM r GROUP BY ws, event_type)
        SELECT ws AS window_start_us, event_type,
          CAST(256 - nb AS BIGINT) AS v_zero,
          CAST(sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
            AS s_scaled,
          CAST(0.7213 AS DOUBLE)
            / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
            * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
            * CAST(9007199254740992 AS DOUBLE)
            / CAST(sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
            AS est_distinct
        FROM agg
        WHERE ws + 3600000000 <= (SELECT MAX(epoch_us(ts)) FROM events)
        ORDER BY 1, 2""")),

    // SCD2 history build (operators/Scd.scd2): each user's event_type
    // change stream collapsed into validity intervals with
    // valid_from/valid_to/is_current — the warehouse-standard versioned
    // dimension the as-of join (q19/q20) then probes. Both window
    // passes share one hashpartitioning(user_id) exchange
    // (ScdSpec pins the single-exchange plan). Total order per key is
    // (ts, event_id) — event_id is the tie-break.
    GraftQuery(
      "q145_scd2",
      (s, dir) =>
        graft.operators.Scd.scd2(
          t(s, dir, "events").filter(col("user_id") < 200)
            .withColumn("us", unix_micros(col("ts"))),
          Seq("user_id"), "us", "event_type", Seq("event_id"))
          .select(col("user_id"), col("status"),
            col("valid_from").as("valid_from_us"),
            col("valid_to").as("valid_to_us"), col("is_current"))
          .orderBy(col("user_id"), col("valid_from_us")),
      Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS us, event_id, event_type
          FROM events WHERE user_id < 200),
        c AS (
          SELECT *, lag(event_type) OVER w AS prev
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        ch AS (
          SELECT user_id, us, event_id, event_type FROM c
          WHERE prev IS NULL OR prev <> event_type),
        v AS (
          SELECT user_id, event_type AS status, us AS valid_from_us,
            lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
              AS valid_to_us
          FROM ch)
        SELECT user_id, status, valid_from_us, valid_to_us,
          valid_to_us IS NULL AS is_current
        FROM v ORDER BY user_id, valid_from_us""")),

    // CUBE rollup (§2.4 completeness): all four grouping combinations
    // of (event_type, day) in ONE pass — Catalyst's Expand feeds a
    // single hash aggregate, vs four scans for four GROUP BYs.
    // Subtotal rows are labeled 'ALL' via grouping() on BOTH engines
    // (a raw NULL group label would collide with genuinely-null data
    // and render engine-differently through pandas).
    GraftQuery(
      "q146_cube_rollup",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            col("value"))
          .cube(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"),
            grouping(col("event_type")).as("__g_et"),
            grouping(col("day")).as("__g_day"))
          .select(
            when(col("__g_et") === 1, lit("ALL"))
              .otherwise(col("event_type")).as("event_type"),
            when(col("__g_day") === 1, lit(-1L))
              .otherwise(col("day")).as("day"),
            col("n"), col("total_value"))
          .orderBy(col("event_type"), col("day")),
      Some("""
        WITH e AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day, value
          FROM events)
        SELECT
          CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
               ELSE event_type END AS event_type,
          CASE WHEN GROUPING(day) = 1 THEN -1 ELSE day END AS day,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
        FROM e GROUP BY CUBE(event_type, day)
        ORDER BY 1, 2""")),

    // One-pass column profiler (operators/Profile.profile): the
    // data-quality summary an ingest gate runs on every drop — per
    // column: rows, nulls, EXACT distinct, type-directed min/max — all
    // in one aggregate over one scan (Expand×HashAggregate for the
    // multi-distinct). Long format: one row per column, so downstream
    // assertions are plain filters and successive drops diff row-wise.
    GraftQuery(
      "q147_profile",
      (s, dir) =>
        graft.operators.Profile.profile(t(s, dir, "events"))
          .orderBy(col("column_name")),
      Some("""
        WITH p AS (
          SELECT 'event_id' AS column_name, 'bigint' AS dtype,
            COUNT(*) AS n_rows,
            COUNT(*) - COUNT(event_id) AS n_nulls,
            COUNT(DISTINCT event_id) AS n_distinct,
            CAST(MIN(event_id) AS DOUBLE) AS min_num,
            CAST(MAX(event_id) AS DOUBLE) AS max_num,
            '' AS min_str, '' AS max_str
          FROM events
          UNION ALL
          SELECT 'ts', 'timestamp', COUNT(*), COUNT(*) - COUNT(ts),
            COUNT(DISTINCT ts),
            CAST(MIN(epoch_us(ts)) AS DOUBLE),
            CAST(MAX(epoch_us(ts)) AS DOUBLE), '', ''
          FROM events
          UNION ALL
          SELECT 'user_id', 'bigint', COUNT(*), COUNT(*) - COUNT(user_id),
            COUNT(DISTINCT user_id),
            CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
            '', ''
          FROM events
          UNION ALL
          SELECT 'event_type', 'string', COUNT(*),
            COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type),
            NULL, NULL,
            COALESCE(MIN(event_type), ''), COALESCE(MAX(event_type), '')
          FROM events
          UNION ALL
          SELECT 'value', 'double', COUNT(*), COUNT(*) - COUNT(value),
            COUNT(DISTINCT value),
            CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE), '', ''
          FROM events
          UNION ALL
          SELECT 'props', 'string', COUNT(*), COUNT(*) - COUNT(props),
            COUNT(DISTINCT props),
            NULL, NULL,
            COALESCE(MIN(props), ''), COALESCE(MAX(props), '')
          FROM events)
        SELECT column_name, dtype, n_rows, n_nulls, n_distinct,
          CAST(min_num AS DOUBLE) AS min_num,
          CAST(max_num AS DOUBLE) AS max_num, min_str, max_str
        FROM p ORDER BY column_name""")),

    // Phrase search served FROM the on-disk postings index
    // (text/InvertedIndex.phraseSearchFromPostings): q141's query
    // against q141's ORACLE VERBATIM, but the corpus text is never
    // re-read — positions parse out of the stored CSV of a
    // written-once parquet postings table (build paid once, cached per
    // dir like the dedup/IVF indexes; Bench's warmup pays it). Green
    // means index-served ≡ direct, the same contract q62 pins for
    // dedup.
    GraftQuery(
      "q148_phrase_via_index",
      (s, dir) =>
        graft.text.InvertedIndex.phraseSearchFromPostings(
          postingsIndexFor(s, dir), "doc_id",
          Seq("value", "table", "part"))
          .select(col("doc_id"), col("n_matches"),
            col("first_pos").cast("long").as("first_pos"))
          .orderBy(col("doc_id")),
      Some(phraseOracleSql)),

    // Event-sequence pattern matching (operators/Patterns.matchPattern,
    // MATCH_RECOGNIZE-lite): each user's ordered history folded to a
    // symbol string (view→v, click→c, purchase→p; signup/error
    // dropped), then non-overlapping `vc*p` matches counted — the
    // regex-general form of q138's structural funnel. One groupBy; the
    // shuffle carries one char + order columns per event. The regex
    // subset is RE2-safe, so DuckDB replays match-for-match.
    GraftQuery(
      "q149_event_pattern",
      (s, dir) =>
        graft.operators.Patterns.matchPattern(
          t(s, dir, "events"), Seq("user_id"), "ts", "event_type",
          Map("view" -> "v", "click" -> "c", "purchase" -> "p"),
          pattern = "vc*p", tieCols = Seq("event_id"))
          .orderBy(col("user_id")),
      Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS us, event_id,
            CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                 WHEN 'purchase' THEN 'p' END AS sym
          FROM events),
        s AS (
          SELECT user_id,
            string_agg(sym, '' ORDER BY us, event_id) AS seq
          FROM e WHERE sym IS NOT NULL GROUP BY user_id)
        SELECT user_id, seq, CAST(length(seq) AS BIGINT) AS seq_len,
          CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_matches
        FROM s ORDER BY user_id""")),

    // Stream-stream interval join (streaming/Streaming
    // .streamIntervalJoin): click→view attribution — every click
    // within 30 minutes after a matching view, both sides live
    // streams. The event-time range condition in the join is what
    // bounds state (left rows evictable once the right watermark
    // passes view_ts + 30min). The single staged file makes
    // AvailableNow one micro-batch, so no row can be late-dropped and
    // the oracle is the plain batch interval join.
    GraftQuery(
      "q150_stream_interval_join",
      (s, dir) => {
        val srcDir = java.nio.file.Files.createTempDirectory("graft_q150_src_")
        val staged = srcDir.resolve("events.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/events.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        def stream(): DataFrame = {
          val src = s.readStream
            .schema(s.read.parquet(s"$dir/events.parquet").schema)
            .parquet(srcDir.toString)
          val typed = expr("ts div 1000") // nanos -> micros
          src.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType =>
              src.withColumn("ts", timestamp_micros(typed))
            case org.apache.spark.sql.types.TimestampNTZType =>
              src.withColumn("ts", col("ts").cast("timestamp"))
            case _ => src
          }
        }
        val views = stream()
          .filter(col("event_type") === "view" && col("user_id") < 100)
          .select(col("user_id"), col("ts").as("view_ts"),
            col("event_id").as("view_id"))
        val clicks = stream()
          .filter(col("event_type") === "click" && col("user_id") < 100)
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
        val joined = graft.streaming.Streaming.streamIntervalJoin(
          views, clicks, Seq("user_id"), "view_ts", "click_ts",
          lowerBound = "0 seconds", upperBound = "30 minutes",
          watermark = "0 seconds")
        val out = java.nio.file.Files
          .createTempDirectory("graft_q150_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q150_ckpt_").toString
        // state partitioning sized to the (tiny) attribution-window
        // state, not the session's batch shuffle width — a
        // stream-stream join plants FOUR state stores per partition
        withShufflePartitions(s, 8) {
          joined.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out)
          .select(col("user_id"), col("view_id"), col("click_id"),
            unix_micros(col("view_ts")).as("view_us"),
            unix_micros(col("click_ts")).as("click_us"))
          .orderBy(col("user_id"), col("view_id"), col("click_id"))
      },
      Some("""
        WITH v AS (
          SELECT user_id, epoch_us(ts) AS vus, event_id AS view_id
          FROM events WHERE event_type = 'view' AND user_id < 100),
        c AS (
          SELECT user_id, epoch_us(ts) AS cus, event_id AS click_id
          FROM events WHERE event_type = 'click' AND user_id < 100)
        SELECT v.user_id, v.view_id, c.click_id,
          v.vus AS view_us, c.cus AS click_us
        FROM v JOIN c ON c.user_id = v.user_id
          AND c.cus >= v.vus AND c.cus <= v.vus + 1800000000
        ORDER BY 1, 2, 3""")),

    // Changelog upsert (operators/Cdc.applyChangelog): incremental
    // snapshot maintenance — MERGE INTO as a batch operator. The
    // changelog is synthesized deterministically from `orders` over the
    // `customer` snapshot: every 4th order is a change to its customer
    // (seq = o_orderkey, last-writer-wins), %17 orders are deletes,
    // %13 orders insert a brand-new key (custkey + 1e6). The oracle
    // replays the winner window + full-outer merge. Payload values
    // pass through untouched (no arithmetic), so doubles are bit-exact.
    GraftQuery(
      "q151_changelog_upsert",
      (s, dir) => {
        val snap = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val k = when(col("o_orderkey") % 13 === 0,
          col("o_custkey") + 1000000L).otherwise(col("o_custkey"))
        val changes = t(s, dir, "orders")
          .filter(col("o_orderkey") % 4 === 0)
          .select(
            k.as("c_custkey"),
            col("o_orderkey").as("seq"),
            when(col("o_orderkey") % 17 === 0, lit("D"))
              .when(col("o_orderkey") % 13 === 0, lit("I"))
              .otherwise(lit("U")).as("op"),
            concat(lit("cust-"), k.cast("string")).as("c_name"),
            col("o_totalprice").as("c_acctbal"))
        graft.operators.Cdc.applyChangelog(
          snap, changes, Seq("c_custkey"), "seq", "op")
          .orderBy(col("c_custkey"))
      },
      Some("""
        WITH snap AS (
          SELECT c_custkey, c_name, c_acctbal FROM customer),
        ch AS (
          SELECT
            CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1000000
                 ELSE o_custkey END AS k,
            o_orderkey AS seq,
            CASE WHEN o_orderkey % 17 = 0 THEN 'D'
                 WHEN o_orderkey % 13 = 0 THEN 'I' ELSE 'U' END AS op,
            'cust-' || CAST(CASE WHEN o_orderkey % 13 = 0
                 THEN o_custkey + 1000000
                 ELSE o_custkey END AS VARCHAR) AS c_name,
            o_totalprice AS c_acctbal
          FROM orders WHERE o_orderkey % 4 = 0),
        w AS (
          SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC)
            AS rn FROM ch),
        win AS (SELECT k, op, c_name, c_acctbal FROM w WHERE rn = 1)
        SELECT COALESCE(s.c_custkey, win.k) AS c_custkey,
          CASE WHEN win.op IS NOT NULL THEN win.c_name
               ELSE s.c_name END AS c_name,
          CASE WHEN win.op IS NOT NULL THEN win.c_acctbal
               ELSE s.c_acctbal END AS c_acctbal
        FROM snap s FULL OUTER JOIN win ON s.c_custkey = win.k
        WHERE win.op IS NULL OR win.op <> 'D'
        ORDER BY c_custkey""")),

    // Schema-evolution union (types/Evolve.unionByNameWidened): two
    // synthetic generations of lineitem — an old one with int keys /
    // float discounts and no l_returnflag, a new one with the wide
    // types plus the extra column — read as ONE table under the
    // reconciled schema (int→long, float→double, missing→NULL). The
    // oracle replays the per-generation casts and the union; the
    // float→double round-trip is IEEE-exact in both engines.
    GraftQuery(
      "q152_schema_evolution_union",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val old = li.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey").cast("int").as("l_orderkey"),
            col("l_linenumber"),
            col("l_discount").cast("float").as("l_discount"))
        val neu = li.filter(col("l_orderkey") % 2 === 1)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_discount"), col("l_returnflag"))
        graft.types.Evolve.unionByNameWidened(Seq(old, neu))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, l_linenumber,
          CAST(CAST(l_discount AS REAL) AS DOUBLE) AS l_discount,
          NULL AS l_returnflag
        FROM lineitem WHERE l_orderkey % 2 = 0
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_discount, l_returnflag
        FROM lineitem WHERE l_orderkey % 2 = 1
        ORDER BY l_orderkey, l_linenumber""")),

    // k-anonymity suppression (operators/Anonymize.suppressBelowK):
    // the row-level privacy gate beside PII redaction (q41) — customers
    // whose (nation, market segment) quasi-identifier tuple is shared
    // by fewer than k=12 customers are suppressed. Exact group counts
    // (a sketch undercounting a group would LEAK rows), one aggregate +
    // one join-back against the |QI-domain|-sized qualifying table.
    GraftQuery(
      "q153_k_anonymity",
      (s, dir) =>
        graft.operators.Anonymize.suppressBelowK(
          t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"),
              col("c_mktsegment")),
          Seq("c_nationkey", "c_mktsegment"), 12L)
          .orderBy(col("c_custkey")),
      Some("""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
          FROM customer GROUP BY 1, 2 HAVING COUNT(*) >= 12)
        SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment
        FROM customer c
        JOIN g ON c.c_nationkey = g.c_nationkey
          AND c.c_mktsegment = g.c_mktsegment
        ORDER BY c.c_custkey"""))
  ,

    // Head-coverage cut (operators/Coverage.headCoverage): "which
    // (lang, source) slices hold 80% of the corpus character mass" —
    // the head/tail curation analysis. Integer rational target
    // (ceil(80·total/100)), rank = dense id in (mass desc, lang,
    // source) order, cumulative mass via the Packing-style two-level
    // rank-bucket scan. The oracle replays with plain window cumsums
    // (its table is group-sized; the engine path never global-windows).
    GraftQuery(
      "q154_head_coverage",
      (s, dir) =>
        graft.operators.Coverage.headCoverage(
          t(s, dir, "documents").select(col("lang"), col("source"),
            col("n_chars")),
          Seq("lang", "source"), "n_chars", 80L, 100L)
          .orderBy(col("rank")),
      Some("""
        WITH g AS (
          SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS mass
          FROM documents GROUP BY 1, 2),
        r AS (
          SELECT *, row_number()
            OVER (ORDER BY mass DESC, lang, source) - 1 AS rank
          FROM g),
        c AS (
          SELECT *,
            CAST(SUM(mass) OVER (ORDER BY rank) AS BIGINT) AS cum_mass,
            CAST(SUM(mass) OVER () AS BIGINT) AS total
          FROM r)
        SELECT lang, source, mass, rank, cum_mass,
          (cum_mass - mass) < ((80 * total + 99) // 100) AS in_head
        FROM c ORDER BY rank""")),

    // Streaming changelog → maintained snapshot
    // (streaming/Streaming.changelogSnapshotSink over
    // operators/Cdc.mergeVersioned): q151's changelog REPLAYED AS A
    // STREAM — staged as 4 parquet files consumed one per micro-batch
    // (maxFilesPerTrigger=1), so change seqs interleave arbitrarily
    // across batch boundaries. The versioned merge (strict per-key seq
    // comparison + delete tombstones) makes the final state identical
    // to the one-shot batch apply, so the oracle IS q151's oracle:
    // batch/stream equivalence checked end to end through a real
    // file-stream → foreachBatch → parquet-state loop.
    GraftQuery(
      "q155_streaming_changelog",
      (s, dir) => {
        val k = when(col("o_orderkey") % 13 === 0,
          col("o_custkey") + 1000000L).otherwise(col("o_custkey"))
        val changes = t(s, dir, "orders")
          .filter(col("o_orderkey") % 4 === 0)
          .select(
            k.as("c_custkey"),
            col("o_orderkey").as("seq"),
            when(col("o_orderkey") % 17 === 0, lit("D"))
              .when(col("o_orderkey") % 13 === 0, lit("I"))
              .otherwise(lit("U")).as("op"),
            concat(lit("cust-"), k.cast("string")).as("c_name"),
            col("o_totalprice").as("c_acctbal"))
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft_q155_src_").toString
        changes.repartition(4).write.mode("overwrite").parquet(srcDir)
        val statePath = java.nio.file.Files
          .createTempDirectory("graft_q155_state_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q155_ckpt_").toString
        val stream = s.readStream
          .schema(changes.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)
        val initial = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        withShufflePartitions(s, 8) {
          graft.streaming.Streaming.changelogSnapshotSink(
            stream, Seq("c_custkey"), "seq", "op",
            statePath, ckpt, Some(initial))
            .awaitTermination()
        }
        val out = graft.operators.Cdc.currentView(
          s.read.parquet(s"$statePath/state"))
          .orderBy(col("c_custkey"))
          // the state path is deleted below: materialize first
          .localCheckpoint(true)
        deleteTree(java.nio.file.Paths.get(srcDir))
        deleteTree(java.nio.file.Paths.get(ckpt))
        deleteTree(java.nio.file.Paths.get(statePath))
        out
      },
      Some("""
        WITH snap AS (
          SELECT c_custkey, c_name, c_acctbal FROM customer),
        ch AS (
          SELECT
            CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1000000
                 ELSE o_custkey END AS k,
            o_orderkey AS seq,
            CASE WHEN o_orderkey % 17 = 0 THEN 'D'
                 WHEN o_orderkey % 13 = 0 THEN 'I' ELSE 'U' END AS op,
            'cust-' || CAST(CASE WHEN o_orderkey % 13 = 0
                 THEN o_custkey + 1000000
                 ELSE o_custkey END AS VARCHAR) AS c_name,
            o_totalprice AS c_acctbal
          FROM orders WHERE o_orderkey % 4 = 0),
        w AS (
          SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC)
            AS rn FROM ch),
        win AS (SELECT k, op, c_name, c_acctbal FROM w WHERE rn = 1)
        SELECT COALESCE(s.c_custkey, win.k) AS c_custkey,
          CASE WHEN win.op IS NOT NULL THEN win.c_name
               ELSE s.c_name END AS c_name,
          CASE WHEN win.op IS NOT NULL THEN win.c_acctbal
               ELSE s.c_acctbal END AS c_acctbal
        FROM snap s FULL OUTER JOIN win ON s.c_custkey = win.k
        WHERE win.op IS NULL OR win.op <> 'D'
        ORDER BY c_custkey""")),

    // The hashing trick (operators/FeatureHash): vocabulary-free
    // categorical featurization — per customer a hashed segment bucket
    // (dim 256), a hashed segment×nation CROSS bucket (dim 2^20, unit
    // separator keeping conjunctions unambiguous), and Weinberger's ±1
    // sign off bit 30. All on the replayable Karp-Rabin squared hash
    // ([[Splits]] contract), which is what lets DuckDB replay every
    // bucket exactly — xxhash64 would be a black box to the oracle.
    GraftQuery(
      "q156_feature_hashing",
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
          .withColumn("f_seg", graft.operators.FeatureHash.hashFeature(
            col("c_mktsegment"), 256, salt = "v1"))
          .withColumn("f_cross", graft.operators.FeatureHash.hashCross(
            Seq(col("c_mktsegment"), col("c_nationkey")), 1 << 20,
            salt = "v1"))
          .withColumn("f_sign", graft.operators.FeatureHash.hashSign(
            col("c_mktsegment"), salt = "v1"))
          .select(col("c_custkey"), col("f_seg"), col("f_cross"),
            col("f_sign"))
          .orderBy(col("c_custkey")),
      Some("""
        WITH k AS (
          SELECT c_custkey,
            c_mktsegment || ':v1' AS k1,
            c_mktsegment || chr(31) || CAST(c_nationkey AS VARCHAR) ||
              ':v1' AS k2
          FROM customer),
        h AS (
          SELECT c_custkey,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(k1) + 1),
                i -> CAST(ord(substr(k1, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS h1,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(k2) + 1),
                i -> CAST(ord(substr(k2, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS h2
          FROM k),
        q AS (
          SELECT c_custkey,
            (h1 * h1) % 2147483647 AS q1,
            (h2 * h2) % 2147483647 AS q2
          FROM h)
        SELECT c_custkey,
          q1 % 256 AS f_seg,
          q2 % 1048576 AS f_cross,
          CASE WHEN (q1 // 1073741824) % 2 = 0 THEN 1 ELSE -1 END AS f_sign
        FROM q ORDER BY c_custkey""")),

    // Leave-one-out target encoding (operators/TargetEncode): each
    // event's type encoded as the smoothed mean `value` of its type
    // EXCLUDING the row's own target (prior weight k=20 toward the
    // global mean) — the leakage-safe form of the Micci-Barreca
    // encoder. Exact: cent-scale integer sums, denominators cleared so
    // ONE IEEE divide produces the double; the oracle replays the
    // same rational formula.
    GraftQuery(
      "q157_target_encoding",
      (s, dir) =>
        graft.operators.TargetEncode.withLooEncoding(
          t(s, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", k = 20L)
          .select(col("event_id"), col("event_type"), col("enc"))
          .orderBy(col("event_id")),
      Some("""
        WITH e AS (
          SELECT event_id, event_type,
            CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT) AS y
          FROM events),
        c AS (
          SELECT event_type, CAST(SUM(y) AS BIGINT) AS sc,
            COUNT(*) AS nc
          FROM e GROUP BY 1),
        g AS (
          SELECT CAST(SUM(y) AS BIGINT) AS sg, COUNT(*) AS ng FROM e)
        SELECT e.event_id, e.event_type,
          CAST((c.sc - e.y) * g.ng + 20 * g.sg AS DOUBLE) /
            CAST(g.ng * (c.nc - 1 + 20) * 100 AS DOUBLE) AS enc
        FROM e JOIN c USING (event_type) CROSS JOIN g
        ORDER BY e.event_id""")),

    // Per-group OLS trend (sketch/Trend): "is this event type's value
    // drifting over ingest days" — the bivariate member of the sketch
    // family. Built as two half-corpus sketches MERGED (the mergeable
    // co-moment contract exercised end to end), then one closed-form
    // fit: exact decimal(38,0) co-moment sums, a single IEEE divide
    // per coefficient. Oracle replays the quantization (q119's floor
    // convention), the sums, and the cleared-denominator rationals.
    GraftQuery(
      "q158_trend_lines",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            col("value"))
        val a = graft.sketch.Trend.sketch(
          ev.filter(col("day") % 2 === 0), "event_type", "day", "value",
          xDecimals = 0, yDecimals = 2)
        val b = graft.sketch.Trend.sketch(
          ev.filter(col("day") % 2 =!= 0), "event_type", "day", "value",
          xDecimals = 0, yDecimals = 2)
        graft.sketch.Trend.fitLines(
          graft.sketch.Trend.mergeSketches(a, b))
          .select(col("group").as("event_type"), col("n"),
            col("slope_q"), col("intercept_q"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type,
            epoch_us(ts) // 86400000000 AS x,
            CAST(floor(value * 100.0) AS BIGINT) AS y
          FROM events),
        s AS (
          SELECT event_type, COUNT(*) AS n,
            CAST(SUM(x) AS HUGEINT) AS sx,
            CAST(SUM(y) AS HUGEINT) AS sy,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
            CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
          FROM e GROUP BY 1)
        SELECT event_type, n,
          CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
              CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_q,
          CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(sy * sxx - sx * sxy AS DOUBLE) /
              CAST(n * sxx - sx * sx AS DOUBLE) END AS intercept_q
        FROM s ORDER BY event_type""")),

    // Confusable-skeleton dedup keys (text/Confusables.skeleton):
    // every 5th document gets a SPOOFED copy (Latin a/o swapped for
    // Cyrillic а/о, a zero-width space appended) — byte-exact dedup
    // (q08's md5 keys) sees a brand-new document; skeleton keys fold
    // the homoglyphs and strip the invisible, so the spoof collapses
    // back onto its original. Output: per doc, duplicate-group sizes
    // under raw vs skeleton keys. The oracle interpolates the SAME
    // From/To table as chr() concats, so the fold replays exactly.
    GraftQuery(
      "q159_confusable_skeleton",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val spoof = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(translate(col("text"), "ao", "\u0430\u043E"),
              lit("\u200B")).as("text"))
        val keyed = docs.unionByName(spoof)
          .select(col("doc_id"),
            md5(col("text").cast("binary")).as("rk"),
            md5(graft.text.Confusables.skeleton(col("text"))
              .cast("binary")).as("sk"))
        val rc = keyed.groupBy(col("rk")).agg(count(lit(1)).as("n_raw"))
        val sc = keyed.groupBy(col("sk")).agg(count(lit(1)).as("n_skel"))
        keyed.join(rc, "rk").join(sc, "sk")
          .select(col("doc_id"), col("n_raw"), col("n_skel"))
          .orderBy(col("doc_id"))
      },
      Some {
        val fromSql = graft.text.Confusables.From
          .map(c => s"chr(${c.toInt})").mkString(" || ")
        val toSql = "'" + graft.text.Confusables.To + "'"
        s"""
        WITH sp AS (
          SELECT doc_id + 1000000 AS doc_id,
            translate(text, 'ao', chr(1072) || chr(1086)) || chr(8203)
              AS text
          FROM documents WHERE doc_id % 5 = 0),
        c AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id, text FROM sp),
        k AS (
          SELECT doc_id, md5(text) AS rk,
            md5(lower(translate(text, $fromSql, $toSql))) AS sk
          FROM c),
        r AS (SELECT rk, COUNT(*) AS n_raw FROM k GROUP BY 1),
        s2 AS (SELECT sk, COUNT(*) AS n_skel FROM k GROUP BY 1)
        SELECT k.doc_id, r.n_raw, s2.n_skel
        FROM k JOIN r USING (rk) JOIN s2 USING (sk)
        ORDER BY doc_id"""
      }),

    // Consistent pseudonymization (text/Pseudonymize): emails injected
    // deterministically (doc_id mod 50 / mod 7 identities shared
    // across docs) are replaced by value-derived `<EMAIL-n>` tokens —
    // same address, same token, zero coordination — vs q41's flat
    // masks which destroy referential structure. Per-match computed
    // replacements via split + transform + zip_with column algebra
    // (no UDF); DuckDB replays with regexp_split_to_array +
    // list_transform over the same Karp-Rabin fold.
    GraftQuery(
      "q160_pseudonymize",
      (s, dir) => {
        val raw = concat(col("text"),
          lit(" contact user"), pmod(col("doc_id"), lit(50)).cast("string"),
          lit("@mail.example.org also user"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit("@mail.example.org"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.text.Pseudonymize.pseudonymize(
              raw, graft.text.Redact.EmailPattern, "EMAIL",
              space = 1000000L, salt = "v1").as("text_pseudo"))
          .orderBy(col("doc_id"))
      },
      Some {
        val pat = graft.text.Redact.EmailPattern
        s"""
        WITH d AS (
          SELECT doc_id, text || ' contact user' ||
            CAST(doc_id % 50 AS VARCHAR) || '@mail.example.org also user' ||
            CAST(doc_id % 7 AS VARCHAR) || '@mail.example.org' AS raw
          FROM documents),
        p AS (
          SELECT doc_id,
            regexp_split_to_array(raw, '$pat') AS segs,
            list_transform(regexp_extract_all(raw, '$pat'),
              m -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, len(m || ':v1') + 1),
                  i -> CAST(ord(substr(m || ':v1', i, 1)) AS BIGINT))),
                (a, b) -> (a * 257 + b) % 2147483647)) AS hs
          FROM d),
        q AS (
          SELECT doc_id, segs, list_transform(hs,
            h -> '<EMAIL-' ||
              CAST((h * h) % 2147483647 % 1000000 AS VARCHAR) || '>') AS ps
          FROM p)
        SELECT doc_id,
          array_to_string(
            list_transform(range(1, len(ps) + 1), i -> segs[i] || ps[i]),
            '') || segs[len(segs)] AS text_pseudo
        FROM q ORDER BY doc_id"""
      }),

    // Per-vertex triangle counting (graph/Triangles.perVertex): the
    // cohesion/link-farm signal beside PageRank's authority (q120) —
    // counted with the degree-ordered wedge join (orient low→high in
    // (degree, id); every out-degree is O(√m), so wedge work is
    // O(m^1.5) instead of the Σd² hub blowup). Graph synthesized
    // deterministically from orders. The oracle counts canonically
    // (a<b<c edge-triple joins) — algorithm-independent ground truth,
    // which is exactly what makes it a real check of the oriented form.
    GraftQuery(
      "q161_triangle_counts",
      (s, dir) => {
        val raw = t(s, dir, "orders")
          .filter(col("o_orderkey") % 3 === 0)
          .select(pmod(col("o_custkey"), lit(500)).as("u"),
            pmod(col("o_custkey") * 7 + col("o_orderkey"), lit(500))
              .as("v"))
        graft.graph.Triangles.perVertex(raw, "u", "v")
          .orderBy(col("vertex"))
      },
      Some("""
        WITH raw AS (
          SELECT o_custkey % 500 AS u,
            (o_custkey * 7 + o_orderkey) % 500 AS v
          FROM orders WHERE o_orderkey % 3 = 0),
        e AS (
          SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
          FROM raw WHERE u <> v),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        pv AS (
          SELECT x AS vertex FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri),
        cnt AS (
          SELECT vertex, COUNT(*) AS triangles FROM pv GROUP BY 1),
        verts AS (SELECT a AS vertex FROM e UNION SELECT b FROM e)
        SELECT verts.vertex, COALESCE(cnt.triangles, 0) AS triangles
        FROM verts LEFT JOIN cnt USING (vertex)
        ORDER BY vertex""")),

    // Fightin' Words (text/FightinWords.logOdds): Dirichlet-smoothed
    // per-token log-odds between the English and non-English corpus
    // slices (Monroe et al. 2008) — "which words distinguish A from
    // B", with a variance estimate per token. Deltas in Q20 base-2
    // fixed point via the native ilog2_q20 expression; the oracle
    // replays all four logs per token through the 20-round recursive
    // CTE (the q48/q49 protocol) and the variance as one divide.
    GraftQuery(
      "q162_fightin_words",
      (s, dir) =>
        graft.text.FightinWords.logOdds(
          t(s, dir, "documents").select(col("lang"), col("text")),
          "text", col("lang") === "en")
          .orderBy(col("token")),
      Some("""
        WITH RECURSIVE d AS (
          SELECT lang = 'en' AS ina,
            list_filter(
              string_split(regexp_replace(lower(trim(text)),
                '\s+', ' ', 'g'), ' '),
              x -> x <> '') AS toks
          FROM documents),
        tk AS (SELECT ina, unnest(toks) AS token FROM d),
        c AS (
          SELECT token,
            CAST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN ina THEN 0 ELSE 1 END) AS BIGINT) AS n_b
          FROM tk GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
            CAST(SUM(n_b) AS BIGINT) AS tb, COUNT(*) AS v
          FROM c),
        vals AS (
          SELECT token, 'a1' AS which,
            GREATEST((n_a + 1) * 1048576, 1) AS s FROM c
          UNION ALL SELECT token, 'a2',
            GREATEST((tot.ta + tot.v - c.n_a - 1) * 1048576, 1)
            FROM c CROSS JOIN tot
          UNION ALL SELECT token, 'b1',
            GREATEST((n_b + 1) * 1048576, 1) FROM c
          UNION ALL SELECT token, 'b2',
            GREATEST((tot.tb + tot.v - c.n_b - 1) * 1048576, 1)
            FROM c CROSS JOIN tot),
        norm AS (
          SELECT token, which, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM vals),
        iter(token, which, bl, i, m, frac) AS (
          SELECT token, which, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT token, which, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20),
        ltab AS (
          SELECT token, which, (bl - 21) * 1048576 + frac AS l
          FROM iter WHERE i = 20),
        piv AS (
          SELECT token,
            MAX(CASE WHEN which = 'a1' THEN l END) AS la1,
            MAX(CASE WHEN which = 'a2' THEN l END) AS la2,
            MAX(CASE WHEN which = 'b1' THEN l END) AS lb1,
            MAX(CASE WHEN which = 'b2' THEN l END) AS lb2
          FROM ltab GROUP BY 1)
        SELECT c.token, c.n_a, c.n_b,
          piv.la1 - piv.la2 - piv.lb1 + piv.lb2 AS delta_q20,
          CAST(c.n_a + c.n_b + 2 AS DOUBLE) /
            CAST((c.n_a + 1) * (c.n_b + 1) AS DOUBLE) AS var_est
        FROM c JOIN piv USING (token)
        ORDER BY c.token""")),

    // Phonetic entity resolution (text/Phonetic): every 7th part name
    // gets a typo'd duplicate record (3rd character deleted); records
    // block on (soundex of the first two words, length bucket). This
    // corpus is DEGENERATE for ER — ~64 distinct two-word names over
    // 20k records — so no key can make blocks small and the cap is the
    // load-bearing bound: 64 lowest ids per block (the LSH
    // maxBucketSize contract; uncapped, the in-block quadratic went
    // superlinear at x10 rows), then
    // verify with levenshtein <= 2 INSIDE blocks only. The soundex is
    // built from engine-portable primitives (conformance to Spark's
    // native soundex pinned in PhoneticSpec), so the oracle replays
    // the identical translate/collapse chain, cap included.
    GraftQuery(
      "q163_phonetic_er",
      (s, dir) => {
        val base = t(s, dir, "part").select(col("p_partkey").as("id"),
          col("p_name").as("name"))
        val typo = base.filter(pmod(col("id"), lit(7)) === 0)
          .select((col("id") + 1000000L).as("id"),
            concat(substring(col("name"), 1, 2),
              substring(col("name"), 4, 1000000)).as("name"))
        graft.text.Phonetic.matchPairs(
          base.unionByName(typo), "id", "name", maxDistance = 2,
          maxBlockSize = 64)
          .select(col("id_a"), col("id_b"), col("dist"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val tr = "'BFPVCGJKQSXZDTLMNRAEIOUYHW', '111122222222334556000000'"
        def collapse(e: String): String = (1 to 6).foldLeft(e) {
          (acc, d) => s"regexp_replace($acc, '$d+', '$d', 'g')"
        }
        s"""
        WITH base AS (
          SELECT p_partkey AS id, p_name AS name FROM part
          UNION ALL
          SELECT p_partkey + 1000000,
            substr(p_name, 1, 2) || substr(p_name, 4)
          FROM part WHERE p_partkey % 7 = 0),
        wd AS (
          SELECT id, name, 1 AS wi,
            upper(regexp_replace(split_part(name, ' ', 1),
              '[^A-Za-z]', '', 'g')) AS up
          FROM base
          UNION ALL
          SELECT id, name, 2,
            upper(regexp_replace(split_part(name, ' ', 2),
              '[^A-Za-z]', '', 'g'))
          FROM base),
        sx AS (
          SELECT id, name, wi, substr(up, 1, 1) AS f,
            translate(substr(up, 1, 1), $tr) AS fc,
            translate(up, $tr) AS comb
          FROM wd),
        cc AS (
          SELECT id, name, wi, f, fc, ${collapse("comb")} AS col FROM sx),
        codes AS (
          SELECT id, name, wi,
            f || substr(replace(
              CASE WHEN fc = '' THEN col ELSE substr(col, 2) END,
              '0', '') || '000', 1, 3) AS code
          FROM cc),
        blk AS (
          SELECT id, name,
            string_agg(code, '' ORDER BY wi) || ':' ||
              CAST(FLOOR(len(name) / 4) AS BIGINT) AS b
          FROM codes GROUP BY id, name),
        capped AS (
          SELECT *, row_number() OVER (PARTITION BY b ORDER BY id) AS rn
          FROM blk)
        SELECT a.id AS id_a, b2.id AS id_b,
          levenshtein(a.name, b2.name) AS dist
        FROM capped a JOIN capped b2 ON a.b = b2.b AND a.id < b2.id
        WHERE a.rn <= 64 AND b2.rn <= 64
          AND levenshtein(a.name, b2.name) <= 2
        ORDER BY id_a, id_b"""
      }),

    // Exact Gram accumulation (sim/Gram.accumulate): the distributed
    // half of embedding-space PCA — quantized component sums (j = -1)
    // and upper-triangle product sums (i <= j) over the 64-dim
    // embedding corpus, ONE map-side-combinable aggregate whose
    // shuffle carries d² rows total. The d×d finishing (covariance →
    // Jacobi eigenvectors) is driver-side by the bounded-collect
    // contract and pinned in GramSpec; the accumulation — the part
    // that touches the corpus — replays bit-for-bit here.
    GraftQuery(
      "q164_gram_accumulate",
      (s, dir) =>
        graft.sim.Gram.accumulate(
          t(s, dir, "embeddings").select(col("embedding")),
          "embedding", dim = 64, decimals = 3)
          .orderBy(col("i"), col("j")),
      Some("""
        WITH q AS (
          SELECT list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
          FROM embeddings),
        idx AS (SELECT unnest(range(1, 65)) AS i),
        comp AS (
          SELECT CAST(idx.i - 1 AS INTEGER) AS i, -1 AS j,
            COUNT(*) AS n, CAST(SUM(q.q[idx.i]) AS BIGINT) AS s
          FROM q CROSS JOIN idx GROUP BY 1, 2),
        pairs AS (
          SELECT a.i AS pi, b.i AS pj FROM idx a, idx b WHERE a.i <= b.i),
        prod AS (
          SELECT CAST(p.pi - 1 AS INTEGER) AS i,
            CAST(p.pj - 1 AS INTEGER) AS j,
            COUNT(*) AS n,
            CAST(SUM(q.q[p.pi] * q.q[p.pj]) AS BIGINT) AS s
          FROM q CROSS JOIN pairs p GROUP BY 1, 2)
        SELECT i, j, n, s FROM comp
        UNION ALL SELECT i, j, n, s FROM prod
        ORDER BY i, j""")),

    // Wide-model serving composition (FeatureHash → broadcast weight
    // lookup → integer margin): the CTR-scoring topology end to end —
    // vocabulary-free hashed features (a type×user-bucket cross and a
    // type feature), weights joined from a broadcast model table (the
    // U10 broadcast-artifact shape; stand-in weights derived
    // deterministically from bucket ids so the oracle can replay
    // them), signed-bucket margin accumulation in EXACT integers. The
    // serve path a trained wide model runs per impression, with no
    // vocabulary state anywhere.
    GraftQuery(
      "q165_ctr_margin",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            pmod(col("user_id"), lit(100)).as("ub"), col("value"))
        val feats = ev
          .withColumn("cross_b", graft.operators.FeatureHash.hashCross(
            Seq(col("event_type"), col("ub")), 256, salt = "v1"))
          .withColumn("feat_b", graft.operators.FeatureHash.hashFeature(
            col("event_type"), 64, salt = "v1"))
          .withColumn("sgn", graft.operators.FeatureHash.hashSign(
            col("event_type"), salt = "v1"))
        val w256 = broadcast(s.range(256)
          .select(col("id").as("cross_b"),
            (col("id") * 37 % 201 - 100).as("w_cross")))
        val w64 = broadcast(s.range(64)
          .select(col("id").as("feat_b"),
            (col("id") * 53 % 161 - 80).as("w_feat")))
        feats.join(w256, "cross_b").join(w64, "feat_b")
          .select(col("event_id"),
            (col("sgn") * col("w_cross") + col("w_feat")).as("margin"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, event_type, user_id % 100 AS ub FROM events),
        k AS (
          SELECT event_id,
            event_type || chr(31) || CAST(ub AS VARCHAR) || ':v1' AS kc,
            event_type || ':v1' AS kf
          FROM e),
        h AS (
          SELECT event_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(kc) + 1),
                i -> CAST(ord(substr(kc, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hc,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(kf) + 1),
                i -> CAST(ord(substr(kf, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hf
          FROM k),
        f AS (
          SELECT event_id,
            ((hc * hc) % 2147483647) % 256 AS cross_b,
            ((hf * hf) % 2147483647) % 64 AS feat_b,
            CASE WHEN (((hf * hf) % 2147483647) // 1073741824) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
          FROM h)
        SELECT event_id,
          sgn * (cross_b * 37 % 201 - 100) + (feat_b * 53 % 161 - 80)
            AS margin
        FROM f ORDER BY event_id""")),

    // Date-partitioned sketch store (sketch/SketchStore): the daily
    // moments sketches written once as day partitions, then a 3-day
    // range served by reading ONLY those partitions (partition filter,
    // pinned in SketchStoreSpec) and merging the power sums — the
    // write-once/serve-many contract (q62/q148) applied to statistics.
    // The oracle replays the SAME day-range question directly against
    // the events table (q119's exact-moments formulas), proving the
    // store path loses nothing.
    GraftQuery(
      "q166_sketch_store",
      (s, dir) => {
        val path = sketchStoreFor(s, dir)
        val minDay = t(s, dir, "events")
          .agg(min(expr("unix_micros(ts) div 86400000000")))
          .head.getLong(0) // bounded: one scalar
        graft.sketch.Moments.finish(
          graft.sketch.SketchStore.readRange(s, path, minDay + 1, minDay + 3))
          .select(col("group"), col("n"),
            col("q_absmax").cast("long").as("q_absmax"),
            col("s1").cast("string").as("s1"),
            col("s2").cast("string").as("s2"),
            col("s3").cast("string").as("s3"),
            col("s4").cast("string").as("s4"),
            col("m3_n3").cast("string").as("m3_n3"),
            col("m4_n4").cast("string").as("m4_n4"),
            col("mean_q"), col("var_q2"))
          .orderBy(col("group"))
      },
      Some("""
        WITH b AS (
          SELECT MIN(epoch_us(ts) // 86400000000) AS d0 FROM events),
        q AS (
          SELECT event_type,
            CAST(floor(value * 10.0) AS BIGINT) AS q
          FROM events, b
          WHERE epoch_us(ts) // 86400000000
            BETWEEN b.d0 + 1 AND b.d0 + 3),
        sums AS (
          SELECT event_type AS grp,
            CAST(COUNT(*) AS HUGEINT) AS n,
            CAST(MAX(abs(q)) AS BIGINT) AS q_absmax,
            CAST(SUM(q) AS HUGEINT) AS s1,
            CAST(SUM(q * q) AS HUGEINT) AS s2,
            CAST(SUM(CAST(q AS HUGEINT) * q * q) AS HUGEINT) AS s3,
            CAST(SUM(CAST(q AS HUGEINT) * q * q * q) AS HUGEINT) AS s4
          FROM q GROUP BY 1)
        SELECT grp AS "group", CAST(n AS BIGINT) AS n, q_absmax,
          CAST(s1 AS VARCHAR) AS s1, CAST(s2 AS VARCHAR) AS s2,
          CAST(s3 AS VARCHAR) AS s3, CAST(s4 AS VARCHAR) AS s4,
          CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
            AS VARCHAR) AS m3_n3,
          CAST(n * n * n * s4 - 4 * n * n * s1 * s3
            + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
            AS VARCHAR) AS m4_n4,
          CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
          CAST(n * s2 - s1 * s1 AS DOUBLE) /
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_q2
        FROM sums
        ORDER BY "group"""")),

    // Time-grid resampling with forward fill (operators/Resample):
    // irregular events → a shared hourly lattice per event type, each
    // instant carrying the latest value at or before it (leading gaps
    // NULL). Events pre-aggregate to one row per (type, instant) so
    // the as-of tie rule is engine-independent. DuckDB replays with
    // its native ASOF LEFT JOIN — the rare case where the oracle has
    // the operator built in and graft's composed form must match it.
    GraftQuery(
      "q167_resample_ffill",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), expr("unix_micros(ts)").as("us"),
            col("value"))
          .groupBy(col("event_type"), col("us"))
          .agg(max(col("value")).as("v"))
          .withColumn("t", timestamp_micros(col("us")))
          .select(col("event_type"), col("t"), col("v"))
        graft.operators.Resample.forwardFillGrid(
          ev, "event_type", "t", stepUs = 3600000000L)
          .orderBy(col("event_type"), col("t"))
      },
      Some("""
        WITH e AS (
          SELECT event_type AS k, epoch_us(ts) AS us,
            MAX(value) AS v
          FROM events GROUP BY 1, 2),
        b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM e),
        g0 AS (
          SELECT (lo // 3600000000) * 3600000000 AS t0,
            ((hi // 3600000000) +
              CASE WHEN hi % 3600000000 = 0 THEN 0 ELSE 1 END)
              * 3600000000 AS t1
          FROM b),
        keys AS (SELECT DISTINCT k FROM e),
        grid AS (
          SELECT k, unnest(range(t0, t1 + 1, 3600000000)) AS t
          FROM keys CROSS JOIN g0)
        SELECT g.k AS event_type, g.t, e.v
        FROM grid g ASOF LEFT JOIN e
          ON g.k = e.k AND g.t >= e.us
        ORDER BY event_type, t""")),

    // Pivot to wide (§2.4 completeness, the reshaping partner of q146's
    // CUBE): daily value totals, one column per event type. Pivot
    // values are EXPLICIT — with an inferred value set Spark runs a
    // values-discovery job over the corpus first AND the column set
    // becomes data-dependent (a schema that changes when a new type
    // appears breaks every downstream consumer); explicit values make
    // it one aggregate pass with a stable schema. Decimal-exact sums;
    // the oracle replays as conditional aggregation (the engine-neutral
    // form of PIVOT).
    GraftQuery(
      "q168_pivot_wide",
      (s, dir) =>
        t(s, dir, "events")
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            col("event_type"), col("value"))
          .groupBy(col("day"))
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(dsum(col("value")))
          .orderBy(col("day")),
      Some("""
        WITH e AS (
          SELECT epoch_us(ts) // 86400000000 AS day, event_type,
            CAST(value AS DECIMAL(30,2)) AS v
          FROM events)
        SELECT day,
          CAST(SUM(CASE WHEN event_type = 'click' THEN v END)
            AS DOUBLE) AS click,
          CAST(SUM(CASE WHEN event_type = 'error' THEN v END)
            AS DOUBLE) AS error,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN v END)
            AS DOUBLE) AS purchase,
          CAST(SUM(CASE WHEN event_type = 'signup' THEN v END)
            AS DOUBLE) AS signup,
          CAST(SUM(CASE WHEN event_type = 'view' THEN v END)
            AS DOUBLE) AS view
        FROM e GROUP BY day ORDER BY day""")),

    // Unpivot / melt (§2.4 completeness, q168's inverse): the wide
    // daily table back to long (day, event_type, total) — the
    // normalize-before-union step when wide exports from different
    // sources must stack. Spark's native `unpivot` (an Expand node:
    // map-only, one pass, no shuffle); NULL cells drop by unpivot
    // semantics, which is also what keeps round-tripping q168 exact.
    GraftQuery(
      "q169_unpivot_long",
      (s, dir) => {
        val wide = t(s, dir, "events")
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            col("event_type"), col("value"))
          .groupBy(col("day"))
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(dsum(col("value")))
        wide.unpivot(
          Array(col("day")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "total")
          .orderBy(col("day"), col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT epoch_us(ts) // 86400000000 AS day, event_type,
            CAST(value AS DECIMAL(30,2)) AS v
          FROM events)
        SELECT day, event_type,
          CAST(SUM(v) AS DOUBLE) AS total
        FROM e GROUP BY day, event_type
        ORDER BY day, event_type""")),

    // GROUPING SETS (§2.4 completeness, the general form q146's CUBE
    // specializes): exactly the two rollups a dashboard wants —
    // per-type and per-day — in ONE Expand-fed aggregate pass, without
    // CUBE's unwanted (type, day) and grand-total sets. Same 'ALL'/-1
    // labeling protocol as q146 via grouping().
    GraftQuery(
      "q170_grouping_sets",
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            col("value"))
          .createOrReplaceTempView("__q170e")
        s.sql("""
          SELECT
            CASE WHEN grouping(event_type) = 1 THEN 'ALL'
                 ELSE event_type END AS event_type,
            CASE WHEN grouping(day) = 1 THEN -1L ELSE day END AS day,
            count(1) AS n,
            CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE)
              AS total_value
          FROM __q170e
          GROUP BY GROUPING SETS ((event_type), (day))
          ORDER BY event_type, day""")
      },
      Some("""
        WITH e AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day, value
          FROM events)
        SELECT
          CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
               ELSE event_type END AS event_type,
          CASE WHEN GROUPING(day) = 1 THEN -1 ELSE day END AS day,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE)
            AS total_value
        FROM e GROUP BY GROUPING SETS ((event_type), (day))
        ORDER BY 1, 2""")),

    // Substring dedup against a PREPARED index
    // (dedup/SubstringDedup.writeFingerprintIndex/matchesAgainstIndex):
    // the Lee et al. machinery made incremental — the corpus
    // (doc_id < 300) is winnowed, df-capped and written ONCE; the
    // batch (doc_id >= 300) probes it without the corpus text ever
    // being re-read (q62's doc-level index lesson at substring
    // granularity). The oracle replays q45's full winnowing chain per
    // side with PER-SIDE caps and joins batch x corpus.
    GraftQuery(
      "q171_substring_index",
      (s, dir) => {
        val path = substrIndexFor(s, dir)
        val batch = t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
          .filter(col("doc_id") >= 300)
        graft.dedup.SubstringDedup.matchesAgainstIndex(
          s, path, batch, "doc_id", "text")
          .orderBy(col("batch_id"), col("corpus_id"), col("pos_b"),
            col("pos_c"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            CASE WHEN doc_id < 300 THEN 0 ELSE 1 END AS side,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        h AS (
          SELECT doc_id, side, t, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, side, t,
            unnest(range(1, len(t) - 16 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, side, t, p, hash,
            hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id, side, t,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, side, t, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS p
          FROM wmin WHERE wn = 16
        ),
        shortd AS (
          SELECT doc_id, side, t, hash, p FROM (
            SELECT doc_id, side, t, hash, p,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hash, p DESC) AS rn,
              COUNT(*) OVER (PARTITION BY doc_id) AS nn
            FROM h) WHERE nn < 16 AND rn = 1
        ),
        fp AS (
          SELECT doc_id, side, hash, p,
            substr(t, CAST(p AS INTEGER), 16) AS snippet
          FROM sel
          UNION ALL
          SELECT doc_id, side, hash, p, substr(t, CAST(p AS INTEGER), 16)
          FROM shortd
        ),
        rare AS (
          SELECT side, hash FROM fp GROUP BY side, hash
          HAVING COUNT(DISTINCT doc_id) <= 50
        ),
        fpc AS (SELECT fp.* FROM fp JOIN rare USING (side, hash))
        SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
               CAST(b.p - 1 AS INTEGER) AS pos_b,
               CAST(c.p - 1 AS INTEGER) AS pos_c,
               b.snippet
        FROM fpc b JOIN fpc c
          ON b.hash = c.hash AND b.snippet = c.snippet
          AND b.side = 1 AND c.side = 0
        ORDER BY batch_id, corpus_id, pos_b, pos_c""")),

    // IVF index with surgical deletion served end to end
    // (sim/Similarity.removeFromIvfIndex): the on-disk index loses
    // every vec_id divisible by 9 — only the affected cell partitions
    // rewrite, emptied cells' directories drop — and the exhaustive
    // probe (nProbe = nCells) over the post-delete index must equal
    // brute-force cosine top-k over the SURVIVING vectors: deletion
    // correctness as an equality, including "no stale partition keeps
    // serving deleted vectors". Oracle replays q26/q66's exact cosine
    // over embeddings filtered to the survivors.
    GraftQuery(
      "q172_ivf_delete",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = ivfDeletedIndexFor(s, dir, emb)
        val queries = emb
          .filter(col("vec_id") >= 1 && col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfTopK(index, queries, k = 10, nProbe = 16)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 9 <> 0),
        q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id >= 1 AND vec_id < 5),
        s AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q CROSS JOIN e)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
          FROM s)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // MMR diversified selection (sim/Select.mmrDiversify): re-rank a
    // per-query candidate list trading relevance against redundancy —
    // top-k by cosine alone returns near-duplicates of one strong
    // match; MMR is the standard diversifier for retrieval-mined
    // training data. Plan: bounded two-stage top-k heaps → candidate
    // ids broadcast back onto the corpus scan (no corpus shuffle) →
    // one exchange on query_id into an O(candidateK²·dim) per-group
    // greedy. DuckDB replays the greedy exactly: selection rounds
    // unrolled as CTEs (the q44 Lloyd-round pattern), each an
    // `ORDER BY score DESC, vec_id LIMIT 1` argmax — the engine's
    // strict-first-maximum tie-break — with identical IEEE double
    // arithmetic (sequential fold dot products, `0.7e0` literals).
    GraftQuery(
      "q173_mmr_diversify",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Select.mmrDiversify(
          emb, "vec_id", "embedding", queries,
          candidateK = 12, selectK = 4, lambda = 0.7)
          .orderBy(col("query_id"), col("sel_rank"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        s AS (SELECT query_id, vec_id, cv,
                list_reduce(list_transform(cv, (x,i) -> x * qv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(cv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(qv, x -> x * x), (a,b) -> a + b))) AS rel
              FROM c, q),
        cand AS (SELECT query_id, vec_id, cv, rel FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rel DESC, vec_id) AS rn
          FROM s) WHERE rn <= 12),
        pr AS (SELECT a.query_id, a.vec_id AS i, b.vec_id AS j,
                 list_reduce(list_transform(a.cv, (x,k) -> x * b.cv[k]), (u,w) -> u + w)
                 / (sqrt(list_reduce(list_transform(a.cv, x -> x * x), (u,w) -> u + w))
                    * sqrt(list_reduce(list_transform(b.cv, x -> x * x), (u,w) -> u + w))) AS sim
               FROM cand a JOIN cand b
                 ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
        p1 AS (SELECT query_id, vec_id, rel, 0.7e0 * rel AS mmr FROM (
          SELECT query_id, vec_id, rel, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY 0.7e0 * rel DESC, vec_id) AS rn
          FROM cand) WHERE rn = 1),
        g2 AS (SELECT c2.query_id, c2.vec_id, c2.rel,
                 0.7e0 * c2.rel - (1e0 - 0.7e0) * MAX(pr.sim) AS mmr
               FROM cand c2
               JOIN p1 ON p1.query_id = c2.query_id AND c2.vec_id <> p1.vec_id
               JOIN pr ON pr.query_id = c2.query_id AND pr.i = c2.vec_id
                 AND pr.j = p1.vec_id
               GROUP BY c2.query_id, c2.vec_id, c2.rel),
        p2 AS (SELECT query_id, vec_id, rel, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM g2) WHERE rn = 1),
        sel2 AS (SELECT query_id, vec_id FROM p1
                 UNION ALL SELECT query_id, vec_id FROM p2),
        g3 AS (SELECT c2.query_id, c2.vec_id, c2.rel,
                 0.7e0 * c2.rel - (1e0 - 0.7e0) * MAX(pr.sim) AS mmr
               FROM cand c2
               JOIN pr ON pr.query_id = c2.query_id AND pr.i = c2.vec_id
               JOIN sel2 sl ON sl.query_id = pr.query_id AND sl.vec_id = pr.j
               WHERE NOT EXISTS (SELECT 1 FROM sel2 x
                 WHERE x.query_id = c2.query_id AND x.vec_id = c2.vec_id)
               GROUP BY c2.query_id, c2.vec_id, c2.rel),
        p3 AS (SELECT query_id, vec_id, rel, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM g3) WHERE rn = 1),
        sel3 AS (SELECT query_id, vec_id FROM sel2
                 UNION ALL SELECT query_id, vec_id FROM p3),
        g4 AS (SELECT c2.query_id, c2.vec_id, c2.rel,
                 0.7e0 * c2.rel - (1e0 - 0.7e0) * MAX(pr.sim) AS mmr
               FROM cand c2
               JOIN pr ON pr.query_id = c2.query_id AND pr.i = c2.vec_id
               JOIN sel3 sl ON sl.query_id = pr.query_id AND sl.vec_id = pr.j
               WHERE NOT EXISTS (SELECT 1 FROM sel3 x
                 WHERE x.query_id = c2.query_id AND x.vec_id = c2.vec_id)
               GROUP BY c2.query_id, c2.vec_id, c2.rel),
        p4 AS (SELECT query_id, vec_id, rel, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM g4) WHERE rn = 1),
        outp AS (
          SELECT query_id, 1 AS sr, vec_id, rel, mmr FROM p1
          UNION ALL SELECT query_id, 2, vec_id, rel, mmr FROM p2
          UNION ALL SELECT query_id, 3, vec_id, rel, mmr FROM p3
          UNION ALL SELECT query_id, 4, vec_id, rel, mmr FROM p4)
        SELECT query_id, CAST(sr AS INTEGER) AS sel_rank, vec_id, rel, mmr
        FROM outp ORDER BY query_id, sel_rank""")),

    // Greedy k-center coreset (sim/Select.kCenterPerGroup): Gonzalez
    // farthest-point representatives inside each bounded group — the
    // "train on a representative subset of each cluster" picker. One
    // shuffle on the group key, O(groupSize²·dim) greedy per group
    // with enforced bounded-group contract. DuckDB unrolls the three
    // selection rounds with the q44 squared-L2 fold; the seed is the
    // group's smallest id (radius 0 by convention), each pick the
    // argmax of the min-distance to the selected set.
    GraftQuery(
      "q174_kcenter_coreset",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .withColumn("grp", expr("vec_id DIV 50"))
        graft.sim.Select.kCenterPerGroup(
          emb, "grp", "vec_id", "embedding", k = 3)
          .orderBy(col("grp"), col("sel_rank"))
      },
      Some("""
        WITH v AS (SELECT vec_id, vec_id // 50 AS grp,
                     CAST(embedding AS DOUBLE[]) AS x
                   FROM embeddings WHERE vec_id < 300),
        pd AS (SELECT a.grp, a.vec_id AS i, b.vec_id AS j,
                 list_reduce(list_prepend(0.0e0,
                   list_transform(a.x, (e, k) -> (e - b.x[k]) * (e - b.x[k]))),
                   (u, w) -> u + w) AS d
               FROM v a JOIN v b ON a.grp = b.grp AND a.vec_id <> b.vec_id),
        c1 AS (SELECT grp, MIN(vec_id) AS id FROM v GROUP BY grp),
        g2 AS (SELECT pd.grp, pd.i AS id, pd.d
               FROM pd JOIN c1 ON c1.grp = pd.grp AND pd.j = c1.id),
        c2 AS (SELECT grp, id, d FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
            ORDER BY d DESC, id) AS rn FROM g2) WHERE rn = 1),
        s2 AS (SELECT grp, id FROM c1 UNION ALL SELECT grp, id FROM c2),
        g3 AS (SELECT pd.grp, pd.i AS id, MIN(pd.d) AS d
               FROM pd JOIN s2 ON s2.grp = pd.grp AND pd.j = s2.id
               WHERE NOT EXISTS (SELECT 1 FROM s2 x
                 WHERE x.grp = pd.grp AND x.id = pd.i)
               GROUP BY pd.grp, pd.i),
        c3 AS (SELECT grp, id, d FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
            ORDER BY d DESC, id) AS rn FROM g3) WHERE rn = 1),
        outp AS (
          SELECT grp, 1 AS sr, id, 0.0e0 AS radius FROM c1
          UNION ALL SELECT grp, 2, id, d FROM c2
          UNION ALL SELECT grp, 3, id, d FROM c3)
        SELECT CAST(grp AS BIGINT) AS grp, CAST(sr AS INTEGER) AS sel_rank,
          id, radius
        FROM outp ORDER BY grp, sel_rank""")),

    // Blocklist screening (text/Blocklist over the native Aho-Corasick
    // functions/MultiPatternCount): every pattern counted in ONE
    // O(len + matches) automaton scan per document, independent of the
    // pattern-list size — at 100 TB with a thousand-term blocklist,
    // one corpus pass instead of a thousand. Patterns deliberately
    // overlap ('able' inside 'table', 'an' inside 'scan') to pin the
    // suffix/output-link semantics; counts are occurrences at every
    // start position, which DuckDB replays position-by-position over
    // the ASCII corpus.
    GraftQuery(
      "q175_blocklist_scan",
      (s, dir) =>
        graft.text.Blocklist.patternHits(
          t(s, dir, "documents").filter(!col("text").rlike("[^ -~]")),
          "doc_id", "text",
          Seq("table", "able", "an", "scan", "value table"))
          .orderBy(col("doc_id"), col("pattern")),
      Some("""
        WITH p AS (SELECT unnest(['table','able','an','scan','value table']) AS pattern),
        d AS (SELECT doc_id, text FROM documents
              WHERE NOT regexp_matches(text, '[^ -~]')),
        hits AS (
          SELECT d.doc_id, p.pattern,
            len(list_filter(range(1, len(d.text) - len(p.pattern) + 2),
              i -> substr(d.text, i, len(p.pattern)) = p.pattern)) AS n_hits
          FROM d, p)
        SELECT doc_id, pattern, CAST(n_hits AS INTEGER) AS n_hits
        FROM hits WHERE n_hits > 0
        ORDER BY doc_id, pattern""")),

    // Rendezvous (highest-random-weight) sharding
    // (operators/Sharding.rendezvousShard): `argmax_s hash(key⊕s)`
    // instead of `hash(key) mod S` — growing S→S+1 moves only
    // ~1/(S+1) of keys, all onto the NEW shard, vs a near-total
    // reshuffle under mod. The query emits both the S=8 and S=9
    // assignments; every `moved` row has `shard_b = 8` (the HRW
    // invariant, machine-checked in ShardingSpec, visible here).
    // Map-only, O(S) per row; hash is the replayable squared
    // Karp-Rabin (q52's), so DuckDB replays the whole argmax.
    GraftQuery(
      "q176_rendezvous_shards",
      (s, dir) => {
        val sh = graft.operators.Sharding
        t(s, dir, "documents").select(col("doc_id"))
          .withColumn("shard_a", sh.rendezvousShard(col("doc_id"), 8))
          .withColumn("shard_b", sh.rendezvousShard(col("doc_id"), 9))
          .withColumn("moved", col("shard_a") =!= col("shard_b"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id FROM documents),
        ks AS (SELECT doc_id, s,
                 CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR) AS k
               FROM d, (SELECT unnest(range(0, 9)) AS s)),
        h AS (SELECT doc_id, s,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(k) + 1),
                    i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
                  (a, b) -> (a * 257 + b) % 2147483647) AS hh
              FROM ks),
        pk AS (SELECT doc_id, s,
                 ((hh * hh) % 2147483647) * 4096 + (4095 - s) AS packed
               FROM h),
        m8 AS (SELECT doc_id, 4095 - (MAX(packed) % 4096) AS sa
               FROM pk WHERE s < 8 GROUP BY doc_id),
        m9 AS (SELECT doc_id, 4095 - (MAX(packed) % 4096) AS sb
               FROM pk GROUP BY doc_id)
        SELECT d.doc_id, CAST(sa AS INTEGER) AS shard_a,
          CAST(sb AS INTEGER) AS shard_b, sa <> sb AS moved
        FROM d JOIN m8 USING (doc_id) JOIN m9 USING (doc_id)
        ORDER BY doc_id""")),

    // Best-of-cluster dedup (dedup/Components.keepBest): when
    // near-duplicates collide, keep the HIGHEST-QUALITY member (here:
    // longest text; ties → smallest id), not the arbitrary smallest-id
    // canonical — the curation-correct survivor rule. Same pair
    // generation as q43; the winner pick is a rank-1 window on the
    // cluster label (executed as a bounded-heap/max_by aggregate by
    // the engine's Top1WindowToAggregate / Spark's
    // InferWindowGroupLimit). DuckDB replays q43's recursive closure
    // plus the same argmax.
    GraftQuery(
      "q177_best_of_cluster",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
          .withColumn("score", length(col("text")).cast("bigint"))
        val pairs = graft.dedup.Dedup.nearDuplicates(
          docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.85)
        graft.dedup.Components.keepBest(
          docs.select(col("doc_id"), col("score")), "doc_id", "score", pairs)
          .orderBy(col("component"))
      },
      Some("""
        WITH RECURSIVE tok AS (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents WHERE doc_id < 500),
        t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(ts) - 1),
            i -> array_to_string(ts[i:i+2], ' '))) AS gs
          FROM tok WHERE len(ts) >= 3),
        e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM t a, t b
          WHERE a.doc_id <> b.doc_id
            AND len(a.gs) > 0 AND len(b.gs) > 0
            AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.85
        ),
        reach AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
          WHERE e2.v <> r.u
        ),
        comp AS (SELECT u AS id, least(u, MIN(v)) AS component
                 FROM reach GROUP BY u),
        lab AS (SELECT d.doc_id,
                  COALESCE(c.component, d.doc_id) AS component,
                  length(d.text) AS score
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
                WHERE d.doc_id < 500)
        SELECT component, doc_id, CAST(score AS BIGINT) AS score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY component
            ORDER BY score DESC, doc_id) AS rn
          FROM lab) WHERE rn = 1
        ORDER BY component""")),

    // MMR served from the on-disk IVF index
    // (sim/Select.mmrFromCandidates ∘ Similarity.ivfTopK): the 100 TB
    // serving shape end-to-end — candidates come from the
    // partition-pruned prepared index (~nProbe/nCells of the corpus
    // scanned, q66's layout), then the bounded per-query greedy
    // diversifies them. The oracle replays BOTH stages: q66's
    // deterministic IVF (16 sample centroids, nProbe=4) to produce the
    // candidate set, then q173's unrolled greedy over it.
    GraftQuery(
      "q178_mmr_ivf_serving",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = ivfIndexFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        val cand = graft.sim.Similarity.ivfTopK(
          index, queries, k = 12, nProbe = 4)
        graft.sim.Select.mmrFromCandidates(
          emb, "vec_id", "embedding", cand, selectK = 4, lambda = 0.7)
          .orderBy(col("query_id"), col("sel_rank"))
      },
      Some("""
        WITH ce AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, ce.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * ce.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(ce.cv, x -> x * x), (a,b) -> a + b)))
                DESC, ce.cell) AS rn
            FROM e, ce) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, ce.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * ce.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(ce.cv, x -> x * x), (a,b) -> a + b)))
                DESC, ce.cell) AS rn
            FROM q, ce) WHERE rn <= 4),
        sc AS (
          SELECT q.query_id, e.vec_id, e.v,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS rel
          FROM q
          JOIN probes USING (query_id)
          JOIN assign ON assign.cell = probes.cell
          JOIN e ON e.vec_id = assign.vec_id),
        cand AS (SELECT query_id, vec_id, v AS cv, rel FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rel DESC, vec_id) AS rn
          FROM sc) WHERE rn <= 12),
        pr AS (SELECT a.query_id, a.vec_id AS i, b.vec_id AS j,
                 list_reduce(list_transform(a.cv, (x,k) -> x * b.cv[k]), (u,w) -> u + w)
                 / (sqrt(list_reduce(list_transform(a.cv, x -> x * x), (u,w) -> u + w))
                    * sqrt(list_reduce(list_transform(b.cv, x -> x * x), (u,w) -> u + w))) AS sim
               FROM cand a JOIN cand b
                 ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
        p1 AS (SELECT query_id, vec_id, rel, 0.7e0 * rel AS mmr FROM (
          SELECT query_id, vec_id, rel, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY 0.7e0 * rel DESC, vec_id) AS rn
          FROM cand) WHERE rn = 1),
        g2 AS (SELECT c2.query_id, c2.vec_id, c2.rel,
                 0.7e0 * c2.rel - (1e0 - 0.7e0) * MAX(pr.sim) AS mmr
               FROM cand c2
               JOIN p1 ON p1.query_id = c2.query_id AND c2.vec_id <> p1.vec_id
               JOIN pr ON pr.query_id = c2.query_id AND pr.i = c2.vec_id
                 AND pr.j = p1.vec_id
               GROUP BY c2.query_id, c2.vec_id, c2.rel),
        p2 AS (SELECT query_id, vec_id, rel, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM g2) WHERE rn = 1),
        sel2 AS (SELECT query_id, vec_id FROM p1
                 UNION ALL SELECT query_id, vec_id FROM p2),
        g3 AS (SELECT c2.query_id, c2.vec_id, c2.rel,
                 0.7e0 * c2.rel - (1e0 - 0.7e0) * MAX(pr.sim) AS mmr
               FROM cand c2
               JOIN pr ON pr.query_id = c2.query_id AND pr.i = c2.vec_id
               JOIN sel2 sl ON sl.query_id = pr.query_id AND sl.vec_id = pr.j
               WHERE NOT EXISTS (SELECT 1 FROM sel2 x
                 WHERE x.query_id = c2.query_id AND x.vec_id = c2.vec_id)
               GROUP BY c2.query_id, c2.vec_id, c2.rel),
        p3 AS (SELECT query_id, vec_id, rel, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM g3) WHERE rn = 1),
        sel3 AS (SELECT query_id, vec_id FROM sel2
                 UNION ALL SELECT query_id, vec_id FROM p3),
        g4 AS (SELECT c2.query_id, c2.vec_id, c2.rel,
                 0.7e0 * c2.rel - (1e0 - 0.7e0) * MAX(pr.sim) AS mmr
               FROM cand c2
               JOIN pr ON pr.query_id = c2.query_id AND pr.i = c2.vec_id
               JOIN sel3 sl ON sl.query_id = pr.query_id AND sl.vec_id = pr.j
               WHERE NOT EXISTS (SELECT 1 FROM sel3 x
                 WHERE x.query_id = c2.query_id AND x.vec_id = c2.vec_id)
               GROUP BY c2.query_id, c2.vec_id, c2.rel),
        p4 AS (SELECT query_id, vec_id, rel, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM g4) WHERE rn = 1),
        outp AS (
          SELECT query_id, 1 AS sr, vec_id, rel, mmr FROM p1
          UNION ALL SELECT query_id, 2, vec_id, rel, mmr FROM p2
          UNION ALL SELECT query_id, 3, vec_id, rel, mmr FROM p3
          UNION ALL SELECT query_id, 4, vec_id, rel, mmr FROM p4)
        SELECT query_id, CAST(sr AS INTEGER) AS sel_rank, vec_id, rel, mmr
        FROM outp ORDER BY query_id, sel_rank""")),

    // Capacity-weighted rendezvous sharding
    // (operators/Sharding.rendezvousShardWeighted): shard s competes
    // with weights(s) virtual nodes, so key shares track capacity
    // (weights 1:2:3:2 here), with per-weight-step minimal movement
    // (raising one shard's weight only PULLS keys into it —
    // machine-checked in ShardingSpec). Map-only O(Σweights)/row; the
    // full virtual-node argmax replays from the q52 KR fold.
    GraftQuery(
      "q179_weighted_shards",
      (s, dir) =>
        t(s, dir, "documents").select(col("doc_id"))
          .withColumn("shard", graft.operators.Sharding
            .rendezvousShardWeighted(col("doc_id"), Seq(1, 2, 3, 2)))
          .orderBy(col("doc_id")),
      Some("""
        WITH vn(s, v) AS (VALUES (0,0),(1,0),(1,1),(2,0),(2,1),(2,2),(3,0),(3,1)),
        ks AS (SELECT doc_id, s,
                 CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR) ||
                   ':' || CAST(v AS VARCHAR) AS k
               FROM documents, vn),
        h AS (SELECT doc_id, s,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(k) + 1),
                    i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
                  (a, b) -> (a * 257 + b) % 2147483647) AS hh
              FROM ks),
        pk AS (SELECT doc_id,
                 ((hh * hh) % 2147483647) * 4096 + (4095 - s) AS packed
               FROM h)
        SELECT doc_id,
          CAST(4095 - (MAX(packed) % 4096) AS INTEGER) AS shard
        FROM pk GROUP BY doc_id
        ORDER BY doc_id""")),

    // Tolerant CSV ingestion (sources/CsvCorpus — q92's JSONL contract
    // for the OTHER vendor interchange format): explicit schema, text
    // scan + from_csv expression (PERMISSIVE + corrupt-record column;
    // no SPARK-21610 caching requirement), corrupt rows counted via
    // one aggregate and attached as a 1-row broadcast scalar. The
    // staged corpus mistypes n_chars ('xx') on every 89th doc; the
    // oracle replays the validity predicate directly.
    GraftQuery(
      "q180_csv_ingest",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val line = concat(
          col("doc_id").cast("string"), lit(","), col("source"), lit(","),
          when(pmod(col("doc_id"), lit(89)) === 0, lit("xx"))
            .otherwise(col("n_chars").cast("string")))
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft_q180_src_").toString
        docs.select(line.as("value")).write.mode("overwrite").text(srcDir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("n_chars", LongType)))
        graft.sources.CsvCorpus.readCsvWithAudit(s, srcDir, schema)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH v AS (
          SELECT doc_id, source, n_chars
          FROM documents WHERE doc_id < 500 AND doc_id % 89 <> 0),
        c AS (
          SELECT count(*) AS n_corrupt FROM documents
          WHERE doc_id < 500 AND doc_id % 89 = 0)
        SELECT v.doc_id, v.source, v.n_chars, c.n_corrupt
        FROM v, c ORDER BY v.doc_id""")),

    // Streaming blocklist screening: q175's Aho-Corasick hit table
    // produced by Structured Streaming (AvailableNow file stream →
    // stateless map/explode → parquet sink, read back) — the
    // continuous-ingest form of watchlist monitoring. Stateless, so
    // no watermark/state store; the oracle is the batch semantics
    // (q175's), which the stream must reproduce exactly.
    GraftQuery(
      "q181_streaming_blocklist",
      (s, dir) => {
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft_q181_src_")
        val staged = srcDir.resolve("documents.parquet")
        val orig = java.nio.file.Paths.get(s"$dir/documents.parquet")
        try java.nio.file.Files.createLink(staged, orig)
        catch { case _: Exception =>
          java.nio.file.Files.copy(orig, staged)
        }
        val src = s.readStream
          .schema(s.read.parquet(s"$dir/documents.parquet").schema)
          .parquet(srcDir.toString)
        val hits = graft.text.Blocklist.patternHits(
          src.filter(!col("text").rlike("[^ -~]")),
          "doc_id", "text",
          Seq("table", "able", "an", "scan", "value table"))
        val out = java.nio.file.Files
          .createTempDirectory("graft_q181_out_").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q181_ckpt_").toString
        withShufflePartitions(s, 8) {
          hits.writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        deleteTree(srcDir)
        deleteTree(java.nio.file.Paths.get(ckpt))
        s.read.parquet(out).orderBy(col("doc_id"), col("pattern"))
      },
      Some("""
        WITH p AS (SELECT unnest(['table','able','an','scan','value table']) AS pattern),
        d AS (SELECT doc_id, text FROM documents
              WHERE NOT regexp_matches(text, '[^ -~]')),
        hits AS (
          SELECT d.doc_id, p.pattern,
            len(list_filter(range(1, len(d.text) - len(p.pattern) + 2),
              i -> substr(d.text, i, len(p.pattern)) = p.pattern)) AS n_hits
          FROM d, p)
        SELECT doc_id, pattern, CAST(n_hits AS INTEGER) AS n_hits
        FROM hits WHERE n_hits > 0
        ORDER BY doc_id, pattern""")),

    // Johnson-Lindenstrauss random projection
    // (sim/RandomProjection.project): data-independent dim reduction —
    // the no-fit-pass complement to the PCA path (q164/q165's Gram
    // accumulation), for when even one training pass over 100 TB is
    // too much. The ±1 sign matrix regenerates entry-by-entry from the
    // replayable squared KR hash, so DuckDB rebuilds the identical
    // matrix from (dim, k, salt) alone and replays the sequential
    // projection folds bit-exactly. Map-only, no shuffle.
    GraftQuery(
      "q182_random_projection",
      (s, dir) =>
        graft.sim.RandomProjection.project(
          t(s, dir, "embeddings"), "embedding",
          dim = 64, k = 8, salt = "jl1")
          .select(col("vec_id"),
            posexplode(col("proj")).as(Seq("j", "y")))
          .orderBy(col("vec_id"), col("j")),
      Some("""
        WITH idx AS (SELECT unnest(range(0, 64)) AS i),
        jdx AS (SELECT unnest(range(0, 8)) AS j),
        ks AS (SELECT i, j,
                 CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':jl1' AS k
               FROM idx, jdx),
        h AS (SELECT i, j,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(k) + 1),
                    p -> CAST(ord(substr(k, p, 1)) AS BIGINT))),
                  (a, b) -> (a * 257 + b) % 2147483647) AS hh
              FROM ks),
        m AS (SELECT j,
                list(CASE WHEN ((hh * hh) % 2147483647) % 2 = 0
                     THEN 1e0 ELSE -1e0 END ORDER BY i) AS sl
              FROM h GROUP BY j),
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        y AS (SELECT vec_id, j,
                list_reduce(list_prepend(0.0e0,
                  list_transform(x, (e, i) -> e * sl[i])),
                  (a, b) -> a + b) AS y
              FROM v, m)
        SELECT vec_id, CAST(j AS INTEGER) AS j, y
        FROM y ORDER BY vec_id, j""")),

    // Late-interaction MaxSim scoring (sim/LateInteraction): query and
    // document are BAGS of token embeddings; score = Σ_i max_j
    // cos(q_i, d_j) — the ColBERT shape, preserving term-level matches
    // that pooled-vector cosine (q12) washes out. Here the pseudo-token
    // matrices derive deterministically from the flat 64-dim vectors
    // (4 contiguous sub-vectors — the PQ subspace trick), so DuckDB
    // replays everything: sliced lists, per-token sequential-fold
    // cosines, an order-free MAX per query token, and the final sum in
    // fixed token order with explicit parenthesization. Plan: broadcast
    // queries, ONE map-only corpus scan into bounded per-partition
    // top-k heaps (the q12 two-stage profile) — no shuffle carries
    // vectors; serving composes with the IVF index via
    // maxSimFromCandidates (LateInteractionSpec pins ≡ on full
    // candidates).
    GraftQuery(
      "q183_maxsim_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 2)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0),
            graft.sim.LateInteraction.subVectors(4)(r.getSeq[Float](1))))
          .toSeq
        graft.sim.LateInteraction.maxSimTopK(
          emb, "vec_id", "embedding", queries, nSub = 4, k = 8)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        esub AS (
          SELECT vec_id, 1 AS ti, v[1:16] AS sv FROM e
          UNION ALL SELECT vec_id, 2, v[17:32] FROM e
          UNION ALL SELECT vec_id, 3, v[33:48] FROM e
          UNION ALL SELECT vec_id, 4, v[49:64] FROM e),
        qsub AS (SELECT vec_id AS query_id, ti AS qi, sv AS qv
                 FROM esub WHERE vec_id < 2),
        cs AS (
          SELECT q.query_id, d.vec_id, q.qi,
            list_reduce(list_transform(d.sv, (x,i) -> x * q.qv[i]),
                        (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(q.qv, x -> x * x),
                                (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(d.sv, x -> x * x),
                                  (a,b) -> a + b))) AS c
          FROM qsub q CROSS JOIN esub d),
        m AS (
          SELECT query_id, vec_id,
            ((MAX(CASE WHEN qi = 1 THEN c END)
              + MAX(CASE WHEN qi = 2 THEN c END))
             + MAX(CASE WHEN qi = 3 THEN c END))
            + MAX(CASE WHEN qi = 4 THEN c END) AS score
          FROM cs GROUP BY query_id, vec_id)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn FROM m)
        WHERE rn <= 8
        ORDER BY query_id, score DESC, vec_id""")),

    // ε-differentially-private count release (operators/DpCounts): the
    // geometric mechanism (Ghosh et al. 2009) over per-event-type
    // counts — sensitivity-1 counting query plus two-sided geometric
    // noise X−Y with α = 2^-s (ε = s·ln 2, s = 2 here). The noise is
    // pseudo-random from the replayable SQUARED KR hash of (tag‖salt‖
    // key) — squaring (q182's protocol) because the linear KR fold
    // would leave the two draws' low bits anti-correlated — so the
    // release is bit-reproducible across engines and retries: DuckDB
    // regenerates the hash fold, takes trailing zeros via
    // bit_count((h² & -h²) − 1) — no IEEE log2, whose Math.log-ratio
    // form is inexact on exact powers of two — and replays noise and
    // release exactly. One map-side-combinable
    // groupBy + map-only integer arithmetic on the key-domain-sized
    // count table; zero UDFs.
    GraftQuery(
      "q184_dp_counts",
      (s, dir) =>
        graft.operators.DpCounts.audit(
          t(s, dir, "events"), Seq("event_type"),
          salt = "r9", epsilonLog2Units = 2)
          .orderBy(col("event_type")),
      Some("""
        WITH c AS (SELECT event_type, COUNT(*) AS n
                   FROM events GROUP BY event_type),
        ks AS (SELECT event_type, n,
                 'a:r9:' || event_type AS ka,
                 'b:r9:' || event_type AS kb FROM c),
        h AS (SELECT event_type, n,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(ka) + 1),
                    p -> CAST(ord(substr(ka, p, 1)) AS BIGINT))),
                  (a, b) -> (a * 257 + b) % 2147483647) AS ha,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(kb) + 1),
                    p -> CAST(ord(substr(kb, p, 1)) AS BIGINT))),
                  (a, b) -> (a * 257 + b) % 2147483647) AS hb
              FROM ks),
        h2 AS (SELECT event_type, n,
                 (ha * ha) % 2147483647 AS sa,
                 (hb * hb) % 2147483647 AS sb FROM h),
        d AS (SELECT event_type, n,
                (CASE WHEN sa = 0 THEN 31
                      ELSE least(bit_count((sa & (-sa)) - 1), 31) END) // 2
                - (CASE WHEN sb = 0 THEN 31
                        ELSE least(bit_count((sb & (-sb)) - 1), 31) END) // 2
                AS noise
              FROM h2)
        SELECT event_type, n, CAST(noise AS BIGINT) AS noise,
               CAST(n + noise AS BIGINT) AS noisy_n
        FROM d ORDER BY event_type""")),

    // Product quantization + asymmetric distance (sim/ProductQuantize):
    // the memory leg of billion-scale ANN (Jégou et al. 2011) — 64-dim
    // float vectors compress to 4 code ids against per-subspace
    // codebooks (the q66 deterministic lowest-id centroid protocol),
    // and queries rank the COMPRESSED corpus by ADC: per subspace a
    // lookup-table distance to the assigned centroid, summed in
    // subspace order. encode is map-only whole-stage codegen (native
    // L2DistancesFold + array_position first-minimum argmin); adcTopK
    // is ONE scan of the codes table with the per-query LUTs joined in
    // via the constant-key broadcast-hash-join trick (no BNLJ), then
    // the q12 bounded top-k. DuckDB replays codebooks, assignment
    // (seeded 0.0 sequential L2 folds, lowest-code tie-break), LUTs,
    // and the fixed-parenthesization ADC sum bit-for-bit.
    GraftQuery(
      "q185_pq_adc",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cb = pqCodebooksFor(s, dir, emb)
        val enc = graft.sim.ProductQuantize.encode(
          emb, "vec_id", "embedding", cb)
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.ProductQuantize.adcTopK(enc, "vec_id", queries, cb, k = 10)
          .orderBy(col("query_id"), col("adist"), col("vec_id"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        cbrows AS (SELECT v, rn - 1 AS code FROM (
          SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
          WHERE rn <= 16),
        cb AS (
          SELECT code, 0 AS s, v[1:16] AS cv FROM cbrows
          UNION ALL SELECT code, 1, v[17:32] FROM cbrows
          UNION ALL SELECT code, 2, v[33:48] FROM cbrows
          UNION ALL SELECT code, 3, v[49:64] FROM cbrows),
        esub AS (
          SELECT vec_id, 0 AS s, v[1:16] AS sv FROM e
          UNION ALL SELECT vec_id, 1, v[17:32] FROM e
          UNION ALL SELECT vec_id, 2, v[33:48] FROM e
          UNION ALL SELECT vec_id, 3, v[49:64] FROM e),
        assign AS (
          SELECT vec_id, s, code FROM (
            SELECT d.vec_id, d.s, c.code,
              ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.s ORDER BY
                list_reduce(list_prepend(0.0e0,
                  list_transform(d.sv, (x,i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                  (a,b) -> a + b), c.code) AS rn
            FROM esub d JOIN cb c ON d.s = c.s) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, s, sv AS qv
              FROM esub WHERE vec_id < 3),
        lut AS (
          SELECT q.query_id, q.s, c.code,
            list_reduce(list_prepend(0.0e0,
              list_transform(q.qv, (x,i) -> (x - c.cv[i]) * (x - c.cv[i]))),
              (a,b) -> a + b) AS d2
          FROM q JOIN cb c ON q.s = c.s),
        sc AS (
          SELECT a.vec_id, l.query_id,
            ((MAX(CASE WHEN a.s = 0 THEN l.d2 END)
              + MAX(CASE WHEN a.s = 1 THEN l.d2 END))
             + MAX(CASE WHEN a.s = 2 THEN l.d2 END))
            + MAX(CASE WHEN a.s = 3 THEN l.d2 END) AS adist
          FROM assign a JOIN lut l ON l.s = a.s AND l.code = a.code
          GROUP BY a.vec_id, l.query_id)
        SELECT query_id, vec_id, adist FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adist, vec_id) AS rn FROM sc)
        WHERE rn <= 10
        ORDER BY query_id, adist, vec_id""")),

    // IVF-PQ served end to end (sim/ProductQuantize.ivfAdcTopK over an
    // on-disk writeIvfPq/readIvfPq index): the canonical billion-scale
    // ANN composition — q66's cosine cells prune the scan to
    // nProbe/nCells cell DIRECTORIES (real partition pruning on the
    // cell-partitioned codes parquet, ~64× smaller than the vector
    // layout), then q185's ADC ranks only the surviving code lists
    // (per-query LUTs broadcast on a cell hash join). Oracle = q66's
    // probe/assignment replay composed with q185's codebook/LUT/ADC
    // replay — approximate search as an equality, down to the probe
    // and argmin tie-breaks.
    GraftQuery(
      "q186_ivfpq_serving",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = ivfPqIndexFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.ProductQuantize.ivfAdcTopK(index, queries, k = 10, nProbe = 4)
          .orderBy(col("query_id"), col("adist"), col("vec_id"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        c AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv
              FROM e WHERE vec_id < 16),
        acell AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        qfull AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM qfull q, c) WHERE rn <= 4),
        cbrows AS (SELECT v, rn - 1 AS code FROM (
          SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
          WHERE rn <= 16),
        cb AS (
          SELECT code, 0 AS s, v[1:16] AS cv FROM cbrows
          UNION ALL SELECT code, 1, v[17:32] FROM cbrows
          UNION ALL SELECT code, 2, v[33:48] FROM cbrows
          UNION ALL SELECT code, 3, v[49:64] FROM cbrows),
        esub AS (
          SELECT vec_id, 0 AS s, v[1:16] AS sv FROM e
          UNION ALL SELECT vec_id, 1, v[17:32] FROM e
          UNION ALL SELECT vec_id, 2, v[33:48] FROM e
          UNION ALL SELECT vec_id, 3, v[49:64] FROM e),
        assign AS (
          SELECT vec_id, s, code FROM (
            SELECT d.vec_id, d.s, c.code,
              ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.s ORDER BY
                list_reduce(list_prepend(0.0e0,
                  list_transform(d.sv, (x,i) -> (x - c.cv[i]) * (x - c.cv[i]))),
                  (a,b) -> a + b), c.code) AS rn
            FROM esub d JOIN cb c ON d.s = c.s) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, s, sv AS qv
              FROM esub WHERE vec_id < 3),
        lut AS (
          SELECT q.query_id, q.s, c.code,
            list_reduce(list_prepend(0.0e0,
              list_transform(q.qv, (x,i) -> (x - c.cv[i]) * (x - c.cv[i]))),
              (a,b) -> a + b) AS d2
          FROM q JOIN cb c ON q.s = c.s),
        sc AS (
          SELECT a.vec_id, l.query_id,
            ((MAX(CASE WHEN a.s = 0 THEN l.d2 END)
              + MAX(CASE WHEN a.s = 1 THEN l.d2 END))
             + MAX(CASE WHEN a.s = 2 THEN l.d2 END))
            + MAX(CASE WHEN a.s = 3 THEN l.d2 END) AS adist
          FROM assign a
          JOIN lut l ON l.s = a.s AND l.code = a.code
          JOIN acell ac ON ac.vec_id = a.vec_id
          JOIN probes p ON p.query_id = l.query_id AND p.cell = ac.cell
          GROUP BY a.vec_id, l.query_id)
        SELECT query_id, vec_id, adist FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adist, vec_id) AS rn FROM sc)
        WHERE rn <= 10
        ORDER BY query_id, adist, vec_id""")),

    // Distributed connected components forced down the large-star/
    // small-star path (Kiveris et al.): a 100-long chain per century
    // block is the adversarial diameter case — min-label propagation
    // would need 100 rounds; maxIter=1 + maxDriverEdges=0 makes the
    // O(log n) alternating-star algorithm the ONLY path that can
    // produce this answer (q43 covers the propagation/union-find
    // paths; ComponentsSpec pins three-way equivalence). The oracle
    // replays the known chain structure: component = block start.
    GraftQuery(
      "q187_cc_large_star",
      (s, dir) => {
        val pairs = t(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 399 &&
            pmod(col("doc_id"), lit(100)) =!= 99)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1).as("id_b"))
        graft.dedup.Components
          .connectedComponents(pairs, "id_a", "id_b",
            maxIter = 1, maxDriverEdges = 0)
          .orderBy(col("id"))
      },
      Some("""
        WITH e AS (SELECT doc_id FROM documents
                   WHERE doc_id < 399 AND doc_id % 100 <> 99),
        n AS (SELECT doc_id AS id FROM e
              UNION SELECT doc_id + 1 FROM e)
        SELECT id, (id // 100) * 100 AS component
        FROM n ORDER BY id""")),

    // Quota sampling to a declared target composition (operators/
    // Quota): exact-integer largest-remainder apportionment of
    // totalN=2000 over lang weights en:2 fr:6 zh:1, capped at each
    // stratum's availability (fr and zh are short at some SFs — the
    // cap binds data-dependently and the oracle replays LEAST(req,
    // avail) implicitly via the rank filter), rows picked by the
    // replayable salted-hash rank. The whole pipeline — apportionment
    // window math, Karp-Rabin bucket, per-stratum rank — re-derives
    // in SQL, so target-composition sampling is an equality check.
    GraftQuery(
      "q188_quota_sample",
      (s, dir) =>
        graft.operators.Quota.quotaSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
          "lang", "doc_id",
          Seq("en" -> 2L, "fr" -> 6L, "zh" -> 1L), totalN = 2000L,
          salt = "v1")
          .orderBy(col("doc_id")),
      Some("""
        WITH t(stratum, w) AS (VALUES ('en', 2), ('fr', 6), ('zh', 1)),
        tw AS (SELECT SUM(w) AS ww FROM t),
        b AS (SELECT stratum, (2000 * w) // ww AS base,
                (2000 * w) % ww AS rem
              FROM t, tw),
        x AS (SELECT SUM(base) AS sb FROM b),
        r AS (SELECT stratum, base, rem,
                row_number() OVER (ORDER BY rem DESC, stratum) AS rk
              FROM b),
        req AS (SELECT r.stratum,
                  base + CASE WHEN rk <= 2000 - x.sb THEN 1 ELSE 0 END AS req
                FROM r, x),
        s AS (SELECT doc_id, lang, source,
                CAST(doc_id AS VARCHAR) || ':v1' AS k
              FROM documents JOIN req ON lang = stratum),
        h AS (SELECT doc_id, lang, source,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(k) + 1),
                    i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
                  (a, b) -> (a * 257 + b) % 2147483647) AS hh
              FROM s),
        rn AS (SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ((hh * hh) % 2147483647) % 1048576, doc_id) AS rn
               FROM h)
        SELECT rn.doc_id, rn.lang, rn.source
        FROM rn JOIN req ON rn.lang = req.stratum
        WHERE rn.rn <= req.req
        ORDER BY rn.doc_id""")),

    // The quota ALLOCATION audit (Quota.allocationReport): available /
    // requested / allocated per target stratum — the datasheet row a
    // curation run publishes, and the place a shortfall (requested >
    // available) surfaces instead of being silently redistributed.
    // Same apportionment replay as q188; 'es' is deliberately absent
    // from the targets (never appears) and the weights exercise a
    // remainder tie broken lexicographically.
    GraftQuery(
      "q189_quota_report",
      (s, dir) =>
        graft.operators.Quota.allocationReport(
          t(s, dir, "documents"), "lang",
          Seq("en" -> 3L, "de" -> 1L, "fr" -> 1L, "zh" -> 1L),
          totalN = 1000L)
          .orderBy(col("stratum")),
      Some("""
        WITH t(stratum, w) AS
          (VALUES ('en', 3), ('de', 1), ('fr', 1), ('zh', 1)),
        tw AS (SELECT SUM(w) AS ww FROM t),
        b AS (SELECT stratum, (1000 * w) // ww AS base,
                (1000 * w) % ww AS rem
              FROM t, tw),
        x AS (SELECT SUM(base) AS sb FROM b),
        r AS (SELECT stratum, base, rem,
                row_number() OVER (ORDER BY rem DESC, stratum) AS rk
              FROM b),
        req AS (SELECT r.stratum,
                  CAST(base + CASE WHEN rk <= 1000 - x.sb THEN 1 ELSE 0 END
                    AS BIGINT) AS requested
                FROM r, x),
        avail AS (SELECT lang, COUNT(*) AS available
                  FROM documents GROUP BY lang)
        SELECT req.stratum,
          COALESCE(avail.available, 0) AS available,
          req.requested,
          CAST(LEAST(req.requested, COALESCE(avail.available, 0))
            AS BIGINT) AS allocated
        FROM req LEFT JOIN avail ON avail.lang = req.stratum
        ORDER BY req.stratum""")),

    // Declarative data-quality gate (operators/Checks): the
    // write-audit-publish contract table. Row-level checks (complete /
    // satisfies / row-count) share ONE scan-aggregate; unique adds a
    // distinct-key agg; referential integrity one anti-join count.
    // low_discount is deliberately violated by the data so the audit
    // proves it REPORTS failures (violations/total), not just passes.
    GraftQuery(
      "q190_quality_gate",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        graft.operators.Checks.runChecks(li, Seq(
          graft.operators.Checks.Complete("l_returnflag"),
          graft.operators.Checks.Satisfies("qty_range",
            col("l_quantity") >= 1 && col("l_quantity") <= 50),
          graft.operators.Checks.Satisfies("low_discount",
            col("l_discount") <= 0.05),
          graft.operators.Checks.Unique(Seq("l_orderkey", "l_linenumber")),
          graft.operators.Checks.RowCountBetween(1L, 100000000L),
          graft.operators.Checks.ReferencedIn("l_orderkey",
            t(s, dir, "orders"), "o_orderkey")))
          .orderBy(col("check_idx"))
      },
      Some("""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem),
        c AS (
          SELECT 0 AS idx, 'complete(l_returnflag)' AS chk,
            CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS violations
          FROM lineitem
          UNION ALL
          SELECT 1, 'satisfies(qty_range)',
            CAST(SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
              THEN 0 ELSE 1 END) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 2, 'satisfies(low_discount)',
            CAST(SUM(CASE WHEN l_discount <= 0.05e0 THEN 0 ELSE 1 END)
              AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 3, 'unique(l_orderkey,l_linenumber)',
            (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) -
            (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
          UNION ALL
          SELECT 4, 'row_count_between(1,100000000)',
            (SELECT CAST(CASE WHEN COUNT(*) < 1 THEN 1 - COUNT(*)
              WHEN COUNT(*) > 100000000 THEN COUNT(*) - 100000000
              ELSE 0 END AS BIGINT) FROM lineitem)
          UNION ALL
          SELECT 5, 'referenced_in(l_orderkey)',
            (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
        SELECT CAST(idx AS BIGINT) AS check_idx, chk AS "check",
          violations, n.total, violations = 0 AS passed
        FROM c, n ORDER BY idx""")),

    // Join pre-flight audit, summary form (operators/JoinAudit): exact
    // inner-join output forecast + key-overlap profile for
    // lineitem⋈orders, computed on the per-key COUNT tables (distinct-
    // keys-sized) — the "is this join safe / is this even the right
    // key" gate run before paying the row-level shuffle.
    GraftQuery(
      "q191_join_audit",
      (s, dir) =>
        graft.operators.JoinAudit.summary(
          t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey"),
      Some("""
        WITH cl AS (SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS lr
                    FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        cr AS (SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS rr
               FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        j AS (SELECT cl.lr, cr.rr
              FROM cl FULL OUTER JOIN cr ON cl.key = cr.key)
        SELECT
          (SELECT CAST(COALESCE(SUM(lr), 0) AS BIGINT) FROM j) AS left_rows,
          (SELECT CAST(COALESCE(SUM(rr), 0) AS BIGINT) FROM j) AS right_rows,
          (SELECT CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) FROM lineitem) AS left_null_keys,
          (SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) FROM orders) AS right_null_keys,
          (SELECT CAST(COUNT(lr) AS BIGINT) FROM j) AS left_keys,
          (SELECT CAST(COUNT(rr) AS BIGINT) FROM j) AS right_keys,
          (SELECT CAST(COALESCE(SUM(CASE WHEN lr IS NOT NULL
            AND rr IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j)
            AS matched_keys,
          (SELECT CAST(COALESCE(SUM(CASE WHEN rr IS NULL THEN 1 ELSE 0 END),
            0) AS BIGINT) FROM j) AS left_only_keys,
          (SELECT CAST(COALESCE(SUM(CASE WHEN lr IS NULL THEN 1 ELSE 0 END),
            0) AS BIGINT) FROM j) AS right_only_keys,
          (SELECT CAST(COALESCE(SUM(lr * rr), 0) AS BIGINT) FROM j)
            AS out_rows,
          (SELECT CAST(COALESCE(MAX(lr * rr), 0) AS BIGINT) FROM j)
            AS max_key_out""")),

    // Join audit, hot-key form: the top-10 keys by output contribution
    // (the salting / separate-handling targets), via a global bounded
    // top-k over the per-key count join — ties to the smaller key so
    // the selection is a total order the oracle replays exactly.
    GraftQuery(
      "q192_join_hot_keys",
      (s, dir) =>
        graft.operators.JoinAudit.hotKeys(
          t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey", k = 10)
          .orderBy(col("out_rows").desc, col("key")),
      Some("""
        WITH cl AS (SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT)
                      AS left_rows
                    FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        cr AS (SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT)
                 AS right_rows
               FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        j AS (SELECT cl.key, left_rows, right_rows,
                left_rows * right_rows AS out_rows
              FROM cl JOIN cr ON cl.key = cr.key)
        SELECT key, left_rows, right_rows, out_rows FROM (
          SELECT *, row_number() OVER (ORDER BY out_rows DESC, key) AS rn
          FROM j)
        WHERE rn <= 10
        ORDER BY out_rows DESC, key""")),

    // Small-file compaction planning (operators/Compaction): a
    // deterministic manifest is synthesized by rolling documents into
    // ~25-doc "files" (path = zero-padded block id, bytes = Σ n_chars),
    // then ordered cumulative packing assigns each file the group of
    // its first byte — group = floor(exclusive-prefix-bytes / target),
    // computed through the Enumerate + Packing two-level distributed
    // prefix scan (no global single-partition window) and replayed in
    // SQL as a plain window cumsum.
    GraftQuery(
      "q193_compaction_plan",
      (s, dir) => {
        val manifest = t(s, dir, "documents")
          .groupBy(concat(lit("f"),
            lpad(expr("doc_id div 25").cast("string"), 4, "0")).as("path"))
          .agg(sum(col("n_chars")).as("bytes"))
        graft.operators.Compaction
          .planCompaction(manifest, "path", "bytes", targetBytes = 120000L)
          .orderBy(col("path"))
      },
      Some("""
        WITH m AS (SELECT 'f' || lpad(CAST(doc_id // 25 AS VARCHAR), 4, '0')
                     AS path,
                   CAST(SUM(n_chars) AS BIGINT) AS bytes
                   FROM documents GROUP BY 1),
        p AS (SELECT path, bytes,
                COALESCE(SUM(bytes) OVER (ORDER BY path
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS pre
              FROM m)
        SELECT path, bytes,
          CAST(CASE WHEN bytes = 0 THEN -1 ELSE pre // 120000 END
            AS BIGINT) AS "group"
        FROM p ORDER BY path""")),

    // Sentence-boundary-aware chunking (Chunking.chunkBySentences over
    // the native one-pass SentenceChunks expression): chunks pack
    // consecutive sentences greedily to ≤200 chars and never split
    // mid-sentence — q58's fixed-stride form cuts claims in half, this
    // one cannot. Sentence punctuation is synthesized deterministically
    // (replace ' value ' → '. ', same left-to-right non-overlapping
    // semantics in both engines); docs end unterminated, exercising the
    // trailing-fragment rule. The oracle re-derives boundary positions
    // by character scan (no regex dialects), then replays the greedy
    // packing as a recursive chunk walk with correlated aggregates —
    // the q56 recursion pattern.
    GraftQuery(
      "q194_sentence_chunks",
      (s, dir) =>
        graft.text.Chunking.chunkBySentences(
          t(s, dir, "documents").filter(col("doc_id") < 300)
            .select(col("doc_id"),
              expr("replace(text, ' value ', '. ')").as("text")),
          "doc_id", "text", maxChars = 200)
          .orderBy(col("doc_id"), col("chunk_id")),
      Some("""
        WITH RECURSIVE
        d AS (SELECT doc_id, replace(text, ' value ', '. ') AS text
              FROM documents WHERE doc_id < 300),
        dl AS (SELECT doc_id, text, length(text) AS n FROM d),
        pos AS (SELECT doc_id, text, n, unnest(range(1, n + 1)) AS i
                FROM dl),
        ends AS (
          SELECT doc_id, i AS e FROM pos
          WHERE substring(text, i, 1) IN ('.', '!', '?')
            AND (i = n OR substring(text, i + 1, 1) = ' ')
          UNION
          SELECT doc_id, n FROM dl WHERE n > 0),
        sent0 AS (
          SELECT doc_id, e,
            COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
              AS st
          FROM ends),
        sent AS (
          SELECT s0.doc_id, s0.st, s0.e,
            s0.st + (length(substring(dl.text, s0.st, s0.e - s0.st + 1))
              - length(ltrim(substring(dl.text, s0.st, s0.e - s0.st + 1),
                  ' '))) AS eff
          FROM sent0 s0 JOIN dl ON dl.doc_id = s0.doc_id
          WHERE ltrim(substring(dl.text, s0.st, s0.e - s0.st + 1), ' ')
            <> ''),
        w(doc_id, k, cs, pe) AS (
          SELECT f.doc_id, 0, f.cs,
            COALESCE(
              (SELECT MAX(s.e) FROM sent s
               WHERE s.doc_id = f.doc_id AND s.e >= f.cs
                 AND s.e - f.cs + 1 <= 200),
              (SELECT MIN(s.e) FROM sent s
               WHERE s.doc_id = f.doc_id AND s.e >= f.cs))
          FROM (SELECT doc_id, MIN(eff) AS cs FROM sent GROUP BY doc_id) f
          UNION ALL
          SELECT w.doc_id, w.k + 1, nx.cs, nx.pe
          FROM w, LATERAL (
            SELECT q.cs,
              COALESCE(
                (SELECT MAX(s.e) FROM sent s
                 WHERE s.doc_id = w.doc_id AND s.e >= q.cs
                   AND s.e - q.cs + 1 <= 200),
                (SELECT MIN(s.e) FROM sent s
                 WHERE s.doc_id = w.doc_id AND s.e >= q.cs)) AS pe
            FROM (SELECT (SELECT MIN(s2.eff) FROM sent s2
                          WHERE s2.doc_id = w.doc_id
                            AND s2.eff > w.pe) AS cs) q
            WHERE q.cs IS NOT NULL) nx)
        SELECT w.doc_id,
          CAST(w.k AS BIGINT) AS chunk_id,
          CAST(w.cs - 1 AS BIGINT) AS chunk_start,
          CAST(w.pe - w.cs + 1 AS BIGINT) AS chunk_len,
          substring(dl.text, w.cs, w.pe - w.cs + 1) AS chunk_text
        FROM w JOIN dl ON dl.doc_id = w.doc_id
        ORDER BY w.doc_id, chunk_id""")),

    // Compaction EXECUTED end to end (Compaction.compactParquet): the
    // q67/q16 staged-filesystem pattern — documents staged as one
    // parquet file per 25-doc block (zero-padded Hive dirs keep path
    // order = block order), manifest bytes derived from DATA (Σ
    // n_chars per block — physical parquet sizes are not
    // engine-replayable), planned, rewritten (one shuffle by group,
    // one output file per group), and read BACK from the compacted
    // layout. The oracle replays block sums → window-cumsum groups →
    // per-group rollups, so the whole rewrite — plan, movement, row
    // preservation — is an equality check.
    GraftQuery(
      "q195_compaction_rewrite",
      (s, dir) => {
        val staged = stagedBlocksFor(s, dir)
        val out = java.nio.file.Files
          .createTempDirectory("graft_q195_out_").toString
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            concat(lit("b"), lpad(expr("doc_id div 25").cast("string"),
              4, "0")).as("block"))
        val listing = graft.operators.Compaction
          .parquetManifest(s, staged)
          .select(col("path"),
            regexp_extract(col("path"), "block=(b\\d+)", 1).as("block"))
        val sizes = docs.groupBy(col("block"))
          .agg(sum(col("n_chars")).as("bytes"))
        val manifest = listing.join(broadcast(sizes), Seq("block"))
          .select(col("path"), col("bytes"))
        val plan = graft.operators.Compaction
          .planCompaction(manifest, "path", "bytes", targetBytes = 120000L)
        val receipt = graft.operators.Compaction
          .compactParquet(plan, "path", s"$out/c")
        val back = s.read.parquet(s"$out/c")
          .groupBy(col("group").cast("long").as("group"))
          .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_doc"))
        receipt.select(col("group"), col("n_files_in"))
          .join(back, Seq("group"))
          .orderBy(col("group"))
      },
      Some("""
        WITH blk AS (
          SELECT doc_id // 25 AS b,
            CAST(SUM(n_chars) AS BIGINT) AS bytes,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(doc_id) AS BIGINT) AS sd
          FROM documents GROUP BY 1),
        p AS (
          SELECT b, bytes, n, sd,
            COALESCE(SUM(bytes) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
          FROM blk)
        SELECT CAST(pre // 120000 AS BIGINT) AS "group",
          CAST(COUNT(*) AS BIGINT) AS n_files_in,
          CAST(SUM(n) AS BIGINT) AS n_rows,
          CAST(SUM(sd) AS BIGINT) AS sum_doc
        FROM p GROUP BY 1 ORDER BY 1""")),

    // Zone-map scan-pruning audit (operators/ZoneMap): measures, from
    // min/max statistics alone, how many zones/rows a workload of
    // range predicates must scan under a LINEAR layout (zones by
    // n_chars value ranges) vs a Z-ORDER layout (zones by q96's Morton
    // value) — the layout decision quantified rather than guessed.
    // Query 2 (a b-only range) is the payoff: linear zones all span
    // the full b domain (no pruning), z-order zones keep b bounded.
    // Everything is integer box arithmetic on #zones-sized tables;
    // the oracle replays zvalue, zone stats and the overlap test.
    GraftQuery(
      "q196_zonemap_audit",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "documents").select(
          col("n_chars").cast("long").as("a"),
          pmod(col("doc_id"), lit(256)).cast("long").as("b"))
        val linear = base.withColumn("zone", expr("a div 32"))
        val zord = graft.operators.ZOrder.withZValue(base, "a", "b", bits = 10)
          .withColumn("zone", expr("zvalue div 4096"))
        val wl = Seq(
          (1L, Some(100L), Some(199L), None: Option[Long], None: Option[Long]),
          (2L, None: Option[Long], None: Option[Long], Some(0L), Some(15L)),
          (3L, Some(100L), Some(199L), Some(0L), Some(15L)))
          .toDF("query_id", "a_lo", "a_hi", "b_lo", "b_hi")
        val lin = graft.operators.ZoneMap.scanAudit(
          graft.operators.ZoneMap.zoneStats(linear, "zone", "a", "b"), wl)
          .withColumn("layout", lit("linear"))
        val z = graft.operators.ZoneMap.scanAudit(
          graft.operators.ZoneMap.zoneStats(zord, "zone", "a", "b"), wl)
          .withColumn("layout", lit("zorder"))
        lin.unionByName(z)
          .select(col("layout"), col("query_id"), col("zones_scanned"),
            col("zones_total"), col("rows_scanned"), col("rows_total"))
          .orderBy(col("layout"), col("query_id"))
      },
      Some("""
        WITH base AS (SELECT CAST(n_chars AS BIGINT) AS a,
                        doc_id % 256 AS b
                      FROM documents),
        lin AS (SELECT a // 32 AS zone, a, b FROM base),
        zo AS (SELECT
                 CAST(list_sum(list_transform(range(0, 10), i ->
                   (((a >> i) & 1) << (2 * i)) +
                   (((b >> i) & 1) << (2 * i + 1)))) AS BIGINT) // 4096
                   AS zone,
                 a, b
               FROM base),
        slin AS (SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(a) AS a_min, MAX(a) AS a_max,
                   MIN(b) AS b_min, MAX(b) AS b_max
                 FROM lin GROUP BY 1),
        szo AS (SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  MIN(a) AS a_min, MAX(a) AS a_max,
                  MIN(b) AS b_min, MAX(b) AS b_max
                FROM zo GROUP BY 1),
        stats AS (SELECT 'linear' AS layout, * FROM slin
                  UNION ALL SELECT 'zorder', * FROM szo),
        wl(query_id, a_lo, a_hi, b_lo, b_hi) AS (VALUES
          (CAST(1 AS BIGINT), 100, 199, NULL, NULL),
          (CAST(2 AS BIGINT), NULL, NULL, 0, 15),
          (CAST(3 AS BIGINT), 100, 199, 0, 15)),
        x AS (SELECT s.*, w.*,
                CASE WHEN (w.a_lo IS NULL OR s.a_max >= w.a_lo)
                      AND (w.a_hi IS NULL OR s.a_min <= w.a_hi)
                      AND (w.b_lo IS NULL OR s.b_max >= w.b_lo)
                      AND (w.b_hi IS NULL OR s.b_min <= w.b_hi)
                  THEN 1 ELSE 0 END AS sc
              FROM stats s, wl w)
        SELECT layout, query_id,
          CAST(SUM(sc) AS BIGINT) AS zones_scanned,
          CAST(COUNT(*) AS BIGINT) AS zones_total,
          CAST(SUM(sc * n_rows) AS BIGINT) AS rows_scanned,
          CAST(SUM(n_rows) AS BIGINT) AS rows_total
        FROM x GROUP BY layout, query_id
        ORDER BY layout, query_id""")),

    // Continuous ingest gate (Streaming.qualityAuditSink): q190's
    // declarative Checks applied per MICRO-BATCH — staged 50-doc
    // block files (fixed doc_id < 500 probe) arrive one per batch (maxFilesPerTrigger=1),
    // each batch's audit rows land in the sink partitioned by a
    // CONTENT-derived key (min block), so the result is independent of
    // file-listing order and idempotent under foreachBatch replays
    // (dynamic partition overwrite; QualityAuditSinkSpec pins the
    // re-run). Oracle = the batch semantics per block.
    GraftQuery(
      "q197_streaming_quality_audit",
      (s, dir) => withShufflePartitions(s, 8) {
        val staged = stagedCoarseBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q197_").toString
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        val gate = graft.streaming.Streaming.qualityAuditSink(
          stream,
          Seq(
            graft.operators.Checks.Complete("n_chars"),
            graft.operators.Checks.Satisfies("chars_pos",
              col("n_chars") > 0),
            graft.operators.Checks.Unique(Seq("doc_id")),
            graft.operators.Checks.RowCountBetween(1, 50)),
          b => b.agg(min(col("block")).as("batch_block")),
          s"$base/audit", s"$base/ckpt")
        gate.awaitTermination()
        s.read.parquet(s"$base/audit")
          .select(col("batch_block"), col("check"), col("violations"),
            col("total"), col("passed"))
          .orderBy(col("batch_block"), col("check"))
      },
      Some("""
        WITH blk AS (
          SELECT 'b' || lpad(CAST(doc_id // 50 AS VARCHAR), 4, '0')
              AS batch_block,
            CAST(COUNT(*) AS BIGINT) AS total,
            CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_complete,
            CAST(SUM(CASE WHEN n_chars > 0 THEN 0 ELSE 1 END)
              AS BIGINT) AS v_pos,
            CAST(COUNT(*) AS BIGINT)
              - CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS v_uni
          FROM documents WHERE doc_id < 500 GROUP BY 1),
        u AS (
          SELECT batch_block, 'complete(n_chars)' AS chk,
            v_complete AS violations, total FROM blk
          UNION ALL
          SELECT batch_block, 'satisfies(chars_pos)', v_pos, total
          FROM blk
          UNION ALL
          SELECT batch_block, 'unique(doc_id)', v_uni, total FROM blk
          UNION ALL
          SELECT batch_block, 'row_count_between(1,50)',
            CAST(CASE WHEN total < 1 THEN 1 - total
              WHEN total > 50 THEN total - 50 ELSE 0 END AS BIGINT),
            total
          FROM blk)
        SELECT batch_block, chk AS "check", violations, total,
          violations = 0 AS passed
        FROM u ORDER BY batch_block, chk""")),

    // Unigram tokenizer scores (text/Unigram.fitScores): corpus-wide
    // overlap-inclusive Aho-Corasick counts for the candidate set in
    // ONE scan per doc, then add-one-smoothed Q20 log2 relative
    // frequencies via the exact integer ilog2 (q48/q49's discipline).
    // The oracle re-counts by position scan (overlap-inclusive by
    // construction) and replays ilog2 as the 20-round square-and-shift
    // recursion. 'zzz' never occurs — the smoothing floor is visible.
    GraftQuery(
      "q198_unigram_scores",
      (s, dir) =>
        graft.text.Unigram.fitScores(
          t(s, dir, "documents"), "text",
          Seq("key ", "agg ", "table ", "value ", "hash ", "row ",
            "fast ", "key agg ", "row scan ", "scan ", "zzz"))
          .orderBy(col("token")),
      Some("""
        WITH RECURSIVE
        cands(tok) AS (VALUES ('key '), ('agg '), ('table '), ('value '),
          ('hash '), ('row '), ('fast '), ('key agg '), ('row scan '),
          ('scan '), ('zzz')),
        pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1))
                  AS i
                FROM documents),
        cnt0 AS (SELECT c.tok, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM pos p JOIN cands c
                   ON substring(p.text, p.i, length(c.tok)) = c.tok
                 GROUP BY 1),
        cnt AS (SELECT c.tok, COALESCE(cnt0.cnt, 0) AS cnt
                FROM cands c LEFT JOIN cnt0 USING (tok)),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnt),
        svals AS (SELECT DISTINCT (cnt + 1) * 1048576 AS s FROM cnt
                  UNION SELECT (t + 11) * 1048576 FROM tot),
        norm AS (SELECT s, length(bin(s)) AS bl,
                   CASE WHEN length(bin(s)) >= 21
                     THEN s >> (length(bin(s)) - 21)
                     ELSE s << (21 - length(bin(s))) END AS m
                 FROM svals),
        iter(s, bl, i, m, frac) AS (
          SELECT s, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT s, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20),
        ltab AS (SELECT s, (bl - 21) * 1048576 + frac AS l
                 FROM iter WHERE i = 20)
        SELECT cnt.tok AS token, cnt.cnt AS "count",
          lc.l - lt.l AS score
        FROM cnt CROSS JOIN tot
        JOIN ltab lc ON lc.s = (cnt.cnt + 1) * 1048576
        JOIN ltab lt ON lt.s = (tot.t + 11) * 1048576
        ORDER BY token""")),

    // Unigram Viterbi segmentation (Unigram.segment over the native
    // one-pass UnigramSegment DP): the globally best-scoring
    // tokenization under literal integer scores — multi-word
    // 'key agg ' (−12) beats 'key '+'agg ' (−17), which greedy
    // longest-match cannot see past; uncovered chars fall back to
    // single-char unk (−20). Ties go to the smallest start (longest
    // last token). The oracle replays the DP as a recursive forward
    // walk whose state is BOUNDED: only the last-10 window of best
    // scores rides the recursion row (max vocab token is 9 chars, so
    // no match reaches further back), and `from` pointers are emitted
    // as plain rows for the backtrack to join — carrying full
    // per-position lists instead is O(n²) state and took DuckDB >10
    // min at this probe size. Fixed 40-doc × 300-char probe.
    GraftQuery(
      "q199_unigram_segment",
      (s, dir) =>
        graft.text.Unigram.segment(
          t(s, dir, "documents").filter(col("doc_id") < 40)
            .select(col("doc_id"),
              substring(col("text"), 1, 300).as("text")),
          "doc_id", "text",
          Seq("key " -> -8L, "agg " -> -9L, "table " -> -10L,
            "value " -> -10L, "hash " -> -10L, "row " -> -9L,
            "fast " -> -10L, "key agg " -> -12L, "row scan " -> -15L,
            "scan " -> -10L),
          unkScore = -20L)
          .orderBy(col("doc_id"), col("tok_id")),
      Some("""
        WITH RECURSIVE
        dl AS MATERIALIZED (
          SELECT doc_id, substring(text, 1, 300) AS text,
            length(substring(text, 1, 300)) AS n
          FROM documents WHERE doc_id < 40),
        vocab(tok, sc) AS (VALUES
          ('key ', -8), ('agg ', -9), ('table ', -10), ('value ', -10),
          ('hash ', -10), ('row ', -9), ('fast ', -10), ('key agg ', -12),
          ('row scan ', -15), ('scan ', -10)),
        mj AS MATERIALIZED (
          SELECT m.doc_id, m.j,
            list({'i0': m.i0, 'sc': m.sc}) AS ms
          FROM (SELECT p.doc_id, CAST(p.i - 1 AS BIGINT) AS i0,
                  CAST(p.i - 1 + length(v.tok) AS BIGINT) AS j,
                  CAST(v.sc AS BIGINT) AS sc
                FROM (SELECT doc_id, text, unnest(range(1, n + 1)) AS i
                      FROM dl) p
                JOIN vocab v
                  ON substring(p.text, p.i, length(v.tok)) = v.tok) m
          GROUP BY 1, 2),
        w(doc_id, j, win, frm) AS (
          SELECT doc_id, CAST(0 AS BIGINT),
            [CAST(-1000000000 AS BIGINT), -1000000000, -1000000000,
             -1000000000, -1000000000, -1000000000, -1000000000,
             -1000000000, -1000000000, CAST(0 AS BIGINT)],
            CAST(0 AS BIGINT)
          FROM dl
          UNION ALL
          SELECT w.doc_id, w.j + 1,
            list_append(w.win[2:10], nx.b), nx.f
          FROM w
          JOIN dl ON dl.doc_id = w.doc_id AND w.j < dl.n
          LEFT JOIN mj ON mj.doc_id = w.doc_id AND mj.j = w.j + 1
          , LATERAL (
            SELECT list_transform(COALESCE(mj.ms, []),
                     m -> {'i0': m.i0,
                           'v': w.win[CAST(m.i0 - w.j + 10 AS INTEGER)]
                             + m.sc}) AS cl,
                   w.win[10] - 20 AS unkb
          ) t1
          , LATERAL (
            SELECT GREATEST(COALESCE(
              list_max(list_transform(t1.cl, x -> x.v)), t1.unkb),
              t1.unkb) AS b
          ) t2
          , LATERAL (
            SELECT t2.b,
              COALESCE(list_min(list_transform(
                list_filter(t1.cl, x -> x.v = t2.b), x -> x.i0)), w.j)
                AS f
          ) nx),
        frm AS MATERIALIZED (SELECT doc_id, j, frm FROM w WHERE j > 0),
        bt(doc_id, p, ord) AS (
          SELECT doc_id, n, CAST(0 AS BIGINT) FROM dl
          UNION ALL
          SELECT b.doc_id, f.frm, b.ord + 1
          FROM bt b JOIN frm f ON f.doc_id = b.doc_id AND f.j = b.p
          WHERE b.p > 0),
        tokc AS (SELECT doc_id, COUNT(*) AS tc FROM bt WHERE p > 0
                 GROUP BY 1),
        spans AS (
          SELECT b.doc_id, tokc.tc - b.ord - 1 AS tok_id,
            f.frm AS start, b.p - f.frm AS len
          FROM bt b JOIN frm f ON f.doc_id = b.doc_id AND f.j = b.p
          JOIN tokc ON tokc.doc_id = b.doc_id
          WHERE b.p > 0)
        SELECT s.doc_id, s.tok_id, s.start, s.len,
          substring(dl.text, CAST(s.start + 1 AS INTEGER),
            CAST(s.len AS INTEGER)) AS token
        FROM spans s JOIN dl ON dl.doc_id = s.doc_id
        ORDER BY s.doc_id, s.tok_id""")),

    // WordPiece segmentation (text/WordPiece over the native
    // WordPieceTokenize): per-word greedy longest-match with
    // ##-prefixed continuation pieces and the all-or-nothing unk rule
    // — 'stream' collapses to ONE [UNK] even though 'st'+'##re' match
    // (flat maximal munch would keep them), 'order' takes 'ord'+'##er'
    // (greedy init beats 'or'). Runs on the corpus' DISTINCT words
    // (Heaps' law: vocabulary-sized work however big the corpus), with
    // instance counts joined back. The oracle replays the greedy scan
    // as a recursive longest-prefix walk over the distinct words.
    GraftQuery(
      "q200_wordpiece",
      (s, dir) =>
        graft.text.WordPiece.segmentDistinctWords(
          t(s, dir, "documents"), "text",
          Seq("key", "a", "agg", "the", "row", "hash",
            "s", "##can", "##low", "##mall", "tab", "##le", "val",
            "##ue", "b", "##atch", "win", "##dow", "or", "ord",
            "##der", "##er", "st", "##re", "jo", "##in"))
          .orderBy(col("word"), col("piece_id")),
      Some("""
        WITH RECURSIVE
        words AS (
          SELECT wd AS word, CAST(COUNT(*) AS BIGINT) AS n_instances
          FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS wd
                FROM documents)
          WHERE length(wd) > 0 GROUP BY 1),
        vocab(tok) AS (VALUES
          ('key'), ('a'), ('agg'), ('the'), ('row'), ('hash'),
          ('s'), ('##can'), ('##low'), ('##mall'), ('tab'), ('##le'),
          ('val'), ('##ue'), ('b'), ('##atch'), ('win'), ('##dow'),
          ('or'), ('ord'), ('##der'), ('##er'), ('st'), ('##re'),
          ('jo'), ('##in')),
        seg(word, p, pid, piece) AS (
          SELECT word, CAST(1 AS BIGINT), CAST(-1 AS BIGINT),
            CAST(NULL AS VARCHAR)
          FROM words
          UNION ALL
          SELECT q.word, q.p + q.l, q.pid + 1,
            CASE WHEN q.p = 1
              THEN substring(q.word, 1, CAST(q.l AS INTEGER))
              ELSE '##' || substring(q.word, CAST(q.p AS INTEGER),
                CAST(q.l AS INTEGER)) END
          FROM (
            SELECT s.word, s.p, s.pid,
              (SELECT max(CASE WHEN s.p = 1 THEN length(v.tok)
                               ELSE length(v.tok) - 2 END)
               FROM vocab v
               WHERE CASE WHEN s.p = 1
                 THEN v.tok NOT LIKE '##%'
                   AND substring(s.word, 1, length(v.tok)) = v.tok
                 ELSE v.tok LIKE '##%'
                   AND substring(s.word, CAST(s.p AS INTEGER),
                     length(v.tok) - 2) = substring(v.tok, 3) END) AS l
            FROM seg s
            WHERE s.p <= length(s.word)) q
          WHERE q.l IS NOT NULL),
        done AS (SELECT DISTINCT word FROM seg
                 WHERE p = length(word) + 1),
        allp AS (
          SELECT s.word, s.pid AS piece_id, s.piece
          FROM seg s JOIN done d ON d.word = s.word
          WHERE s.pid >= 0
          UNION ALL
          SELECT w.word, CAST(0 AS BIGINT), '[UNK]'
          FROM words w
          WHERE w.word NOT IN (SELECT word FROM done))
        SELECT a.word, w.n_instances, a.piece_id, a.piece
        FROM allp a JOIN words w ON w.word = a.word
        ORDER BY a.word, a.piece_id""")),

    // KMV sketch set algebra (sketch/Kmv): per-source k-minimum-values
    // sketches over word bigrams, then distinct-count estimates AND all
    // pairwise Jaccard estimates computed from the sketches ALONE —
    // the "how much do these corpora overlap" question answered on
    // k-row tables instead of a corpus×corpus join. Hashes are
    // KrHash scrambled by the x^5 mod p power permutation (KrHash's
    // rolling polynomial clusters similar strings; a bottom-k
    // estimator reads cardinality off an order statistic and needs
    // uniformity), so sketches, integer-division estimates and the
    // one-division Jaccard all replay exactly.
    GraftQuery(
      "q203_kmv_corpus_overlap",
      (s, dir) => {
        val bigrams = t(s, dir, "documents")
          .select(col("source"),
            filter(split(col("text"), " "), x => x =!= "").as("__w"))
          .filter(size(col("__w")) > 1)
          .select(col("source"), explode(expr(
            "transform(sequence(0, size(__w) - 2), " +
              "i -> concat(__w[i], ' ', __w[i + 1]))")).as("bigram"))
        val sk = graft.sketch.Kmv.sketch(
          bigrams, Seq("source"), col("bigram"), k = 64)
        val est = graft.sketch.Kmv.distinctEstimate(sk, Seq("source"), k = 64)
        graft.sketch.Kmv.pairwiseJaccard(sk, "source", k = 64)
          .join(est.select(col("source").as("ga"),
            col("distinct_est").as("est_a")), Seq("ga"))
          .join(est.select(col("source").as("gb"),
            col("distinct_est").as("est_b")), Seq("gb"))
          .select(col("ga"), col("gb"), col("k_used"), col("n_common"),
            col("n_a"), col("n_b"), col("jaccard_est"),
            col("est_a"), col("est_b"))
          .orderBy(col("ga"), col("gb"))
      },
      Some("""
        WITH t AS (
          SELECT source,
            list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents),
        bg AS (
          SELECT DISTINCT source, w[i] || ' ' || w[i + 1] AS bigram
          FROM (SELECT source, w, unnest(range(1, len(w))) AS i
                FROM t WHERE len(w) > 1)),
        hh AS (
          SELECT source,
            list_reduce(
              list_transform(range(1, length(bigram) + 1),
                j -> CAST(ord(substring(bigram, CAST(j AS INTEGER), 1))
                  AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS h0
          FROM bg),
        dh AS (
          SELECT DISTINCT source,
            (((((h0 * h0) % 2147483647) * ((h0 * h0) % 2147483647))
              % 2147483647) * h0) % 2147483647 AS h
          FROM hh),
        sk AS (
          SELECT source, h FROM (
            SELECT source, h,
              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM dh)
          WHERE rn <= 64),
        est AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
            CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS BIGINT)
                 ELSE (63 * CAST(2147483647 AS BIGINT)) // MAX(h) END
                   AS distinct_est
          FROM sk GROUP BY 1),
        srcs AS (SELECT DISTINCT source FROM sk),
        pairs AS (SELECT a.source AS ga, b.source AS gb
                  FROM srcs a, srcs b WHERE a.source < b.source),
        u AS (
          SELECT p.ga, p.gb, s.h,
            MAX(CASE WHEN s.source = p.ga THEN 1 ELSE 0 END) AS in_a,
            MAX(CASE WHEN s.source = p.gb THEN 1 ELSE 0 END) AS in_b
          FROM pairs p JOIN sk s ON s.source = p.ga OR s.source = p.gb
          GROUP BY 1, 2, 3),
        uk AS (
          SELECT * FROM (
            SELECT u.*, row_number()
              OVER (PARTITION BY ga, gb ORDER BY h) AS rn
            FROM u)
          WHERE rn <= 64),
        agg AS (
          SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS k_used,
            CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
            CAST(SUM(in_a) AS BIGINT) AS n_a,
            CAST(SUM(in_b) AS BIGINT) AS n_b
          FROM uk GROUP BY 1, 2)
        SELECT agg.ga, agg.gb, agg.k_used, agg.n_common, agg.n_a,
          agg.n_b,
          CAST(agg.n_common AS DOUBLE) / CAST(agg.k_used AS DOUBLE)
            AS jaccard_est,
          ea.distinct_est AS est_a, eb.distinct_est AS est_b
        FROM agg
        JOIN est ea ON ea.source = agg.ga
        JOIN est eb ON eb.source = agg.gb
        ORDER BY agg.ga, agg.gb""")),

    // ORC roundtrip through Spark's built-in columnar source: lineitem
    // staged ONCE per process as a Hive-partitioned ORC layout
    // (partitionBy l_returnflag), then read back with a partition
    // filter — the scan must prune to the 'A' directory (OrcScanSpec
    // pins pushed filters and the pruned partition count) — and
    // aggregated. The oracle computes the same aggregate from the
    // original parquet: the roundtrip is lossless iff they hash-match.
    // Decimal-exact sums with one final cast (the q01 discipline).
    GraftQuery(
      "q201_orc_roundtrip",
      (s, dir) => {
        val staged = orcStagedFor(s, dir)
        s.read.orc(staged)
          .filter(col("l_returnflag") === "A")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy(col("l_linestatus"))
      },
      Some("""
        SELECT l_linestatus, COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
            AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
            AS sum_price
        FROM lineitem WHERE l_returnflag = 'A'
        GROUP BY 1 ORDER BY 1""")),

    // Opaque binary ingestion through Spark's binaryFile source — the
    // multimodal on-ramp: media blobs arrive as FILES, and the
    // pipeline's first move is (path, length, content) rows with
    // pathGlobFilter doing the format triage (a staged decoy .json is
    // filtered out by the SOURCE, not post-hoc). Staged once per
    // process: one ASCII .txt per 50-doc block (fixed doc_id < 500
    // probe — file COUNT is the cost knob, as in q197), content
    // derived from document text so every byte is engine-replayable.
    // The oracle rebuilds each file's bytes and checks length + md5 +
    // head — proving the binary content survived ingestion bit-for-bit
    // (the same check a real image/audio lake runs after transfer).
    GraftQuery(
      "q202_binaryfile_ingest",
      (s, dir) => {
        val staged = binaryFilesFor(s, dir)
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.txt")
          .load(staged)
          .select(
            regexp_extract(col("path"), "(b\\d+)\\.txt", 1).as("block"),
            col("length"),
            md5(col("content")).as("content_md5"),
            substring(col("content").cast("string"), 1, 16).as("head"))
          .orderBy(col("block"))
      },
      Some("""
        WITH blk AS (
          SELECT doc_id // 50 AS bn,
            string_agg(text, chr(10) ORDER BY doc_id) AS content
          FROM documents WHERE doc_id < 500 GROUP BY 1)
        SELECT 'b' || lpad(CAST(bn AS VARCHAR), 4, '0') AS block,
          CAST(length(content) AS BIGINT) AS length,
          md5(content) AS content_md5,
          substring(content, 1, 16) AS head
        FROM blk ORDER BY block""")),

    // Streaming KMV maintenance (Streaming.kmvSketchSink /
    // mergedKmvSketch): per-source bigram sketches computed per
    // MICRO-BATCH (10 staged 50-doc blocks, one per batch), landed
    // under content-derived keys (replay-idempotent), then MERGED —
    // and because KMV is union-mergeable with zero loss, the merged
    // estimates must equal the batch-computed q203-style estimates
    // exactly. The oracle computes the batch sketch over the same
    // probe corpus: streaming == batch is the assertion.
    GraftQuery(
      "q204_streaming_kmv",
      (s, dir) => withShufflePartitions(s, 8) {
        val staged = stagedTextBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q204_").toString
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        val bigrams = stream
          .select(col("block"), col("source"),
            filter(split(col("text"), " "), x => x =!= "").as("__w"))
          .filter(size(col("__w")) > 1)
          .select(col("block"), col("source"), explode(expr(
            "transform(sequence(0, size(__w) - 2), " +
              "i -> concat(__w[i], ' ', __w[i + 1]))")).as("bigram"))
        graft.streaming.Streaming.kmvSketchSink(
          bigrams, Seq("source"), col("bigram"), k = 64,
          b => b.agg(min(col("block")).as("batch_block")),
          s"$base/sketch", s"$base/ckpt")
          .awaitTermination()
        val merged = graft.streaming.Streaming.mergedKmvSketch(
          s, s"$base/sketch", Seq("source"), k = 64)
        graft.sketch.Kmv.distinctEstimate(merged, Seq("source"), k = 64)
          .orderBy(col("source"))
      },
      Some("""
        WITH t AS (
          SELECT source,
            list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents WHERE doc_id < 500),
        bg AS (
          SELECT DISTINCT source, w[i] || ' ' || w[i + 1] AS bigram
          FROM (SELECT source, w, unnest(range(1, len(w))) AS i
                FROM t WHERE len(w) > 1)),
        hh AS (
          SELECT source,
            list_reduce(
              list_transform(range(1, length(bigram) + 1),
                j -> CAST(ord(substring(bigram, CAST(j AS INTEGER), 1))
                  AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS h0
          FROM bg),
        dh AS (
          SELECT DISTINCT source,
            (((((h0 * h0) % 2147483647) * ((h0 * h0) % 2147483647))
              % 2147483647) * h0) % 2147483647 AS h
          FROM hh),
        sk AS (
          SELECT source, h FROM (
            SELECT source, h,
              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM dh)
          WHERE rn <= 64)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
          CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS BIGINT)
               ELSE (63 * CAST(2147483647 AS BIGINT)) // MAX(h) END
            AS distinct_est
        FROM sk GROUP BY 1 ORDER BY 1""")),

    // Rank-biased overlap (eval/RetrievalMetrics.rboQ20): how much
    // ranking fidelity does int8 quantization cost? Ranking A = exact
    // cosine top-10 (the q12 brute-force path), ranking B =
    // reconstructed int8 dot top-10 (the q36 quantization), RBO at
    // p = 1/2 in Q20 fixed point — geometric weights are exact powers
    // of two, so the top-weighted agreement score is pure integer
    // arithmetic. 20 query vectors; quadratic-by-contract scoring like
    // q12/q24 (the zero-key broadcast product), RBO itself runs on
    // 200-row rank tables.
    GraftQuery(
      "q205_rbo_quantization",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        val rankA = graft.operators.GroupLimit.topKPerGroup(
          graft.sim.Similarity.bruteForceTopK(
            emb, "vec_id", "embedding", qs, k = 10),
          Seq("query_id"), Seq(col("score").desc, col("vec_id")), 10,
          rankCol = "rank")
        val coded = emb
          .select(col("vec_id"), col("embedding"),
            graft.sim.Quantize.int8Scale(col("embedding")).as("scale"))
          .select(col("vec_id"), col("scale"),
            graft.sim.Quantize.int8Codes(col("embedding"), col("scale"))
              .as("codes"))
        val qcoded = coded.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"),
            col("scale").as("qscale"), col("codes").as("qcodes"))
        val scored = graft.core.Scalars.withEach(coded, qcoded)
          .select(col("query_id"), col("vec_id"),
            (graft.sim.Quantize.dotInt(col("codes"), col("qcodes"))
              .cast("double") * col("scale") * col("qscale")).as("score"))
        val rankB = graft.operators.GroupLimit.topKPerGroup(
          scored, Seq("query_id"),
          Seq(col("score").desc, col("vec_id")), 10, rankCol = "rank")
        graft.eval.RetrievalMetrics.rboQ20(
          rankA, rankB, "query_id", "vec_id", "rank", depth = 10)
          .orderBy(col("query"))
      },
      Some("""
        WITH qv AS (SELECT vec_id AS query_id,
                      CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20),
        cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
        sA AS (SELECT query_id, vec_id,
                 list_reduce(list_transform(cv, (x,i) -> x * qv[i]),
                   (a,b) -> a + b)
                 / (sqrt(list_reduce(list_transform(cv, x -> x * x),
                     (a,b) -> a + b))
                    * sqrt(list_reduce(list_transform(qv, x -> x * x),
                     (a,b) -> a + b))) AS score
               FROM cv, qv),
        rA AS (SELECT query_id, vec_id, rn FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rn FROM sA)
               WHERE rn <= 10),
        qz AS (SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
               FROM embeddings),
        cz AS (SELECT vec_id, scale,
                 list_transform(embedding,
                   x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(least(greatest(
                       floor(CAST(x AS DOUBLE) / scale + 0.5),
                       -127), 127) AS BIGINT) END) AS codes
               FROM qz),
        qq AS (SELECT vec_id AS query_id, scale AS qscale,
                 codes AS qcodes
               FROM cz WHERE vec_id < 20),
        sB AS (SELECT qq.query_id, cz.vec_id,
                 CAST(list_reduce(
                   list_transform(cz.codes, (x,i) -> x * qq.qcodes[i]),
                   (a,b) -> a + b) AS DOUBLE)
                   * cz.scale * qq.qscale AS score
               FROM cz, qq),
        rB AS (SELECT query_id, vec_id, rn FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rn FROM sB)
               WHERE rn <= 10),
        mt AS (SELECT a.query_id AS q, greatest(a.rn, b.rn) AS m
               FROM rA a JOIN rB b
                 ON a.query_id = b.query_id AND a.vec_id = b.vec_id),
        pc AS (SELECT q, m, CAST(COUNT(*) AS BIGINT) AS c
               FROM mt GROUP BY 1, 2),
        dd AS (SELECT unnest(range(1, 11)) AS d),
        ov AS (SELECT pc.q, dd.d, CAST(SUM(pc.c) AS BIGINT) AS ov
               FROM pc JOIN dd ON pc.m <= dd.d GROUP BY 1, 2),
        sc AS (SELECT q,
                 CAST(SUM((ov * CAST(1048576 AS BIGINT))
                   // (d * (CAST(1 AS BIGINT) << d))) AS BIGINT)
                   AS rbo_q20,
                 MAX(CASE WHEN d = 10 THEN ov END) AS n_common
               FROM ov GROUP BY 1),
        aq AS (SELECT query_id AS q FROM rA
               UNION SELECT query_id FROM rB)
        SELECT aq.q AS query,
          COALESCE(sc.n_common, CAST(0 AS BIGINT)) AS n_common,
          COALESCE(sc.rbo_q20, CAST(0 AS BIGINT)) AS rbo_q20
        FROM aq LEFT JOIN sc ON sc.q = aq.q ORDER BY 1""")),

    // Range-clustered rewrite (operators/RangeCluster.clusterByRange):
    // the lakehouse CLUSTER BY maintenance pass — documents rewritten
    // as 8 shards with globally DISJOINT key ranges (shard i's max key
    // < shard i+1's min), balanced by the exact closed-form rule
    // shard = floor(8 * cntLess(key) / N) so equal keys never straddle
    // a boundary. The whole lifecycle is the equality check: the
    // plan's receipt (per-shard rows + key range) joined against the
    // REWRITTEN layout read back from disk (row count + doc_id sum per
    // shard), replayed in SQL as one window cumsum over the key
    // histogram.
    GraftQuery(
      "q206_range_cluster",
      (s, dir) => {
        val out = java.nio.file.Files
          .createTempDirectory("graft_q206_").toString
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        val receipt = graft.operators.RangeCluster
          .clusterByRange(docs, "n_chars", nShards = 8, s"$out/c")
        val back = s.read.parquet(s"$out/c")
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_back"),
            sum(col("doc_id")).as("sum_doc"))
        receipt.join(back, Seq("shard")).orderBy(col("shard"))
      },
      Some("""
        WITH h AS (SELECT CAST(n_chars AS BIGINT) AS k,
                     CAST(COUNT(*) AS BIGINT) AS c,
                     CAST(SUM(doc_id) AS BIGINT) AS sd
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
        p AS (SELECT k, c, sd,
                COALESCE(CAST(SUM(c) OVER (ORDER BY k
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS cb
              FROM h),
        sh AS (SELECT k, c, sd,
                 CAST((8 * cb) // t.n AS BIGINT) AS shard
               FROM p, t)
        SELECT shard,
          CAST(SUM(c) AS BIGINT) AS n_rows,
          MIN(k) AS min_key, MAX(k) AS max_key,
          CAST(SUM(c) AS BIGINT) AS n_back,
          CAST(SUM(sd) AS BIGINT) AS sum_doc
        FROM sh GROUP BY 1 ORDER BY 1""")),

    // Isotonic calibration fit (eval/Isotonic.fitCalibration): PAVA
    // over per-(lang, quantized-score) bins with a deterministic
    // pseudo-label — the FIX for the miscalibration q80/q81 measure.
    // Spark runs exact-rational PAVA (BigInt cross-multiplied pool
    // means, one final correctly-rounded divide); the oracle replays
    // the fit through isotonic regression's minimax characterization
    // fit_i = max_{j<=i} min_{k>=i} mean(y[j..k]) — IEEE rounding is
    // monotone, so max-of-min over rounded interval means equals the
    // rounded exact value and the doubles match bit-for-bit.
    GraftQuery(
      "q207_isotonic_fit",
      (s, dir) =>
        graft.eval.Isotonic.fitCalibration(
          t(s, dir, "documents").select(
            col("lang"),
            pmod(col("n_chars"), lit(16)).cast("long").as("predQ"),
            pmod(col("doc_id") * 7 + col("n_chars"), lit(2)).cast("long")
              .as("y")),
          Seq("lang"), "predQ", "y")
          .select(col("lang"), col("predQ"), col("n"), col("n_pos"),
            col("calibrated"))
          .orderBy(col("lang"), col("predQ")),
      Some("""
        WITH d AS (SELECT lang, CAST(n_chars % 16 AS BIGINT) AS predq,
                     CAST((doc_id * 7 + n_chars) % 2 AS BIGINT) AS y
                   FROM documents),
        b AS (SELECT lang, predq, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(y) AS BIGINT) AS pos
              FROM d GROUP BY 1, 2),
        c AS (SELECT lang, predq, n, pos,
                CAST(SUM(n) OVER (PARTITION BY lang ORDER BY predq)
                  AS BIGINT) AS cn,
                CAST(SUM(pos) OVER (PARTITION BY lang ORDER BY predq)
                  AS BIGINT) AS cpos
              FROM b),
        iv AS (SELECT j.lang, j.predq AS jq, k.predq AS kq,
                 k.cpos - j.cpos + j.pos AS ipos,
                 k.cn - j.cn + j.n AS inn
               FROM c j JOIN c k
                 ON j.lang = k.lang AND j.predq <= k.predq),
        mn AS (SELECT b.lang, b.predq, iv.jq,
                 MIN(CAST(iv.ipos AS DOUBLE) / iv.inn) AS m
               FROM b JOIN iv ON iv.lang = b.lang
                 AND iv.jq <= b.predq AND iv.kq >= b.predq
               GROUP BY 1, 2, 3),
        ft AS (SELECT lang, predq, MAX(m) AS calibrated
               FROM mn GROUP BY 1, 2)
        SELECT b.lang, b.predq AS "predQ", b.n, b.pos AS n_pos,
          ft.calibrated
        FROM b JOIN ft ON ft.lang = b.lang AND ft.predq = b.predq
        ORDER BY 1, 2""")),

    // Deterministic random walks (graph/RandomWalks.walks): DeepWalk
    // corpus generation over the customer<->supplier purchase graph
    // (nodes namespaced 2c / 2s+1), one walk of length 3 per node.
    // Every step picks neighbor squaredHash("start#walk#step") mod
    // outdeg over dst-ordered neighbors — a pure function of the walk
    // coordinates, so DuckDB replays the ENTIRE walk set by folding
    // the same Karp-Rabin hash through 3 unrolled step CTEs.
    GraftQuery(
      "q208_random_walks",
      (s, dir) => {
        val e0 = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = e0.union(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.RandomWalks
          .walks(edges, "src", "dst", walksPerNode = 1, walkLen = 3)
          .orderBy(col("start"), col("walk"), col("step"))
      },
      Some("""
        WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
                      l_suppkey * 2 + 1 AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        re AS (SELECT src, dst,
                 CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
                   - 1 AS BIGINT) AS rk,
                 CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
               FROM e),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        s0 AS (SELECT node AS start, CAST(0 AS BIGINT) AS walk, node
               FROM n),
        s1 AS (SELECT s.start, s.walk, re.dst AS node
               FROM (SELECT start, walk, node,
                       list_reduce(list_transform(
                         range(1, len(CAST(start AS VARCHAR) || '#0#1') + 1),
                         j -> CAST(ord(substr(
                           CAST(start AS VARCHAR) || '#0#1',
                           CAST(j AS INTEGER), 1)) AS BIGINT)),
                         (a, b) -> (a * 257 + b) % 2147483647) AS h
                     FROM s0) s
               JOIN re ON re.src = s.node
                 AND re.rk = (s.h * s.h) % 2147483647 % re.deg),
        s2 AS (SELECT s.start, s.walk, re.dst AS node
               FROM (SELECT start, walk, node,
                       list_reduce(list_transform(
                         range(1, len(CAST(start AS VARCHAR) || '#0#2') + 1),
                         j -> CAST(ord(substr(
                           CAST(start AS VARCHAR) || '#0#2',
                           CAST(j AS INTEGER), 1)) AS BIGINT)),
                         (a, b) -> (a * 257 + b) % 2147483647) AS h
                     FROM s1) s
               JOIN re ON re.src = s.node
                 AND re.rk = (s.h * s.h) % 2147483647 % re.deg),
        s3 AS (SELECT s.start, s.walk, re.dst AS node
               FROM (SELECT start, walk, node,
                       list_reduce(list_transform(
                         range(1, len(CAST(start AS VARCHAR) || '#0#3') + 1),
                         j -> CAST(ord(substr(
                           CAST(start AS VARCHAR) || '#0#3',
                           CAST(j AS INTEGER), 1)) AS BIGINT)),
                         (a, b) -> (a * 257 + b) % 2147483647) AS h
                     FROM s2) s
               JOIN re ON re.src = s.node
                 AND re.rk = (s.h * s.h) % 2147483647 % re.deg)
        SELECT start, walk, step, node FROM (
          SELECT start, walk, CAST(0 AS BIGINT) AS step, node FROM s0
          UNION ALL
          SELECT start, walk, CAST(1 AS BIGINT), node FROM s1
          UNION ALL
          SELECT start, walk, CAST(2 AS BIGINT), node FROM s2
          UNION ALL
          SELECT start, walk, CAST(3 AS BIGINT), node FROM s3)
        ORDER BY 1, 2, 3""")),

    // CUSUM change-point detection (operators/ChangePoint.cusum): the
    // temporal drift monitor over per-type hourly event volumes —
    // Page's sequential recurrence computed through its exact closed
    // form (running sum minus its running floor, including the empty
    // prefix), two one-sided statistics + alarms, all integer. The
    // oracle replays the same two windows verbatim.
    GraftQuery(
      "q209_cusum_drift",
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .groupBy(col("event_type"),
            date_format(date_trunc("hour", col("ts")),
              "yyyy-MM-dd HH:mm:ss").as("hour"))
          .agg(count(lit(1)).as("n"))
        graft.operators.ChangePoint
          .cusum(hourly, Seq("event_type"), "hour", "n",
            k = 18L, threshold = 50L)
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""
        WITH b AS (SELECT event_type,
                     strftime(date_trunc('hour', ts),
                       '%Y-%m-%d %H:%M:%S') AS hour,
                     CAST(COUNT(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2),
        c AS (SELECT event_type, hour, n,
                CAST(SUM(n - 18) OVER (PARTITION BY event_type
                  ORDER BY hour) AS BIGINT) AS cc
              FROM b),
        m AS (SELECT event_type, hour, n, cc,
                CAST(MIN(cc) OVER (PARTITION BY event_type ORDER BY hour)
                  AS BIGINT) AS mn,
                CAST(MAX(cc) OVER (PARTITION BY event_type ORDER BY hour)
                  AS BIGINT) AS mx
              FROM c)
        SELECT event_type, hour, n,
          cc - LEAST(CAST(0 AS BIGINT), mn) AS cusum_high,
          GREATEST(CAST(0 AS BIGINT), mx) - cc AS cusum_low,
          cc - LEAST(CAST(0 AS BIGINT), mn) >= 50 AS alarm_high,
          GREATEST(CAST(0 AS BIGINT), mx) - cc >= 50 AS alarm_low
        FROM m ORDER BY event_type, hour""")),

    // TrustRank (graph/PageRank.seededRanks): seeded personalized
    // PageRank over the customer<->supplier purchase graph — initial
    // mass and the per-round base grant go ONLY to the trusted seed
    // set (suppliers of nation 0), so rank measures endorsement
    // REACHABLE from the seeds. Three unrolled integer rounds in the
    // oracle, the q120 protocol with a seed-conditional grant.
    GraftQuery(
      "q210_trustrank",
      (s, dir) => {
        val e0 = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = e0.union(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = t(s, dir, "supplier")
          .filter(col("s_nationkey") === 0)
          .select((col("s_suppkey") * 2 + 1).as("seed"))
        graft.graph.PageRank
          .seededRanks(edges, "src", "dst", seeds, "seed",
            iterations = 3)
          .withColumnRenamed("rank", "rank_q")
          .orderBy(col("vertex"))
      },
      Some("""
        WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
                      l_suppkey * 2 + 1 AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        v AS (SELECT src AS vx FROM e UNION SELECT dst FROM e),
        sd AS (SELECT DISTINCT s_suppkey * 2 + 1 AS vx
               FROM supplier WHERE s_nationkey = 0),
        f AS (SELECT v.vx, sd.vx IS NOT NULL AS is_seed
              FROM v LEFT JOIN sd ON sd.vx = v.vx),
        od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        r0 AS (SELECT vx, is_seed,
                 CASE WHEN is_seed THEN CAST(1000000000 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS r
               FROM f),
        i1 AS (SELECT e.dst AS vx, SUM(r0.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r0 ON r0.vx = e.src
               GROUP BY 1),
        r1 AS (SELECT f.vx, f.is_seed,
                 CASE WHEN f.is_seed THEN 150000000 ELSE 0 END +
                   COALESCE(i1.s, 0) * 85 // 100 AS r
               FROM f LEFT JOIN i1 USING (vx)),
        i2 AS (SELECT e.dst AS vx, SUM(r1.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r1 ON r1.vx = e.src
               GROUP BY 1),
        r2 AS (SELECT f.vx, f.is_seed,
                 CASE WHEN f.is_seed THEN 150000000 ELSE 0 END +
                   COALESCE(i2.s, 0) * 85 // 100 AS r
               FROM f LEFT JOIN i2 USING (vx)),
        i3 AS (SELECT e.dst AS vx, SUM(r2.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r2 ON r2.vx = e.src
               GROUP BY 1),
        r3 AS (SELECT f.vx, f.is_seed,
                 CASE WHEN f.is_seed THEN 150000000 ELSE 0 END +
                   COALESCE(i3.s, 0) * 85 // 100 AS r
               FROM f LEFT JOIN i3 USING (vx))
        SELECT vx AS vertex, is_seed, CAST(r AS BIGINT) AS rank_q
        FROM r3 ORDER BY vertex""")),

    // Greedy maximum-coverage selection (operators/GreedyCoverage):
    // pick the 5 documents whose (lang, token) sets jointly cover the
    // most distinct features — the diversity-selection step for
    // fine-tuning/eval sets, Nemhauser's (1-1/e) greedy. Language-
    // qualified tokens make coverage require documents from multiple
    // languages, so the selection dynamics (non-increasing marginal
    // gains, cross-group picks) are actually exercised. Features are
    // Karp-Rabin hashes (the engine's replayable hash); ties go to the
    // smallest doc id in both engines; 5 unrolled oracle rounds.
    GraftQuery(
      "q211_greedy_coverage",
      (s, dir) => {
        val pairs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
          .select(col("doc_id"),
            graft.functions.KrHash.krHash(
              concat(col("lang"), lit("#"), col("token"))).as("f"))
        graft.operators.GreedyCoverage
          .greedySelect(pairs, "doc_id", "f", k = 5)
          .orderBy(col("round"))
      },
      Some("""
        WITH p AS (
          SELECT DISTINCT doc_id,
            list_reduce(list_transform(range(1, len(tok) + 1),
              j -> CAST(ord(substr(tok, CAST(j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS f
          FROM (SELECT doc_id,
                  lang || '#' || unnest(string_split(text, ' ')) AS tok
                FROM documents)
          WHERE tok NOT LIKE '%#'),
        g1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c
               FROM p GROUP BY 1),
        s1 AS (SELECT doc_id, c FROM g1 ORDER BY c DESC, doc_id LIMIT 1),
        c1 AS (SELECT p.f FROM p JOIN s1 USING (doc_id)),
        g2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM p
               WHERE doc_id NOT IN (SELECT doc_id FROM s1)
                 AND f NOT IN (SELECT f FROM c1) GROUP BY 1),
        s2 AS (SELECT doc_id, c FROM g2 ORDER BY c DESC, doc_id LIMIT 1),
        c2 AS (SELECT f FROM c1 UNION
               SELECT p.f FROM p JOIN s2 USING (doc_id)),
        g3 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM p
               WHERE doc_id NOT IN (SELECT doc_id FROM s1
                   UNION SELECT doc_id FROM s2)
                 AND f NOT IN (SELECT f FROM c2) GROUP BY 1),
        s3 AS (SELECT doc_id, c FROM g3 ORDER BY c DESC, doc_id LIMIT 1),
        c3 AS (SELECT f FROM c2 UNION
               SELECT p.f FROM p JOIN s3 USING (doc_id)),
        g4 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM p
               WHERE doc_id NOT IN (SELECT doc_id FROM s1
                   UNION SELECT doc_id FROM s2
                   UNION SELECT doc_id FROM s3)
                 AND f NOT IN (SELECT f FROM c3) GROUP BY 1),
        s4 AS (SELECT doc_id, c FROM g4 ORDER BY c DESC, doc_id LIMIT 1),
        c4 AS (SELECT f FROM c3 UNION
               SELECT p.f FROM p JOIN s4 USING (doc_id)),
        g5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM p
               WHERE doc_id NOT IN (SELECT doc_id FROM s1
                   UNION SELECT doc_id FROM s2
                   UNION SELECT doc_id FROM s3
                   UNION SELECT doc_id FROM s4)
                 AND f NOT IN (SELECT f FROM c4) GROUP BY 1),
        s5 AS (SELECT doc_id, c FROM g5 ORDER BY c DESC, doc_id LIMIT 1),
        sel AS (
          SELECT 1 AS round, doc_id, c AS gain FROM s1
          UNION ALL SELECT 2, doc_id, c FROM s2
          UNION ALL SELECT 3, doc_id, c FROM s3
          UNION ALL SELECT 4, doc_id, c FROM s4
          UNION ALL SELECT 5, doc_id, c FROM s5)
        SELECT CAST(round AS BIGINT) AS round, doc_id, gain,
          CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT)
            AS covered_total
        FROM sel ORDER BY round""")),

    // HITS hubs & authorities (graph/Hits.scores): Kleinberg's
    // two-score split over the DIRECTED customer->supplier purchase
    // graph — customers are pure hubs, suppliers pure authorities, the
    // separation PageRank's single score conflates. Integer iteration
    // with per-half-step max-normalization (order-preserving, no IEEE
    // L2 norm); the oracle unrolls 2 rounds = 4 half-steps, each one
    // sum + one max + one integral multiply-divide.
    GraftQuery(
      "q212_hits",
      (s, dir) => {
        val edges = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.graph.Hits.scores(edges, "src", "dst", iterations = 2)
          .orderBy(col("vertex"))
      },
      Some("""
        WITH e AS (SELECT DISTINCT o_custkey * 2 AS src,
                     l_suppkey * 2 + 1 AS dst
                   FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        v AS (SELECT src AS vx FROM e UNION SELECT dst FROM e),
        h0 AS (SELECT vx, CAST(1000000 AS BIGINT) AS s FROM v),
        a1s AS (SELECT e.dst AS vx, CAST(SUM(h0.s) AS BIGINT) AS sm
                FROM e JOIN h0 ON h0.vx = e.src GROUP BY 1),
        a1m AS (SELECT MAX(sm) AS mx FROM a1s),
        a1 AS (SELECT v.vx,
                 CAST(COALESCE(a1s.sm, 0) * 1000000 // a1m.mx AS BIGINT)
                   AS s
               FROM v LEFT JOIN a1s USING (vx), a1m),
        h1s AS (SELECT e.src AS vx, CAST(SUM(a1.s) AS BIGINT) AS sm
                FROM e JOIN a1 ON a1.vx = e.dst GROUP BY 1),
        h1m AS (SELECT MAX(sm) AS mx FROM h1s),
        h1 AS (SELECT v.vx,
                 CAST(COALESCE(h1s.sm, 0) * 1000000 // h1m.mx AS BIGINT)
                   AS s
               FROM v LEFT JOIN h1s USING (vx), h1m),
        a2s AS (SELECT e.dst AS vx, CAST(SUM(h1.s) AS BIGINT) AS sm
                FROM e JOIN h1 ON h1.vx = e.src GROUP BY 1),
        a2m AS (SELECT MAX(sm) AS mx FROM a2s),
        a2 AS (SELECT v.vx,
                 CAST(COALESCE(a2s.sm, 0) * 1000000 // a2m.mx AS BIGINT)
                   AS s
               FROM v LEFT JOIN a2s USING (vx), a2m),
        h2s AS (SELECT e.src AS vx, CAST(SUM(a2.s) AS BIGINT) AS sm
                FROM e JOIN a2 ON a2.vx = e.dst GROUP BY 1),
        h2m AS (SELECT MAX(sm) AS mx FROM h2s),
        h2 AS (SELECT v.vx,
                 CAST(COALESCE(h2s.sm, 0) * 1000000 // h2m.mx AS BIGINT)
                   AS s
               FROM v LEFT JOIN h2s USING (vx), h2m)
        SELECT v.vx AS vertex, h2.s AS hub, a2.s AS authority
        FROM v JOIN h2 ON h2.vx = v.vx JOIN a2 ON a2.vx = v.vx
        ORDER BY vertex""")),

    // TextRank keywords (text/TextRank.keywords): integer PageRank
    // over the window-2 token co-occurrence graph of the documents
    // corpus — the unsupervised keyword baseline (Mihalcea & Tarau
    // 2004), composed from cooccurrenceEdges + the q120 PageRank. The
    // oracle rebuilds the pair set (normalize -> compact non-empty
    // tokens -> offset join) and unrolls 2 integer rounds.
    GraftQuery(
      "q213_textrank",
      (s, dir) =>
        graft.text.TextRank.keywords(
          t(s, dir, "documents"), "text", window = 2, iterations = 2)
          .orderBy(col("token")),
      Some("""
        WITH d AS (
          SELECT list_filter(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
              t -> t <> '') AS toks
          FROM documents),
        pos AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM d),
        pj AS (SELECT toks, i, unnest(range(1, 3)) AS j FROM pos),
        pr AS (SELECT list_extract(toks, CAST(i AS INTEGER)) AS w1,
                 list_extract(toks, CAST(i + j AS INTEGER)) AS w2
               FROM pj WHERE i + j <= len(toks)),
        e AS (SELECT w1 AS src, w2 AS dst FROM pr
              UNION SELECT w2, w1 FROM pr),
        v AS (SELECT src AS vx FROM e UNION SELECT dst FROM e),
        od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        r0 AS (SELECT vx, CAST(1000000000 AS BIGINT) AS r FROM v),
        i1 AS (SELECT e.dst AS vx, SUM(r0.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r0 ON r0.vx = e.src
               GROUP BY 1),
        r1 AS (SELECT v.vx, 150000000 + COALESCE(i1.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i1 USING (vx)),
        i2 AS (SELECT e.dst AS vx, SUM(r1.r // od.d) AS s
               FROM e JOIN od USING (src) JOIN r1 ON r1.vx = e.src
               GROUP BY 1),
        r2 AS (SELECT v.vx, 150000000 + COALESCE(i2.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i2 USING (vx))
        SELECT vx AS token, CAST(r AS BIGINT) AS rank_q
        FROM r2 ORDER BY token""")),

    // Streaming CUSUM drift monitoring (streaming/Streaming
    // .cusumBucketSink): events arrive in 8 micro-batches whose blocks
    // deliberately IGNORE time order (hash on event_id); each batch
    // lands its per-(type, hour) bucket rows content-keyed and the
    // alarm table is recomputed over the whole bucket store — so the
    // maintained table equals q209's batch CUSUM exactly under ANY
    // arrival order (the q204 streaming==batch discipline applied to
    // a sequential statistic). Oracle = the batch windows verbatim.
    GraftQuery(
      "q214_streaming_cusum",
      (s, dir) => withShufflePartitions(s, 8) {
        val staged = stagedEventBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q214_").toString
        val src = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        graft.streaming.Streaming.cusumBucketSink(
          src,
          b => b.groupBy(col("event_type"),
            date_format(date_trunc("hour", col("ts")),
              "yyyy-MM-dd HH:mm:ss").as("hour"))
            .agg(count(lit(1)).as("n")),
          Seq("event_type"), "hour", "n", k = 18L, threshold = 50L,
          b => b.agg(min(col("block")).as("batch_block")),
          s"$base/buckets", s"$base/alarms", s"$base/ckpt")
          .awaitTermination()
        s.read.parquet(s"$base/alarms")
          .select(col("event_type"), col("hour"), col("n"),
            col("cusum_high"), col("cusum_low"),
            col("alarm_high"), col("alarm_low"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""
        WITH b AS (SELECT event_type,
                     strftime(date_trunc('hour', ts),
                       '%Y-%m-%d %H:%M:%S') AS hour,
                     CAST(COUNT(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2),
        c AS (SELECT event_type, hour, n,
                CAST(SUM(n - 18) OVER (PARTITION BY event_type
                  ORDER BY hour) AS BIGINT) AS cc
              FROM b),
        m AS (SELECT event_type, hour, n, cc,
                CAST(MIN(cc) OVER (PARTITION BY event_type ORDER BY hour)
                  AS BIGINT) AS mn,
                CAST(MAX(cc) OVER (PARTITION BY event_type ORDER BY hour)
                  AS BIGINT) AS mx
              FROM c)
        SELECT event_type, hour, n,
          cc - LEAST(CAST(0 AS BIGINT), mn) AS cusum_high,
          GREATEST(CAST(0 AS BIGINT), mx) - cc AS cusum_low,
          cc - LEAST(CAST(0 AS BIGINT), mn) >= 50 AS alarm_high,
          GREATEST(CAST(0 AS BIGINT), mx) - cc >= 50 AS alarm_low
        FROM m ORDER BY event_type, hour""")),

    // Interpolated Kneser-Ney perplexity (text/NgramLm.fitKneserNey /
    // scoreKneserNey): the standard n-gram smoothing beside q49's
    // add-one baseline — discount d=3/4 as an exact rational, P(v|u) =
    // [max(c(u,v)·4−3, 0)·N + 3·fol(u)·pre(v)] / (4·c(u)·N) over the
    // common denominator, unseen contexts backing off to pre(v)/N.
    // Same Q20 integer nll and 20-round recursive-CTE ilog2 replay as
    // q49; fit on the 'en' slice, score the rest.
    GraftQuery(
      "q215_kneser_ney",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
        val lm = graft.text.NgramLm.fitKneserNey(
          docs.filter(col("lang") === "en"), "text")
        graft.text.NgramLm.scoreKneserNey(
          docs.filter(col("lang") =!= "en"), "doc_id", "text", lm)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE d AS (
          SELECT doc_id, lang,
            list_filter(
              string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
              x -> x <> '') AS toks
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        bi AS (
          SELECT doc_id, lang, toks[i] AS u, toks[i + 1] AS v
          FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM d)
        ),
        cuv AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS c
                FROM bi WHERE lang = 'en' GROUP BY 1, 2),
        ctx AS (SELECT u, CAST(SUM(c) AS BIGINT) AS cu,
                  CAST(COUNT(*) AS BIGINT) AS fol
                FROM cuv GROUP BY 1),
        cont AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS pre
                 FROM cuv GROUP BY 1),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbi FROM cuv),
        probs AS (
          SELECT b.doc_id,
            greatest(
              (CASE WHEN ctx.cu IS NULL THEN COALESCE(cont.pre, 0)
                 ELSE greatest(COALESCE(cuv.c, 0) * 4 - 3, 0) * nb.nbi
                   + 3 * ctx.fol * COALESCE(cont.pre, 0) END
               * 1048576)
              // (CASE WHEN ctx.cu IS NULL THEN nb.nbi
                  ELSE 4 * ctx.cu * nb.nbi END), 1) AS s
          FROM bi b
          CROSS JOIN nb
          LEFT JOIN cuv ON b.u = cuv.u AND b.v = cuv.v
          LEFT JOIN ctx ON b.u = ctx.u
          LEFT JOIN cont ON b.v = cont.v
          WHERE b.lang <> 'en'
        ),
        svals AS (SELECT DISTINCT s FROM probs),
        norm AS (
          SELECT s, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM svals
        ),
        iter(s, bl, i, m, frac) AS (
          SELECT s, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT s, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20
        ),
        ltab AS (SELECT s, (bl - 21) * 1048576 + frac AS l FROM iter WHERE i = 20)
        SELECT p.doc_id, COUNT(*) AS n_bigrams,
          CAST(SUM(-ltab.l) AS BIGINT) AS nll_q20
        FROM probs p JOIN ltab ON p.s = ltab.s
        GROUP BY 1
        ORDER BY 1""")),

    // Label-propagation communities (graph/Communities
    // .labelPropagation): the density grouping beside Components' q43
    // connectivity closure, over the undirected purchase graph.
    // Deterministic synchronous variant — self-vote damping, smallest
    // label among the most frequent neighbor labels — so 2 unrolled
    // rounds replay exactly (votes -> count -> per-vertex argmax with
    // the (count desc, label asc) tie rule as a ROW_NUMBER pick).
    GraftQuery(
      "q216_communities",
      (s, dir) => {
        val edges = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.graph.Communities
          .labelPropagation(edges, "src", "dst", rounds = 2)
          .orderBy(col("vertex"))
      },
      Some("""
        WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
                      l_suppkey * 2 + 1 AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        v AS (SELECT DISTINCT src AS vx FROM e),
        l0 AS (SELECT vx AS vertex, vx AS label FROM v),
        v1 AS (SELECT e.dst AS vertex, l0.label
               FROM e JOIN l0 ON l0.vertex = e.src
               UNION ALL SELECT vertex, label FROM l0),
        c1 AS (SELECT vertex, label, CAST(COUNT(*) AS BIGINT) AS c
               FROM v1 GROUP BY 1, 2),
        l1 AS (SELECT vertex, label FROM (
                 SELECT vertex, label, ROW_NUMBER() OVER (
                   PARTITION BY vertex ORDER BY c DESC, label) AS rn
                 FROM c1)
               WHERE rn = 1),
        v2 AS (SELECT e.dst AS vertex, l1.label
               FROM e JOIN l1 ON l1.vertex = e.src
               UNION ALL SELECT vertex, label FROM l1),
        c2 AS (SELECT vertex, label, CAST(COUNT(*) AS BIGINT) AS c
               FROM v2 GROUP BY 1, 2),
        l2 AS (SELECT vertex, label FROM (
                 SELECT vertex, label, ROW_NUMBER() OVER (
                   PARTITION BY vertex ORDER BY c DESC, label) AS rn
                 FROM c2)
               WHERE rn = 1)
        SELECT vertex, label FROM l2 ORDER BY vertex""")),

    // Weighted PageRank (graph/PageRank.weightedRanks): mass splits
    // proportionally to integer edge weights — here the lineitem count
    // per (customer, supplier) pair, the aggregated-interaction form
    // every real link graph arrives in. Three unrolled integer rounds
    // (the q120 protocol with (r·w) // W(u) shares).
    GraftQuery(
      "q217_weighted_pagerank",
      (s, dir) => {
        val e0 = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .agg(count(lit(1)).as("w"))
        val edges = e0.union(e0.select(col("dst").as("src"),
          col("src").as("dst"), col("w")))
        graft.graph.PageRank
          .weightedRanks(edges, "src", "dst", "w", iterations = 3)
          .withColumnRenamed("rank", "rank_q")
          .orderBy(col("vertex"))
      },
      Some("""
        WITH e0 AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
                      CAST(COUNT(*) AS BIGINT) AS w
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    GROUP BY 1, 2),
        e AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst, src, w FROM e0),
        ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ws FROM e GROUP BY 1),
        v AS (SELECT src AS vx FROM e UNION SELECT dst FROM e),
        r0 AS (SELECT vx, CAST(1000000000 AS BIGINT) AS r FROM v),
        i1 AS (SELECT e.dst AS vx, SUM((r0.r * e.w) // ow.ws) AS s
               FROM e JOIN ow USING (src) JOIN r0 ON r0.vx = e.src
               GROUP BY 1),
        r1 AS (SELECT v.vx, 150000000 + COALESCE(i1.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i1 USING (vx)),
        i2 AS (SELECT e.dst AS vx, SUM((r1.r * e.w) // ow.ws) AS s
               FROM e JOIN ow USING (src) JOIN r1 ON r1.vx = e.src
               GROUP BY 1),
        r2 AS (SELECT v.vx, 150000000 + COALESCE(i2.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i2 USING (vx)),
        i3 AS (SELECT e.dst AS vx, SUM((r2.r * e.w) // ow.ws) AS s
               FROM e JOIN ow USING (src) JOIN r2 ON r2.vx = e.src
               GROUP BY 1),
        r3 AS (SELECT v.vx, 150000000 + COALESCE(i3.s, 0) * 85 // 100 AS r
               FROM v LEFT JOIN i3 USING (vx))
        SELECT vx AS vertex, CAST(r AS BIGINT) AS rank_q
        FROM r3 ORDER BY vertex""")),

    // Split-conformal thresholds (eval/Conformal.thresholds): the
    // finite-sample-corrected ceil((n+1)(1-alpha))-th smallest
    // calibration score per language at alpha = 1/10 — the gate with a
    // distribution-free coverage guarantee, NOT the plain 0.9
    // quantile (the +1 is the difference). Exact integer rank over the
    // q54 histogram shape; the oracle replays rank and pick.
    GraftQuery(
      "q218_conformal",
      (s, dir) =>
        graft.eval.Conformal.thresholds(
          t(s, dir, "documents"), Seq("lang"), "n_chars",
          aNum = 1L, aDen = 10L)
          .select(col("lang"), col("n"), col("rank"),
            col("threshold").cast("long").as("threshold"))
          .orderBy(col("lang")),
      Some("""
        WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
                     CAST(COUNT(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2),
        cm AS (SELECT lang, v, c,
                 CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v)
                   AS BIGINT) AS cum,
                 CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
               FROM h),
        rk AS (SELECT lang, v, cum, n,
                 CAST(((n + 1) * 9 + 9) // 10 AS BIGINT) AS rank
               FROM cm)
        SELECT lang, n, rank,
          MIN(CASE WHEN cum >= rank THEN v END) AS threshold
        FROM rk GROUP BY 1, 2, 3 ORDER BY lang""")),

    // k-core peel (graph/KCore.kCore): the dense-structure signal over
    // the undirected purchase graph — vertices surviving 4 peel rounds
    // at k=8, with degrees over the surviving subgraph. Peeling is
    // confluent (the core is unique), so the only replay question is
    // round count: both engines run exactly 4 rounds, converged or
    // not, and agree either way.
    GraftQuery(
      "q219_kcore",
      (s, dir) => {
        val edges = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.graph.KCore.kCore(edges, "src", "dst", k = 8, rounds = 4)
          .orderBy(col("vertex"))
      },
      Some("""
        WITH e00 AS (SELECT DISTINCT o_custkey * 2 AS src,
                       l_suppkey * 2 + 1 AS dst
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e0 AS (SELECT src, dst FROM e00 UNION SELECT dst, src FROM e00),
        d1 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e0 GROUP BY 1),
        s1 AS (SELECT src FROM d1 WHERE d >= 8),
        e1 AS (SELECT e.src, e.dst FROM e0 e
               JOIN s1 a ON e.src = a.src JOIN s1 b ON e.dst = b.src),
        d2 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e1 GROUP BY 1),
        s2 AS (SELECT src FROM d2 WHERE d >= 8),
        e2 AS (SELECT e.src, e.dst FROM e1 e
               JOIN s2 a ON e.src = a.src JOIN s2 b ON e.dst = b.src),
        d3 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e2 GROUP BY 1),
        s3 AS (SELECT src FROM d3 WHERE d >= 8),
        e3 AS (SELECT e.src, e.dst FROM e2 e
               JOIN s3 a ON e.src = a.src JOIN s3 b ON e.dst = b.src),
        d4 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e3 GROUP BY 1),
        s4 AS (SELECT src FROM d4 WHERE d >= 8),
        e4 AS (SELECT e.src, e.dst FROM e3 e
               JOIN s4 a ON e.src = a.src JOIN s4 b ON e.dst = b.src)
        SELECT src AS vertex, CAST(COUNT(*) AS BIGINT) AS degree
        FROM e4 GROUP BY 1 ORDER BY 1""")),

    // ANN-mined hard negatives (sim/Select.hardNegatives): the
    // DPR/SimCSE contrastive-pair recipe — per query (vec_id < 16),
    // fetch the 12 most-cosine-similar vectors, exclude self and the
    // "positives" (same vec_id mod 7 — the deterministic label), keep
    // the top 5. The TWO-STAGE truncation is the pinned contract (an
    // ANN index serves a candidate list first); the oracle replays
    // both ROW_NUMBER stages over the exact quadratic cosine (the
    // q12/q205 sequential-fold protocol).
    GraftQuery(
      "q220_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        val positives = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("q"))
          .join(emb.select(col("vec_id").as("p")),
            pmod(col("q"), lit(7)) === pmod(col("p"), lit(7)))
        graft.sim.Select.hardNegatives(
          emb, "vec_id", "embedding", queries, positives, "q", "p",
          k = 5, fetchK = 12)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id,
                     CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 16),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        s AS (SELECT query_id, vec_id,
                list_reduce(list_transform(cv, (x,i) -> x * qv[i]),
                  (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(cv, x -> x * x),
                    (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(qv, x -> x * x),
                    (a,b) -> a + b))) AS score
              FROM c, q),
        stage1 AS (SELECT query_id, vec_id, score FROM (
                     SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, vec_id) AS rn
                     FROM s)
                   WHERE rn <= 12),
        negs AS (SELECT query_id, vec_id, score FROM stage1
                 WHERE vec_id <> query_id
                   AND vec_id % 7 <> query_id % 7)
        SELECT query_id, vec_id, score,
          CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, vec_id) AS rank
              FROM negs)
        WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // Degree assortativity (graph/Assortativity.degreeAssortativity):
    // Newman's one-number shape diagnostic over the purchase graph —
    // bipartite structure is strongly disassortative, and the
    // undirected closure's (x, y) symmetry collapses Pearson's
    // denominator to an INTEGER, so the coefficient is one exact
    // integer ratio with a single IEEE divide, no sqrt anywhere.
    GraftQuery(
      "q221_assortativity",
      (s, dir) => {
        val edges = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.graph.Assortativity
          .degreeAssortativity(edges, "src", "dst")
      },
      Some("""
        WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
                      l_suppkey * 2 + 1 AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
              FROM e GROUP BY 1),
        xy AS (SELECT dx.deg AS x, dy.deg AS y
               FROM e JOIN d dx ON e.src = dx.src
               JOIN d dy ON e.dst = dy.src),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
                 CAST(SUM(x) AS BIGINT) AS sum_x,
                 CAST(SUM(x * x) AS BIGINT) AS sum_xx,
                 CAST(SUM(x * y) AS BIGINT) AS sum_xy
               FROM xy)
        SELECT n_edges, sum_x, sum_xx, sum_xy,
          CASE WHEN n_edges * sum_xx - sum_x * sum_x = 0 THEN NULL
            ELSE CAST(n_edges * sum_xy - sum_x * sum_x AS DOUBLE)
              / CAST(n_edges * sum_xx - sum_x * sum_x AS DOUBLE) END AS r
        FROM st""")),

    // node2vec second-order walks (graph/RandomWalks.node2vecWalks):
    // the biased DeepWalk generalization — step 2 weighs each
    // neighbor by its relation to the PREVIOUS node (return 1 /
    // distance-1 2 / distance-2 4), picked by the KR hash landing in
    // the dst-ordered cumulative-weight interval. One first-order +
    // one second-order step, both unrolled in SQL (candidate fan-out,
    // LEFT-join distance class, window cumsum, interval pick).
    GraftQuery(
      "q222_node2vec",
      (s, dir) => {
        val e0 = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = e0.union(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.RandomWalks.node2vecWalks(
          edges, "src", "dst", walksPerNode = 1, walkLen = 2,
          wReturn = 1L, wIn = 2L, wOut = 4L,
          // the UNCAPPED witness for q226's capped production path —
          // the explicit eyes-open opt-out the hub guard documents
          // (a supplier's degree grows with SF and would trip the
          // 10k ceiling around SF ~17)
          allowUncapped = true)
          .orderBy(col("start"), col("walk"), col("step"))
      },
      Some("""
        WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
                      l_suppkey * 2 + 1 AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        re AS (SELECT src, dst,
                 CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
                   - 1 AS BIGINT) AS rk,
                 CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
               FROM e),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        s0 AS (SELECT node AS start, CAST(0 AS BIGINT) AS walk, node
               FROM n),
        s1 AS (SELECT s.start, s.walk, s.node AS prev, re.dst AS node
               FROM (SELECT start, walk, node,
                       list_reduce(list_transform(
                         range(1, len(CAST(start AS VARCHAR) || '#0#1') + 1),
                         j -> CAST(ord(substr(
                           CAST(start AS VARCHAR) || '#0#1',
                           CAST(j AS INTEGER), 1)) AS BIGINT)),
                         (a, b) -> (a * 257 + b) % 2147483647) AS h
                     FROM s0) s
               JOIN re ON re.src = s.node
                 AND re.rk = (s.h * s.h) % 2147483647 % re.deg),
        cand AS (SELECT s.start, s.walk, s.prev, s.node, e.dst AS x
                 FROM s1 s JOIN e ON e.src = s.node),
        wgt AS (SELECT c.start, c.walk, c.node, c.x,
                  CAST(CASE WHEN c.x = c.prev THEN 1
                    WHEN ep.src IS NOT NULL THEN 2
                    ELSE 4 END AS BIGINT) AS w
                FROM cand c
                LEFT JOIN e ep ON ep.src = c.prev AND ep.dst = c.x),
        cum AS (SELECT start, walk, node, x, w,
                  CAST(SUM(w) OVER (PARTITION BY start, walk
                    ORDER BY x) AS BIGINT) AS cw,
                  CAST(SUM(w) OVER (PARTITION BY start, walk)
                    AS BIGINT) AS tot,
                  list_reduce(list_transform(
                    range(1, len(CAST(start AS VARCHAR) || '#0#2') + 1),
                    j -> CAST(ord(substr(
                      CAST(start AS VARCHAR) || '#0#2',
                      CAST(j AS INTEGER), 1)) AS BIGINT)),
                    (a, b) -> (a * 257 + b) % 2147483647) AS h
                FROM wgt),
        s2 AS (SELECT start, walk, x AS node FROM cum
               WHERE (h * h) % 2147483647 % tot >= cw - w
                 AND (h * h) % 2147483647 % tot < cw)
        SELECT start, walk, step, node FROM (
          SELECT start, walk, CAST(0 AS BIGINT) AS step, node FROM s0
          UNION ALL
          SELECT start, walk, CAST(1 AS BIGINT), node FROM s1
          UNION ALL
          SELECT start, walk, CAST(2 AS BIGINT), node FROM s2)
        ORDER BY 1, 2, 3""")),

    // Dedup threshold-sensitivity curve: "how much MORE is removed at
    // 0.90 than at 0.98" — the report a curation run reads before
    // committing to a near-dup threshold. Verified q14 pairs at the
    // recall-complete 0.9 base, swept over 5 cutoffs ABOVE it (exact
    // subsets, so banded recall stays complete at every point);
    // (cut, pair count, affected-doc count) replayed over the same
    // quadratic unigram-Jaccard oracle as q14 plus an unnested cut
    // list.
    GraftQuery(
      "q223_dedup_threshold_curve",
      (s, dir) => {
        val cuts = Seq(0.90, 0.92, 0.94, 0.96, 0.98)
        val pairs = graft.dedup.Dedup.nearDuplicates(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text",
          shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9)
          .withColumn("cut", explode(array(cuts.map(lit): _*)))
          .filter(col("jaccard") >= col("cut"))
          .localCheckpoint(true) // feeds both aggregates below
        val nPairs = pairs.groupBy(col("cut"))
          .agg(count(lit(1)).as("n_pairs"))
        val nDocs = pairs
          .select(col("cut"),
            explode(array(col("id_a"), col("id_b"))).as("__id"))
          .groupBy(col("cut"))
          .agg(countDistinct(col("__id")).as("n_docs"))
        nPairs.join(nDocs, Seq("cut")).orderBy(col("cut"))
      },
      Some("""
        WITH t AS (SELECT doc_id,
          list_distinct(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
            AS toks
          FROM documents WHERE doc_id < 500),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.toks, b.toks)))
                  AS jaccard
              FROM t a, t b
              WHERE a.doc_id < b.doc_id),
        cuts AS (SELECT unnest([0.90e0, 0.92e0, 0.94e0, 0.96e0, 0.98e0])
                   AS cut),
        hit AS (SELECT cuts.cut, p.id_a, p.id_b
                FROM p JOIN cuts ON p.jaccard >= cuts.cut),
        np AS (SELECT cut, CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM hit GROUP BY 1),
        nd AS (SELECT cut, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
               FROM (SELECT cut, id_a AS id FROM hit
                     UNION ALL SELECT cut, id_b FROM hit)
               GROUP BY 1)
        SELECT np.cut, np.n_pairs, nd.n_docs
        FROM np JOIN nd USING (cut) ORDER BY cut""")),

    // Jensen-Shannon drift contributions (text/Drift
    // .tokenJsdContributions): the symmetric BOUNDED member of the
    // drift family beside q79's KL — same add-one Q20 probabilities,
    // mixture as the integer half (sa+sb) div 2, per-token
    // sa·(L(sa)−L(m)) + sb·(L(sb)−L(m)) in exact Q40. The oracle
    // extends the q79 recursive-CTE ilog2 replay with a third side
    // for the mixture.
    GraftQuery(
      "q224_jsd_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.text.Drift.tokenJsdContributions(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"),
          "text")
          .orderBy(col("contrib_q40").desc, col("token"))
      },
      Some("""
        WITH RECURSIVE ta AS (
          SELECT unnest(list_filter(
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS token
          FROM documents WHERE lang = 'en'),
        tb AS (
          SELECT unnest(list_filter(
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS token
          FROM documents WHERE lang <> 'en'),
        ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY 1),
        cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY 1),
        j AS (
          SELECT COALESCE(ca.token, cb.token) AS token,
            COALESCE(c_a, 0) AS n_a, COALESCE(c_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        tot AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS na,
            CAST(SUM(n_b) AS BIGINT) AS nb, COUNT(*) AS v
          FROM j),
        sq AS (
          SELECT token, n_a, n_b,
            greatest(((n_a + 1) * 1048576) // (na + v), 1) AS sa,
            greatest(((n_b + 1) * 1048576) // (nb + v), 1) AS sb
          FROM j, tot),
        sq2 AS (SELECT token, n_a, n_b, sa, sb,
                  (sa + sb) // 2 AS sm FROM sq),
        stack AS (
          SELECT token, 0 AS side, sa AS s FROM sq2
          UNION ALL SELECT token, 1, sb FROM sq2
          UNION ALL SELECT token, 2, sm FROM sq2),
        norm AS (
          SELECT token, side, length(bin(s)) AS bl,
            CASE WHEN length(bin(s)) >= 21 THEN s >> (length(bin(s)) - 21)
                 ELSE s << (21 - length(bin(s))) END AS m
          FROM stack),
        iter(token, side, bl, i, m, frac) AS (
          SELECT token, side, bl, 0, m, CAST(0 AS BIGINT) FROM norm
          UNION ALL
          SELECT token, side, bl, i + 1,
            CASE WHEN (m * m) >> 20 >= 2097152 THEN ((m * m) >> 20) >> 1
                 ELSE (m * m) >> 20 END,
            frac * 2 + CASE WHEN (m * m) >> 20 >= 2097152 THEN 1 ELSE 0 END
          FROM iter WHERE i < 20),
        ltab AS (SELECT token, side, (bl - 21) * 1048576 + frac AS l
                 FROM iter WHERE i = 20),
        la AS (SELECT token, l FROM ltab WHERE side = 0),
        lb AS (SELECT token, l FROM ltab WHERE side = 1),
        lm AS (SELECT token, l FROM ltab WHERE side = 2)
        SELECT sq2.token, CAST(sq2.n_a AS BIGINT) AS n_a,
          CAST(sq2.n_b AS BIGINT) AS n_b,
          CAST(sq2.sa * (la.l - lm.l) + sq2.sb * (lb.l - lm.l)
            AS BIGINT) AS contrib_q40
        FROM sq2 JOIN la ON sq2.token = la.token
          JOIN lb ON sq2.token = lb.token
          JOIN lm ON sq2.token = lm.token
        ORDER BY contrib_q40 DESC, sq2.token""")),

    // Gini concentration (operators/Coverage.giniConcentration): the
    // one-number datasheet summary beside q154's head-coverage cut —
    // char-mass concentration across sources. Integer numerator and
    // denominator (ranks by ascending mass, source tie-break — ties
    // are order-free), ONE IEEE divide; the oracle replays the ranked
    // sum as a window.
    GraftQuery(
      "q225_gini_concentration",
      (s, dir) =>
        graft.operators.Coverage.giniConcentration(
          t(s, dir, "documents"), Seq("source"), "n_chars"),
      Some("""
        WITH m AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
                   FROM documents GROUP BY 1),
        r AS (SELECT mass,
                CAST(ROW_NUMBER() OVER (ORDER BY mass, source)
                  AS BIGINT) AS rk
              FROM m),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(mass) AS BIGINT) AS t,
                 CAST(SUM(rk * mass) AS BIGINT) AS s
               FROM r)
        SELECT n AS n_groups, t AS total_mass,
          CAST(2 * s - (n + 1) * t AS DOUBLE) / CAST(n * t AS DOUBLE)
            AS gini
        FROM st""")),

    // Degree-CAPPED node2vec (RandomWalks.node2vecWalks maxDegree):
    // q222's walk with each node's adjacency truncated to its 8
    // lowest-id neighbors — the hub-survival knob for second-order
    // walks, whose Σ deg(cur) step cost is otherwise unbounded on a
    // hub-heavy graph (a 10⁷-degree host makes the uncapped path
    // unrunnable at 100 TB). The cap is deterministic (rank-by-dst,
    // the LSH bucket-cap discipline), so the oracle replays it as a
    // rank filter and the whole biased walk runs on the SAME capped
    // adjacency: picks, candidate fan-out and distance-1 class.
    GraftQuery(
      "q226_node2vec_capped",
      (s, dir) => {
        val e0 = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = e0.union(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.RandomWalks.node2vecWalks(
          edges, "src", "dst", walksPerNode = 1, walkLen = 2,
          wReturn = 1L, wIn = 2L, wOut = 4L, maxDegree = 8)
          .orderBy(col("start"), col("walk"), col("step"))
      },
      Some("""
        WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
                      l_suppkey * 2 + 1 AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        rall AS (SELECT src, dst,
                   CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
                     - 1 AS BIGINT) AS rk
                 FROM e),
        rec AS (SELECT src, dst, rk FROM rall WHERE rk < 8),
        re AS (SELECT src, dst, rk,
                 CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
               FROM rec),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        s0 AS (SELECT node AS start, CAST(0 AS BIGINT) AS walk, node
               FROM n),
        s1 AS (SELECT s.start, s.walk, s.node AS prev, re.dst AS node
               FROM (SELECT start, walk, node,
                       list_reduce(list_transform(
                         range(1, len(CAST(start AS VARCHAR) || '#0#1') + 1),
                         j -> CAST(ord(substr(
                           CAST(start AS VARCHAR) || '#0#1',
                           CAST(j AS INTEGER), 1)) AS BIGINT)),
                         (a, b) -> (a * 257 + b) % 2147483647) AS h
                     FROM s0) s
               JOIN re ON re.src = s.node
                 AND re.rk = (s.h * s.h) % 2147483647 % re.deg),
        cand AS (SELECT s.start, s.walk, s.prev, s.node, rec.dst AS x
                 FROM s1 s JOIN rec ON rec.src = s.node),
        wgt AS (SELECT c.start, c.walk, c.node, c.x,
                  CAST(CASE WHEN c.x = c.prev THEN 1
                    WHEN ep.src IS NOT NULL THEN 2
                    ELSE 4 END AS BIGINT) AS w
                FROM cand c
                LEFT JOIN rec ep ON ep.src = c.prev AND ep.dst = c.x),
        cum AS (SELECT start, walk, node, x, w,
                  CAST(SUM(w) OVER (PARTITION BY start, walk
                    ORDER BY x) AS BIGINT) AS cw,
                  CAST(SUM(w) OVER (PARTITION BY start, walk)
                    AS BIGINT) AS tot,
                  list_reduce(list_transform(
                    range(1, len(CAST(start AS VARCHAR) || '#0#2') + 1),
                    j -> CAST(ord(substr(
                      CAST(start AS VARCHAR) || '#0#2',
                      CAST(j AS INTEGER), 1)) AS BIGINT)),
                    (a, b) -> (a * 257 + b) % 2147483647) AS h
                FROM wgt),
        s2 AS (SELECT start, walk, x AS node FROM cum
               WHERE (h * h) % 2147483647 % tot >= cw - w
                 AND (h * h) % 2147483647 % tot < cw)
        SELECT start, walk, step, node FROM (
          SELECT start, walk, CAST(0 AS BIGINT) AS step, node FROM s0
          UNION ALL
          SELECT start, walk, CAST(1 AS BIGINT), node FROM s1
          UNION ALL
          SELECT start, walk, CAST(2 AS BIGINT), node FROM s2)
        ORDER BY 1, 2, 3""")),

    // Streaming ingest through the dedup-index LIFECYCLE (streaming/
    // Streaming.dedupIngestSink): four 25-doc micro-batches arrive in
    // pinned order, each dedups against base corpus (< 400) PLUS every
    // earlier batch's survivors (served from the LSM segments the sink
    // itself appended), survivors land per batch and join the index.
    // The sequential dependence IS the evidence the appends work: a
    // block-3 doc near-dup'ing only a block-1 survivor must be dropped.
    // The oracle unrolls the four batches as chained CTEs over the
    // same exact-match + unigram-Jaccard rule (banding at these params
    // is recall-complete over doc_id < 500 — the q14-pinned envelope).
    GraftQuery(
      "q227_streaming_dedup_ingest",
      (s, dir) => withShufflePartitions(s, 8) {
        val staged = stagedDedupBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q227_").toString
        val indexPath = s"$base/index"
        // fresh MUTABLE copy of the cached pristine base index: the
        // run appends segments to it, so it can never be shared
        copyTree(
          java.nio.file.Paths.get(pristineIngestIndexFor(s, dir)),
          java.nio.file.Paths.get(indexPath))
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        val gate = graft.streaming.Streaming.dedupIngestSink(
          stream, indexPath, s"$base/survivors", s"$base/ckpt",
          "doc_id", "text", threshold = 0.9)
        gate.awaitTermination()
        val out = s.read.parquet(s"$base/survivors")
          .select(col("doc_id")).orderBy(col("doc_id"))
          .localCheckpoint(true) // outlive the temp-tree cleanup below
        deleteTree(java.nio.file.Paths.get(s"$base/ckpt"))
        out
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
              AS toks
          FROM documents),
        corp AS (SELECT t, toks FROM d WHERE doc_id < 400),
        b1 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 400 AND doc_id < 425
                 AND NOT EXISTS (SELECT 1 FROM corp c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM corp c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9)),
        c1 AS (SELECT t, toks FROM corp
               UNION ALL SELECT t, toks FROM b1),
        b2 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 425 AND doc_id < 450
                 AND NOT EXISTS (SELECT 1 FROM c1 c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM c1 c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9)),
        c2 AS (SELECT t, toks FROM c1
               UNION ALL SELECT t, toks FROM b2),
        b3 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 450 AND doc_id < 475
                 AND NOT EXISTS (SELECT 1 FROM c2 c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM c2 c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9)),
        c3 AS (SELECT t, toks FROM c2
               UNION ALL SELECT t, toks FROM b3),
        b4 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 475 AND doc_id < 500
                 AND NOT EXISTS (SELECT 1 FROM c3 c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM c3 c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9))
        SELECT doc_id FROM (
          SELECT doc_id FROM b1 UNION ALL SELECT doc_id FROM b2
          UNION ALL SELECT doc_id FROM b3 UNION ALL SELECT doc_id FROM b4)
        ORDER BY 1""")),

    // IVF index maintenance: append × 4 then COMPACT (sim/Similarity
    // .compactIvfIndex) — the small-file merge the append path (q98)
    // accumulates toward, q139's segment-compaction twin for the ANN
    // family. The compacted index serves q66's exact probe with q66's
    // oracle VERBATIM: compaction must be invisible in results while
    // the per-cell file count drops (pinned in SimilaritySpec).
    GraftQuery(
      "q228_ivf_compact",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = ivfCompactIndexFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfTopK(index, queries, k = 10, nProbe = 4)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c) WHERE rn <= 4),
        s AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q
          JOIN probes USING (query_id)
          JOIN assign ON assign.cell = probes.cell
          JOIN e ON e.vec_id = assign.vec_id)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
          FROM s)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // Row batch → named tensors (records/RowsToTensors.compile, U14)
    // and the placeholder layout (placeholderLayout, U15), driver-
    // visible: an 8-doc batch compiles through the converters — dense
    // Int64 without default (doc_id), dense with null→default (nc:
    // every doc_id % 3 == 0 nulled, default −1), and a VarLen string
    // feature (first doc_id % 4 tokens; % 4 == 0 rows are NULL → empty,
    // the reference's null semantics) emitted as the k/shape,
    // k/indices, k/values sparse triple. The oracle recomputes every
    // tensor cell AND the layout dims from the same table + constants.
    GraftQuery(
      "q229_rows_to_tensors",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val norm = graft.text.TextStats.normalize(col("text"))
        val batch = t(s, dir, "documents").filter(col("doc_id") < 8)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit(null))
              .otherwise(col("n_chars")).cast("long").as("nc"),
            when(pmod(col("doc_id"), lit(4)) === 0, lit(null))
              .otherwise(slice(split(norm, " "), lit(1),
                pmod(col("doc_id"), lit(4)).cast("int"))).as("toks"))
          .orderBy(col("doc_id"))
          .collect() // bounded: the 8-row batch the converter contract takes
        val cols: Seq[IndexedSeq[Any]] = Seq(
          batch.map(r => r.get(0): Any).toIndexedSeq,
          batch.map(r => if (r.isNullAt(1)) null else r.get(1): Any).toIndexedSeq,
          batch.map(r => if (r.isNullAt(2)) null else r.getSeq[String](2): Any).toIndexedSeq)
        val specs: graft.types.FeatureSpec.Specs =
          scala.collection.immutable.ListMap(
            "doc_id" -> graft.types.FixedLenFeature(Nil, graft.types.FeatureDType.Int64),
            "nc" -> graft.types.FixedLenFeature(Nil, graft.types.FeatureDType.Int64, Some(-1L)),
            "toks" -> graft.types.VarLenFeature(graft.types.FeatureDType.TfString))
        val tensors = graft.records.RowsToTensors.compile(specs)(cols)
        val layout = graft.records.RowsToTensors.placeholderLayout(specs)
        import graft.records.RowsToTensors._
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        def dense(name: String): Unit = tensors(name) match {
          case DenseVector(vs) => vs.zipWithIndex.foreach { case (v, i) =>
            rows += Row(name, i.toLong, null, String.valueOf(v))
          }
          case other => throw new IllegalStateException(s"$name: $other")
        }
        dense("doc_id"); dense("nc")
        tensors("toks/shape") match {
          case SparseShape(n, m) =>
            rows += Row("toks/shape", 0L, null, n.toString)
            rows += Row("toks/shape", 1L, null, m.toString)
          case other => throw new IllegalStateException(s"shape: $other")
        }
        tensors("toks/indices") match {
          case SparseIndices(ix) => ix.zipWithIndex.foreach {
            case ((r0, p), k) =>
              rows += Row("toks/indices", r0, p, k.toLong.toString)
          }
          case other => throw new IllegalStateException(s"indices: $other")
        }
        tensors("toks/values") match {
          case SparseValues(vs) => vs.zipWithIndex.foreach { case (v, k) =>
            rows += Row("toks/values", k.toLong, null, String.valueOf(v))
          }
          case other => throw new IllegalStateException(s"values: $other")
        }
        layout.toSeq.foreach { case (n, dims) =>
          dims.zipWithIndex.foreach { case (d, i) =>
            rows += Row(s"layout:$n", i.toLong, null, d.toString)
          }
        }
        val schema = StructType(Seq(
          StructField("tensor", StringType, nullable = false),
          StructField("i", LongType, nullable = false),
          StructField("j", LongType, nullable = true),
          StructField("v", StringType, nullable = false)))
        s.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
          schema)
          .orderBy(col("tensor"), col("i"), col("j"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, n_chars,
            CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS r,
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
              ' ') AS ts
          FROM documents WHERE doc_id < 8),
        tk AS (SELECT r, ts[1 : CAST(doc_id % 4 AS INTEGER)] AS l FROM d),
        tok AS (SELECT r, CAST(p - 1 AS BIGINT) AS p, l[CAST(p AS INTEGER)] AS v,
                  CAST(ROW_NUMBER() OVER (ORDER BY r, p) - 1 AS BIGINT) AS k
                FROM (SELECT r, l, unnest(range(1, len(l) + 1)) AS p FROM tk)),
        shp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COALESCE(MAX(len(l)), 0) AS BIGINT) AS m FROM tk),
        u AS (
          SELECT 'doc_id' AS tensor, r AS i, CAST(NULL AS BIGINT) AS j,
            CAST(doc_id AS VARCHAR) AS v FROM d
          UNION ALL
          SELECT 'nc', r, NULL,
            CAST(CASE WHEN doc_id % 3 = 0 THEN -1 ELSE n_chars END
              AS VARCHAR) FROM d
          UNION ALL
          SELECT 'toks/shape', CAST(0 AS BIGINT), NULL, CAST(n AS VARCHAR)
          FROM shp
          UNION ALL
          SELECT 'toks/shape', CAST(1 AS BIGINT), NULL, CAST(m AS VARCHAR)
          FROM shp
          UNION ALL
          SELECT 'toks/indices', r, p, CAST(k AS VARCHAR) FROM tok
          UNION ALL
          SELECT 'toks/values', k, NULL, v FROM tok
          UNION ALL
          SELECT tensor, i, NULL, v FROM (VALUES
            ('layout:doc_id', CAST(0 AS BIGINT), '-1'),
            ('layout:nc', CAST(0 AS BIGINT), '-1'),
            ('layout:toks/shape', CAST(0 AS BIGINT), '2'),
            ('layout:toks/indices', CAST(0 AS BIGINT), '-1'),
            ('layout:toks/indices', CAST(1 AS BIGINT), '2'),
            ('layout:toks/values', CAST(0 AS BIGINT), '-1'))
            lay(tensor, i, v))
        SELECT tensor, i, j, v FROM u ORDER BY tensor, i, j""")),

    // Contract truth tables as driver-visible constants: the HDFS path
    // validator (core/Paths.checkFullHdfsPath, S9 — only fully
    // qualified hdfs:// / viewfs:// URLs with an authority pass;
    // malformed URIs are false, never a throw) and the evaluator
    // sizing arithmetic (eval/EvalConfig.getEvalParams, U19 — the
    // batch-splitting golden pairs). Both are pure functions evaluated
    // at plan-build time; the oracle pins the expected table.
    GraftQuery(
      "q230_contract_tables",
      (s, dir) => {
        import s.implicits._
        val paths = Seq(
          "hdfs://nn1/user/x", "viewfs://root/data", "hdfs:///no-authority",
          "file://host/x", "s3://bucket/key", "relative/path",
          "http://a/b", "hdfs://nn1", "://bad-uri")
        val pathRows = paths.map(p =>
          (s"path:$p", if (graft.core.Paths.checkFullHdfsPath(p)) 1L else 0L))
        def ep(w: Int, e: Int, n: Int): Seq[(String, Long)] = {
          val p = graft.eval.EvalConfig.getEvalParams(w, e, n)
          Seq(
            (s"eval:$w:$e:$n:throttle", p.throttleSecs.toLong),
            (s"eval:$w:$e:$n:ckpt_steps", p.saveCheckpointsSteps.toLong),
            (s"eval:$w:$e:$n:batch", p.evaluationBatchSize.toLong),
            (s"eval:$w:$e:$n:steps", p.steps.toLong))
        }
        (pathRows ++ ep(10, 2, 1000000) ++ ep(4, 1, 100000))
          .toDF("name", "value")
          .orderBy(col("name"))
      },
      Some("""
        SELECT name, CAST(value AS BIGINT) AS value FROM (VALUES
          ('path:hdfs://nn1/user/x', 1),
          ('path:viewfs://root/data', 1),
          ('path:hdfs:///no-authority', 0),
          ('path:file://host/x', 0),
          ('path:s3://bucket/key', 0),
          ('path:relative/path', 0),
          ('path:http://a/b', 0),
          ('path:hdfs://nn1', 1),
          ('path:://bad-uri', 0),
          ('eval:10:2:1000000:throttle', 5),
          ('eval:10:2:1000000:ckpt_steps', 1000000),
          ('eval:10:2:1000000:batch', 100000),
          ('eval:10:2:1000000:steps', 2),
          ('eval:4:1:100000:throttle', 5),
          ('eval:4:1:100000:ckpt_steps', 100000),
          ('eval:4:1:100000:batch', 25000),
          ('eval:4:1:100000:steps', 1)) t(name, value)
        ORDER BY name""")),

    // Eval-only metric recompute (eval/BootstrapEval
    // .evaluateFromPredictions, U18): per-output weighted loss + rmse/
    // mae/accuracy plus the summed total loss, over predictions whose
    // values are DYADIC rationals (multiples of 0.25, weights 1/2) so
    // every partial sum is exact in double and the aggregation order
    // cannot matter — the one final divide (and sqrt) is the same
    // single IEEE op in both engines. out2 exercises the per-output
    // weight column; accuracy's int-cast comparison sees l2 ∈ {0,1,2}.
    GraftQuery(
      "q231_eval_only_metrics",
      (s, dir) => {
        import s.implicits._
        val preds = t(s, dir, "documents").select(
          (pmod(col("doc_id"), lit(4)).cast("double") * lit(0.25)).as("p1"),
          pmod(col("doc_id"), lit(2)).cast("double").as("l1"),
          (pmod(col("doc_id"), lit(5)).cast("double") * lit(0.25)).as("p2"),
          pmod(col("doc_id"), lit(3)).cast("double").as("l2"),
          (lit(1.0) + pmod(col("doc_id"), lit(2)).cast("double")).as("w"))
        val b = graft.eval.BootstrapEval
        val m = b.evaluateFromPredictions(
          preds,
          Seq(b.OutputSpec("out1", "p1", "l1"),
            b.OutputSpec("out2", "p2", "l2", Some("w"))),
          metrics = Seq(b.rmse, b.mae, b.accuracy(0.5)))
        m.toSeq.toDF("metric", "value").orderBy(col("metric"))
      },
      Some("""
        WITH s AS (SELECT
            CAST(doc_id % 4 AS DOUBLE) * 0.25e0 AS p1,
            CAST(doc_id % 2 AS DOUBLE) AS l1,
            CAST(doc_id % 5 AS DOUBLE) * 0.25e0 AS p2,
            CAST(doc_id % 3 AS DOUBLE) AS l2,
            1.0e0 + CAST(doc_id % 2 AS DOUBLE) AS w
          FROM documents),
        a AS (SELECT
            SUM((p1-l1)*(p1-l1)) / SUM(1.0e0) AS loss1,
            sqrt(SUM((p1-l1)*(p1-l1)) / SUM(1.0e0)) AS rmse1,
            SUM(abs(p1-l1)) / SUM(1.0e0) AS mae1,
            SUM(CASE WHEN CAST(p1 >= 0.5e0 AS INTEGER) = CAST(l1 AS INTEGER)
              THEN 1.0e0 ELSE 0.0e0 END) / SUM(1.0e0) AS acc1,
            SUM(w*(p2-l2)*(p2-l2)) / SUM(w) AS loss2,
            sqrt(SUM(w*(p2-l2)*(p2-l2)) / SUM(w)) AS rmse2,
            SUM(w*abs(p2-l2)) / SUM(w) AS mae2,
            SUM(w * CASE WHEN CAST(p2 >= 0.5e0 AS INTEGER) = CAST(l2 AS INTEGER)
              THEN 1.0e0 ELSE 0.0e0 END) / SUM(w) AS acc2
          FROM s)
        SELECT metric, value FROM (
          SELECT 'loss' AS metric, loss1 + loss2 AS value FROM a
          UNION ALL SELECT 'out1_loss', loss1 FROM a
          UNION ALL SELECT 'out1_root_mean_squared_error', rmse1 FROM a
          UNION ALL SELECT 'out1_mean_absolute_error', mae1 FROM a
          UNION ALL SELECT 'out1_accuracy', acc1 FROM a
          UNION ALL SELECT 'out2_loss', loss2 FROM a
          UNION ALL SELECT 'out2_root_mean_squared_error', rmse2 FROM a
          UNION ALL SELECT 'out2_mean_absolute_error', mae2 FROM a
          UNION ALL SELECT 'out2_accuracy', acc2 FROM a)
        ORDER BY metric""")),

    // Streaming IVF ingest lifecycle (streaming/Streaming
    // .ivfIngestSink) — q227's ANN twin: vectors >= 300 arrive as four
    // micro-batches, each assigned against the STORED centroids
    // (map-only, corpus never read) and landed as a cell-partitioned
    // LSM segment; the probe then serves base ∪ segments. Assignment
    // is a pure per-row function of the centroids, so the streamed-in
    // index is row-identical to a one-shot build over everything —
    // q66's oracle runs VERBATIM against it.
    GraftQuery(
      "q232_streaming_ivf_ingest",
      (s, dir) => withShufflePartitions(s, 8) {
        val emb = t(s, dir, "embeddings")
        val staged = stagedVectorBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q232_").toString
        val indexPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(indexPath))
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        graft.streaming.Streaming.ivfIngestSink(
          stream, indexPath, s"$base/ckpt", "vec_id", "embedding")
          .awaitTermination()
        val index = graft.sim.Similarity.readIvfIndex(
          s, indexPath, "vec_id", "embedding")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        val out = graft.sim.Similarity
          .ivfTopK(index, queries, k = 10, nProbe = 4)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
          .localCheckpoint(true) // outlive the ckpt cleanup below
        deleteTree(java.nio.file.Paths.get(s"$base/ckpt"))
        out
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c) WHERE rn <= 4),
        s AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q
          JOIN probes USING (query_id)
          JOIN assign ON assign.cell = probes.cell
          JOIN e ON e.vec_id = assign.vec_id)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
          FROM s)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // Isotonic calibration APPLIED (eval/Isotonic.applyCalibration) —
    // q207 pins the fit; this pins serving it: the broadcast join back
    // onto scored rows, including the two seams that silently corrupt
    // a gate if wrong — NULL-group bins the fit SAW must resolve
    // (null-safe group-key equality; every doc_id % 5 == 0 row carries
    // a NULL group on both the fit and apply sides) and bins the fit
    // NEVER saw must yield NULL calibrated (apply predQ ranges to 19,
    // fit bins stop at 15). The oracle chains q207's minimax fit replay
    // with an IS NOT DISTINCT FROM left join.
    GraftQuery(
      "q233_isotonic_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val grp = when(pmod(col("doc_id"), lit(5)) === 0, lit(null))
          .otherwise(col("lang"))
        val mapping = graft.eval.Isotonic.fitCalibration(
          docs.select(
            grp.as("grp"),
            pmod(col("n_chars"), lit(16)).cast("long").as("predQ"),
            pmod(col("doc_id") * 7 + col("n_chars"), lit(2)).cast("long")
              .as("y")),
          Seq("grp"), "predQ", "y")
        graft.eval.Isotonic.applyCalibration(
          docs.select(col("doc_id"), grp.as("grp"),
            pmod(col("n_chars"), lit(20)).cast("long").as("predQ")),
          mapping, Seq("grp"), "predQ")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT
            CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS grp,
            CAST(n_chars % 16 AS BIGINT) AS predq,
            CAST((doc_id * 7 + n_chars) % 2 AS BIGINT) AS y
          FROM documents),
        b AS (SELECT grp, predq, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(y) AS BIGINT) AS pos
              FROM d GROUP BY 1, 2),
        c AS (SELECT grp, predq, n, pos,
                CAST(SUM(n) OVER (PARTITION BY grp ORDER BY predq)
                  AS BIGINT) AS cn,
                CAST(SUM(pos) OVER (PARTITION BY grp ORDER BY predq)
                  AS BIGINT) AS cpos
              FROM b),
        iv AS (SELECT j.grp, j.predq AS jq, k.predq AS kq,
                 k.cpos - j.cpos + j.pos AS ipos,
                 k.cn - j.cn + j.n AS inn
               FROM c j JOIN c k
                 ON j.grp IS NOT DISTINCT FROM k.grp
                AND j.predq <= k.predq),
        mn AS (SELECT b.grp, b.predq, iv.jq,
                 MIN(CAST(iv.ipos AS DOUBLE) / iv.inn) AS m
               FROM b JOIN iv ON iv.grp IS NOT DISTINCT FROM b.grp
                 AND iv.jq <= b.predq AND iv.kq >= b.predq
               GROUP BY 1, 2, 3),
        ft AS (SELECT grp, predq, MAX(m) AS calibrated
               FROM mn GROUP BY 1, 2),
        a AS (SELECT doc_id,
                CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS grp,
                CAST(n_chars % 20 AS BIGINT) AS predq
              FROM documents)
        SELECT a.doc_id, a.grp, a.predq AS "predQ", ft.calibrated
        FROM a LEFT JOIN ft
          ON a.grp IS NOT DISTINCT FROM ft.grp AND a.predq = ft.predq
        ORDER BY a.doc_id""")),

    // Distribution matching (operators/Mixing.matchDistribution):
    // rejection-sample the corpus DOWN to a target language mix
    // (en:zh:es:de:fr = 4:2:2:1:1) keeping the maximum row count — the
    // scarcest-relative bucket (es at both SFs) keeps rate 1 and
    // anchors every other rate. The oracle replays the count table,
    // the IEEE-ratio argmin (tie by bucket), the two-divide rate
    // product in the same order, and the portable affine-mod draw.
    GraftQuery(
      "q234_distribution_match",
      (s, dir) =>
        graft.operators.Mixing.matchDistribution(
          t(s, dir, "documents"), "lang", "doc_id",
          Seq("en" -> 4L, "zh" -> 2L, "es" -> 2L, "de" -> 1L,
            "fr" -> 1L),
          seed = 41L)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id")),
      Some("""
        WITH cnt AS (SELECT lang AS b, CAST(COUNT(*) AS BIGINT) AS n
                     FROM documents GROUP BY 1),
        tgt AS (SELECT * FROM (VALUES ('en', CAST(4 AS BIGINT)),
                  ('zh', CAST(2 AS BIGINT)), ('es', CAST(2 AS BIGINT)),
                  ('de', CAST(1 AS BIGINT)), ('fr', CAST(1 AS BIGINT)))
                  t(b, tw)),
        wt AS (SELECT cnt.b, n, tw FROM cnt JOIN tgt USING (b)),
        rf AS (SELECT n AS refn, tw AS reft FROM wt
               ORDER BY CAST(n AS DOUBLE) / CAST(tw AS DOUBLE), b
               LIMIT 1),
        rates AS (SELECT b,
                    (CAST(tw AS DOUBLE) / CAST(reft AS DOUBLE))
                      * (CAST(refn AS DOUBLE) / CAST(n AS DOUBLE))
                      AS rate
                  FROM wt, rf),
        h AS (SELECT doc_id, lang,
                ((doc_id % 2147483647) * 1103515245 + 41) % 2147483647
                  AS h1
              FROM documents),
        h2 AS (SELECT doc_id, lang,
                 (h1 * 784588716 + 997) % 2147483647 AS hv
               FROM h)
        SELECT doc_id, lang FROM h2 JOIN rates ON rates.b = h2.lang
        WHERE (CAST(hv AS DOUBLE) + 0.5e0) / 2147483647.0e0 < rate
        ORDER BY doc_id""")),

    // Temporal embargo split (operators/Splits.withTemporalEmbargo):
    // the time-series leakage guard beside q100's cluster-safe hash
    // split — train strictly before cutoff − embargo, test at/after
    // cutoff, and the 3-day gap LABELED rather than silently dropped
    // (the purged-split recipe). Pure map-only row function of the
    // timestamp; the oracle is the same three-way CASE on timestamp
    // literals.
    GraftQuery(
      "q235_embargo_split",
      (s, dir) =>
        graft.operators.Splits.withTemporalEmbargo(
          t(s, dir, "events"), "ts",
          java.time.Instant.parse("2024-01-20T00:00:00Z"),
          embargoSeconds = 3L * 86400L)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"),
            min(col("event_id")).as("first_event"))
          .orderBy(col("split")),
      Some("""
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(event_id) AS first_event
        FROM (SELECT event_id,
                CASE WHEN ts < TIMESTAMP '2024-01-17 00:00:00'
                       THEN 'train'
                     WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                       THEN 'test'
                     ELSE 'embargo' END AS split
              FROM events)
        GROUP BY 1 ORDER BY 1""")),

    // Dedup to WEIGHTS (dedup/Dedup.dedupToWeights): one
    // representative per near-dup cluster carrying the cluster SIZE —
    // the soft-dedup form loss-weighting pipelines want (hard dedup
    // silently reshapes the training distribution; the weight keeps
    // the choice explicit). q100's parameters and recall-complete
    // envelope; the oracle replays the recursive closure and counts
    // members per component, singletons weight 1.
    GraftQuery(
      "q236_dedup_weights",
      (s, dir) =>
        graft.dedup.Dedup.dedupToWeights(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.85)
          .orderBy(col("doc_id")),
      Some("""
        WITH RECURSIVE tok AS (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
          FROM documents WHERE doc_id < 500),
        t AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(ts) - 1),
            i -> array_to_string(ts[i:i+2], ' '))) AS gs
          FROM tok WHERE len(ts) >= 3),
        e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM t a, t b
          WHERE a.doc_id <> b.doc_id
            AND len(a.gs) > 0 AND len(b.gs) > 0
            AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.85
        ),
        reach AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
          WHERE e2.v <> r.u
        ),
        comp AS (SELECT u AS id, least(u, MIN(v)) AS component
                 FROM reach GROUP BY u),
        assigned AS (
          SELECT d.doc_id,
            COALESCE(c.component, d.doc_id) AS comp
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
          WHERE d.doc_id < 500)
        SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS weight
        FROM assigned GROUP BY comp ORDER BY 1""")),

    // Per-group bootstrap metrics (eval/BootstrapEval
    // .bootstrapMetricsByGroup): q15's resampled loss SLICED by
    // event_type — the per-slice uncertainty a datasheet wants. The
    // draw is (rowKey, round)-only, so grouped rounds are exact
    // partitions of q15's global round; the oracle is q15's replay
    // with event_type joining the GROUP BY, decimal-exact sums and
    // one final IEEE divide per (group, round).
    GraftQuery(
      "q237_grouped_bootstrap",
      (s, dir) =>
        graft.eval.BootstrapEval.bootstrapMetricsByGroup(
          t(s, dir, "events").withColumn("pred", col("value") * lit(0.9)),
          col("event_id"), Seq("event_type"),
          Seq(graft.eval.BootstrapEval.OutputSpec("value", "pred", "value")),
          nbBootstrap = 10, seed = 42L,
          metrics = Seq(graft.eval.BootstrapEval.mseExact),
          uniform = Some(graft.eval.BootstrapEval.portableUniform(42L) _))
          .select(col("event_type"), col("round"),
            col("value_loss_exact"))
          .orderBy(col("event_type"), col("round")),
      Some("""
        WITH r AS (SELECT CAST(range AS BIGINT) AS round FROM range(0, 10)),
        d AS (
          SELECT e.event_type, e.value,
            e.value * CAST(0.9 AS DOUBLE) AS pred, r.round,
            ((((e.event_id % 2147483647) * 1103515245 + r.round * 12345 + 42)
               % 2147483647) * 784588716 + 997) % 2147483647 AS h2
          FROM events e CROSS JOIN r),
        w AS (
          SELECT event_type, round, value, pred,
            CASE
              WHEN u <= 0.36787944117144233 THEN 0.0
              WHEN u <= 0.7357588823428847 THEN 1.0
              WHEN u <= 0.9196986029286058 THEN 2.0
              WHEN u <= 0.9810118431238463 THEN 3.0
              WHEN u <= 0.9963401531726563 THEN 4.0
              WHEN u <= 0.9994058151824183 THEN 5.0
              WHEN u <= 0.9999167588507120 THEN 6.0
              WHEN u <= 0.9999897508033253 THEN 7.0
              WHEN u <= 0.9999988747974020 THEN 8.0
              ELSE 9.0 END AS w
          FROM (SELECT event_type, round, value, pred,
                  (CAST(h2 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                    / CAST(2147483647 AS DOUBLE) AS u
                FROM d))
        SELECT event_type, CAST(round AS INTEGER) AS round,
          CAST(SUM(CAST(w * (pred - value) * (pred - value)
            AS DECIMAL(27,6))) AS DOUBLE)
            / CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE)
            AS value_loss_exact
        FROM w GROUP BY 1, 2 ORDER BY 1, 2""")),

    // PAIRED bootstrap model comparison: two models' losses under the
    // SAME resample weights per round (the per-row draw depends only
    // on (rowKey, round), so the comparison is paired by
    // construction), with the per-round difference and win flag — the
    // "is A actually better than B, beyond resampling noise" readout.
    // Pure composition over bootstrapMetricsDf with two outputs; the
    // oracle extends q15's replay with a second prediction and the
    // same one-subtract diff.
    GraftQuery(
      "q238_paired_bootstrap",
      (s, dir) =>
        graft.eval.BootstrapEval.bootstrapMetricsDf(
          t(s, dir, "events")
            .withColumn("pred_a", col("value") * lit(0.9))
            .withColumn("pred_b", col("value") * lit(0.8) + lit(2.0)),
          col("event_id"),
          Seq(graft.eval.BootstrapEval.OutputSpec("a", "pred_a", "value"),
            graft.eval.BootstrapEval.OutputSpec("b", "pred_b", "value")),
          nbBootstrap = 10, seed = 42L,
          metrics = Seq(graft.eval.BootstrapEval.mseExact),
          uniform = Some(graft.eval.BootstrapEval.portableUniform(42L) _))
          .select(col("round"),
            col("a_loss_exact"), col("b_loss_exact"),
            (col("a_loss_exact") - col("b_loss_exact")).as("diff"),
            (col("a_loss_exact") < col("b_loss_exact")).as("a_wins"))
          .orderBy(col("round")),
      Some("""
        WITH r AS (SELECT CAST(range AS BIGINT) AS round FROM range(0, 10)),
        d AS (
          SELECT e.value,
            e.value * CAST(0.9 AS DOUBLE) AS pred_a,
            e.value * CAST(0.8 AS DOUBLE) + CAST(2.0 AS DOUBLE) AS pred_b,
            r.round,
            ((((e.event_id % 2147483647) * 1103515245 + r.round * 12345 + 42)
               % 2147483647) * 784588716 + 997) % 2147483647 AS h2
          FROM events e CROSS JOIN r),
        w AS (
          SELECT round, value, pred_a, pred_b,
            CASE
              WHEN u <= 0.36787944117144233 THEN 0.0
              WHEN u <= 0.7357588823428847 THEN 1.0
              WHEN u <= 0.9196986029286058 THEN 2.0
              WHEN u <= 0.9810118431238463 THEN 3.0
              WHEN u <= 0.9963401531726563 THEN 4.0
              WHEN u <= 0.9994058151824183 THEN 5.0
              WHEN u <= 0.9999167588507120 THEN 6.0
              WHEN u <= 0.9999897508033253 THEN 7.0
              WHEN u <= 0.9999988747974020 THEN 8.0
              ELSE 9.0 END AS w
          FROM (SELECT round, value, pred_a, pred_b,
                  (CAST(h2 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                    / CAST(2147483647 AS DOUBLE) AS u
                FROM d)),
        agg AS (
          SELECT round,
            CAST(SUM(CAST(w * (pred_a - value) * (pred_a - value)
              AS DECIMAL(27,6))) AS DOUBLE)
              / CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE)
              AS a_loss_exact,
            CAST(SUM(CAST(w * (pred_b - value) * (pred_b - value)
              AS DECIMAL(27,6))) AS DOUBLE)
              / CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE)
              AS b_loss_exact
          FROM w GROUP BY round)
        SELECT CAST(round AS INTEGER) AS round, a_loss_exact, b_loss_exact,
          a_loss_exact - b_loss_exact AS diff,
          a_loss_exact < b_loss_exact AS a_wins
        FROM agg ORDER BY round""")),

    // Per-group winsorization (sketch/Quantiles.winsorize): n_chars
    // clipped to each language's exact [p05, p95] discrete quantiles —
    // the heavy-tail taming step before per-group normalization.
    // Thresholds are ELEMENTS of the data (q54's histogram contract),
    // so the clip replays exactly: the oracle recomputes both
    // thresholds per lang and applies the same two-sided clamp.
    GraftQuery(
      "q239_winsorize",
      (s, dir) =>
        graft.sketch.Quantiles.winsorize(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), "n_chars", pLo = 0.05, pHi = 0.95)
          .orderBy(col("doc_id")),
      Some("""
        WITH h AS (
          SELECT lang, n_chars AS v, COUNT(*) AS c
          FROM documents GROUP BY 1, 2),
        w AS (
          SELECT lang, v, c,
            CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT)
              AS cum,
            CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM h),
        th AS (
          SELECT lang,
            MIN(CASE WHEN cum >= ceil(0.05e0 * n) THEN v END) AS lo,
            MIN(CASE WHEN cum >= ceil(0.95e0 * n) THEN v END) AS hi
          FROM w GROUP BY lang)
        SELECT d.doc_id, d.lang, d.n_chars,
          least(greatest(d.n_chars, th.lo), th.hi) AS winsorized
        FROM documents d JOIN th ON d.lang = th.lang
        ORDER BY d.doc_id""")),

    // The FULL dedup-index LSM lifecycle end to end (q227 + compact +
    // serve): four micro-batches [350, 450) stream in against a
    // corpus < 350, their survivors accumulate as segments, COMPACT
    // folds everything into the base (segments directory gone), and a
    // fifth "day" [450, 500) is deduped against the compacted index.
    // Green means compaction is invisible in semantics — the oracle is
    // the same chained sequential-dedup closure with one more block,
    // knowing nothing about segments or compaction.
    GraftQuery(
      "q240_ingest_compact_serve",
      (s, dir) => withShufflePartitions(s, 8) {
        val docs = t(s, dir, "documents")
        val staged = stagedDedupBlocksFor(s, dir, startId = 350)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q240_").toString
        val indexPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIngestIndexFor(s, dir, 350)),
          java.nio.file.Paths.get(indexPath))
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        graft.streaming.Streaming.dedupIngestSink(
          stream, indexPath, s"$base/survivors", s"$base/ckpt",
          "doc_id", "text", threshold = 0.9)
          .awaitTermination()
        graft.dedup.DedupIndex.compact(s, indexPath)
        val idx = graft.dedup.DedupIndex.read(s, indexPath)
        val out = graft.dedup.DedupIndex.dedupAgainst(
          docs.filter(col("doc_id") >= 450 && col("doc_id") < 500),
          idx, "doc_id", "text", threshold = 0.9)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
          .localCheckpoint(true)
        deleteTree(java.nio.file.Paths.get(s"$base/ckpt"))
        out
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
              AS toks
          FROM documents),
        corp AS (SELECT t, toks FROM d WHERE doc_id < 350),
        b1 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 350 AND doc_id < 375
                 AND NOT EXISTS (SELECT 1 FROM corp c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM corp c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9)),
        c1 AS (SELECT t, toks FROM corp
               UNION ALL SELECT t, toks FROM b1),
        b2 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 375 AND doc_id < 400
                 AND NOT EXISTS (SELECT 1 FROM c1 c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM c1 c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9)),
        c2 AS (SELECT t, toks FROM c1
               UNION ALL SELECT t, toks FROM b2),
        b3 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 400 AND doc_id < 425
                 AND NOT EXISTS (SELECT 1 FROM c2 c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM c2 c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9)),
        c3 AS (SELECT t, toks FROM c2
               UNION ALL SELECT t, toks FROM b3),
        b4 AS (SELECT doc_id, t, toks FROM d
               WHERE doc_id >= 425 AND doc_id < 450
                 AND NOT EXISTS (SELECT 1 FROM c3 c WHERE c.t = d.t)
                 AND NOT EXISTS (SELECT 1 FROM c3 c
                   WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(d.toks, c.toks)))
                       >= 0.9)),
        c4 AS (SELECT t, toks FROM c3
               UNION ALL SELECT t, toks FROM b4)
        SELECT doc_id FROM d
        WHERE doc_id >= 450 AND doc_id < 500
          AND NOT EXISTS (SELECT 1 FROM c4 c WHERE c.t = d.t)
          AND NOT EXISTS (SELECT 1 FROM c4 c
            WHERE CAST(len(list_intersect(d.toks, c.toks)) AS DOUBLE)
                / len(list_distinct(list_concat(d.toks, c.toks))) >= 0.9)
        ORDER BY 1""")),

    // Degree-capped node2vec at walkLen = 3 — TWO chained second-order
    // steps: q226 pins one biased step; this pins that `prev`
    // PROPAGATES (step 3's distance classes are computed against step
    // 2's pick, not the start node). The oracle carries prev through
    // the step-2 CTE and unrolls a second candidate/classify/cumsum/
    // interval block with the '#0#3' hash.
    GraftQuery(
      "q241_node2vec_len3",
      (s, dir) => {
        val e0 = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = e0.union(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.RandomWalks.node2vecWalks(
          edges, "src", "dst", walksPerNode = 1, walkLen = 3,
          wReturn = 1L, wIn = 2L, wOut = 4L, maxDegree = 8)
          .orderBy(col("start"), col("walk"), col("step"))
      },
      Some("""
        WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
                      l_suppkey * 2 + 1 AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        rall AS (SELECT src, dst,
                   CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
                     - 1 AS BIGINT) AS rk
                 FROM e),
        rec AS (SELECT src, dst, rk FROM rall WHERE rk < 8),
        re AS (SELECT src, dst, rk,
                 CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
               FROM rec),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        s0 AS (SELECT node AS start, CAST(0 AS BIGINT) AS walk, node
               FROM n),
        s1 AS (SELECT s.start, s.walk, s.node AS prev, re.dst AS node
               FROM (SELECT start, walk, node,
                       list_reduce(list_transform(
                         range(1, len(CAST(start AS VARCHAR) || '#0#1') + 1),
                         j -> CAST(ord(substr(
                           CAST(start AS VARCHAR) || '#0#1',
                           CAST(j AS INTEGER), 1)) AS BIGINT)),
                         (a, b) -> (a * 257 + b) % 2147483647) AS h
                     FROM s0) s
               JOIN re ON re.src = s.node
                 AND re.rk = (s.h * s.h) % 2147483647 % re.deg),
        cand2 AS (SELECT s.start, s.walk, s.prev, s.node, rec.dst AS x
                  FROM s1 s JOIN rec ON rec.src = s.node),
        wgt2 AS (SELECT c.start, c.walk, c.node, c.x,
                   CAST(CASE WHEN c.x = c.prev THEN 1
                     WHEN ep.src IS NOT NULL THEN 2
                     ELSE 4 END AS BIGINT) AS w
                 FROM cand2 c
                 LEFT JOIN rec ep ON ep.src = c.prev AND ep.dst = c.x),
        cum2 AS (SELECT start, walk, node, x, w,
                   CAST(SUM(w) OVER (PARTITION BY start, walk
                     ORDER BY x) AS BIGINT) AS cw,
                   CAST(SUM(w) OVER (PARTITION BY start, walk)
                     AS BIGINT) AS tot,
                   list_reduce(list_transform(
                     range(1, len(CAST(start AS VARCHAR) || '#0#2') + 1),
                     j -> CAST(ord(substr(
                       CAST(start AS VARCHAR) || '#0#2',
                       CAST(j AS INTEGER), 1)) AS BIGINT)),
                     (a, b) -> (a * 257 + b) % 2147483647) AS h
                 FROM wgt2),
        s2 AS (SELECT start, walk, node AS prev, x AS node FROM cum2
               WHERE (h * h) % 2147483647 % tot >= cw - w
                 AND (h * h) % 2147483647 % tot < cw),
        cand3 AS (SELECT s.start, s.walk, s.prev, s.node, rec.dst AS x
                  FROM s2 s JOIN rec ON rec.src = s.node),
        wgt3 AS (SELECT c.start, c.walk, c.node, c.x,
                   CAST(CASE WHEN c.x = c.prev THEN 1
                     WHEN ep.src IS NOT NULL THEN 2
                     ELSE 4 END AS BIGINT) AS w
                 FROM cand3 c
                 LEFT JOIN rec ep ON ep.src = c.prev AND ep.dst = c.x),
        cum3 AS (SELECT start, walk, node, x, w,
                   CAST(SUM(w) OVER (PARTITION BY start, walk
                     ORDER BY x) AS BIGINT) AS cw,
                   CAST(SUM(w) OVER (PARTITION BY start, walk)
                     AS BIGINT) AS tot,
                   list_reduce(list_transform(
                     range(1, len(CAST(start AS VARCHAR) || '#0#3') + 1),
                     j -> CAST(ord(substr(
                       CAST(start AS VARCHAR) || '#0#3',
                       CAST(j AS INTEGER), 1)) AS BIGINT)),
                     (a, b) -> (a * 257 + b) % 2147483647) AS h
                 FROM wgt3),
        s3 AS (SELECT start, walk, x AS node FROM cum3
               WHERE (h * h) % 2147483647 % tot >= cw - w
                 AND (h * h) % 2147483647 % tot < cw)
        SELECT start, walk, step, node FROM (
          SELECT start, walk, CAST(0 AS BIGINT) AS step, node FROM s0
          UNION ALL
          SELECT start, walk, CAST(1 AS BIGINT), node FROM s1
          UNION ALL
          SELECT start, walk, CAST(2 AS BIGINT), node FROM s2
          UNION ALL
          SELECT start, walk, CAST(3 AS BIGINT), node FROM s3)
        ORDER BY 1, 2, 3""")),

    // KMV set algebra (sketch/Kmv.pairwiseSetAlgebra): per source-pair
    // union / intersection / difference cardinality estimates from the
    // q203 bigram sketches alone — the corpus-versioning readout
    // ("what did v2 add/drop/share") with NO corpus join. Exact long
    // union estimator, one double divide for the intersection, one
    // subtract per difference; the oracle extends q203's full SQL
    // replay of the sketch machinery with the same three expressions.
    // Probe pairs limited to 4 sources (6 pairs) to keep the oracle's
    // replay cheap; the operator itself is #groups²-pair bounded.
    GraftQuery(
      "q242_kmv_set_algebra",
      (s, dir) => {
        val bigrams = t(s, dir, "documents")
          .filter(col("source").isin("src0", "src1", "src2", "src3"))
          .select(col("source"),
            filter(split(col("text"), " "), x => x =!= "").as("__w"))
          .filter(size(col("__w")) > 1)
          .select(col("source"), explode(expr(
            "transform(sequence(0, size(__w) - 2), " +
              "i -> concat(__w[i], ' ', __w[i + 1]))")).as("bigram"))
        val sk = graft.sketch.Kmv.sketch(
          bigrams, Seq("source"), col("bigram"), k = 64)
        graft.sketch.Kmv.pairwiseSetAlgebra(sk, "source", k = 64)
          .orderBy(col("ga"), col("gb"))
      },
      Some("""
        WITH t AS (
          SELECT source,
            list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
          WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        bg AS (
          SELECT DISTINCT source, w[i] || ' ' || w[i + 1] AS bigram
          FROM (SELECT source, w, unnest(range(1, len(w))) AS i
                FROM t WHERE len(w) > 1)),
        hh AS (
          SELECT source,
            list_reduce(
              list_transform(range(1, length(bigram) + 1),
                j -> CAST(ord(substring(bigram, CAST(j AS INTEGER), 1))
                  AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS h0
          FROM bg),
        dh AS (
          SELECT DISTINCT source,
            (((((h0 * h0) % 2147483647) * ((h0 * h0) % 2147483647))
              % 2147483647) * h0) % 2147483647 AS h
          FROM hh),
        sk AS (
          SELECT source, h FROM (
            SELECT source, h,
              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM dh)
          WHERE rn <= 64),
        est AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
            CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS BIGINT)
                 ELSE (63 * CAST(2147483647 AS BIGINT)) // MAX(h) END
                   AS distinct_est
          FROM sk GROUP BY 1),
        srcs AS (SELECT DISTINCT source FROM sk),
        pairs AS (SELECT a.source AS ga, b.source AS gb
                  FROM srcs a, srcs b WHERE a.source < b.source),
        u AS (
          SELECT p.ga, p.gb, s.h,
            MAX(CASE WHEN s.source = p.ga THEN 1 ELSE 0 END) AS in_a,
            MAX(CASE WHEN s.source = p.gb THEN 1 ELSE 0 END) AS in_b
          FROM pairs p JOIN sk s ON s.source = p.ga OR s.source = p.gb
          GROUP BY 1, 2, 3),
        uk AS (
          SELECT * FROM (
            SELECT u.*, row_number()
              OVER (PARTITION BY ga, gb ORDER BY h) AS rn
            FROM u)
          WHERE rn <= 64),
        agg AS (
          SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS k_used,
            CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
            CAST(MAX(h) AS BIGINT) AS union_hk
          FROM uk GROUP BY 1, 2),
        alg AS (
          SELECT ga, gb, k_used,
            CASE WHEN k_used < 64 THEN k_used
                 ELSE (63 * CAST(2147483647 AS BIGINT)) // union_hk END
                   AS union_est,
            n_common
          FROM agg)
        SELECT alg.ga, alg.gb, alg.k_used, alg.union_est,
          CAST(alg.n_common * alg.union_est AS DOUBLE)
            / CAST(alg.k_used AS DOUBLE) AS inter_est,
          CAST(ea.distinct_est AS DOUBLE)
            - CAST(alg.n_common * alg.union_est AS DOUBLE)
              / CAST(alg.k_used AS DOUBLE) AS diff_a_est,
          CAST(eb.distinct_est AS DOUBLE)
            - CAST(alg.n_common * alg.union_est AS DOUBLE)
              / CAST(alg.k_used AS DOUBLE) AS diff_b_est
        FROM alg
        JOIN est ea ON ea.source = alg.ga
        JOIN est eb ON eb.source = alg.gb
        ORDER BY alg.ga, alg.gb""")),

    // The conformal gate APPLIED (q218's thresholds end to end): keep
    // rows whose score is within the per-language threshold, report
    // kept count / empirical coverage / the largest admitted score.
    // The guarantee made checkable: empirical coverage must be
    // >= 1 − α = 0.9 (the rank's construction makes it
    // ceil((n+1)·0.9)-smallest, so the kept fraction is ≥ 0.9 minus
    // the share of rows TIED at the threshold — all exact integers
    // both sides). Broadcast join of the #groups-sized threshold table
    // + map-only filter; one IEEE divide for the coverage readout.
    GraftQuery(
      "q243_conformal_gate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val th = graft.eval.Conformal.thresholds(
          docs, Seq("lang"), "n_chars", aNum = 1L, aDen = 10L)
          .select(col("lang").as("__gl"), col("threshold"))
        docs.join(broadcast(th), col("lang") === col("__gl"))
          .filter(col("n_chars") <= col("threshold"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            max(col("n_chars")).cast("long").as("max_kept"))
          .join(broadcast(
            docs.groupBy(col("lang").as("__cl"))
              .agg(count(lit(1)).as("__n"))),
            col("lang") === col("__cl"))
          .select(col("lang"), col("n_kept"), col("max_kept"),
            (col("n_kept").cast("double") / col("__n").cast("double"))
              .as("coverage"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
                     CAST(COUNT(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2),
        cm AS (SELECT lang, v, c,
                 CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v)
                   AS BIGINT) AS cum,
                 CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
               FROM h),
        rk AS (SELECT lang, v, cum, n,
                 CAST(((n + 1) * 9 + 9) // 10 AS BIGINT) AS rank
               FROM cm),
        th AS (SELECT lang, MAX(n) AS n,
                 MIN(CASE WHEN cum >= rank THEN v END) AS threshold
               FROM rk GROUP BY lang),
        kept AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(d.n_chars) AS BIGINT) AS max_kept
                 FROM documents d JOIN th ON d.lang = th.lang
                 WHERE d.n_chars <= th.threshold
                 GROUP BY 1)
        SELECT kept.lang, kept.n_kept, kept.max_kept,
          CAST(kept.n_kept AS DOUBLE) / CAST(th.n AS DOUBLE) AS coverage
        FROM kept JOIN th ON kept.lang = th.lang
        ORDER BY kept.lang""")),

    // Quantile normalization (sketch/Quantiles.quantileNormalize):
    // per-language n_chars mapped onto the POOLED distribution — the
    // scorer-harmonization step ("v2's 0.8 ≠ v1's 0.8") with output
    // values that are elements of the pooled data, never interpolated.
    // Exact integer rank rule replayed: before·N/(n−1) ceiling,
    // singleton → pooled median rank; the engine's pooled prefix runs
    // through dense ids + the two-level bucket scan and the rank
    // lookup through the binned point-in-interval hash join (no
    // global window, no non-equi join — the oracle uses DuckDB's
    // plain windows for the same numbers).
    GraftQuery(
      "q244_quantile_normalize",
      (s, dir) =>
        graft.sketch.Quantiles.quantileNormalize(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), "n_chars")
          .orderBy(col("doc_id")),
      Some("""
        WITH b AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS v
                   FROM documents),
        g AS (SELECT lang, v, COUNT(*) AS c FROM b GROUP BY 1, 2),
        gg AS (SELECT lang, v,
                 CAST(COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS bef,
                 CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
               FROM g),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM b),
        r AS (SELECT lang, v,
                CASE WHEN n = 1 THEN (np + 1) // 2
                     ELSE greatest(1, (bef * np + (n - 2)) // (n - 1))
                     END AS rk
              FROM gg, tot),
        p AS (SELECT v AS pv, COUNT(*) AS pc FROM b GROUP BY 1),
        pp AS (SELECT pv,
                 CAST(COALESCE(SUM(pc) OVER (ORDER BY pv
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pb,
                 CAST(SUM(pc) OVER (ORDER BY pv) AS BIGINT) AS pcum
               FROM p),
        map AS (SELECT r.lang, r.v, MIN(pp.pv) AS nv
                FROM r JOIN pp ON pp.pcum >= r.rk AND pp.pb < r.rk
                GROUP BY 1, 2)
        SELECT b.doc_id, b.lang, b.v AS n_chars, map.nv AS normalized
        FROM b JOIN map ON b.lang = map.lang AND b.v = map.v
        ORDER BY b.doc_id""")),

    // IVF maintenance with CENTROID RETRAIN (sim/Similarity
    // .compactIvfIndexWithRetrain): base on vec_id < 300 with q66's
    // day-0 centroids, two drift appends assigned against those stale
    // centroids, then the compact-with-retrain maintenance window —
    // sim/KMeans re-fits 16 cells on the compacted corpus (2
    // quantized-integer Lloyd rounds, q44's bit-replayable contract),
    // every row re-assigns by the smallest-cell-id cosine rule, and
    // BOTH tables swap in. The probe then runs through cells that
    // reflect the corpus as ingested, not as bootstrapped — the
    // staleness escape the append path (q98/q228/q232) documents as
    // caller policy. DuckDB replays the ENTIRE lifecycle: both Lloyd
    // rounds (q44's CTE unroll, k=16, init = the 16 smallest vec_ids
    // of the union), the double→float→double centroid rounding the
    // stored index applies, the cosine re-assignment, and the
    // 4-of-16-cell pruned top-k (q66's probe machinery) — retrained
    // approximate recall as an equality check, not a bound.
    GraftQuery(
      "q245_ivf_retrain_compact",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = ivfRetrainIndexFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfTopK(index, queries, k = 10, nProbe = 4)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 500),
        c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c
               FROM e WHERE vec_id < 16),
        d1 AS (
          SELECT e.vec_id, e.v, c0.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(e.v, (x, i) -> (x - c0.c[i]) * (x - c0.c[i]))),
              (a, b) -> a + b) AS dist
          FROM e, c0),
        a1 AS (
          SELECT vec_id, v, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d1),
        q1 AS (
          SELECT cid, unnest(list_transform(v, (x, i) ->
            struct_pack(pos := i, q := CAST(floor(x * 1048576e0) AS BIGINT)))) AS u
          FROM a1 WHERE rn = 1),
        c1 AS (
          SELECT cid, list((CAST(s AS DOUBLE) / 1048576e0) / n ORDER BY pos) AS c
          FROM (SELECT cid, u.pos AS pos, SUM(u.q) AS s, COUNT(*) AS n
                FROM q1 GROUP BY cid, u.pos)
          GROUP BY cid),
        d2 AS (
          SELECT e.vec_id, e.v, c1.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(e.v, (x, i) -> (x - c1.c[i]) * (x - c1.c[i]))),
              (a, b) -> a + b) AS dist
          FROM e, c1),
        a2 AS (
          SELECT vec_id, v, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d2),
        q2 AS (
          SELECT cid, unnest(list_transform(v, (x, i) ->
            struct_pack(pos := i, q := CAST(floor(x * 1048576e0) AS BIGINT)))) AS u
          FROM a2 WHERE rn = 1),
        c2 AS (
          SELECT cid, list((CAST(s AS DOUBLE) / 1048576e0) / n ORDER BY pos) AS c
          FROM (SELECT cid, u.pos AS pos, SUM(u.q) AS s, COUNT(*) AS n
                FROM q2 GROUP BY cid, u.pos)
          GROUP BY cid),
        cf AS (SELECT cid AS cell, CAST(CAST(c AS FLOAT[]) AS DOUBLE[]) AS cv
               FROM c2),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, cf.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * cf.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(cf.cv, x -> x * x), (a,b) -> a + b)))
                DESC, cf.cell) AS rn
            FROM e, cf) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, cf.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * cf.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(cf.cv, x -> x * x), (a,b) -> a + b)))
                DESC, cf.cell) AS rn
            FROM q, cf) WHERE rn <= 4),
        sc AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q
          JOIN probes USING (query_id)
          JOIN assign ON assign.cell = probes.cell
          JOIN e ON e.vec_id = assign.vec_id)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
          FROM sc)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // Schema-compatibility contract as a driver-visible oracle row
    // (types/SchemaCompat, P8): the reference's full ported truth
    // table — 19 datatype cases, 5 structfield cases, 2 whole-schema
    // cases — evaluated through the real predicate at plan-build time
    // and pinned against a VALUES table (the q230 discipline for
    // pure-function contracts). The names encode the case; the oracle
    // pins the verdicts.
    GraftQuery(
      "q246_schema_compat_table",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.types._
        import graft.types._
        import graft.types.FeatureDType._
        def arr(t: DataType) = ArrayType(t, containsNull = false)
        val dt: Seq[(String, DataType, FeatureSpec)] = Seq(
          ("dt00_long_to_fix_int64", LongType, FixedLenFeature(Nil, Int64)),
          ("dt01_long_to_fix_int32", LongType, FixedLenFeature(Nil, Int32)),
          ("dt02_int_to_fix_int64", IntegerType, FixedLenFeature(Nil, Int64)),
          ("dt03_int_to_fix_int32", IntegerType, FixedLenFeature(Nil, Int32)),
          ("dt04_double_to_fix_f32", DoubleType, FixedLenFeature(Nil, Float32)),
          ("dt05_float_to_fix_f32", FloatType, FixedLenFeature(Nil, Float32)),
          ("dt06_double_to_fix_f64", DoubleType, FixedLenFeature(Nil, Float64)),
          ("dt07_float_to_fix_f64", FloatType, FixedLenFeature(Nil, Float64)),
          ("dt08_long_to_shape1", LongType, FixedLenFeature(Seq(1), Int64)),
          ("dt09_long_to_shape2", LongType, FixedLenFeature(Seq(2), Int64)),
          ("dt10_long_to_shape22", LongType, FixedLenFeature(Seq(2, 2), Int64)),
          ("dt11_arrlong_to_shape1", arr(LongType), FixedLenFeature(Seq(1), Int64)),
          ("dt12_arrlong_to_shape2", arr(LongType), FixedLenFeature(Seq(2), Int64)),
          ("dt13_arrint_to_shape2", arr(IntegerType), FixedLenFeature(Seq(2), Int64)),
          ("dt14_arrint_to_shape22", arr(IntegerType), FixedLenFeature(Seq(2, 2), Int64)),
          ("dt15_arrarr_to_shape2", arr(arr(LongType)), FixedLenFeature(Seq(2), Int64)),
          ("dt16_arrarr_to_shape22", arr(arr(LongType)), FixedLenFeature(Seq(2, 2), Int64)),
          ("dt17_int_to_varlen", IntegerType, VarLenFeature(Int64)),
          ("dt18_arrint_to_varlen", arr(IntegerType), VarLenFeature(Int64)))
        val sf: Seq[(String, StructField, String, FeatureSpec)] = Seq(
          ("sf0_name_mismatch",
            StructField("tata", LongType), "toto", FixedLenFeature(Nil, Int64)),
          ("sf1_type_mismatch",
            StructField("toto", LongType), "toto", FixedLenFeature(Nil, Int32)),
          ("sf2_nullable_no_default",
            StructField("toto", LongType, nullable = true), "toto",
            FixedLenFeature(Nil, Int64)),
          ("sf3_ok",
            StructField("toto", LongType, nullable = false), "toto",
            FixedLenFeature(Nil, Int64)),
          ("sf4_nullable_with_default",
            StructField("toto", LongType, nullable = true), "toto",
            FixedLenFeature(Nil, Int64, Some(1L))))
        val schema = StructType(Seq(
          StructField("a", LongType, nullable = false),
          StructField("b", arr(IntegerType), nullable = false)))
        val good: FeatureSpec.Specs =
          Map("a" -> FixedLenFeature(Nil, Int64), "b" -> VarLenFeature(Int64))
        val rows =
          dt.map { case (n, t, sp) =>
            (n, if (SchemaCompat.isDataTypeCompatible(sp, t)) 1L else 0L)
          } ++
          sf.map { case (n, f, nm, sp) =>
            (n, if (SchemaCompat.isStructFieldCompatible(f, nm, sp)) 1L else 0L)
          } ++ Seq(
            ("schema_good",
              if (SchemaCompat.isSchemaCompatible(schema, good)) 1L else 0L),
            ("schema_missing_col",
              if (SchemaCompat.isSchemaCompatible(schema,
                good + ("c" -> VarLenFeature(Int64)))) 1L else 0L))
        rows.toDF("cid", "compatible").orderBy(col("cid"))
      },
      Some("""
        SELECT cid, CAST(compatible AS BIGINT) AS compatible FROM (VALUES
          ('dt00_long_to_fix_int64', 1),
          ('dt01_long_to_fix_int32', 0),
          ('dt02_int_to_fix_int64', 1),
          ('dt03_int_to_fix_int32', 1),
          ('dt04_double_to_fix_f32', 0),
          ('dt05_float_to_fix_f32', 1),
          ('dt06_double_to_fix_f64', 1),
          ('dt07_float_to_fix_f64', 1),
          ('dt08_long_to_shape1', 0),
          ('dt09_long_to_shape2', 0),
          ('dt10_long_to_shape22', 0),
          ('dt11_arrlong_to_shape1', 1),
          ('dt12_arrlong_to_shape2', 1),
          ('dt13_arrint_to_shape2', 1),
          ('dt14_arrint_to_shape22', 1),
          ('dt15_arrarr_to_shape2', 0),
          ('dt16_arrarr_to_shape22', 1),
          ('dt17_int_to_varlen', 1),
          ('dt18_arrint_to_varlen', 1),
          ('sf0_name_mismatch', 0),
          ('sf1_type_mismatch', 0),
          ('sf2_nullable_no_default', 0),
          ('sf3_ok', 1),
          ('sf4_nullable_with_default', 1),
          ('schema_good', 1),
          ('schema_missing_col', 0)) t(cid, compatible)
        ORDER BY cid""")),

    // Counting-sink manifests as driver-visible oracle rows (S1/S2/A4):
    // both sinks stage a real write of documents doc_id < 500 (bounded
    // at every SF), then the result reads the manifests BACK — the
    // DSv2 sink's `_manifest` (A4, one `path\tcount` line per part,
    // commit-message counts) and the RDD sink's driver-collected
    // (path, count) list (S1) — and folds each to its total, plus an
    // independent read-back row count through the DSv2 source. All
    // three must equal DuckDB's count(*): the manifest counts are
    // pinned to the data, not to each other.
    GraftQuery(
      "q247_manifest_counts",
      (s, dir) => {
        import s.implicits._
        import graft.types._
        val docs = t(s, dir, "documents")
          .filter(col("doc_id") < 500)
          .select(col("doc_id"), col("lang"))
        val base = java.nio.file.Files
          .createTempDirectory("graft_q247_").toString
        val dsv2Out = s"$base/dsv2"
        docs.write.format("tfrecord").mode("overwrite").save(dsv2Out)
        val manifest = {
          val src = scala.io.Source.fromFile(s"$dsv2Out/_manifest", "UTF-8")
          try src.getLines().filter(_.nonEmpty).map { line =>
            // count is the LAST field: split from the right so a path
            // containing a tab fails the toLong with a clear message
            // instead of a bare MatchError
            val cut = line.lastIndexOf('\t')
            require(cut > 0, s"malformed manifest line (no tab): $line")
            (line.substring(0, cut), line.substring(cut + 1).toLong)
          }.toVector
          finally src.close()
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType, nullable = false)))
        val readBack = s.read.format("tfrecord").schema(schema)
          .load(dsv2Out).count()
        val specs: FeatureSpec.Specs = Map(
          "doc_id" -> FixedLenFeature(Nil, FeatureDType.Int64),
          "lang" -> FixedLenFeature(Nil, FeatureDType.TfString))
        val rddManifest = graft.records.TfRecords.writeExamples(
          docs, specs, s"$base/rdd", gzip = true, requireHdfs = false)
        // file-count is layout-dependent (not oracle-stable) — pin the
        // structural invariant fail-loud here, the totals in the oracle
        require(manifest.nonEmpty && rddManifest.nonEmpty,
          "q247: a counting sink committed an empty manifest")
        Seq(
          ("dsv2_manifest_total", manifest.map(_._2).sum),
          ("dsv2_readback_rows", readBack),
          ("rdd_sink_manifest_total", rddManifest.map(_._2).sum))
          .toDF("name", "value").orderBy(col("name"))
      },
      Some("""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
                   FROM documents WHERE doc_id < 500)
        SELECT name, value FROM (
          SELECT 'dsv2_manifest_total' AS name, c AS value FROM n
          UNION ALL SELECT 'dsv2_readback_rows', c FROM n
          UNION ALL SELECT 'rdd_sink_manifest_total', c FROM n)
        ORDER BY name""")),

    // Dedup-index DELETE via tombstones (dedup/DedupIndex.delete) —
    // the takedown/license-revocation event a 100 TB corpus index
    // must absorb without a rebuild: ids land as a batch-sized
    // tombstone parquet, reads exclusion-filter the id-carrying
    // fingerprint and shingle tables (two anti-joins against the
    // tombstone-sized table; bucket lists stay as stored — a
    // tombstoned candidate dies in the verify join), and compact
    // folds the purge in physically (pinned in DedupIndexSpec). The
    // oracle is q62's exact dedup closure with the deleted docs
    // REMOVED from the corpus side: delete-then-dedupAgainst must
    // equal rebuild-without-deleted. The upper half of the corpus
    // ([200, 400)) is deleted — verified DISCRIMINATIVE: 5 batch docs
    // flip to survivors at sf0.01 and 111 at sf0.1 (docs whose only
    // dedup causes sat in the deleted band), so a no-op delete or a
    // stale fingerprint table fails the compare, at every SF.
    GraftQuery(
      "q248_dedup_index_delete",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q248_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIngestIndexFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        graft.dedup.DedupIndex.delete(idxPath,
          docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
            .select(col("doc_id")))
        val idx = graft.dedup.DedupIndex.read(s, idxPath)
        graft.dedup.DedupIndex.dedupAgainst(
          docs.filter(col("doc_id") >= 400), idx, "doc_id", "text",
          threshold = 0.9)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents
        ),
        corpus AS (SELECT * FROM d WHERE doc_id < 200),
        batch AS (SELECT * FROM d WHERE doc_id >= 400)
        SELECT b.doc_id FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = b.t)
          AND NOT EXISTS (
            SELECT 1 FROM corpus c
            WHERE CAST(len(list_intersect(b.toks, c.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(b.toks, c.toks))) >= 0.9)
        ORDER BY 1""")),

    // The TRAINING-EXPORT LIFECYCLE as one oracle row — the full
    // curation pipeline this engine exists for, composed end-to-end
    // from already-pinned stages: Gopher quality gate (q60's rules) →
    // exact dedup keep-lowest-id (q08) → deterministic KR-hash split,
    // train slice (q52) → token-count sequence packing at 2048 (q53's
    // two-level prefix scan) → round-robin shard manifest (per-shard
    // sequence/slice/token totals). Each stage's oracle CTEs chain
    // UNCHANGED, so a drift anywhere in the pipeline — a filter
    // boundary, a dedup tie-break, a split bucket, a pack offset —
    // surfaces as a manifest mismatch. Scale shape: every stage is
    // map-only or histogram-shuffled except the pack prefix (bounded
    // bucket collect) — the composition inherits each stage's 100 TB
    // contract, and the manifest is #shards rows.
    GraftQuery(
      "q249_training_export",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val filtered = graft.text.QualityFilter.withQualityFilter(
          docs, "text",
          graft.text.QualityFilter.gopherRules(col("text"),
            minWords = 30, maxWords = 90))
          .filter(col("keep"))
          .select(docs.columns.map(col): _*)
        val deduped = graft.dedup.Dedup.exactDedup(
          filtered, "text", "doc_id")
        val train = graft.operators.Splits.withSplit(
          deduped, "doc_id",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = "v1")
          .filter(col("split") === "train")
        val withToks = train.select(col("doc_id"),
          graft.text.TextStats.tokenCount(col("text"))
            .cast("long").as("n_tok"))
        val packed = graft.operators.Packing.packSequences(
          withToks, "doc_id", "doc_id", "n_tok",
          seqLen = 2048, bucketWidth = 64)
        packed
          .groupBy(pmod(col("seq_id"), lit(8)).as("shard"))
          .agg(countDistinct(col("seq_id")).as("n_seqs"),
            count(lit(1)).as("n_slices"),
            sum(col("n_tok")).as("tok_total"))
          .orderBy(col("shard"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
        qs AS (
          SELECT doc_id, text, ts, text IS NULL AS tn, len(ts) AS wc,
            CAST(len(text) - (len(ts) - 1) AS DOUBLE) / len(ts) AS ml,
            CAST(len(list_filter(ts, t -> list_contains(
              ['the','a','an','and','or','of','to','in','is','are','was',
               'it','that','this','for','on','with','as','at','by'], t)))
              AS DOUBLE) / len(ts) AS sr
          FROM d),
        keepers AS (
          SELECT doc_id, text, ts FROM qs
          WHERE NOT tn AND wc >= 30 AND wc <= 90
            AND ml >= 3.0e0 AND ml <= 10.0e0 AND sr >= 0.06e0),
        dd AS (
          SELECT doc_id, ts FROM (
            SELECT doc_id, ts, ROW_NUMBER() OVER (
              PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
              ORDER BY doc_id) AS rn
            FROM keepers) WHERE rn = 1),
        sk AS (
          SELECT doc_id, ts, CAST(doc_id AS VARCHAR) || ':v1' AS k FROM dd),
        sh AS (
          SELECT doc_id, ts,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(k) + 1),
                i -> CAST(ord(substr(k, i, 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647) AS hh
          FROM sk),
        train AS (
          SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM sh
          WHERE ((hh * hh) % 2147483647) % 10000 < 8000 AND len(ts) > 0),
        c AS (
          SELECT doc_id, n,
            CAST(SUM(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS start
          FROM train),
        sp AS (
          SELECT doc_id, n, start,
            unnest(range(start // 2048, (start + n - 1) // 2048 + 1)) AS seq_id
          FROM c),
        slices AS (
          SELECT seq_id, doc_id,
            least((seq_id + 1) * 2048, start + n)
              - greatest(seq_id * 2048, start) AS n_tok
          FROM sp)
        SELECT CAST(seq_id % 8 AS BIGINT) AS shard,
          CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
          CAST(COUNT(*) AS BIGINT) AS n_slices,
          CAST(SUM(n_tok) AS BIGINT) AS tok_total
        FROM slices GROUP BY 1 ORDER BY 1""")),

    // LSH parameter planning (dedup/LshPlan): the (bands, rowsPerBand)
    // choice for a target Jaccard threshold, derived — not hand-tuned —
    // from the banding S-curve p(s) = 1 − (1 − s^r)^b by minimizing
    // the quantized false-positive + false-negative error integrals
    // (100-interval midpoint rule, every power a LINEAR multiplication
    // fold — never libm pow — each term ⌊err·2^30⌋, totals exact
    // longs). DuckDB replays the whole computation: the same midpoints,
    // the same multiplication folds, the same quantization, the same
    // min-total / ties-to-more-bands pick. At 100 TB this is the plan
    // step that decides whether the bucket join floods with false
    // candidates or silently misses near-dups.
    GraftQuery(
      "q250_lsh_plan",
      (s, dir) => {
        import s.implicits._
        val cands = graft.dedup.LshPlan.candidates(64, 0.8)
        val (pb, _) = graft.dedup.LshPlan.plan(64, 0.8)
        cands.map(c => (c.bands.toLong, c.rowsPerBand.toLong,
          c.fpQ, c.fnQ, c.totalQ, c.bands == pb))
          .toDF("bands", "rows_per_band", "fp_q", "fn_q", "total_q",
            "chosen")
          .orderBy(col("bands"))
      },
      Some("""
        WITH ks AS (SELECT unnest(range(0, 100)) AS k),
        bs AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS b),
        terms AS (
          SELECT bs.b, 64 // bs.b AS r, ks.k,
            CAST(2 * ks.k + 1 AS DOUBLE) / 200.0e0 AS s
          FROM bs, ks),
        probs AS (
          SELECT b, r, s,
            1.0e0 - list_reduce(list_transform(range(1, b + 1), i ->
              1.0e0 - list_reduce(list_transform(range(1, r + 1), j -> s),
                (x, y) -> x * y)),
              (x, y) -> x * y) AS p
          FROM terms),
        q AS (
          SELECT b, r,
            CAST(SUM(CASE WHEN s < 0.8e0 THEN
              CAST(floor(p * 1073741824e0 / 100.0e0) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS fp_q,
            CAST(SUM(CASE WHEN s >= 0.8e0 THEN
              CAST(floor((1.0e0 - p) * 1073741824e0 / 100.0e0) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS fn_q
          FROM probs GROUP BY 1, 2),
        fin AS (
          SELECT CAST(b AS BIGINT) AS bands,
            CAST(r AS BIGINT) AS rows_per_band,
            fp_q, fn_q, fp_q + fn_q AS total_q
          FROM q),
        m AS (SELECT MIN(total_q) AS mt FROM fin),
        sel AS (SELECT MAX(bands) AS mb FROM fin, m WHERE total_q = mt)
        SELECT bands, rows_per_band, fp_q, fn_q, total_q,
          (fin.bands = sel.mb) AS chosen
        FROM fin, m, sel ORDER BY bands""")),

    // Dedup-index OPERATIONAL STATS (dedup/DedupIndex.stats) — the
    // readout a maintenance scheduler reads before deciding to
    // compact: segments a query currently unions, tombstones pending
    // physical purge, live (tombstone-excluded) row counts of the
    // served tables. The fixture exercises the full maintenance
    // state — base (< 400) + one appended segment ([400, 450)) + a
    // 100-id tombstone batch ([0, 100)) — and DuckDB recomputes every
    // count from the raw corpus slices: exact is per-corpus-id rows,
    // sets excludes shingle-less docs, both exclude the tombstoned
    // band.
    GraftQuery(
      "q251_dedup_index_stats",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q251_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIngestIndexFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        graft.dedup.DedupIndex.appendSegment(s, idxPath,
          docs.filter(col("doc_id") >= 400 && col("doc_id") < 450),
          "doc_id", "text")
        graft.dedup.DedupIndex.delete(idxPath,
          docs.filter(col("doc_id") < 100).select(col("doc_id")))
        graft.dedup.DedupIndex.stats(s, idxPath).orderBy(col("stat"))
      },
      Some("""
        WITH live AS (
          SELECT doc_id, list_distinct(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents WHERE doc_id >= 100 AND doc_id < 450)
        SELECT stat, value FROM (
          SELECT 'exact_rows' AS stat,
            CAST(COUNT(*) AS BIGINT) AS value FROM live
          UNION ALL SELECT 'segments_pending', CAST(1 AS BIGINT)
          UNION ALL SELECT 'sets_rows', CAST((
            SELECT COUNT(*) FROM live WHERE len(toks) > 0) AS BIGINT)
          UNION ALL SELECT 'tombstones_pending', CAST(100 AS BIGINT))
        ORDER BY stat""")),

    // Dedup-index TARGETED PURGE + re-licensing lifecycle
    // (dedup/DedupIndex.purge) — the batch-friendly half of the
    // takedown/re-license story q248 starts: appendSegment's fence
    // refuses re-ingesting a tombstoned id, and before purge() the
    // only unlock was a full compact (every-segment merge + bucket
    // re-collect shuffle) for a one-document event. The lifecycle run
    // here: delete [200,400) → fence provably refuses a [200,300)
    // re-ingest → purge EXACTLY [200,300) (filter-only rewrite of the
    // two id-carrying tables, bucket lists untouched, [300,400) stays
    // tombstoned) → append [200,300) as a re-licensed segment →
    // serve. Served corpus must equal a rebuild over doc_id < 300 —
    // discriminative three ways against <200 (q248's state: purge
    // dropped rows it shouldn't have / append failed) and <400 (the
    // [300,400) tombstones stopped masking).
    GraftQuery(
      "q252_dedup_index_purge",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q252_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIngestIndexFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        val relicensed = docs
          .filter(col("doc_id") >= 200 && col("doc_id") < 300)
        graft.dedup.DedupIndex.delete(idxPath,
          docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
            .select(col("doc_id")))
        // the fence must hold BEFORE the purge — driver-visible proof
        // the purge is load-bearing, not a no-op on an open index
        val fenced =
          try {
            graft.dedup.DedupIndex.appendSegment(
              s, idxPath, relicensed, "doc_id", "text")
            false
          } catch { case _: IllegalArgumentException => true }
        require(fenced,
          "q252: appendSegment accepted tombstoned ids without a purge")
        graft.dedup.DedupIndex.purge(s, idxPath,
          relicensed.select(col("doc_id")))
        graft.dedup.DedupIndex.appendSegment(
          s, idxPath, relicensed, "doc_id", "text")
        val idx = graft.dedup.DedupIndex.read(s, idxPath)
        graft.dedup.DedupIndex.dedupAgainst(
          docs.filter(col("doc_id") >= 400), idx, "doc_id", "text",
          threshold = 0.9)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
            list_distinct(string_split(
              regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents
        ),
        corpus AS (SELECT * FROM d WHERE doc_id < 300),
        batch AS (SELECT * FROM d WHERE doc_id >= 400)
        SELECT b.doc_id FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = b.t)
          AND NOT EXISTS (
            SELECT 1 FROM corpus c
            WHERE CAST(len(list_intersect(b.toks, c.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(b.toks, c.toks))) >= 0.9)
        ORDER BY 1""")),

    // IVF index OPERATIONAL STATS (sim/Similarity.ivfStats) — q251's
    // ANN twin, and the readout that makes the retrain decision
    // (q245's compactIvfIndexWithRetrain) measurable: per-cell
    // histogram extremes over the SERVED union (zero-filled over the
    // centroid table so dead cells count), segment/base split, and
    // the exact-integer skew ratio ⌊100·max·nCells/total⌋ — the
    // hottest cell as a percentage of the balanced mean. Fixture:
    // q232's pristine base (vec_id < 300, 16 deterministic centroids)
    // plus one appended LSM segment ([300, 350) via appendIvfSegment,
    // the batch-mode twin of the streaming ingest sink). DuckDB
    // replays the centroid assignment (q228's cosine/tie-break
    // contract) and recomputes every count and the integer skew from
    // the raw embeddings.
    GraftQuery(
      "q253_ivf_stats",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q253_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(idxPath))
        graft.sim.Similarity.appendIvfSegment(s, idxPath,
          emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding")
        graft.sim.Similarity.ivfStats(s, idxPath, "vec_id", "embedding")
          .orderBy(col("stat"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 350),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        agg AS (
          SELECT MAX(n) AS mx, MIN(n) AS mn,
            CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ec,
            CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM hist),
        br AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM embeddings
               WHERE vec_id < 300),
        sr AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM embeddings
               WHERE vec_id >= 300 AND vec_id < 350)
        SELECT stat, value FROM (
          SELECT 'base_rows' AS stat, br.v AS value FROM br
          UNION ALL SELECT 'deleted_since_retrain', CAST(0 AS BIGINT)
          UNION ALL SELECT 'empty_cells', ec FROM agg
          UNION ALL SELECT 'max_cell_rows', mx FROM agg
          UNION ALL SELECT 'min_cell_rows', mn FROM agg
          UNION ALL SELECT 'n_cells', k FROM agg
          UNION ALL SELECT 'segment_rows', sr.v FROM sr
          UNION ALL SELECT 'segments_pending', CAST(1 AS BIGINT)
          UNION ALL SELECT 'skew_x100', (100 * mx * k) // tot FROM agg)
        ORDER BY stat""")),

    // PLANNED near-duplicates (dedup/Dedup.nearDuplicatesPlanned) —
    // the LSH planner wired in as the default entry: the caller
    // states (threshold, recall bound) and LshPlan.planRecallBounded
    // derives the banding; at (64 hashes, t = 0.9, maxMiss = 1e-6) it
    // derives exactly the (16, 4) family q14 hand-tunes, so the
    // planned path must reproduce q14's full exhaustive-closure
    // oracle. Discriminative against planner regressions: a looser
    // pick (8 bands) misses ~1% of the 9k true pairs at sf0.01 and
    // the compare fails; a tighter one (32 bands) changes no answer
    // but costs candidates — the fp-minimal rule keeps 16.
    GraftQuery(
      "q254_planned_near_dup",
      (s, dir) =>
        graft.dedup.Dedup.nearDuplicatesPlanned(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text",
          threshold = 0.9, shingleSize = 1, numHashes = 64)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH t AS (SELECT doc_id,
          list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents WHERE doc_id < 500)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        FROM t a, t b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        ORDER BY 1, 2""")),

    // RECALL-BOUNDED LSH planning (dedup/LshPlan.planRecallBounded) —
    // the selection rule q254's pipeline runs on, fully replayed:
    // for every divisor pair of 64 hashes at t = 0.9, the quantized
    // FP mass (q250's midpoint integrals), the quantized per-pair
    // miss probability at the threshold ⌊(1−t^r)^b · 2^30⌋ (linear
    // multiplication folds only — never pow), the eligibility test
    // miss ≤ 1e-6, and the pick: minimal FP mass among eligible,
    // ties to more bands. DuckDB recomputes all of it — same folds,
    // same quantization, same tie-break.
    GraftQuery(
      "q255_lsh_plan_recall",
      (s, dir) => {
        import s.implicits._
        val t9 = 0.9
        val cands = graft.dedup.LshPlan.candidates(64, t9)
        val (pb, _) = graft.dedup.LshPlan.planRecallBounded(64, t9)
        val scale = (1L << 30).toDouble
        cands.map { c =>
          val miss = graft.dedup.LshPlan.missAtThreshold(
            c.bands, c.rowsPerBand, t9)
          (c.bands.toLong, c.rowsPerBand.toLong, c.fpQ,
            math.floor(miss * scale).toLong, miss <= 1e-6, c.bands == pb)
        }.toDF("bands", "rows_per_band", "fp_q", "miss_q", "eligible",
          "chosen")
          .orderBy(col("bands"))
      },
      Some("""
        WITH ks AS (SELECT unnest(range(0, 100)) AS k),
        bs AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS b),
        terms AS (
          SELECT bs.b, 64 // bs.b AS r, ks.k,
            CAST(2 * ks.k + 1 AS DOUBLE) / 200.0e0 AS s
          FROM bs, ks),
        probs AS (
          SELECT b, r, s,
            1.0e0 - list_reduce(list_transform(range(1, b + 1), i ->
              1.0e0 - list_reduce(list_transform(range(1, r + 1), j -> s),
                (x, y) -> x * y)),
              (x, y) -> x * y) AS p
          FROM terms),
        q AS (
          SELECT b, r,
            CAST(SUM(CASE WHEN s < 0.9e0 THEN
              CAST(floor(p * 1073741824e0 / 100.0e0) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS fp_q
          FROM probs GROUP BY 1, 2),
        m AS (
          SELECT b, r,
            list_reduce(list_transform(range(1, b + 1), i ->
              1.0e0 - list_reduce(list_transform(range(1, r + 1),
                j -> 0.9e0), (x, y) -> x * y)),
              (x, y) -> x * y) AS miss
          FROM (SELECT DISTINCT b, r FROM terms)),
        fin AS (
          SELECT CAST(q.b AS BIGINT) AS bands,
            CAST(q.r AS BIGINT) AS rows_per_band, q.fp_q,
            CAST(floor(m.miss * 1073741824e0) AS BIGINT) AS miss_q,
            m.miss <= 1.0e-6 AS eligible
          FROM q JOIN m ON q.b = m.b),
        sel AS (
          SELECT MAX(bands) AS mb FROM fin
          WHERE eligible AND fp_q = (
            SELECT MIN(fp_q) FROM fin WHERE eligible))
        SELECT bands, rows_per_band, fp_q, miss_q, eligible,
          (fin.bands = sel.mb) AS chosen
        FROM fin, sel ORDER BY bands""")),

    // Substring-index tombstone lifecycle
    // (dedup/SubstringDedup.deleteFromFingerprintIndex / purge /
    // appendToFingerprintIndex fence) — q248/q252's discipline at
    // SUBSTRING granularity, where a takedown must stop serving the
    // deleted doc's positions/snippets without re-winnowing the
    // corpus. Lifecycle run: delete [150,300) → fence provably
    // refuses re-ingesting [150,200) → purge exactly [150,200) →
    // re-append [150,200) → serve the batch (≥ 300) through
    // matchesAgainstIndex. Served matches must equal q171's oracle
    // with the corpus side restricted to doc_id < 200 — the df cap
    // (50) provably never binds on this corpus (measured max df 13 at
    // every SF), so stored-capped-minus-deleted ≡
    // rebuild-without-deleted and the closure oracle is exact.
    // Discriminative three ways: <150 (purge dropped too much /
    // append failed) and <300 ([200,300) tombstones stopped masking).
    GraftQuery(
      "q256_substring_index_delete",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
        val base = java.nio.file.Files
          .createTempDirectory("graft_q256_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(substrIndexFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        val relicensed = docs
          .filter(col("doc_id") >= 150 && col("doc_id") < 200)
        graft.dedup.SubstringDedup.deleteFromFingerprintIndex(idxPath,
          docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
            .select(col("doc_id")))
        val fenced =
          try {
            graft.dedup.SubstringDedup.appendToFingerprintIndex(
              s, idxPath, relicensed, "doc_id", "text")
            false
          } catch { case _: IllegalArgumentException => true }
        require(fenced,
          "q256: appendToFingerprintIndex accepted tombstoned ids " +
            "without a purge")
        graft.dedup.SubstringDedup.purgeFingerprintIndex(s, idxPath,
          relicensed.select(col("doc_id")))
        graft.dedup.SubstringDedup.appendToFingerprintIndex(
          s, idxPath, relicensed, "doc_id", "text")
        graft.dedup.SubstringDedup.matchesAgainstIndex(
          s, idxPath, docs.filter(col("doc_id") >= 300),
          "doc_id", "text")
          .orderBy(col("batch_id"), col("corpus_id"), col("pos_b"),
            col("pos_c"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            CASE WHEN doc_id < 300 THEN 0 ELSE 1 END AS side,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
            AND (doc_id < 200 OR doc_id >= 300)
        ),
        h AS (
          SELECT doc_id, side, t, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, side, t,
            unnest(range(1, len(t) - 16 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, side, t, p, hash,
            hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id, side, t,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, side, t, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS p
          FROM wmin WHERE wn = 16
        ),
        shortd AS (
          SELECT doc_id, side, t, hash, p FROM (
            SELECT doc_id, side, t, hash, p,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hash, p DESC) AS rn,
              COUNT(*) OVER (PARTITION BY doc_id) AS nn
            FROM h) WHERE nn < 16 AND rn = 1
        ),
        fp AS (
          SELECT doc_id, side, hash, p,
            substr(t, CAST(p AS INTEGER), 16) AS snippet
          FROM sel
          UNION ALL
          SELECT doc_id, side, hash, p, substr(t, CAST(p AS INTEGER), 16)
          FROM shortd
        ),
        rare AS (
          SELECT side, hash FROM fp GROUP BY side, hash
          HAVING COUNT(DISTINCT doc_id) <= 50
        ),
        fpc AS (SELECT fp.* FROM fp JOIN rare USING (side, hash))
        SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
               CAST(b.p - 1 AS INTEGER) AS pos_b,
               CAST(c.p - 1 AS INTEGER) AS pos_c,
               b.snippet
        FROM fpc b JOIN fpc c
          ON b.hash = c.hash AND b.snippet = c.snippet
          AND b.side = 1 AND c.side = 0
        ORDER BY batch_id, corpus_id, pos_b, pos_c""")),

    // Substring-index OPERATIONAL STATS
    // (dedup/SubstringDedup.fingerprintIndexStats) — the q251/q253
    // readout for the third index family: segments a read unions,
    // tombstones pending physical purge, live (tombstone-excluded)
    // fingerprint rows and distinct documents. Fixture: base (< 300)
    // + one appended segment ([300, 350)) + a tombstone batch
    // ([0, 100)); DuckDB recomputes the live counts by replaying the
    // winnowing chain over exactly the live docs (cap never binds:
    // measured max df 13 ≤ 50 at every SF).
    GraftQuery(
      "q257_substring_index_stats",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
        val base = java.nio.file.Files
          .createTempDirectory("graft_q257_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(substrIndexFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        graft.dedup.SubstringDedup.appendToFingerprintIndex(s, idxPath,
          docs.filter(col("doc_id") >= 300 && col("doc_id") < 350),
          "doc_id", "text")
        graft.dedup.SubstringDedup.deleteFromFingerprintIndex(idxPath,
          docs.filter(col("doc_id") < 100).select(col("doc_id")))
        graft.dedup.SubstringDedup.fingerprintIndexStats(s, idxPath)
          .orderBy(col("stat"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
            AND doc_id >= 100 AND doc_id < 350
        ),
        h AS (
          SELECT doc_id, t, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t,
            unnest(range(1, len(t) - 16 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, t, p, hash,
            hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS p
          FROM wmin WHERE wn = 16
        ),
        shortd AS (
          SELECT doc_id, hash, p FROM (
            SELECT doc_id, hash, p,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hash, p DESC) AS rn,
              COUNT(*) OVER (PARTITION BY doc_id) AS nn
            FROM h) WHERE nn < 16 AND rn = 1
        ),
        fp AS (
          SELECT doc_id, hash, p FROM sel
          UNION ALL SELECT doc_id, hash, p FROM shortd
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS rows_,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_
          FROM fp)
        SELECT stat, value FROM (
          SELECT 'distinct_docs' AS stat, docs_ AS value FROM agg
          UNION ALL SELECT 'fingerprint_rows', rows_ FROM agg
          UNION ALL SELECT 'segments_pending', CAST(1 AS BIGINT)
          UNION ALL SELECT 'tombstones_pending', CAST((
            SELECT COUNT(*) FROM documents
            WHERE NOT regexp_matches(text, '[^ -~]') AND doc_id < 100)
            AS BIGINT))
        ORDER BY stat""")),

    // IVF deleted-mass journal (sim/Similarity.removeFromIvfIndex →
    // ivfStats.deleted_since_retrain) — the erasure-side staleness
    // signal the round-13 verdict asked ivfStats to carry: centroids
    // were fit to a corpus that included the deleted vectors, so
    // accumulated deletions lopside day-0 cells exactly like drifted
    // appends, and the retrain decision needs BOTH numbers. Two
    // surgical removals (vec_id % 9 == 0, then % 7 == 3 — the second
    // overlaps the first, and the journal must count only rows
    // ACTUALLY deleted, not requested) accumulate in the journal;
    // every other stat reflects the survivor corpus. DuckDB replays
    // the assignment over the survivors and both deletion counts.
    GraftQuery(
      "q258_ivf_deleted_mass",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q258_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(idxPath))
        graft.sim.Similarity.removeFromIvfIndex(s, idxPath,
          emb.filter(pmod(col("vec_id"), lit(9)) === 0)
            .select(col("vec_id")), "vec_id")
        graft.sim.Similarity.removeFromIvfIndex(s, idxPath,
          emb.filter(pmod(col("vec_id"), lit(7)) === 3)
            .select(col("vec_id")), "vec_id")
        graft.sim.Similarity.ivfStats(s, idxPath, "vec_id", "embedding")
          .orderBy(col("stat"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 300
                AND vec_id % 9 <> 0 AND vec_id % 7 <> 3),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        agg AS (
          SELECT MAX(n) AS mx, MIN(n) AS mn,
            CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ec,
            CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM hist),
        delmass AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS v FROM embeddings
          WHERE vec_id < 300
            AND (vec_id % 9 = 0 OR vec_id % 7 = 3))
        SELECT stat, value FROM (
          SELECT 'base_rows' AS stat, tot AS value FROM agg
          UNION ALL SELECT 'deleted_since_retrain', v FROM delmass
          UNION ALL SELECT 'empty_cells', ec FROM agg
          UNION ALL SELECT 'max_cell_rows', mx FROM agg
          UNION ALL SELECT 'min_cell_rows', mn FROM agg
          UNION ALL SELECT 'n_cells', k FROM agg
          UNION ALL SELECT 'segment_rows', CAST(0 AS BIGINT)
          UNION ALL SELECT 'segments_pending', CAST(0 AS BIGINT)
          UNION ALL SELECT 'skew_x100', (100 * mx * k) // tot FROM agg)
        ORDER BY stat""")),

    // IVF MAINTENANCE ADVICE (sim/Similarity.ivfMaintenanceAdvice) —
    // the round-14 readouts promoted to a DECISION: q253's stats +
    // q258's deleted-mass journal fold into a retrain/compact/none
    // verdict with every triggering number attached, so a scheduler
    // acts on the measurement instead of an operator eyeballing
    // skew_x100. Lifecycle: copy the pristine base (vec_id < 300),
    // delete vec_id % 11 == 5 (27 erasures journaled), append one
    // segment [300, 350) — then advise with thresholds that make the
    // deleted-mass, segment-rows and segments rules all fire (retrain
    // outranks compact) while the skew rule's firing is data-derived.
    // DuckDB replays the surviving-row assignment (q258's machinery),
    // the integer skew, every observed/bound pair and the precedence
    // fold — the verdict is recomputed, not trusted.
    GraftQuery(
      "q259_ivf_maintenance_advice",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q259_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(idxPath))
        graft.sim.Similarity.removeFromIvfIndex(s, idxPath,
          emb.filter(pmod(col("vec_id"), lit(11)) === 5)
            .select(col("vec_id")), "vec_id")
        graft.sim.Similarity.appendIvfSegment(s, idxPath,
          emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding")
        graft.sim.Similarity.ivfMaintenanceAdvice(
          s, idxPath, "vec_id", "embedding",
          graft.sim.Similarity.IvfAdviceThresholds(
            maxSegments = 0, maxSegmentRowsPct = 10,
            maxSkewX100 = 400, maxDeletedPct = 5))
          .orderBy(col("rule"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 350
                AND NOT (vec_id < 300 AND vec_id % 11 = 5)),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        agg AS (
          SELECT MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM hist),
        del AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM embeddings
                WHERE vec_id < 300 AND vec_id % 11 = 5),
        segr AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM embeddings
                 WHERE vec_id >= 300 AND vec_id < 350),
        vals AS (
          SELECT del.v AS dm, segr.v AS sr, agg.tot AS live,
            (100 * agg.mx * agg.k) // agg.tot AS skew
          FROM del, segr, agg),
        rules AS (
          SELECT 'deleted_mass' AS rule, 100 * dm AS observed,
            5 * live AS bound, 'retrain' AS kind FROM vals
          UNION ALL SELECT 'segment_rows', 100 * sr, 10 * live,
            'compact' FROM vals
          UNION ALL SELECT 'segments', CAST(1 AS BIGINT),
            CAST(0 AS BIGINT), 'compact' FROM vals
          UNION ALL SELECT 'skew', skew, CAST(400 AS BIGINT),
            'retrain' FROM vals),
        verdict AS (
          SELECT CASE
            WHEN SUM(CASE WHEN observed > bound AND kind = 'retrain'
                     THEN 1 ELSE 0 END) > 0 THEN 'retrain'
            WHEN SUM(CASE WHEN observed > bound THEN 1 ELSE 0 END) > 0
              THEN 'compact'
            ELSE 'none' END AS advice
          FROM rules)
        SELECT r.rule, CAST(r.observed AS BIGINT) AS observed,
          CAST(r.bound AS BIGINT) AS bound,
          r.observed > r.bound AS fired, v.advice
        FROM rules r, verdict v ORDER BY rule""")),

    // Dedup-index maintenance advice (dedup/DedupIndex
    // .maintenanceAdvice) — q259's twin for the MinHash index: q251's
    // stats fold into compact/none. Lifecycle: copy the pristine
    // docs<400 index, tombstone [200, 260) (60 pending takedowns),
    // append one segment [400, 450) — both rules fire at
    // (maxSegments = 0, maxTombstonePct = 10): 1 segment > 0, and
    // 6000 tombstone-mass > 10 x live rows (400 - 60 + 50 = 390 at
    // every SF). DuckDB recomputes observed/bound/fired and the fold
    // from raw document counts.
    GraftQuery(
      "q260_dedup_maintenance_advice",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q260_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIngestIndexFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        graft.dedup.DedupIndex.delete(idxPath,
          docs.filter(col("doc_id") >= 200 && col("doc_id") < 260)
            .select(col("doc_id")))
        graft.dedup.DedupIndex.appendSegment(s, idxPath,
          docs.filter(col("doc_id") >= 400 && col("doc_id") < 450),
          "doc_id", "text")
        graft.dedup.DedupIndex.maintenanceAdvice(s, idxPath,
          graft.dedup.DedupIndex.AdviceThresholds(
            maxSegments = 0, maxTombstonePct = 10))
          .orderBy(col("rule"))
      },
      Some("""
        WITH cnts AS (
          SELECT
            CAST(COUNT(CASE WHEN doc_id < 400 THEN 1 END) AS BIGINT)
              AS base,
            CAST(COUNT(CASE WHEN doc_id >= 200 AND doc_id < 260
                 THEN 1 END) AS BIGINT) AS tomb,
            CAST(COUNT(CASE WHEN doc_id >= 400 AND doc_id < 450
                 THEN 1 END) AS BIGINT) AS seg
          FROM documents),
        vals AS (SELECT tomb, base - tomb + seg AS live FROM cnts),
        rules AS (
          SELECT 'segments' AS rule, CAST(1 AS BIGINT) AS observed,
            CAST(0 AS BIGINT) AS bound FROM vals
          UNION ALL SELECT 'tombstone_mass', 100 * tomb, 10 * live
          FROM vals),
        verdict AS (
          SELECT CASE WHEN SUM(CASE WHEN observed > bound THEN 1
                          ELSE 0 END) > 0 THEN 'compact'
                 ELSE 'none' END AS advice
          FROM rules)
        SELECT r.rule, CAST(r.observed AS BIGINT) AS observed,
          CAST(r.bound AS BIGINT) AS bound,
          r.observed > r.bound AS fired, v.advice
        FROM rules r, verdict v ORDER BY rule""")),

    // PLANNED sign-LSH embedding near-duplicates (sim/Similarity
    // .embeddingNearDuplicatesPlanned) — the LSH planner extended to
    // the cosine collision map (per-bit 1 - acos(s)/pi): the caller
    // states (threshold, plane budget, miss bound) and
    // LshPlan.planRecallBoundedCosine derives (bands, bitsPerBand) =
    // (24, 2) at (48 planes, t = 0.35, maxMiss = 1e-4) — per-pair
    // miss 1.2e-5 at the threshold, tighter above it, so the planned
    // sub-quadratic path must reproduce q24's exact quadratic closure
    // on the same slice. Discriminative against planner regressions
    // that loosen recall (e.g. (12, 4) misses ~16% of pairs AT the
    // threshold and the compare fails).
    GraftQuery(
      "q261_planned_embedding_neardup",
      (s, dir) =>
        graft.sim.Similarity.embeddingNearDuplicatesPlanned(
          t(s, dir, "embeddings").filter(col("vec_id") < 300)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", threshold = 0.35,
          numBits = 48, maxMiss = 1e-4)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 300),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_reduce(list_transform(a.v, (x,i) -> x * b.v[i]), (x,y) -> x + y)
                / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x,y) -> x + y))
                   * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x,y) -> x + y))) AS cosine
              FROM s a JOIN s b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM p
        WHERE cosine >= 0.35
        ORDER BY id_a, id_b""")),

    // RECALL-BOUNDED sign-LSH planning table (dedup/LshPlan
    // .planRecallBoundedCosine) — q255's cosine twin, fully replayed:
    // for every divisor pair of 48 planes at cosine t = 0.35, the
    // quantized FP mass over 100 midpoints of [-1, 1] (anti-correlated
    // mass is priced), the quantized per-pair miss at the threshold,
    // eligibility miss <= 1e-4, and the pick (minimal FP among
    // eligible, ties to more bands). The per-bit collision probability
    // 1 - acos(s)/pi is quantized to 2^-20 BEFORE any fold, so both
    // engines do IEEE arithmetic on identical dyadic rationals —
    // DuckDB recomputes everything with the same folds, quantization
    // and tie-break.
    GraftQuery(
      "q262_cosine_plan_table",
      (s, dir) => {
        import s.implicits._
        val t35 = 0.35
        val cands = graft.dedup.LshPlan.cosineCandidates(48, t35)
        val (pb, _) =
          graft.dedup.LshPlan.planRecallBoundedCosine(48, t35, 1e-4)
        val scale = (1L << 30).toDouble
        cands.map { c =>
          val miss = graft.dedup.LshPlan.missAtThresholdCosine(
            c.bands, c.rowsPerBand, t35)
          (c.bands.toLong, c.rowsPerBand.toLong, c.fpQ,
            math.floor(miss * scale).toLong, miss <= 1e-4, c.bands == pb)
        }.toDF("bands", "bits_per_band", "fp_q", "miss_q", "eligible",
          "chosen")
          .orderBy(col("bands"))
      },
      Some("""
        WITH ks AS (SELECT unnest(range(0, 100)) AS k),
        bs AS (SELECT unnest([1, 2, 3, 4, 6, 8, 12, 16, 24, 48]) AS b),
        terms AS (
          SELECT bs.b, 48 // bs.b AS r, ks.k,
            CAST(2 * ks.k + 1 AS DOUBLE) / 100.0e0 - 1.0e0 AS s
          FROM bs, ks),
        pb AS (
          SELECT b, r, s,
            floor((1.0e0 - acos(s) / pi()) * 1048576e0) / 1048576e0
              AS pbit
          FROM terms),
        probs AS (
          SELECT b, r, s,
            1.0e0 - list_reduce(list_transform(range(1, b + 1), i ->
              1.0e0 - list_reduce(list_transform(range(1, r + 1),
                j -> pbit), (x, y) -> x * y)),
              (x, y) -> x * y) AS p
          FROM pb),
        q AS (
          SELECT b, r,
            CAST(SUM(CASE WHEN s < 0.35e0 THEN
              CAST(floor(p * 1073741824e0 / 100.0e0) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS fp_q
          FROM probs GROUP BY 1, 2),
        m AS (
          SELECT b, r,
            list_reduce(list_transform(range(1, b + 1), i ->
              1.0e0 - list_reduce(list_transform(range(1, r + 1),
                j -> floor((1.0e0 - acos(0.35e0) / pi()) * 1048576e0)
                       / 1048576e0), (x, y) -> x * y)),
              (x, y) -> x * y) AS miss
          FROM (SELECT DISTINCT b, r FROM terms)),
        fin AS (
          SELECT CAST(q.b AS BIGINT) AS bands,
            CAST(q.r AS BIGINT) AS bits_per_band, q.fp_q,
            CAST(floor(m.miss * 1073741824e0) AS BIGINT) AS miss_q,
            m.miss <= 1.0e-4 AS eligible
          FROM q JOIN m ON q.b = m.b),
        sel AS (
          SELECT MAX(bands) AS mb FROM fin
          WHERE eligible AND fp_q = (
            SELECT MIN(fp_q) FROM fin WHERE eligible))
        SELECT bands, bits_per_band, fp_q, miss_q, eligible,
          (fin.bands = sel.mb) AS chosen
        FROM fin, sel ORDER BY bands""")),

    // Streaming ingest into the SUBSTRING-fingerprint index
    // (streaming/Streaming.substringIngestSink) — the third index
    // family joins the streaming world (q227 = dedup docs, q232 = ANN
    // vectors, this = positional winnowing): ASCII docs [200, 300)
    // stream in two micro-batches onto a pristine docs<200 base, each
    // landing as a batchId-named replay-safe segment winnowed with the
    // STORED parameters; the grown index then serves the q171 batch
    // (docs >= 300) through matchesAgainstIndex. Winnowing is
    // order-free and the df cap (50, max observed df 13 at every SF)
    // never binds, so streamed-segmented ≡ monolithic corpus<300 and
    // q171's exact closure oracle applies verbatim.
    GraftQuery(
      "q263_substring_stream_ingest",
      (s, dir) => withShufflePartitions(s, 8) {
        val staged = stagedSubstrBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q263_").toString
        val indexPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineSubstrStreamBaseFor(s, dir)),
          java.nio.file.Paths.get(indexPath))
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        graft.streaming.Streaming.substringIngestSink(
          stream, indexPath, s"$base/ckpt", "doc_id", "text")
          .awaitTermination()
        val out = graft.dedup.SubstringDedup.matchesAgainstIndex(
          s, indexPath,
          t(s, dir, "documents")
            .filter(!col("text").rlike("[^ -~]"))
            .filter(col("doc_id") >= 300),
          "doc_id", "text")
          .orderBy(col("batch_id"), col("corpus_id"), col("pos_b"),
            col("pos_c"))
          .localCheckpoint(true) // outlive the ckpt cleanup below
        deleteTree(java.nio.file.Paths.get(s"$base/ckpt"))
        out
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            CASE WHEN doc_id < 300 THEN 0 ELSE 1 END AS side,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
        ),
        h AS (
          SELECT doc_id, side, t, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, side, t,
            unnest(range(1, len(t) - 16 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, side, t, p, hash,
            hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id, side, t,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, side, t, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS p
          FROM wmin WHERE wn = 16
        ),
        shortd AS (
          SELECT doc_id, side, t, hash, p FROM (
            SELECT doc_id, side, t, hash, p,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hash, p DESC) AS rn,
              COUNT(*) OVER (PARTITION BY doc_id) AS nn
            FROM h) WHERE nn < 16 AND rn = 1
        ),
        fp AS (
          SELECT doc_id, side, hash, p,
            substr(t, CAST(p AS INTEGER), 16) AS snippet
          FROM sel
          UNION ALL
          SELECT doc_id, side, hash, p, substr(t, CAST(p AS INTEGER), 16)
          FROM shortd
        ),
        rare AS (
          SELECT side, hash FROM fp GROUP BY side, hash
          HAVING COUNT(DISTINCT doc_id) <= 50
        ),
        fpc AS (SELECT fp.* FROM fp JOIN rare USING (side, hash))
        SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
               CAST(b.p - 1 AS INTEGER) AS pos_b,
               CAST(c.p - 1 AS INTEGER) AS pos_c,
               b.snippet
        FROM fpc b JOIN fpc c
          ON b.hash = c.hash AND b.snippet = c.snippet
          AND b.side = 1 AND c.side = 0
        ORDER BY batch_id, corpus_id, pos_b, pos_c""")),

    // Substring-index maintenance advice (dedup/SubstringDedup
    // .fingerprintIndexMaintenanceAdvice) — q260's twin for the third
    // index family, completing measure→decide parity across MinHash /
    // IVF / substring. Lifecycle: copy the pristine ASCII docs<200
    // base, tombstone [100, 150), append [200, 250) as a segment —
    // both rules fire at (maxSegments = 0, maxTombstonePct = 10).
    // distinct_docs counts docs with >= 1 stored fingerprint, i.e.
    // normalized length >= k = 16 (shorter docs winnow to nothing);
    // DuckDB recomputes observed/bound/fired and the fold from the
    // raw corpus with that length rule.
    GraftQuery(
      "q264_substring_maintenance_advice",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
        val base = java.nio.file.Files
          .createTempDirectory("graft_q264_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineSubstrStreamBaseFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        graft.dedup.SubstringDedup.deleteFromFingerprintIndex(idxPath,
          docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
            .select(col("doc_id")))
        graft.dedup.SubstringDedup.appendToFingerprintIndex(s, idxPath,
          docs.filter(col("doc_id") >= 200 && col("doc_id") < 250),
          "doc_id", "text")
        graft.dedup.SubstringDedup.fingerprintIndexMaintenanceAdvice(
          s, idxPath,
          graft.dedup.DedupIndex.AdviceThresholds(
            maxSegments = 0, maxTombstonePct = 10))
          .orderBy(col("rule"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')),
        live AS (
          SELECT doc_id FROM d
          WHERE len(t) >= 16
            AND ((doc_id < 200
                  AND NOT (doc_id >= 100 AND doc_id < 150))
                 OR (doc_id >= 200 AND doc_id < 250))),
        tomb AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS v FROM d
          WHERE doc_id >= 100 AND doc_id < 150),
        dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM live),
        rules AS (
          SELECT 'segments' AS rule, CAST(1 AS BIGINT) AS observed,
            CAST(0 AS BIGINT) AS bound FROM dd
          UNION ALL SELECT 'tombstone_mass', 100 * tomb.v, 10 * dd.v
          FROM tomb, dd),
        verdict AS (
          SELECT CASE WHEN SUM(CASE WHEN observed > bound THEN 1
                          ELSE 0 END) > 0 THEN 'compact'
                 ELSE 'none' END AS advice
          FROM rules)
        SELECT r.rule, CAST(r.observed AS BIGINT) AS observed,
          CAST(r.bound AS BIGINT) AS bound,
          r.observed > r.bound AS fired, v.advice
        FROM rules r, verdict v ORDER BY rule""")),

    // IVF measure→decide→ACT (sim/Similarity.ivfAutoMaintain) — the
    // loop closed: q253 made maintenance measurable, q259 made it a
    // decision, this EXECUTES it. Fixture: pristine base (vec_id <
    // 300) + one segment [300, 350); thresholds fire only the
    // compact-side rules, autoMaintain runs the compact, and the
    // POST-ACTION stats are what DuckDB replays — a skipped or wrong
    // action leaves segments_pending/base_rows at their pre-action
    // values and fails the compare (a retrain would move the whole
    // histogram). The require on the returned action table pins the
    // audit trail driver-visibly.
    GraftQuery(
      "q265_ivf_auto_maintain",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q265_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(idxPath))
        graft.sim.Similarity.appendIvfSegment(s, idxPath,
          emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding")
        val acted = graft.sim.Similarity.ivfAutoMaintain(
          s, idxPath, "vec_id", "embedding",
          graft.sim.Similarity.IvfAdviceThresholds(
            maxSegments = 0, maxSegmentRowsPct = 100,
            maxSkewX100 = 100000, maxDeletedPct = 100))
        require(acted.select("action").head.getString(0) == "compact",
          "q265: ivfAutoMaintain did not execute the advised compact")
        graft.sim.Similarity.ivfStats(s, idxPath, "vec_id", "embedding")
          .orderBy(col("stat"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 350),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        agg AS (
          SELECT MAX(n) AS mx, MIN(n) AS mn,
            CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ec,
            CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM hist)
        SELECT stat, value FROM (
          SELECT 'base_rows' AS stat, tot AS value FROM agg
          UNION ALL SELECT 'deleted_since_retrain', CAST(0 AS BIGINT)
          UNION ALL SELECT 'empty_cells', ec FROM agg
          UNION ALL SELECT 'max_cell_rows', mx FROM agg
          UNION ALL SELECT 'min_cell_rows', mn FROM agg
          UNION ALL SELECT 'n_cells', k FROM agg
          UNION ALL SELECT 'segment_rows', CAST(0 AS BIGINT)
          UNION ALL SELECT 'segments_pending', CAST(0 AS BIGINT)
          UNION ALL SELECT 'skew_x100', (100 * mx * k) // tot FROM agg)
        ORDER BY stat""")),

    // Dedup-index measure→decide→ACT (dedup/DedupIndex.autoMaintain)
    // — q265's twin: q251's fixture state (segment [400, 450) +
    // tombstones < 100) advises compact at (maxSegments = 0,
    // maxTombstonePct = 10), autoMaintain executes it, and the
    // post-action stats replay as the fully-folded live corpus
    // [100, 450): segments and tombstones zero, exact/sets rows the
    // live counts — any skipped fold leaves a nonzero pending count
    // or a 100-row overhang and fails the compare.
    GraftQuery(
      "q266_dedup_auto_maintain",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = java.nio.file.Files
          .createTempDirectory("graft_q266_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIngestIndexFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        graft.dedup.DedupIndex.appendSegment(s, idxPath,
          docs.filter(col("doc_id") >= 400 && col("doc_id") < 450),
          "doc_id", "text")
        graft.dedup.DedupIndex.delete(idxPath,
          docs.filter(col("doc_id") < 100).select(col("doc_id")))
        val acted = graft.dedup.DedupIndex.autoMaintain(s, idxPath,
          graft.dedup.DedupIndex.AdviceThresholds(
            maxSegments = 0, maxTombstonePct = 10))
        require(acted.select("action").head.getString(0) == "compact",
          "q266: autoMaintain did not execute the advised compact")
        graft.dedup.DedupIndex.stats(s, idxPath).orderBy(col("stat"))
      },
      Some("""
        WITH live AS (
          SELECT doc_id, list_distinct(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
          FROM documents WHERE doc_id >= 100 AND doc_id < 450)
        SELECT stat, value FROM (
          SELECT 'exact_rows' AS stat,
            CAST(COUNT(*) AS BIGINT) AS value FROM live
          UNION ALL SELECT 'segments_pending', CAST(0 AS BIGINT)
          UNION ALL SELECT 'sets_rows', CAST((
            SELECT COUNT(*) FROM live WHERE len(toks) > 0) AS BIGINT)
          UNION ALL SELECT 'tombstones_pending', CAST(0 AS BIGINT))
        ORDER BY stat""")),

    // Substring-index measure→decide→ACT (dedup/SubstringDedup
    // .autoMaintainFingerprintIndex) — the actuator the third family
    // was owed (q265 = IVF, q266 = MinHash dedup): q264's fixture
    // state (tombstones [100,150) + one segment [200,250)) advises
    // compact at (maxSegments = 0, maxTombstonePct = 10), the auto
    // operator EXECUTES it, and DuckDB replays the POST-action stats
    // from the raw corpus — the full winnowing of the live docs plus
    // the global df re-cap the compact applies. A skipped compact
    // leaves segments_pending/tombstones_pending nonzero and the
    // tombstoned docs' fingerprints in the count; both fail the
    // compare.
    GraftQuery(
      "q267_substring_auto_maintain",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
        val base = java.nio.file.Files
          .createTempDirectory("graft_q267_").toString
        val idxPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineSubstrStreamBaseFor(s, dir)),
          java.nio.file.Paths.get(idxPath))
        graft.dedup.SubstringDedup.deleteFromFingerprintIndex(idxPath,
          docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
            .select(col("doc_id")))
        graft.dedup.SubstringDedup.appendToFingerprintIndex(s, idxPath,
          docs.filter(col("doc_id") >= 200 && col("doc_id") < 250),
          "doc_id", "text")
        val acted = graft.dedup.SubstringDedup
          .autoMaintainFingerprintIndex(s, idxPath,
            graft.dedup.DedupIndex.AdviceThresholds(
              maxSegments = 0, maxTombstonePct = 10))
        require(acted.select("action").head.getString(0) == "compact",
          "q267: autoMaintainFingerprintIndex did not execute the " +
            "advised compact")
        graft.dedup.SubstringDedup.fingerprintIndexStats(s, idxPath)
          .orderBy(col("stat"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE NOT regexp_matches(text, '[^ -~]')
            AND ((doc_id < 200
                  AND NOT (doc_id >= 100 AND doc_id < 150))
                 OR (doc_id >= 200 AND doc_id < 250))
        ),
        h AS (
          SELECT doc_id, t, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t,
            unnest(range(1, len(t) - 16 + 2)) AS p FROM d)
        ),
        keyed AS (
          SELECT doc_id, t, p, hash,
            hash * 2147483648 + (2147483648 - p) AS key FROM h
        ),
        wmin AS (
          SELECT doc_id,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM keyed
        ),
        sel AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS p
          FROM wmin WHERE wn = 16
        ),
        shortd AS (
          SELECT doc_id, hash, p FROM (
            SELECT doc_id, hash, p,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hash, p DESC) AS rn,
              COUNT(*) OVER (PARTITION BY doc_id) AS nn
            FROM h) WHERE nn < 16 AND rn = 1
        ),
        fp0 AS (
          SELECT doc_id, hash, p FROM sel
          UNION ALL SELECT doc_id, hash, p FROM shortd
        ),
        fp AS (
          SELECT * FROM fp0 WHERE hash IN (
            SELECT hash FROM fp0 GROUP BY hash
            HAVING COUNT(DISTINCT doc_id) <= 50)
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS rows_,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_
          FROM fp)
        SELECT stat, value FROM (
          SELECT 'distinct_docs' AS stat, docs_ AS value FROM agg
          UNION ALL SELECT 'fingerprint_rows', rows_ FROM agg
          UNION ALL SELECT 'segments_pending', CAST(0 AS BIGINT)
          UNION ALL SELECT 'tombstones_pending', CAST(0 AS BIGINT))
        ORDER BY stat""")),

    // Streaming ingest with IN-LOOP auto-maintenance (streaming/
    // Streaming.ivfIngestSink, maintainEvery = 2) — the last open
    // seam in the index lifecycle closed: q232's four staged vector
    // batches stream in, and every 2nd batch boundary runs
    // ivfAutoMaintain INSIDE foreachBatch (single-writer by
    // construction) at thresholds where only the segments rule fires.
    // No out-of-band call ever happens. The in-loop fold EXCLUDES the
    // current batch's segment — its stream offsets are not yet
    // committed, and folding it would make a replayed batch's
    // re-landed segment serve twice (the replay-idempotency contract)
    // — so the honest post-stream state is every PRIOR batch folded
    // into the base and exactly the final in-flight batch's segment
    // pending: segments_pending = 1, segment_rows = |batch 3| (staged
    // as vec_id >= 300 with vec_id % 4 = 3), the full corpus in the
    // served histogram. A sink that skipped the maintenance leaves 4
    // segments; one that folded the in-flight batch leaves 0 — both
    // fail the compare.
    GraftQuery(
      "q268_stream_ingest_auto_maintain",
      (s, dir) => withShufflePartitions(s, 8) {
        val emb = t(s, dir, "embeddings")
        val staged = stagedVectorBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q268_").toString
        val indexPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(indexPath))
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        graft.streaming.Streaming.ivfIngestSink(
          stream, indexPath, s"$base/ckpt", "vec_id", "embedding",
          maintainEvery = Some(2),
          maintainThresholds = graft.sim.Similarity.IvfAdviceThresholds(
            maxSegments = 0, maxSegmentRowsPct = 1000000,
            maxSkewX100 = 1000000, maxDeletedPct = 1000000))
          .awaitTermination()
        val out = graft.sim.Similarity
          .ivfStats(s, indexPath, "vec_id", "embedding")
          .orderBy(col("stat"))
          .localCheckpoint(true) // outlive the ckpt cleanup below
        deleteTree(java.nio.file.Paths.get(s"$base/ckpt"))
        out
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        agg AS (
          SELECT MAX(n) AS mx, MIN(n) AS mn,
            CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ec,
            CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM hist),
        seg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS segrows FROM embeddings
          WHERE vec_id >= 300 AND vec_id % 4 = 3)
        SELECT stat, value FROM (
          SELECT 'base_rows' AS stat, tot - segrows AS value
            FROM agg, seg
          UNION ALL SELECT 'deleted_since_retrain', CAST(0 AS BIGINT)
          UNION ALL SELECT 'empty_cells', ec FROM agg
          UNION ALL SELECT 'max_cell_rows', mx FROM agg
          UNION ALL SELECT 'min_cell_rows', mn FROM agg
          UNION ALL SELECT 'n_cells', k FROM agg
          UNION ALL SELECT 'segment_rows', segrows FROM seg
          UNION ALL SELECT 'segments_pending', CAST(1 AS BIGINT)
          UNION ALL SELECT 'skew_x100', (100 * mx * k) // tot FROM agg)
        ORDER BY stat""")),

    // IVF probe PLANNER (sim/Similarity.ivfProbePlanTable/ivfProbePlan)
    // — the query-side decision the maintenance family left hand-tuned:
    // nProbe was a magic number; this derives, from the stored cell
    // histogram alone, the conservative mass-coverage recall bound per
    // candidate nProbe (worst = the nProbe SMALLEST cells' mass — the
    // floor any probed set clears under the corpus-mass neighbor
    // model) and the optimistic ceiling (largest cells), in exact ppm
    // integer arithmetic, plus the argmin pick at target 0.9. DuckDB
    // recomputes the assignment, the zero-filled histogram, both
    // cumulative curves with the same (rows, cell) tie order, the
    // floor divisions and the pick. Read-only: runs directly on the
    // shared pristine tree (no copy, no mutation).
    GraftQuery(
      "q269_ivf_probe_plan",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idxPath = pristineIvfIngestFor(s, dir, emb)
        val picked = graft.sim.Similarity.ivfProbePlan(
          s, idxPath, "vec_id", "embedding", targetRecallPpm = 900000L)
        graft.sim.Similarity
          .ivfProbePlanTable(s, idxPath, "vec_id", "embedding")
          .withColumn("picked", col("n_probe") === lit(picked))
          .orderBy(col("n_probe"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 300),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist),
        a_c AS (SELECT
            CAST(ROW_NUMBER() OVER (ORDER BY n, cell) AS INTEGER) AS i,
            CAST(SUM(n) OVER (ORDER BY n, cell
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM hist),
        d_c AS (SELECT
            CAST(ROW_NUMBER() OVER (ORDER BY n DESC, cell) AS INTEGER) AS i,
            CAST(SUM(n) OVER (ORDER BY n DESC, cell
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM hist),
        plan AS (SELECT a.i AS n_probe, a.cum AS worst_rows,
            d.cum AS best_rows, t.total AS total_rows,
            CAST((1000000 * a.cum) // t.total AS BIGINT) AS worst_mass_ppm,
            CAST((1000000 * d.cum) // t.total AS BIGINT) AS best_mass_ppm
          FROM a_c a JOIN d_c d USING (i), tot t),
        pick AS (SELECT MIN(n_probe) AS p FROM plan
                 WHERE worst_mass_ppm >= 900000)
        SELECT n_probe, worst_rows, best_rows, total_rows,
          worst_mass_ppm, best_mass_ppm, n_probe = p AS picked
        FROM plan, pick ORDER BY n_probe""")),

    // Planner WIRED INTO SERVING (sim/Similarity.ivfTopKPlanned) —
    // q269 derives the decision, this serves through it: the caller
    // states k and a recall target, the minimal nProbe meeting the
    // conservative mass bound derives from the stored histogram, and
    // the top-k runs through the partition-pruned probe path at that
    // count. DuckDB replays the WHOLE composition — assignment,
    // histogram, cumulative curve, argmin pick, then q66's probe
    // machinery with `rn <= pick` — so a planner regression that
    // derives a different nProbe changes the probed cells and fails
    // the compare.
    GraftQuery(
      "q270_ivf_topk_planned",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idxPath = pristineIvfIngestFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfTopKPlanned(
          s, idxPath, "vec_id", "embedding", queries, k = 10,
          targetRecallPpm = 900000L)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 300),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist),
        a_c AS (SELECT
            CAST(ROW_NUMBER() OVER (ORDER BY n, cell) AS INTEGER) AS i,
            CAST(SUM(n) OVER (ORDER BY n, cell
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM hist),
        pick AS (SELECT MIN(i) AS p FROM a_c, tot
                 WHERE (1000000 * cum) // total >= 900000),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c) WHERE rn <= (SELECT p FROM pick)),
        sc AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q
          JOIN probes USING (query_id)
          JOIN assign ON assign.cell = probes.cell
          JOIN e ON e.vec_id = assign.vec_id)
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
          FROM sc)
        WHERE rn <= 10
        ORDER BY query_id, score DESC, vec_id""")),

    // MEASURED recall audit (sim/Similarity.ivfMeasuredRecall) — the
    // empirical half the planner family needs: q269/q270 derive and
    // serve from the histogram MODEL; this measures ground truth on a
    // query sample by running the probed top-k AND the brute-force
    // top-k over the same served corpus and counting the overlap, in
    // exact integers. At nProbe = 2 the probed set misses real
    // neighbors for some sample queries, so the measurement is
    // non-trivial and any ranking/probe regression moves a hits
    // count. DuckDB replays both rankings (probe path = q66/q232's
    // machinery, brute force = q12's), the per-query intersection,
    // and the ppm floor division.
    GraftQuery(
      "q271_ivf_measured_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idxPath = pristineIvfIngestFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfMeasuredRecall(
          s, idxPath, "vec_id", "embedding", queries, k = 10, nProbe = 2)
          .orderBy(col("query_id"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 300),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c) WHERE rn <= 2),
        allsc AS (
          SELECT q.query_id, e.vec_id, e.v,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q, e),
        ap AS (
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
              ROW_NUMBER() OVER (PARTITION BY s.query_id
                ORDER BY s.score DESC, s.vec_id) AS rn
            FROM allsc s
            JOIN assign a ON a.vec_id = s.vec_id
            JOIN probes p ON p.query_id = s.query_id
                         AND p.cell = a.cell)
          WHERE rn <= 10),
        ex AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, vec_id) AS rn
            FROM allsc)
          WHERE rn <= 10),
        h AS (
          SELECT ap.query_id, CAST(COUNT(*) AS BIGINT) AS hits
          FROM ap JOIN ex ON ap.query_id = ex.query_id
                         AND ap.vec_id = ex.vec_id
          GROUP BY ap.query_id)
        SELECT q.query_id,
          COALESCE(h.hits, 0) AS hits,
          CAST(10 AS BIGINT) AS k,
          (1000000 * COALESCE(h.hits, 0)) // 10 AS recall_ppm
        FROM q LEFT JOIN h USING (query_id)
        ORDER BY q.query_id""")),

    // AUDITED maintenance advice (sim/Similarity
    // .ivfMaintenanceAdviceAudited) — q271's measurement wired into
    // q259's verdict: the four stats rules see index SHAPE only, so at
    // thresholds none of them can fire (all lax by construction here)
    // the stats-only advice is `none` — yet the EMPIRICAL audit at the
    // serving probe count (nProbe = 1, k = 10, the vec_id < 5 sample)
    // measures mean recall well under the 0.9 target on this corpus,
    // the fifth rule `recall_deficit` (observed = target − ⌊Σppm/n⌋,
    // bound = 0) fires, and the verdict provably FLIPS to retrain on
    // evidence only the audit can see. DuckDB recomputes both top-k
    // rankings, the per-query intersection, the exact integer mean,
    // every observed/bound pair and the precedence fold. Read-only on
    // the shared pristine tree.
    GraftQuery(
      "q272_ivf_advice_audited",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idxPath = pristineIvfIngestFor(s, dir, emb)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        graft.sim.Similarity.ivfMaintenanceAdviceAudited(
          s, idxPath, "vec_id", "embedding",
          queries, auditK = 10, auditNProbe = 1,
          targetRecallPpm = 900000L,
          thresholds = graft.sim.Similarity.IvfAdviceThresholds(
            maxSegments = 1000, maxSegmentRowsPct = 1000000,
            maxSkewX100 = 1000000, maxDeletedPct = 1000000))
          .orderBy(col("rule"))
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 300),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        agg AS (
          SELECT MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM hist),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c) WHERE rn <= 1),
        allsc AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q, e),
        ap AS (
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
              ROW_NUMBER() OVER (PARTITION BY s.query_id
                ORDER BY s.score DESC, s.vec_id) AS rn
            FROM allsc s
            JOIN assign a ON a.vec_id = s.vec_id
            JOIN probes p ON p.query_id = s.query_id
                         AND p.cell = a.cell)
          WHERE rn <= 10),
        ex AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, vec_id) AS rn
            FROM allsc)
          WHERE rn <= 10),
        h AS (
          SELECT ap.query_id, CAST(COUNT(*) AS BIGINT) AS hits
          FROM ap JOIN ex ON ap.query_id = ex.query_id
                         AND ap.vec_id = ex.vec_id
          GROUP BY ap.query_id),
        mr AS (
          SELECT CAST(SUM((1000000 * COALESCE(h.hits, 0)) // 10)
                      // COUNT(*) AS BIGINT) AS mean_ppm
          FROM q LEFT JOIN h USING (query_id)),
        vals AS (
          SELECT agg.tot AS live,
            (100 * agg.mx * agg.k) // agg.tot AS skew, mr.mean_ppm
          FROM agg, mr),
        rules AS (
          SELECT 'deleted_mass' AS rule, CAST(0 AS BIGINT) AS observed,
            1000000 * live AS bound, 'retrain' AS kind FROM vals
          UNION ALL SELECT 'recall_deficit', 900000 - mean_ppm,
            CAST(0 AS BIGINT), 'retrain' FROM vals
          UNION ALL SELECT 'segment_rows', CAST(0 AS BIGINT),
            1000000 * live, 'compact' FROM vals
          UNION ALL SELECT 'segments', CAST(0 AS BIGINT),
            CAST(1000 AS BIGINT), 'compact' FROM vals
          UNION ALL SELECT 'skew', skew, CAST(1000000 AS BIGINT),
            'retrain' FROM vals),
        verdict AS (
          SELECT CASE
            WHEN SUM(CASE WHEN observed > bound AND kind = 'retrain'
                     THEN 1 ELSE 0 END) > 0 THEN 'retrain'
            WHEN SUM(CASE WHEN observed > bound THEN 1 ELSE 0 END) > 0
              THEN 'compact'
            ELSE 'none' END AS advice
          FROM rules)
        SELECT r.rule, CAST(r.observed AS BIGINT) AS observed,
          CAST(r.bound AS BIGINT) AS bound,
          r.observed > r.bound AS fired, v.advice
        FROM rules r, verdict v ORDER BY rule""")),

    // The COMPOSED end-to-end ANN lifecycle as ONE driver-checked
    // entry (the q249 treatment for the similarity family): stream
    // q232's four vector batches into a persistent IVF index with
    // IN-LOOP maintenance (maintainEvery = 2 — batch 0 folds at the
    // batch-1 boundary, batches 1+2 fold at the batch-3 boundary,
    // batch 3's own segment stays pending per the replay-idempotency
    // contract), derive the generation-keyed probe plan for a 0.9
    // recall target from the served histogram (ivfPlanHandle), serve
    // the vec_id < 5 sample through ivfTopKWithHandle at the planned
    // count (asserted fresh — zero re-planning), and AUDIT the plan
    // with ivfMeasuredRecall at the same count. Output: one row per
    // sample query with the audited hits/recall and the derived
    // n_probe. DuckDB replays the WHOLE closed loop from the raw
    // corpus: full-corpus assignment, zero-filled histogram, the
    // worst-mass cumulative curve and argmin pick, both rankings at
    // that pick, the intersection and the ppm floors.
    GraftQuery(
      "q273_ann_lifecycle",
      (s, dir) => withShufflePartitions(s, 8) {
        val emb = t(s, dir, "embeddings")
        val staged = stagedVectorBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q273_").toString
        val indexPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(indexPath))
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        graft.streaming.Streaming.ivfIngestSink(
          stream, indexPath, s"$base/ckpt", "vec_id", "embedding",
          maintainEvery = Some(2),
          maintainThresholds = graft.sim.Similarity.IvfAdviceThresholds(
            maxSegments = 0, maxSegmentRowsPct = 1000000,
            maxSkewX100 = 1000000, maxDeletedPct = 1000000))
          .awaitTermination()
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        // plan once against the committed generation, serve through
        // the handle (must come back fresh: nothing moved since), then
        // audit the same probe count empirically
        val handle = graft.sim.Similarity.ivfPlanHandle(
          s, indexPath, "vec_id", "embedding",
          targetRecallPpm = 900000L)
        val (served, topk) = graft.sim.Similarity.ivfTopKWithHandle(
          s, indexPath, "vec_id", "embedding", queries, k = 10, handle,
          replanOnStale = false)
        require(served == handle,
          "q273: the plan handle went stale inside a single-writer " +
            "serve window")
        require(topk.count() == 10L * queries.size,
          "q273: handle-served top-k returned a wrong row count")
        val out = graft.sim.Similarity.ivfMeasuredRecall(
            s, indexPath, "vec_id", "embedding", queries, k = 10,
            nProbe = handle.nProbe)
          .withColumn("n_probe", lit(handle.nProbe))
          .orderBy(col("query_id"))
          .localCheckpoint(true) // outlive the ckpt cleanup below
        deleteTree(java.nio.file.Paths.get(s"$base/ckpt"))
        out
      },
      Some("""
        WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 16),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM e, c) WHERE rn = 1),
        hist AS (
          SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist),
        a_c AS (SELECT
            CAST(ROW_NUMBER() OVER (ORDER BY n, cell) AS INTEGER) AS i,
            CAST(SUM(n) OVER (ORDER BY n, cell
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM hist),
        pick AS (SELECT CAST(MIN(i) AS INTEGER) AS np FROM a_c, tot
                 WHERE (1000000 * cum) // total >= 900000),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c.cell) AS rn
            FROM q, c), pick WHERE rn <= pick.np),
        allsc AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q, e),
        ap AS (
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
              ROW_NUMBER() OVER (PARTITION BY s.query_id
                ORDER BY s.score DESC, s.vec_id) AS rn
            FROM allsc s
            JOIN assign a ON a.vec_id = s.vec_id
            JOIN probes p ON p.query_id = s.query_id
                         AND p.cell = a.cell)
          WHERE rn <= 10),
        ex AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, vec_id) AS rn
            FROM allsc)
          WHERE rn <= 10),
        h AS (
          SELECT ap.query_id, CAST(COUNT(*) AS BIGINT) AS hits
          FROM ap JOIN ex ON ap.query_id = ex.query_id
                         AND ap.vec_id = ex.vec_id
          GROUP BY ap.query_id)
        SELECT q.query_id,
          COALESCE(h.hits, 0) AS hits,
          CAST(10 AS BIGINT) AS k,
          (1000000 * COALESCE(h.hits, 0)) // 10 AS recall_ppm,
          pick.np AS n_probe
        FROM q LEFT JOIN h USING (query_id), pick
        ORDER BY q.query_id""")),

    // Streaming SELF-HEALING recall: ivfIngestSink with the EMPIRICAL
    // audit in the loop (auditQueries → ivfAutoMaintainAudited at each
    // maintenance boundary). Four staged batches, maintainEvery = 4 —
    // exactly one boundary, at batchId 3, with every stats rule lax:
    // the ONLY signal that can act is measured recall on the vec_id<5
    // sample at the serving probe count (nProbe = 1) vs the 0.99
    // target. The oracle replays the DECISION ITSELF, not an assumed
    // outcome: it recomputes the audit mean over the boundary-state
    // index (day-0 centroids, all four segments served), derives the
    // deficit verdict, and CASE-selects between the retrained stats
    // (q245's two quantized Lloyd rounds fit on the corpus MINUS the
    // excluded in-flight batch-3 segment, float-rounded centroids,
    // full re-assignment — batch 3's segment re-assigned in place —
    // segments_pending = 1) and the untouched stats (day-0 assignment,
    // segments_pending = 4). A sink that skips the audit, folds the
    // in-flight segment, fits on the wrong corpus slice, or serves
    // the excluded segment under stale cells lands in the wrong
    // branch or the wrong histogram and fails the compare.
    GraftQuery(
      "q274_stream_audited_retrain",
      (s, dir) => withShufflePartitions(s, 8) {
        val emb = t(s, dir, "embeddings")
        val staged = stagedVectorBlocksFor(s, dir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_q274_").toString
        val indexPath = s"$base/index"
        copyTree(
          java.nio.file.Paths.get(pristineIvfIngestFor(s, dir, emb)),
          java.nio.file.Paths.get(indexPath))
        val audit = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .toSeq
        val stream = s.readStream
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged)
        graft.streaming.Streaming.ivfIngestSink(
          stream, indexPath, s"$base/ckpt", "vec_id", "embedding",
          maintainEvery = Some(4),
          maintainThresholds = graft.sim.Similarity.IvfAdviceThresholds(
            maxSegments = 1000, maxSegmentRowsPct = 1000000,
            maxSkewX100 = 1000000, maxDeletedPct = 1000000),
          retrainIters = 2,
          auditQueries = audit, auditK = 10, auditNProbe = 1,
          auditTargetPpm = 990000L)
          .awaitTermination()
        val out = graft.sim.Similarity
          .ivfStats(s, indexPath, "vec_id", "embedding")
          .orderBy(col("stat"))
          .localCheckpoint(true) // outlive the ckpt cleanup below
        deleteTree(java.nio.file.Paths.get(s"$base/ckpt"))
        out
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv
               FROM e WHERE vec_id < 16),
        -- the boundary-state audit: day-0 centroids, ALL segments
        -- served (batch 3 landed before the maintenance ran)
        assign0 AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c0.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * c0.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c0.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c0.cell) AS rn
            FROM e, c0) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c0.cell,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_reduce(list_transform(q.qv, (x,i) -> x * c0.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(c0.cv, x -> x * x), (a,b) -> a + b)))
                DESC, c0.cell) AS rn
            FROM q, c0) WHERE rn <= 1),
        allsc AS (
          SELECT q.query_id, e.vec_id,
            list_reduce(list_transform(e.v, (x,i) -> x * q.qv[i]), (a,b) -> a + b)
            / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
               * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (a,b) -> a + b))) AS score
          FROM q, e),
        ap AS (
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
              ROW_NUMBER() OVER (PARTITION BY s.query_id
                ORDER BY s.score DESC, s.vec_id) AS rn
            FROM allsc s
            JOIN assign0 a ON a.vec_id = s.vec_id
            JOIN probes p ON p.query_id = s.query_id
                         AND p.cell = a.cell)
          WHERE rn <= 10),
        ex AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, vec_id) AS rn
            FROM allsc)
          WHERE rn <= 10),
        h AS (
          SELECT ap.query_id, CAST(COUNT(*) AS BIGINT) AS hits
          FROM ap JOIN ex ON ap.query_id = ex.query_id
                         AND ap.vec_id = ex.vec_id
          GROUP BY ap.query_id),
        ver AS (
          SELECT CASE WHEN 990000 -
            CAST(SUM((1000000 * COALESCE(h.hits, 0)) // 10)
                 // COUNT(*) AS BIGINT) > 0 THEN 1 ELSE 0 END AS fired
          FROM q LEFT JOIN h USING (query_id)),
        -- the retrain branch: 2 quantized Lloyd rounds fit on the
        -- corpus MINUS the excluded in-flight batch-3 segment
        ef AS (SELECT vec_id, v FROM e
               WHERE vec_id < 300 OR vec_id % 4 <> 3),
        d1 AS (
          SELECT ef.vec_id, ef.v, c0.cell AS cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(ef.v, (x, i) -> (x - c0.cv[i]) * (x - c0.cv[i]))),
              (a, b) -> a + b) AS dist
          FROM ef, c0),
        a1 AS (
          SELECT vec_id, v, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d1),
        q1 AS (
          SELECT cid, unnest(list_transform(v, (x, i) ->
            struct_pack(pos := i, q := CAST(floor(x * 1048576e0) AS BIGINT)))) AS u
          FROM a1 WHERE rn = 1),
        c1 AS (
          SELECT cid, list((CAST(s AS DOUBLE) / 1048576e0) / n ORDER BY pos) AS c
          FROM (SELECT cid, u.pos AS pos, SUM(u.q) AS s, COUNT(*) AS n
                FROM q1 GROUP BY cid, u.pos)
          GROUP BY cid),
        d2 AS (
          SELECT ef.vec_id, ef.v, c1.cid,
            list_reduce(list_prepend(0.0e0,
              list_transform(ef.v, (x, i) -> (x - c1.c[i]) * (x - c1.c[i]))),
              (a, b) -> a + b) AS dist
          FROM ef, c1),
        a2 AS (
          SELECT vec_id, v, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d2),
        q2 AS (
          SELECT cid, unnest(list_transform(v, (x, i) ->
            struct_pack(pos := i, q := CAST(floor(x * 1048576e0) AS BIGINT)))) AS u
          FROM a2 WHERE rn = 1),
        c2 AS (
          SELECT cid, list((CAST(s AS DOUBLE) / 1048576e0) / n ORDER BY pos) AS c
          FROM (SELECT cid, u.pos AS pos, SUM(u.q) AS s, COUNT(*) AS n
                FROM q2 GROUP BY cid, u.pos)
          GROUP BY cid),
        cf AS (SELECT cid AS cell, CAST(CAST(c AS FLOAT[]) AS DOUBLE[]) AS cv
               FROM c2),
        -- full re-assignment under the retrained centroids: the
        -- committed base AND the in-place re-assigned batch-3 segment
        assignN AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, cf.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_reduce(list_transform(e.v, (x,i) -> x * cf.cv[i]), (a,b) -> a + b)
                / (sqrt(list_reduce(list_transform(e.v, x -> x * x), (a,b) -> a + b))
                   * sqrt(list_reduce(list_transform(cf.cv, x -> x * x), (a,b) -> a + b)))
                DESC, cf.cell) AS rn
            FROM e, cf) WHERE rn = 1),
        histN AS (
          SELECT cf.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM cf LEFT JOIN assignN a USING (cell) GROUP BY cf.cell),
        aggN AS (
          SELECT MAX(n) AS mx, MIN(n) AS mn,
            CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ec,
            CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM histN),
        hist0 AS (
          SELECT c0.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n
          FROM c0 LEFT JOIN assign0 a USING (cell) GROUP BY c0.cell),
        agg0 AS (
          SELECT MAX(n) AS mx, MIN(n) AS mn,
            CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ec,
            CAST(SUM(n) AS BIGINT) AS tot,
            CAST(COUNT(*) AS BIGINT) AS k
          FROM hist0),
        seg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS b3 FROM embeddings
          WHERE vec_id >= 300 AND vec_id % 4 = 3),
        segall AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS sa FROM embeddings
          WHERE vec_id >= 300),
        st_re AS (
          SELECT 'base_rows' AS stat, tot - b3 AS value FROM aggN, seg
          UNION ALL SELECT 'deleted_since_retrain', CAST(0 AS BIGINT)
          UNION ALL SELECT 'empty_cells', ec FROM aggN
          UNION ALL SELECT 'max_cell_rows', mx FROM aggN
          UNION ALL SELECT 'min_cell_rows', mn FROM aggN
          UNION ALL SELECT 'n_cells', k FROM aggN
          UNION ALL SELECT 'segment_rows', b3 FROM seg
          UNION ALL SELECT 'segments_pending', CAST(1 AS BIGINT)
          UNION ALL SELECT 'skew_x100', (100 * mx * k) // tot FROM aggN),
        st_no AS (
          SELECT 'base_rows' AS stat, tot - sa AS value FROM agg0, segall
          UNION ALL SELECT 'deleted_since_retrain', CAST(0 AS BIGINT)
          UNION ALL SELECT 'empty_cells', ec FROM agg0
          UNION ALL SELECT 'max_cell_rows', mx FROM agg0
          UNION ALL SELECT 'min_cell_rows', mn FROM agg0
          UNION ALL SELECT 'n_cells', k FROM agg0
          UNION ALL SELECT 'segment_rows', sa FROM segall
          UNION ALL SELECT 'segments_pending', CAST(4 AS BIGINT)
          UNION ALL SELECT 'skew_x100', (100 * mx * k) // tot FROM agg0)
        SELECT stat, CAST(value AS BIGINT) AS value FROM (
          SELECT st_re.* FROM st_re, ver WHERE ver.fired = 1
          UNION ALL SELECT st_no.* FROM st_no, ver WHERE ver.fired = 0)
        ORDER BY stat""")),

    // EMPIRICAL banding audit (dedup/Dedup.lshMeasuredBandingTable) —
    // the measured counterpart of q255's S-curve MODEL: for every
    // divisor banding of 16 hashes, the recall and candidate mass
    // ACTUALLY achieved on a 120-doc audit sample against
    // exact-Jaccard ground truth, plus the pick (minimal measured
    // candidate mass among bandings meeting the 0.99 recall target,
    // ties to fewer bands). Everything is replayable because the sets
    // are INTEGRAL — each token is polynomial-rolling-hashed over its
    // ASCII codes (q30's replayable hash, per token instead of per
    // window), so the affine MinHash permutations, the min-folds, the
    // band-slice agreements, and the exact Jaccards are plain
    // arithmetic DuckDB reproduces bit-exactly; the 16 (a_i, b_i)
    // splitmix64-derived permutation constants are inlined as
    // literals. Recovery = signature SLICE equality (the bucket hash
    // is pure compression — a pair is a candidate iff some band's
    // slices agree). Non-vacuous by construction: the sample holds
    // 1,276 true pairs at t = 0.8 spanning j ∈ [0.8, 1], and measured
    // recall sweeps 0.17 → 1.0 across the five bandings.
    GraftQuery(
      "q275_lsh_measured_banding",
      (s, dir) => {
        val sets = t(s, dir, "documents").filter(col("doc_id") < 120)
          .select(col("doc_id"),
            graft.dedup.Dedup.shingles(col("text"), 1).as("__toks"))
          .select(col("doc_id"), array_distinct(expr(
            "transform(filter(__toks, tk -> length(tk) > 0), " +
              "tk -> aggregate(sequence(1, length(tk)), 0L, " +
              "(a, i) -> (a * 257 + ascii(substring(tk, i, 1))) % 2147483647))"))
            .as("tids"))
        graft.dedup.Dedup.lshMeasuredBandingTable(
          sets, "doc_id", "tids", numHashes = 16, threshold = 0.8,
          targetRecallPpm = 990000L)
          .orderBy(col("bands"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            list_distinct(list_filter(
              string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
              tk -> len(tk) > 0)) AS toks
          FROM documents WHERE doc_id < 120),
        sets AS (
          SELECT doc_id, list_distinct(list_transform(toks, tk ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(tk) + 1),
                i -> CAST(ord(substr(tk, CAST(i AS INTEGER), 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647))) AS els
          FROM d WHERE len(toks) > 0),
        params AS (SELECT * FROM (VALUES
          (0, 659044146, 1612957866), (1, 380565668, 2090087112),
          (2, 433818584, 1357145151), (3, 103842048, 643291302),
          (4, 2129879006, 171765984), (5, 1854241669, 1893562719),
          (6, 1525599164, 281400962), (7, 1943903368, 1897534040),
          (8, 650530617, 1576419154), (9, 2110077752, 82485336),
          (10, 1902424747, 1168941410), (11, 1447056876, 1933329607),
          (12, 1552514512, 1091230128), (13, 1350365057, 835977313),
          (14, 1331915746, 97205500), (15, 365136701, 1902222012)) p(i, a, b)),
        sigs AS (
          SELECT doc_id, i, MIN((a * e + b) % 2147483647) AS sv
          FROM (SELECT doc_id, unnest(els) AS e FROM sets), params
          GROUP BY doc_id, i),
        sigl AS (SELECT doc_id, list(sv ORDER BY i) AS sig
                 FROM sigs GROUP BY doc_id),
        jn AS (SELECT s.doc_id, s.els, g.sig
               FROM sets s JOIN sigl g USING (doc_id)),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(len(list_intersect(a.els, b.els)) AS DOUBLE)
              / len(list_distinct(list_concat(a.els, b.els))) >= 0.8e0 AS istrue,
            a.sig AS sa, b.sig AS sb
          FROM jn a, jn b WHERE a.doc_id < b.doc_id),
        bandcfg AS (SELECT unnest([1, 2, 4, 8, 16]) AS b),
        ev AS (
          SELECT c.b AS bands, 16 // c.b AS rows_per_band, p.istrue,
            len(list_filter(range(0, c.b), k ->
              p.sa[k * (16 // c.b) + 1 : (k + 1) * (16 // c.b)] =
              p.sb[k * (16 // c.b) + 1 : (k + 1) * (16 // c.b)])) > 0 AS rec
          FROM pairs p, bandcfg c),
        agg AS (
          SELECT bands, MAX(rows_per_band) AS rows_per_band,
            CAST(SUM(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT)
              AS pairs_true,
            CAST(SUM(CASE WHEN istrue AND rec THEN 1 ELSE 0 END) AS BIGINT)
              AS pairs_recovered,
            CAST(SUM(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT)
              AS cand_pairs
          FROM ev GROUP BY bands),
        fin AS (
          SELECT bands, rows_per_band, pairs_true, pairs_recovered,
            CAST(CASE WHEN pairs_true = 0 THEN 1000000
                 ELSE (1000000 * pairs_recovered) // pairs_true END
              AS BIGINT) AS recall_ppm,
            cand_pairs
          FROM agg),
        el AS (SELECT *, recall_ppm >= 990000 AS eligible FROM fin),
        mc AS (SELECT MIN(cand_pairs) AS m FROM el WHERE eligible),
        sel AS (SELECT MIN(bands) AS mb FROM el, mc
                WHERE eligible AND cand_pairs = mc.m)
        SELECT CAST(el.bands AS BIGINT) AS bands,
          CAST(el.rows_per_band AS BIGINT) AS rows_per_band,
          pairs_true, pairs_recovered, recall_ppm, cand_pairs,
          eligible, COALESCE(el.bands = sel.mb, FALSE) AS chosen
        FROM el, sel ORDER BY bands""")),

    // EMPIRICAL sign-LSH banding audit (sim/Similarity
    // .signLshMeasuredBandingTable) -- q275's cosine twin and the
    // measured counterpart of q262's S-curve MODEL: for every divisor
    // banding of 8 hyperplanes at cosine t = 0.35, the recall and
    // candidate mass ACTUALLY achieved on the vec_id < 300 sample
    // (q261's corpus) against exact-cosine ground truth, plus the
    // pick (minimal measured candidate mass among bandings meeting
    // the 0.95 target, ties to fewer bands). Replayable because each
    // hyperplane component is the dyadic rational m/2^52 - 1 of the
    // splitmix64 mantissa -- the 8x64 integer mantissas are inlined
    // and DuckDB recomputes the sequential dot-product folds, sign
    // tests, band-slice agreements and exact cosines bit-exactly.
    // Recovery = sign-bit slice equality under the SAME seeded plane
    // family the serving pipeline hashes with (band k of an r-bit
    // banding reads planes [k*r, (k+1)*r) -- signBuckets' layout).
    // Non-vacuous: measured recall sweeps 0.01 -> 1.0 across the
    // four bandings at every SF.
    GraftQuery(
      "q276_sign_lsh_measured_banding",
      (s, dir) =>
        graft.sim.Similarity.signLshMeasuredBandingTable(
          t(s, dir, "embeddings").filter(col("vec_id") < 300)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", numBits = 8, threshold = 0.35,
          targetRecallPpm = 950000L)
          .orderBy(col("bands")),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 300),
        pm AS (SELECT i, ms FROM (VALUES
          (0, [6679422623415661, 6558851304090109,
           8840782731883338, 8722694162978825, 6577050360333382,
           4352384759967643, 142129307238655, 995414318626901,
           6580578577177194, 3302224384610536, 8785689967654536,
           7049865058845709, 6624380425419390, 3872936130155494,
           5527330214637412, 1900705605525989, 4422164815413515,
           5297689443310167, 6580981329965870, 2304574801067348,
           1765734975083745, 4941764453832847, 7550132826373329,
           1936046189225442, 1552021658632950, 8081227100632496,
           179854670004559, 2931562132891141, 3625077059250297,
           7342771194858747, 5010027627382289, 7338003282921587,
           2602311278096082, 4899745635876528, 8090897696362011,
           3460272548185086, 3062377284893772, 4770478326012745,
           6671631082479442, 5121808824036601, 489275805206697,
           334502343482367, 7296961680393408, 3873250312847523,
           7433670184629593, 8612005452366477, 2167603567222526,
           7352454197734481, 8429801104525625, 8737410804976959,
           5536118392723998, 8840608485554501, 8649732723257726,
           8847504436902932, 3455021245007044, 2792438201511251,
           8477050387303439, 2355657068611821, 1236621791733662,
           7353848573570202, 606955727357193, 911401484678174,
           2514623677288677, 6601834175083286]),
          (1, [8705532192543612, 1344814326582568,
           7563777106297206, 1975254574198268, 8814808181782609,
           8876640302159814, 926893266481977, 8622974073308090,
           6100190224896558, 141864648794353, 5546203917431097,
           3786329974510999, 5015540698028392, 1023177129731754,
           2720332041047246, 8429688228137073, 5862807231823418,
           5764768560473686, 5846089185675571, 1750846435437336,
           5346662216210599, 8314651374377297, 4830121601249671,
           7402197127040629, 3326840938441382, 23355590852127,
           1160340186327615, 1359476962150794, 3342446090998345,
           3965825284336978, 2723855622498465, 5116632090958300,
           4350101007962240, 185523067793633, 8214942414205663,
           4285692520495508, 4361208271590854, 743899521611902,
           1723506625435454, 8231545931547239, 5109365677407403,
           7619294530560884, 1002226119715701, 2496587792742319,
           5697067651608838, 6749442613669174, 1355547812843810,
           770808417341501, 137992918776503, 1470183532553495,
           7868152605138997, 4985599403819924, 5450657400142440,
           5097774664288719, 8088176012271725, 4455874483993881,
           5086490015920482, 2766989428994861, 4838676429132171,
           3621983936599284, 4075680820379350, 1282479217123109,
           2617902579108419, 2370676647601336]),
          (2, [3633801724139428, 8719764728788446,
           1791005360924819, 216518871174581, 6913284174141926,
           5384894147218490, 7318918733531680, 5163663332837019,
           3765124128469362, 4120947577472818, 2135202867614326,
           6845600578553116, 1671146182473569, 4952139086978606,
           5478498803187213, 1600306581157304, 5147330029320236,
           2815098962671294, 8847189397038129, 8104688489430778,
           2410652578688384, 2464897403586699, 6542759407820449,
           5568418722170455, 3176331628733451, 8159117944220624,
           2595779279241441, 6059136125730858, 546498223008675,
           2968580025202508, 2097994112068231, 6118595590783529,
           8315589828806531, 6055276844918613, 3853415021582355,
           849680521189844, 512378773985850, 7100010664844132,
           4029648714686902, 5136049714937163, 7589309122836670,
           5220455520067452, 5229898632284305, 2426960524677981,
           8212800050413690, 199207672640657, 11805390433032,
           8650906671043713, 2375109969261233, 7951485433835716,
           851333801714359, 6571028242236017, 1529982121799928,
           3032022116189140, 2105429294356672, 7595662560794280,
           1398144631399705, 4465885867502735, 7622526753677403,
           5854813816250894, 5596442254221593, 4795863408065271,
           8442399792037196, 380624866113014]),
          (3, [2155450427902515, 3793728690932319,
           2594948154467963, 6315308101457996, 863709384053775,
           3685724598099714, 2834918877807422, 6812628340340824,
           1725330565455137, 178488144547951, 8251804494557014,
           5579396903457208, 8304417838863732, 50533497824256,
           7258727319954504, 1401666903315904, 5393914035690912,
           6965165723154423, 3647606253477928, 8927261366882504,
           3261801796283302, 6513358966479761, 2068625614334455,
           4065556347145364, 7236576071599069, 3747718217941088,
           800794510396018, 85035144522178, 687016923315670,
           8793394672088793, 3188697056844963, 5181953319525881,
           922339961661611, 3354937555567180, 5349495237377389,
           8083316104886381, 8354624693374303, 729975150667199,
           6251856768676254, 4077924358089334, 3419351386911720,
           400455415534731, 3450245962112406, 2449449344332376,
           4936269031772400, 3908661947487261, 2668981214791243,
           1476159649203538, 4864849183953623, 6607332460685775,
           8859069522779764, 2340701009918440, 3060610256772448,
           4395921082292928, 4851572289779381, 2539730509140578,
           6259868446848674, 8526899666183511, 1083590526111360,
           2267964791813787, 8696789275690495, 6438127962253118,
           2983728077755447, 690613745027401]),
          (4, [201994293902194, 2271683632307972,
           1499886128868133, 6384732515927526, 6650632712574394,
           8993491498931905, 4662134978491850, 7162294599055939,
           6172387034844018, 7978364915530334, 4892963957737530,
           2472383172808459, 1842749218592224, 252381198906047,
           3943560090501496, 4486306371373803, 4303586368286140,
           6594876534094011, 7598234132026824, 2898065731642052,
           4018938366528238, 47735464197481, 6966926159061495,
           382541183402574, 8573291077314774, 5533353968026320,
           4763355453497256, 7891630500476302, 1959555383736806,
           6193152466215589, 8730380513498852, 6548026159048872,
           5579531488898788, 2473226110016980, 2912210859699070,
           2681379247691340, 752981222880589, 301933161017973,
           6465048338872678, 6548079647971270, 8039697869225700,
           381066153466993, 1983582429946647, 6592595555569438,
           6009542713179342, 7701732788677283, 8149373645405081,
           2372364789987248, 4801681409148326, 1586719925649302,
           2577418635310785, 2837254654927934, 45793671932056,
           1348529440960943, 1576175687054325, 3491287682729922,
           8675221422110003, 2056441164208402, 8058323938625648,
           5575504142154451, 4040540608515640, 8704045721754805,
           7867180324973642, 5757678654899951]),
          (5, [2066845703022368, 1549655663388265,
           6558810746165733, 5377720407278363, 4851216691504382,
           2383497036355123, 4976093240779019, 6091657294646823,
           8981710902321662, 5847605758178358, 506716562256788,
           2526282867046706, 4982211233540883, 8454134257064803,
           7816248519315955, 8244537844069027, 1758519372377158,
           4172820937548690, 1054140422883632, 5982352239040761,
           5334510576733804, 5103470132025302, 5637801811439191,
           2577714345804439, 6155659340294647, 6062549954710076,
           1214772932452973, 5091901617168176, 8016632839803400,
           966027682465925, 6300158115067642, 991785514045479,
           8618700051019294, 1132167172991447, 7034875327157204,
           6634724649200680, 2823013865709950, 5989561488396465,
           7705220061126782, 8201983058103307, 1950963833197294,
           5190367857877645, 2027022997905255, 4038230705603695,
           7692577901387855, 3168019799647839, 4956438971527905,
           3816382189780463, 3704530180873235, 5751706355304098,
           1037413373833921, 1454410894184612, 7141465806226898,
           1735942108378419, 870068792555765, 1152513748135441,
           6513139196620720, 3794221084467861, 5400778833748442,
           3679306834234480, 4429950060522900, 766984658458822,
           7966160907650585, 6005961112187885]),
          (6, [6721294087096489, 4341655861412108,
           1329012399191342, 7429195937688699, 8377166261151702,
           1935801971922702, 2997530920710455, 7635074360779382,
           8865822304175386, 4025352113372435, 221206266316231,
           5884264050698796, 7794155797770027, 8867077854690558,
           851242570656182, 9005905965305731, 2869913136216341,
           1563580048027682, 2467709835827757, 1928993966505327,
           8256706709149009, 2554547923122739, 7755696574927386,
           327409559086747, 766125207686481, 3274115838284087,
           4719588577948517, 7515536291338420, 7508765939993027,
           8609740045223423, 4709688372716983, 8713440956769615,
           6573234190918903, 7334591708954970, 2628496032095282,
           1633591457687684, 2898318193399793, 5184150279320251,
           1160344221499381, 8371825072103324, 3825642478541659,
           2766008168441229, 7589071750651003, 2976131068232404,
           7062023722215302, 4664750719214127, 28583315430569,
           1762785288833645, 7041544863744131, 5480631496033361,
           1469597292732180, 8129564147751306, 2103522092408560,
           5207680310009610, 8341045060714759, 2820895452417647,
           6804323780338961, 3812542072610078, 8347671198775124,
           6636546529847041, 707393552086710, 3766159671305513,
           2257680626708270, 1431178890366488]),
          (7, [5796743793722192, 5833576658163326,
           8001410527699160, 7160854076914640, 6982826835012251,
           6852134885606284, 1668772116588034, 1287493138560930,
           8068868660349169, 5076877251083380, 2106618041876146,
           6679085407783700, 3139288280911859, 1643260637242838,
           6597156799429026, 6568788331398957, 8420408797365451,
           4427289033579524, 6923753580207751, 7120984114538024,
           7928378613239261, 6954050939308203, 4497737378810495,
           2864870945850407, 2874455725606854, 3294559362767094,
           7385932791072333, 1077588029978028, 2240159478850454,
           2257758870894582, 7774597254445976, 4632012322928525,
           2407090441129515, 8030444552118865, 61988503579719,
           4154728636313117, 8683003765612810, 5797682454040198,
           1358376056055743, 1338030500327476, 1999132320244253,
           3317136086654712, 2152887502874734, 905995146427164,
           3916955689392764, 1325305097676113, 8236080599329259,
           3457572026063067, 4030399959099022, 6751438740549549,
           4570143519263822, 931496909333797, 275560839128446,
           1831180246949234, 8467854190148875, 7993275827513732,
           6437280178690230, 2908038461156520, 1427115415472318,
           2256112610818031, 4577673296547833, 5603486925459206,
           7622396005656963, 2012230958106673])) t(i, ms)),
        pl AS (SELECT i, list_transform(ms, m ->
                 CAST(m AS DOUBLE) / 4503599627370496e0 - 1.0e0) AS p
               FROM pm),
        sb AS (
          SELECT e.vec_id, pl.i,
            CASE WHEN list_reduce(list_prepend(0.0e0,
              list_transform(range(1, len(e.v) + 1), d -> e.v[d] * pl.p[d])),
              (a, b) -> a + b) >= 0e0 THEN 1 ELSE 0 END AS s
          FROM e, pl),
        sg AS (SELECT vec_id, list(s ORDER BY i) AS sig
               FROM sb GROUP BY vec_id),
        jn AS (SELECT e.vec_id, e.v, g.sig FROM e JOIN sg g USING (vec_id)),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_reduce(list_transform(a.v, (x, i) -> x * b.v[i]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
              >= 0.35e0 AS istrue,
            a.sig AS sa, b.sig AS sb
          FROM jn a, jn b WHERE a.vec_id < b.vec_id),
        bandcfg AS (SELECT unnest([1, 2, 4, 8]) AS b),
        ev AS (
          SELECT c.b AS bands, 8 // c.b AS bits_per_band, p.istrue,
            len(list_filter(range(0, c.b), k ->
              p.sa[k * (8 // c.b) + 1 : (k + 1) * (8 // c.b)] =
              p.sb[k * (8 // c.b) + 1 : (k + 1) * (8 // c.b)])) > 0 AS rec
          FROM pairs p, bandcfg c),
        agg AS (
          SELECT bands, MAX(bits_per_band) AS bits_per_band,
            CAST(SUM(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT)
              AS pairs_true,
            CAST(SUM(CASE WHEN istrue AND rec THEN 1 ELSE 0 END) AS BIGINT)
              AS pairs_recovered,
            CAST(SUM(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT)
              AS cand_pairs
          FROM ev GROUP BY bands),
        fin AS (
          SELECT bands, bits_per_band, pairs_true, pairs_recovered,
            CAST(CASE WHEN pairs_true = 0 THEN 1000000
                 ELSE (1000000 * pairs_recovered) // pairs_true END
              AS BIGINT) AS recall_ppm,
            cand_pairs
          FROM agg),
        el AS (SELECT *, recall_ppm >= 950000 AS eligible FROM fin),
        mc AS (SELECT MIN(cand_pairs) AS m FROM el WHERE eligible),
        sel AS (SELECT MIN(bands) AS mb FROM el, mc
                WHERE eligible AND cand_pairs = mc.m)
        SELECT CAST(el.bands AS BIGINT) AS bands,
          CAST(el.bits_per_band AS BIGINT) AS bits_per_band,
          pairs_true, pairs_recovered, recall_ppm, cand_pairs,
          eligible, COALESCE(el.bands = sel.mb, FALSE) AS chosen
        FROM el, sel ORDER BY bands""")),

    // EMPIRICAL winnowing (k, window) audit (dedup/SubstringDedup
    // .winnowingMeasuredConfigTable) -- the SUBSTRING family's
    // measured table, completing the audit set across all four
    // candidate-generation families (MinHash q275, sign-LSH q276,
    // IVF q271): for five candidate configs over the ASCII doc_id<80
    // sample, the recall actually achieved on pairs sharing an exact
    // 24-char normalized substring (ground truth = a 24-gram
    // EQUI-join, exact and config-independent) and the index cost
    // actually paid (selected fingerprint instances). Configs with
    // guarantee_len = k+window-1 <= 24 must read 1000000 ppm (the
    // winnowing guarantee, which the table CONFIRMS rather than
    // assumes); configs beyond it degrade measurably (sf0.01:
    // 714285 / 571428 / 285714 ppm). chosen = minimal fp_rows among
    // eligible -- (12,13) beats the denser (8,4) at equal recall.
    // DuckDB replays the full chain per config: q30's rolling-hash +
    // windowed-min arithmetic with the short-doc branch, gram truth
    // as string equality, integral ppm, and the same tie-broken pick.
    GraftQuery(
      "q277_winnowing_measured_configs",
      (s, dir) =>
        graft.dedup.SubstringDedup.winnowingMeasuredConfigTable(
          t(s, dir, "documents")
            .filter(col("doc_id") < 80 && !col("text").rlike("[^ -~]")),
          "doc_id", "text", matchLen = 24,
          configs = Seq((8, 4), (12, 13), (16, 16), (24, 8), (16, 32)),
          targetRecallPpm = 950000L)
          .orderBy(col("k"), col("window")),
      Some("""
        WITH d AS (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents
          WHERE doc_id < 80 AND NOT regexp_matches(text, '[^ -~]')),
        truth AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM (SELECT DISTINCT doc_id,
                  substr(t, CAST(p AS INTEGER), 24) AS g
                FROM (SELECT doc_id, t,
                        unnest(range(1, len(t) - 24 + 2)) AS p FROM d)) a
          JOIN (SELECT DISTINCT doc_id,
                  substr(t, CAST(p AS INTEGER), 24) AS g
                FROM (SELECT doc_id, t,
                        unnest(range(1, len(t) - 24 + 2)) AS p FROM d)) b
            ON a.g = b.g AND a.doc_id < b.doc_id),
        h_8_4 AS (
          SELECT doc_id, p,
            list_reduce(
              list_transform(range(0, 8),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS p
                FROM d)),
        wm_8_4 AS (
          SELECT doc_id, p,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
          FROM (SELECT doc_id, p, hash,
                  hash * 2147483648 + (2147483648 - p) AS key
                FROM h_8_4)),
        sel_8_4 AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS selp
          FROM wm_8_4 WHERE wn = 4
          UNION ALL
          SELECT doc_id, min(hash), 0 FROM h_8_4
          GROUP BY doc_id HAVING COUNT(*) < 4),
        cp_8_4 AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM (SELECT DISTINCT doc_id, hash FROM sel_8_4) a
          JOIN (SELECT DISTINCT doc_id, hash FROM sel_8_4) b
            ON a.hash = b.hash AND a.doc_id < b.doc_id),
        row_8_4 AS (
          SELECT CAST(8 AS BIGINT) AS k, CAST(4 AS BIGINT) AS "window",
            CAST(11 AS BIGINT) AS guarantee_len,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sel_8_4) AS fp_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS pairs_true,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
               JOIN cp_8_4 c ON t.id_a = c.id_a AND t.id_b = c.id_b)
              AS pairs_recovered,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cp_8_4) AS cand_pairs),
        h_12_13 AS (
          SELECT doc_id, p,
            list_reduce(
              list_transform(range(0, 12),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 12 + 2)) AS p
                FROM d)),
        wm_12_13 AS (
          SELECT doc_id, p,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 12 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 12 FOLLOWING) AS wn
          FROM (SELECT doc_id, p, hash,
                  hash * 2147483648 + (2147483648 - p) AS key
                FROM h_12_13)),
        sel_12_13 AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS selp
          FROM wm_12_13 WHERE wn = 13
          UNION ALL
          SELECT doc_id, min(hash), 0 FROM h_12_13
          GROUP BY doc_id HAVING COUNT(*) < 13),
        cp_12_13 AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM (SELECT DISTINCT doc_id, hash FROM sel_12_13) a
          JOIN (SELECT DISTINCT doc_id, hash FROM sel_12_13) b
            ON a.hash = b.hash AND a.doc_id < b.doc_id),
        row_12_13 AS (
          SELECT CAST(12 AS BIGINT) AS k, CAST(13 AS BIGINT) AS "window",
            CAST(24 AS BIGINT) AS guarantee_len,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sel_12_13) AS fp_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS pairs_true,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
               JOIN cp_12_13 c ON t.id_a = c.id_a AND t.id_b = c.id_b)
              AS pairs_recovered,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cp_12_13) AS cand_pairs),
        h_16_16 AS (
          SELECT doc_id, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 16 + 2)) AS p
                FROM d)),
        wm_16_16 AS (
          SELECT doc_id, p,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
          FROM (SELECT doc_id, p, hash,
                  hash * 2147483648 + (2147483648 - p) AS key
                FROM h_16_16)),
        sel_16_16 AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS selp
          FROM wm_16_16 WHERE wn = 16
          UNION ALL
          SELECT doc_id, min(hash), 0 FROM h_16_16
          GROUP BY doc_id HAVING COUNT(*) < 16),
        cp_16_16 AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM (SELECT DISTINCT doc_id, hash FROM sel_16_16) a
          JOIN (SELECT DISTINCT doc_id, hash FROM sel_16_16) b
            ON a.hash = b.hash AND a.doc_id < b.doc_id),
        row_16_16 AS (
          SELECT CAST(16 AS BIGINT) AS k, CAST(16 AS BIGINT) AS "window",
            CAST(31 AS BIGINT) AS guarantee_len,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sel_16_16) AS fp_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS pairs_true,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
               JOIN cp_16_16 c ON t.id_a = c.id_a AND t.id_b = c.id_b)
              AS pairs_recovered,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cp_16_16) AS cand_pairs),
        h_24_8 AS (
          SELECT doc_id, p,
            list_reduce(
              list_transform(range(0, 24),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 24 + 2)) AS p
                FROM d)),
        wm_24_8 AS (
          SELECT doc_id, p,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wn
          FROM (SELECT doc_id, p, hash,
                  hash * 2147483648 + (2147483648 - p) AS key
                FROM h_24_8)),
        sel_24_8 AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS selp
          FROM wm_24_8 WHERE wn = 8
          UNION ALL
          SELECT doc_id, min(hash), 0 FROM h_24_8
          GROUP BY doc_id HAVING COUNT(*) < 8),
        cp_24_8 AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM (SELECT DISTINCT doc_id, hash FROM sel_24_8) a
          JOIN (SELECT DISTINCT doc_id, hash FROM sel_24_8) b
            ON a.hash = b.hash AND a.doc_id < b.doc_id),
        row_24_8 AS (
          SELECT CAST(24 AS BIGINT) AS k, CAST(8 AS BIGINT) AS "window",
            CAST(31 AS BIGINT) AS guarantee_len,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sel_24_8) AS fp_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS pairs_true,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
               JOIN cp_24_8 c ON t.id_a = c.id_a AND t.id_b = c.id_b)
              AS pairs_recovered,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cp_24_8) AS cand_pairs),
        h_16_32 AS (
          SELECT doc_id, p,
            list_reduce(
              list_transform(range(0, 16),
                j -> CAST(ord(substr(t, CAST(p + j AS INTEGER), 1)) AS BIGINT)),
              (a, b) -> (a * 257 + b) % 2147483647) AS hash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 16 + 2)) AS p
                FROM d)),
        wm_16_32 AS (
          SELECT doc_id, p,
            MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 31 FOLLOWING) AS wkey,
            COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND 31 FOLLOWING) AS wn
          FROM (SELECT doc_id, p, hash,
                  hash * 2147483648 + (2147483648 - p) AS key
                FROM h_16_32)),
        sel_16_32 AS (
          SELECT DISTINCT doc_id, wkey // 2147483648 AS hash,
            2147483648 - (wkey % 2147483648) AS selp
          FROM wm_16_32 WHERE wn = 32
          UNION ALL
          SELECT doc_id, min(hash), 0 FROM h_16_32
          GROUP BY doc_id HAVING COUNT(*) < 32),
        cp_16_32 AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM (SELECT DISTINCT doc_id, hash FROM sel_16_32) a
          JOIN (SELECT DISTINCT doc_id, hash FROM sel_16_32) b
            ON a.hash = b.hash AND a.doc_id < b.doc_id),
        row_16_32 AS (
          SELECT CAST(16 AS BIGINT) AS k, CAST(32 AS BIGINT) AS "window",
            CAST(47 AS BIGINT) AS guarantee_len,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sel_16_32) AS fp_rows,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS pairs_true,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
               JOIN cp_16_32 c ON t.id_a = c.id_a AND t.id_b = c.id_b)
              AS pairs_recovered,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cp_16_32) AS cand_pairs),
        allr AS (
          SELECT * FROM row_8_4
          UNION ALL SELECT * FROM row_12_13
          UNION ALL SELECT * FROM row_16_16
          UNION ALL SELECT * FROM row_24_8
          UNION ALL SELECT * FROM row_16_32),
        fin AS (
          SELECT *, CAST(CASE WHEN pairs_true = 0 THEN 1000000
               ELSE (1000000 * pairs_recovered) // pairs_true END
            AS BIGINT) AS recall_ppm
          FROM allr),
        el AS (SELECT *, recall_ppm >= 950000 AS eligible FROM fin),
        mf AS (SELECT MIN(fp_rows) AS m FROM el WHERE eligible),
        sel2 AS (SELECT MIN(k * 1000000 + "window") AS mkw FROM el, mf
                 WHERE eligible AND fp_rows = mf.m)
        SELECT el.k, el."window", guarantee_len, fp_rows, pairs_true,
          pairs_recovered, recall_ppm, cand_pairs, eligible,
          COALESCE(el.k * 1000000 + el."window" = sel2.mkw, FALSE)
            AS chosen
        FROM el, sel2 ORDER BY el.k, el."window"""")),

    // The dedup family's END-TO-END measured lifecycle in ONE
    // driver-checked row (the q273 treatment): AUDIT the five divisor
    // bandings of 16 hashes on the doc_id < 120 sample (q275's
    // machinery), PICK the cheapest banding with measured recall >=
    // 0.99 -- the decision itself replays in DuckDB, not an assumed
    // (8,2) -- then SERVE the doc_id < 250 corpus through
    // nearDuplicatesBySetsMeasured at that pick and verify with exact
    // Jaccard. The oracle re-derives the pick from the raw corpus and
    // recomputes the survivors as slice-equality candidates filtered
    // at the threshold; a pipeline that audits the wrong sample,
    // ignores the measured pick, bands differently, or skips the
    // exact verify lands on a different pair set and fails the
    // compare. (Recovery via a 2^-64 xxhash64 bucket collision is the
    // one event the oracle's slice equality cannot credit --
    // deterministic per corpus and absent at every tested SF.)
    GraftQuery(
      "q278_measured_dedup_lifecycle",
      (s, dir) => {
        def sets(lim: Int) = t(s, dir, "documents")
          .filter(col("doc_id") < lim)
          .select(col("doc_id"),
            graft.dedup.Dedup.shingles(col("text"), 1).as("__toks"))
          .select(col("doc_id"), array_distinct(expr(
            "transform(filter(__toks, tk -> length(tk) > 0), " +
              "tk -> aggregate(sequence(1, length(tk)), 0L, " +
              "(a, i) -> (a * 257 + ascii(substring(tk, i, 1))) % 2147483647))"))
            .as("tids"))
        graft.dedup.Dedup.nearDuplicatesBySetsMeasured(
          sets(250), "doc_id", "tids", sample = sets(120),
          numHashes = 16, threshold = 0.8, targetRecallPpm = 990000L)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH params AS (SELECT * FROM (VALUES
          (0, 659044146, 1612957866), (1, 380565668, 2090087112),
          (2, 433818584, 1357145151), (3, 103842048, 643291302),
          (4, 2129879006, 171765984), (5, 1854241669, 1893562719),
          (6, 1525599164, 281400962), (7, 1943903368, 1897534040),
          (8, 650530617, 1576419154), (9, 2110077752, 82485336),
          (10, 1902424747, 1168941410), (11, 1447056876, 1933329607),
          (12, 1552514512, 1091230128), (13, 1350365057, 835977313),
          (14, 1331915746, 97205500), (15, 365136701, 1902222012)) p(i, a, b)),

        d_a AS (
          SELECT doc_id,
            list_distinct(list_filter(
              string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
              tk -> len(tk) > 0)) AS toks
          FROM documents WHERE doc_id < 120),
        sets_a AS (
          SELECT doc_id, list_distinct(list_transform(toks, tk ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(tk) + 1),
                i -> CAST(ord(substr(tk, CAST(i AS INTEGER), 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647))) AS els
          FROM d_a WHERE len(toks) > 0),
        sigs_a AS (
          SELECT doc_id, i, MIN((a * e + b) % 2147483647) AS sv
          FROM (SELECT doc_id, unnest(els) AS e FROM sets_a), params
          GROUP BY doc_id, i),
        jn_a AS (
          SELECT s.doc_id, s.els, g.sig
          FROM sets_a s JOIN (SELECT doc_id, list(sv ORDER BY i) AS sig
                                   FROM sigs_a GROUP BY doc_id) g USING (doc_id)),
        pairs AS (
          SELECT
            CAST(len(list_intersect(a.els, b.els)) AS DOUBLE)
              / len(list_distinct(list_concat(a.els, b.els))) >= 0.8e0 AS istrue,
            a.sig AS sa, b.sig AS sb
          FROM jn_a a, jn_a b WHERE a.doc_id < b.doc_id),
        bandcfg AS (SELECT unnest([1, 2, 4, 8, 16]) AS b),
        ev AS (
          SELECT c.b AS bands, istrue,
            len(list_filter(range(0, c.b), k ->
              sa[k * (16 // c.b) + 1 : (k + 1) * (16 // c.b)] =
              sb[k * (16 // c.b) + 1 : (k + 1) * (16 // c.b)])) > 0 AS rec
          FROM pairs, bandcfg c),
        agg AS (
          SELECT bands,
            CAST(SUM(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT) AS pt,
            CAST(SUM(CASE WHEN istrue AND rec THEN 1 ELSE 0 END) AS BIGINT) AS pr,
            CAST(SUM(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT) AS cand
          FROM ev GROUP BY bands),
        fin AS (
          SELECT bands,
            CAST(CASE WHEN pt = 0 THEN 1000000 ELSE (1000000 * pr) // pt END
              AS BIGINT) AS ppm, cand
          FROM agg),
        el AS (SELECT * FROM fin WHERE ppm >= 990000),
        mc AS (SELECT MIN(cand) AS m FROM el),
        sel AS (SELECT CAST(MIN(bands) AS BIGINT) AS mb FROM el, mc WHERE cand = mc.m),

        d_c AS (
          SELECT doc_id,
            list_distinct(list_filter(
              string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
              tk -> len(tk) > 0)) AS toks
          FROM documents WHERE doc_id < 250),
        sets_c AS (
          SELECT doc_id, list_distinct(list_transform(toks, tk ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, len(tk) + 1),
                i -> CAST(ord(substr(tk, CAST(i AS INTEGER), 1)) AS BIGINT))),
              (a, b) -> (a * 257 + b) % 2147483647))) AS els
          FROM d_c WHERE len(toks) > 0),
        sigs_c AS (
          SELECT doc_id, i, MIN((a * e + b) % 2147483647) AS sv
          FROM (SELECT doc_id, unnest(els) AS e FROM sets_c), params
          GROUP BY doc_id, i),
        jn_c AS (
          SELECT s.doc_id, s.els, g.sig
          FROM sets_c s JOIN (SELECT doc_id, list(sv ORDER BY i) AS sig
                                   FROM sigs_c GROUP BY doc_id) g USING (doc_id)),
        res AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(len(list_intersect(a.els, b.els)) AS DOUBLE)
              / len(list_distinct(list_concat(a.els, b.els))) AS jaccard,
            a.sig AS sa, b.sig AS sb
          FROM jn_c a, jn_c b WHERE a.doc_id < b.doc_id)
        SELECT id_a, id_b, jaccard
        FROM res, sel
        WHERE jaccard >= 0.8e0
          AND len(list_filter(range(0, sel.mb), k ->
            sa[k * (16 // sel.mb) + 1 : (k + 1) * (16 // sel.mb)] =
            sb[k * (16 // sel.mb) + 1 : (k + 1) * (16 // sel.mb)])) > 0
        ORDER BY 1, 2""")),

    // The COSINE family's measured lifecycle in one row (q278's twin
    // for embeddings): AUDIT the five divisor bandings of 16
    // hyperplanes on the vec_id < 300 sample (q276's machinery at
    // numBits = 16 -- the 16x64 mantissas inline), PICK the cheapest
    // banding with measured recall >= 0.95 -- (8,2) at every SF, a
    // genuinely lossy pick that recovers ~98-99% of true pairs, so
    // the oracle CANNOT shortcut to the exhaustive closure -- then
    // SERVE vec_id < 500 through embeddingNearDuplicatesMeasured at
    // that pick and verify with exact cosine. DuckDB re-derives the
    // pick and recomputes the survivors as sign-slice-equality
    // candidates filtered at the threshold: a pipeline that ignores
    // the measured decision, bands differently, or skips the exact
    // verify lands on a different pair set.
    GraftQuery(
      "q279_measured_embedding_lifecycle",
      (s, dir) =>
        graft.sim.Similarity.embeddingNearDuplicatesMeasured(
          t(s, dir, "embeddings").filter(col("vec_id") < 500)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding",
          sample = t(s, dir, "embeddings").filter(col("vec_id") < 300)
            .select(col("vec_id"), col("embedding")),
          numBits = 16, threshold = 0.35, targetRecallPpm = 950000L)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH pm AS (SELECT i, ms FROM (VALUES
          (0, [6679422623415661, 6558851304090109,
           8840782731883338, 8722694162978825, 6577050360333382,
           4352384759967643, 142129307238655, 995414318626901,
           6580578577177194, 3302224384610536, 8785689967654536,
           7049865058845709, 6624380425419390, 3872936130155494,
           5527330214637412, 1900705605525989, 4422164815413515,
           5297689443310167, 6580981329965870, 2304574801067348,
           1765734975083745, 4941764453832847, 7550132826373329,
           1936046189225442, 1552021658632950, 8081227100632496,
           179854670004559, 2931562132891141, 3625077059250297,
           7342771194858747, 5010027627382289, 7338003282921587,
           2602311278096082, 4899745635876528, 8090897696362011,
           3460272548185086, 3062377284893772, 4770478326012745,
           6671631082479442, 5121808824036601, 489275805206697,
           334502343482367, 7296961680393408, 3873250312847523,
           7433670184629593, 8612005452366477, 2167603567222526,
           7352454197734481, 8429801104525625, 8737410804976959,
           5536118392723998, 8840608485554501, 8649732723257726,
           8847504436902932, 3455021245007044, 2792438201511251,
           8477050387303439, 2355657068611821, 1236621791733662,
           7353848573570202, 606955727357193, 911401484678174,
           2514623677288677, 6601834175083286]),
          (1, [8705532192543612, 1344814326582568,
           7563777106297206, 1975254574198268, 8814808181782609,
           8876640302159814, 926893266481977, 8622974073308090,
           6100190224896558, 141864648794353, 5546203917431097,
           3786329974510999, 5015540698028392, 1023177129731754,
           2720332041047246, 8429688228137073, 5862807231823418,
           5764768560473686, 5846089185675571, 1750846435437336,
           5346662216210599, 8314651374377297, 4830121601249671,
           7402197127040629, 3326840938441382, 23355590852127,
           1160340186327615, 1359476962150794, 3342446090998345,
           3965825284336978, 2723855622498465, 5116632090958300,
           4350101007962240, 185523067793633, 8214942414205663,
           4285692520495508, 4361208271590854, 743899521611902,
           1723506625435454, 8231545931547239, 5109365677407403,
           7619294530560884, 1002226119715701, 2496587792742319,
           5697067651608838, 6749442613669174, 1355547812843810,
           770808417341501, 137992918776503, 1470183532553495,
           7868152605138997, 4985599403819924, 5450657400142440,
           5097774664288719, 8088176012271725, 4455874483993881,
           5086490015920482, 2766989428994861, 4838676429132171,
           3621983936599284, 4075680820379350, 1282479217123109,
           2617902579108419, 2370676647601336]),
          (2, [3633801724139428, 8719764728788446,
           1791005360924819, 216518871174581, 6913284174141926,
           5384894147218490, 7318918733531680, 5163663332837019,
           3765124128469362, 4120947577472818, 2135202867614326,
           6845600578553116, 1671146182473569, 4952139086978606,
           5478498803187213, 1600306581157304, 5147330029320236,
           2815098962671294, 8847189397038129, 8104688489430778,
           2410652578688384, 2464897403586699, 6542759407820449,
           5568418722170455, 3176331628733451, 8159117944220624,
           2595779279241441, 6059136125730858, 546498223008675,
           2968580025202508, 2097994112068231, 6118595590783529,
           8315589828806531, 6055276844918613, 3853415021582355,
           849680521189844, 512378773985850, 7100010664844132,
           4029648714686902, 5136049714937163, 7589309122836670,
           5220455520067452, 5229898632284305, 2426960524677981,
           8212800050413690, 199207672640657, 11805390433032,
           8650906671043713, 2375109969261233, 7951485433835716,
           851333801714359, 6571028242236017, 1529982121799928,
           3032022116189140, 2105429294356672, 7595662560794280,
           1398144631399705, 4465885867502735, 7622526753677403,
           5854813816250894, 5596442254221593, 4795863408065271,
           8442399792037196, 380624866113014]),
          (3, [2155450427902515, 3793728690932319,
           2594948154467963, 6315308101457996, 863709384053775,
           3685724598099714, 2834918877807422, 6812628340340824,
           1725330565455137, 178488144547951, 8251804494557014,
           5579396903457208, 8304417838863732, 50533497824256,
           7258727319954504, 1401666903315904, 5393914035690912,
           6965165723154423, 3647606253477928, 8927261366882504,
           3261801796283302, 6513358966479761, 2068625614334455,
           4065556347145364, 7236576071599069, 3747718217941088,
           800794510396018, 85035144522178, 687016923315670,
           8793394672088793, 3188697056844963, 5181953319525881,
           922339961661611, 3354937555567180, 5349495237377389,
           8083316104886381, 8354624693374303, 729975150667199,
           6251856768676254, 4077924358089334, 3419351386911720,
           400455415534731, 3450245962112406, 2449449344332376,
           4936269031772400, 3908661947487261, 2668981214791243,
           1476159649203538, 4864849183953623, 6607332460685775,
           8859069522779764, 2340701009918440, 3060610256772448,
           4395921082292928, 4851572289779381, 2539730509140578,
           6259868446848674, 8526899666183511, 1083590526111360,
           2267964791813787, 8696789275690495, 6438127962253118,
           2983728077755447, 690613745027401]),
          (4, [201994293902194, 2271683632307972,
           1499886128868133, 6384732515927526, 6650632712574394,
           8993491498931905, 4662134978491850, 7162294599055939,
           6172387034844018, 7978364915530334, 4892963957737530,
           2472383172808459, 1842749218592224, 252381198906047,
           3943560090501496, 4486306371373803, 4303586368286140,
           6594876534094011, 7598234132026824, 2898065731642052,
           4018938366528238, 47735464197481, 6966926159061495,
           382541183402574, 8573291077314774, 5533353968026320,
           4763355453497256, 7891630500476302, 1959555383736806,
           6193152466215589, 8730380513498852, 6548026159048872,
           5579531488898788, 2473226110016980, 2912210859699070,
           2681379247691340, 752981222880589, 301933161017973,
           6465048338872678, 6548079647971270, 8039697869225700,
           381066153466993, 1983582429946647, 6592595555569438,
           6009542713179342, 7701732788677283, 8149373645405081,
           2372364789987248, 4801681409148326, 1586719925649302,
           2577418635310785, 2837254654927934, 45793671932056,
           1348529440960943, 1576175687054325, 3491287682729922,
           8675221422110003, 2056441164208402, 8058323938625648,
           5575504142154451, 4040540608515640, 8704045721754805,
           7867180324973642, 5757678654899951]),
          (5, [2066845703022368, 1549655663388265,
           6558810746165733, 5377720407278363, 4851216691504382,
           2383497036355123, 4976093240779019, 6091657294646823,
           8981710902321662, 5847605758178358, 506716562256788,
           2526282867046706, 4982211233540883, 8454134257064803,
           7816248519315955, 8244537844069027, 1758519372377158,
           4172820937548690, 1054140422883632, 5982352239040761,
           5334510576733804, 5103470132025302, 5637801811439191,
           2577714345804439, 6155659340294647, 6062549954710076,
           1214772932452973, 5091901617168176, 8016632839803400,
           966027682465925, 6300158115067642, 991785514045479,
           8618700051019294, 1132167172991447, 7034875327157204,
           6634724649200680, 2823013865709950, 5989561488396465,
           7705220061126782, 8201983058103307, 1950963833197294,
           5190367857877645, 2027022997905255, 4038230705603695,
           7692577901387855, 3168019799647839, 4956438971527905,
           3816382189780463, 3704530180873235, 5751706355304098,
           1037413373833921, 1454410894184612, 7141465806226898,
           1735942108378419, 870068792555765, 1152513748135441,
           6513139196620720, 3794221084467861, 5400778833748442,
           3679306834234480, 4429950060522900, 766984658458822,
           7966160907650585, 6005961112187885]),
          (6, [6721294087096489, 4341655861412108,
           1329012399191342, 7429195937688699, 8377166261151702,
           1935801971922702, 2997530920710455, 7635074360779382,
           8865822304175386, 4025352113372435, 221206266316231,
           5884264050698796, 7794155797770027, 8867077854690558,
           851242570656182, 9005905965305731, 2869913136216341,
           1563580048027682, 2467709835827757, 1928993966505327,
           8256706709149009, 2554547923122739, 7755696574927386,
           327409559086747, 766125207686481, 3274115838284087,
           4719588577948517, 7515536291338420, 7508765939993027,
           8609740045223423, 4709688372716983, 8713440956769615,
           6573234190918903, 7334591708954970, 2628496032095282,
           1633591457687684, 2898318193399793, 5184150279320251,
           1160344221499381, 8371825072103324, 3825642478541659,
           2766008168441229, 7589071750651003, 2976131068232404,
           7062023722215302, 4664750719214127, 28583315430569,
           1762785288833645, 7041544863744131, 5480631496033361,
           1469597292732180, 8129564147751306, 2103522092408560,
           5207680310009610, 8341045060714759, 2820895452417647,
           6804323780338961, 3812542072610078, 8347671198775124,
           6636546529847041, 707393552086710, 3766159671305513,
           2257680626708270, 1431178890366488]),
          (7, [5796743793722192, 5833576658163326,
           8001410527699160, 7160854076914640, 6982826835012251,
           6852134885606284, 1668772116588034, 1287493138560930,
           8068868660349169, 5076877251083380, 2106618041876146,
           6679085407783700, 3139288280911859, 1643260637242838,
           6597156799429026, 6568788331398957, 8420408797365451,
           4427289033579524, 6923753580207751, 7120984114538024,
           7928378613239261, 6954050939308203, 4497737378810495,
           2864870945850407, 2874455725606854, 3294559362767094,
           7385932791072333, 1077588029978028, 2240159478850454,
           2257758870894582, 7774597254445976, 4632012322928525,
           2407090441129515, 8030444552118865, 61988503579719,
           4154728636313117, 8683003765612810, 5797682454040198,
           1358376056055743, 1338030500327476, 1999132320244253,
           3317136086654712, 2152887502874734, 905995146427164,
           3916955689392764, 1325305097676113, 8236080599329259,
           3457572026063067, 4030399959099022, 6751438740549549,
           4570143519263822, 931496909333797, 275560839128446,
           1831180246949234, 8467854190148875, 7993275827513732,
           6437280178690230, 2908038461156520, 1427115415472318,
           2256112610818031, 4577673296547833, 5603486925459206,
           7622396005656963, 2012230958106673]),
          (8, [4188299541016247, 6724967051537330,
           1039775065465430, 1320595230980852, 3671776695412548,
           1855946657346864, 2105800945427098, 5018160173468190,
           692135933536090, 6441927699428585, 4491387307222210,
           8140038913356962, 5550348992202494, 2391589602854180,
           1554940767619367, 4301501537069033, 1525974818253950,
           683764723168543, 3964850401408941, 2772854816842246,
           4972001971082210, 899705738704173, 8532959743859257,
           6696409498676295, 2033081001153156, 7818526562189942,
           4209747935885099, 8625366476427568, 6700486941507151,
           3720480447948434, 6468100057933814, 8419037904475018,
           3216133966409357, 5682406128640569, 7153016123789858,
           2261592702029507, 5985930891432351, 4771343543941122,
           100452617071864, 8151088682709875, 6504426185230877,
           3983286080330624, 1381282998080988, 6393327631997067,
           1846044911179459, 185249027310469, 6392759004176818,
           7567063277684475, 2297560493352085, 2269104403747150,
           227712627426312, 5479628461642437, 7890160537664424,
           7366741902361281, 7060368250581059, 688618748233948,
           7869935443519060, 5176943689473251, 941148395790951,
           4527510656052013, 4282202090933316, 4010179306173079,
           5322788351718771, 7344948068635688]),
          (9, [1911096917427564, 5998558972548920,
           4840803715308194, 6199996462624121, 8021687569568313,
           3375972853930072, 7272456573582230, 2060428108097420,
           8788484687896051, 3998164474352956, 1136677307399491,
           2421393289402079, 5176551786085285, 417873063916414,
           5835261022432387, 2410224765407137, 78796210875868,
           767234650332039, 5643066648511051, 6021221577787,
           8017072579225246, 2273499890125481, 6954469721324221,
           1535138813007664, 907499874248354, 4283387252248098,
           3466076847046200, 4531872049417060, 8948396919736040,
           6616051740832705, 8455088805751878, 986247488120898,
           2279281003991766, 5875954885805228, 670522034101032,
           8543321301285047, 4510465015345163, 696165739589198,
           149964435093352, 2854404624755499, 12836761711095,
           1547719028351976, 5681622905836465, 1707641458523919,
           4884853315615852, 8452314317091641, 2075482624078972,
           1981891228944722, 8851053272141303, 4340903656808482,
           746377399456032, 595573196173394, 2774562199534843,
           2337395084395362, 8556439906802974, 4452194665532681,
           3857537763466645, 3784995585296612, 7163576826315403,
           4350520431535010, 4802459524392282, 8333402901585847,
           5982464924924815, 3524931883715226]),
          (10, [102290641125516, 8765903774938732,
           7339415040545207, 2629150526217743, 6848239346838917,
           5884159083374963, 7950666292795300, 5508457365628502,
           563316961606247, 8292093560748477, 3991901170604276,
           2841124449705773, 7317758608585069, 624114556779396,
           1989460551815541, 4940839610619907, 5098498574281972,
           2526950951040079, 1538943805341856, 977046517453594,
           96898998297754, 3550971803463702, 1286635280636344,
           5759320531184962, 5001494129799174, 1877147503532548,
           900665421870265, 8578829248731312, 6640547174504455,
           640212289326532, 8285677103114226, 1844215496681988,
           8458806219389043, 2236132656791108, 4568145830003919,
           1416474296225491, 3780161196261385, 6033155688796525,
           4413459289274300, 2475897925955101, 3842439609090589,
           439184485712251, 5642094895958300, 7401324804862426,
           6276729045996841, 8719346166174944, 5641250930856196,
           4348718440740457, 1297738963511460, 2743874332575146,
           1784229217118460, 8559885241997535, 8180647752508441,
           1613073252457488, 20990966477795, 8208664151115417,
           7246467850282994, 8762506267252680, 1286834891287185,
           3941566384359220, 983332706927368, 657205832077897,
           6320505783349765, 7253985251310897]),
          (11, [5724138846012855, 6351575670564209,
           4827577805408322, 598007782279294, 7653160096430903,
           2222435775744026, 360854915398184, 1613711894366496,
           8170981411128921, 4512587992354576, 3190002998867570,
           7944354769441692, 2644143460954539, 1245990848536001,
           6178304948790250, 7798051041062098, 2945194025268974,
           8602967367032586, 4825414121839316, 7442353672164179,
           5215601726223747, 4818629511838558, 4647922892850876,
           4706097585490153, 1302988602669111, 508666688723429,
           5316915836627220, 8320200626331789, 2342705924915735,
           4112680450034031, 1114796150708005, 5645853485005390,
           6772804918220610, 4655068717346403, 1197231558270139,
           362592699481443, 830871465025670, 3808718956632375,
           6072270992116544, 1939963444141801, 7048400265856565,
           3147905706081605, 4106469051641348, 6609616321690321,
           4402453978884732, 3280161209629406, 4619678755473084,
           5096702120372221, 6929354827013313, 39651132222906,
           2437833666660872, 3376039167310365, 1209673168288966,
           8268169414968910, 64570794791855, 3692759276593983,
           727704004049017, 6653506757741133, 5596483781421840,
           550932279373495, 5221997549615757, 2399288088698284,
           3891060011801550, 1381831344474819]),
          (12, [10423396319496, 53720397948248, 7225953384823425,
           2297332191887213, 1855008094328906, 268781127708421,
           6338420254574605, 7961707582473641, 1477394222169745,
           6481152467116417, 1103562373545773, 7506154745204065,
           2203893108217839, 7065261108374710, 1282291889919966,
           3257840578667430, 2632668393904463, 5431718711506942,
           1803233695628185, 2140502802045759, 7364925704245774,
           4209040063064624, 4768438795103173, 8697949852746742,
           1279779605615627, 3520802510794012, 1102427636484673,
           82886241548081, 2933114628689151, 3042821209655215,
           8261970238475325, 3760026220128439, 2643988595119912,
           8640560557339808, 8005839326655488, 8576043499262545,
           1399182557439840, 552157815837963, 5962179016642960,
           3043319690338663, 3442969474765280, 4923307242073845,
           3103964185782607, 6459376317625774, 3856850587801693,
           106322720971263, 3650710102782423, 1572897018957771,
           4360820613029857, 7525282821342578, 65303021731906,
           52680810062559, 8779482020583227, 8700188002155964,
           2750823526163751, 492054196353895, 4358899086762635,
           360293603048373, 5902860438146343, 3123190586815549,
           5788855508857563, 8313268528031126, 4526732093553287,
           5975099891390880]),
          (13, [8826915298326959, 121838921281028,
           994772518858729, 2889257911198294, 7030312278098702,
           514682726292773, 1024048847241952, 7304588266896603,
           2020989204647639, 7406319475185566, 4291644163634625,
           3954625178126784, 8750878810727696, 6015934926873763,
           6698534081937159, 1013054675653569, 7264683975100022,
           6942996632869431, 357718802190098, 3584315010296484,
           1117773091414590, 8676640293620188, 3168802984825286,
           6336815161437248, 1087213804325016, 8810830515121173,
           3157679215439264, 3492147890164, 6257101761448918,
           6681645329115110, 6935363488577494, 2091386363094735,
           1021736753884428, 3483006316670494, 4416071255131368,
           941621192670678, 8255840318633753, 1053822478951911,
           1612638835442761, 1761928591186737, 6095653447136612,
           2738062755737440, 4994829752440749, 6617429971513381,
           7046575542636987, 7240878022635880, 985776796402025,
           8267800417249420, 4367238554935720, 2155431211458783,
           8715862973320733, 6750233673310286, 5918294469423871,
           2823173136204933, 1805182825006733, 6285096857911648,
           3836456564131895, 6029812941888639, 6323705293087296,
           6718302759663518, 4557447399784640, 1259283518506221,
           4703769221451294, 3311938526409116]),
          (14, [5802544659384628, 8787385065975287,
           800101336593442, 7775321487433501, 5685466366896846,
           4092370260181780, 2682541477165601, 8728677571934046,
           8968047117366585, 547171729734842, 2728579142673148,
           620570325343412, 4891060796505292, 7428485619447873,
           2928381195375867, 4598978338596408, 1404618729639648,
           8629707526292313, 4519737205815537, 8076607558972875,
           7389983192355161, 8385447730780645, 2303553925682527,
           3812597045174455, 4222811785099419, 4639478431777826,
           3130543714902752, 2339780826039366, 8147896593363392,
           8803749783995096, 8576099661541882, 7120421322438779,
           5075336795274942, 8961496259756143, 2056538153647862,
           8714003731766802, 8171333011300249, 6781950784608983,
           1373492310921795, 3699102382950070, 8079451998974509,
           5951077195242164, 8080541526868050, 3622731550186412,
           3012592618347801, 8563765692112921, 3694638766400986,
           8453705419989391, 7741792837707828, 6943344763194733,
           4875502901745255, 5465856705129314, 7730899930444743,
           5764587895359773, 4939161773551106, 7066554238654958,
           7069922123413415, 3644733911629157, 8093049080259054,
           5774895865431572, 348433617379337, 5545684915072467,
           5849485895522870, 1738703401723225]),
          (15, [3784935551103369, 281241544135638,
           1530306836748833, 2926340064523000, 6518012688862462,
           5832375630571294, 4261804464523946, 1321838314062283,
           942922663856372, 2281496131608662, 6238647464130619,
           1856373132615761, 7454074483618546, 2680356728473742,
           7049754111529010, 2320628856252987, 2744683000531199,
           7597726389689193, 4115074528148723, 1010809277457089,
           3033853934906276, 2532875135854539, 2844425748895446,
           4860913220769394, 7344978442699047, 8116405097088104,
           1094627571483352, 8991298685840079, 6499319738767201,
           2047937491777085, 1538287743585878, 5398337932774078,
           2223493525174536, 6711045984501309, 3328151073556396,
           3909913521901680, 1436175455012613, 5294581244857287,
           1540918907482554, 7879906259648542, 1989474918965772,
           5142359006468580, 1018017873455643, 1210830081581858,
           37241516203255, 1690587004347617, 5517427981698152,
           4105901861833711, 1260766196590158, 2043580004706964,
           8761156073542251, 1555881869964207, 3394121457416346,
           8613693103620307, 11409635274474, 7449667517509410,
           6552910214498826, 8273080298033802, 1903377896305443,
           6251087280133707, 3279667797402549, 765297233609177,
           1988615102163687, 5415357348003144])) t(i, ms)),
        pl AS (SELECT i, list_transform(ms, m ->
                 CAST(m AS DOUBLE) / 4503599627370496e0 - 1.0e0) AS p
               FROM pm),
        ea AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 300),
        sba AS (
          SELECT ea.vec_id, pl.i,
            CASE WHEN list_reduce(list_prepend(0.0e0,
              list_transform(range(1, len(ea.v) + 1), d -> ea.v[d] * pl.p[d])),
              (a, b) -> a + b) >= 0e0 THEN 1 ELSE 0 END AS s
          FROM ea, pl),
        sga AS (SELECT vec_id, list(s ORDER BY i) AS sig
                FROM sba GROUP BY vec_id),
        jna AS (SELECT ea.vec_id, ea.v, g.sig
                FROM ea JOIN sga g USING (vec_id)),
        apairs AS (
          SELECT
            list_reduce(list_transform(a.v, (x, i) -> x * b.v[i]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
              >= 0.35e0 AS istrue,
            a.sig AS sa, b.sig AS sb
          FROM jna a, jna b WHERE a.vec_id < b.vec_id),
        bandcfg AS (SELECT unnest([1, 2, 4, 8, 16]) AS b),
        ev AS (
          SELECT c.b AS bands, istrue,
            len(list_filter(range(0, c.b), k ->
              sa[k * (16 // c.b) + 1 : (k + 1) * (16 // c.b)] =
              sb[k * (16 // c.b) + 1 : (k + 1) * (16 // c.b)])) > 0 AS rec
          FROM apairs, bandcfg c),
        agg AS (
          SELECT bands,
            CAST(SUM(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT) AS pt,
            CAST(SUM(CASE WHEN istrue AND rec THEN 1 ELSE 0 END) AS BIGINT) AS pr,
            CAST(SUM(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT) AS cand
          FROM ev GROUP BY bands),
        fin AS (
          SELECT bands,
            CAST(CASE WHEN pt = 0 THEN 1000000
                 ELSE (1000000 * pr) // pt END AS BIGINT) AS ppm, cand
          FROM agg),
        el AS (SELECT * FROM fin WHERE ppm >= 950000),
        mc AS (SELECT MIN(cand) AS m FROM el),
        sel AS (SELECT CAST(MIN(bands) AS BIGINT) AS mb
                FROM el, mc WHERE cand = mc.m),
        ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 500),
        sbc AS (
          SELECT ec.vec_id, pl.i,
            CASE WHEN list_reduce(list_prepend(0.0e0,
              list_transform(range(1, len(ec.v) + 1), d -> ec.v[d] * pl.p[d])),
              (a, b) -> a + b) >= 0e0 THEN 1 ELSE 0 END AS s
          FROM ec, pl),
        sgc AS (SELECT vec_id, list(s ORDER BY i) AS sig
                FROM sbc GROUP BY vec_id),
        jnc AS (SELECT ec.vec_id, ec.v, g.sig
                FROM ec JOIN sgc g USING (vec_id)),
        res AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_reduce(list_transform(a.v, (x, i) -> x * b.v[i]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
              AS cosine,
            a.sig AS sa, b.sig AS sb
          FROM jnc a, jnc b WHERE a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine
        FROM res, sel
        WHERE cosine >= 0.35e0
          AND len(list_filter(range(0, sel.mb), k ->
            sa[k * (16 // sel.mb) + 1 : (k + 1) * (16 // sel.mb)] =
            sb[k * (16 // sel.mb) + 1 : (k + 1) * (16 // sel.mb)])) > 0
        ORDER BY 1, 2"""))
  )

  /** Per-process cache of the q148 on-disk postings index, keyed by
    * data dir — the [[dedupIndexFor]] pattern: built uncapped
    * (`minDf = 1`, no `maxDocs` — a capped index would silently miss
    * phrase hits), written to a temp parquet once, read back so the
    * query really scans the on-disk layout.
    */
  /** Per-process cache of q195's staged per-block input layout, keyed
    * by data dir — the small-file corpus the compaction rewrite reads.
    * Staging is test fixture, not the operator under measure; caching
    * it keeps the bench on plan + rewrite + readback (the output dir
    * stays fresh per run — the rewrite IS the query).
    */
  private val stagedBlocksCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedBlocksFor(s: SparkSession, dir: String): String =
    stagedBlocksCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_q195_in_").toString
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          concat(lit("b"), lpad(expr("doc_id div 25").cast("string"),
            4, "0")).as("block"))
        .repartition(col("block"))
        .write.partitionBy("block").mode("overwrite").parquet(p)
      p
    })

  /** Per-process cache of q197's block staging: 50-doc blocks over a
    * FIXED doc_id < 500 probe window — one file per block = one
    * micro-batch per block, 10 batches at every SF. Uncapped 25-doc
    * blocks meant 200 micro-batches at sf0.1: the bench measured
    * foreachBatch/commit machinery 20× over (77 s); the gate's
    * correctness is batch-count-independent, so the probe pins the
    * batch count and the bench prices ~10 commits (~7 s).
    */
  private val stagedCoarseBlocksCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedCoarseBlocksFor(s: SparkSession, dir: String): String =
    stagedCoarseBlocksCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_q197_in_").toString
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 500)
        .select(col("doc_id"), col("n_chars"),
          concat(lit("b"), lpad(expr("doc_id div 50").cast("string"),
            4, "0")).as("block"))
        .repartition(col("block"))
        .write.partitionBy("block").mode("overwrite").parquet(p)
      p
    })

  /** Per-process cache of q204's text-block staging: documents with
    * TEXT, one parquet file per 50-doc block over the fixed
    * doc_id < 500 probe (10 files = 10 micro-batches, the q197 batch
    * sizing) — q197's staging carries only counts, the streaming KMV
    * needs the text.
    */
  private val stagedTextBlocksCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedTextBlocksFor(s: SparkSession, dir: String): String =
    stagedTextBlocksCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_q204_in_").toString
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 500)
        .select(col("doc_id"), col("source"), col("text"),
          concat(lit("b"), lpad(expr("doc_id div 50").cast("string"),
            4, "0")).as("block"))
        .repartition(col("block"))
        .write.partitionBy("block").mode("overwrite").parquet(p)
      p
    })

  /** Per-process cache of q214's staged event-block layout: events in
    * 8 hash blocks so the stream delivers 8 micro-batches — the block
    * assignment deliberately IGNORES time order (pmod on event_id), so
    * the sink's any-order correctness claim is actually exercised.
    */
  private val stagedEventBlocksCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedEventBlocksFor(s: SparkSession, dir: String): String =
    stagedEventBlocksCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_q214_in_").toString
      Tables.load(s, dir, "events")
        .withColumn("block", concat(lit("b"),
          lpad(pmod(col("event_id"), lit(8)).cast("string"), 2, "0")))
        .repartition(col("block"))
        .write.partitionBy("block").mode("overwrite").parquet(p)
      p
    })

  /** Per-process cache of q201's ORC staging: lineitem rewritten once
    * as a Hive-partitioned ORC layout (partitionBy l_returnflag, one
    * shuffle) — staging is fixture; the query prices the ORC read.
    */
  private val orcStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def orcStagedFor(s: SparkSession, dir: String): String =
    orcStageCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_q201_orc_").toString
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"), col("l_linestatus"))
        .repartition(col("l_returnflag"))
        .write.partitionBy("l_returnflag").mode("overwrite").orc(p)
      p
    })

  /** Per-process cache of q202's binary staging: one ASCII .txt per
    * 50-doc block (fixed doc_id < 500 probe → 10 files) with content
    * derived from document text, plus a decoy .json the source-level
    * pathGlobFilter must exclude. Driver-side writes — 11 bounded
    * files, the TFRecord-manifest contract.
    */
  private val binaryStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def binaryFilesFor(s: SparkSession, dir: String): String =
    binaryStageCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_q202_bin_")
      val blocks = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 500)
        .groupBy(expr("doc_id div 50").as("block"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")),
          "\n").as("content"))
        .collect()
      blocks.foreach { r =>
        val name = f"b${r.getLong(0)}%04d.txt"
        java.nio.file.Files.write(p.resolve(name),
          r.getString(1).getBytes("UTF-8"))
      }
      java.nio.file.Files.write(p.resolve("manifest.json"),
        "{\"decoy\": true}".getBytes("UTF-8"))
      p.toString
    })

  private val postingsIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-process cache of the q171 substring fingerprint index, keyed
    * by data dir — corpus = ASCII docs with doc_id < 300, the q45
    * parameters (k = 16, window = 16, maxDocFreq = 50).
    */
  private val substrIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def substrIndexFor(s: SparkSession, dir: String): String =
    substrIndexCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_substr_index_").toString
      graft.dedup.SubstringDedup.writeFingerprintIndex(
        Tables.load(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
          .filter(col("doc_id") < 300),
        "doc_id", "text", p, k = 16, window = 16, maxDocFreq = 50L)
      p
    })

  /** q263's PRISTINE substring-index base (ASCII docs < 200, q171's
    * parameters) — cached once per dir, COPIED per run before the
    * stream appends segments (the q232/q227 fixture discipline).
    */
  private val pristineSubstrStreamBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def pristineSubstrStreamBaseFor(
      s: SparkSession, dir: String): String =
    pristineSubstrStreamBaseCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_q263_base_").toString
      graft.dedup.SubstringDedup.writeFingerprintIndex(
        Tables.load(s, dir, "documents")
          .filter(!col("text").rlike("[^ -~]"))
          .filter(col("doc_id") < 200),
        "doc_id", "text", p, k = 16, window = 16, maxDocFreq = 50L)
      p
    })

  /** q263's staged document blocks: ASCII docs [200, 300) as TWO
    * parquet files with pinned names/mtimes — two micro-batches.
    * Winnowing is order-free, so the pinning only fixes the
    * batch→segment mapping (the q232 staging discipline).
    */
  private val stagedSubstrBlocksCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedSubstrBlocksFor(s: SparkSession, dir: String): String =
    stagedSubstrBlocksCache.computeIfAbsent(dir, { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_q263_in_")
      val docs = Tables.load(s, dir, "documents")
        .filter(!col("text").rlike("[^ -~]"))
        .select(col("doc_id"), col("text"))
      val t0 = 1700000000000L
      for (i <- 0 until 2) {
        val lo = 200 + i * 50
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q263_blk_")
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 50)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val it = java.nio.file.Files.list(tmp).iterator()
        var part: java.nio.file.Path = null
        while (it.hasNext) {
          val q = it.next()
          if (q.toString.endsWith(".parquet")) part = q
        }
        val dst = root.resolve(f"block$i%04d.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
      }
      root.toString
    })

  /** Per-process cache of the q166 day-partitioned sketch store, keyed
    * by data dir — the [[postingsIndexFor]] pattern: built once
    * (decimals = 1, matching q119's quantization), served from disk so
    * the query really exercises partition pruning.
    */
  private val sketchStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sketchStoreFor(s: SparkSession, dir: String): String =
    sketchStoreCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_sketch_store_").toString
      graft.sketch.SketchStore.writeDaily(
        Tables.load(s, dir, "events")
          .select(col("ts"), col("event_type"), col("value")),
        "ts", "event_type", "value", p, decimals = 1)
      p
    })

  private def postingsIndexFor(s: SparkSession, dir: String): DataFrame = {
    val path = postingsIndexCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_postings_index_").toString
      graft.text.InvertedIndex.postings(
        Tables.load(s, dir, "documents"), "doc_id", "text")
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** Merge steps for q142/q143 — enough to exercise multi-character
    * merge chains on the ~31-word corpus vocabulary while keeping the
    * oracle's unrolled replay cheap.
    */
  // `final val` + literal = compile-time constant: `all` is initialized
  // ABOVE this declaration, so a runtime val would still be 0 there
  private final val BpeSteps = 6

  /** Shared oracle for q141 (direct) and q148 (index-served): both
    * paths must produce the identical phrase-match table. A `def`, not
    * a `val` — `all` initializes above, where a val would still be
    * null.
    */
  private def phraseOracleSql: String = """
        WITH d AS (
          SELECT doc_id, list_filter(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '') AS l
          FROM documents),
        toks AS (
          SELECT doc_id, l[CAST(i AS BIGINT)] AS token,
                 CAST(i AS BIGINT) AS pos
          FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM d)),
        m0 AS (SELECT doc_id, pos FROM toks WHERE token = 'value'),
        m1 AS (SELECT doc_id, pos FROM toks WHERE token = 'table'),
        m2 AS (SELECT doc_id, pos FROM toks WHERE token = 'part'),
        mm AS (
          SELECT m0.doc_id, m0.pos FROM m0
          JOIN m1 ON m1.doc_id = m0.doc_id AND m1.pos = m0.pos + 1
          JOIN m2 ON m2.doc_id = m0.doc_id AND m2.pos = m0.pos + 2)
        SELECT doc_id, COUNT(*) AS n_matches, MIN(pos) AS first_pos
        FROM mm GROUP BY doc_id ORDER BY doc_id"""

  /** DuckDB replay of [[graft.text.Bpe.learnMerges]]: `steps` unrolled
    * stages (pair explode → deterministic argmax → literal replace),
    * then `select` with `BEST` bound to the union of per-step argmax
    * rows and `FINAL` to the last rep table. Generated, not
    * hand-written, so the step count stays a single constant.
    * concat() instead of the SQL pipe-concat operator throughout —
    * oracle strings pass through stripMargin, which would eat a
    * line-leading pipe.
    */
  private def bpeOracle(steps: Int, select: String): String = {
    val base = """
        WITH toks AS (
          SELECT unnest(list_filter(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
            x -> x <> '')) AS word
          FROM documents),
        w AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY word),
        r0 AS (SELECT word, freq,
                 regexp_replace(word, '(.)', '\1 ', 'g') AS rep FROM w)"""
    val stages = (1 to steps).map { i =>
      s""",
        p$i AS (
          SELECT s[CAST(j AS BIGINT)] AS l, s[CAST(j + 1 AS BIGINT)] AS r,
                 CAST(SUM(freq) AS BIGINT) AS pair_count
          FROM (SELECT freq, s, unnest(range(1, len(s))) AS j
                FROM (SELECT freq, list_filter(string_split(rep, ' '),
                        x -> x <> '') AS s FROM r${i - 1}))
          GROUP BY 1, 2),
        b$i AS (SELECT $i AS step, l, r, concat(l, r) AS merged, pair_count
                FROM p$i ORDER BY pair_count DESC, l, r LIMIT 1),
        r$i AS (SELECT word, freq,
                  replace(rep, concat(b.l, ' ', b.r, ' '),
                    concat(b.l, b.r, ' ')) AS rep
                FROM r${i - 1}, b$i b)"""
    }.mkString
    val best = (1 to steps)
      .map(i => s"SELECT * FROM b$i")
      .mkString("(", " UNION ALL ", ") best_all")
    base + stages + "\n        " +
      select.replace("BEST", best).replace("FINAL", s"r$steps")
  }

  /** Per-process cache of the q66 prepared on-disk IVF index, keyed by
    * data dir — same pattern as [[dedupIndexFor]]: written once to a
    * temp dir and read back, so the query scans the cell-partitioned
    * parquet layout (partition pruning at probe time); Bench's warmup
    * pays the build. Centroids are the first 16 embeddings by vec_id
    * (cell = vec_id), the engine-replayable choice q66's oracle pins.
    */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sim.Similarity.IvfIndex]()

  /** q98's incrementally-built twin of [[ivfIndexFor]]: same centroids,
    * but the on-disk index is built from vec_id < 800 and the rest
    * arrives via [[graft.sim.Similarity.appendToIvfIndex]] — the final
    * table must be row-identical to the one-shot build, which is
    * exactly what serving q98 against q66's oracle proves.
    */
  private val ivfAppendIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sim.Similarity.IvfIndex]()

  private def ivfAppendIndexFor(
      s: SparkSession, dir: String,
      emb: => DataFrame): graft.sim.Similarity.IvfIndex =
    ivfAppendIndexCache.computeIfAbsent(dir, { _ =>
      val centroids = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq
      val built = graft.sim.Similarity.buildIvfWithCentroids(
        emb.filter(col("vec_id") < 800), "vec_id", "embedding", centroids)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_append_").toString
      graft.sim.Similarity.writeIvfIndex(built, path)
      graft.sim.Similarity.appendToIvfIndex(
        s, path, emb.filter(col("vec_id") >= 800), "vec_id", "embedding")
      graft.sim.Similarity.readIvfIndex(s, path, "vec_id", "embedding")
    })

  /** Per-process cache of the q106 bucketed table pair, keyed by data
    * dir: written once (external parquet tables in the session
    * catalog, both bucketed 8 ways on `custkey`) and joined by every
    * later call — the bucketing point: the write pays the shuffle
    * once, then EVERY join run is exchange-free. Table names embed the
    * dir hash so sf0.01 and sf0.1 coexist in one session.
    */
  private val bucketedTablesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def bucketedTablesFor(
      s: SparkSession, dir: String,
      orders: => DataFrame, customer: => DataFrame): (String, String) =
    bucketedTablesCache.computeIfAbsent(dir, { _ =>
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val base = java.nio.file.Files
        .createTempDirectory("graft_bucketed_").toString
      val to = s"graft_bkt_orders_$tag"
      val tc = s"graft_bkt_customer_$tag"
      graft.operators.Bucketing.writeBucketed(
        orders.withColumnRenamed("o_custkey", "custkey"),
        to, s"$base/orders", Seq("custkey"), nBuckets = 8,
        sortCols = Seq("custkey"))
      graft.operators.Bucketing.writeBucketed(
        customer.withColumnRenamed("c_custkey", "custkey"),
        tc, s"$base/customer", Seq("custkey"), nBuckets = 8,
        sortCols = Seq("custkey"))
      (to, tc)
    })

  private def ivfIndexFor(
      s: SparkSession, dir: String,
      emb: => DataFrame): graft.sim.Similarity.IvfIndex =
    ivfIndexCache.computeIfAbsent(dir, { _ =>
      val centroids = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq
      val built = graft.sim.Similarity.buildIvfWithCentroids(
        emb, "vec_id", "embedding", centroids)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_index_").toString
      graft.sim.Similarity.writeIvfIndex(built, path)
      graft.sim.Similarity.readIvfIndex(s, path, "vec_id", "embedding")
    })

  /** q228's compacted twin of [[ivfAppendIndexFor]]: built from
    * vec_id < 800, grown by FOUR small appends (small-file
    * accumulation — the exact situation compaction exists for), then
    * `compactIvfIndex` merges each cell's files before the read-back.
    * Serving q66's oracle through it proves compaction is invisible
    * in results while DedupIngest-style maintenance keeps file counts
    * bounded (the file-count drop itself is pinned in SimilaritySpec).
    */
  private val ivfCompactIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sim.Similarity.IvfIndex]()

  /** q245's retrained index: base on vec_id < 300 with q66's day-0
    * centroids, two drift appends ([300, 500) by pmod 2 — non-empty at
    * every SF), then `compactIvfIndexWithRetrain` re-fits the 16 cells
    * with 2 deterministic Lloyd rounds and re-assigns. The union
    * corpus is exactly vec_id < 500 at every SF, so the oracle's
    * kmeans unroll is SF-stable.
    */
  private val ivfRetrainIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sim.Similarity.IvfIndex]()

  private def ivfRetrainIndexFor(
      s: SparkSession, dir: String,
      emb: => DataFrame): graft.sim.Similarity.IvfIndex =
    ivfRetrainIndexCache.computeIfAbsent(dir, { _ =>
      val centroids = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq
      val built = graft.sim.Similarity.buildIvfWithCentroids(
        emb.filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_retrain_").toString
      graft.sim.Similarity.writeIvfIndex(built, path)
      for (b <- 0 until 2)
        graft.sim.Similarity.appendToIvfIndex(
          s, path,
          emb.filter(col("vec_id") >= 300 && col("vec_id") < 500 &&
            pmod(col("vec_id"), lit(2)) === b)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding")
      graft.sim.Similarity.compactIvfIndexWithRetrain(
        s, path, "vec_id", "embedding", iters = 2)
      graft.sim.Similarity.readIvfIndex(s, path, "vec_id", "embedding")
    })

  private def ivfCompactIndexFor(
      s: SparkSession, dir: String,
      emb: => DataFrame): graft.sim.Similarity.IvfIndex =
    ivfCompactIndexCache.computeIfAbsent(dir, { _ =>
      val centroids = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq
      val built = graft.sim.Similarity.buildIvfWithCentroids(
        emb.filter(col("vec_id") < 800), "vec_id", "embedding", centroids)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_compact_").toString
      graft.sim.Similarity.writeIvfIndex(built, path)
      for (b <- 0 until 4)
        graft.sim.Similarity.appendToIvfIndex(
          s, path,
          emb.filter(col("vec_id") >= 800 &&
            pmod(col("vec_id"), lit(4)) === b),
          "vec_id", "embedding")
      graft.sim.Similarity.compactIvfIndex(s, path)
      graft.sim.Similarity.readIvfIndex(s, path, "vec_id", "embedding")
    })

  /** q227's PRISTINE base dedup index (corpus doc_id < 400), built
    * once per dir — the fixture half of the ingest lifecycle (the
    * q195/q197 staging discipline: fixture cached, operator timed).
    * Each run COPIES this tree into a fresh temp dir before mutating
    * it with appended segments: a copy of a few small parquet files,
    * not a corpus re-derivation.
    */
  private val pristineIngestIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def pristineIngestIndexFor(
      s: SparkSession, dir: String, maxId: Int = 400): String =
    pristineIngestIndexCache.computeIfAbsent(s"$dir#$maxId", { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_dedup_ingest_base_").toString
      graft.dedup.DedupIndex.write(
        Tables.load(s, dir, "documents").filter(col("doc_id") < maxId),
        "doc_id", "text", p,
        graft.dedup.DedupIndex.Params(
          shingleSize = 1, numHashes = 64, bands = 16, seed = 42L))
      p
    })

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(src).forEach { p =>
      val to = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** q232's PRISTINE base IVF index (vectors vec_id < 300, q66's
    * deterministic centroids) — fixture cached once per dir and COPIED
    * per run before the stream mutates it with segments (the q227
    * discipline).
    */
  private val pristineIvfIngestCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def pristineIvfIngestFor(
      s: SparkSession, dir: String, emb: => DataFrame): String =
    pristineIvfIngestCache.computeIfAbsent(dir, { _ =>
      val centroids = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq
      // project to the ingest schema: base and streamed segments must
      // union by name, so the base carries exactly the stream's columns
      val built = graft.sim.Similarity.buildIvfWithCentroids(
        emb.filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids)
      val p = java.nio.file.Files
        .createTempDirectory("graft_q232_base_").toString
      graft.sim.Similarity.writeIvfIndex(built, p)
      p
    })

  /** q232's staged vector blocks: vec_id >= 300 as FOUR hash blocks
    * (pmod 4), one parquet file per block with pinned names/mtimes —
    * assignment is order-free, so the pinning is for determinism of
    * the batch→segment mapping only.
    */
  private val stagedVectorBlocksCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedVectorBlocksFor(s: SparkSession, dir: String): String =
    stagedVectorBlocksCache.computeIfAbsent(dir, { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_q232_in_")
      val emb = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") >= 300)
        .select(col("vec_id"), col("embedding"))
      val t0 = 1700000000000L
      for (i <- 0 until 4) {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q232_blk_")
        emb.filter(pmod(col("vec_id"), lit(4)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val it = java.nio.file.Files.list(tmp).iterator()
        val found = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (it.hasNext) {
          val p = it.next()
          if (p.toString.endsWith(".parquet")) found += p
        }
        require(found.size == 1, s"expected 1 part file, got ${found.size}")
        val dst = root.resolve(f"block$i%04d.parquet")
        java.nio.file.Files.move(found.head, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
        deleteTree(tmp)
      }
      root.toString
    })

  /** q227's staged ingest blocks: docs [400, 500) as FOUR 25-doc
    * parquet files whose names AND modification times both increase
    * in block order — the file stream delivers one file per
    * micro-batch in that order under either of FileStreamSource's
    * possible orderings (timestamp or path), so the sequential-dedup
    * oracle's block unrolling is pinned. Staging is fixture, cached
    * per dir; the index the query mutates is built fresh per run.
    */
  private val stagedDedupBlocksCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedDedupBlocksFor(
      s: SparkSession, dir: String, startId: Int = 400): String =
    stagedDedupBlocksCache.computeIfAbsent(s"$dir#$startId", { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_dedup_ingest_in_")
      val docs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") >= startId && col("doc_id") < startId + 100)
        .select(col("doc_id"), col("text"))
      val t0 = 1700000000000L // fixed base so mtimes are deterministic
      for (i <- 0 until 4) {
        val lo = startId + i * 25
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q227_blk_")
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 25)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        val found = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (part.hasNext) {
          val p = part.next()
          if (p.toString.endsWith(".parquet")) found += p
        }
        require(found.size == 1, s"expected 1 part file, got ${found.size}")
        val dst = root.resolve(f"block$i%04d.parquet")
        java.nio.file.Files.move(found.head, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
        deleteTree(tmp)
      }
      root.toString
    })

  /** q172's deletion twin of [[ivfIndexFor]]: same centroids and
    * layout, then every vec_id divisible by 9 is surgically removed
    * (`removeFromIvfIndex` rewrites only affected cell partitions).
    * Cached post-delete, so Bench's timed runs measure serving, and
    * repeated deletes of absent ids are no-ops by contract.
    */
  private val ivfDelIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sim.Similarity.IvfIndex]()

  private def ivfDeletedIndexFor(
      s: SparkSession, dir: String,
      emb: => DataFrame): graft.sim.Similarity.IvfIndex =
    ivfDelIndexCache.computeIfAbsent(dir, { _ =>
      val centroids = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq
      val built = graft.sim.Similarity.buildIvfWithCentroids(
        emb, "vec_id", "embedding", centroids)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_del_index_").toString
      graft.sim.Similarity.writeIvfIndex(built, path)
      graft.sim.Similarity.removeFromIvfIndex(s, path,
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")),
        "vec_id")
      graft.sim.Similarity.readIvfIndex(s, path, "vec_id", "embedding")
    })

  /** Per-process cache of the q62 prepared dedup index, keyed by data
    * dir: built (written to a fresh temp dir and read back, so the
    * query really runs against parquet) on first use, reused by every
    * later call — which is the point: Bench's warmup pass pays the
    * build, the timed runs measure batch-only cost. Parameters mirror
    * q50's direct-path call (unigram shingles, 64 hashes, 16 bands).
    */
  private val dedupIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.dedup.DedupIndex.Index]()

  private def dedupIndexFor(
      s: SparkSession, dir: String,
      corpus: => DataFrame): graft.dedup.DedupIndex.Index =
    dedupIndexCache.computeIfAbsent(dir, { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft_dedup_index_").toString
      graft.dedup.DedupIndex.write(
        corpus, "doc_id", "text", path,
        graft.dedup.DedupIndex.Params(
          shingleSize = 1, numHashes = 64, bands = 16, seed = 42L))
      graft.dedup.DedupIndex.read(s, path)
    })

  /** q99's segmented twin of [[dedupIndexFor]]: the same corpus
    * (doc_id < 400) enters the on-disk index as a base build
    * (doc_id < 300) plus one appended LSM segment ([300, 400)); green
    * against q62's oracle proves segment union serves the identical
    * corpus.
    */
  private val dedupSegIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.dedup.DedupIndex.Index]()

  private def dedupSegIndexFor(
      s: SparkSession, dir: String,
      corpus: => DataFrame): graft.dedup.DedupIndex.Index =
    dedupSegIndexCache.computeIfAbsent(dir, { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft_dedup_seg_index_").toString
      graft.dedup.DedupIndex.write(
        corpus.filter(col("doc_id") < 300), "doc_id", "text", path,
        graft.dedup.DedupIndex.Params(
          shingleSize = 1, numHashes = 64, bands = 16, seed = 42L))
      graft.dedup.DedupIndex.appendSegment(
        s, path, corpus.filter(col("doc_id") >= 300), "doc_id", "text")
      graft.dedup.DedupIndex.read(s, path)
    })

  /** q139's compacted twin of [[dedupSegIndexFor]]: the same
    * base+segment build, then [[graft.dedup.DedupIndex.compact]]
    * merges the segment into the base — green against q62's oracle
    * proves compaction is invisible in results.
    */
  private val dedupCompactIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.dedup.DedupIndex.Index]()

  private def dedupCompactIndexFor(
      s: SparkSession, dir: String,
      corpus: => DataFrame): graft.dedup.DedupIndex.Index =
    dedupCompactIndexCache.computeIfAbsent(dir, { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft_dedup_cmp_index_").toString
      graft.dedup.DedupIndex.write(
        corpus.filter(col("doc_id") < 300), "doc_id", "text", path,
        graft.dedup.DedupIndex.Params(
          shingleSize = 1, numHashes = 64, bands = 16, seed = 42L))
      graft.dedup.DedupIndex.appendSegment(
        s, path, corpus.filter(col("doc_id") >= 300), "doc_id", "text")
      graft.dedup.DedupIndex.compact(s, path)
      graft.dedup.DedupIndex.read(s, path)
    })

  /** Bench-only queries (no oracle, not part of the CORRECTNESS
    * surface): the LSH near-dup pipelines on the FULL corpus with their
    * hot-bucket caps doing real work. The capped CORRECTNESS twins
    * (q14/q23/q24) bound their inputs so the all-pairs DuckDB oracles
    * stay cheap; these measure the scale path itself — this synthetic
    * corpus's shared ~31-word vocabulary makes unigram buckets
    * degenerate, exactly the hot-bucket case `maxBucketSize` exists for.
    */
  val benchOnly: Seq[GraftQuery] = Seq(
    // full-corpus containment (q88 bounds its slice to match the
    // quadratic-ish oracle; this prices the posting-list join with the
    // df cap doing its real job over every document)
    GraftQuery(
      "q88b_containment_full",
      (s, dir) =>
        graft.dedup.Dedup.containmentNearDuplicates(
          t(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, threshold = 0.5, maxDocFreq = 50)
          .orderBy(col("id_a"), col("id_b")),
      None),
    GraftQuery(
      "q14b_near_dup_uncapped",
      (s, dir) =>
        graft.dedup.Dedup.nearDuplicates(
          t(s, dir, "documents"), "doc_id", "text",
          shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9,
          maxBucketSize = 1000)
          .orderBy(col("id_a"), col("id_b")),
      None),
    GraftQuery(
      "q23b_ngram_jaccard_uncapped",
      (s, dir) =>
        graft.dedup.Dedup.nearDuplicates(
          t(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.85)
          .orderBy(col("id_a"), col("id_b")),
      None),
    GraftQuery(
      "q24b_embedding_lsh_uncapped",
      (s, dir) =>
        graft.sim.Similarity.embeddingNearDuplicates(
          t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.95)
          .orderBy(col("id_a"), col("id_b")),
      None),
    GraftQuery(
      "q57b_semantic_decon_uncapped",
      (s, dir) => {
        // odd ids decontaminated against even ids — the LSH scale path
        // (one batch×corpus bucket equi-join); proportions track sf
        val emb = t(s, dir, "embeddings")
        graft.sim.Similarity.embeddingDedupAgainst(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1),
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", threshold = 0.95)
          .select(col("vec_id")).orderBy(col("vec_id"))
      },
      None),

    // Corpus-heavy incremental-ingest pair: 92% of documents as the
    // corpus, 8% as the arriving batch — the production dedupAgainst
    // shape (q50/q62's oracle split is the reverse, so the batch cost
    // dominates there and masks the index's point). q50b re-derives
    // the corpus fingerprints + MinHash tables on EVERY call; q62b
    // serves them from the prepared on-disk index (built once in
    // Bench's warmup via the per-process cache). The delta between
    // these two bench lines IS the per-ingest amortization the index
    // buys at 100 TB.
    GraftQuery(
      "q50b_dedup_against_heavy",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.dedup.Dedup.dedupAgainst(
          docs.filter(col("doc_id") < 400),
          docs.filter(col("doc_id") >= 400),
          "doc_id", "text",
          shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.9)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      None),
    GraftQuery(
      "q62b_dedup_index_heavy",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val idx = dedupIndexHeavyFor(s, dir, docs.filter(col("doc_id") >= 400))
        graft.dedup.DedupIndex.dedupAgainst(
          docs.filter(col("doc_id") < 400), idx, "doc_id", "text",
          threshold = 0.9)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      None))

  private val dedupIndexHeavyCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.dedup.DedupIndex.Index]()

  private def dedupIndexHeavyFor(
      s: SparkSession, dir: String,
      corpus: => DataFrame): graft.dedup.DedupIndex.Index =
    dedupIndexHeavyCache.computeIfAbsent(dir, { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft_dedup_index_heavy_").toString
      graft.dedup.DedupIndex.write(
        corpus, "doc_id", "text", path,
        graft.dedup.DedupIndex.Params(
          shingleSize = 1, numHashes = 64, bands = 16, seed = 42L))
      graft.dedup.DedupIndex.read(s, path)
    })

  /** Per-process cache of q185's PQ codebooks, keyed by data dir —
    * deterministic lowest-id sampling, so caching only skips the tiny
    * 16-row collect on repeat runs.
    */
  private val pqCodebooksCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sim.ProductQuantize.Codebooks]()

  private def pqCodebooksFor(
      s: SparkSession, dir: String,
      emb: => DataFrame): graft.sim.ProductQuantize.Codebooks =
    pqCodebooksCache.computeIfAbsent(dir, { _ =>
      graft.sim.ProductQuantize.codebooksFromRows(
        emb, "vec_id", "embedding", nSub = 4, nCodes = 16)
    })

  /** Per-process cache of q186's on-disk IVF-PQ index, keyed by data
    * dir — q66's deterministic centroids (vec_id < 16, cell = vec_id)
    * + q185's codebooks, written cell-partitioned and read back so the
    * probe really partition-prunes.
    */
  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sim.ProductQuantize.IvfPq]()

  private def ivfPqIndexFor(
      s: SparkSession, dir: String,
      emb: => DataFrame): graft.sim.ProductQuantize.IvfPq =
    ivfPqCache.computeIfAbsent(dir, { _ =>
      val centroids = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq
      val built = graft.sim.Similarity.buildIvfWithCentroids(
        emb, "vec_id", "embedding", centroids)
      val cb = pqCodebooksFor(s, dir, emb)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_index_").toString
      graft.sim.ProductQuantize.writeIvfPq(built, cb, path)
      graft.sim.ProductQuantize.readIvfPq(s, path, "vec_id")
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.stripMargin.trim)).toMap
}
