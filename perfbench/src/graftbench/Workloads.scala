package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.dedup.DedupIndex
import graft.eval.Ranking
import graft.inference.{Artifacts, Inference, Models}
import graft.operators.Sampling
import graft.records.{RaggedToCoo, TfRecords}
import graft.sim.Similarity
import graft.types.{FeatureDType, FixedLenFeature, VarLenFeature}
import graft.vocab.Vocabulary

/** Counts operations and output checks; a failed check is remembered so
  * the run can fail loud once the pass ends.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def op(): Unit = attempted += 1

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$name: $detail" }
  }
}

/** Accumulates the timed part of a pass; checks run outside it. */
final class Clock {
  var nanos = 0L
  def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally nanos += System.nanoTime() - t0
  }
  /** Like [[timed]], also returning the block's own seconds. */
  def sample[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    try { val a = body; (a, (System.nanoTime() - t0) / 1e9) }
    finally nanos += System.nanoTime() - t0
  }
  def seconds: Double = nanos / 1e9
}

/** One seeded workload. [[setup]] generates the inputs (and the index
  * trees) under a directory; [[pass]] runs one closed-loop pass over them
  * and returns the input rows it consumed. Extra per-pass samples go to
  * [[samples]] under the end-to-end metric they feed.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val tracer: Tracer, val checks: Checks) {
  def setup(dir: Path): Unit
  def pass(p: Int, dir: Path, clock: Clock): Long
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Timed seconds of warm-up passes before measuring. */
  def warmupSeconds(runSeconds: Double): Double = runSeconds
  /** Whether [[pass]] checks its outputs (the first measured pass does). */
  var checking = true
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  protected def record(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  protected def span[A](name: String, group: String, watch: Option[String] = None)(body: => A): A = {
    checks.op()
    tracer.span(name, group, watch)(body)
  }
}

object Workload {
  def dirBytes(dir: Path): Long = Tracer.listing(dir.toString).valuesIterator.map(_._1).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally st.close()
  }

  /** Order-independent checksum of the given columns. */
  def checksum(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** `export`: sample → vocab files → shuffled gzip TFRecords → read back
  * through the `tfrecord` source → ragged tokens to COO.
  */
final class ExportWorkload(spark: SparkSession, seed: Long, tracer: Tracer, checks: Checks, rows: Long)
    extends Workload(spark, seed, tracer, checks) {
  import Workload._
  private var input: Path = _

  private val specs = Map(
    "id" -> FixedLenFeature(Nil, FeatureDType.Int64),
    "label" -> FixedLenFeature(Nil, FeatureDType.Int64),
    "cat" -> FixedLenFeature(Nil, FeatureDType.TfString),
    "tokens" -> VarLenFeature(FeatureDType.TfString),
    "weight" -> FixedLenFeature(Nil, FeatureDType.Float32))
  private val readSchema = StructType(Seq(
    StructField("id", LongType), StructField("label", LongType), StructField("cat", StringType),
    StructField("tokens", ArrayType(StringType)), StructField("weight", FloatType)))

  def setup(dir: Path): Unit = {
    input = dir.resolve("features")
    Gen.features(spark, seed, rows).write.parquet(input.toString)
  }

  def pass(p: Int, dir: Path, clock: Clock): Long = {
    val g = s"p$p"
    val out = dir.resolve("export")
    val vocabDir = out.resolve("col_cardinalities").toString
    val tfDir = out.resolve("tf_records").toString
    val features = spark.read.parquet(input.toString)
    var sampled: DataFrame = null
    var readBack: DataFrame = null
    try {
      val coo = clock.timed {
        sampled = span("operators.sampleWithPredicate", g) {
          val s = Sampling.sampleWithPredicate(features, 1.0, 1.0, 0.3, col("label") === 1L,
            columnsForSample = Seq("id")).persist(StorageLevel.MEMORY_AND_DISK)
          s.count()
          s
        }
        span("vocab.genVocabFiles", g, Some(vocabDir)) {
          Vocabulary.genVocabFiles(sampled, Seq("cat", "tokens"), vocabDir, 5)
        }
        span("records.dfToTfRecord", g, Some(out.toString)) {
          TfRecords.dfToTfRecord(sampled, specs, out.toString, seed = Some(seed + p), requireHdfs = false)
        }
        readBack = span("sources.tfrecordRead", g) {
          val rb = spark.read.format("tfrecord").schema(readSchema).load(tfDir)
            .persist(StorageLevel.MEMORY_AND_DISK)
          rb.count()
          rb
        }
        span("records.posexplodeCoo", g) {
          checksum(RaggedToCoo.posexplodeCoo(readBack, col("id"), col("tokens")), "row_id", "pos", "value")
        }
      }
      if (checking) verify(sampled, readBack, coo, vocabDir)
      record("stored_bytes_ratio", dirBytes(out).toDouble / dirBytes(input))
      rows
    } finally {
      Option(sampled).foreach(_.unpersist())
      Option(readBack).foreach(_.unpersist())
      deleteTree(out)
    }
  }

  private def verify(sampled: DataFrame, readBack: DataFrame, coo: (Long, Long), vocabDir: String): Unit = {
    val want = checksum(sampled, "id")
    val got = checksum(readBack, "id")
    checks.check("export.readback", want == got, s"sampled (rows, id checksum) $want, read back $got")
    val wantCoo = checksum(sampled.select(col("id").as("row_id"), posexplode(col("tokens"))), "row_id", "pos", "col")
    checks.check("export.coo", wantCoo == coo, s"expected COO (rows, checksum) $wantCoo, got $coo")
    val direct = Map(
      "cat" -> sampled.select(col("cat").as("v")),
      "tokens" -> sampled.select(explode(col("tokens")).as("v")))
    direct.foreach { case (key, values) =>
      val expected = values.groupBy("v").count().filter(col("count") >= 5)
        .collect().map(_.getString(0)).filter(_.nonEmpty).toSet
      val file = Paths.get(vocabDir, s"$key.voc")
      val got = if (Files.exists(file)) Files.readString(file).split("\n").filter(_.nonEmpty).toSet else Set.empty[String]
      checks.check(s"export.vocab.$key", got == expected,
        s"$key.voc has ${got.size} values, groupBy/HAVING gives ${expected.size}")
    }
  }
}

/** `score`: array-linear scoring → logistic predict-proba → ROC AUC and
  * a calibration table.
  */
final class ScoreWorkload(spark: SparkSession, seed: Long, tracer: Tracer, checks: Checks, rows: Long)
    extends Workload(spark, seed, tracer, checks) {
  import Workload._
  private var input: Path = _
  private val weights = Gen.trueWeights(seed).map(_ / 4.0)
  private val logistic = Models.Logistic(Map("pred" -> 1.0, "x1" -> 0.5, "x2" -> -0.25), -1.5)
  private val Scale = 10000L

  def setup(dir: Path): Unit = {
    input = dir.resolve("scoring")
    Gen.scoreRows(spark, seed, rows).write.parquet(input.toString)
  }

  def pass(p: Int, dir: Path, clock: Clock): Long = {
    val g = s"p$p"
    val df = spark.read.parquet(input.toString)
    val linear = Artifacts.broadcast(spark, Models.ArrayLinear(weights))
    val logit = Artifacts.broadcast(spark, logistic)
    var scored: DataFrame = null
    var proba: DataFrame = null
    try {
      val (auc, cal) = clock.timed {
        scored = span("inference.withInferenceColumn", g) {
          val s = Inference.withInferenceColumn[Models.ArrayLinear](df, linear, Seq("emb"),
            (m, cols, _) => cols.head.map(v => m.score(v.asInstanceOf[scala.collection.Seq[Float]])),
            DoubleType, batchSize = 256, outputCol = "pred")
            .select("id", "label", "pred", "x1", "x2").persist(StorageLevel.MEMORY_AND_DISK)
          s.count()
          s
        }
        proba = span("inference.withPredictProbaColumn", g) {
          val s = Inference.withPredictProbaColumn[Models.Logistic](scored, logit,
            (m, cols, rs) => m.predictProba(cols, rs), outputCol = "proba")
            .withColumn("predQ", round(col("proba") * Scale).cast("long"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          s.count()
          s
        }
        val auc = span("eval.rocAuc", g)(Ranking.rocAuc(proba, "predQ", "label").collect())
        val cal = span("eval.calibrationTable", g)(Ranking.calibrationTable(proba, "predQ", Scale, "label").collect())
        (auc, cal)
      }
      if (checking) verify(df, scored, proba, auc, cal)
      rows
    } finally {
      Option(scored).foreach(_.unpersist())
      Option(proba).foreach(_.unpersist())
    }
  }

  private def verify(df: DataFrame, scored: DataFrame, proba: DataFrame, auc: Array[Row], cal: Array[Row]): Unit = {
    // the linear score as a DataFrame expression: the same left fold in double
    val w = array(weights.map(lit): _*)
    val expr = aggregate(zip_with(col("emb"), w, (x, wi) => x.cast("double") * wi), lit(0.0), (a, x) => a + x)
    val want = checksum(df.select(col("id"), expr.as("pred")), "id", "pred")
    val got = checksum(scored, "id", "pred")
    checks.check("score.pred", want == got, s"expression (rows, checksum) $want, scored $got")
    val z = lit(logistic.intercept) + logistic.coef.map { case (c, k) => col(c) * k }.reduce(_ + _)
    val off = proba.filter(abs(col("proba") - (lit(1.0) / (lit(1.0) + exp(-z))).cast("float")) > 1e-6).count()
    checks.check("score.proba", off == 0L, s"$off rows differ from the logistic expression")
    val (n, pos) = {
      val r = df.agg(count(lit(1)), sum(col("label"))).head()
      (r.getLong(0), r.getLong(1))
    }
    checks.check("score.auc", auc.length == 1 && auc(0).getAs[Long]("n_pos") == pos &&
      auc(0).getAs[Long]("n_neg") == n - pos && auc(0).getAs[Double]("auc") > 0.6,
      s"rocAuc rows ${auc.mkString(";")} for $pos positives of $n")
    checks.check("score.calibration",
      cal.map(_.getAs[Long]("n")).sum == n && cal.map(_.getAs[Long]("n_pos")).sum == pos,
      s"calibration table covers ${cal.map(_.getAs[Long]("n")).sum} of $n rows")
  }
}

/** `index_ingest`: micro-batches deduplicated against a persisted
  * MinHash index and appended to it and to an IVF index, top-k serving
  * after each, maintenance every few steps.
  */
final class IndexIngestWorkload(
    spark: SparkSession, seed: Long, tracer: Tracer, checks: Checks,
    corpusDocs: Long, batchDocs: Int, steps: Int,
    queriesPerStep: Int, cells: Int, targetRecallPpm: Long)
    extends Workload(spark, seed, tracer, checks) {
  import Workload._
  private var base: Path = _
  private var inputBytes = 0L
  private val K = 10
  // maintenance compacts whatever segments are pending; skew never forces a retrain
  private val ivfThresholds = Similarity.IvfAdviceThresholds(maxSegments = 0, maxSkewX100 = Long.MaxValue)
  private val dedupThresholds = DedupIndex.AdviceThresholds(maxSegments = 0)

  // set-up dominates a run: two set-ups and no warm-up pass keep a run
  // inside the benchmark's time budget, so the measured pass runs cold
  override def setupReps: Int = 2
  override def warmupSeconds(runSeconds: Double): Double = 0.0

  def setup(dir: Path): Unit = {
    base = dir
    val corpus = Gen.corpus(spark, seed, corpusDocs).select("doc_id", "text", "vec")
    corpus.write.parquet(dir.resolve("corpus").toString)
    (0 until steps).foreach { b =>
      spark.createDataFrame(Gen.batch(seed, corpusDocs, b, batchDocs))
        .coalesce(1).write.parquet(dir.resolve(s"batch$b").toString)
    }
    val stored = spark.read.parquet(dir.resolve("corpus").toString)
    DedupIndex.write(stored, "doc_id", "text", dir.resolve("dedup").toString)
    Similarity.writeIvfIndex(Similarity.buildIvf(stored.select("doc_id", "vec"), "doc_id", "vec", cells, seed),
      dir.resolve("ivf").toString)
    inputBytes = dirBytes(dir.resolve("corpus")) + (0 until steps).map(b => dirBytes(dir.resolve(s"batch$b"))).sum
  }

  def pass(p: Int, dir: Path, clock: Clock): Long = {
    val root = dir.resolve("index")
    copyTree(base.resolve("dedup"), root.resolve("dedup"))
    copyTree(base.resolve("ivf"), root.resolve("ivf"))
    val dedupPath = root.resolve("dedup").toString
    val ivfPath = root.resolve("ivf").toString
    try {
      var handle = clock.timed {
        span("sim.ivfPlanHandle", s"p$p")(Similarity.ivfPlanHandle(spark, ivfPath, "doc_id", "vec", targetRecallPpm))
      }
      var maintain = 0.0
      (0 until steps).foreach { b =>
        val g = s"p$p.b$b"
        val batchAll = spark.read.parquet(base.resolve(s"batch$b").toString)
        val batch = batchAll.select("doc_id", "text", "vec")
        var survivors: DataFrame = null
        try {
          val (_, ingestS) = clock.sample {
            tracer.span("ingest", g) {
              val idx = span("dedup.read", g)(DedupIndex.read(spark, dedupPath))
              survivors = span("dedup.dedupAgainst", g) {
                val s = DedupIndex.dedupAgainst(batch, idx, "doc_id", "text").persist(StorageLevel.MEMORY_AND_DISK)
                s.count()
                s
              }
              span("dedup.appendSegment", g, Some(dedupPath)) {
                DedupIndex.appendSegment(spark, dedupPath, survivors, "doc_id", "text")
              }
              span("sim.appendIvfSegment", g, Some(ivfPath)) {
                Similarity.appendIvfSegment(spark, ivfPath, survivors.select("doc_id", "vec"), "doc_id", "vec")
              }
            }
          }
          record("ingest_s", ingestS)
          if (checking) verifyIngest(batchAll, survivors)
        } finally Option(survivors).foreach(_.unpersist())

        val queries = Gen.queries(seed, b, queriesPerStep)
        val ((h, served), serveS) = clock.sample {
          tracer.span("serve", g) {
            span("sim.ivfTopKWithHandle", g) {
              val (h, df) = Similarity.ivfTopKWithHandle(spark, ivfPath, "doc_id", "vec", queries, K, handle)
              (h, df.select("query_id", "vec_id").collect())
            }
          }
        }
        handle = h
        record("serve_s", serveS)
        if (checking) verifyServe(ivfPath, queries, served)

        if (b == steps - 1) {
          val (_, s) = clock.sample {
            tracer.span("maintain", g) {
              span("dedup.autoMaintain", g, Some(dedupPath)) {
                DedupIndex.autoMaintain(spark, dedupPath, dedupThresholds).collect()
              }
              span("sim.ivfAutoMaintain", g, Some(ivfPath)) {
                Similarity.ivfAutoMaintain(spark, ivfPath, "doc_id", "vec", ivfThresholds).collect()
              }
            }
          }
          maintain += s
        }
      }
      record("maintain_s", maintain)
      record("stored_bytes_ratio", dirBytes(root).toDouble / inputBytes)
      steps.toLong * batchDocs
    } finally deleteTree(root)
  }

  private def verifyIngest(batch: DataFrame, survivors: DataFrame): Unit = {
    val kinds = batch.select("doc_id", "kind").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val kept = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    val dups = kinds.collect { case (id, k) if k != "fresh" => id }.toSet
    val fresh = kinds.keySet -- dups
    record("dup_recall", (dups -- kept).size.toDouble / math.max(1, dups.size))
    record("fresh_kept", (fresh & kept).size.toDouble / math.max(1, fresh.size))
    checks.check("index_ingest.survivors", kept == fresh,
      s"${(dups & kept).size} planted duplicates kept, ${(fresh -- kept).size} fresh documents dropped")
  }

  private def verifyServe(ivfPath: String, queries: Seq[(Long, Array[Float])], served: Array[Row]): Unit = {
    val corpus = Similarity.readIvfIndex(spark, ivfPath, "doc_id", "vec").assigned.drop("cell")
    val exact = Similarity.bruteForceTopK(corpus, "doc_id", "vec", queries, K)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = served.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / (queries.size * K)
    record("serve_recall", recall)
    checks.check("index_ingest.recall", recall >= 0.9 && approx.size <= queries.size * K,
      f"recall@$K $recall%.4f against brute force over ${queries.size} queries")
  }
}
