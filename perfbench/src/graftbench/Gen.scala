package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One feature row of the `export` workload. */
final case class FeatureRow(id: Long, label: Long, cat: String, tokens: Seq[String], f0: Double)

/** One row of the `score` workload. */
final case class ScoreRow(id: Long, label: Long, x1: Double, x2: Double, emb: Array[Float])

/** One document of the `index_ingest` workload. `kind` is the planted
  * ground truth of a micro-batch document ("exact", "near" or "fresh";
  * "corpus" for the set-up corpus) and `source` the corpus document an
  * exact or near copy was made from (-1 otherwise).
  */
final case class DocRow(doc_id: Long, text: String, vec: Array[Float], kind: String, source: Long)

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, row id), so the same seed gives the same tables however
  * Spark partitions the work, and a different seed gives different ones.
  */
object Gen {
  val Categories = 50
  val TokenVocab = 20000
  val MaxTokens = 12
  val EmbDim = 64
  val DocTokens = 40
  val DocVocab = 20000
  val VecDim = 64
  val Components = 256

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) + id))

  /** Inverse-CDF sampler of a Zipf(s) law over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private lazy val tokenZipf = new Zipf(TokenVocab, 1.1)
  private lazy val catZipf = new Zipf(Categories, 1.0)

  private def parts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  // ---- export ----

  def featureRow(seed: Long, id: Long): FeatureRow = {
    val r = rng(seed, 1, id)
    val label = if (r.nextDouble() < 0.1) 1L else 0L
    val cat = f"c${catZipf.draw(r)}%02d"
    val tokens = Seq.fill(r.nextInt(MaxTokens + 1))(s"t${tokenZipf.draw(r)}")
    FeatureRow(id, label, cat, tokens, r.nextDouble())
  }

  def features(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts(spark)).as[Long].map(id => featureRow(seed, id)).toDF()
  }

  // ---- score ----

  /** The planted true model the labels follow. */
  def trueWeights(seed: Long): Array[Double] = {
    val r = rng(seed, 2, -1)
    Array.fill(EmbDim)(r.nextGaussian())
  }

  def scoreRow(seed: Long, w: Array[Double], id: Long): ScoreRow = {
    val r = rng(seed, 3, id)
    val emb = Array.fill(EmbDim)(r.nextGaussian().toFloat)
    var z = 0.0
    var i = 0
    while (i < EmbDim) { z += emb(i) * w(i); i += 1 }
    val p = 1.0 / (1.0 + math.exp(-(z / 4.0 - 1.5)))
    val label = if (r.nextDouble() < p) 1L else 0L
    ScoreRow(id, label, r.nextDouble(), r.nextGaussian(), emb)
  }

  def scoreRows(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val w = trueWeights(seed)
    spark.range(0, n, 1, parts(spark)).as[Long].map(id => scoreRow(seed, w, id)).toDF()
  }

  // ---- index_ingest ----

  /** Centers of the Gaussian mixture the document vectors come from. */
  def centers(seed: Long): Array[Array[Float]] = {
    val r = rng(seed, 4, -1)
    Array.fill(Components, VecDim)(r.nextGaussian().toFloat)
  }

  private def vecNear(center: Array[Float], r: SplittableRandom, sigma: Double): Array[Float] =
    center.map(c => (c + sigma * r.nextGaussian()).toFloat)

  def docText(seed: Long, id: Long): String = {
    val r = rng(seed, 5, id)
    Seq.fill(DocTokens)(s"w${r.nextInt(DocVocab)}").mkString(" ")
  }

  def docVec(seed: Long, cs: Array[Array[Float]], id: Long): Array[Float] = {
    val r = rng(seed, 6, id)
    vecNear(cs(r.nextInt(Components)), r, 0.5)
  }

  def corpus(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val cs = centers(seed)
    spark.range(0, n, 1, parts(spark)).as[Long]
      .map(id => DocRow(id, docText(seed, id), docVec(seed, cs, id), "corpus", -1L)).toDF()
  }

  /** Micro-batch `b`: 10% exact copies of corpus documents, 10% near
    * copies (the last token replaced, Jaccard 37/39 on word 3-shingles),
    * the rest fresh. Ids continue after the corpus.
    */
  def batch(seed: Long, corpusN: Long, b: Int, size: Int): Seq[DocRow] = {
    val cs = centers(seed)
    (0 until size).map { j =>
      val id = corpusN + b.toLong * size + j
      val r = rng(seed, 7, id)
      val u = r.nextDouble()
      if (u < 0.2) {
        val src = r.nextLong(corpusN)
        val text = docText(seed, src)
        if (u < 0.1) DocRow(id, text, docVec(seed, cs, src), "exact", src)
        else {
          val edited = text.substring(0, text.lastIndexOf(' ')) + s" x${r.nextInt(1 << 30)}"
          DocRow(id, edited, docVec(seed, cs, src), "near", src)
        }
      } else DocRow(id, docText(seed, id), docVec(seed, cs, id), "fresh", -1L)
    }
  }

  /** The `n` queries served after micro-batch `step`: vectors near
    * mixture components, ids `step * n` until `(step + 1) * n`.
    */
  def queries(seed: Long, step: Int, n: Int): Seq[(Long, Array[Float])] = {
    val cs = centers(seed)
    val r = rng(seed, 8, step)
    (0 until n).map(q => (step.toLong * n + q, vecNear(cs(r.nextInt(Components)), r, 0.2)))
  }
}
