package graft.inference

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Port of the reference inference test suite
  * (`tests/pytorch/test_spark_inference.py`,
  * `tests/sklearn/test_sklearn_spark_inference.py`): golden predictions,
  * multi-artifact broadcast, compute-once contract, preprocessing
  * pipeline, retry semantics, batch splitting.
  */
object InferenceSpecState {
  val inferenceCalls = new AtomicInteger(0)
  val preprocessCalls = new AtomicInteger(0)
}

class InferenceSpec extends SparkSpec {
  import sqlImplicits._

  private val reducerData = Seq(
    (Seq(10.0, 11.0, 12.0), Seq(-1.0)),
    (Seq(20.0, 21.0, 22.0), Seq(-2.0)),
    (Seq(1.0, 2.0, 3.0), Seq(-3.0)))

  private def reducerFn(expectDevice: String): Inference.InferenceFn[TestModels.Reducer] =
    (model, cols, device) => {
      assert(device == expectDevice)
      val x = cols(0).map(_.asInstanceOf[collection.Seq[Double]])
      val y = cols(1).map(_.asInstanceOf[collection.Seq[Double]])
      model(x, y)
    }

  // reference golden: expected [36.0, 69.0, 15.0]
  // (`tests/pytorch/test_spark_inference.py:182-215`)
  test("with_inference_column golden predictions (by-value artifact)") {
    val df = reducerData.toDF("feature1", "feature2")
    val model = Artifacts.broadcast(spark, TestModels.loadReducer())
    val out = Inference.withInferenceColumn(
      df, model, Seq("feature1", "feature2"), reducerFn("cpu"),
      DoubleType, batchSize = 1, outputCol = "predictions", numThreads = 1)
    out.select("predictions").collect().map(_.getDouble(0)).toSeq shouldBe
      Seq(36.0, 69.0, 15.0)
  }

  test("with_inference_column golden predictions (lazy serializable artifact)") {
    val df = reducerData.toDF("feature1", "feature2")
    val model = Artifacts.lazily(spark)(() => TestModels.loadReducer())
    val out = Inference.withInferenceColumn(
      df, model, Seq("feature1", "feature2"), reducerFn("cpu"),
      DoubleType, batchSize = 1, outputCol = "predictions", numThreads = 1)
    out.select("predictions").collect().map(_.getDouble(0)).toSeq shouldBe
      Seq(36.0, 69.0, 15.0)
    model.close()
  }

  // reference `test_with_inference_column_on_gpus`: mocked cuda → device
  // string "cuda:0" reaches the inference fn
  test("with_inference_column on gpu passes cuda device string") {
    val df = reducerData.toDF("feature1", "feature2")
    val model = Artifacts.broadcast(spark, TestModels.loadReducer())
    val out = Inference.withInferenceColumn(
      df, model, Seq("feature1", "feature2"), reducerFn("cuda:0"),
      DoubleType, batchSize = 1, outputCol = "predictions", numThreads = 1,
      gpus = Inference.GpuConf(nGpus = 1, fixedDevice = Some(0)))
    out.select("predictions").collect().map(_.getDouble(0)).toSeq shouldBe
      Seq(36.0, 69.0, 15.0)
  }

  // reference `test_with_inference_column_with_multiple_artifacts`:
  // translator + tokenizer, expected french strings
  test("with_inference_column with multiple artifacts") {
    val df = Seq("Hello world", "How are you").toDF("data")
    val artifacts = Artifacts.broadcastAll(
      spark, Seq(TestModels.loadTranslator(), TestModels.loadTokenizer()))
    val fn: Inference.InferenceFn[Seq[Any]] = (arts, cols, _) => {
      val model = arts(0).asInstanceOf[TestModels.Translator]
      val tokenizer = arts(1).asInstanceOf[TestModels.Tokenizer]
      val tokens = tokenizer.encode(cols(0).map(_.asInstanceOf[String]))
      tokenizer.decode(model(tokens))
    }
    val out = Inference.withInferenceColumn(
      df, artifacts, Seq("data"), fn, StringType,
      batchSize = 1, outputCol = "predictions", numThreads = 1)
    out.select("predictions").collect().map(_.getString(0)).toSeq shouldBe
      Seq("bonjour tout le monde", "comment vas tu")
  }

  test("with_inference_column with mixed lazy and by-value artifacts") {
    val df = Seq("Hello world").toDF("data")
    val lazyTok = Artifacts.lazily(spark)(() => TestModels.loadTokenizer())
    val artifacts = Artifacts.broadcastAll(
      spark, Seq(TestModels.loadTranslator(), lazyTok))
    val fn: Inference.InferenceFn[Seq[Any]] = (arts, cols, _) => {
      val tokenizer = arts(1).asInstanceOf[TestModels.Tokenizer]
      tokenizer.decode(cols(0).map(s => tokenizer.encode(Seq(s.asInstanceOf[String])).head))
    }
    val out = Inference.withInferenceColumn(
      df, artifacts, Seq("data"), fn, StringType, batchSize = 1, numThreads = 1)
    out.select("prediction").collect().map(_.getString(0)).toSeq shouldBe
      Seq("bonjour tout le monde")
  }

  // reference `test_with_inference_column_computed_once`
  // (`tests/pytorch/test_spark_inference.py:122-179`): a counter artifact;
  // the output column referenced twice must show one evaluation, not two.
  test("inference column is computed once even when referenced twice") {
    InferenceSpecState.inferenceCalls.set(0)
    val df = Seq((2.0, 3.0), (12.0, 13.0)).toDF("feature1", "feature2").coalesce(1)
    val model = Artifacts.broadcast(spark, "counter-model")
    val fn: Inference.InferenceFn[String] = (_, cols, _) => {
      val n = InferenceSpecState.inferenceCalls.incrementAndGet()
      cols(0).indices.map { i =>
        Seq(cols(0)(i).asInstanceOf[Double] + n, cols(1)(i).asInstanceOf[Double] + n)
      }
    }
    val out = Inference.withInferenceColumn(
      df, model, Seq("feature1", "feature2"), fn,
      ArrayType(DoubleType), batchSize = 2, outputCol = "predictions", numThreads = 1)
    val referencedTwice = out
      .withColumn("predictions1", out("predictions").getItem(0))
      .withColumn("predictions2", out("predictions").getItem(1))
      .drop("predictions")
    val rows = referencedTwice.collect()
    rows.map(_.getAs[Double]("predictions1")).toSeq shouldBe Seq(3.0, 13.0)
    rows.map(_.getAs[Double]("predictions2")).toSeq shouldBe Seq(4.0, 14.0)
    InferenceSpecState.inferenceCalls.get() shouldBe 1
  }

  // reference `test_with_inference_column_and_preprocessing`: preprocess
  // adds 10/5, reducer scores → [51.0, 84.0, 30.0]
  test("with_inference_column_and_preprocessing golden predictions") {
    val df = reducerData.toDF("feature1", "feature2")
    val model = Artifacts.broadcast(spark, TestModels.loadReducer())
    val preprocess: Inference.PreprocessFn[TestModels.Reducer] = (_, features, device) => {
      assert(device == "cpu")
      Seq(
        features(0).asInstanceOf[collection.Seq[Double]].map(_ + 10),
        features(1).asInstanceOf[collection.Seq[Double]].map(_ + 5))
    }
    val fn: Inference.InferenceFn[TestModels.Reducer] = (m, cols, _) =>
      m(cols(0).map(_.asInstanceOf[collection.Seq[Double]]), cols(1).map(_.asInstanceOf[collection.Seq[Double]]))
    val out = Inference.withInferenceColumnAndPreprocessing(
      df, model, Seq("feature1", "feature2"), preprocess, fn,
      DoubleType, batchSize = 2, outputCol = "predictions",
      numThreads = 1, numWorkersPreprocessing = 2)
    out.select("predictions").collect().map(_.getDouble(0)).toSeq shouldBe
      Seq(51.0, 84.0, 30.0)
  }

  // reference `test_with_inference_column_and_preprocessing_computed_once`
  test("preprocessing variant is computed once") {
    InferenceSpecState.inferenceCalls.set(0)
    val df = Seq((2.0, 3.0), (12.0, 13.0)).toDF("feature1", "feature2").coalesce(1)
    val model = Artifacts.broadcast(spark, "counter-model")
    val preprocess: Inference.PreprocessFn[String] = (_, features, _) => features
    val fn: Inference.InferenceFn[String] = (_, cols, _) => {
      val n = InferenceSpecState.inferenceCalls.incrementAndGet()
      cols(0).indices.map { i =>
        Seq(cols(0)(i).asInstanceOf[Double] + n, cols(1)(i).asInstanceOf[Double] + n)
      }
    }
    val out = Inference.withInferenceColumnAndPreprocessing(
      df, model, Seq("feature1", "feature2"), preprocess, fn,
      ArrayType(DoubleType), batchSize = 2, outputCol = "predictions",
      numThreads = 1, numWorkersPreprocessing = 2)
    val referencedTwice = out
      .withColumn("predictions1", out("predictions").getItem(0))
      .withColumn("predictions2", out("predictions").getItem(1))
      .drop("predictions")
    val rows = referencedTwice.collect()
    rows.map(_.getAs[Double]("predictions1")).toSeq shouldBe Seq(3.0, 13.0)
    rows.map(_.getAs[Double]("predictions2")).toSeq shouldBe Seq(4.0, 14.0)
    InferenceSpecState.inferenceCalls.get() shouldBe 1
  }

  test("preprocessing over a subset of the columns keeps every column") {
    val df = Seq((1L, 2.0, "a"), (2L, 3.5, "b")).toDF("id", "x", "tag")
    val model = Artifacts.broadcast(spark, 1.0)
    val preprocess: Inference.PreprocessFn[Double] = (_, features, _) =>
      Seq(features(0).asInstanceOf[Double] * 2)
    val fn: Inference.InferenceFn[Double] = (m, cols, _) =>
      cols(0).map(_.asInstanceOf[Double] + m)
    val out = Inference.withInferenceColumnAndPreprocessing(
      df, model, Seq("x"), preprocess, fn, DoubleType, batchSize = 2,
      outputCol = "p", numThreads = 1, numWorkersPreprocessing = 2)
    out.schema.fieldNames.toSeq shouldBe Seq("id", "x", "tag", "p")
    out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1).toSeq shouldBe Seq((1L, 2.0, "a", 5.0), (2L, 3.5, "b", 8.0))
  }

  // reference `test_with_retry`: failing fn logs maxRetry times, then raises
  test("withRetry retries maxRetry times then rethrows") {
    val errors = new AtomicInteger(0)
    an[RuntimeException] should be thrownBy {
      Retry.withRetry(3, _ => errors.incrementAndGet()) {
        throw new RuntimeException("Error")
      }
    }
    errors.get() shouldBe 3
  }

  test("withRetry returns the first successful result") {
    val attempts = new AtomicInteger(0)
    val r = Retry.withRetry(3) {
      if (attempts.incrementAndGet() < 3) throw new RuntimeException("transient")
      else "ok"
    }
    r shouldBe "ok"
    attempts.get() shouldBe 3
  }

  // sklearn shape (`tests/sklearn/test_sklearn_spark_inference.py`)
  private val logistic = Models.Logistic(Map("a" -> 0.8, "b" -> -0.5), 0.3)

  test("predict_proba column with positive-class extract (default name)") {
    val df = Seq((2.5, 6.5), (1.5, 3.5)).toDF("a", "b")
    val model = Artifacts.broadcast(spark, logistic)
    val out = Inference.withPredictProbaColumn[Models.Logistic](
      df, model,
      (m, names, cols) => m.predictProba(names, cols.map(_.toIndexedSeq)),
      outputType = DoubleType,
      postprocessing = Extractors.positiveClass)
    val expected = Seq((2.5, 6.5), (1.5, 3.5)).map { case (a, b) =>
      1.0 / (1.0 + math.exp(-(0.3 + 0.8 * a - 0.5 * b)))
    }
    val got = out.select("prediction").collect().map(_.getDouble(0)).toSeq
    got.zip(expected).foreach { case (g, e) => g shouldBe e +- 1e-12 }
  }

  test("predict_proba column with negative-class extract and custom name") {
    val df = Seq((2.5, 6.5), (1.5, 3.5)).toDF("a", "b")
    val model = Artifacts.broadcast(spark, logistic)
    val out = Inference.withPredictProbaColumn[Models.Logistic](
      df, model,
      (m, names, cols) => m.predictProba(names, cols.map(_.toIndexedSeq)),
      outputCol = "my_column",
      outputType = DoubleType,
      postprocessing = Extractors.negativeClass)
    val expected = Seq((2.5, 6.5), (1.5, 3.5)).map { case (a, b) =>
      1.0 - 1.0 / (1.0 + math.exp(-(0.3 + 0.8 * a - 0.5 * b)))
    }
    val got = out.select("my_column").collect().map(_.getDouble(0)).toSeq
    got.zip(expected).foreach { case (g, e) => g shouldBe e +- 1e-12 }
  }

  test("predict_proba validates inputs") {
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    an[IllegalArgumentException] should be thrownBy {
      Inference.withPredictProbaColumn[Models.Logistic](
        null, Artifacts.broadcast(spark, logistic),
        (m, names, cols) => m.predictProba(names, cols.map(_.toIndexedSeq)))
    }
    an[IllegalArgumentException] should be thrownBy {
      Inference.withPredictProbaColumn[Models.Logistic](df, null,
        (m, names, cols) => m.predictProba(names, cols.map(_.toIndexedSeq)))
    }
  }

  test("Logistic.predictProba equals the per-row formula bit for bit") {
    // the per-row form Logistic used before resolving coefficients per batch
    def reference(m: Models.Logistic, columns: Seq[String], rows: Seq[IndexedSeq[Any]]) = {
      val nRows = if (rows.isEmpty) 0 else rows.head.size
      (0 until nRows).map { r =>
        val z = m.intercept + columns.zipWithIndex.map { case (c, i) =>
          m.coef.getOrElse(c, 0.0) * rows(i)(r).asInstanceOf[Number].doubleValue()
        }.sum
        val p1 = 1.0 / (1.0 + math.exp(-z))
        Array(1.0 - p1, p1)
      }
    }
    val rnd = new scala.util.Random(17)
    val special = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, 1e300)
    def value(): Any = rnd.nextInt(6) match {
      case 0 => special(rnd.nextInt(special.size))
      case 1 => rnd.nextFloat() * 8 - 4
      case 2 => rnd.nextLong() % 1000
      case 3 => rnd.nextInt(50) - 25
      case _ => rnd.nextGaussian() * 3
    }
    val names = Seq("a", "b", "c", "d")
    for {
      coef <- Seq(Map("a" -> 0.8, "b" -> -0.5, "c" -> 0.0), Map("a" -> -0.0, "d" -> 1e-3), Map.empty[String, Double])
      intercept <- Seq(0.3, 0.0, -0.0)
      columns <- Seq(names, names.toIndexedSeq, names.take(1))
    } {
      val m = Models.Logistic(coef, intercept)
      val rows = columns.map(_ => IndexedSeq.fill(64)(value()))
      val got = m.predictProba(columns, rows)
      val want = reference(m, columns, rows)
      got.size shouldBe want.size
      // doubleToLongBits: the sign of a NaN follows operand order, which
      // the JIT may swap in a commutative add, so every NaN counts as one
      got.zip(want).foreach { case (g, w) =>
        g.map(java.lang.Double.doubleToLongBits).toSeq shouldBe
          w.map(java.lang.Double.doubleToLongBits).toSeq
      }
    }
  }

  test("non-serializable artifact is rejected at broadcast time") {
    class NotSerializable(val x: Object = new Object)
    an[IllegalArgumentException] should be thrownBy {
      Artifacts.broadcast(spark, new NotSerializable())
    }
  }

  // reference `split_in_batches` (`common/spark_inference.py:130-143`)
  test("splitInBatches does ceil-division slicing with a short last batch") {
    val cols = Seq(IndexedSeq(1, 2, 3, 4, 5), IndexedSeq(10, 20, 30, 40, 50))
    val batches = Inference.splitInBatches(cols, 2).toSeq
    batches.size shouldBe 3
    batches(0) shouldBe Seq(IndexedSeq(1, 2), IndexedSeq(10, 20))
    batches(2) shouldBe Seq(IndexedSeq(5), IndexedSeq(50))
    Inference.splitInBatches(Seq(IndexedSeq.empty[Int]), 4).toSeq shouldBe empty
  }

  test("batching boundaries: batchSize larger than the partition") {
    val df = reducerData.toDF("feature1", "feature2")
    val model = Artifacts.broadcast(spark, TestModels.loadReducer())
    val out = Inference.withInferenceColumn(
      df, model, Seq("feature1", "feature2"), reducerFn("cpu"),
      DoubleType, batchSize = 1000, outputCol = "predictions", numThreads = 1)
    out.select("predictions").collect().map(_.getDouble(0)).sorted.toSeq shouldBe
      Seq(15.0, 36.0, 69.0)
  }

  test("parallelMap surfaces a timeout as a RuntimeException") {
    val in = (1 to 4).iterator
    val out = Inference.parallelMap(in, workers = 2, prefetch = 2,
      timeout = java.time.Duration.ofMillis(50)) { i =>
      if (i == 3) Thread.sleep(5000)
      i
    }
    val e = intercept[RuntimeException] { out.toSeq }
    e.getMessage should include("timed out")
  }

  test("concurrent processes spread across GPUs under the file lock") {
    val dir = java.nio.file.Files.createTempDirectory("gpu-conc")
    val lock = dir.resolve("lock")
    val alloc = dir.resolve("allocation")
    // simulate 4 distinct worker processes (distinct pids, all alive)
    val pids = Seq(11L, 12L, 13L, 14L)
    val devices = pids.map { pid =>
      GpuAllocator.resetCachedDevice()
      GpuAllocator.getCudaDevice(2, lock, alloc, pid, () => pids.toSet)
    }
    GpuAllocator.resetCachedDevice()
    // least-loaded round-robin: 2 processes per GPU
    devices.groupBy(identity).view.mapValues(_.size).toMap shouldBe
      Map(0 -> 2, 1 -> 2)
  }

  test("parallelMap preserves input order under concurrency") {
    val in = (1 to 100).iterator
    val out = Inference.parallelMap(in, workers = 4, prefetch = 8,
      timeout = java.time.Duration.ofSeconds(10)) { i =>
      if (i % 7 == 0) Thread.sleep(5)
      i * 2
    }
    out.toSeq shouldBe (1 to 100).map(_ * 2)
  }

  test("output schema appends the prediction column") {
    val df = reducerData.toDF("feature1", "feature2")
    val model = Artifacts.broadcast(spark, TestModels.loadReducer())
    val out = Inference.withInferenceColumn(
      df, model, Seq("feature1", "feature2"), reducerFn("cpu"),
      DoubleType, batchSize = 1, outputCol = "p", numThreads = 1)
    out.schema.fieldNames.toSeq shouldBe Seq("feature1", "feature2", "p")
    out.schema("p").dataType shouldBe DoubleType
  }
}
