package graft.inference

/** Small pure-Scala model surface so the engine stays dependency-free
  * (SURVEY §7.2 PR 3: "Model surface is a pure-Scala ModelHandle"). Real
  * tensor runtimes plug in through the same [[Inference.InferenceFn]]
  * contract.
  */
object Models {

  /** Linear model over an array column: sequential left-fold dot product.
    * The fold order is part of the contract — it makes the double result
    * bit-reproducible across engines (the DuckDB oracle reproduces the
    * same left-to-right accumulation).
    */
  final case class ArrayLinear(weights: Array[Double]) extends Serializable {
    // collection.Seq: Spark Rows surface array columns as mutable.ArraySeq
    def score(v: scala.collection.Seq[Float]): Double = {
      var acc = 0.0
      var i = 0
      val n = math.min(v.length, weights.length)
      while (i < n) { acc += v(i).toDouble * weights(i); i += 1 }
      acc
    }
  }

  /** Binary logistic model over named double columns (the sklearn-shape
    * `predict_proba` fixture: `tests/sklearn/test_sklearn_spark_inference.py`).
    * Returns [P(class 0), P(class 1)] per row.
    *
    * The coefficients are resolved per column once per batch. Every
    * column enters the sum, even one whose coefficient is 0.0, so a NaN
    * anywhere still gives NaN; `z = intercept + ((t0 + t1) + ...)`.
    */
  final case class Logistic(coef: Map[String, Double], intercept: Double)
      extends Serializable {
    def predictProba(columns: Seq[String], rows: Seq[IndexedSeq[Any]]): Seq[Array[Double]] = {
      val nRows = if (rows.isEmpty) 0 else rows.head.size
      val k = columns.map(coef.getOrElse(_, 0.0)).toArray
      val cols = rows.toArray
      (0 until nRows).map { r =>
        var sum = 0.0
        var i = 0
        while (i < k.length) {
          val t = k(i) * cols(i)(r).asInstanceOf[Number].doubleValue()
          sum = if (i == 0) t else sum + t
          i += 1
        }
        val p1 = 1.0 / (1.0 + math.exp(-(intercept + sum)))
        Array(1.0 - p1, p1)
      }
    }
  }
}
