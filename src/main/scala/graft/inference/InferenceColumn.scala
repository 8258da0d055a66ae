package graft.inference

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ExpressionBridge
import org.apache.spark.sql.types._

/** Scoring as a Catalyst operator: appends `score` to every row of
  * `child`, computed by `scorer` from the values of `inputs`.
  *
  * `scorer` runs once per partition. It receives one value vector per
  * row (the input columns in order, each value as `Row.get` gives it)
  * and returns one score per row, in row order.
  *
  * The node declares `inputs` as its only references, so Spark's
  * `ColumnPruning` narrows the child to the input columns plus what the
  * consumer reads: unread columns are never scanned or decoded.
  */
private[inference] final case class InferenceColumn(
    inputs: Seq[Attribute],
    score: Attribute,
    scorer: Iterator[IndexedSeq[Any]] => Iterator[Any],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ score
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override protected def stringArgs: Iterator[Any] = Iterator(inputs, score)
  override protected def withNewChildInternal(newChild: LogicalPlan): InferenceColumn =
    copy(child = newChild)
}

private[inference] object InferenceColumn {

  /** `df` with `outputCol` of `outputType` appended, scored by `scorer`
    * over `inputCols`.
    */
  def append(df: DataFrame, inputCols: Seq[String], outputCol: String, outputType: DataType)(
      scorer: Iterator[IndexedSeq[Any]] => Iterator[Any]): DataFrame = {
    val spark = df.sparkSession
    ExpressionBridge.addStrategy(spark, InferenceColumnStrategy)
    val child = ExpressionBridge.analyzedPlan(df)
    val inputs = inputCols.map(c => child.output(df.schema.fieldIndex(c)))
    val score = AttributeReference(outputCol, outputType, nullable = true)()
    val node = InferenceColumn(inputs, score, scorer, child)
    // The score leaves the node through an alias: on a self-join,
    // DeduplicateRelations re-aliases the Project of the right side,
    // while it cannot mint a new id for an attribute the node produces.
    ExpressionBridge.dataFrame(spark, Project(child.output :+ Alias(score, outputCol)(), node))
  }
}

private[inference] object InferenceColumnStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case InferenceColumn(inputs, score, scorer, child) =>
      InferenceColumnExec(inputs, score, scorer, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Per partition: decode the input columns of each row, buffer the
  * copied rows until their scores come back, and append each score with
  * a `JoinedRow` and one `UnsafeProjection`.
  */
private[inference] final case class InferenceColumnExec(
    inputs: Seq[Attribute],
    score: Attribute,
    scorer: Iterator[IndexedSeq[Any]] => Iterator[Any],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ score
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def stringArgs: Iterator[Any] = Iterator(inputs, score)
  override protected def withNewChildInternal(newChild: SparkPlan): InferenceColumnExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val ordinals = inputs.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val types = inputs.map(_.dataType).toArray
    val scorer = this.scorer
    val out = output
    val scoreType = score.dataType
    child.execute().mapPartitions { rows =>
      val decoders = types.indices.map(i => InferenceColumnExec.decoder(types(i), ordinals(i))).toArray
      val pending = new java.util.ArrayDeque[InternalRow]()
      val values = rows.map { r =>
        val row = r.copy()
        pending.add(row)
        val v = new Array[Any](decoders.length)
        var i = 0
        while (i < v.length) { v(i) = decoders(i)(row); i += 1 }
        ArraySeq.unsafeWrapArray(v)
      }
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(scoreType)
      val scoreRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(out, out)
      scorer(values).map { p =>
        scoreRow.update(0, toCatalyst(p))
        project(joined(pending.poll(), scoreRow))
      }
    }
  }
}

private[inference] object InferenceColumnExec {

  /** The value `Row.get(ordinal)` gives for a column of type `dt`:
    * boxed primitives, `String`, `mutable.ArraySeq` over a primitive
    * array when the array holds no null, and the Row decoder of a
    * one-field struct for everything else. That decoder is built in the
    * task, where `SQLConf.get` reads the session's settings (such as
    * `spark.sql.datetime.java8API.enabled`).
    */
  def decoder(dt: DataType, ordinal: Int): InternalRow => Any = {
    lazy val generic: InternalRow => Any = {
      val deserialize = ExpressionEncoder(StructType(Seq(StructField("v", dt))))
        .resolveAndBind().createDeserializer()
      val one = new GenericInternalRow(1)
      r => { one.update(0, r.get(ordinal, dt)); deserialize(one).get(0) }
    }
    def primitiveArray(containsNull: Boolean)(toSeq: ArrayData => Any): InternalRow => Any = r => {
      val a = r.getArray(ordinal)
      var hasNull = false
      var i = 0
      while (containsNull && !hasNull && i < a.numElements()) { hasNull = a.isNullAt(i); i += 1 }
      if (hasNull) generic(r) else toSeq(a)
    }
    val decode: InternalRow => Any = dt match {
      case BooleanType => _.getBoolean(ordinal)
      case ByteType => _.getByte(ordinal)
      case ShortType => _.getShort(ordinal)
      case IntegerType => _.getInt(ordinal)
      case LongType => _.getLong(ordinal)
      case FloatType => _.getFloat(ordinal)
      case DoubleType => _.getDouble(ordinal)
      case _: StringType => _.getUTF8String(ordinal).toString
      case ArrayType(et, cn) => et match {
        case BooleanType => primitiveArray(cn)(a => mutable.ArraySeq.make(a.toBooleanArray()))
        case ByteType => primitiveArray(cn)(a => mutable.ArraySeq.make(a.toByteArray()))
        case ShortType => primitiveArray(cn)(a => mutable.ArraySeq.make(a.toShortArray()))
        case IntegerType => primitiveArray(cn)(a => mutable.ArraySeq.make(a.toIntArray()))
        case LongType => primitiveArray(cn)(a => mutable.ArraySeq.make(a.toLongArray()))
        case FloatType => primitiveArray(cn)(a => mutable.ArraySeq.make(a.toFloatArray()))
        case DoubleType => primitiveArray(cn)(a => mutable.ArraySeq.make(a.toDoubleArray()))
        case _ => generic(_)
      }
      case _ => generic(_)
    }
    r => if (r.isNullAt(ordinal)) null else decode(r)
  }
}
