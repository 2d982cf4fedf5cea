package graft.spark

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, GetStructField, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Several graft sketch aggregates of one `GROUP BY`, run as one aggregate
  * with one buffer per group: an array of the member sketches. `update`
  * and `merge` loop over the members, so a row costs one buffer get and
  * set instead of one per sketch. `eval` returns the struct of the
  * members' `eval`, so every member's result bytes are the ones it gives
  * alone. The shuffle and spill image is the members' partial images, each
  * after its length (4 bytes, big-endian). [[SketchBundle]] builds it. */
case class SketchBundleAgg(
    members: Seq[Expression], // each a BinarySketchAgg
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[AnyRef]] {

  @transient private lazy val fns: Array[TypedImperativeAggregate[AnyRef]] =
    members.map(_.asInstanceOf[TypedImperativeAggregate[AnyRef]]).toArray

  override def children: Seq[Expression] = members
  override def nullable: Boolean = false
  override def prettyName: String = "sketch_bundle"
  override lazy val dataType: DataType = StructType(members.zipWithIndex.map { case (m, i) =>
    StructField(s"_$i", m.dataType, m.nullable)
  })

  override def createAggregationBuffer(): Array[AnyRef] = {
    val buf = new Array[AnyRef](fns.length)
    var i = 0
    while (i < fns.length) { buf(i) = fns(i).createAggregationBuffer(); i += 1 }
    buf
  }

  override def update(buf: Array[AnyRef], input: InternalRow): Array[AnyRef] = {
    var i = 0
    while (i < fns.length) { buf(i) = fns(i).update(buf(i), input); i += 1 }
    buf
  }

  override def merge(buf: Array[AnyRef], other: Array[AnyRef]): Array[AnyRef] = {
    var i = 0
    while (i < fns.length) { buf(i) = fns(i).merge(buf(i), other(i)); i += 1 }
    buf
  }

  override def eval(buf: Array[AnyRef]): Any = {
    val out = new Array[Any](fns.length)
    var i = 0
    while (i < fns.length) { out(i) = fns(i).eval(buf(i)); i += 1 }
    new GenericInternalRow(out)
  }

  override def serialize(buf: Array[AnyRef]): Array[Byte] = {
    val images = new Array[Array[Byte]](fns.length)
    var size = 0
    var i = 0
    while (i < fns.length) { images(i) = fns(i).serialize(buf(i)); size += 4 + images(i).length; i += 1 }
    val out = ByteBuffer.allocate(size)
    images.foreach(image => out.putInt(image.length).put(image))
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[AnyRef] = {
    val in = ByteBuffer.wrap(bytes)
    val buf = new Array[AnyRef](fns.length)
    var i = 0
    while (i < fns.length) {
      val image = new Array[Byte](in.getInt())
      in.get(image)
      buf(i) = fns(i).deserialize(image)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): SketchBundleAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchBundleAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchBundleAgg = copy(members = c)
}

/** Optimizer rule: an `Aggregate` that holds two or more distinct graft
  * sketch aggregates ([[BinarySketchAgg]], non-DISTINCT, unfiltered) gets
  * them as one [[SketchBundleAgg]]; each becomes `GetStructField(bundle, i)`.
  * Every occurrence shares one `AggregateExpression`, which Spark's
  * physical aggregation evaluates once.
  *
  * Left alone: streaming plans, whose state-store schema is the aggregate
  * buffers' and must not change between versions, and an `Aggregate` with
  * a DISTINCT aggregate, whose rewrite (`RewriteDistinctAggregates`)
  * projects the regular aggregates' children and so needs them to be
  * columns. Idempotent: a bundled `Aggregate` holds no unbundled member.
  *
  * `GraftFunctions.register` and `GraftExtensions` install it wherever they
  * install the function table. */
object SketchBundle extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if !a.isStreaming => bundle(a)
    }

  private def bundle(a: Aggregate): Aggregate = {
    val exprs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (exprs.exists(_.isDistinct)) return a
    // member index by canonical form, so equal sketches share a member
    val index = scala.collection.mutable.LinkedHashMap.empty[Expression, Int]
    val members = Seq.newBuilder[Expression]
    exprs.foreach {
      case ae @ AggregateExpression(f: BinarySketchAgg[_], _, false, None, _) if !index.contains(ae.canonicalized) =>
        index(ae.canonicalized) = index.size
        members += f
      case _ =>
    }
    if (index.size < 2) a
    else {
      val bundled = SketchBundleAgg(members.result()).toAggregateExpression()
      a.copy(aggregateExpressions = a.aggregateExpressions.map(_.transformDown {
        case ae: AggregateExpression if index.contains(ae.canonicalized) =>
          GetStructField(bundled, index(ae.canonicalized))
      }.asInstanceOf[NamedExpression]))
    }
  }
}
