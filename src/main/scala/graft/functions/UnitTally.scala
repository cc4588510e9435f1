package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Per-unit `(rows, invalid rows, violations)` of an audited batch as ONE
  * deterministic aggregate. `unit` is the row's unit index in
  * `[0, units)`, `violations` its violation count. The result is a
  * long[3·units] array: unit `i`'s three counts sit at `3i`, `3i+1`,
  * `3i+2`.
  *
  * An `Observation` cannot group, and one `sum(when(unit = i, …))` per
  * unit and metric grows the plan with the batch size; this aggregate keeps
  * the plan one expression whatever the batch holds. The state is a dense
  * buffer, so `units` is kept small (an audited batch holds at most
  * `CheckpointedRun.BatchUnits`). */
case class UnitTally(unit: Expression, violations: Expression, units: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  override def left: Expression = unit
  override def right: Expression = violations
  override def prettyName: String = "unit_tally"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](3 * units)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val u = unit.eval(input)
    if (u == null) return buffer
    val i = 3 * u.asInstanceOf[Int]
    buffer(i) += 1
    val v = violations.eval(input)
    if (v != null && v.asInstanceOf[Int] > 0) {
      buffer(i + 1) += 1
      buffer(i + 2) += v.asInstanceOf[Int]
    }
    buffer
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buffer.length)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = createAggregationBuffer()
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): UnitTally =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): UnitTally =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): UnitTally =
    copy(unit = newLeft, violations = newRight)
}

object UnitTally {
  def unit_tally(unit: Column, violations: Column, units: Int): Column =
    ColumnBridge.toCol(UnitTally(ColumnBridge.toExpr(unit), ColumnBridge.toExpr(violations),
      units).toAggregateExpression())
}
