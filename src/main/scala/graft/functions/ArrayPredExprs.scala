package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Codegen-capable element loops replacing the `forall` / `size(filter)`
  * higher-order functions in the compiled array keywords (items,
  * contains). Spark's HOFs have no doGenCode, and ONE of them evicts
  * every sibling expression from WholeStageCodegen — q_validate_nested's
  * whole per-check aggregation ran interpreted because of two `forall`s
  * and one `filter` (r06 plan audit: both HashAggregates outside `*(n)`).
  *
  * The element predicate is a RESOLVED expression over
  * `BoundReference(0, elementType)`, hidden from the operator tree (not a
  * child), compiled once per thread into a MutableProjection (itself
  * codegen'd) and applied per element. Hiding it from the tree keeps the
  * outer plan's subexpression elimination from hoisting fragments whose
  * BoundReference would rebind against the wrong input row; the builders
  * below fall back to the plain HOF when the bound predicate does not
  * resolve without analyzer coercion, so semantics can never drift.
  */
abstract class ElemLoopExpr extends UnaryExpression {
  def elemPred: Expression

  @transient private lazy val proj = new ThreadLocal[MutableProjection] {
    override def initialValue(): MutableProjection = {
      val p = MutableProjection.create(Seq(elemPred))
      p.initialize(0)
      p
    }
  }
  @transient private lazy val rowTL = new ThreadLocal[GenericInternalRow] {
    override def initialValue(): GenericInternalRow = new GenericInternalRow(1)
  }

  protected def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  /** elem outcome per element: 1 true, 0 false, -1 null. */
  protected final def evalElem(arr: ArrayData, i: Int): Byte = {
    val row = rowTL.get()
    row.update(0, if (arr.isNullAt(i)) null else arr.get(i, elemType))
    val out = proj.get()(row)
    if (out.isNullAt(0)) -1 else if (out.getBoolean(0)) 1 else 0
  }
}

/** Three-valued forall over an array, matching `forall(c, f)` exactly:
  * any false → false; else any null → null; else true; null array → null.
  * Unlike `forall`, it stops at the first false element: an element
  * predicate that could throw on a later element (an ANSI-mode cast or
  * regex error) yields false here where the HOF form would raise. Sessions
  * run with ANSI off, so the two agree. */
case class ForallElems(child: Expression, elemPred: Expression) extends ElemLoopExpr {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  /** 1 true / 0 false / -1 null over the whole array. */
  def loop3(arr: ArrayData): Byte = {
    val n = arr.numElements()
    var sawNull = false
    var i = 0
    while (i < n) {
      val r = evalElem(arr, i)
      if (r == 0) return 0
      if (r < 0) sawNull = true
      i += 1
    }
    if (sawNull) -1 else 1
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else loop3(v.asInstanceOf[ArrayData]) match {
      case 1  => true
      case 0  => false
      case _  => null
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("forallElems", this, classOf[ForallElems].getName)
    val childGen = child.genCode(ctx)
    val r = ctx.freshName("r")
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        boolean ${ev.value} = false;
        if (!${childGen.isNull}) {
          byte $r = $ref.loop3(${childGen.value});
          ${ev.isNull} = $r < 0;
          ${ev.value} = $r == 1;
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): ForallElems =
    copy(child = newChild)
}

/** Count of elements whose predicate is TRUE (null/false not counted) —
  * the codegen replacement for `size(filter(c, f))`; null array → null
  * (matching size(null) under non-legacy sizeOfNull... see builder). */
case class CountTrueElems(child: Expression, elemPred: Expression) extends ElemLoopExpr {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  def count(arr: ArrayData): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (evalElem(arr, i) == 1) c += 1
      i += 1
    }
    c
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else count(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countTrueElems", this, classOf[CountTrueElems].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.count($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): CountTrueElems =
    copy(child = newChild)
}

object arrexprs {
  private def boundPred(et: DataType, containsNull: Boolean,
                        f: Column => Column): Option[Expression] = {
    val x = ColumnBridge.toCol(BoundReference(0, et, containsNull))
    org.apache.spark.sql.graftshim.ExprAnalyze.coerceBound(f(x))
      .filter(_.dataType == BooleanType)
  }

  /** `forall(c, f)` with codegen when the bound element predicate resolves
    * without analyzer coercion; plain HOF otherwise (identical results). */
  def forall_elems(c: Column, et: DataType, containsNull: Boolean,
                   f: Column => Column): Column =
    boundPred(et, containsNull, f) match {
      case Some(p) => ColumnBridge.toCol(ForallElems(ColumnBridge.toExpr(c), p))
      case None => org.apache.spark.sql.functions.forall(c, f)
    }

  /** `size(filter(c, f))` with codegen when the bound predicate resolves;
    * HOF fallback otherwise. */
  def count_true(c: Column, et: DataType, containsNull: Boolean,
                 f: Column => Column): Column =
    boundPred(et, containsNull, f) match {
      case Some(p) => ColumnBridge.toCol(CountTrueElems(ColumnBridge.toExpr(c), p))
      case None =>
        org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.filter(c, f))
    }
}
