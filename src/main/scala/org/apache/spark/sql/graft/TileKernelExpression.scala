package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The one evaluation template of the per-row expressions: the `rq_*` tile
  * kernels (which hold a [[graft.raquet.BandKernel]] or
  * [[graft.raquet.BandPairKernel]]) and the image, audio, geometry, CF-time,
  * tokenizer and IVF expressions. Each states its value once, as `compute`
  * over its children's values (declared by [[UnaryTileKernel]] …
  * [[QuaternaryTileKernel]]); `eval` and the generated code both call it.
  *
  *  - A null in a required child gives null without calling `compute`; a
  *    child in [[optionalInputs]] reaches `compute` as null.
  *  - A null from `compute` gives null.
  *  - The generated code evaluates the children inline, binds this
  *    expression object through `addReferenceObj` and calls its `compute`:
  *    one monomorphic call, with a primitive child value (a `block` long)
  *    boxed. The kernel, geometry, breaks, levels, widths, op names and
  *    every other plan-time constant stay fields of the object and never
  *    become Java text, so every constant value shares one compiled class
  *    and a non-finite one (`±Infinity`, `NaN`) cannot break the source.
  *  - State built from those constants (a parsed geometry, a token rank
  *    table) lives in non-transient lazy vals that [[buildPlanTimeState]]
  *    forces before the object is bound, so the driver builds it once and
  *    it ships built with the plan instead of being rebuilt in every task.
  *
  * The call and the box are noise next to a decode, a parse or a pixel
  * loop. Expressions whose per-row work is one static call on primitives
  * stay hand-written, where the box would be the main cost: the eight
  * `quadbin_*` cell functions and `bloom_might_contain`. So do
  * [[QuadbinInRanges]] and [[ParamLit]], whose generated code is their
  * point. A spec (`TileKernelSpec`) fails if any other class overrides
  * `doGenCode`.
  */
trait TileKernelExpression extends Expression with ImplicitCastInputTypes {

  /** Positions of the children `compute` receives as null, instead of the
    * expression giving null. */
  protected def optionalInputs: Set[Int] = Set.empty

  /** `compute` over the children's values, in child order. */
  protected def computeValues(in: Array[Any]): Any

  /** Forces the lazily built plan-time state `compute` reads; called on the
    * driver before this object is bound into generated code. */
  protected def buildPlanTimeState(): Unit = ()

  override def eval(input: InternalRow): Any = {
    val in = new Array[Any](children.length)
    var i = 0
    while (i < in.length) {
      in(i) = children(i).eval(input)
      if (in(i) == null && !optionalInputs(i)) return null
      i += 1
    }
    computeValues(in)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    buildPlanTimeState()
    val self = ctx.addReferenceObj("kernelExpr", this, getClass.getName)
    val in = children.map(_.genCode(ctx))
    val required = in.indices.filterNot(optionalInputs).map(i => s"!${in(i).isNull}")
    val args = children.indices.map { i =>
      val t = children(i).dataType
      val v = if (CodeGenerator.isPrimitiveType(t))
        s"${CodeGenerator.boxedType(t)}.valueOf(${in(i).value})"
      else s"${in(i).value}"
      if (optionalInputs(i)) s"${in(i).isNull} ? null : $v" else v
    }
    val out = ctx.freshName("out")
    val javaType = CodeGenerator.javaType(dataType)
    val value =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $out).${javaType}Value()"
      else s"($javaType) $out"
    val childCode: Block = in.map(_.code).reduceLeft(_ + _)
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (${(required :+ "true").mkString(" && ")}) {
          Object $out = $self.compute(${args.mkString(", ")});
          if ($out != null) { ${ev.isNull} = false; ${ev.value} = $value; }
        }
      """)
  }
}

/** A [[TileKernelExpression]] over one child. */
trait UnaryTileKernel extends UnaryExpression with TileKernelExpression {
  def compute(in: Any): Any
  protected final def computeValues(in: Array[Any]): Any = compute(in(0))
}

/** A [[TileKernelExpression]] over two children. */
trait BinaryTileKernel extends BinaryExpression with TileKernelExpression {
  def compute(in1: Any, in2: Any): Any
  protected final def computeValues(in: Array[Any]): Any = compute(in(0), in(1))
}

/** A [[TileKernelExpression]] over three children. */
trait TernaryTileKernel extends TernaryExpression with TileKernelExpression {
  def compute(in1: Any, in2: Any, in3: Any): Any
  protected final def computeValues(in: Array[Any]): Any = compute(in(0), in(1), in(2))
}

/** A [[TileKernelExpression]] over four children. */
trait QuaternaryTileKernel extends QuaternaryExpression with TileKernelExpression {
  def compute(in1: Any, in2: Any, in3: Any, in4: Any): Any
  protected final def computeValues(in: Array[Any]): Any =
    compute(in(0), in(1), in(2), in(3))
}
