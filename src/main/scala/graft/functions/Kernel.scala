package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftext.ColumnBridge
import org.apache.spark.sql.types._

/** The one Catalyst expression behind every codegen'd kernel: the static
  * call `owner.method(children..., args...)`, emitted as is into
  * whole-stage codegen and invoked by reflection in interpreted eval.
  * Reference constants (a PQ codebook, a Bloom filter) ride the plan
  * through `ctx.addReferenceObj`; array constants are held as `ArraySeq`,
  * so plans built from equal codebooks are equal (`sameResult`, cache
  * reuse).
  *
  * Derived, not configured: a null child gives null without a call, and
  * a boxed or reference return may itself be null (a primitive return is
  * nullable only through its children); a child whose accepted types are
  * all [[Kernel.NumericArrays]] is passed followed by its element kind. */
case class Kernel(name: String, owner: Class[_], method: String,
                  dataType: DataType, accepts: Seq[Seq[DataType]],
                  children: Seq[Expression], args: Seq[Any])
    extends Expression {

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ args.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(accepts).zipWithIndex.collectFirst {
      case ((c, ts), i)
          if !ts.exists(ColumnBridge.sameShape(c.dataType, _)) =>
        TypeCheckResult.TypeCheckFailure(s"$name expects " +
          s"${ts.map(_.simpleString).mkString(" or ")} as input ${i + 1}, " +
          s"got ${c.dataType.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** Per child: its element kind, or -1 when it is not a numeric array. */
  @transient private lazy val kinds: Seq[Int] = children.zip(accepts).map {
    case (c, ts) if ts.forall(Kernel.NumericArrays.contains) =>
      Kernel.NumericArrays.indexWhere(ColumnBridge.sameShape(c.dataType, _))
    case _ => -1
  }

  /** Each child's value, then its kind if it has one, then the constants. */
  private def arguments[T](values: Seq[T], kind: Int => T,
                           constants: Seq[T]): Seq[T] =
    values.zip(kinds).flatMap { case (v, k) =>
      if (k < 0) Seq(v) else Seq(v, kind(k))
    } ++ constants

  @transient private lazy val target: java.lang.reflect.Method = {
    val want = arguments[Class[_]](
      children.map(c => CodeGenerator.javaClass(c.dataType)), _ => Integer.TYPE,
      args.map {
        case _: Int => Integer.TYPE
        case _: Long => java.lang.Long.TYPE
        case _: Boolean => java.lang.Boolean.TYPE
        case ref => Kernel.unwrap(ref).getClass
      })
    owner.getMethods.filter(m => m.getName == method &&
      java.lang.reflect.Modifier.isStatic(m.getModifiers) &&
      m.getParameterCount == want.size &&
      m.getParameterTypes.zip(want).forall(p => p._1.isAssignableFrom(p._2)))
    match {
      case Array(m) => m
      case found => throw new IllegalStateException(s"$name: ${found.length}" +
        s" static ${owner.getName}.$method(${want.mkString(", ")}) methods")
    }
  }

  override def nullable: Boolean =
    !target.getReturnType.isPrimitive || children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val values = children.map(_.eval(input).asInstanceOf[AnyRef])
    if (values.contains(null)) null
    else target.invoke(null, arguments[AnyRef](values, Int.box,
      args.map(Kernel.unwrap)): _*)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                    ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val constants = args.zip(target.getParameterTypes.takeRight(args.size))
      .map {
        case (i: Int, _) => s"$i"
        case (l: Long, _) => s"${l}L"
        case (b: Boolean, _) => s"$b"
        case (ref, p) => ctx.addReferenceObj("kernelArg", Kernel.unwrap(ref),
          p.getCanonicalName)
      }
    val call = arguments[String](evs.map(_.value.toString), k => s"$k",
      constants).mkString(s"${owner.getName}.$method(", ", ", ")")
    val t = CodeGenerator.javaType(dataType)
    val ret = target.getReturnType
    val assign = if (ret.isPrimitive) s"${ev.value} = $call;" else {
      val r = ctx.freshName("kernelOut")
      s"""${ret.getCanonicalName} $r = $call;
         |${ev.isNull} = $r == null;
         |if (!${ev.isNull}) ${ev.value} = ($t) $r;""".stripMargin
    }
    val nullIn = children.zip(evs).collect {
      case (c, e) if c.nullable => e.isNull.toString
    }
    ev.copy(code = code"""
      ${Block.blocksToBlock(evs.map(_.code))}
      boolean ${ev.isNull} = ${nullIn.reduceOption(_ + " || " + _)
        .getOrElse("false")};
      $t ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        $assign
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object Kernel {

  /** The numeric arrays a kernel may read; an input's element kind is its
    * index here, read back by [[elem]]. */
  val NumericArrays: Seq[DataType] =
    Seq(DoubleType, FloatType, LongType, IntegerType, ShortType, ByteType)
      .map(ArrayType(_))

  /** Element `i` of a numeric array of kind `kind`, widened to double. */
  def elem(a: ArrayData, i: Int, kind: Int): Double = kind match {
    case 0 => a.getDouble(i)
    case 1 => a.getFloat(i).toDouble
    case 2 => a.getLong(i).toDouble
    case 3 => a.getInt(i).toDouble
    case 4 => a.getShort(i).toDouble
    case _ => a.getByte(i).toDouble
  }

  /** The column `owner.method(inputs..., args...)`, shown as `name`:
    * `owner` is the kernel's Scala object, each input comes with the types
    * it accepts, and `args` are constants (ints, longs and booleans are
    * inlined into the generated code, other objects are references). */
  def call(name: String, owner: AnyRef, method: String, dataType: DataType,
           inputs: Seq[(Column, Seq[DataType])], args: Any*): Column = {
    val module = owner.getClass
    ColumnBridge.column(Kernel(name, Class.forName(
      module.getName.stripSuffix("$"), true, module.getClassLoader), method,
      dataType, inputs.map(_._2), inputs.map(i => ColumnBridge.expression(i._1)),
      args.map { case a: Array[_] => ArraySeq.unsafeWrapArray(a); case x => x }))
  }

  private def unwrap(x: Any): AnyRef = x match {
    case a: ArraySeq[_] => a.unsafeArray
    case other => other.asInstanceOf[AnyRef]
  }
}
