package graft.spark.fns

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** One static kernel call, `owner.method(args)`, where `owner` is a Scala
  * object: the whole body of a [[KernelExpr]]. An argument that is one of
  * the expression's children stands for the child's value, a [[KernelArg]]
  * for state of the generated class, and an Int or a Long for itself (a
  * Java literal in the generated code). The generated code calls the
  * object's static forwarder, and interpreted eval invokes that same
  * method, so the two paths cannot call different code. */
final class Kernel(val owner: AnyRef, val method: String, val args: Seq[Any])

object Kernel {
  def apply(owner: AnyRef, method: String, args: Any*): Kernel = new Kernel(owner, method, args)

  /** The class holding the static forwarders of the object `owner`. */
  private[fns] def className(owner: AnyRef): String = owner.getClass.getName.stripSuffix("$")

  /** The static forwarder `owner.method` whose parameters have `types`; a
    * null type matches any parameter. */
  private[fns] def static(owner: AnyRef, method: String, types: Seq[Class[_]]): Method =
    Class.forName(className(owner), true, owner.getClass.getClassLoader)
      .getMethods.find(m => m.getName == method && Modifier.isStatic(m.getModifiers) &&
        m.getParameterCount == types.length &&
        m.getParameterTypes.zip(types).forall { case (p, t) => t == null || p == t })
      .map { m => m.setAccessible(true); m } // no access check per call
      .getOrElse(throw new NoSuchMethodException(
        s"static ${className(owner)}.$method(${types.mkString(", ")})"))

  private[fns] def invoke(m: Method, args: Array[AnyRef]): Any =
    try m.invoke(null, args: _*) catch { case e: InvocationTargetException => throw e.getCause }
}

/** A kernel argument held by the generated class: a field the generated
  * code sets once, and the value interpreted eval passes in its place. */
trait KernelArg {
  def javaClass: Class[_]
  /** Declares and initializes the field; its name. */
  def code(ctx: CodegenContext): String
  def value: Any
}

/** A scalar expression that is one [[Kernel]] call over its children's
  * values, null in and null out. Its children are the case class's
  * `Expression` fields (or the elements of an `Expression` sequence field)
  * in order. The base supplies interpreted eval, the generated code (the
  * one static call under the children's null checks) and child
  * replacement, so a subclass declares only its kernel, data type and
  * name; plan strings and column names stay the case class's. */
trait KernelExpr extends Expression {
  protected def kernel: Kernel

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  @transient override lazy val children: Seq[Expression] = productIterator.flatMap {
    case e: Expression => Iterator(e)
    case es: Seq[_] => es.iterator.collect { case e: Expression => e }
    case _ => Iterator.empty
  }.toIndexedSeq

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = legacyWithNewChildren(newChildren)

  @transient private lazy val call: Kernel = kernel

  /** Each kernel argument as a [[ChildValue]], a [[KernelArg]] or a [[Constant]]. */
  @transient private lazy val slots: Array[Any] = call.args.map {
    case e: Expression =>
      val i = children.indexWhere(_ eq e)
      require(i >= 0, s"$prettyName: kernel argument $e is not a child")
      ChildValue(i)
    case a: KernelArg => a
    case c @ (_: Int | _: Long) => Constant(c)
    case other => throw new IllegalArgumentException(s"$prettyName: kernel argument $other")
  }.toArray

  @transient private lazy val method: Method = Kernel.static(call.owner, call.method,
    slots.toSeq.map {
      case ChildValue(i) => CodeGenerator.javaClass(children(i).dataType)
      case a: KernelArg => a.javaClass
      case Constant(_: Int) => java.lang.Integer.TYPE
      case _ => java.lang.Long.TYPE
    })

  /** The argument slot of each child: every child is one kernel argument. */
  @transient private lazy val childSlot: Array[Int] = {
    val at = children.indices.map(i => slots.indexOf(ChildValue(i)))
    require(at.forall(_ >= 0) && slots.count(_.isInstanceOf[ChildValue]) == children.length,
      s"$prettyName: every child must be exactly one kernel argument")
    at.toArray
  }

  /** The interpreted call's arguments, constants filled once. One
    * expression instance is evaluated by one thread at a time (as Spark's
    * own `RegExpReplace` assumes of its reused buffer), so a row allocates
    * no array, only the boxes of primitive values. */
  @transient private lazy val argBuf: Array[AnyRef] = slots.map {
    case Constant(c) => c.asInstanceOf[AnyRef]
    case _ => null
  }

  override def eval(input: InternalRow): Any = {
    val args = argBuf
    var i = 0
    while (i < childSlot.length) {
      val v = children(i).eval(input).asInstanceOf[AnyRef]
      if (v == null) return null
      args(childSlot(i)) = v
      i += 1
    }
    i = 0
    while (i < args.length) {
      slots(i) match {
        case a: KernelArg => args(i) = a.value.asInstanceOf[AnyRef]
        case _ =>
      }
      i += 1
    }
    Kernel.invoke(method, args)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ins = children.map(_.genCode(ctx))
    val args = slots.map {
      case ChildValue(i) => ins(i).value.toString
      case a: KernelArg => a.code(ctx)
      case Constant(l: Long) => s"${l}L"
      case Constant(c) => c.toString
    }
    val assign =
      s"${ev.value} = ${Kernel.className(call.owner)}.${call.method}(${args.mkString(", ")});"
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      val guarded = children.indices.foldRight(s"${ev.isNull} = false;\n$assign") { (i, inner) =>
        ins(i).code.toString + ctx.nullSafeExec(children(i).nullable, ins(i).isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $guarded""")
    } else {
      ev.copy(code = code"""
        ${ins.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $assign""", isNull = FalseLiteral)
    }
  }
}

private final case class ChildValue(index: Int)
private final case class Constant(value: Any)

/** A [[KernelExpr]] over the one `Broadcast` field of its case class: a
  * task binary carries only the handle, and each executor fetches the value
  * once. The generated code holds the handle as its one reference object
  * and reads the value, or a view derived from it, into a typed field at
  * class init; interpreted eval reads it once per expression instance. A
  * plan string names the broadcast (`Broadcast(<id>)`), never the value's
  * own `toString`, which may walk all its state. */
trait BroadcastKernelExpr extends KernelExpr {
  @transient private lazy val payload: Broadcast[_] =
    productIterator.collectFirst { case b: Broadcast[_] => b }.get

  /** The broadcast value as a kernel argument of class `cls`. */
  protected def broadcastValue(cls: Class[_]): KernelArg = new View(cls, None)

  /** `owner.method(value)`, a one-argument kernel, as a kernel argument of
    * class `cls`: computed once per generated class. */
  protected def derived(cls: Class[_], owner: AnyRef, method: String): KernelArg =
    new View(cls, Some(Kernel.static(owner, method, Seq(null))))

  private final class View(val javaClass: Class[_], derive: Option[Method]) extends KernelArg {
    lazy val value: Any = derive.fold[Any](payload.value)(m =>
      Kernel.invoke(m, Array(payload.value.asInstanceOf[AnyRef])))

    def code(ctx: CodegenContext): String = {
      val bc = ctx.addReferenceObj(prettyName, payload, classOf[Broadcast[_]].getName)
      val init = derive.fold(s"(${javaClass.getCanonicalName}) $bc.value()")(m =>
        s"${m.getDeclaringClass.getName}.${m.getName}(" +
          s"(${m.getParameterTypes.head.getCanonicalName}) $bc.value())")
      ctx.addMutableState(javaClass.getCanonicalName, prettyName, v => s"$v = $init;",
        forceInline = true)
    }
  }
}
