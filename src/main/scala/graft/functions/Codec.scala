package graft.functions

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode}

/** A codec compiled once per schema: one Catalyst value in, one Catalyst
  * value out. Implementations keep no per-row state outside thread-local
  * buffers, so one instance serves every task of a JVM.
  */
abstract class Codec extends Serializable {
  def apply(input: AnyRef): AnyRef
}

/** A [[Codec]] that decodes one binary payload.
  *
  * Repeated calls on one thread with equal bytes return the previous
  * result without decoding again. Catalyst pushes a filter on decoded
  * fields below the projection that decodes them (the `r` alias is
  * substituted into the pushed condition), so without this the filter and
  * the projection would both decode each row, and a whole-stage-codegen
  * filter, which does no subexpression elimination, once per field it
  * tests. Spark binary values are immutable, so the last payload is kept
  * by reference, not copied.
  */
abstract class PayloadDecoder extends Codec {
  protected def decode(bytes: Array[Byte]): AnyRef

  /** Payloads actually decoded (calls not answered by the last result). */
  @transient lazy val decodes: LongAdder = new LongAdder

  @transient private lazy val last =
    ThreadLocal.withInitial[Array[AnyRef]](() => new Array[AnyRef](2))

  final def apply(input: AnyRef): AnyRef = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val m = last.get()
    if (bytes == null || !java.util.Arrays.equals(
        m(0).asInstanceOf[Array[Byte]], bytes)) {
      m(1) = decode(bytes)
      m(0) = bytes
      decodes.increment()
    }
    m(1)
  }
}

/** A unary expression evaluated by one call into a compiled [[Codec]].
  * The generated code is that call: the codec goes into the generated
  * class through `ctx.addReferenceObj`, so the stage stays inside
  * whole-stage codegen and its methods stay small enough to JIT.
  */
trait CodecExpression extends UnaryExpression {
  def codec: Codec

  override protected def nullSafeEval(input: Any): Any =
    codec(input.asInstanceOf[AnyRef])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("codec", codec, classOf[Codec].getName)
    val boxed = CodeGenerator.boxedType(dataType)
    val inBoxed = CodeGenerator.boxedType(child.dataType)
    nullSafeCodeGen(ctx, ev, v => {
      val arg =
        if (CodeGenerator.isPrimitiveType(child.dataType))
          s"$inBoxed.valueOf($v)"
        else v
      if (nullable) {
        val r = ctx.freshName("result")
        s"""Object $r = $c.apply($arg);
           |${ev.isNull} = $r == null;
           |if (!${ev.isNull}) ${ev.value} = ($boxed) $r;""".stripMargin
      } else s"${ev.value} = ($boxed) $c.apply($arg);"
    })
  }
}
