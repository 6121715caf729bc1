package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Branch-free result codes shared by kernel, expressions and the
  * validation pipeline: 0 = valid, 1 = invalid, 2 = abort (the path where
  * the reference THROWS and its catch-all kills the whole message,
  * TopologyProducer.java:275-277).
  */
object ChecksumKernels {
  final val Valid = 0
  final val Invalid = 1
  final val Abort = 2

  private val abnWeights = Array(10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)

  /** Luhn (TP:325-340) without exceptions: non-digit → Abort (parseInt
    * would throw), empty string → Valid (quirk Q7), null → Abort (the
    * reference NPEs at .length()).
    */
  def luhnCode(s: UTF8String): Int = luhnCode(s.toString)

  def luhnCode(str: String): Int = {
    if (str == null) return Abort
    var sum = 0
    var alternate = false
    var i = str.length - 1
    while (i >= 0) {
      val ch = str.charAt(i)
      if (ch < '0' || ch > '9') return Abort
      var n = ch - '0'
      if (alternate) { n *= 2; if (n > 9) n = (n % 10) + 1 }
      sum += n
      alternate = !alternate
      i -= 1
    }
    if (sum % 10 == 0) Valid else Invalid
  }

  /** ABN (TP:304-317) without exceptions. Faithful to the reference's
    * `split("\\B")` + parseInt semantics for ALL-digit and all-non-paired
    * inputs: a pure-digit string splits into single digits; any non-digit
    * character makes some chunk unparseable → Abort. (The exotic
    * "+1"-style parseable chunks are excluded by fixture contract —
    * documented in OracleSql.)
    */
  def abnCode(s: UTF8String): Int = abnCode(s.toString)

  def abnCode(str: String): Int = {
    if (str == null) return Abort // reference NPEs at .matches()
    val n = str.length
    var allDigits = n > 0
    var i = 0
    while (i < n && allDigits) {
      val ch = str.charAt(i)
      if (ch < '0' || ch > '9') allDigits = false
      i += 1
    }
    if (allDigits && n != 11) return Invalid // guard TP:306
    if (!allDigits) return Abort // parseInt throws (incl. empty string)
    // n == 11, all digits: weighted sum, first digit minus one (TP:314-315)
    var sum = 0
    i = 0
    while (i < 11) {
      val d = str.charAt(i) - '0'
      sum += abnWeights(i) * (if (i == 0) d - 1 else d)
      i += 1
    }
    if (sum % 89 == 0) Valid else Invalid
  }
}

/** Native codegen expression: `luhn_check(col)` → Int code. Generated code
  * is a single static call inlined into whole-stage codegen — no UDF
  * serialization, no Option boxing, stays inside the codegen'd stage.
  */
case class LuhnCheck(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    ChecksumKernels.luhnCode(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ChecksumKernels.luhnCode($c)")
  override protected def withNewChildInternal(c: Expression): LuhnCheck = copy(c)
  override def prettyName: String = "luhn_check"
}

case class AbnCheck(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    ChecksumKernels.abnCode(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ChecksumKernels.abnCode($c)")
  override protected def withNewChildInternal(c: Expression): AbnCheck = copy(c)
  override def prettyName: String = "abn_check"
}

object ChecksumExpr {
  import org.apache.spark.sql.GraftColumnBridge
  def luhn_check(c: Column): Column =
    GraftColumnBridge.column(LuhnCheck(GraftColumnBridge.expression(c)))
  def abn_check(c: Column): Column =
    GraftColumnBridge.column(AbnCheck(GraftColumnBridge.expression(c)))
}
