package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{concat, lit, lpad, when}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The UPC check-digit kernel: the weighted digit sum (weights 3,1,3,…) of
  * the first `n` characters of a string. A UPC-12 is valid when the sum
  * over all 12 digits is ≡ 0 (mod 10); the check digit of an 11-digit body
  * is `(10 - sum % 10) % 10`. One implementation serves identity synthesis
  * (n = 11) and validation (n = 12) in `UpcSkuLoad` and `q_upc_checkdigit`.
  */
object UpcCheckDigit {

  /** UPC-12 identity of an integral key: the key zero-padded to the
    * 11-digit body, then its check digit. A key outside [0, 10^11) has no
    * 11-digit body and yields null. */
  def upcCol(key: Column): Column = {
    val body = when(key >= 0 && key < 100000000000L, lpad(key.cast("string"), 11, "0"))
    concat(body, ((lit(10) - weightedSumCol(body, 11) % 10) % 10).cast("string"))
  }

  /** Native codegen'd form of [[weightedSum]] over a string column. */
  def weightedSumCol(s: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      UpcWeightedSum(org.apache.spark.sql.GraftSqlBridge.expression(s), n))

  /** Weighted sum of the first `n` bytes of `s`, or -1 when `s` is shorter
    * than `n` bytes or one of them is not an ASCII digit. Byte-wise is
    * character-wise here: a multi-byte character's lead byte is never an
    * ASCII digit, so any string whose first `n` characters are not all
    * ASCII digits yields -1. Shared by the interpreted and codegen paths of
    * UpcWeightedSum (object methods get static forwarders, so generated
    * Java can call `graft.functions.UpcCheckDigit.weightedSum`). */
  def weightedSum(s: UTF8String, n: Int): Int = {
    if (s.numBytes < n) return -1
    var sum = 0
    var i = 0
    while (i < n) {
      val d = s.getByte(i) - '0'
      if (d < 0 || d > 9) return -1
      sum += (if ((i & 1) == 0) 3 * d else d)
      i += 1
    }
    sum
  }
}

/** Catalyst expression for [[UpcCheckDigit.weightedSum]]: null for a null
  * input or when one of the first `n` characters is not an ASCII digit
  * (absent characters included), never an exception — malformed identity
  * is data for the quarantine path. Interpreted and codegen results are
  * bit-identical because both call the same kernel. */
case class UpcWeightedSum(child: Expression, n: Int) extends UnaryExpression with ExpectsInputTypes {

  // type annotation omitted: AbstractDataType is private[sql]
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_upc_weighted_sum"

  override def nullSafeEval(input: Any): Any = {
    val sum = UpcCheckDigit.weightedSum(input.asInstanceOf[UTF8String], n)
    if (sum < 0) null else sum
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = graft.functions.UpcCheckDigit.weightedSum($s, $n);
         |${ev.isNull} = ${ev.value} < 0;
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
