package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** hmac_sha256(key: BINARY, data: BINARY): BINARY — custom Catalyst
  * expression (SURVEY.md §4.3: Spark 4.1 ships Aes* expressions but no
  * Hmac*, so the reference pipeline's signature check needs this one
  * custom scalar).
  *
  * Implemented as a BinaryExpression with doGenCode so it fuses into
  * WholeStageCodegen like a built-in — a Scala udf() here would break
  * the codegen span and box every row on a 100 TB scan.
  */
case class HmacSha256(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"hmac_sha256 requires (BINARY, BINARY), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override def dataType: DataType = BinaryType
  override def prettyName: String = "hmac_sha256"

  override protected def nullSafeEval(key: Any, data: Any): Any =
    CryptoCodecs.hmacSha256(
      key.asInstanceOf[Array[Byte]], data.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (k, d) => s"graft.functions.CryptoCodecs.hmacSha256($k, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HmacSha256 =
    copy(left = newLeft, right = newRight)
}

/** sig_matches(mac: BINARY, sig: STRING): BOOLEAN — whether the
  * signature attribute `sig`, strict base64, decodes to `mac`, compared
  * on bytes in constant time ([[CryptoCodecs.sigMatches]]). Never null:
  * a null input, or a `sig` that is not valid base64, reads false, so a
  * message whose payload could not be decrypted is unverified.
  */
case class SigMatches(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType.isInstanceOf[StringType]) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"sig_matches requires (BINARY, STRING), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "sig_matches"

  override def eval(input: InternalRow): Any = {
    val mac = left.eval(input)
    val sig = right.eval(input)
    mac != null && sig != null && CryptoCodecs.sigMatches(
      mac.asInstanceOf[Array[Byte]], sig.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mac = left.genCode(ctx)
    val sig = right.genCode(ctx)
    ev.copy(code = code"""
      ${mac.code}
      ${sig.code}
      boolean ${ev.value} = !${mac.isNull} && !${sig.isNull} &&
        graft.functions.CryptoCodecs.sigMatches(${mac.value}, ${sig.value}.getBytes());""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatches =
    copy(left = newLeft, right = newRight)
}
