package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TryEval}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Column-level API + SQL registration for the engine's custom
  * expressions and envelope-crypto helpers.
  *
  * Envelope scheme (reference semantics, SURVEY.md §1.1): a per-batch
  * DEK encrypts payloads; the DEK itself is wrapped by a KEK. The
  * reference wraps via a Cloud KMS RPC; this engine wraps locally with
  * deterministic AES-ECB so results stay oracle-checkable — wrap/unwrap
  * therefore *compose* the built-in aes_encrypt/aes_decrypt (Spark-first:
  * no custom expression where a built-in already expresses it).
  */
object GraftFunctions {

  /** HMAC-SHA256 of `data` keyed by `key` (both BINARY → BINARY). */
  def hmac_sha256(key: Column, data: Column): Column =
    Bridge.column(
      HmacSha256(Bridge.expression(key), Bridge.expression(data)))

  /** Sequential-fold dot product of two ARRAY<DOUBLE> columns (native
    * codegen'd expression — see VectorExpressions).
    */
  def dot_arrays(a: Column, b: Column): Column =
    Bridge.column(DotArrays(Bridge.expression(a), Bridge.expression(b)))

  /** One-pass cosine similarity of two ARRAY<DOUBLE> columns. */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  /** Membership probe of a BIGINT key against a pre-built, serialized
    * [[org.apache.spark.util.sketch.BloomFilter]] — the scan-side
    * pre-filter of [[graft.api.ops.GraftDataFrameOps.bloomSemiJoin]].
    * Not SQL-registered: the sketch bytes are a plan-time constant, not
    * a column.
    */
  def bloom_might_contain(key: Column, serialized: Array[Byte]): Column =
    Bridge.column(BloomMightContain(Bridge.expression(key), serialized))

  /** Deterministic AES/ECB/PKCS5Padding — bit-compatible with the
    * built-in `aes_encrypt(data, key, 'ECB')` but with a per-thread
    * keyed Cipher ([[CryptoCodecs]]) instead of a per-row locked
    * provider lookup (the built-in measured ~25 µs/row and anti-scaled
    * under parallelism on the envelope pipeline).
    */
  def aes_ecb_encrypt(data: Column, key: Column): Column =
    Bridge.column(
      AesEcbEncrypt(Bridge.expression(data), Bridge.expression(key)))

  /** Inverse of [[aes_ecb_encrypt]]; bit-compatible with
    * `aes_decrypt(data, key, 'ECB')`.
    */
  def aes_ecb_decrypt(data: Column, key: Column): Column =
    Bridge.column(
      AesEcbDecrypt(Bridge.expression(data), Bridge.expression(key)))

  /** KMS-style key wrap, local + deterministic: AES-ECB(kek, dek). */
  def wrap_dek(kek: Column, dek: Column): Column =
    aes_ecb_encrypt(dek, kek)

  /** Inverse of wrap_dek. */
  def unwrap_dek(kek: Column, wrapped: Column): Column =
    aes_ecb_decrypt(wrapped, kek)

  /** Whether the base64 signature `sig` decodes to `mac` (constant-time
    * byte compare); false, never null, on a null or malformed input.
    */
  private[graft] def sig_matches(mac: Column, sig: Column): Column =
    Bridge.column(SigMatches(Bridge.expression(mac), Bridge.expression(sig)))

  /** `c`, or null where evaluating it throws — the try semantics of
    * `try_aes_decrypt`, for the engine's own expressions.
    */
  private[graft] def try_eval(c: Column): Column =
    Bridge.column(TryEval(Bridge.expression(c)))

  /** SQL-name registration so `spark.sql("... hmac_sha256(k, d) ...")`
    * works; every [[graft.GraftSession]] injects it as a session
    * extension.
    */
  def registerExtensions(ext: SparkSessionExtensions): Unit =
    allFunctions.foreach(ext.injectFunction)

  private type FunctionEntry =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, cls: Class[_],
                    builder: Seq[Expression] => Expression): FunctionEntry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  private val allFunctions: Seq[FunctionEntry] = Seq(
    entry("hmac_sha256", classOf[HmacSha256],
      c => HmacSha256(c(0), c(1))),
    entry("aes_ecb_encrypt", classOf[AesEcbEncrypt],
      c => AesEcbEncrypt(c(0), c(1))),
    entry("aes_ecb_decrypt", classOf[AesEcbDecrypt],
      c => AesEcbDecrypt(c(0), c(1))),
    entry("dot_arrays", classOf[DotArrays],
      c => DotArrays(c(0), c(1))),
    entry("cosine_sim", classOf[CosineSim],
      c => CosineSim(c(0), c(1))))
}
