package graft.functions

import java.security.MessageDigest
import java.util.{Arrays, Base64}
import javax.crypto.{Cipher, Mac}
import javax.crypto.spec.SecretKeySpec
import scala.reflect.ClassTag

/** JVM crypto kernels, called from interpreted eval and from generated
  * code (through this object's static forwarders, in WholeStageCodegen).
  * Per thread, each kernel keeps `Slots` initialized `Cipher`s or `Mac`s,
  * each keyed by a copy of its key bytes: the reference consumer's DEK
  * cache, executor-local. A hit skips `init` and its key schedule; a
  * miss re-keys the least recently used slot, so the unwrap's KEK, used
  * on every row beside each message's DEK, is never evicted. An
  * exception forgets its slot's key. AES is bit-compatible with the
  * built-ins' "ECB" mode; the HMAC is the reference's per-message check.
  */
object CryptoCodecs {
  private final val Slots = 4

  private final class Keyed[T <: AnyRef](objs: Array[T],
      init: (T, Array[Byte]) => Unit, run: (T, Array[Byte]) => Array[Byte]) {
    private[this] val keys = new Array[Array[Byte]](Slots)
    private[this] val used = new Array[Long](Slots)
    private[this] var tick = 0L

    def apply(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < Slots && !Arrays.equals(keys(i), key)) i += 1
      if (i == Slots) {
        i = 0
        var j = 1
        while (j < Slots) { if (used(j) < used(i)) i = j; j += 1 }
        keys(i) = null; init(objs(i), key); keys(i) = key.clone()
      }
      tick += 1; used(i) = tick
      try run(objs(i), data) catch { case e: Throwable => keys(i) = null; throw e }
    }
  }

  // One `run` class per JCE type, so the call in `apply` stays bimorphic.
  private def cache[T <: AnyRef: ClassTag](fresh: => T)(init: (T, Array[Byte]) => Unit)(
      run: (T, Array[Byte]) => Array[Byte]) =
    ThreadLocal.withInitial[Keyed[T]](() => new Keyed(Array.fill(Slots)(fresh), init, run))
  private def aes(mode: Int) = cache(Cipher.getInstance("AES/ECB/PKCS5Padding"))(
    (c, key) => c.init(mode, new SecretKeySpec(key, "AES")))(_ doFinal _)

  private val encCiphers = aes(Cipher.ENCRYPT_MODE)
  private val decCiphers = aes(Cipher.DECRYPT_MODE)
  private val macs = cache(Mac.getInstance("HmacSHA256"))(
    (m, key) => m.init(new SecretKeySpec(key, "HmacSHA256")))(_ doFinal _)

  def hmacSha256(key: Array[Byte], data: Array[Byte]): Array[Byte] =
    macs.get()(key, data)
  def aesEcbEncrypt(data: Array[Byte], key: Array[Byte]): Array[Byte] =
    encCiphers.get()(key, data)
  def aesEcbDecrypt(data: Array[Byte], key: Array[Byte]): Array[Byte] =
    decCiphers.get()(key, data)

  /** Whether `sig`, strict base64, decodes to `mac`; constant-time. */
  def sigMatches(mac: Array[Byte], sig: Array[Byte]): Boolean =
    try MessageDigest.isEqual(mac, Base64.getDecoder.decode(sig))
    catch { case _: IllegalArgumentException => false }
}
