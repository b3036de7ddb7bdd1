package graftbench

import java.security.MessageDigest
import java.util.Base64
import javax.crypto.{Cipher, Mac}
import javax.crypto.spec.SecretKeySpec

import graft.functions.CryptoCodecs

/** Single-thread timings of the envelope kernels, per message, through
  * the engine's public `CryptoCodecs` methods, each paired with a raw
  * `javax.crypto` loop that is its ceiling. Messages are sealed the way
  * the envelope workloads seal them: one DEK per message, ~150 B JSON.
  */
object CryptoKernels {
  private val M = 20000

  private final case class Msgs(kek: Array[Byte], deks: Array[Array[Byte]],
                                wrapped: Array[Array[Byte]], payloads: Array[Array[Byte]],
                                cts: Array[Array[Byte]], macs: Array[Array[Byte]],
                                sigs: Array[String])

  private def messages(): Msgs = {
    val kek = "kek-000000000001".getBytes("UTF-8")
    val sha = MessageDigest.getInstance("SHA-256")
    val deks = Array.tabulate(M)(i =>
      sha.digest(s"dek-$i".getBytes("UTF-8")).take(16))
    val payloads = Array.tabulate(M)(i =>
      (s"""{"msg_id":$i,"account":"acct-${"%08d".format(i * 7)}","amount_cents":""" +
        s"""${(i * 7919L) % 100000},"currency":"EUR","ts":"2024-01-01T00:00:00Z",""" +
        s""""device":"sensor-${"%05d".format(i % 50000)}","memo":"batch-${"%04d".format(i % 1000)}"}""")
        .getBytes("UTF-8"))
    val wrapped = deks.map(CryptoCodecs.aesEcbEncrypt(_, kek))
    val cts = Array.tabulate(M)(i => CryptoCodecs.aesEcbEncrypt(payloads(i), deks(i)))
    val macs = Array.tabulate(M)(i => CryptoCodecs.hmacSha256(deks(i), payloads(i)))
    val sigs = macs.map(Base64.getEncoder.encodeToString)
    Msgs(kek, deks, wrapped, payloads, cts, macs, sigs)
  }

  /** Median ns per message over 9 timed repetitions, after 3 warm-ups. */
  private def nsPerMsg(f: Int => Int): Double = {
    var sink = 0
    def once(): Double = {
      val t = System.nanoTime()
      var i = 0
      while (i < M) { sink += f(i); i += 1 }
      (System.nanoTime() - t).toDouble / M
    }
    (1 to 3).foreach(_ => once())
    val r = Stats.median((1 to 9).map(_ => once()))
    if (sink == 42) System.err.print("") // keep the loop's result alive
    r
  }

  def measure(): Seq[(String, Double, String)] = {
    val m = messages()
    val enc = Base64.getEncoder
    val graftNs = Seq(
      "unwrap" -> nsPerMsg(i => CryptoCodecs.aesEcbDecrypt(m.wrapped(i), m.kek).length),
      "decrypt" -> nsPerMsg(i => CryptoCodecs.aesEcbDecrypt(m.cts(i), m.deks(i)).length),
      "hmac" -> nsPerMsg(i => CryptoCodecs.hmacSha256(m.deks(i), m.payloads(i)).length),
      // openEnvelope compares base64(hmac) with the sig attribute string.
      "sig_compare" -> nsPerMsg(i =>
        if (enc.encodeToString(m.macs(i)) == m.sigs(i)) 1 else 0))

    // Ceilings: one Cipher/Mac per loop, the KEK schedule done once,
    // and a binary signature compare.
    val unwrapC = Cipher.getInstance("AES/ECB/PKCS5Padding")
    unwrapC.init(Cipher.DECRYPT_MODE, new SecretKeySpec(m.kek, "AES"))
    val decC = Cipher.getInstance("AES/ECB/PKCS5Padding")
    val mac = Mac.getInstance("HmacSHA256")
    val sigBytes = m.sigs.map(Base64.getDecoder.decode)
    val jceNs = Seq(
      "unwrap" -> nsPerMsg(i => unwrapC.doFinal(m.wrapped(i)).length),
      "decrypt" -> nsPerMsg { i =>
        decC.init(Cipher.DECRYPT_MODE, new SecretKeySpec(m.deks(i), "AES"))
        decC.doFinal(m.cts(i)).length
      },
      "hmac" -> nsPerMsg { i =>
        mac.init(new SecretKeySpec(m.deks(i), "HmacSHA256"))
        mac.doFinal(m.payloads(i)).length
      },
      "sig_compare" -> nsPerMsg(i =>
        if (MessageDigest.isEqual(m.macs(i), sigBytes(i))) 1 else 0)).toMap

    graftNs.flatMap { case (k, g) =>
      Seq((s"crypto.${k}_ns", g, "ns"), (s"jce.${k}_ns", jceNs(k), "ns"),
        (s"crypto.${k}_ceiling_ratio", jceNs(k) / g, "ratio"))
    }
  }
}
