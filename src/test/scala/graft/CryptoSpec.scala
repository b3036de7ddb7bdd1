package graft

import graft.functions.{CryptoCodecs, GraftFunctions}
import javax.crypto.{BadPaddingException, Cipher, Mac}
import javax.crypto.spec.SecretKeySpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Crypto kernels + expressions: RFC 4231 HMAC vectors, envelope
  * wrap/unwrap inverses, GCM roundtrips (GCM is excluded from the
  * oracle path — random IV — so it is covered here), and the keyed
  * Cipher/Mac cache of [[CryptoCodecs]] against a fresh JCE object per
  * call.
  */
class CryptoSpec extends SparkSpec {

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def freshAes(mode: Int, data: Array[Byte], key: Array[Byte]) = {
    val c = Cipher.getInstance("AES/ECB/PKCS5Padding")
    c.init(mode, new SecretKeySpec(key, "AES"))
    c.doFinal(data)
  }

  private def freshHmac(key: Array[Byte], data: Array[Byte]) = {
    val m = Mac.getInstance("HmacSHA256")
    m.init(new SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(data)
  }

  /** `n` seeded random keys of 16, 24 and 32 bytes in turn. */
  private def keys(seed: Int, n: Int): IndexedSeq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val k = new Array[Byte](16 + 8 * (i % 3)); rnd.nextBytes(k); k
    }
  }

  test("hmac_sha256 matches RFC 4231 test case 1") {
    val key = Array.fill[Byte](20)(0x0b)
    val out = CryptoCodecs.hmacSha256(key, "Hi There".getBytes("UTF-8"))
    assert(hex(out) ===
      "b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7")
  }

  test("hmac_sha256 matches RFC 4231 test case 2") {
    val out = CryptoCodecs.hmacSha256("Jefe".getBytes("UTF-8"),
      "what do ya want for nothing?".getBytes("UTF-8"))
    assert(hex(out) ===
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("aes_ecb_encrypt/decrypt are bit-compatible with the built-in ECB mode") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // random payload lengths straddle the PKCS5 block boundary (0..48)
    val rows = (1 to 40).map { i =>
      (i, rnd.nextString(rnd.nextInt(49)),
        rnd.alphanumeric.take(16).mkString)
    }
    val df = rows.toDF("id", "payload", "key")
      .select(col("id"),
        GraftFunctions.aes_ecb_encrypt(col("payload").cast("binary"),
          col("key").cast("binary")).as("ours"),
        aes_encrypt(col("payload").cast("binary"),
          col("key").cast("binary"), lit("ECB")).as("builtin"))
    df.collect().foreach {
      case Row(id: Int, ours: Array[Byte], builtin: Array[Byte]) =>
        assert(ours === builtin, s"row $id ciphertext mismatch")
    }
    // roundtrip through OUR decrypt and through the built-in decrypt
    val rt = rows.toDF("id", "payload", "key")
      .select(col("payload"),
        GraftFunctions.aes_ecb_decrypt(
          GraftFunctions.aes_ecb_encrypt(col("payload").cast("binary"),
            col("key").cast("binary")),
          col("key").cast("binary")).cast("string").as("back"),
        aes_decrypt(
          GraftFunctions.aes_ecb_encrypt(col("payload").cast("binary"),
            col("key").cast("binary")),
          col("key").cast("binary"), lit("ECB"))
          .cast("string").as("back_builtin"))
    rt.collect().foreach {
      case Row(p: String, back: String, backB: String) =>
        assert(back === p); assert(backB === p)
    }
    // null in, null out (BinaryExpression null-safe contract)
    val n = Seq((Option.empty[Array[Byte]], "0123456789abcdef"))
      .toDF("payload", "key")
      .select(GraftFunctions.aes_ecb_encrypt(col("payload"),
        col("key").cast("binary")).as("ct")).collect()
    assert(n.head.isNullAt(0))
  }

  test("HmacSha256 expression agrees with kernel, via codegen plan") {
    import spark.implicits._
    val df = Seq(("k1", "hello"), ("k2", "world")).toDF("k", "v")
      .select(col("k"), col("v"),
        GraftFunctions.hmac_sha256(col("k").cast("binary"),
          col("v").cast("binary")).as("sig"))
    df.collect().foreach { case Row(k: String, v: String, sig: Array[Byte]) =>
      assert(sig === CryptoCodecs.hmacSha256(
        k.getBytes("UTF-8"), v.getBytes("UTF-8")))
    }
  }

  test("hmac_sha256 registered as SQL function via extensions") {
    val n = spark.sql(
      "SELECT hex(hmac_sha256(cast('Jefe' as binary), " +
        "cast('what do ya want for nothing?' as binary))) AS h")
      .collect().head.getString(0).toLowerCase
    assert(n ===
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("GCM encrypt/decrypt roundtrip over pseudo-random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val msgs = List.fill(100)(rnd.alphanumeric.take(rnd.nextInt(200)).mkString)
    val df = msgs.toDF("m")
      .select(col("m"),
        aes_decrypt(
          aes_encrypt(col("m").cast("binary"),
            lit("0123456789abcdef".getBytes), lit("GCM")),
          lit("0123456789abcdef".getBytes), lit("GCM"))
          .cast("string").as("rt"))
    assert(df.filter(col("m") =!= col("rt")).count() === 0)
  }

  test("wrap_dek/unwrap_dek are inverses for 16/24/32-byte DEKs") {
    import spark.implicits._
    val deks = Seq(16, 24, 32).map(n => ("x" * n).getBytes("UTF-8"))
    val df = deks.toDF("dek")
      .select(col("dek"),
        GraftFunctions.unwrap_dek(lit("kek-graft-000001".getBytes),
          GraftFunctions.wrap_dek(lit("kek-graft-000001".getBytes),
            col("dek"))).as("rt"))
    df.collect().foreach { case Row(d: Array[Byte], rt: Array[Byte]) =>
      assert(d === rt)
    }
  }

  test("tampered payload fails hmac verification") {
    import spark.implicits._
    val df = Seq("payload-a").toDF("m")
      .select(
        GraftFunctions.hmac_sha256(lit("key0".getBytes),
          col("m").cast("binary")).as("sig"),
        GraftFunctions.hmac_sha256(lit("key0".getBytes),
          concat(col("m"), lit("x")).cast("binary")).as("sig_tampered"))
    val r = df.collect().head
    assert(!java.util.Arrays.equals(
      r.getAs[Array[Byte]]("sig"), r.getAs[Array[Byte]]("sig_tampered")))
  }

  test("keyed cache: more keys than slots, interleaved, equal a fresh JCE object") {
    // 11 keys against 4 slots per thread, 600 calls of each kernel in
    // random interleaved order.
    val ks = keys(7, 11)
    val rnd = new scala.util.Random(8)
    (1 to 600).foreach { step =>
      val key = ks(rnd.nextInt(ks.length))
      val data = new Array[Byte](rnd.nextInt(49)); rnd.nextBytes(data)
      val ct = CryptoCodecs.aesEcbEncrypt(data, key)
      assert(ct === freshAes(Cipher.ENCRYPT_MODE, data, key), s"encrypt, step $step")
      assert(CryptoCodecs.aesEcbDecrypt(ct, key) ===
        freshAes(Cipher.DECRYPT_MODE, ct, key), s"decrypt, step $step")
      assert(CryptoCodecs.hmacSha256(key, data) === freshHmac(key, data),
        s"hmac, step $step")
    }
  }

  test("keyed cache: a key still decrypts after a BadPaddingException") {
    val key = keys(9, 1).head
    val data = "a message of a few blocks, padded".getBytes("UTF-8")
    val ct = CryptoCodecs.aesEcbEncrypt(data, key)
    val bad = ct.clone(); bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    // One flipped bit in the padding block breaks PKCS5 for this key and
    // ciphertext; with probability 1 - 2^-8 it throws, so pin that it did.
    assertThrows[BadPaddingException](CryptoCodecs.aesEcbDecrypt(bad, key))
    assert(CryptoCodecs.aesEcbDecrypt(ct, key) === data)
    assert(CryptoCodecs.hmacSha256(key, data) === freshHmac(key, data))
  }

  test("keyed cache: four threads with disjoint keys agree with their serial results") {
    val sets = (0 until 4).map(t => keys(100 + t, 6))
    val data = (0 until 64).map(i => s"payload-$i-${"x" * (i % 40)}".getBytes("UTF-8"))
    def run(ks: IndexedSeq[Array[Byte]]): Seq[Seq[Byte]] =
      (0 until 2000).map { i =>
        val key = ks((i * 7 + i / 5) % ks.length); val d = data(i % data.length)
        (CryptoCodecs.aesEcbDecrypt(CryptoCodecs.aesEcbEncrypt(d, key), key) ++
          CryptoCodecs.hmacSha256(key, d)).toSeq
      }
    val serial = sets.map(run)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = sets.map(ks => pool.submit(() => run(ks)))
      futures.zip(serial).zipWithIndex.foreach { case ((f, want), t) =>
        assert(f.get() === want, s"thread $t")
      }
    } finally pool.shutdown()
  }

  test("keyed cache: a caller that mutates its key array does not change later results") {
    val data = "mutated keys must not leak into the cache".getBytes("UTF-8")
    val key = keys(11, 1).head
    val original = key.clone()
    val ct = CryptoCodecs.aesEcbEncrypt(data, key)
    val mac = CryptoCodecs.hmacSha256(key, data)
    assert(CryptoCodecs.aesEcbDecrypt(ct, key) === data)
    key(0) = (key(0) ^ 0x5a).toByte
    // The mutated array is a new key: the cache must schedule it, not
    // reuse the slot keyed by the array's former contents.
    assert(CryptoCodecs.aesEcbEncrypt(data, key) ===
      freshAes(Cipher.ENCRYPT_MODE, data, key))
    assert(CryptoCodecs.hmacSha256(key, data) === freshHmac(key, data))
    // And the original bytes, in a new array, still hit their own result.
    assert(CryptoCodecs.aesEcbEncrypt(data, original) === ct)
    assert(CryptoCodecs.aesEcbDecrypt(ct, original.clone()) === data)
    assert(CryptoCodecs.hmacSha256(original, data) === mac)
  }

  test("openEnvelope rejects a flipped byte of value, sig or wrapped_dek row by row, " +
      "on the codegen and the interpreted path") {
    import graft.api.ops._
    import spark.implicits._
    val kek = "kek-graft-000001".getBytes("UTF-8")
    // Six DEKs of 16, 24 and 32 bytes, ten messages each: more keys than
    // cache slots, rotating as the reference publisher rotates them.
    val deks = keys(21, 6)
    val sealedRows = deks.zipWithIndex.map { case (dek, g) =>
      (0 until 10).map(j => g * 10L + j)
        .map(id => (id, s"""{"id":$id,"memo":"${"m" * (id % 23).toInt}"}"""))
        .toDF("id", "msg")
        .sealEnvelope(col("msg").cast("binary"), dek, kek).drop("msg")
    }.reduce(_ union _).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getMap[String, String](2).toMap))
    val b64 = java.util.Base64.getEncoder
    def flip(b: Array[Byte], at: Int): Array[Byte] = {
      val c = b.clone(); val i = Math.floorMod(at, c.length)
      c(i) = (c(i) ^ 0x41).toByte; c
    }
    def flipAttr(a: Map[String, String], k: String, at: Int) =
      a.updated(k, b64.encodeToString(flip(java.util.Base64.getDecoder.decode(a(k)), at)))
    // First, middle and last byte of the ciphertext (ECB: a flip outside
    // the padding block still decrypts, to a payload whose HMAC fails).
    val inValue = Map(3L -> 0, 17L -> 20, 31L -> -1)
    val inSig = Map(5L -> 0, 22L -> -1)
    // Both blocks of the wrapped DEK: a wrong DEK, and a broken padding.
    val inDek = Map(8L -> 0, 27L -> -1, 44L -> 16)
    val notBase64 = 50L
    val tampered = sealedRows.map { case (id, v, a) =>
      if (inValue.contains(id)) (id, flip(v, inValue(id)), a)
      else if (inSig.contains(id)) (id, v, flipAttr(a, "sig", inSig(id)))
      else if (inDek.contains(id)) (id, v, flipAttr(a, "wrapped_dek", inDek(id)))
      else if (id == notBase64) (id, v, a.updated("sig", "%" + a("sig").drop(1)))
      else (id, v, a)
    }
    val bad = inValue.keySet ++ inSig.keySet ++ inDek.keySet + notBase64
    val dir = graft.operators.Scans.tmpPath(spark, "graft_tamper_spec")
    tampered.toSeq.toDF("id", "value", "attributes")
      .repartition(3).write.mode("overwrite").parquet(dir)
    def open(): Map[Long, (Option[String], Boolean)] = {
      val df = spark.read.parquet(dir).openEnvelope(kek)
      val rows = df.select(col("id"), col("payload").cast("string"), col("verified"))
        .collect()
      assert(rows.forall(r => !r.isNullAt(2)), "verified must never be null")
      rows.map(r => r.getLong(0) -> (Option(r.getString(1)), r.getBoolean(2))).toMap
    }
    val codegen = GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "true") {
      val p = spark.read.parquet(dir).openEnvelope(kek).queryExecution.executedPlan
      assert(p.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.WholeStageCodegenExec]), p.toString)
      open()
    }
    val interpreted = GraftSession.withConf(spark,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(open())
    Seq("codegen" -> codegen, "interpreted" -> interpreted).foreach { case (path, got) =>
      withClue(s"$path: ") {
        assert(got.size === sealedRows.length)
        sealedRows.foreach { case (id, _, _) =>
          val want = if (bad(id)) (None, false)
            else (Some(s"""{"id":$id,"memo":"${"m" * (id % 23).toInt}"}"""), true)
          assert(got(id) === want, s"row $id")
        }
      }
    }
  }
}
