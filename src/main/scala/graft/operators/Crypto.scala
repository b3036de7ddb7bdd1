package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

/** Crypto operators — the reference's actual surface re-expressed on
  * Spark (salrashid123/dataflow_pubsub_message_encryption: AES payload
  * encryption + KMS-wrapped DEK in a message attribute + HMAC-SHA256
  * signature; SURVEY.md §2.A).
  *
  * Oracle strategy ("roundtrip trick", SURVEY.md §2.B): every query
  * decrypts what it encrypted, so the expected output equals the
  * plaintext and the DuckDB oracle just selects the source columns —
  * no crypto needed on the oracle side. Only deterministic ECB is used
  * in oracle-checked queries; GCM (random IV) is covered by scalatest
  * roundtrips.
  *
  * Scale notes: all queries are pure per-row map pipelines — zero
  * shuffles, one WholeStageCodegen span over the scan (hmac_sha256 is
  * a codegen'd Catalyst expression, not a UDF). The reference's
  * per-message KMS RPC disappears: the KEK is local, so unwrap is
  * CPU-only AES. Its DEK cache becomes the per-thread keyed Cipher/Mac
  * cache of [[graft.functions.CryptoCodecs]].
  */
object Crypto extends QueryModule {

  // Fixed 16-byte test keys (hex of ASCII "0123456789abcdef" / "graftkek...").
  private def dek = lit("0123456789abcdef".getBytes("UTF-8"))
  private def kek = lit("kek-graft-000001".getBytes("UTF-8"))

  /** AES-ECB encrypt→decrypt roundtrip over documents.text. */
  val cryptoRoundtrip: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"),
        aes_ecb_decrypt(
          aes_ecb_encrypt(col("text").cast("binary"), dek),
          dek).cast("string").as("text"))
      .orderBy("doc_id")
  }

  /** Sign each payload with HMAC-SHA256, then verify: recompute and
    * compare — the reference DoFn's integrity check (§2.A A4).
    */
  val hmacVerify: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("text"),
        hmac_sha256(dek, col("text").cast("binary")).as("sig"))
      .select(col("doc_id"),
        length(col("sig")).as("sig_len"),
        (col("sig") === hmac_sha256(dek, col("text").cast("binary")))
          .as("verified"))
      .orderBy("doc_id")
  }

  /** Full envelope roundtrip with a per-row DEK: derive DEK, wrap with
    * the KEK (local stand-in for kms.encrypt), unwrap, decrypt the
    * payload that was encrypted with the original DEK — output equals
    * plaintext iff wrap/unwrap are true inverses.
    */
  val envelopeRoundtrip: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
      .withColumn("row_dek",
        unhex(substring(sha2(col("doc_id").cast("string"), 256), 1, 32)))
    d.select(col("doc_id"),
        aes_ecb_decrypt(
          aes_ecb_encrypt(col("text").cast("binary"), col("row_dek")),
          unwrap_dek(kek, wrap_dek(kek, col("row_dek"))))
          .cast("string").as("text"))
      .orderBy("doc_id")
  }

  /** The reference pipeline end-to-end in batch (§2.A A1–A6): build the
    * message (encrypted JSON payload + attributes carrying the wrapped
    * DEK and signature), then the consumer side: unwrap DEK from the
    * attribute, decrypt, verify HMAC, parse JSON, project fields.
    */
  val messagePipeline: Q = (spark, dir) => {
    import graft.api.ops._
    val dekB = "0123456789abcdef".getBytes("UTF-8")
    val kekB = "kek-graft-000001".getBytes("UTF-8")
    val docs = Tables(spark, dir, "documents")
    // Publisher side (reference publisher.py semantics).
    val messages = docs
      .withColumn("pt",
        to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
          .cast("binary"))
      .sealEnvelope(col("pt"), dekB, kekB)
      .select(col("doc_id"), col("value"), col("attributes"))
    // Consumer side (reference Dataflow DoFn semantics).
    messages.openEnvelope(kekB)
      .select(col("doc_id"),
        from_json(col("payload").cast("string"),
          lit("doc_id LONG, lang STRING, n_chars LONG")).as("msg"),
        col("verified"))
      .select(col("doc_id"), col("msg.lang").as("lang"),
        col("msg.n_chars").as("n_chars"), col("verified"))
      .orderBy("doc_id")
  }

  /** DEK rotation (reference publisher semantics: reuse one DEK for a
    * batch of N messages, then rotate): batch = doc_id div 100, the
    * batch DEK derived deterministically, wrapped once per batch in
    * principle (here per row — same plan shape), unwrapped and used to
    * decrypt. Output equals plaintext iff the per-batch keys roundtrip.
    */
  val envelopeRotation: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
      .withColumn("dek_id", (col("doc_id") / 100).cast("long"))
      .withColumn("batch_dek",
        unhex(substring(sha2(concat(lit("dek"), col("dek_id")), 256), 1, 32)))
    d.select(col("doc_id"), col("dek_id"),
        aes_ecb_decrypt(
          aes_ecb_encrypt(col("text").cast("binary"), col("batch_dek")),
          unwrap_dek(kek, wrap_dek(kek, col("batch_dek"))))
          .cast("string").as("text"))
      .orderBy("doc_id")
  }

  /** Decrypt-error handling (the reference's consumer faces bad
    * ciphertext; its runner retries — a relational engine surfaces it
    * as NULL and keeps going): corrupt every 10th message's ciphertext
    * (truncate the last byte, which breaks the GCM auth tag), then
    * `try_aes_decrypt` — tampered rows yield NULL instead of failing
    * the job, and `survived` counts the rest. GCM's random IV is safe
    * here because only the decrypted output (plaintext or NULL) is
    * compared, never the ciphertext; tag verification makes the
    * tamper→NULL outcome deterministic, unlike ECB padding checks.
    */
  val tryDecryptCorrupt: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
      .withColumn("ct",
        aes_encrypt(col("text").cast("binary"), dek, lit("GCM")))
      .withColumn("ct",
        when(col("doc_id") % 10 === 0,
          expr("substring(ct, 1, length(ct) - 1)")).otherwise(col("ct")))
    d.select(col("doc_id"),
        try_aes_decrypt(col("ct"), dek, lit("GCM")).cast("string").as("text"))
      .withColumn("survived", col("text").isNotNull)
      .orderBy("doc_id")
  }

  /** Kafka-wire-shaped pipeline (§2.A A1 faithfully): the reference's
    * subscription delivers (payload bytes, attributes map); on Kafka
    * that is the record value plus headers. Build the EXACT schema a
    * `spark.readStream.format("kafka")` source produces — (key BINARY,
    * value BINARY, topic STRING, partition INT, offset LONG,
    * timestamp TIMESTAMP, timestampType INT, headers ARRAY<STRUCT<key
    * STRING, value BINARY>>) — carrying the KEK-wrapped DEK and the
    * HMAC signature as headers, then consume: headers → attributes
    * map → unwrap → decrypt → verify → parse. The consumer side runs
    * unchanged against a real broker because only the scan differs.
    */
  val kafkaPipeline: Q = (spark, dir) => {
    import graft.api.ops._
    val kekB = "kek-graft-000001".getBytes("UTF-8")
    val docs = Tables(spark, dir, "documents")
    // Producer: one Kafka record per document.
    val records = docs
      .withColumn("pt",
        to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
          .cast("binary"))
      .select(
        col("doc_id"),
        col("doc_id").cast("string").cast("binary").as("key"),
        aes_ecb_encrypt(col("pt"), dek).as("value"),
        lit("graft.docs").as("topic"),
        pmod(col("doc_id"), lit(32)).cast("int").as("partition"),
        col("doc_id").as("offset"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("timestamp"),
        lit(0).as("timestampType"),
        array(
          struct(lit("wrapped_dek").as("key"),
            wrap_dek(kek, dek).as("value")),
          struct(lit("sig").as("key"),
            hmac_sha256(dek, col("pt")).as("value"))).as("headers"))
    // Consumer: lift headers into the attributes map the envelope
    // opener expects (base64, mirroring Pub/Sub string attributes).
    records
      .withColumn("attributes", map_from_entries(
        transform(col("headers"),
          h => struct(h.getField("key"),
            base64(h.getField("value"))))))
      .openEnvelope(kekB)
      .select(col("doc_id"), col("topic"), col("partition"),
        col("offset").as("koffset"),
        from_json(col("payload").cast("string"),
          lit("doc_id LONG, lang STRING, n_chars LONG")).as("msg"),
        col("verified"))
      .select(col("doc_id"), col("topic"), col("partition"),
        col("koffset"), col("msg.lang").as("lang"),
        col("msg.n_chars").as("n_chars"), col("verified"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_crypto_roundtrip" -> cryptoRoundtrip,
    "q_crypto_try_decrypt" -> tryDecryptCorrupt,
    "q_kafka_pipeline" -> kafkaPipeline,
    "q_envelope_rotation" -> envelopeRotation,
    "q_hmac_verify" -> hmacVerify,
    "q_envelope_roundtrip" -> envelopeRoundtrip,
    "q_msg_pipeline" -> messagePipeline,
  )

  val oracle: Map[String, String] = Map(
    "q_crypto_roundtrip" -> """
      SELECT doc_id, text FROM documents ORDER BY doc_id""",
    "q_crypto_try_decrypt" -> """
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL ELSE text END AS text,
             doc_id % 10 <> 0 AS survived
      FROM documents ORDER BY doc_id""",
    "q_kafka_pipeline" -> """
      SELECT doc_id, 'graft.docs' AS topic,
             CAST(doc_id % 32 AS INT) AS "partition",
             doc_id AS koffset, lang, n_chars, true AS verified
      FROM documents ORDER BY doc_id""",
    "q_envelope_rotation" -> """
      SELECT doc_id, CAST(floor(doc_id / 100) AS BIGINT) AS dek_id, text
      FROM documents ORDER BY doc_id""",
    "q_hmac_verify" -> """
      SELECT doc_id, 32 AS sig_len, true AS verified
      FROM documents ORDER BY doc_id""",
    "q_envelope_roundtrip" -> """
      SELECT doc_id, text FROM documents ORDER BY doc_id""",
    "q_msg_pipeline" -> """
      SELECT doc_id, lang, n_chars, true AS verified
      FROM documents ORDER BY doc_id""",
  )
}
