package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: derives an sf=(factor × input)
  * dataset from a driver testdata dir by replicating every table
  * `factor` times with key-offset rewriting, preserving referential
  * integrity (a customer's orders, an order's lineitems, a doc's
  * tokens all stay attached to their replica's keys).
  *
  * This is the scale-rehearsal harness: correctness is gated at
  * sf0.01 and benched at sf0.1, but nothing proves a plan's scaling
  * exponent like executing it at 10× — `BENCH_LOCAL_sf1` artifacts
  * come from running `graft.Bench` against this tool's output.
  *
  * Replication is NOT naive copying — two content families are
  * perturbed per-replica so data STATISTICS scale the way real
  * corpora do, not the way a stutter does:
  *
  *  - `documents.text`: replica r > 0 rewrites every token w →
  *    "w_r". Within a replica the duplicate/near-duplicate structure
  *    is preserved EXACTLY (same token multisets, same shingle
  *    overlaps), across replicas no shingle ever matches — so the
  *    duplicate DENSITY of the corpus is constant in sf, which is how
  *    real crawls behave when you ingest more sources. Naive copying
  *    would instead give every doc `factor` exact clones: quadratic
  *    candidate-pair blowup in every dedup family — a skew test, not
  *    a scaling test (the skew caps have their own PropertySpec
  *    proofs). `n_chars` is recomputed to match the rewritten text.
  *
  *  - `embeddings.embedding`: replica r multiplies each coordinate i
  *    by a deterministic sign s(r,i) ∈ {±1} (xxhash64 parity; r = 0
  *    is the identity). A per-replica sign pattern preserves every
  *    norm and every WITHIN-replica inner product (Σ xᵢyᵢs(r,i)² =
  *    Σ xᵢyᵢ) — so per-replica geometry (kmeans structure, outlier
  *    distances, neighbor ranks) is identical to the source — while
  *    CROSS-replica similarities decorrelate, keeping near-neighbor
  *    counts linear in sf instead of every vector acquiring `factor`
  *    exact twins.
  *
  * Time columns are intentionally NOT shifted: replicas share the
  * time range, so scaling sf by 10 means 10× the users/orders per
  * hour — densification, the production meaning of "more data in the
  * same window".
  *
  * Key strides are computed from the ACTUAL key range of each key
  * DOMAIN — shared by every table that joins on it (stride = max over
  * the domain's tables of max − min + 1). events.user_id uses the
  * customer stride (churn/RFM join user_id = c_custkey) and doc_id /
  * vec_id share one stride (similarity joins pair them), so replica
  * r's facts reference replica r's dimensions — per-key strides would
  * scramble cross-table pairing (e.g. scaled doc 5000 joining vec
  * 5000 from a DIFFERENT replica). Replica key ranges stay disjoint
  * and the mapping is reproducible from the input alone — no RNG, no
  * state. region/nation are fixed-size dimensions at every TPC-H sf
  * and are copied as-is.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [factor=10]
  */
object ScaleUp {

  /** stride = max − min + 1 of an int/long key column: offsets of
    * rep·stride keep replica ranges disjoint whatever the key base. */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast("long")) - min(col(key).cast("long")) + 1L)
      .head().getLong(0)

  /** Union of `factor` replicas of `df`, each transformed by
    * `per(rep)`. rep 0 must be the identity so sf_src ⊂ sf_dst. */
  private def reps(df: DataFrame, factor: Int)(
      per: Int => DataFrame => DataFrame): DataFrame =
    (0 until factor).map(r => per(r)(df)).reduce(_ unionAll _)

  private def offset(c: String, rep: Int, s: Long): Column =
    (col(c) + lit(rep.toLong * s)).cast("long")

  def run(spark: SparkSession, src: String, dst: String,
          factor: Int): Unit = {
    def t(n: String) = Tables(spark, src, n)
    def write(n: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[scaleup] wrote $n")
    }

    // fixed-size dimensions: identical at every sf
    write("region", t("region"))
    write("nation", t("nation"))

    // One stride per key DOMAIN: every table joining on the key uses
    // the same offset, and the domain stride is the max over its
    // member tables so all replica ranges are disjoint everywhere.
    val sCust = math.max(stride(t("customer"), "c_custkey"),
      stride(t("events"), "user_id"))
    val sSupp = stride(t("supplier"), "s_suppkey")
    val sPart = stride(t("part"), "p_partkey")
    val sOrd = stride(t("orders"), "o_orderkey")
    val sEvt = stride(t("events"), "event_id")
    val sDocVec = math.max(stride(t("documents"), "doc_id"),
      stride(t("embeddings"), "vec_id"))

    write("customer", reps(t("customer"), factor) { r => df =>
      df.withColumn("c_custkey", offset("c_custkey", r, sCust))
    })
    write("supplier", reps(t("supplier"), factor) { r => df =>
      df.withColumn("s_suppkey", offset("s_suppkey", r, sSupp))
    })
    write("part", reps(t("part"), factor) { r => df =>
      df.withColumn("p_partkey", offset("p_partkey", r, sPart))
    })
    write("orders", reps(t("orders"), factor) { r => df =>
      df.withColumn("o_orderkey", offset("o_orderkey", r, sOrd))
        .withColumn("o_custkey", offset("o_custkey", r, sCust))
    })
    write("lineitem", reps(t("lineitem"), factor) { r => df =>
      df.withColumn("l_orderkey", offset("l_orderkey", r, sOrd))
        .withColumn("l_partkey", offset("l_partkey", r, sPart))
        .withColumn("l_suppkey", offset("l_suppkey", r, sSupp))
    })
    // ts type round-trips as NTZ to match the driver testdata's
    // physical type (timestamp[us], isAdjustedToUTC=false) — Tables
    // normalizes either on read, and the DuckDB side keeps seeing
    // plain TIMESTAMP.
    write("events", reps(t("events"), factor) { r => df =>
      df.withColumn("event_id", offset("event_id", r, sEvt))
        .withColumn("user_id", offset("user_id", r, sCust))
    }.withColumn("ts", col("ts").cast("timestamp_ntz")))

    write("documents", reps(t("documents"), factor) { r => df =>
      val perturbed =
        if (r == 0) df
        else df.withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_$r"))), " "))
      perturbed
        .withColumn("doc_id", offset("doc_id", r, sDocVec))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    write("embeddings", reps(t("embeddings"), factor) { r => df =>
      val flipped =
        if (r == 0) df
        else df.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(pmod(xxhash64(lit(r), i), lit(2)) === 0, x)
              .otherwise(-x).cast("float")))
      flipped.withColumn("vec_id", offset("vec_id", r, sDocVec))
    })
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession()
    run(spark, src, dst, factor)
    spark.stop()
  }
}
