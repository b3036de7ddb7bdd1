package graft.operators

import graft.{Norm, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Scan / projection / filter / sink operators (SURVEY.md §2.B
  * "Scans / sources / sinks" + "Projection / filter").
  *
  * Scale notes: every query here is a single-stage parquet scan with
  * projection and predicates pushed to the reader (verified via
  * .explain: PushedFilters + ReadSchema show only the needed columns),
  * so at 100 TB they read only the referenced columns and skip
  * row-groups on the pushed predicates. The final orderBy exists for
  * oracle determinism; at scale it is a rangepartition-sort over the
  * (small) filtered output, not the input.
  */
object Scans extends QueryModule {

  /** `name` inside the session's scratch dir
    * ([[org.apache.spark.sql.graft.PinBridge.scratch]]): a query's
    * sinks, lake tables and stream checkpoints live in its own fork's
    * dir, which closing the fork deletes. A query runs once per fork,
    * so every path starts out absent — no pre-clean, and two
    * concurrent runs of one query write to different dirs.
    */
  private[graft] def tmpPath(spark: org.apache.spark.sql.SparkSession,
                             name: String): String =
    new java.io.File(
      org.apache.spark.sql.graft.PinBridge.scratch(spark), name).getPath

  /** Parquet scan + column pruning: read 3 of 11 lineitem columns. */
  val scanProject: Q = (spark, dir) => {
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        Norm.r4(col("l_quantity")).as("quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Predicates that reach the parquet reader (row-group skipping):
    * timestamp comparison + double range.
    */
  val scanFilterPushdown: Q = (spark, dir) => {
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_quantity") > 45.0)
      .select(col("l_orderkey"), col("l_linenumber"),
        Norm.r4(col("l_quantity")).as("quantity"),
        Norm.dstr(col("l_shipdate")).as("shipdate"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Write + re-read roundtrip through a parquet sink; oracle compares
    * against the source selection directly.
    */
  val sinkParquet: Q = (spark, dir) => {
    val tmp = tmpPath(spark, "graft_sink_parquet")
    Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"),
        Norm.r4(col("o_totalprice")).as("totalprice"))
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).orderBy("o_orderkey")
  }

  /** CSV sink + source roundtrip with an explicit read schema (no
    * inference — determinism under the oracle). Text formats lose
    * types, so the read schema is the contract.
    */
  val sinkCsv: Q = (spark, dir) => {
    val tmp = tmpPath(spark, "graft_sink_csv")
    Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true").csv(tmp)
      .orderBy("n_nationkey")
  }

  /** JSON-lines sink + source roundtrip with an explicit read schema. */
  val sinkJson: Q = (spark, dir) => {
    val tmp = tmpPath(spark, "graft_sink_json")
    Tables(spark, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        Norm.r4(col("c_acctbal")).as("acctbal"))
      .write.mode("overwrite").json(tmp)
    spark.read
      .schema("c_custkey LONG, c_mktsegment STRING, acctbal DOUBLE")
      .json(tmp)
      .select("c_custkey", "c_mktsegment", "acctbal")
      .orderBy("c_custkey")
  }

  /** ORC sink + source roundtrip — the third columnar-format surface
    * beside parquet (ORC keeps types, so no explicit read schema is
    * needed, unlike the text formats).
    */
  val sinkOrc: Q = (spark, dir) => {
    val tmp = tmpPath(spark, "graft_sink_orc")
    Tables(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        Norm.r4(col("s_acctbal")).as("acctbal"))
      .write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp).orderBy("s_suppkey")
  }

  /** Hive-style partitioned lake layout + partition-pruned scan: write
    * orders partitioned by status, read back one partition. At 100 TB
    * the filter never touches the other partitions' files — pruning
    * happens at file listing, before any I/O; PlanSpec asserts the
    * predicate lands in PartitionFilters (not post-scan).
    */
  val scanPartitioned: Q = (spark, dir) => {
    val tmp = tmpPath(spark, "graft_part_orders")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        Norm.r4(col("o_totalprice")).as("totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("totalprice"),
        col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Sorted, range-partitioned lake layout: `repartitionByRange` on
    * the time column + `sortWithinPartitions` before the write gives
    * every output file a DISJOINT o_orderdate range, so a time-range
    * scan prunes to the few overlapping files from parquet footer
    * min/max alone — the clustering discipline (Z-order's 1-D case)
    * that makes time-slice queries on a 100 TB fact table read ~1/N
    * of the files. BucketingSpec asserts the per-file disjointness;
    * the oracle checks the roundtrip + range read.
    */
  val sinkSorted: Q = (spark, dir) => {
    val tmp = tmpPath(spark, "graft_sink_sorted")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        Norm.r4(col("o_totalprice")).as("totalprice"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate", "o_orderkey")
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        Norm.tstr(col("o_orderdate")).as("orderdate"), col("totalprice"))
      .orderBy("o_orderkey")
  }

  /** Count the parquet data files under a sink dir (driver-side FS
    * metadata listing — the lake-maintenance plane, not a data read).
    * Exposed for BucketingSpec's compaction assertions.
    */
  private[graft] def parquetFileCount(
      spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Small-file compaction — the lake-maintenance op every streaming
    * ingest needs: micro-batches leave thousands of KB-sized files,
    * and scan throughput dies on file-open overhead long before I/O.
    * Here a fragmented copy (16 files) is rewritten to
    * ceil(totalBytes / 128 MB) files — sized from a driver-side FS
    * metadata listing, never a data scan — via `coalesce` (no shuffle:
    * compaction is a read+concat, repartition would shuffle the whole
    * table to achieve the same file count). At 100 TB this runs
    * per-partition-directory with the same arithmetic. The read-back
    * is the scored result, so the oracle verifies compaction is
    * byte-lossless; BucketingSpec pins the 16 → 1 file-count change.
    */
  val lakeCompact: Q = (spark, dir) => {
    val frag = tmpPath(spark, "compact_frag")
    Tables(spark, dir, "documents")
      .repartition(16)
      .write.mode("overwrite").parquet(frag)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(new org.apache.hadoop.fs.Path(frag))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val targetFileBytes = 128L << 20
    val nOut = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val out = tmpPath(spark, "compact_out")
    spark.read.parquet(frag).coalesce(nOut)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Corrupt-record quarantine — the PERMISSIVE-ingest routing every
    * lake pipeline needs: malformed payloads must land in a quarantine
    * with full counts, not kill the job or silently vanish. A
    * deterministic 1-in-16 subset of the JSON payloads is mangled
    * (unparseable brace prefix) to stand in for upstream corruption;
    * the parse (`get_json_object`, codegen'd, returns NULL on invalid
    * JSON rather than throwing) routes every row to clean/quarantined,
    * and the output reconciles totals — clean rows keep their parsed
    * value, quarantined rows are counted with distinct affected users
    * (the triage an on-call actually runs). Pure projection + one
    * partial-agg'd rollup; no shuffle carries payloads.
    */
  val sourceQuarantine: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .withColumn("raw",
        when(substring(md5(col("props")), 1, 1) === "0",
          concat(lit("{"), col("props"))).otherwise(col("props")))
    e.withColumn("k", get_json_object(col("raw"), "$.k").cast("long"))
      .groupBy(col("k").isNull.as("quarantined"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        coalesce(sum("k"), lit(0L)).as("sum_k"))
      .orderBy("quarantined")
  }

  /** Incremental consumption without a table format: snapshot the
    * directory's file listing as a manifest after batch 1 lands, and
    * a later reader picks up ONLY files not in the manifest — batch 2
    * here. The manifest diff is O(files) driver-side metadata (the
    * same listing every scan already does); none of batch 1's data is
    * re-read, which at 100 TB is the difference between consuming a
    * day's landing and rescanning the lake. This is the primitive
    * under every checkpoint-based ingest (Structured Streaming's file
    * source tracks exactly this set in its checkpoint); the batch form
    * here serves backfills and non-streaming consumers. The scored
    * result aggregates the incremental batch, so the oracle verifies
    * no old row leaks in and no new row is missed.
    */
  val lakeIncremental: Q = (spark, dir) => {
    val base = tmpPath(spark, "lake_incr")
    val orders = Tables(spark, dir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .write.mode("overwrite").parquet(base)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // The manifest a real deployment persists durably; file names are
    // unique per write job, so a name set is a sufficient snapshot id.
    val manifest = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .write.mode("append").parquet(base)
    val newFiles = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .filterNot(manifest).map(n => s"$base/$n")
    spark.read.parquet(newFiles: _*)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("double") / lit(100.0)).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Schema evolution on read (`mergeSchema`) — the lake reality that
    * old batches lack columns newer batches added. Batch 1 lands
    * (key, price); batch 2 adds `o_orderpriority`; one merged-footer
    * read returns the union schema with NULLs where the early files
    * have no column — no rewrite of the old data, which at 100 TB is
    * the whole point (re-materializing history per schema change is a
    * full-table write). Footer merging is an O(files) metadata
    * operation, not a data scan.
    */
  val lakeSchemaEvolve: Q = (spark, dir) => {
    val base = tmpPath(spark, "schema_evolve")
    val orders = Tables(spark, dir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), Norm.r4(col("o_totalprice")).as("totalprice"))
      .write.mode("overwrite").parquet(s"$base/b1")
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), Norm.r4(col("o_totalprice")).as("totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$base/b2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/b1", s"$base/b2")
      .orderBy("o_orderkey")
  }

  /** Dynamic partition overwrite — the lake write mode every
    * incremental batch job needs: `INSERT OVERWRITE` replaces ONLY the
    * partitions present in the incoming frame, leaving sibling
    * partitions untouched (static mode would truncate the whole
    * table). Here: orders land partitioned by status; a corrected
    * recomputation of just the 'F' partition (10% price cut) is
    * overwritten in dynamic mode; the read-back proves 'F' changed
    * and 'O'/'P' survived byte-identical. At 100 TB this is the
    * difference between rewriting one day's partition and rewriting
    * the table. The mode is the corrected write's own option (it
    * takes precedence over the session conf): overwrite semantics are
    * a write-time property, not a plan property.
    */
  val lakeDynOverwrite: Q = (spark, dir) => {
    val base = tmpPath(spark, "dyn_overwrite")
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    orders.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(base)
    val corrected = orders.filter(col("o_orderstatus") === "F")
      .withColumn("o_totalprice", col("o_totalprice") * 0.9)
    corrected.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(base)
    spark.read.parquet(base)
      .select(col("o_orderkey"), col("o_custkey"),
        Norm.r4tie(col("o_totalprice")).as("totalprice"),
        col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Conjunct / disjunct / IN / BETWEEN / IS NOT NULL predicate mix. */
  val filterComplex: Q = (spark, dir) => {
    Tables(spark, dir, "orders")
      .filter(
        (col("o_orderstatus") === "F" &&
          col("o_totalprice").between(50000, 200000)) ||
        (col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("o_custkey") % 2 === 0))
      .filter(col("o_custkey").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), Norm.r4(col("o_totalprice")).as("totalprice"))
      .orderBy("o_orderkey")
  }

  /** Conditional projection via when/otherwise chains. */
  val caseWhen: Q = (spark, dir) => {
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("price_band"),
        when(col("o_orderstatus") === "F", lit(1)).otherwise(lit(0))
          .as("is_final"))
      .orderBy("o_orderkey")
  }

  /** Z-order (Morton) clustered lake write: events laid out by the
    * interleaved bits of TWO dimensions (user bucket × value bucket),
    * then read back through a selective predicate on the SECOND
    * dimension — the one a plain sort cannot skip on. Correctness
    * gate here (z computed identically in the oracle via the shared
    * bit formula, rows round-trip the parquet sink exactly);
    * BucketingSpec proves the layout property: per-file min/max
    * ranges stay bounded on BOTH dims, vs a linear sort where the
    * trailing dim's range spans the domain in every file.
    */
  val lakeZorder: Q = (spark, dir) => {
    import graft.api.ops
    val tmp = tmpPath(spark, "graft_lake_zorder")
    Tables(spark, dir, "events")
      .withColumn("ux", pmod(col("user_id"), lit(256)).cast("long"))
      .withColumn("vy",
        pmod(floor(col("value")).cast("long"), lit(256)))
      .withColumn("z", ops.zValue(col("ux"), col("vy"), 8))
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z", "event_id")
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("vy") < 8)
      .select(col("event_id"), col("ux"), col("vy"), col("z"))
      .orderBy("event_id")
  }

  /** Time travel over a versioned transaction log
    * ([[graft.sources.TxnLog]]) — the lakehouse metadata layer:
    * commits are ordered JSON files of add/remove-file actions, and
    * `VERSION AS OF n` is a replay of log prefix 0..n. History here:
    * v0 initial load (even orderkeys) → v1 append (odd orderkeys) →
    * v2 copy-on-write DELETE of v0's low-price rows (replacement
    * files logged as remove(d0)+add(d2) in one atomic commit — old
    * versions keep reading the unreferenced files). The scored result
    * aggregates ALL THREE versions from one log, so the oracle
    * verifies each version's file-set replay: a leaked removed file,
    * a missed add, or cross-version contamination all shift some
    * version's counts. Writer conflicts (two commits racing for one
    * version slot) surface via exclusive log-file create —
    * BucketingSpec drives that path.
    *
    * Scale: time travel is O(versions) driver-side metadata replay +
    * a parquet read of exactly the live files — no data copy, no full
    * scan; the v2 rewrite touches only the files holding deleted rows.
    */
  val lakeTimetravel: Q = (spark, dir) => {
    import graft.sources.TxnLog
    val base = tmpPath(spark, "lake_timetravel")
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.parquet(s"$base/d0")
    val v0 = TxnLog.commit(spark, base, -1,
      TxnLog.partFiles(spark, base, "d0"))
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .write.parquet(s"$base/d1")
    val v1 = TxnLog.commit(spark, base, v0,
      TxnLog.partFiles(spark, base, "d1"))
    // copy-on-write delete: keep only the expensive rows of the v0
    // batch; d0 stays on disk for the benefit of versions 0 and 1
    TxnLog.readAsOf(spark, base, v0)
      .filter(col("o_totalprice") >= 100000.0)
      .write.parquet(s"$base/d2")
    val v2 = TxnLog.commit(spark, base, v1,
      adds = TxnLog.partFiles(spark, base, "d2"),
      removes = TxnLog.partFiles(spark, base, "d0"))
    def snap(v: Int) = TxnLog.readAsOf(spark, base, v)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("double") / lit(100.0)).as("sum_price"))
      .withColumn("version", lit(v))
    snap(v0).unionByName(snap(v1)).unionByName(snap(v2))
      .select(col("version"), col("o_orderpriority"), col("n"),
        col("sum_price"))
      .orderBy("version", "o_orderpriority")
  }

  /** SQL time travel through the DataSource-V2 catalog
    * ([[graft.sources.LakeCatalog]]) — the same 3-version
    * copy-on-write history as [[lakeTimetravel]], but every read is
    * PLAIN SQL using Spark's native `VERSION AS OF` syntax, plus one
    * UNVERSIONED head read (labelled version 3, provably ≡ v2): the
    * SQL-only user gets the identical lake the DataFrame user has.
    * The head read resolves through `TxnLog.latestVersion` on a table
    * that HAS a checkpoint (checkpointEvery = 2 fires at v1), pinning
    * the r13 regression fix on the hot SQL path. Scan execution
    * delegates to Spark's own ParquetTable, so pushdown/pruning are
    * the stock parquet ones (PlanSpec pins PushedFilters through a
    * versioned SQL read).
    *
    * Scale: identical to [[lakeTimetravel]] — O(log suffix) driver
    * metadata per version resolution, then exactly the live files
    * are scanned; the catalog adds nothing per-row.
    */
  val sqlTimetravel: Q = (spark, dir) => {
    import graft.sources.{LakeCatalog, TxnLog}
    val root = tmpPath(spark, "graft_lake_root")
    val base = s"$root/orders_tt"
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.parquet(s"$base/d0")
    val v0 = TxnLog.commit(spark, base, -1,
      TxnLog.partFiles(spark, base, "d0"), checkpointEvery = 2)
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .write.parquet(s"$base/d1")
    val v1 = TxnLog.commit(spark, base, v0,
      TxnLog.partFiles(spark, base, "d1"), checkpointEvery = 2)
    TxnLog.readAsOf(spark, base, v0)
      .filter(col("o_totalprice") >= 100000.0)
      .write.parquet(s"$base/d2")
    TxnLog.commit(spark, base, v1,
      adds = TxnLog.partFiles(spark, base, "d2"),
      removes = TxnLog.partFiles(spark, base, "d0"),
      checkpointEvery = 2)
    spark.conf.set("spark.sql.catalog.graft_lake",
      classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_lake.root", root)
    def block(label: Int, suffix: String) = s"""
      SELECT $label AS version, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price
      FROM graft_lake.orders_tt$suffix
      GROUP BY o_orderpriority"""
    spark.sql(s"""
      SELECT version, o_orderpriority, n, sum_price FROM (
        ${block(0, " VERSION AS OF 0")}
        UNION ALL ${block(1, " VERSION AS OF 1")}
        UNION ALL ${block(2, " VERSION AS OF 2")}
        UNION ALL ${block(3, "")}
      ) ORDER BY version, o_orderpriority""")
  }

  /** RESTORE TABLE ... TO VERSION — roll the table head back to an
    * earlier snapshot as a NEW commit (Delta's RESTORE semantics):
    * the restore commit's file set IS version 0's, computed as a
    * set-diff against the current head (adds = target − current,
    * removes = current − target), so nothing is rewritten or deleted
    * — history stays intact and the restore itself is time-travelable.
    * Built on the same 3-version copy-on-write history as
    * [[lakeTimetravel]]; the output proves both properties at once:
    * the v3 (restored-head) aggregate rows equal v0's exactly, AND
    * v2 remains readable after the restore.
    *
    * Scale: the restore commit is pure METADATA — two file-set
    * replays (checkpoint + suffix each, see [[graft.sources.TxnLog]])
    * and one log append; zero data bytes move regardless of table
    * size, which is the reason RESTORE exists instead of
    * re-ingesting the old snapshot.
    */
  val lakeRestore: Q = (spark, dir) => {
    import graft.sources.TxnLog
    val base = tmpPath(spark, "lake_restore")
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.parquet(s"$base/d0")
    val v0 = TxnLog.commit(spark, base, -1,
      TxnLog.partFiles(spark, base, "d0"))
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .write.parquet(s"$base/d1")
    val v1 = TxnLog.commit(spark, base, v0,
      TxnLog.partFiles(spark, base, "d1"))
    TxnLog.readAsOf(spark, base, v0)
      .filter(col("o_totalprice") >= 100000.0)
      .write.parquet(s"$base/d2")
    val v2 = TxnLog.commit(spark, base, v1,
      adds = TxnLog.partFiles(spark, base, "d2"),
      removes = TxnLog.partFiles(spark, base, "d0"))
    // RESTORE TO v0: metadata-only set-diff commit
    def rel(v: Int) = TxnLog.filesAsOf(spark, base, v)
      .map(_.stripPrefix(s"$base/")).toSet
    val target = rel(v0)
    val cur = rel(v2)
    val v3 = TxnLog.commit(spark, base, v2,
      adds = (target -- cur).toSeq.sorted,
      removes = (cur -- target).toSeq.sorted)
    def snap(v: Int) = TxnLog.readAsOf(spark, base, v)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("double") / lit(100.0)).as("sum_price"))
      .withColumn("version", lit(v))
    snap(v0).unionByName(snap(v2)).unionByName(snap(v3))
      .select(col("version"), col("o_orderpriority"), col("n"),
        col("sum_price"))
      .orderBy("version", "o_orderpriority")
  }

  /** Vacuum dry-run report — the storage-reclaim audit run before the
    * explicitly destructive step: build the same 3-version
    * copy-on-write history as [[lakeTimetravel]], then report what a
    * retention-0 vacuum at the latest version would reclaim —
    * rows live (readable at the head), rows in unreferenced files
    * (added by some version, removed since:
    * [[graft.sources.TxnLog.unreferencedFiles]]), and the physical
    * share reclaimed. Live and unreferenced file sets are disjoint by
    * log construction, so live + reclaimable IS the physical row
    * total. The listing is deliberately dry-run: deleting
    * unreferenced files destroys the older versions that reference
    * them — a retention decision, not a library default.
    *
    * Scale: the report is two parquet-count aggregates over the
    * metadata-selected file lists — O(log) metadata, no data shuffle.
    */
  val lakeVacuum: Q = (spark, dir) => {
    import graft.sources.TxnLog
    val base = tmpPath(spark, "lake_vacuum")
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.parquet(s"$base/d0")
    val v0 = TxnLog.commit(spark, base, -1,
      TxnLog.partFiles(spark, base, "d0"))
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .write.parquet(s"$base/d1")
    val v1 = TxnLog.commit(spark, base, v0,
      TxnLog.partFiles(spark, base, "d1"))
    TxnLog.readAsOf(spark, base, v0)
      .filter(col("o_totalprice") >= 100000.0)
      .write.parquet(s"$base/d2")
    TxnLog.commit(spark, base, v1,
      adds = TxnLog.partFiles(spark, base, "d2"),
      removes = TxnLog.partFiles(spark, base, "d0"))
    val dead = TxnLog.unreferencedFiles(spark, base)
    val live = TxnLog.readAsOf(spark, base)
      .agg(count(lit(1)).as("rows_live"))
    val reclaim = spark.read.parquet(dead: _*)
      .agg(count(lit(1)).as("rows_reclaimable"))
    live.crossJoin(reclaim)
      .select(col("rows_live"), col("rows_reclaimable"),
        Norm.r4tie(col("rows_reclaimable").cast("double") /
          (col("rows_live") + col("rows_reclaimable")).cast("double"))
          .as("reclaim_share"))
  }

  /** Checkpointed transaction log — what keeps [[lakeTimetravel]]'s
    * metadata layer readable after YEARS of commits: a real table
    * accretes thousands of versions, and replaying the full prefix on
    * every read ([[graft.sources.TxnLog.filesAsOf]] pre-r12) is
    * O(versions) metadata work per query. `commit(checkpointEvery=4)`
    * snapshots the live file set every 4th commit; a read then seeds
    * from the nearest checkpoint ≤ the target version and replays
    * only the commit SUFFIX — O(4), whatever the history length (the
    * Delta `_last_checkpoint` idea in its smallest honest form).
    *
    * Fixture: 10 slice-append commits (v0..v9, checkpoints land at v3
    * and v7) + one copy-on-write delete commit (v10, exercising a
    * REMOVE applied on top of a checkpoint seed). The query then
    * DELETES log versions 0..2 — covered by the v3 checkpoint — and
    * reads v5 (checkpoint 3 + logs 4..5) and v10 (checkpoint 7 + logs
    * 8..10): the scored result itself fails loudly if the
    * checkpoint-seeded path ever regresses to full replay, because
    * the full prefix no longer exists.
    *
    * Scale: each read touches ≤ 1 checkpoint + 3 log files of KB-size
    * metadata regardless of history length; the data scan is the
    * metadata-selected parquet list, as in every lake query.
    */
  val lakeCheckpoint: Q = (spark, dir) => {
    import graft.sources.TxnLog
    val base = tmpPath(spark, "lake_checkpoint")
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    var v = -1
    (0 to 9).foreach { r =>
      orders.filter(col("o_orderkey") % 10 === r)
        .write.parquet(s"$base/d$r")
      v = TxnLog.commit(spark, base, v,
        TxnLog.partFiles(spark, base, s"d$r"), checkpointEvery = 4)
    }
    // copy-on-write delete: slice 0 keeps only its expensive rows
    TxnLog.readAsOf(spark, base, 0)
      .filter(col("o_totalprice") >= 100000.0)
      .write.parquet(s"$base/d10")
    v = TxnLog.commit(spark, base, v,
      adds = TxnLog.partFiles(spark, base, "d10"),
      removes = TxnLog.partFiles(spark, base, "d0"),
      checkpointEvery = 4)
    // Sever the pre-checkpoint prefix: reads below can only succeed
    // through the checkpoint-seeded path.
    (0 to 2).foreach { lv =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        base, "_graft_log", f"$lv%08d.json"))
    }
    def snap(ver: Int) = TxnLog.readAsOf(spark, base, ver)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("double") / lit(100.0)).as("sum_price"))
      .withColumn("version", lit(ver))
    snap(5).unionByName(snap(10))
      .select(col("version"), col("o_orderpriority"), col("n"),
        col("sum_price"))
      .orderBy("version", "o_orderpriority")
  }

  val queries: Map[String, Q] = Map(
    "q_lake_checkpoint" -> lakeCheckpoint,
    "q_lake_vacuum" -> lakeVacuum,
    "q_lake_timetravel" -> lakeTimetravel,
    "q_sql_timetravel" -> sqlTimetravel,
    "q_lake_restore" -> lakeRestore,
    "q_lake_compact" -> lakeCompact,
    "q_lake_incremental" -> lakeIncremental,
    "q_source_quarantine" -> sourceQuarantine,
    "q_lake_dyn_overwrite" -> lakeDynOverwrite,
    "q_lake_schema_evolve" -> lakeSchemaEvolve,
    "q_lake_zorder" -> lakeZorder,
    "q_scan_project" -> scanProject,
    "q_scan_filter_pushdown" -> scanFilterPushdown,
    "q_sink_parquet" -> sinkParquet,
    "q_sink_csv" -> sinkCsv,
    "q_sink_json" -> sinkJson,
    "q_sink_orc" -> sinkOrc,
    "q_scan_partitioned" -> scanPartitioned,
    "q_sink_sorted" -> sinkSorted,
    "q_filter_complex" -> filterComplex,
    "q_case_when" -> caseWhen,
  )

  val oracle: Map[String, String] = Map(
    "q_lake_vacuum" -> """
      WITH t AS (
        SELECT o_orderkey % 2 = 0 AS even,
               o_totalprice >= 100000.0 AS exp
        FROM orders),
      f AS (
        SELECT CAST(sum(CASE WHEN NOT even OR exp THEN 1 ELSE 0 END)
                 AS BIGINT) AS rows_live,
               CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT)
                 AS rows_reclaimable
        FROM t)
      SELECT rows_live, rows_reclaimable,
             floor(CAST(rows_reclaimable AS DOUBLE)
                   / CAST(rows_live + rows_reclaimable AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS reclaim_share
      FROM f""",
    "q_lake_checkpoint" -> """
      SELECT 5 AS version, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price
      FROM orders WHERE o_orderkey % 10 <= 5
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 10, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders
      WHERE o_orderkey % 10 <> 0 OR o_totalprice >= 100000.0
      GROUP BY o_orderpriority
      ORDER BY version, o_orderpriority""",
    "q_lake_restore" -> """
      SELECT 0 AS version, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 2, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders
      WHERE o_orderkey % 2 <> 0 OR o_totalprice >= 100000.0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 3, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY o_orderpriority
      ORDER BY version, o_orderpriority""",
    "q_sql_timetravel" -> """
      SELECT 0 AS version, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 1, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 2, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders
      WHERE o_orderkey % 2 <> 0 OR o_totalprice >= 100000.0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 3, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders
      WHERE o_orderkey % 2 <> 0 OR o_totalprice >= 100000.0
      GROUP BY o_orderpriority
      ORDER BY version, o_orderpriority""",
    "q_lake_timetravel" -> """
      SELECT 0 AS version, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 1, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 2, o_orderpriority, count(*),
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0
      FROM orders
      WHERE o_orderkey % 2 <> 0 OR o_totalprice >= 100000.0
      GROUP BY o_orderpriority
      ORDER BY version, o_orderpriority""",
    "q_lake_compact" -> """
      SELECT doc_id, lang, source, n_chars
      FROM documents
      ORDER BY doc_id""",
    "q_source_quarantine" -> """
      WITH r AS (
        SELECT user_id,
               CASE WHEN substring(md5(props), 1, 1) = '0'
                    THEN '{' || props ELSE props END AS raw
        FROM events),
      p AS (
        SELECT user_id,
               CASE WHEN json_valid(raw)
                    THEN CAST(json_extract_string(raw, '$.k') AS BIGINT)
               END AS k
        FROM r)
      SELECT k IS NULL AS quarantined, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k
      FROM p GROUP BY 1 ORDER BY 1""",
    "q_lake_incremental" -> """
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price
      FROM orders WHERE o_orderkey % 2 <> 0
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q_lake_schema_evolve" -> """
      SELECT o_orderkey, round(o_totalprice, 4) AS totalprice,
             CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, round(o_totalprice, 4) AS totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 2 <> 0
      ORDER BY o_orderkey""",
    "q_lake_dyn_overwrite" -> """
      SELECT o_orderkey, o_custkey,
             floor(CASE WHEN o_orderstatus = 'F'
                        THEN o_totalprice * CAST(0.9 AS DOUBLE)
                        ELSE o_totalprice END * 10000 + 0.5) / 10000
               AS totalprice,
             o_orderstatus
      FROM orders
      ORDER BY o_orderkey""",
    "q_lake_zorder" -> s"""
      WITH e AS (
        SELECT event_id, user_id % 256 AS ux,
               CAST(floor(value) AS BIGINT) % 256 AS vy
        FROM events)
      SELECT event_id, ux, vy,
             ${graft.api.ops.zValueSql("ux", "vy", 8)} AS z
      FROM e
      WHERE vy < 8
      ORDER BY event_id""",
    "q_scan_project" -> """
      SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS quantity
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber""",
    "q_scan_filter_pushdown" -> """
      SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS quantity,
             strftime(l_shipdate, '%Y-%m-%d') AS shipdate
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity > 45.0
      ORDER BY l_orderkey, l_linenumber""",
    "q_sink_parquet" -> """
      SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS totalprice
      FROM orders
      WHERE o_orderstatus = 'F'
      ORDER BY o_orderkey""",
    "q_sink_csv" -> """
      SELECT n_nationkey, n_name, n_regionkey
      FROM nation
      ORDER BY n_nationkey""",
    "q_sink_json" -> """
      SELECT c_custkey, c_mktsegment, round(c_acctbal, 4) AS acctbal
      FROM customer
      WHERE c_acctbal > 0
      ORDER BY c_custkey""",
    "q_sink_orc" -> """
      SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 4) AS acctbal
      FROM supplier
      ORDER BY s_suppkey""",
    "q_scan_partitioned" -> """
      SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS totalprice,
             o_orderstatus
      FROM orders
      WHERE o_orderstatus = 'F'
      ORDER BY o_orderkey""",
    "q_sink_sorted" -> """
      SELECT o_orderkey, o_custkey,
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
             round(o_totalprice, 4) AS totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      ORDER BY o_orderkey""",
    "q_filter_complex" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             round(o_totalprice, 4) AS totalprice
      FROM orders
      WHERE ((o_orderstatus = 'F' AND o_totalprice BETWEEN 50000 AND 200000)
             OR (o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_custkey % 2 = 0))
        AND o_custkey IS NOT NULL
      ORDER BY o_orderkey""",
    "q_case_when" -> """
      SELECT o_orderkey,
             CASE WHEN o_totalprice < 50000 THEN 'low'
                  WHEN o_totalprice < 150000 THEN 'mid'
                  ELSE 'high' END AS price_band,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_final
      FROM orders
      ORDER BY o_orderkey""",
  )
}
