package graft.cdc

import graft.Tables
import graft.model.Envelope
import graft.types.PgConverters
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC dataflow of the reference, re-expressed as composable
  * `DataFrame => DataFrame` stages over the driver's `events` table
  * (the WAL stand-in — TESTDATA.md).
  *
  * Reference hot path: `internal/replication/replicationchannel/
  * replicationhandler.go:115-215` (WAL receive) →
  * `replicationresolver.go:259-313` (route + chunk resolve) →
  * `eventemitter.go:367-405` (envelope emit). Here, each stage is a
  * declarative transformation so Catalyst fuses the whole pipeline into
  * one whole-stage-codegen'd scan→project→filter plan with the chunk
  * catalog broadcast (J1: `replicationresolver.go:733-759`).
  *
  * At 100 TB scale: the WAL stream is partitioned by (table, key); every
  * stage below is narrow (no shuffle) except the explicit chunk-catalog
  * broadcast join, which stays a broadcast because the catalog is
  * bounded by DDL volume (thousands of chunks, not data volume).
  */
object Cdc {

  /** Deterministic event_type → op mapping for the WAL stand-in.
    * Op codes per `spi/schema/eventschema.go:36-44`.
    */
  val opExpr: Column => Column = et =>
    Envelope.eventTypeToOp.filterNot(_._2 == Envelope.Op.Message)
      .foldLeft(null.asInstanceOf[Column]) { case (acc, (t, op)) =>
        if (acc == null) when(et === t, op) else acc.when(et === t, op)
      }
      .otherwise(Envelope.Op.Message) // click + anything unmapped

  /** Shape the raw `events` parquet into WAL-like rows:
    * (lsn, xid, op, schema, table, chunk_day, ts_ms, key + payload cols).
    *
    * lsn ≙ event_id (monotone), xid groups 10 consecutive events into a
    * "transaction" (reference buffers by xid: `transactiontracker.go:
    * 128-189`), chunk_day derives the owning chunk the way TimescaleDB
    * places rows into 24h chunks (FIXTURES.md §1: chunk interval 24h).
    */
  /** Days from epoch to 2024-01-01 (start of the events series). */
  val EpochDay20240101 = 19723L
  val NanosPerDay      = 86400000000000L

  def walEvents(spark: SparkSession, dir: String): DataFrame =
    shapeWal(Tables.events(spark, dir))

  /** The shaping stage alone — shared by the batch reader above and the
    * streaming source (graft.streaming.StreamPipeline). Input schema =
    * the events table with `ts` as Long nanos.
    */
  def shapeWal(events: DataFrame): DataFrame =
    events
      .withColumn("lsn", col("event_id"))
      .withColumn("xid", expr("event_id div 10"))
      .withColumn("op", opExpr(col("event_type")))
      .withColumn("schema_name", lit("public"))
      .withColumn("table_name", lit("events"))
      .withColumn("chunk_day", chunkDayOfTs)
      .withColumn("ts_ms", tsMsOfTs)

  /** The 24h chunk of `ts` (Long epoch nanos: `Tables.events`, or a
    * decoded pgoutput tuple), as days since 2024-01-01. Integer `div`
    * keeps exactness — double division at 1e18 ns magnitude would lose
    * ULPs. */
  def chunkDayOfTs: Column =
    (expr(s"ts div $NanosPerDay") - EpochDay20240101).cast(IntegerType)

  /** `ts` (Long epoch nanos) in epoch millis, by integer `div`. */
  def tsMsOfTs: Column = expr("ts div 1000000")

  /** Chunk catalog (dimension table): one row per 24h chunk, shaped like
    * `_timescaledb_catalog.chunk` (`internal/sidechannel/queries.go:122-128`,
    * FIXTURES.md §4). Derived deterministically from the data so the
    * DuckDB oracle can derive the identical catalog.
    */
  def chunkCatalog(spark: SparkSession, dir: String): DataFrame =
    chunkCatalogOf(walEvents(spark, dir))

  /** The same chunk-catalog dimension derived from an already-shaped WAL
    * frame (shared by the batch reader above and flows that only hold a
    * DataFrame). `chunk_id` is the catalog's allocator id — in the
    * fixture the day ordinal IS the id (any injective map does); the
    * name/ids here are CATALOG CONSTRUCTION, and every event flow is
    * required to consume them through the J1 broadcast join rather than
    * re-synthesizing names at emission time.
    */
  def chunkCatalogOf(wal: DataFrame): DataFrame =
    wal
      .select(col("chunk_day"))
      .distinct()
      .select(
        col("chunk_day").as("chunk_id"),
        col("chunk_day").as("chunk_day"),
        concat(lit("_hyper_1_"), col("chunk_day"), lit("_chunk")).as("chunk_name"),
        lit(1).as("hypertable_id"),
        lit("_timescaledb_internal").as("chunk_schema"))

  /** Hypertable catalog — `internal/sidechannel/queries.go:106-120` shape. */
  def hypertableCatalog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "public", "events", "_timescaledb_internal", "_hyper_1_"))
      .toDF("hypertable_id", "ht_schema", "ht_table", "associated_schema", "associated_table_prefix")
  }

  /** Hypertable catalog with the compression columns the reference reads
    * (`queryReadHypertables`, `internal/sidechannel/queries.go:106-119`):
    * `compression_state` (2 = IS a compressed hypertable,
    * `hypertable.go:103-108`) and `compressed_hypertable_id` (the user
    * hypertable → its compressed twin, `hypertable.go:86-93`). Row 2 is
    * the `_compressed_hypertable_2` twin that backs hypertable 1.
    */
  def hypertableCatalogCompression(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1, "public", "events", "_timescaledb_internal", "_hyper_1_",
        0, Some(2)),
      (2, "_timescaledb_internal", "_compressed_hypertable_2",
        "_timescaledb_internal", "compress_hyper_2_", 2, None: Option[Int]))
      .toDF("hypertable_id", "ht_schema", "ht_table", "associated_schema",
        "associated_table_prefix", "compression_state", "compressed_hypertable_id")
  }

  /** `ResolveUncompressedHypertable` as a dimension
    * (`internal/systemcatalog/systemcatalog.go:239-254`): every
    * hypertable id maps to the USER hypertable events should be
    * attributed to — itself when it is not a compressed table
    * (`compression_state ≠ 2`), else the hypertable whose
    * `compressed_hypertable_id` points at it. A catalog-sized self-join,
    * always broadcastable.
    */
  def resolveUncompressed(hypertables: DataFrame): DataFrame = {
    val owners = hypertables
      .select(col("compressed_hypertable_id").as("hypertable_id"),
        col("ht_schema").as("__o_schema"), col("ht_table").as("__o_table"))
      .filter(col("hypertable_id").isNotNull)
    hypertables.join(owners, Seq("hypertable_id"), "left")
      .select(col("hypertable_id"),
        when(col("compression_state") === 2, col("__o_schema"))
          .otherwise(col("ht_schema")).as("uncompressed_schema"),
        when(col("compression_state") === 2, col("__o_table"))
          .otherwise(col("ht_table")).as("uncompressed_table"))
  }

  /** Chunk catalog carrying the `status` bitfield + compressed-side rows
    * (`queryReadChunks`, `internal/sidechannel/queries.go:122-128`;
    * bitfield + `compress_` naming `spi/systemcatalog/chunk.go:25-79`):
    * each data chunk's FINAL status is the last value of its
    * [[chunkStatusUpdates]] history, chunks whose final status ≠ 0 get a
    * `compressed_chunk_id` backlink to a `compress_hyper_2_<d>_chunk`
    * row under hypertable 2 (ids offset by 1000 — the reference's ids
    * are allocator-assigned, any injective map does), and `partial`
    * reads the 0x08 bit. Catalog-sized end to end.
    */
  def chunkCatalogStatus(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wal = walEvents(spark, dir)
    val wChunk = Window.partitionBy(col("chunk_id")).orderBy(col("lsn").desc)
    val finalStatus = chunkStatusUpdates(wal)
      .withColumn("__rn", row_number().over(wChunk))
      .filter(col("__rn") === 1)
      .select(col("chunk_id").as("chunk_day"), col("new_status").as("status"))
    val dataChunks = wal.select(col("chunk_day")).distinct()
      .join(finalStatus, Seq("chunk_day"), "left")
      .na.fill(0, Seq("status"))
      .select(
        col("chunk_day").as("chunk_id"),
        col("chunk_day"),
        concat(lit("_hyper_1_"), col("chunk_day"), lit("_chunk")).as("chunk_name"),
        lit(1).as("hypertable_id"),
        lit("_timescaledb_internal").as("chunk_schema"),
        col("status"),
        (col("status").bitwiseAND(lit(8)) === 8).as("partial"),
        when(col("status") =!= 0, col("chunk_day") + 1000).as("compressed_chunk_id"),
        lit(false).as("dropped"))
    val compressedSide = dataChunks.filter(col("status") =!= 0)
      .select(
        (col("chunk_day") + 1000).as("chunk_id"),
        col("chunk_day"),
        concat(lit("compress_hyper_2_"), col("chunk_day"), lit("_chunk")).as("chunk_name"),
        lit(2).as("hypertable_id"),
        lit("_timescaledb_internal").as("chunk_schema"),
        // the compressed-side chunk row itself carries status 0; its
        // compressed-ness comes from the compress_ name (chunk.go:49)
        lit(0).as("status"),
        lit(false).as("partial"),
        lit(null).cast(IntegerType).as("compressed_chunk_id"),
        lit(false).as("dropped"))
    dataChunks.unionByName(compressedSide)
  }

  /** J1 — chunk→hypertable resolution, the reference's raison d'être
    * (`replicationresolver.go:733-759`; caches `containers/relationcache.go`).
    *
    * Spark-first: a broadcast hash join of the event stream against the
    * chunk catalog then the hypertable catalog. The catalog is always
    * driver-memory-sized (chunk count scales with DDL, not rows), so at
    * 1000 executors this stays a zero-shuffle map-side join.
    */
  def resolveHypertable(events: DataFrame, chunks: DataFrame, hypertables: DataFrame): DataFrame =
    events
      .join(broadcast(chunks), Seq("chunk_day"))
      .join(broadcast(hypertables), Seq("hypertable_id"))

  /** P3 — event-type gates: config booleans suppress ops
    * (`replicationresolver.go:105-146`, applied at `:279-302` etc.).
    * A plain `isin` filter ⇒ Catalyst pushes it below the joins and into
    * the parquet scan where possible.
    */
  def opGate(enabled: Seq[String])(df: DataFrame): DataFrame =
    df.filter(col("op").isin(enabled: _*))

  /** Pushdown-friendly gate: the op column is derived (CASE over
    * event_type), which Catalyst cannot invert — a gate on `op` stays a
    * post-scan filter. Gating on the *source* column instead reaches the
    * parquet scan as `event_type IN (...)` (PushedFilters → row-group
    * stats skipping), which matters when most ops are disabled at 100 TB.
    * Mirrors the reference's early discard (`transactiontracker.go:
    * 196-206` — drop before decode, not after).
    */
  private val opToEventTypes: Map[String, Seq[String]] =
    Envelope.eventTypeToOp.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap

  def opGateAtSource(enabled: Seq[String])(events: DataFrame): DataFrame = {
    val types = enabled.flatMap(opToEventTypes.getOrElse(_, Nil))
    if (types.isEmpty) events else events.filter(col("event_type").isin(types: _*))
  }

  /** P6 — LSN skip predicate (`replicationhandler.go:196-205`): drop WAL
    * entries below the restart LSN. With a proper source offset this is
    * free; expressed here as the equivalent filter.
    */
  def lsnSkip(restartLsn: Long)(df: DataFrame): DataFrame =
    df.filter(col("lsn") >= restartLsn)

  /** P2 — key projection: restrict row to key-index columns
    * (`spi/stream/stream.go:75-98`). Key of the stand-in hypertable is
    * (event_id) — the PK; dimension column ts is the snapshot index tail
    * (`spi/systemcatalog/column.go:37-57`).
    */
  def keyProjection(df: DataFrame): DataFrame =
    df.select(col("table_name"), col("event_id"), col("ts_ms"))

  /** T7 — tombstones (`replicationresolver.go:438-448`): each delete op
    * optionally emits a second event with after=null for Kafka
    * compaction. Expressed as a flatMap-free union-style explode: a
    * 2-element array for deletes, 1 for everything else.
    */
  def withTombstones(df: DataFrame): DataFrame =
    df.withColumn("is_tombstone",
        explode(when(col("op") === Envelope.Op.Delete, array(lit(false), lit(true)))
          .otherwise(array(lit(false)))))

  /** S5/S6 — snapshot keyset pagination + high-watermark probe
    * (`internal/sidechannel/sidechannel.go:408-523`, SQL shape
    * `queries.go:194-198`): `WHERE key > low AND key <= high ORDER BY key
    * LIMIT n`. Keyset (no OFFSET) keeps page starts O(1) at any scale.
    */
  def snapshotBatch(df: DataFrame, keyCol: String, low: Long, high: Long, limit: Int): DataFrame =
    df.filter(col(keyCol) > low && col(keyCol) <= high)
      .orderBy(col(keyCol))
      .limit(limit)

  def highWatermark(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.orderBy(keyCols.map(col(_).desc): _*).limit(1)

  /** S5-adjacent — the SCROLL-cursor chunk-snapshot form
    * (`internal/sidechannel/sidechannel.go:838-905`: DECLARE SCROLL
    * CURSOR per chunk + FETCH FORWARD fetchSize, resumable at a batch
    * boundary). The Spark shape: one cursor per chunk = a window
    * PARTITIONED by chunk (parallel across chunks, sequential within —
    * exactly the reference's concurrency), batch number = zero-based
    * fetch index. Keyset pagination ([[snapshotBatch]]) remains the
    * index-assisted scale path; this form exists for tables snapshotted
    * without a usable key, like the reference's cursor mode.
    */
  def snapshotScrollCursor(df: DataFrame, chunkCol: String, orderCol: String,
                           fetchSize: Int, resumeFromBatch: Long = 0L): DataFrame =
    df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(chunkCol)).orderBy(col(orderCol))))
      .withColumn("batch_no", expr(s"CAST((rn - 1) div $fetchSize AS BIGINT)"))
      .drop("rn")
      .filter(col("batch_no") >= resumeFromBatch)

  /** T2 — transaction window boundaries (`transactiontracker.go:128-189`,
    * queue+drain `:441-524`): events buffered per xid until COMMIT. In
    * micro-batch Spark the faithful relaxation (SURVEY §7.4) is a
    * per-xid aggregation producing BEGIN/COMMIT fencing metadata. A
    * map-side-combinable groupBy — one shuffle on xid, partial aggs
    * pushed to the mappers by Catalyst.
    */
  def txnBoundaries(wal: DataFrame): DataFrame =
    wal.groupBy(col("xid"))
      .agg(
        min(col("lsn")).as("begin_lsn"),
        max(col("lsn")).as("commit_lsn"),
        count(lit(1)).as("n_events"),
        max(col("ts_ms")).as("commit_ts_ms"))

  /** T4 — snapshot/stream interleave with an LSN fence
    * (`replicationresolver.go:180-223,702-731`): while a snapshot is in
    * flight, live events replay only if `lsn >= fence`. The queue-free
    * Spark shape: snapshot phase emits op="r" rows up to the fence;
    * the live stream is filtered to `lsn > fence`. Duplicates below the
    * fence are dropped exactly as the reference's replay guard does.
    */
  def snapshotWithFence(wal: DataFrame, fenceLsn: Long): DataFrame = {
    val snapshot = wal.filter(col("lsn") <= fenceLsn)
      .withColumn("op", lit(Envelope.Op.Read))
      .withColumn("snapshot", lit(true))
    val live = wal.filter(col("lsn") > fenceLsn)
      .withColumn("snapshot", lit(false))
    snapshot.unionByName(live)
  }

  /** T8 — the reference's snapshot modes (`spi/config/config.go`
    * SnapshotMode: always/initial/initial_only/never) expressed over the
    * fence: `always`/`initial` = full snapshot then stream;
    * `initial_only` = snapshot and STOP (no live phase); `never` = live
    * only (fence 0). Catalyst prunes the dead branch at plan time — a
    * `never` plan never scans snapshot rows at all.
    */
  def withSnapshotMode(wal: DataFrame, mode: String, fenceLsn: Long): DataFrame =
    mode match {
      case "always" | "initial" => snapshotWithFence(wal, fenceLsn)
      case "initial_only" =>
        snapshotWithFence(wal, fenceLsn).filter(col("snapshot"))
      case "never" => snapshotWithFence(wal, -1L) // below any LSN: live only
      case other => throw new IllegalArgumentException(
        s"unknown snapshot mode '$other' (always|initial|initial_only|never)")
    }

  /** P7 — decompression INSERT suppression
    * (`transactiontracker.go:208-218`, markers `:376-415`): inside a
    * transaction performing decompression, re-inserted rows are
    * discarded (they were already streamed). Marker stand-in: a delete
    * op inside the xid marks it as a decompression txn. Expressed as a
    * windowed existence flag — no state store needed in batch; the
    * streaming path uses flatMapGroupsWithState (graft.streaming).
    */
  def decompressionSuppress(wal: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("xid"))
    wal.withColumn("decomp_txn",
        max(when(col("op") === Envelope.Op.Delete, 1).otherwise(0)).over(w))
      .filter(!(col("decomp_txn") === 1 && col("op") === Envelope.Op.Create))
      .drop("decomp_txn")
  }

  /** J4 — published-tables anti-join (`replicator.go:390-427`): known
    * chunks MINUS already-published → chunks still to attach to the
    * publication. left_anti keeps it a broadcast at catalog scale.
    */
  def publicationAntiJoin(known: DataFrame, published: DataFrame): DataFrame =
    known.join(broadcast(published), Seq("chunk_name"), "left_anti")

  /** U2 — distinct-by canonical name (`replicationresolver.go:514`,
    * `lo.UniqBy` over truncated tables). */
  def distinctTables(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** T3 fixture — the chunk-status catalog-UPDATE stream. The reference
    * learns about (de)compression from UPDATEs to
    * `_timescaledb_catalog.chunk` rows carrying the new `status`
    * bitfield (`transactiontracker.go:249-273`; bitfield semantics
    * `spi/systemcatalog/chunk.go:62-79`). The WAL stand-in has no real
    * catalog traffic, so this derives a deterministic status history —
    * reproducible by the DuckDB oracle — appended AFTER the data LSNs:
    *
    *  - every chunk d compresses once (`status 0→1`, or `0→9` for
    *    d%3==0 — the 0x08 partially-compressed bit set);
    *  - even chunks then decompress (`→0`); for d%4==0 the decompress
    *    UPDATE lands in the SAME transaction as the compress one
    *    (exercising the intra-txn old-status chaining at
    *    `transactiontracker.go:262-267`), otherwise in a later txn
    *    (old status comes from the committed catalog);
    *  - d%4==2 chunks re-compress afterwards (`0→1` again).
    *
    * Scale shape: one distinct over chunk_day (DDL-bounded) crossed with
    * a 1-row max aggregate — catalog-sized, never data-sized.
    */
  def chunkStatusUpdates(wal: DataFrame): DataFrame = {
    val chunks = wal.select(col("chunk_day")).distinct()
    val maxes = wal.agg(max(col("lsn")).as("__max_lsn"),
      max(col("ts_ms")).as("__max_ts"))
    chunks.crossJoin(broadcast(maxes))
      .withColumn("__base", expr("((__max_lsn div 10) + 10) * 10"))
      .select(col("chunk_day"), col("__base"), col("__max_ts"),
        expr(
          """filter(array(
            |  named_struct('lsn', __base + chunk_day * 40L,
            |    'new_status', CASE WHEN chunk_day % 3 = 0 THEN 9 ELSE 1 END),
            |  CASE WHEN chunk_day % 2 = 0 THEN
            |    named_struct('lsn', __base + chunk_day * 40L +
            |      CASE WHEN chunk_day % 4 = 0 THEN 1L ELSE 10L END,
            |      'new_status', 0)
            |  END,
            |  CASE WHEN chunk_day % 4 = 2 THEN
            |    named_struct('lsn', __base + chunk_day * 40L + 20L, 'new_status', 1)
            |  END), x -> x IS NOT NULL)""".stripMargin).as("__updates"))
      .select(col("chunk_day"), col("__base"), col("__max_ts"),
        explode(col("__updates")).as("u"))
      .select(
        col("u.lsn").as("lsn"),
        expr("u.lsn div 10").as("xid"),
        col("chunk_day").as("chunk_id"),
        col("u.new_status").as("new_status"),
        (col("__max_ts") + (col("u.lsn") - col("__base"))).as("ts_ms"))
  }

  /** T3 — the reference's compression/decompression detection state
    * machine (`transactiontracker.go:249-273`, commit-time emission
    * `:148-186`), re-expressed relationally over a chunk-status UPDATE
    * stream ([[chunkStatusUpdates]] in the fixture; real catalog WAL in
    * production):
    *
    *  - `old_status` = the status the catalog held when the UPDATE
    *    arrived — the previous UPDATE's value whether it committed
    *    earlier or sits earlier in the same txn (the reference's
    *    `chunk.Status()` + intra-txn `compressionUpdate` override,
    *    modeled as `lag(new_status) over (chunk, lsn)`; for every
    *    history TimescaleDB actually writes — at most one status
    *    change per direction per (txn, chunk) — the two are
    *    model-check-proven identical, and the two corners OUTSIDE that
    *    class where the reference's commit-time-stale catalog diverges
    *    are pinned as documented decisions in CdcSpec's "documented
    *    divergence" test: the lag form detects an intra-txn
    *    recompression the stale catalog misses, and does not let a
    *    mid-txn status wiggle re-steal the per-txn compression slot);
    *  - `0→≠0` ⇒ compression, `≠0→0` ⇒ decompression;
    *  - per transaction the tracker keeps ONE `compressionUpdate` and
    *    ONE `decompressionUpdate` field — later writes overwrite
    *    (`transactiontracker.go:261,273`) — so the per-(xid,kind)
    *    row_number picks the LAST update of each kind;
    *  - both events emit at COMMIT with the commit's LSN/time
    *    (`:148-186`), compression ordered before decompression —
    *    `tsdb_op` ('c' < 'd') is the in-commit tiebreak;
    *  - `partial` surfaces the 0x08 partially-compressed bit of the
    *    status that triggered the event (`chunk.go:74-76`).
    *
    * Every frame here is catalog-sized (chunk/txn counts scale with DDL
    * volume, not rows), so the windows are safe at any data scale.
    */
  def compressionFromStatus(updates: DataFrame, chunks: DataFrame,
                            hypertables: DataFrame): DataFrame =
    resolveChunkIdentity(commitEmission(statusTransitions(updates), updates),
      chunks, hypertables)

  /** Fixture/spec convenience: the chunk catalog a synthetic status
    * stream implies (one row per chunk id it mentions, hypertable 1).
    * Production flows pass the real catalog to the 3-arg form — the
    * emission path itself never string-builds a chunk name.
    */
  def compressionFromStatus(updates: DataFrame): DataFrame = {
    val chunks = updates.select(col("chunk_id")).distinct()
      .select(col("chunk_id"),
        concat(lit("_hyper_1_"), col("chunk_id"), lit("_chunk")).as("chunk_name"),
        lit(1).as("hypertable_id"))
    compressionFromStatus(updates, chunks,
      hypertableCatalog(updates.sparkSession))
  }

  /** The DETECTION stage alone: per-chunk old status (lag over lsn) →
    * transition kind, one row per detected transition. Factored out so
    * the streaming tracker (graft.streaming.CompressionTracker — keyed
    * state instead of a window, same contract) can be spec-proven
    * equivalent against it.
    */
  def statusTransitions(updates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wChunk = Window.partitionBy(col("chunk_id")).orderBy(col("lsn"))
    updates
      .withColumn("old_status", lag(col("new_status"), 1, 0).over(wChunk))
      .withColumn("kind",
        when(col("old_status") === 0 && col("new_status") =!= 0,
          lit(Envelope.TsdbOp.Compression))
          .when(col("old_status") =!= 0 && col("new_status") === 0,
            lit(Envelope.TsdbOp.Decompression)))
      .filter(col("kind").isNotNull)
  }

  /** The COMMIT-TIME emission stage: per-txn last-writer c/d winners
    * stamped with the commit's LSN/time (`transactiontracker.go:
    * 148-186`), over an already-detected transition stream. `updates`
    * supplies the commit fence (max lsn/ts per xid).
    */
  def commitEmission(transitions: DataFrame, updates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTxn = Window.partitionBy(col("xid"), col("kind"))
      .orderBy(col("lsn").desc)
    val winners = transitions.withColumn("__rn", row_number().over(wTxn))
      .filter(col("__rn") === 1)
    val commits = updates.groupBy(col("xid"))
      .agg(max(col("lsn")).as("commit_lsn"), max(col("ts_ms")).as("commit_ts_ms"))
    winners.join(commits, Seq("xid"))
      .select(
        col("commit_lsn").as("lsn"), col("xid"),
        lit(Envelope.Op.Timescale).as("op"),
        col("kind").as("tsdb_op"),
        col("chunk_id"),
        (col("new_status").bitwiseAND(lit(8)) === 8).as("partial"),
        col("commit_ts_ms").as("ts_ms"))
  }

  /** Event-side chunk-identity resolution — the J1 join applied to the
    * status machine's output: events carry only the catalog `chunk_id`
    * the UPDATE rows named (`transactiontracker.go:254-259` reads the
    * chunk by id from the system catalog), and the chunk NAME plus the
    * owning hypertable's `{schema, table}` key come from the catalog
    * broadcast — never string-synthesized at emission time. Both sides
    * of the join are catalog-sized.
    */
  def resolveChunkIdentity(events: DataFrame, chunks: DataFrame,
                           hypertables: DataFrame): DataFrame =
    events
      .join(broadcast(chunks.select(col("chunk_id"), col("chunk_name"),
        col("hypertable_id"))), Seq("chunk_id"))
      .join(broadcast(hypertables.select(col("hypertable_id"),
        col("ht_schema"), col("ht_table"))), Seq("hypertable_id"))
      .select(col("lsn"), col("xid"), col("op"), col("tsdb_op"),
        col("chunk_name"), col("partial"),
        col("ht_schema").as("key_schema"), col("ht_table").as("key_table"),
        col("ts_ms"))

  /** T3 — compression/decompression events over the fixture status
    * stream: [[chunkStatusUpdates]] → [[compressionFromStatus]], shaped
    * to the reference's event surface (`eventschema.go:46-51,180-197` —
    * per-chunk `$` event, `{schema,table}` key, tsdb_op). Both event
    * kinds flow from here into [[compressionEnvelopes]].
    */
  def compressionEvents(wal: DataFrame): DataFrame =
    compressionFromStatus(chunkStatusUpdates(wal), chunkCatalogOf(wal),
        hypertableCatalog(wal.sparkSession))
      .select(col("lsn"), col("op"), col("tsdb_op"), col("chunk_name"),
        col("partial"), col("key_schema"), col("key_table"), col("ts_ms"))

  /** The exact decompression-marker message prefixes the 2.12+ path
    * keys on (`transactiontracker.go:33-34`). */
  val DecompressionMarkerStartId = "::timescaledb-decompression-start"
  val DecompressionMarkerEndId   = "::timescaledb-decompression-end"

  /** Fixture stage — attach the logical-message `prefix` column the real
    * pgoutput stream carries on every `pg_logical_emit_message` row
    * (`spi/pgtypes/logicalreplicationmessage.go`). The raw events table
    * has no message metadata, so the prefix is derived deterministically
    * (reproducible by the DuckDB oracle):
    *
    *  - multi-message txns with `xid % 3 ≠ 2` are DECOMPRESSION
    *    brackets: first message = `::timescaledb-decompression-start`,
    *    last = `::timescaledb-decompression-end` (ids per
    *    `transactiontracker.go:33-34`), middles = plain `graft`
    *    application messages riding inside the bracket;
    *  - multi-message txns with `xid % 3 = 2` are APPLICATION outbox
    *    txns (`app.outbox`) — the negative class a prefix-blind
    *    heuristic would wrongly treat as brackets;
    *  - everything else emits the `graft` application prefix.
    *
    * One keyed window over xid (txns are 10 rows — bounded partitions),
    * no join; non-message rows carry a NULL prefix.
    */
  def withMessagePrefix(wal: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The per-txn counters (__nm = messages in txn, __mi = this
    // message's ordinal) count ONLY op='m' rows, so deriving them on
    // the filtered message subset is semantics-identical to windowing
    // the full WAL — and the full WAL then never shuffles for an
    // almost-always-null column (r16 review: the old whole-frame
    // window put an exchange-by-xid on every batch envelope path even
    // when the op gate had already removed all 'm' rows at the scan).
    // The prefix map is logical-message-frequency sized (markers, DDL,
    // outbox frames — never data-sized), so it broadcast-joins back by
    // lsn, the WAL position that uniquely identifies a message frame.
    val wTxn = Window.partitionBy(col("xid"))
    val wOrd = wTxn.orderBy(col("lsn"))
    val prefixes = wal.filter(col("op") === Envelope.Op.Message)
      .select(col("xid"), col("lsn"))
      .withColumn("__nm", count(lit(1)).over(wTxn))
      .withColumn("__mi", row_number().over(wOrd))
      .select(col("lsn").as("__msg_lsn"),
        when(col("__nm") >= 2 && pmod(col("xid"), lit(3)) =!= 2,
          when(col("__mi") === 1, lit(DecompressionMarkerStartId))
            .when(col("__mi") === col("__nm"), lit(DecompressionMarkerEndId))
            .otherwise(lit("graft")))
          .when(col("__nm") >= 2, lit("app.outbox"))
          .otherwise(lit("graft")).as("msg_prefix"))
    wal.join(broadcast(prefixes),
        wal("lsn") === col("__msg_lsn") &&
          col("op") === Envelope.Op.Message, "left")
      .drop("__msg_lsn")
  }

  /** T3 (2.12+ marker path) — marker-bracketed decompression as ONE
    * flow: a `::timescaledb-decompression-start` message flips
    * `ongoingDecompression` on, re-INSERTed rows inside the bracket are
    * discarded (`transactiontracker.go:208-218,383-392` — P7's
    * suppression), and closing the bracket yields the decompression
    * event for the chunk whose rows were being re-inserted (in the
    * reference the compressed `compress_…` chunk's catalog DELETE inside
    * the same txn triggers it, `replicationresolver.go:625-636`).
    *
    * Output: one `tsdb_op='d'` event per (txn, bracket, chunk) that had
    * inserts suppressed, emitted at the bracket's closing-marker LSN
    * with the suppressed count attached; chunk identity resolves through
    * the J1 catalog broadcast (never re-synthesized at emission). The
    * flag itself is the [[withMarkerFlag]] window — sequential
    * semantics (several brackets per txn, inserts between brackets
    * survive), the same contract the streaming wire arm applies in the
    * decode walk (`PgOutput.decodeSegments(markerSuppress = true)`).
    */
  def markerDecompression(wal: DataFrame): DataFrame =
    markerDecompressionPrefixed(withMessagePrefix(wal), chunkCatalogOf(wal))

  /** The marker-decompression flow over an ALREADY-prefixed WAL — the
    * production entry (a live pgoutput stream carries `msg_prefix`
    * natively; only the parquet fixture needs [[withMessagePrefix]]'s
    * derivation) and the spec surface for marker shapes the fixture
    * derivation cannot produce (several brackets in one txn). */
  def markerDecompressionPrefixed(prefixed: DataFrame,
                                  chunks: DataFrame): DataFrame =
    withMarkerFlag(prefixed)
      .filter(col("op") === Envelope.Op.Create && col("__ongoing") &&
        // a trailing unclosed bracket suppresses its rows but emits no
        // event (the streaming twin holds the tally in state; in the
        // reference the 'd' event comes from the chunk DELETE anyway)
        col("__next_end").isNotNull)
      .groupBy(col("xid"), col("__next_end").as("end_lsn"), col("chunk_day"))
      .agg(count(lit(1)).as("n_suppressed"), max(col("ts_ms")).as("ts_ms"))
      .join(broadcast(chunks.select(col("chunk_day"), col("chunk_name"))),
        Seq("chunk_day"))
      .select(col("end_lsn").as("lsn"), col("xid"),
        lit(Envelope.Op.Timescale).as("op"),
        lit(Envelope.TsdbOp.Decompression).as("tsdb_op"),
        col("chunk_name"), col("n_suppressed"), col("ts_ms"))

  /** T3 fixture — catalog chunk DELETE events. In marker mode the
    * decompression signal is the DELETION of the compressed twin's
    * catalog row (`replicationresolver.go:625-646`: `OnDeleteEvent` on
    * a chunk relation → `FindChunkById` → `chunk.IsCompressed()` — the
    * `compress_` name prefix, `chunk.go:49` — → decompression event).
    * Deterministic model: every chunk that decompressed in the status
    * fixture (d%4==0) has its `compress_hyper_2_<d>_chunk` twin deleted
    * one LSN block after the status history; every 12th data chunk is
    * ALSO deleted (retention drop of a plain chunk — the negative case
    * that must NOT emit a decompression event).
    */
  def chunkDeleteEvents(wal: DataFrame): DataFrame = {
    val chunks = wal.select(col("chunk_day")).distinct()
    val maxes = wal.agg(max(col("lsn")).as("__max_lsn"), max(col("ts_ms")).as("__max_ts"),
      max(col("chunk_day")).as("__max_day"))
    chunks.crossJoin(broadcast(maxes))
      // base2 sits above the status fixture's LSN range (base + d*40+20)
      .withColumn("__base", expr("((__max_lsn div 10) + 10) * 10"))
      .withColumn("__base2", col("__base") + (col("__max_day") + 1) * 40)
      .select(col("chunk_day"), col("__base"), col("__base2"), col("__max_ts"),
        explode(expr(
          """filter(array(
            |  CASE WHEN chunk_day % 4 = 0 THEN
            |    named_struct('lsn', __base2 + chunk_day * 4L,
            |      'chunk_id', chunk_day + 1000,
            |      'chunk_name', concat('compress_hyper_2_', chunk_day, '_chunk'),
            |      'hypertable_id', 2)
            |  END,
            |  CASE WHEN chunk_day % 12 = 1 THEN
            |    named_struct('lsn', __base2 + chunk_day * 4L + 1L,
            |      'chunk_id', chunk_day,
            |      'chunk_name', concat('_hyper_1_', chunk_day, '_chunk'),
            |      'hypertable_id', 1)
            |  END), x -> x IS NOT NULL)""".stripMargin)).as("d"))
      .select(col("d.lsn").as("lsn"), expr("d.lsn div 10").as("xid"),
        col("d.chunk_id").as("chunk_id"), col("d.chunk_name").as("chunk_name"),
        col("d.hypertable_id").as("hypertable_id"),
        (col("__max_ts") + (col("d.lsn") - col("__base"))).as("ts_ms"))
  }

  /** T3 (marker mode, the reference's actual decompression signal) —
    * chunk-DELETE-driven decompression events: catalog deletes of
    * `compress_`-prefixed chunk rows resolve through
    * [[resolveUncompressed]] (compressed hypertable → user hypertable)
    * and emit `tsdb_op='d'`; deletes of plain chunks (retention drops)
    * pass through silently. The name-prefix gate is `chunk.go:49`'s
    * `IsCompressed`; the resolution is `ResolveUncompressedHypertable`.
    * Both joins are catalog-sized broadcasts.
    */
  def chunkDeleteDecompression(deletes: DataFrame,
                               hypertables: DataFrame): DataFrame =
    deletes
      .filter(col("chunk_name").startsWith("compress_"))
      .join(broadcast(resolveUncompressed(hypertables)), Seq("hypertable_id"))
      .select(col("lsn"), col("xid"), lit(Envelope.Op.Timescale).as("op"),
        lit(Envelope.TsdbOp.Decompression).as("tsdb_op"),
        col("chunk_name"),
        col("uncompressed_schema").as("key_schema"),
        col("uncompressed_table").as("key_table"),
        col("ts_ms"))

  /** The marker-suppressed live stream — the P7 arm of the marker flow:
    * drops exactly the re-INSERTs [[markerDecompression]] counted, keeps
    * everything else (including the markers themselves, which the
    * envelope stage renders as op='m' events or drops by config).
    */
  def markerSuppress(wal: DataFrame): DataFrame =
    markerSuppressPrefixed(withMessagePrefix(wal))

  /** Suppression over an already-prefixed WAL (see
    * [[markerDecompressionPrefixed]] for why this is the production
    * entry). `msg_prefix` survives: the envelope stage downstream
    * renders the real prefix on op='m' rows. */
  def markerSuppressPrefixed(prefixed: DataFrame): DataFrame =
    withMarkerFlag(prefixed)
      .filter(!(col("op") === Envelope.Op.Create && col("__ongoing")))
      .drop("__ongoing", "__next_end")

  /** The sequential `ongoingDecompression` flag as data: the reference
    * keeps a BOOLEAN per active txn (`transactiontracker.go:383-392` —
    * a start marker sets it, an end marker clears it; it is not a
    * nesting counter), so `__ongoing` = "the most recent marker at or
    * before this row is a start". Several brackets per txn work, inserts
    * BETWEEN brackets survive, a repeated start is idempotent, and a
    * trailing unclosed start suppresses to txn end (the flag's
    * until-commit lifetime). `__next_end` = the lsn of the bracket's
    * closing marker (the emission point), null while unclosed. One keyed
    * window over 10-row txn partitions — no join, no driver state, and
    * unlike a bracket-interval join it never materializes the (data-
    * sized, at 100 TB) suppressed-row set on one side of anything.
    */
  private def withMarkerFlag(prefixed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("xid")).orderBy(col("lsn"))
    val wRev = Window.partitionBy(col("xid")).orderBy(col("lsn").desc)
    val marker = when(col("msg_prefix") === DecompressionMarkerStartId, true)
      .when(col("msg_prefix") === DecompressionMarkerEndId, false)
    prefixed
      .withColumn("__ongoing",
        coalesce(last(marker, ignoreNulls = true).over(wOrd), lit(false)))
      .withColumn("__next_end",
        min(when(col("msg_prefix") === DecompressionMarkerEndId, col("lsn")))
          .over(wRev))
  }

  /** pglogrepl `LSN.String()` parity: `%X/%X` of the high and low 32
    * bits — at realistic WAL positions the high word is nonzero, so
    * `0/hex(lsn)` would diverge from the reference's text form. */
  def lsnText(lsn: Column): Column =
    concat(hex(shiftrightunsigned(lsn, 32)), lit("/"),
      hex(lsn.bitwiseAND(0xFFFFFFFFL)))

  /** The Debezium source-block JSON (sorted keys), string-assembled for
    * cross-engine byte parity — the one builder behind the compression,
    * CDC, and snapshot envelopes. `txId = None` renders the JSON null of
    * a transaction-less event (snapshot reads, timescale events). */
  private def sourceJson(dbName: String, schemaName: String, tableName: String,
                         lsn: Column, tsMs: Column, snapshot: Boolean,
                         txId: Option[Column]): Column =
    concat(
      lit(s"""{"connector":"${Envelope.ConnectorName}","db":"$dbName","lsn":""""),
      lsnText(lsn),
      lit(s"""","name":"$dbName","schema":"$schemaName","snapshot":$snapshot,"table":"$tableName","ts_ms":"""),
      tsMs,
      lit(",\"txId\":"), txId.map(_.cast(StringType)).getOrElse(lit("null")),
      lit(s""","version":"${Envelope.Version}"}"""))

  /** Full `{payload, schema}` envelope for op='$' compression events —
    * `eventschema.go:150-177` (CompressionEvent/DecompressionEvent:
    * {op:"$", tsdb_op, source, ts_ms}, no row images) keyed by the
    * timescale `{schema, table}` key with `com.timescale.Event` schema
    * (`eventschema.go:188-197,254-264`). */
  def compressionEnvelopes(wal: DataFrame, dbName: String = "graft"): DataFrame = {
    val ev = compressionEvents(wal)
    val srcJson = sourceJson(dbName, "public", "events",
      col("lsn"), col("ts_ms"), snapshot = false, txId = None)
    val payload = concat(
      lit("{\"op\":\"$\",\"source\":"), srcJson,
      lit(",\"ts_ms\":"), col("ts_ms"),
      lit(",\"tsdb_op\":\""), col("tsdb_op"), lit("\"}"))
    ev.select(
      col("lsn"), col("chunk_name"),
      concat(lit("{\"payload\":"), payload, lit(",\"schema\":"),
        lit(eventsEnvelopeSchemaJson), lit("}")).as("envelope"),
      concat(lit("{\"payload\":{\"schema\":\"public\",\"table\":\"events\"},\"schema\":"),
        lit(graft.model.DebeziumSchema.timescaleKeySchemaJson), lit("}")).as("key_json"))
  }

  /** T10 — logical messages (`pg_logical_emit_message`,
    * `spi/pgtypes/logicalreplicationmessage.go`, emit
    * `eventemitter.go:278-288`): op="m" rows with `{prefix, content:
    * base64}` payload and `{prefix}` key. The prefix is the real per-row
    * message prefix ([[withMessagePrefix]]); decompression-marker
    * messages are CONSUMED by the tracker before message-event
    * generation (`transactiontracker.go:383-392` returns without
    * collecting them), so they never surface here.
    */
  def logicalMessages(wal: DataFrame): DataFrame =
    // prefix derivation only reads message rows (non-message rows
    // contribute 0 to both window sums), so filter FIRST: the op
    // predicate reaches the scan and the xid window shuffles only the
    // message slice, never the data-sized WAL
    withMessagePrefix(wal.filter(col("op") === Envelope.Op.Message))
      .filter(!col("msg_prefix").isin(DecompressionMarkerStartId,
        DecompressionMarkerEndId))
      .select(col("lsn"), col("op"), col("msg_prefix").as("prefix"),
        PgConverters.base64Std(col("props").cast("binary")).as("content"))

  /** Truncate-event flow (op `t`) — `logicalreplicationresolver/
    * replicationresolver.go:453-519` (OnTruncateEvent): a truncate
    * message names a set of relations; each resolves chunk→hypertable,
    * catalog tables are skipped, and the result is de-duplicated by
    * canonical table name before one truncate event per table is
    * emitted with NO before/after images.
    *
    * Model: delete-op WAL entries act as the truncate markers; one
    * message per transaction (xid). The distinct-by-canonical-name
    * fan-out is the groupBy; resolution is the same broadcast joins as
    * the hot path (zero shuffle on the event side beyond the final
    * per-xid aggregate).
    */
  def truncateEvents(wal: DataFrame, chunks: DataFrame,
                     hypertables: DataFrame): DataFrame =
    wal.filter(col("op") === Envelope.Op.Delete)
      .join(broadcast(chunks), Seq("chunk_day"))
      .join(broadcast(hypertables), Seq("hypertable_id"))
      // UniqBy canonical name within the message (= xid here)
      .groupBy(col("xid"), col("ht_schema"), col("ht_table"))
      .agg(min(col("lsn")).as("lsn"), min(col("ts_ms")).as("ts_ms"))
      .select(col("lsn"), col("xid"), lit(Envelope.Op.Truncate).as("op"),
        col("ht_schema").as("schema_name"), col("ht_table").as("table_name"),
        col("ts_ms"),
        // eventschema.go TruncateEvent: no row images
        lit(null).cast(StringType).as("before"),
        lit(null).cast(StringType).as("after"))

  /** Transactional vs non-transactional logical messages —
    * `spi/pgtypes/logicalreplicationmessage.go:35-37` +
    * `eventemitter.go:408-421`: a transactional message carries the
    * transaction's id and is stamped with the server WAL time; a
    * non-transactional one has no txId and the reference stamps it with
    * the emitter's wall clock (not reproducible — surfaced as NULL here;
    * the production sink substitutes its own receive time).
    * Transactionality modeled as even-LSN (deterministic for the oracle).
    */
  def logicalMessagesTxn(wal: DataFrame): DataFrame = {
    val transactional = pmod(col("lsn"), lit(2)) === 0
    // same message-slice-only shuffle posture as [[logicalMessages]]
    withMessagePrefix(wal.filter(col("op") === Envelope.Op.Message))
      .filter(!col("msg_prefix").isin(DecompressionMarkerStartId,
        DecompressionMarkerEndId))
      .select(col("lsn"),
        transactional.as("transactional"),
        when(transactional, col("xid")).as("tx_id"),
        when(transactional, col("ts_ms")).as("msg_ts_ms"),
        col("msg_prefix").as("prefix"),
        PgConverters.base64Std(col("props").cast("binary")).as("content"))
  }

  /** A1 — stats counters (`internal/stats/stats.go:35-100`,
    * `replicationhandler.go:39-64`): per-op totals + largest transaction,
    * the Prometheus surface as a relational aggregate. The streaming path
    * exposes the same via `df.observe()`.
    */
  def statsCounters(wal: DataFrame): DataFrame = {
    val perOp = wal.groupBy(col("op")).agg(count(lit(1)).as("n_events"))
    val largest = wal.groupBy(col("xid")).agg(count(lit(1)).as("txn_size"))
      .agg(max(col("txn_size")).as("largest_txn"))
    perOp.crossJoin(largest)
  }

  /** A3 — watermark min/max maintenance (`spi/watermark/watermarks.go:
    * 294-340`): per-table running keyset bounds. */
  def watermarks(wal: DataFrame): DataFrame =
    wal.groupBy(col("table_name"))
      .agg(min(col("lsn")).as("low_lsn"), max(col("lsn")).as("high_lsn"),
        min(col("event_id")).as("low_key"), max(col("event_id")).as("high_key"))

  /** S7 — catalog column discovery: the result shape of the reference's
    * column-schema query (`internal/sidechannel/queries.go:130-178`,
    * FIXTURES.md §4) derived from the live parquet schema — name, type,
    * nullability, PK/keySeq (event_id), dimension flag (ts, the time
    * dimension).
    */
  def catalogColumns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fields = Tables.events(spark, dir).schema.fields.toSeq.zipWithIndex.map {
      case (f, i) =>
        (f.name, f.dataType.simpleString, f.nullable,
          f.name == "event_id", if (f.name == "event_id") Some(1) else None,
          f.name == "ts", if (f.name == "ts") Some("time") else None, i + 1)
    }
    fields.toDF("column_name", "data_type", "nullable", "is_primary_key",
      "key_seq", "is_dimension", "dim_type", "ordinal")
  }

  /** Sessionization over the event stream — gap-based sessions (1h), the
    * classic training-pipeline windowing op. Expressed with lag+cumsum so
    * the SQL oracle states the identical computation; the streaming path
    * uses `session_window` (same semantics, state-store backed).
    * One shuffle on user_id; the running sum is computed within the
    * partition (no extra exchange).
    */
  def sessionize(wal: DataFrame, gapMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("lsn"))
    wal
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("sess_no",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("sess_start_ms"), max(col("ts_ms")).as("sess_end_ms"))
  }

  /** As-of lookup: for each event, the most recent order of the same key
    * at or before the event time — the temporal-join shape the reference
    * family of CDC consumers needs for dimension alignment. Bounded
    * non-equi join + max aggregation; at scale, a range-join with
    * partitioned time buckets (the equi part, o_custkey=user_id, already
    * bounds the blow-up).
    */
  def asofLastOrder(wal: DataFrame, orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey"),
      graft.types.PgConverters.timestampToMillis(col("o_orderdate")).as("order_ms"))
    wal.select(col("event_id"), col("user_id"), col("ts_ms"))
      .join(o, col("o_custkey") === col("user_id") && col("order_ms") <= col("ts_ms"), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(max(col("order_ms")).as("last_order_ms"))
  }

  /** Consumer-side table materialization — the half every CDC pipeline
    * ends in but the reference (a producer) leaves to its sinks: replay
    * the keyed change stream into the CURRENT state of the target
    * table, upsert semantics (the highest-LSN change per key wins; a
    * terminal delete removes the row — the Debezium JDBC-sink contract
    * its envelope is designed for, `spi/schema/eventschema.go:36-44` op
    * codes).
    *
    * Scale shape: ONE shuffle on the key with map-side partial
    * aggregation — `max_by` carries the candidate row as a struct and
    * pre-combines per partition, so each mapper emits one row per
    * distinct key it saw. The window-rank alternative must hash the
    * FULL event volume and sort every key group; this form moves
    * O(mappers × keys) rows.
    */
  def applyUpsert(wal: DataFrame, keyCol: String = "user_id"): DataFrame =
    wal
      .filter(col("op").isin(Envelope.Op.Read, Envelope.Op.Create,
        Envelope.Op.Update, Envelope.Op.Delete))
      .groupBy(col(keyCol))
      .agg(max_by(
        struct(col("lsn"), col("op"), col("value"), col("ts_ms")), col("lsn")).as("__last"))
      .filter(col("__last.op") =!= Envelope.Op.Delete)
      .select(col(keyCol), col("__last.lsn").as("last_lsn"),
        col("__last.op").as("last_op"), col("__last.value").as("value"),
        col("__last.ts_ms").as("ts_ms"))

  /** SCD2 (slowly-changing-dimension type 2) version history from the
    * changelog: every kept c/u/r event OPENS a version whose validity
    * ends at the key's next event — half-open `[valid_from_lsn,
    * valid_to_lsn)` — and a delete closes its predecessor without
    * opening one. `is_current` marks still-open versions. This is the
    * downstream table warehouse users derive from a CDC feed (the
    * reference emits the changelog; the dimension build is the first
    * thing its consumers do with it).
    *
    * Scale shape: ONE shuffle — a single per-key window ordered by lsn
    * (`lead`); no self-join, no global sort. Per-key state is the key's
    * event count, fine for dimension-shaped keys; a pathological
    * hot key serializes only its own partition slice.
    */
  def scd2History(wal: DataFrame, keyCol: String = "user_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("lsn"))
    wal
      .filter(col("op").isin(Envelope.Op.Read, Envelope.Op.Create,
        Envelope.Op.Update, Envelope.Op.Delete))
      .withColumn("valid_to_lsn", lead(col("lsn"), 1).over(w))
      .filter(col("op") =!= Envelope.Op.Delete) // closes, never opens
      .select(col(keyCol), col("lsn").as("valid_from_lsn"),
        col("valid_to_lsn"), col("op"), col("value"), col("ts_ms"),
        col("valid_to_lsn").isNull.as("is_current"))
  }

  /** Table state AS OF an LSN fence — time travel over the changelog:
    * last-writer-wins replay of every event at or below the fence
    * ([[applyUpsert]] on the fenced slice). The fence rides as a column
    * so callers can derive it IN-PLAN (broadcast scalar) with no
    * driver-side action.
    */
  def stateAtLsn(wal: DataFrame, fence: Column,
                 keyCol: String = "user_id"): DataFrame =
    applyUpsert(wal.filter(col("lsn") <= fence), keyCol)

  /** Changelog compaction (the Kafka compacted-topic contract): below
    * the fence keep only each key's LAST event; above it keep
    * everything. Replaying the compacted log reproduces [[stateAtLsn]]
    * EXACTLY for every lsn ≥ fence (spec-asserted) — the history a
    * consumer can no longer distinguish is what gets dropped, which is
    * why compaction bounds a 100 TB changelog's retention without
    * breaking late joiners.
    *
    * Scale shape: one partial-agg shuffle (max lsn per key on the
    * fenced slice) + a semi-join back on (key, lsn); the above-fence
    * slice passes through untouched. No windows, no global sort.
    */
  def compactChangelog(wal: DataFrame, fence: Column,
                       keyCol: String = "user_id"): DataFrame = {
    // only keyed TABLE CHANGES participate in compaction: a logical
    // message (op 'm') is not table state, must never shadow a key's
    // real last upsert, and — being history — does not survive the
    // compacted region (the Kafka compacted-topic contract applies to
    // keyed records; messages below retention are gone)
    val below = wal.filter(col("lsn") <= fence &&
      col("op").isin(Envelope.Op.Read, Envelope.Op.Create,
        Envelope.Op.Update, Envelope.Op.Delete))
    val lastBelow = below
      .groupBy(col(keyCol)).agg(max(col("lsn")).as("lsn"))
    below.join(lastBelow, Seq(keyCol, "lsn"), "left_semi")
      .unionByName(wal.filter(col("lsn") > fence))
  }

  /** Deletion propagation ("forget" / right-to-be-forgotten): keep only
    * events whose key SURVIVES the full replay — a key whose terminal
    * change is a delete disappears from the analytic store entirely,
    * history included. This is the canonical downstream obligation of a
    * CDC feed (the reference delivers the deletes + tombstones; the
    * consumer must propagate them into derived tables).
    * One aggregate on the key + a semi-join — no windows.
    */
  def forgetDeleted(wal: DataFrame, keyCol: String = "user_id"): DataFrame =
    wal.join(applyUpsert(wal, keyCol).select(col(keyCol)), Seq(keyCol), "left_semi")

  /** Consumer-side single-message-transform parity — Debezium's
    * `ExtractNewRecordState` ("unwrap"), the transform virtually every
    * consumer of the reference's envelopes applies first: flatten the
    * `{before, after, source, op, ts_ms}` envelope to a plain row =
    * `after.*` + `__`-prefixed metadata columns. `after` is null on
    * deletes (`spi/schema/eventschema.go:100-117` presence rules), so
    * delete handling is a mode: `drop` discards delete records (the
    * SMT's default), `rewrite` keeps them with a soft-delete marker
    * `__deleted = "true"` and null state columns.
    *
    * Pure narrow projection + filter — fuses into the scan's
    * whole-stage-codegen; zero shuffle at any scale.
    */
  def unwrapNewRecordState(wal: DataFrame, deleteMode: String = "drop",
                           passthrough: Seq[String] = Nil): DataFrame = {
    // column privacy (column.exclude.list) may have dropped ANY payload
    // column before the SMT runs — tolerate the gap with typed nulls
    // (the unwrapped record simply lacks that state), never an
    // unresolved-column crash
    val cols = wal.columns.toSet
    def c(n: String, t: org.apache.spark.sql.types.DataType) =
      if (cols.contains(n)) col(n) else lit(null).cast(t)
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val after = when(col("op") =!= Envelope.Op.Delete,
      struct(c("value", DoubleType).as("value"),
        c("props", StringType).as("props"))) // null struct ⇒ null fields (after=null on d)
    val unwrapped = wal
      .filter(col("op").isin(Envelope.Op.Read, Envelope.Op.Create,
        Envelope.Op.Update, Envelope.Op.Delete))
      .withColumn("__after", after)
      .select(Seq(
        c("user_id", LongType).as("user_id"),
        col("__after.value").as("value"),
        col("__after.props").as("props"),
        col("op").as("__op"),
        c("lsn", LongType).as("__lsn"),
        c("ts_ms", LongType).as("__source_ts_ms"),
        concat(c("schema_name", StringType), lit("."),
          c("table_name", StringType)).as("__table"),
        (col("op") === Envelope.Op.Delete).as("__deleted")) ++
        passthrough.map(col): _*)
    deleteMode match {
      case "drop"    => unwrapped.filter(!col("__deleted")).drop("__deleted")
      // the SMT renders the marker as a STRING field ("true"/"false")
      case "rewrite" => unwrapped.withColumn("__deleted", col("__deleted").cast(StringType))
      case other     => sys.error(s"unwrap: unknown delete.handling.mode '$other' (drop|rewrite)")
    }
  }

  /** Debezium outbox event router (the transactional-outbox pattern's
    * consumer half): an INSERT-only outbox table carries
    * (aggregate type, aggregate id, payload); the router re-topics each
    * insert to `<prefix>.<aggregatetype>`, keys it by the aggregate id,
    * and forwards the payload verbatim. Updates/deletes on an outbox
    * table are operational noise and are dropped, per the SMT's
    * contract. In the WAL stand-in: aggregate type = event_type,
    * aggregate id = user_id, payload = props.
    *
    * Narrow projection + filter — fuses into the scan, zero shuffle.
    */
  def outboxRoute(wal: DataFrame, topicPrefix: String = "outbox.event"): DataFrame =
    wal.filter(col("op") === Envelope.Op.Create)
      .select(
        concat(lit(topicPrefix), lit("."), col("event_type")).as("topic"),
        col("user_id").as("key"),
        col("props").as("value"),
        col("lsn"), col("ts_ms"))

  /** Incremental snapshot, DBLog-style (the watermark-windowed chunk
    * algorithm Debezium adopted for snapshots that run CONCURRENTLY with
    * the stream — the scale path the reference's stop-the-world initial
    * snapshot lacks): snapshot one key-range chunk `(keyLo, keyHi]` as
    * of the low-watermark LSN, then let any stream event for the same
    * key inside the `(lsnLo, lsnHi]` watermark window SUPERSEDE the
    * snapshot row (the stream value is newer by construction; emitting
    * both would reorder a key's history). Output = surviving snapshot
    * rows as op `r` at the low watermark + the window's live events,
    * exactly DBLog's "buffer chunk, evict on stream hit, flush at high
    * watermark".
    *
    * Scale shape: the chunk's state is [[stateAtLsn]] (one partial-agg
    * shuffle over only the fenced slice), the supersede check is a
    * left-anti join on the key against the window's (tiny, time-bounded)
    * touched-key set — broadcastable since a watermark window spans
    * seconds of WAL, not history.
    */
  def incrementalSnapshotChunk(wal: DataFrame, keyLo: Long, keyHi: Long,
                               lsnLo: Long, lsnHi: Long,
                               keyCol: String = "user_id"): DataFrame = {
    val window = wal.filter(col("lsn") > lsnLo && col("lsn") <= lsnHi &&
      col("op").isin(Envelope.Op.Create, Envelope.Op.Update, Envelope.Op.Delete))
    val windowKeys = window
      .filter(col(keyCol) > keyLo && col(keyCol) <= keyHi)
      .select(col(keyCol)).distinct()
    val snap = stateAtLsn(wal, lit(lsnLo), keyCol)
      .filter(col(keyCol) > keyLo && col(keyCol) <= keyHi)
      .join(broadcast(windowKeys), Seq(keyCol), "left_anti")
      .select(col(keyCol), lit(Envelope.Op.Read).as("op"), lit(lsnLo).as("lsn"),
        col("value"), col("ts_ms"))
    snap.unionByName(
      window.select(col(keyCol), col("op"), col("lsn"), col("value"), col("ts_ms")))
  }

  /** Per-chunk partial aggregate state for [[caggRefresh]]: count +
    * integer-micro value sum of INSERT events (fixed point is the
    * cross-engine exactness posture; sum/count are the delta-mergeable
    * aggregates — min/max are NOT maintainable under deletes and are
    * deliberately absent).
    */
  def caggPartials(wal: DataFrame): DataFrame =
    wal.filter(col("op") === Envelope.Op.Create)
      .groupBy(col("chunk_day"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(value * 1000000 + 0.5) as bigint)")).as("sum_micros"))

  /** Continuous-aggregate REFRESH — the incremental half of A2
    * (TimescaleDB caggs refresh only the invalidated window;
    * FIXTURES.md §1 continuous_aggregate). The already-materialized
    * base partials merge with partials computed from ONLY the delta WAL
    * slice: refresh cost is O(delta + |materialized groups|), never a
    * corpus re-scan — the property that makes a 100 TB rollup
    * maintainable at all. Merging partial states = re-aggregating their
    * union (sum of counts, sum of sums); the result is bit-identical to
    * a full recompute, which is exactly what the oracle checks.
    */
  def caggRefresh(basePartials: DataFrame, deltaWal: DataFrame): DataFrame =
    basePartials.unionByName(caggPartials(deltaWal))
      .groupBy(col("chunk_day"))
      .agg(sum(col("n")).as("n"), sum(col("sum_micros")).as("sum_micros"))

  /** Debezium-style heartbeats (`heartbeat.interval.ms`): one synthetic
    * record per elapsed interval carrying the high-watermark LSN at
    * that point — the liveness signal consumers use to advance offsets
    * across quiet tables. Derived from the stream itself (one
    * partial-agg shuffle on the interval bucket); at scale the bucket
    * count is bounded by wall time, not event volume.
    */
  def heartbeats(wal: DataFrame, intervalMs: Long): DataFrame =
    wal.groupBy(expr(s"ts_ms div $intervalMs").as("beat"))
      .agg(max(col("lsn")).as("high_lsn"), count(lit(1)).as("n_events"))
      .select((col("beat") * intervalMs).as("beat_ms"), col("high_lsn"),
        col("n_events"))

  /** Column-level privacy controls (Debezium `column.exclude.list` /
    * `column.mask.hash.*`): excluded payload columns are DROPPED from
    * the envelope, masked ones replaced by the SHA-256 hex of their
    * string rendering (pseudonymous joins still work — equal plaintexts
    * mask equally). Narrow projection, zero shuffle, applied at capture
    * (before any sink sees a byte, the point of the control).
    */
  def maskColumns(df: DataFrame, exclude: Seq[String] = Nil,
                  maskHash: Seq[String] = Nil): DataFrame = {
    val bad = (exclude ++ maskHash).filterNot(df.columns.contains)
    require(bad.isEmpty, s"maskColumns: unknown column(s) ${bad.mkString(",")}")
    val dropped = df.drop(exclude: _*)
    maskHash.foldLeft(dropped)((d, c) =>
      d.withColumn(c, sha2(col(c).cast(StringType), 256)))
  }

  /** Incremental view maintenance for a JOIN view — the join sibling of
    * [[caggRefresh]]'s aggregate IVM: a materialized `events ⋈ dim`
    * view refreshes from ONLY the delta WAL slice (`ΔA ⋈ dim`; with a
    * static dimension the classic three-way delta expansion collapses
    * to one term). Refresh cost is O(Δ·broadcast), never a base-table
    * re-join — the property that keeps a 100 TB enriched view
    * maintainable. The oracle recomputes the whole view from scratch,
    * proving base ∪ delta-join exact.
    */
  def ivmJoinRefresh(baseView: DataFrame, deltaWal: DataFrame,
                     dim: DataFrame, key: String): DataFrame =
    baseView.unionByName(deltaWal.join(broadcast(dim), key))

  /** Hierarchical continuous aggregate — the weekly rollup built FROM
    * the daily partials, never from raw events (TimescaleDB 2.9+
    * caggs-on-caggs): count/sum partial states re-aggregate losslessly
    * at any coarser grain, so each level's refresh cost is the finer
    * level's GROUP count. The oracle recomputes the weekly truth from
    * scratch, proving the partial-merge chain exact.
    */
  def caggWeeklyFromDaily(dailyPartials: DataFrame): DataFrame =
    dailyPartials
      .groupBy(expr("chunk_day div 7").as("chunk_week"))
      .agg(sum(col("n")).as("n"), sum(col("sum_micros")).as("sum_micros"))

  /** Per-chunk table checksums — the pt-table-checksum/Debezium
    * "verify the replica" obligation of every CDC pipeline: an
    * ORDER-INDEPENDENT digest per (table, chunk) = XOR-fold of a
    * per-row FNV-64a over the canonical `|`-joined row rendering
    * (value in integer micros — float text never crosses engines).
    * Source and target compute it independently; equal checksums +
    * counts ⇒ chunk verified without moving rows. One partial-agg
    * shuffle (bit_xor and count pre-combine map-side).
    */
  def chunkChecksums(wal: DataFrame): DataFrame =
    wal
      .withColumn("__row_hash", graft.functions.FnvHash64.fnv_hash64(
        concat_ws("|", col("lsn"), col("user_id"), col("event_type"),
          expr("cast(floor(value * 1000000 + 0.5) as bigint)"), col("props"))))
      .groupBy(col("table_name"), col("chunk_day"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__row_hash)").as("checksum"))

  /** WAL continuity audit — the loss detector every at-least-once
    * consumer runs: adjacent delivered LSNs more than one apart mean a
    * gap (dropped batch, compacted-away range, or a skipped slice);
    * report each gap's bounds and width.
    *
    * Two-level, never a whole-stream global sort: every adjacent pair
    * either sits inside one WAL segment (`lsn div 2^segmentBits`) — a
    * PARTITIONED lead finds those — or spans the boundary between a
    * segment's max and the next non-empty segment's min, found by a
    * lead over the per-segment min/max summary (segment-count-sized,
    * 2^20 LSNs per segment ⇒ ~10⁶ summary rows per 10¹² delivered;
    * empty segments are simply absent from the summary, so multi-
    * segment holes collapse into one boundary gap). Identical result
    * set to the textbook single global lead.
    */
  def lsnGaps(delivered: DataFrame, segmentBits: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(segmentBits >= 1 && segmentBits <= 40,
      s"lsnGaps: segmentBits=$segmentBits out of [1,40]")
    val seg = delivered.select(col("lsn"),
      expr(s"lsn div ${1L << segmentBits}L").as("__seg"))
    val wIn = Window.partitionBy(col("__seg")).orderBy(col("lsn"))
    val inner = seg
      .withColumn("next_lsn", lead(col("lsn"), 1).over(wIn))
      .filter(col("next_lsn") - col("lsn") > 1)
      .select(col("lsn").as("gap_after_lsn"), col("next_lsn").as("resume_lsn"))
    val summary = seg.groupBy(col("__seg"))
      .agg(min(col("lsn")).as("seg_min"), max(col("lsn")).as("seg_max"))
    val boundary = summary
      .withColumn("next_min", lead(col("seg_min"), 1).over(Window.orderBy(col("__seg"))))
      .filter(col("next_min") - col("seg_max") > 1)
      .select(col("seg_max").as("gap_after_lsn"), col("next_min").as("resume_lsn"))
    inner.unionByName(boundary)
      .select(col("gap_after_lsn"), col("resume_lsn"),
        (col("resume_lsn") - col("gap_after_lsn") - 1).as("missing"))
  }

  /** Source↔target reconciliation from two [[chunkChecksums]] runs —
    * the report a CDC operator reads after a suspected divergence:
    * per chunk `equal` / `count_mismatch` / `checksum_mismatch` /
    * `missing_on_target` / `missing_on_source`. Compares digest tables
    * (chunk-count-sized), never rows — the entire point of
    * checksum-based reconciliation at 100 TB.
    */
  def reconcile(source: DataFrame, target: DataFrame): DataFrame = {
    val s = source.select(col("table_name"), col("chunk_day"),
      col("n_rows").as("s_rows"), col("checksum").as("s_sum"))
    val t = target.select(col("table_name"), col("chunk_day"),
      col("n_rows").as("t_rows"), col("checksum").as("t_sum"))
    s.join(t, Seq("table_name", "chunk_day"), "full_outer")
      .select(col("table_name"), col("chunk_day"),
        when(col("s_rows").isNull, "missing_on_source")
          .when(col("t_rows").isNull, "missing_on_target")
          .when(col("s_rows") =!= col("t_rows"), "count_mismatch")
          .when(col("s_sum") =!= col("t_sum"), "checksum_mismatch")
          .otherwise("equal").as("status"))
  }

  /** T9 — catalog/DDL control plane (`catalogeventhandler.go:58-263`):
    * a chunk's first WAL event plays the role of the
    * `_timescaledb_catalog.chunk` INSERT — the control event that
    * registers the chunk and enqueues its snapshot
    * (`OnChunkAddedEvent` `:140-181`). Produces the registration
    * sequence with the snapshot-partition assignment each chunk's
    * backfill lands on (FNV parity, `snapshotter.go:88`).
    */
  def chunkAddedEvents(wal: DataFrame, partitions: Int = 5): DataFrame =
    wal.groupBy(col("chunk_day"))
      .agg(min(col("lsn")).as("registered_at_lsn"))
      .select(
        concat(lit("_hyper_1_"), col("chunk_day"), lit("_chunk")).as("chunk_name"),
        col("registered_at_lsn"),
        lit("events").as("parent_hypertable"),
        graft.functions.FnvHash64.snapshotPartition(
          concat(lit("_timescaledb_internal._hyper_1_"), col("chunk_day"), lit("_chunk")),
          partitions).as("snapshot_partition"))

  /** Partitioned envelope write — the at-rest layout for the 100 TB
    * case: partition by (table, chunk_day) so downstream readers get
    * partition pruning on both the table and the time dimension, exactly
    * the pruning axis TimescaleDB chunks give the reference. Sized
    * output files via a pre-write repartition on the same keys (avoids
    * the many-small-files failure mode of per-task fan-out writes).
    */
  def writeEnvelopePartitioned(env: DataFrame, outDir: String): Unit =
    env.repartition(col("table_name"), col("chunk_day"))
      .write.mode("overwrite")
      .partitionBy("table_name", "chunk_day")
      .parquet(outDir)

  /** The reference's actual output artifact: the full Debezium
    * `{schema?, payload}` JSON per event (`spi/schema/eventschema.go:
    * 199-226`; before/after presence rules `eventschema.go:100-117`):
    * after on r/c/u, null on delete; before on u/d. Built entirely with
    * `struct`/`to_json` — one codegen'd projection, no serializer layer.
    */
  def envelopeJson(spark: SparkSession, dir: String, dbName: String = "graft"): DataFrame = {
    val wal = walEvents(spark, dir)
    wal.select(col("lsn"),
      envelopeJsonCol(dbName).as("envelope"),
      envelopeKeyJsonCol.as("key"))
  }

  /** Column-level form of the full `{payload, schema}` envelope — the
    * one codegen'd projection, applicable to ANY frame carrying the
    * shaped-WAL columns (op, ts_ms, schema_name, table_name, xid, lsn,
    * event_id, user_id, value, props). Shared by the batch
    * `envelopeJson` and any streaming frame of the same shape, so both
    * render identically.
    */
  def envelopeJsonCol(dbName: String = "graft"): Column = {
    val rowStruct = struct(col("event_id"), col("user_id"), col("value"), col("props"))
    val source = Envelope.sourceBlock(dbName, col("schema_name"), col("table_name"),
      col("ts_ms"), lit(false), col("xid"),
      lsnText(col("lsn")))
    val payload = Envelope.payload(
      col("op"),
      before = when(col("op").isin(Envelope.Op.Update, Envelope.Op.Delete), rowStruct),
      after  = when(col("op").isin(Envelope.Op.Read, Envelope.Op.Create, Envelope.Op.Update), rowStruct),
      source = source,
      tsMs   = col("ts_ms"))
    // full self-describing artifact: payload JSON (codegen to_json) +
    // the plan-time-constant schema descriptor (DebeziumSchema §1.3)
    val rowSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("props", StringType,
        nullable = true, new MetadataBuilder()
          .putString("debezium.name", graft.model.DebeziumSchema.JsonSchemaName).build())))
    val schemaJson = graft.model.DebeziumSchema
      .envelopeSchemaJson(rowSchema, "graft.public.events")
    // to_json of the payload struct directly — wrapping it in another
    // aliased struct rendered a doubled {"payload":{"payload":{...}}}
    // envelope (caught by the cdc_envelope_json parse-back gate)
    concat(lit("{\"payload\":"), to_json(payload),
      lit(",\"schema\":"), lit(schemaJson), lit("}"))
  }

  /** Key envelope (`eventschema.go:180-197` PK-key form) as a Column. */
  def envelopeKeyJsonCol: Column = {
    val keySchemaJson = graft.model.DebeziumSchema
      .keySchemaJson("graft.public.events", Seq("event_id" -> LongType))
    concat(lit("{\"payload\":"), to_json(struct(col("event_id"))),
      lit(",\"schema\":"), lit(keySchemaJson), lit("}"))
  }

  /** Plan-time schema constants for the events table envelope — shared
    * between the Spark query and the oracle SQL generator so both sides
    * embed the byte-identical descriptor. */
  val EventsTopic = "graft.public.events"
  lazy val eventsRowSchemaJson: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("props", StringType,
      nullable = true, new MetadataBuilder()
        .putString("debezium.name", graft.model.DebeziumSchema.JsonSchemaName).build()),
    StructField("user_id", LongType), StructField("value_cents", LongType)))
  lazy val eventsEnvelopeSchemaJson: String =
    graft.model.DebeziumSchema.envelopeSchemaJson(eventsRowSchemaJson, EventsTopic)
  lazy val eventsPkKeySchemaJson: String =
    graft.model.DebeziumSchema.keySchemaJson(EventsTopic, Seq("event_id" -> LongType))
  lazy val messageEnvelopeSchemaJson: String =
    graft.model.DebeziumSchema.messageEnvelopeSchemaJson(
      Envelope.messageTopicName("graft"))

  def envelopeWithSchema(spark: SparkSession, dir: String,
                         dbName: String = "graft"): DataFrame = {
    val wal = withMessagePrefix(walEvents(spark, dir))
    val (env, key) = eventsEnvelopeCols(dbName)
    wal.select(col("lsn"), env.as("envelope"), key.as("key_json"))
  }

  /** The events-table envelope + key renders as COLUMNS over the shaped
    * WAL schema (lsn, xid, op, ts_ms, event_id, user_id, value, props,
    * msg_prefix) — shared by [[envelopeWithSchema]], the render-late
    * sorted multi-table path ([[multiTableEnvelopesSorted]]) and the
    * config pipeline's wire render. op='m' rows render the REAL per-row
    * `msg_prefix` (the reference renders `message.prefix` in both the
    * envelope and the `{prefix}` key, `eventschema.go:132-150,325-341`)
    * — a live stream decodes it off the wire for free; the parquet
    * fixture derives it once via [[withMessagePrefix]]. No surface
    * fabricates a prefix. Each column is one codegen'd expression that
    * writes the whole JSON text in one pass ([[EventsEnvelopeText]] has
    * the layout and the null rules); money is integer cents
    * (representation-stable across engines). */
  def eventsEnvelopeCols(dbName: String = "graft"): (Column, Column) = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    def e(name: String) = expression(col(name))
    val valueCents = expression(floor(col("value") * 100.0 + 0.5).cast(LongType))
    (column(EventsEnvelope(e("op"), e("lsn"), e("xid"), e("ts_ms"), e("event_id"),
        e("props"), e("user_id"), valueCents, e("msg_prefix"), dbName)),
      column(EventsKey(e("op"), e("event_id"), e("msg_prefix"))))
  }

  /** One table's snapshot-read envelope stream (op='r', snapshot=true,
    * txId null) with its own Debezium schema and key schema — the
    * building block of the multi-table pipeline. All JSON is string-
    * assembled (sorted keys) for cross-engine byte parity. */
  def snapshotEnvelope(df: DataFrame, dbName: String, schemaName: String,
                       tableName: String, lsn: Column, tsMs: Column,
                       rowJson: Column, keyPayloadJson: Column,
                       rowSchema: StructType,
                       pk: Seq[(String, DataType)]): DataFrame = {
    val topic = s"$dbName.$schemaName.$tableName"
    val schemaJson = graft.model.DebeziumSchema.envelopeSchemaJson(rowSchema, topic)
    val keySchemaJson = graft.model.DebeziumSchema.keySchemaJson(topic, pk)
    val srcJson = sourceJson(dbName, schemaName, tableName,
      lsn, tsMs, snapshot = true, txId = None)
    val payload = concat(lit("{\"after\":"), rowJson,
      lit(",\"op\":\"r\",\"source\":"), srcJson, lit(",\"ts_ms\":"), tsMs, lit("}"))
    df.select(
      lit(topic).as("topic"),
      lsn.as("lsn"),
      concat(lit("{\"payload\":"), payload, lit(",\"schema\":"), lit(schemaJson),
        lit("}")).as("envelope"),
      concat(lit("{\"payload\":"), keyPayloadJson, lit(",\"schema\":"),
        lit(keySchemaJson), lit("}")).as("key_json"))
  }

  /** Multi-table pipeline: the reference streams every published table
    * concurrently, each with its own relation schema
    * (`systemcatalog.go` relation registry). Spark shape: per-table
    * envelope DataFrames (each with its plan-time schema constant)
    * unioned into one stream — schemas differ per row only in the
    * constant column, so the union stays a single narrow scan per
    * table with zero shuffle before the final sort. Includes a
    * composite-key table (lineitem) exercising multi-column key
    * schemas.
    */
  def multiTableEnvelopes(spark: SparkSession, dir: String,
                          dbName: String = "graft"): DataFrame = {
    val ev = envelopeWithSchema(spark, dir, dbName)
      .select(lit(s"$dbName.public.events").as("topic"), col("lsn"),
        col("envelope"), col("key_json"))

    val o = Tables.orders(spark, dir)
    val orders = snapshotEnvelope(o, dbName, "public", "orders",
      lsn = col("o_orderkey"),
      tsMs = PgConverters.timestampToMillis(col("o_orderdate")),
      rowJson = concat(lit("{\"o_custkey\":"), col("o_custkey"),
        lit(",\"o_orderkey\":"), col("o_orderkey"),
        lit(",\"total_cents\":"), floor(col("o_totalprice") * 100.0 + 0.5).cast(LongType),
        lit("}")),
      keyPayloadJson = concat(lit("{\"o_orderkey\":"), col("o_orderkey"), lit("}")),
      rowSchema = StructType(Seq(
        StructField("o_custkey", LongType), StructField("o_orderkey", LongType),
        StructField("total_cents", LongType))),
      pk = Seq("o_orderkey" -> LongType))

    val li = Tables.lineitem(spark, dir)
    val lineitem = snapshotEnvelope(li, dbName, "public", "lineitem",
      lsn = col("l_orderkey") * 10 + col("l_linenumber"),
      tsMs = PgConverters.timestampToMillis(col("l_shipdate")),
      rowJson = concat(lit("{\"l_linenumber\":"), col("l_linenumber"),
        lit(",\"l_orderkey\":"), col("l_orderkey"),
        lit(",\"qty_cents\":"), floor(col("l_quantity") * 100.0 + 0.5).cast(LongType),
        lit("}")),
      keyPayloadJson = concat(lit("{\"l_linenumber\":"), col("l_linenumber"),
        lit(",\"l_orderkey\":"), col("l_orderkey"), lit("}")),
      rowSchema = StructType(Seq(
        StructField("l_linenumber", LongType), StructField("l_orderkey", LongType),
        StructField("qty_cents", LongType))),
      pk = Seq("l_orderkey" -> LongType, "l_linenumber" -> LongType))

    ev.unionByName(orders).unionByName(lineitem)
  }

  /** Render-LATE multi-table envelopes: the (topic, lsn) sort runs over
    * the NARROW union — table key fields plus the small per-row json
    * fragments — and the ~1 KB `{payload, schema}` envelope strings are
    * assembled ABOVE the sort, in the post-exchange stage. At 850 k
    * events the exchange moves ~10× fewer bytes than sorting rendered
    * envelopes ([[multiTableEnvelopes]]' shape); at 100 TB this is the
    * only sane order-then-emit topology. Byte-identical output
    * (EnvelopeRenderSpec proves it against the render-early path).
    * Rows emerge already ordered by (topic, lsn) — both are unique per
    * table, so the order is total and deterministic. */
  def multiTableEnvelopesSorted(spark: SparkSession, dir: String,
                                dbName: String = "graft"): DataFrame = {
    val evTopic = s"$dbName.public.events"
    val oTopic  = s"$dbName.public.orders"
    val nullL   = lit(null).cast(LongType)
    val nullS   = lit(null).cast(StringType)
    val nullD   = lit(null).cast(DoubleType)

    // layout-aware branch fan-out (guide §2.5): each single-row-group
    // fixture scan otherwise feeds the final range exchange as ONE task
    // (profiled: the events and lineitem branches were single 0.4-1.0 s
    // tasks under the sort's exchange write). `Tables.spread` keys the
    // repartition on the branch's unique id and NO-OPS on any real
    // layout (row groups ≥ cores), so the "zero shuffle before the
    // final sort" scale posture is intact where it matters.
    val ev = withMessagePrefix(
      graft.Tables.spread(walEvents(spark, dir), col("lsn")))
      .select(
        lit(evTopic).as("topic"), col("lsn"), col("ts_ms"), col("op"), col("xid"),
        col("event_id"), col("user_id"), col("value"), col("props"),
        col("msg_prefix"), nullS.as("row_json"), nullS.as("key_payload"))
    def snapNarrow(df: DataFrame, topic: String, lsn: Column, tsMs: Column,
                   rowJson: Column, keyPayload: Column): DataFrame =
      df.select(lit(topic).as("topic"), lsn.as("lsn"), tsMs.as("ts_ms"),
        lit("r").as("op"), nullL.as("xid"), nullL.as("event_id"),
        nullL.as("user_id"), nullD.as("value"), nullS.as("props"),
        nullS.as("msg_prefix"),
        rowJson.as("row_json"), keyPayload.as("key_payload"))
    val o = Tables.spread(Tables.orders(spark, dir), col("o_orderkey"))
    val orders = snapNarrow(o, oTopic,
      lsn = col("o_orderkey"),
      tsMs = PgConverters.timestampToMillis(col("o_orderdate")),
      rowJson = concat(lit("{\"o_custkey\":"), col("o_custkey"),
        lit(",\"o_orderkey\":"), col("o_orderkey"),
        lit(",\"total_cents\":"), floor(col("o_totalprice") * 100.0 + 0.5).cast(LongType),
        lit("}")),
      keyPayload = concat(lit("{\"o_orderkey\":"), col("o_orderkey"), lit("}")))
    val li = Tables.spread(Tables.lineitem(spark, dir),
      col("l_orderkey") * 10 + col("l_linenumber"))
    val lineitem = snapNarrow(li, s"$dbName.public.lineitem",
      lsn = col("l_orderkey") * 10 + col("l_linenumber"),
      tsMs = PgConverters.timestampToMillis(col("l_shipdate")),
      rowJson = concat(lit("{\"l_linenumber\":"), col("l_linenumber"),
        lit(",\"l_orderkey\":"), col("l_orderkey"),
        lit(",\"qty_cents\":"), floor(col("l_quantity") * 100.0 + 0.5).cast(LongType),
        lit("}")),
      keyPayload = concat(lit("{\"l_linenumber\":"), col("l_linenumber"),
        lit(",\"l_orderkey\":"), col("l_orderkey"), lit("}")))

    val sorted = ev.unionByName(orders).unionByName(lineitem)
      .orderBy(col("topic"), col("lsn"))

    // render above the sort: Catalyst keeps this Project over the Sort
    // (nothing pushes an expensive projection below an ordering)
    def snapEnvCols(tableName: String, rowSchema: StructType,
                    pk: Seq[(String, DataType)]): (Column, Column) = {
      val topic = s"$dbName.public.$tableName"
      val schemaJson = graft.model.DebeziumSchema.envelopeSchemaJson(rowSchema, topic)
      val keySchemaJson = graft.model.DebeziumSchema.keySchemaJson(topic, pk)
      val src = sourceJson(dbName, "public", tableName,
        col("lsn"), col("ts_ms"), snapshot = true, txId = None)
      val payload = concat(lit("{\"after\":"), col("row_json"),
        lit(",\"op\":\"r\",\"source\":"), src, lit(",\"ts_ms\":"), col("ts_ms"), lit("}"))
      (concat(lit("{\"payload\":"), payload, lit(",\"schema\":"), lit(schemaJson), lit("}")),
       concat(lit("{\"payload\":"), col("key_payload"), lit(",\"schema\":"),
         lit(keySchemaJson), lit("}")))
    }
    val (evEnv, evKey) = eventsEnvelopeCols(dbName)
    val (oEnv, oKey) = snapEnvCols("orders", StructType(Seq(
      StructField("o_custkey", LongType), StructField("o_orderkey", LongType),
      StructField("total_cents", LongType))), Seq("o_orderkey" -> LongType))
    val (lEnv, lKey) = snapEnvCols("lineitem", StructType(Seq(
      StructField("l_linenumber", LongType), StructField("l_orderkey", LongType),
      StructField("qty_cents", LongType))),
      Seq("l_orderkey" -> LongType, "l_linenumber" -> LongType))
    sorted.select(col("topic"), col("lsn"),
      when(col("topic") === evTopic, evEnv)
        .when(col("topic") === oTopic, oEnv).otherwise(lEnv).as("envelope"),
      when(col("topic") === evTopic, evKey)
        .when(col("topic") === oTopic, oKey).otherwise(lKey).as("key_json"))
  }

  /** The full normalize stage: WAL rows → resolved + enveloped events.
    * Mirrors hot-path stages 5-7 of SURVEY §3.1.
    */
  def envelopePipeline(spark: SparkSession, dir: String,
                       enabledOps: Seq[String] = Envelope.Op.all,
                       markerSuppress: Boolean = false): DataFrame = {
    // gate at the source column so the predicate reaches the parquet scan
    // msg_prefix: fixture derivation (one keyed window over the gated
    // WAL — safe under op gating: the derivation counts only op='m'
    // rows, which gate all-or-nothing). A live wire stream carries the
    // prefix natively instead.
    // marker mode must SEE the logical messages even when op='m' is
    // gated off for emission (message events default false in the
    // config surface; the reference's tracker consumes markers before
    // the event gates) — so the scan keeps 'm' rows and the post-
    // resolution opGate below applies the caller's emission gate
    val scanOps =
      if (markerSuppress) (enabledOps :+ Envelope.Op.Message).distinct
      else enabledOps
    val prefixed = withMessagePrefix(
      shapeWal(opGateAtSource(scanOps)(Tables.events(spark, dir))))
    // marker mode (2.12+ path, config-selected): P7 suppression runs
    // between the WAL and the envelope, exactly where the reference's
    // transaction tracker sits
    val wal =
      if (markerSuppress) markerSuppressPrefixed(prefixed) else prefixed
    val resolved = resolveHypertable(wal, chunkCatalog(spark, dir), hypertableCatalog(spark))
    opGate(enabledOps)(resolved)
      .select(
        col("lsn"), col("xid"), col("op"), col("ts_ms"),
        col("ht_schema").as("schema_name"), col("ht_table").as("table_name"),
        col("chunk_name"), col("chunk_day"),
        Envelope.topicName("graft", col("ht_schema"), col("ht_table")).as("topic"),
        col("event_id"), col("user_id"), col("value"), col("props"),
        col("msg_prefix"))
  }
}
