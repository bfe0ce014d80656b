package graft.streaming

import graft.Tables
import graft.cdc.Cdc
import graft.model.Envelope
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming path of the engine — SURVEY §2.9.
  *
  * The reference consumes the WAL over a replication socket
  * (`replicationhandler.go:115-215`), acks after sink success and
  * persists the restart LSN (`eventemitter.go:163`,
  * `replicationcontext.go:251-281`). The Spark shape:
  *
  *   - source: `readStream` over WAL-like batches — the events parquet
  *     stand-in, or pgoutput segment files through
  *     [[graft.sources.SegmentDataSource]] behind the same DataFrame
  *     contract (SURVEY §7.1 source strategy);
  *   - offsets/recovery (T1): the checkpoint directory IS the offset
  *     store — restart resumes exactly where the last committed batch
  *     ended, the analog of restart-LSN handling;
  *   - delivery: at-least-once into `foreachBatch` sinks (idempotent
  *     emitters), exactly-once for native file sinks;
  *   - ordering (T6): per-partition order preserved; global order
  *     relaxes to per-key order at scale, as documented in SURVEY §7.4.
  */
object StreamPipeline {

  /** Streaming WAL source: file-based micro-batches shaped like the
    * batch path (same `Cdc.shapeWal` stage — one code path to test).
    * `maxFilesPerTrigger` bounds batch size the way the reference bounds
    * its transaction window (`transactiontracker.go:458-482`).
    */
  def walStream(spark: SparkSession, dir: String): DataFrame = {
    Tables.eventsConf(spark)
    val stream = spark.readStream
      .schema(Tables.t(spark, dir, "events").schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet") // source dir, events file only
      .parquet(dir)
    Cdc.shapeWal(Tables.normalizeTsNanos(stream))
  }

  /** Alternate streaming WAL source — BINARY pgoutput segment blobs
    * decoded executor-side (`Cdc.PgOutput`), shaped onto the same
    * columns `walStream` yields so the whole downstream pipeline is
    * source-agnostic. Logical-message rows (no table, no timestamp on
    * the wire) are excluded: they belong on the message topic, not in
    * chunk resolution. `markerSuppress` drops the decompression
    * brackets' re-INSERTs in the decode walk itself
    * ([[graft.cdc.PgOutput.decodeSegments]]), where the bracket
    * prefixes are still in stream order. `chunk_day`/`ts_ms` are
    * `Cdc.shapeWal`'s own columns over the decoded tuple's `ts`, with
    * defaults for a tuple that carries none.
    */
  def walStreamPgOutput(spark: SparkSession, segmentsPath: String,
                        typeResolver: graft.types.TypeRegistry.Resolver =
                          graft.types.TypeRegistry.Resolver.empty,
                        markerSuppress: Boolean = false): DataFrame =
    graft.cdc.PgOutput.streamDecoded(spark, segmentsPath, typeResolver, markerSuppress)
      .toDF()
      .filter(col("op_wire").isin("I", "U", "D"))
      .select(col("lsn"), col("xid"),
        Cdc.opExpr(col("event_type")).as("op"),
        col("schema_name"), col("table_name"),
        coalesce(Cdc.chunkDayOfTs, lit(-1)).as("chunk_day"),
        coalesce(Cdc.tsMsOfTs, lit(0L)).as("ts_ms"),
        col("event_id"), col("user_id"), col("value"), col("props"),
        col("msg_prefix"))

  /** Full streaming envelope pipeline: shape → gates → envelope columns.
    * The joined chunk → hypertable catalog is read ONCE, on the driver,
    * when the stream is built — the reference loads its chunk cache at
    * startup (`containers/relationcache.go`) — and every micro-batch
    * resolves `chunk_day` against that snapshot with a literal map
    * lookup: no join, so no catalog job runs per batch. Inner-join
    * semantics hold: a row whose `chunk_day` is not in the snapshot is
    * dropped. A chunk created after the stream starts resolves after a
    * restart.
    *
    * A1 counters: one `graft_stats` observe node sits after the op gate
    * and the chunk lookup, before the resolution filter — the reference
    * counts replication-channel calls in its replication handler, before
    * anything resolves or filters them (`replicationhandler.go:39-64`).
    * It carries the reference's per-op counts (`stats.go:35-100`) and
    * `n_unresolved`, the rows resolution then drops; [[StatsListener]]
    * folds them and [[StatsEndpoint]] scrapes them.
    *
    * `pgoutputPath`: when set, the WAL comes from binary pgoutput
    * segment blobs instead of the parquet stand-in — the config surface
    * is `postgresql.pgoutput.path` (ConfigPipeline). `markerSuppress`
    * (the 2.12+ marker path) needs it: the brackets are tracked in the
    * decode walk, and the parquet stand-in has no wire frames to walk.
    */
  def envelopeStream(spark: SparkSession, dir: String,
                     enabledOps: Seq[String] = Envelope.Op.all,
                     pgoutputPath: Option[String] = None,
                     typeResolver: graft.types.TypeRegistry.Resolver =
                       graft.types.TypeRegistry.Resolver.empty,
                     markerSuppress: Boolean = false): DataFrame = {
    requireWireForMarkers(markerSuppress, pgoutputPath)
    val wal = pgoutputPath.fold {
      // parquet stand-in: the fixture carries no per-row message
      // prefix (a live wire stream decodes it natively), and the
      // per-txn window derivation can't run on a streaming frame — so
      // derive it ONCE from the batch read and stream-static
      // BROADCAST-join it onto the op='m' rows by lsn. The static side
      // is message-rows-only (fixture-sized here; on a real deployment
      // this arm doesn't exist — the wire arm is the production path).
      val prefixes = Cdc.withMessagePrefix(Cdc.walEvents(spark, dir))
        .filter(col("op") === Envelope.Op.Message)
        .select(col("lsn"), col("msg_prefix"))
      walStream(spark, dir).join(broadcast(prefixes), Seq("lsn"), "left")
    }(walStreamPgOutput(spark, _, typeResolver, markerSuppress))
    // one lookup per row, in a codegen'd projection below the observe
    val chunk = col("__chunk")
    def ops(op: String) = count_if(col("op") === op)
    wal
      .filter(col("op").isin(enabledOps: _*))
      .withColumn("__chunk", chunkLookup(spark, dir)(col("chunk_day")))
      .observe("graft_stats",
        count(lit(1)).as("n_events"),
        ops(Envelope.Op.Create).as("n_inserts"),
        ops(Envelope.Op.Update).as("n_updates"),
        ops(Envelope.Op.Delete).as("n_deletes"),
        ops(Envelope.Op.Truncate).as("n_truncates"),
        ops(Envelope.Op.Message).as("n_messages"),
        count_if(chunk.isNull).as("n_unresolved"))
      .filter(chunk.isNotNull)
      .select(
        col("lsn"), col("xid"), col("op"), col("ts_ms"),
        chunk("ht_schema").as("schema_name"), chunk("ht_table").as("table_name"),
        chunk("chunk_name").as("chunk_name"),
        Envelope.topicName("graft", chunk("ht_schema"), chunk("ht_table")).as("topic"),
        col("event_id"), col("user_id"), col("value"), col("props"),
        col("msg_prefix"))
  }

  /** A chunk's resolution: its name and its hypertable's. */
  final case class ChunkRef(chunk_name: String, ht_schema: String, ht_table: String)

  /** `chunk_day` → [[ChunkRef]] of the chunk catalog joined to the
    * hypertable catalog, as a map literal. Each catalog is collected on
    * its own and the join runs here: every chunk carries the one
    * hypertable's id as a constant, so a Spark join of the two plans as
    * a nested-loop join. */
  private def chunkLookup(spark: SparkSession, dir: String): Column = {
    import spark.implicits._
    val hypertables = Cdc.hypertableCatalog(spark)
      .select(col("hypertable_id"), col("ht_schema"), col("ht_table"))
      .as[(Int, String, String)].collect()
      .map { case (id, schema, table) => id -> (schema, table) }.toMap
    typedLit(Cdc.chunkCatalog(spark, dir)
      .select(col("chunk_day"), col("chunk_name"), col("hypertable_id"))
      .as[(Int, String, Int)].collect()
      .flatMap { case (day, name, id) =>
        hypertables.get(id).map { case (schema, table) => day -> ChunkRef(name, schema, table) }
      }.toMap)
  }

  /** Streaming marker mode runs only on the wire arm: fail before any
    * stream or control-plane state exists. */
  private[graft] def requireWireForMarkers(markerSuppress: Boolean,
                                           pgoutputPath: Option[String]): Unit =
    require(!markerSuppress || pgoutputPath.isDefined,
      "timescaledb.experimental.decompression.markers=true streams only from " +
        "pgoutput segments: set postgresql.pgoutput.path (the parquet stand-in " +
        "has no wire frames to track decompression brackets in)")

  /** STREAM-STREAM interval join — the one Structured Streaming join
    * class the rest of the pipeline doesn't exercise: each purchase
    * joined to every preceding view by the same user within
    * `windowMs` (click/view attribution, the canonical use). Both
    * sides carry event-time watermarks and the join condition bounds
    * the time skew, so the state store provably evicts: a buffered
    * view older than watermark − window can never match a future
    * purchase and is dropped.
    *
    * One code path batch + streaming (`withWatermark` is a no-op on a
    * batch frame) — the batch form is the SQL-oracle-checked truth,
    * the StreamingSpec asserts stream ≡ batch row sets.
    */
  def streamStreamAttribution(wal: DataFrame, windowMs: Long = 3600000L): DataFrame = {
    val v = wal.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("lsn").as("view_lsn"),
        timestamp_millis(col("ts_ms")).as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val p = wal.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("lsn").as("purchase_lsn"),
        timestamp_millis(col("ts_ms")).as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    p.join(v, expr(
        s"""v_user = p_user AND v_ts <= p_ts AND
           |v_ts >= p_ts - INTERVAL ${windowMs / 1000} SECONDS""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_lsn"), col("view_lsn"),
        unix_millis(col("p_ts")).as("purchase_ms"),
        unix_millis(col("v_ts")).as("view_ms"))
  }

  /** Event-time windowed aggregation with a watermark — the continuous-
    * aggregate analog (SURVEY §2.4 A2): hourly per-op counts over the
    * WAL stream. The watermark bounds state exactly like the reference
    * bounds its transaction window; late events beyond 10 minutes are
    * dropped (documented relaxation). `ts_ms` (epoch millis) lifts to a
    * real event-time column for watermarking.
    */
  def windowedStats(spark: SparkSession, dir: String): DataFrame =
    walStream(spark, dir)
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("op"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming deduplication on the event key with watermark-bounded
    * state — exactly-once delivery downstream of an at-least-once source
    * (the reference's SQS dedup-id pattern, `README.md:444-447`, as a
    * state-store op).
    */
  def dedupedStream(spark: SparkSession, dir: String): DataFrame =
    walStream(spark, dir)
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "1 hour")
      // dropDuplicatesWithinWatermark — plain dropDuplicates("lsn") never
      // evicts state (the watermark only purges when the event-time column
      // is part of the key), so a long-running stream grows unboundedly
      .dropDuplicatesWithinWatermark("lsn")

  /** Gap-based streaming sessionization with `session_window` — the
    * state-store-backed twin of the batch `Cdc.sessionize` (same 1h gap
    * semantics: a session closes when the next event is ≥ gap later).
    * Append mode emits a session once the watermark passes its close.
    */
  def sessionizedStream(spark: SparkSession, dir: String,
                        gap: String = "1 hour"): DataFrame =
    walStream(spark, dir)
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("sess_start_ms"), max(col("ts_ms")).as("sess_end_ms"))
      .select(col("user_id"), col("n_events"),
        col("sess_start_ms"), col("sess_end_ms"))
}
