package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.cdc.{Cdc, PgOutput}
import graft.catalog.TableFilter
import graft.model.Envelope
import QueryHelpers._

/** The CDC surface (`cdc_*`): WAL scan, pgoutput wire decode, chunk
  * resolution, envelopes, snapshots, markers, filters and the config
  * pipeline. */
object CdcQueries {

  /** The wire-path gates (`PgOutput.*Gate`): `events` encoded to pgoutput
    * segment blobs, byte-decoded on the executors, and projected to the
    * surface each gate proves. One row each: the gate and its oracle. */
  private val wireGates: Seq[Query] = {
    val decoded = s"""SELECT event_id AS lsn, event_id // 10 AS xid,
       |  CASE event_type WHEN 'signup' THEN 'I' WHEN 'purchase' THEN 'U'
       |       WHEN 'error' THEN 'D' WHEN 'view' THEN 'I' ELSE 'M' END AS op_wire,
       |  $opCaseSql AS op,
       |  CASE WHEN event_type = 'click' THEN NULL ELSE epoch_ns(ts) // 1000000 END AS ts_ms,
       |  CASE WHEN event_type = 'click' THEN NULL ELSE event_id END AS event_id,
       |  CASE WHEN event_type = 'click' THEN NULL ELSE user_id END AS user_id,
       |  CASE WHEN event_type = 'click' THEN NULL ELSE event_type END AS event_type,
       |  CASE WHEN event_type = 'click' THEN NULL ELSE value END AS value,
       |  props,
       |  CASE WHEN event_type = 'click' THEN NULL ELSE 'public' END AS schema_name,
       |  CASE WHEN event_type = 'click' THEN NULL ELSE 'events' END AS table_name
       |FROM events ORDER BY lsn""".stripMargin
    Seq(
      // S1/S2 closed end-to-end: events → binary pgoutput segment blobs
      // (Relation/Begin/DML/Message/Commit wire frames) → executor-side
      // byte decode → the same envelope columns the parquet path yields.
      // Every tuple value round-trips THROUGH protocol text format.
      Query("cdc_pgoutput_decode", PgOutput.decodeGate(_, _).orderBy(col("lsn")),
        decoded),

      // the same end-to-end chain in BINARY tuple format (`binary
      // 'true'`, requested by the reference on PG14+): network-order
      // send-function bytes through the registry codecs must land on
      // the identical envelope rows
      // binary-format twin: identical envelope rows, different wire bytes
      Query("cdc_pgoutput_binary", PgOutput.decodeGate(_, _, binary = true).orderBy(col("lsn")),
        decoded),

      // unchanged-TOAST elision end-to-end: every 3rd update's props
      // column rides the wire as 'u' (PG never read the TOASTed value);
      // the decoded envelope must OMIT the key — not render null — and
      // the gate parses the rendered JSON back to prove key absence
      // (`decoderplan.go:54-59`)
      // TOAST-elision twin: the elision rule is arithmetic on event_id, so
      // DuckDB replays it — key absent exactly when the wire said 'u'
      Query("cdc_toast_omit", PgOutput.toastGate(_, _, toastEvery = 3),
        """SELECT event_id AS lsn,
          |  NOT (props IS NOT NULL AND event_id % 3 = 0) AS props_key_present,
          |  CASE WHEN event_id % 3 = 0 THEN NULL ELSE props END AS props_parsed,
          |  event_id, user_id
          |FROM events WHERE event_type = 'purchase' ORDER BY lsn""".stripMargin),

      // REPLICA IDENTITY FULL old tuples: every update's before surface
      // decodes COMPLETE off the wire — including updates whose new
      // tuple elided props as unchanged TOAST ('u'); before carries the
      // value the after key omitted
      // old-tuple twin: RI FULL logs old rows whole, so before == the raw
      // row on every update regardless of TOAST elision in the new tuple
      Query("cdc_update_before", PgOutput.beforeGate(_, _, toastEvery = 3),
        """SELECT event_id AS lsn, 'O' AS old_kind,
          |  event_id AS before_event_id, user_id AS before_user_id,
          |  value AS before_value, props AS before_props,
          |  (props IS NOT NULL AND event_id % 3 = 0) AS after_props_elided
          |FROM events WHERE event_type = 'purchase' ORDER BY lsn""".stripMargin),

      // the wire path's full Debezium payload: before from the decoded
      // OLD tuple, after with unchanged-TOAST keys omitted, source block
      // with textual LSN — gated by re-parsing the rendered JSON
      // (json_object_keys proves key absence on the envelope text)
      // wire-path envelope twin: presence rules by op, TOAST elision by
      // the arithmetic rule, before from the (identical-valued) old tuple
      Query("cdc_pgoutput_envelope", PgOutput.envelopeGate(_, _, toastEvery = 3),
        s"""SELECT event_id AS lsn, $opCaseSql AS op,
           |  CASE WHEN $opCaseSql IN ('r','c','u')
           |       THEN NOT (event_type = 'purchase' AND props IS NOT NULL
           |                 AND event_id % 3 = 0) END AS after_has_props_key,
           |  CASE WHEN $opCaseSql IN ('r','c','u') THEN event_id END AS after_event_id,
           |  CASE WHEN $opCaseSql IN ('u','d') THEN user_id END AS before_user_id,
           |  CASE WHEN $opCaseSql IN ('u','d') THEN props END AS before_props,
           |  hex(event_id // 4294967296) || '/' || hex(event_id % 4294967296) AS source_lsn
           |FROM events WHERE event_type IN ('signup','view','purchase','error')
           |ORDER BY lsn""".stripMargin)
    )
  }

  val all: Seq[Query] = wireGates ++ Seq(
    Query("cdc_envelope", (s, dir) => {
      Cdc.walEvents(s, dir)
        .select(
          col("lsn"), col("xid"), col("op"), col("ts_ms"),
          col("schema_name"), col("table_name"),
          Envelope.topicName("graft", col("schema_name"), col("table_name")).as("topic"),
          col("event_id"), col("user_id"))
        .orderBy(col("lsn"))
    },
      s"""SELECT event_id AS lsn, event_id // 10 AS xid,
         |  $opCaseSql AS op,
         |  epoch_ns(ts) // 1000000 AS ts_ms,
         |  'public' AS schema_name, 'events' AS table_name,
         |  'graft.public.events' AS topic,
         |  event_id, user_id
         |FROM events ORDER BY lsn""".stripMargin),

    Query("cdc_wire_marker_suppress", (s, dir) => {
      // the 2.12+ marker flow END-TO-END ON THE WIRE: real
      // ::timescaledb-decompression-start/end logical-message FRAMES
      // ride the pgoutput bytes (transactiontracker.go:33-34), and the
      // decode walk drops exactly the bracketed physical re-INSERTs as
      // it reads them — the streaming wire arm's suppression, checked
      // here against the oracle's bracket arithmetic
      graft.cdc.PgOutput.decodeSegments(
          Tables.spread(
            graft.cdc.PgOutput.encodeSegments(Tables.events(s, dir),
              markerTxns = true), col("segment")), markerSuppress = true)
        .select(col("lsn"), col("xid"), col("op_wire"))
        .orderBy(col("lsn"))
    },
      // pgoutput-decode twin: click rows travel as logical messages (only
      // props survives as message content); everything else is a DML tuple
      // in REPLICA IDENTITY FULL, so all six columns round-trip
      // wire-marker twin: replays the marker fixture arithmetic — frame
      // lsns double, decompression txns (xid % 7 = 3) bracket their rows
      // with marker messages at first*2-1 / last*2+1, and every physical
      // INSERT inside a bracket vanishes from the surviving stream
      """WITH w AS (SELECT event_id, event_id // 10 AS xid, event_type FROM events),
        |r AS (SELECT event_id * 2 AS lsn, xid,
        |        CASE event_type WHEN 'purchase' THEN 'U' WHEN 'error' THEN 'D'
        |             WHEN 'click' THEN 'M' ELSE 'I' END AS op_wire
        |      FROM w),
        |mt AS (SELECT xid, MIN(event_id) * 2 - 1 AS s, MAX(event_id) * 2 + 1 AS e
        |       FROM w WHERE xid % 7 = 3 GROUP BY xid)
        |SELECT lsn, xid, op_wire FROM (
        |  SELECT lsn, r.xid AS xid, op_wire FROM r LEFT JOIN mt ON r.xid = mt.xid
        |  WHERE NOT (mt.xid IS NOT NULL AND op_wire = 'I')
        |  UNION ALL SELECT s AS lsn, xid, 'M' AS op_wire FROM mt
        |  UNION ALL SELECT e AS lsn, xid, 'M' AS op_wire FROM mt) t
        |ORDER BY lsn""".stripMargin),

    Query("cdc_schema_evolution", (s, dir) => {
      // T9 in flight: a mid-WAL ALTER TABLE ADD COLUMN — the fixture
      // re-announces the relation with a new `score int8` column halfway
      // through the stream (the Relation message PG emits after DDL);
      // the dynamic decode carries both shapes through ONE stream and
      // resolveBatch widens them (pre-DDL rows NULL score) without a
      // restart — the reference's ApplySchemaUpdate, per-batch
      val ev = Tables.events(s, dir)
      val boundary = ev.agg(max(col("event_id"))).head.getLong(0) / 2 + 1
      // pin the wire decode: resolveBatch runs two driver-sized census
      // collects before the typed projection, so an unpinned lineage
      // would replay the encode+decode flatMap three times (guide §1.2 —
      // don't recompute what you already computed)
      val wide = graft.streaming.SchemaEvolution.resolveBatch(
        graft.cdc.PgOutput.decodeRowsDynamic(
          Tables.spread(
            graft.cdc.PgOutput.encodeSegmentsEvolving(ev, boundary), col("segment"))).toDF()
          .localCheckpoint(true))
      wide.select(col("lsn"), col("op_wire").as("op"),
          col("event_id"), col("user_id"), col("event_type"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("value_cents"),
          col("props"), col("score"))
        .orderBy(col("lsn"))
    },
      // schema-evolution twin: both engines agree on every row on BOTH
      // sides of the mid-stream ADD COLUMN — pre-DDL rows carry NULL score
      """SELECT event_id AS lsn,
        |  CASE event_type WHEN 'signup' THEN 'I' WHEN 'purchase' THEN 'U'
        |       WHEN 'error' THEN 'D' ELSE 'I' END AS op,
        |  event_id, user_id, event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents, props,
        |  CASE WHEN event_id >= (SELECT max(event_id) // 2 + 1 FROM events)
        |       THEN user_id % 100 END AS score
        |FROM events WHERE event_type <> 'click'
        |ORDER BY lsn""".stripMargin),

    Query("cdc_schema_evolution_schema", (s, dir) => {
      // the self-describing {schema} block across the DDL (verdict-15
      // #6): each micro-batch's envelopes carry the schema JSON rebuilt
      // from THAT batch's resolved field set — pre-DDL batches describe
      // the old shape, post-DDL batches the widened one (the
      // reference's ApplySchemaUpdate rebuilds per-table schemas and
      // every later envelope embeds the new block). Two batches split
      // at the boundary model the committed batch sequence.
      val ev = Tables.events(s, dir)
      val boundary = ev.agg(max(col("event_id"))).head.getLong(0) / 2 + 1
      // pinned: BOTH arms filter this frame, and each resolveBatch adds
      // two census collects — unpinned, the encode+decode flatMap would
      // replay six times (guide §1.2)
      val dyn = graft.cdc.PgOutput.decodeRowsDynamic(
        Tables.spread(
          graft.cdc.PgOutput.encodeSegmentsEvolving(ev, boundary), col("segment"))).toDF()
        .localCheckpoint(true)
      def arm(batch: org.apache.spark.sql.DataFrame) = {
        val wide = graft.streaming.SchemaEvolution.resolveBatch(batch)
        wide.select(col("lsn"), col("event_id"),
          lit(graft.streaming.SchemaEvolution.envelopeSchemaJsonFor(
            wide, "graft.public.events")).as("schema_json"))
      }
      arm(dyn.filter(col("lsn") < boundary))
        .unionByName(arm(dyn.filter(col("lsn") >= boundary)))
        .orderBy(col("lsn"))
    },
      // per-batch {schema} block twin: the two literals come from the
      // SAME generator as the Spark side (DebeziumSchema.envelopeSchemaJson
      // over the relation's pre/post-DDL column sets) — only double
      // quotes, safe inside single-quoted SQL literals
      {
        def shape(cols: Seq[graft.cdc.PgOutput.RelCol]) =
          org.apache.spark.sql.types.StructType(cols.map(c =>
            org.apache.spark.sql.types.StructField(c.name,
              graft.streaming.SchemaEvolution.sparkTypeForOid(c.typeOid))))
        val pre = graft.model.DebeziumSchema.envelopeSchemaJson(
          shape(graft.cdc.PgOutput.EventsRelCols), "graft.public.events")
        val post = graft.model.DebeziumSchema.envelopeSchemaJson(
          shape(graft.cdc.PgOutput.EventsRelColsEvolved), "graft.public.events")
        s"""SELECT event_id AS lsn, event_id,
           |  CASE WHEN event_id >= (SELECT max(event_id) // 2 + 1 FROM events)
           |       THEN '$post' ELSE '$pre' END AS schema_json
           |FROM events WHERE event_type <> 'click'
           |ORDER BY lsn""".stripMargin
      }),

    Query("cdc_schema_evolution_type", (s, dir) => {
      // T9's nastiest in-flight case: mid-WAL ALTER COLUMN TYPE —
      // user_id re-announces as text (oid 25) with 'u'-prefixed values
      // halfway through the stream. resolveBatch keys schema versions
      // on (name, oid), casts each row by the version it ARRIVED under
      // (the row's own col_oids), and widens to the common supertype
      // last — so pre-DDL longs render as decimal text and post-DDL
      // text rides verbatim. A name-keyed first-seen-type union (the
      // r15 bug) would cast 'u123' with the stale int8 plan and
      // silently NULL every post-DDL value — this gate hash-fails that.
      val ev = Tables.events(s, dir)
      val boundary = ev.agg(max(col("event_id"))).head.getLong(0) / 2 + 1
      // pinned for the same reason as cdc_schema_evolution: three
      // lineage replays of the wire encode+decode otherwise
      val wide = graft.streaming.SchemaEvolution.resolveBatch(
        graft.cdc.PgOutput.decodeRowsDynamic(
          Tables.spread(
            graft.cdc.PgOutput.encodeSegmentsRetyping(ev, boundary), col("segment"))).toDF()
          .localCheckpoint(true))
      wide.select(col("lsn"), col("op_wire").as("op"),
          col("event_id"), col("user_id"), col("event_type"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("value_cents"),
          col("props"))
        .orderBy(col("lsn"))
    },
      // ALTER-TYPE twin: the same arithmetic boundary, user_id rendered
      // per the version each row arrived under — pre-DDL int8 as decimal
      // text (the widened supertype), post-DDL 'u'-prefixed text verbatim
      """SELECT event_id AS lsn,
        |  CASE event_type WHEN 'signup' THEN 'I' WHEN 'purchase' THEN 'U'
        |       WHEN 'error' THEN 'D' ELSE 'I' END AS op,
        |  event_id,
        |  CASE WHEN event_id >= (SELECT max(event_id) // 2 + 1 FROM events)
        |       THEN 'u' || CAST(user_id AS VARCHAR)
        |       ELSE CAST(user_id AS VARCHAR) END AS user_id,
        |  event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents, props
        |FROM events WHERE event_type <> 'click'
        |ORDER BY lsn""".stripMargin),

    Query("cdc_pgoutput_txn", (s, dir) => {
      // transaction boundaries RECOVERED FROM THE WIRE: xid attachment
      // happens inside the per-segment decode loop (Begin sets it,
      // Commit clears it — `xlogdecoder.go:38-48`), so grouping the
      // decoded rows by xid must reproduce the exact txn windows the
      // parquet path derives arithmetically
      val wal = graft.cdc.PgOutput.decodeSegments(
        Tables.spread(
          graft.cdc.PgOutput.encodeSegments(Tables.events(s, dir)), col("segment")))
      wal.groupBy(col("xid"))
        .agg(count(lit(1)).as("n_events"),
          min(col("lsn")).as("first_lsn"), max(col("lsn")).as("last_lsn"))
        .orderBy(col("xid"))
    },
      // wire-recovered transaction windows == arithmetic ones
      """SELECT event_id // 10 AS xid, count(*) AS n_events,
        |  min(event_id) AS first_lsn, max(event_id) AS last_lsn
        |FROM events GROUP BY 1 ORDER BY xid""".stripMargin),


    Query("cdc_op_gates", (s, dir) => {
      Cdc.opGate(Seq(Envelope.Op.Create, Envelope.Op.Update, Envelope.Op.Delete))(
        Cdc.walEvents(s, dir))
        .select(col("lsn"), col("op"))
        .orderBy(col("lsn"))
    },
      s"""SELECT event_id AS lsn, $opCaseSql AS op
         |FROM events
         |WHERE event_type IN ('signup','purchase','error')
         |ORDER BY lsn""".stripMargin),

    Query("cdc_chunk_resolution", (s, dir) => {
      val resolved = Cdc.resolveHypertable(
        Cdc.walEvents(s, dir), Cdc.chunkCatalog(s, dir), Cdc.hypertableCatalog(s))
      resolved.groupBy(col("chunk_name"), col("ht_table"))
        .agg(count(lit(1)).as("n_events"), min(col("lsn")).as("min_lsn"), max(col("lsn")).as("max_lsn"))
        .orderBy(col("chunk_name"))
    },
      """SELECT concat('_hyper_1_', CAST(chunk_day AS VARCHAR), '_chunk') AS chunk_name,
        |  'events' AS ht_table,
        |  COUNT(*) AS n_events, MIN(lsn) AS min_lsn, MAX(lsn) AS max_lsn
        |FROM (SELECT event_id AS lsn,
        |        epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |      FROM events) t
        |GROUP BY chunk_name, ht_table
        |ORDER BY chunk_name""".stripMargin),

    Query("cdc_high_watermark", (s, dir) => {
      Cdc.highWatermark(Cdc.walEvents(s, dir), Seq("event_id"))
        .select(col("event_id"), col("ts_ms"))
    },
      "SELECT event_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events ORDER BY event_id DESC LIMIT 1"),

    Query("cdc_tombstones", (s, dir) => {
      Cdc.withTombstones(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("op"), col("is_tombstone"))
        .orderBy(col("lsn"), col("is_tombstone"))
    },
      s"""SELECT event_id AS lsn, $opCaseSql AS op, false AS is_tombstone FROM events
         |UNION ALL
         |SELECT event_id, 'd', true FROM events WHERE event_type = 'error'
         |ORDER BY lsn, is_tombstone""".stripMargin),

    Query("cdc_txn_boundaries", (s, dir) => {
      Cdc.txnBoundaries(Cdc.walEvents(s, dir)).orderBy(col("xid"))
    },
      """SELECT event_id // 10 AS xid, MIN(event_id) AS begin_lsn,
        |  MAX(event_id) AS commit_lsn, COUNT(*) AS n_events,
        |  MAX(epoch_ns(ts) // 1000000) AS commit_ts_ms
        |FROM events GROUP BY xid ORDER BY xid""".stripMargin),

    Query("cdc_snapshot_batch", (s, dir) => {
      Cdc.snapshotBatch(Cdc.walEvents(s, dir), "event_id", 100, 600, 200)
        .select(col("lsn"), col("op"), col("ts_ms"))
    },
      s"""SELECT event_id AS lsn, $opCaseSql AS op, epoch_ns(ts) // 1000000 AS ts_ms
         |FROM events WHERE event_id > 100 AND event_id <= 600
         |ORDER BY event_id LIMIT 200""".stripMargin),

    Query("cdc_snapshot_fence", (s, dir) => {
      Cdc.snapshotWithFence(Cdc.walEvents(s, dir), 500)
        .select(col("lsn"), col("op"), col("snapshot"))
        .orderBy(col("lsn"), col("snapshot"))
    },
      s"""SELECT event_id AS lsn, 'r' AS op, true AS snapshot
         |FROM events WHERE event_id <= 500
         |UNION ALL
         |SELECT event_id, $opCaseSql, false FROM events WHERE event_id > 500
         |ORDER BY lsn, snapshot""".stripMargin),

    Query("cdc_jdbc_snapshot", (s, dir) => {
      // the LIVE-SOURCE path, driver-gated: events loaded once per JVM
      // into an in-JVM Derby database, then snapshotted through the real
      // JDBC side channel (fenced keyset predicates → parallel
      // spark.read.jdbc partitions) and shaped by the SAME shapeWal the
      // file path uses — the oracle reads the parquet directly, so a
      // hash match proves the whole JDBC round-trip is lossless
      val url = graft.sources.JdbcSideChannel.derbyEventsUrl(s, dir)
      val (snap, _) = graft.sources.JdbcSideChannel.snapshot(
        s, url, "APP", "EVENTS", "EVENT_ID", lowWatermark = Some(-1L), parts = 8)
      val lowered = snap.columns.foldLeft(snap)((d, c) =>
        d.withColumnRenamed(c, c.toLowerCase))
      Cdc.shapeWal(lowered)
        .select(col("lsn"), col("xid"), col("op"), col("ts_ms"),
          col("event_id"), col("user_id"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("value_cents"),
          col("props"))
        .orderBy(col("lsn"))
    },
      // jdbc-snapshot twin reads the parquet directly: a hash match proves
      // the parquet → Derby → keyset-JDBC-snapshot → shapeWal round-trip
      // loses nothing (values, nulls, op mapping, ts precision)
      s"""SELECT event_id AS lsn, event_id // 10 AS xid, $opCaseSql AS op,
         |  epoch_ns(ts) // 1000000 AS ts_ms, event_id, user_id,
         |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents, props
         |FROM events ORDER BY lsn""".stripMargin),

    Query("cdc_decomp_suppress", (s, dir) => {
      Cdc.decompressionSuppress(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("xid"), col("op"))
        .orderBy(col("lsn"))
    },
      s"""SELECT lsn, xid, op FROM (
         |  SELECT event_id AS lsn, event_id // 10 AS xid, $opCaseSql AS op,
         |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY event_id // 10) AS decomp_txn
         |  FROM events) t
         |WHERE NOT (decomp_txn = 1 AND op = 'c')
         |ORDER BY lsn""".stripMargin),

    Query("cdc_publication_antijoin", (s, dir) => {
      val known = Cdc.chunkCatalog(s, dir)
      val published = known.filter(col("chunk_day") < 10).select(col("chunk_name"))
      Cdc.publicationAntiJoin(known, published)
        .select(col("chunk_name"))
        .orderBy(col("chunk_name"))
    },
      """SELECT chunk_name FROM (
        |  SELECT DISTINCT
        |    concat('_hyper_1_', CAST(epoch_ns(ts) // 86400000000000 - 19723 AS VARCHAR), '_chunk') AS chunk_name,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
        |  FROM events) t
        |WHERE chunk_day >= 10 ORDER BY chunk_name""".stripMargin),

    Query("cdc_scroll_snapshot", (s, dir) => {
      // SCROLL-cursor chunk snapshot: per-chunk FETCH FORWARD batches,
      // resumed from batch 1 (sidechannel.go:838-905)
      Cdc.snapshotScrollCursor(Cdc.walEvents(s, dir).select("lsn", "chunk_day", "event_id"),
          chunkCol = "chunk_day", orderCol = "event_id",
          fetchSize = 100, resumeFromBatch = 1L)
        .select(col("chunk_day"), col("batch_no"), col("event_id"))
        .orderBy(col("chunk_day"), col("batch_no"), col("event_id"))
    },
      """SELECT chunk_day, batch_no, event_id FROM (
        |  SELECT epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day, event_id,
        |    CAST((row_number() OVER (PARTITION BY epoch_ns(ts) // 86400000000000 - 19723
        |                             ORDER BY event_id) - 1) // 100 AS BIGINT) AS batch_no
        |  FROM events) t
        |WHERE batch_no >= 1
        |ORDER BY chunk_day, batch_no, event_id""".stripMargin),

    Query("cdc_publication_lifecycle", (s, dir) => {
      // replicator.go:352-427 startup partition: which chunks and which
      // vanilla tables still need ALTER PUBLICATION ADD TABLE, given a
      // pre-existing published set spanning internal + public schemas
      import s.implicits._
      val chunkKnown = Cdc.chunkCatalog(s, dir)
        .select(col("chunk_schema").as("schema_name"), col("chunk_name").as("table_name"))
      val vanillaKnown = Seq(("public", "events"), ("public", "users"), ("public", "cagg_view"))
        .toDF("schema_name", "table_name")
      val published = Seq(
        ("_timescaledb_internal", "_hyper_1_3_chunk"),
        ("_timescaledb_internal", "_hyper_1_5_chunk"),
        ("public", "events"),
        ("_timescaledb_catalog", "hypertable")).toDF("schema_name", "table_name")
      graft.catalog.PublicationManager.chunksToAttach(chunkKnown, published)
        .withColumn("kind", lit("chunk"))
        .unionByName(graft.catalog.PublicationManager
          .vanillaTablesToAttach(vanillaKnown, published).withColumn("kind", lit("vanilla")))
        .select(col("kind"), col("schema_name"), col("table_name"))
        .orderBy(col("kind"), col("schema_name"), col("table_name"))
    },
      """WITH chunks AS (
        |  SELECT DISTINCT '_timescaledb_internal' AS schema_name,
        |    concat('_hyper_1_', CAST(epoch_ns(ts) // 86400000000000 - 19723 AS VARCHAR), '_chunk') AS table_name
        |  FROM events
        |), vanilla AS (
        |  SELECT * FROM (VALUES ('public', 'events'), ('public', 'users'),
        |                        ('public', 'cagg_view')) t(schema_name, table_name)
        |), pub AS (
        |  SELECT * FROM (VALUES ('_timescaledb_internal', '_hyper_1_3_chunk'),
        |                        ('_timescaledb_internal', '_hyper_1_5_chunk'),
        |                        ('public', 'events'),
        |                        ('_timescaledb_catalog', 'hypertable')) t(schema_name, table_name)
        |)
        |SELECT * FROM (
        |  SELECT 'chunk' AS kind, c.schema_name, c.table_name FROM chunks c
        |  WHERE NOT EXISTS (SELECT 1 FROM pub p
        |    WHERE p.schema_name = '_timescaledb_internal'
        |      AND p.schema_name = c.schema_name AND p.table_name = c.table_name)
        |  UNION ALL
        |  SELECT 'vanilla' AS kind, v.schema_name, v.table_name FROM vanilla v
        |  WHERE NOT EXISTS (SELECT 1 FROM pub p
        |    WHERE p.schema_name NOT IN ('_timescaledb_internal', '_timescaledb_catalog')
        |      AND p.schema_name = v.schema_name AND p.table_name = v.table_name)
        |) ORDER BY kind, schema_name, table_name""".stripMargin),

    Query("cdc_table_filter", (s, dir) => {
      val tf = TableFilter(Seq("public.events_1?"), Seq("public.events_13"))
      Tables.events(s, dir)
        .select(concat(lit("public.events_"), col("user_id")).as("tbl")).distinct()
        .filter(tf.includeRegexes.map(col("tbl").rlike).reduce(_ || _) &&
                !tf.excludeRegexes.map(col("tbl").rlike).reduce(_ || _))
        .orderBy(col("tbl"))
    },
      """SELECT tbl FROM (SELECT DISTINCT 'public.events_' || CAST(user_id AS VARCHAR) AS tbl FROM events) t
        |WHERE regexp_matches(tbl, '^public\.events_1.$')
        |  AND NOT regexp_matches(tbl, '^public\.events_13$')
        |ORDER BY tbl""".stripMargin),

    Query("cdc_distinct_ops", (s, dir) => {
      Cdc.distinctTables(Cdc.walEvents(s, dir), Seq("chunk_day", "op"))
        .select(col("chunk_day"), col("op"))
        .orderBy(col("chunk_day"), col("op"))
    },
      s"""SELECT DISTINCT epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day, $opCaseSql AS op
         |FROM events ORDER BY chunk_day, op""".stripMargin),

    Query("cdc_compression_events", (s, dir) => {
      // status-transition-detected events (both kinds + partial bit),
      // shaped to the reference's `$`-event surface
      Cdc.compressionEvents(Cdc.walEvents(s, dir))
        .orderBy(col("lsn"), col("tsdb_op"), col("chunk_name"))
    },
      s"""WITH $chunkStatusCtes
         |SELECT lsn, op, tsdb_op, chunk_name, partial, key_schema, key_table, ts_ms
         |FROM ce ORDER BY lsn, tsdb_op, chunk_name""".stripMargin),

    Query("cdc_compression_status", (s, dir) => {
      // the transactiontracker state machine itself: chunk-status
      // catalog UPDATEs → lag-per-chunk old status → per-txn last-writer
      // c/d fields → commit-time emission with the 0x08 partial bit;
      // chunk name + hypertable key resolve through the J1 catalog
      // broadcast, never string-synthesis at emission
      val wal = Cdc.walEvents(s, dir)
      Cdc.compressionFromStatus(Cdc.chunkStatusUpdates(wal),
          Cdc.chunkCatalogOf(wal), Cdc.hypertableCatalog(s))
        .orderBy(col("lsn"), col("tsdb_op"), col("chunk_name"))
    },
      s"""WITH $chunkStatusCtes
         |SELECT lsn, xid, op, tsdb_op, chunk_name, partial, key_schema, key_table, ts_ms
         |FROM ce ORDER BY lsn, tsdb_op, chunk_name""".stripMargin),

    Query("cdc_marker_decompression", (s, dir) => {
      // 2.12+ marker flow gated on the EXACT
      // ::timescaledb-decompression-start/end prefixes: marker-open →
      // suppress re-INSERTs → marker-close → tsdb_op='d' event per
      // affected chunk, chunk identity via the catalog broadcast
      Cdc.markerDecompression(Cdc.walEvents(s, dir))
        .orderBy(col("lsn"), col("chunk_name"))
    },
      s"""WITH $msgPrefixCtes,
         |mcat AS (SELECT DISTINCT chunk_day,
         |    concat('_hyper_1_', CAST(chunk_day AS VARCHAR), '_chunk') AS chunk_name
         |  FROM mwal)
         |SELECT b.end_lsn AS lsn, w.xid, '$$' AS op, 'd' AS tsdb_op,
         |  mcat.chunk_name, COUNT(*) AS n_suppressed, MAX(w.ts_ms) AS ts_ms
         |FROM mwalp w JOIN mbr b ON w.xid = b.xid
         |JOIN mcat ON mcat.chunk_day = w.chunk_day
         |WHERE w.op = 'c' AND w.lsn > b.start_lsn
         |  -- unclosed brackets suppress but emit NO event (the Spark
         |  -- side's __next_end.isNotNull gate) — pin the same semantics
         |  AND b.end_lsn IS NOT NULL AND w.lsn < b.end_lsn
         |GROUP BY b.end_lsn, w.xid, mcat.chunk_name
         |ORDER BY lsn, chunk_name""".stripMargin),

    Query("cdc_marker_suppress", (s, dir) => {
      // the live-stream arm of the marker flow: exactly the bracketed
      // re-INSERTs vanish; application txns (app.outbox prefix) and
      // everything outside brackets survive untouched
      Cdc.markerSuppress(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("xid"), col("op"))
        .orderBy(col("lsn"))
    },
      s"""WITH $msgPrefixCtes
         |SELECT w.lsn, w.xid, w.op
         |FROM mwalp w LEFT JOIN mbr b ON w.xid = b.xid
         |WHERE NOT (b.start_lsn IS NOT NULL AND w.op = 'c'
         |  AND w.lsn > b.start_lsn
         |  AND (b.end_lsn IS NULL OR w.lsn < b.end_lsn))
         |ORDER BY lsn""".stripMargin),

    Query("cdc_marker_negative", (s, dir) => {
      // negative fidelity gate: a transaction emitting ≥2 APPLICATION
      // messages (an outbox) is NOT a decompression bracket — every one
      // of its inserts survives suppression. A count-based heuristic
      // would zero this out.
      val wal = Cdc.walEvents(s, dir)
      val outbox = Cdc.withMessagePrefix(wal.filter(col("op") === "m"))
        .filter(col("msg_prefix") === "app.outbox")
        .select(col("xid")).distinct()
      Cdc.markerSuppress(wal)
        .join(outbox, Seq("xid"))
        .filter(col("op") === "c")
        .groupBy(col("xid")).agg(count(lit(1)).as("n_creates_kept"))
        .orderBy(col("xid"))
    },
      s"""WITH $msgPrefixCtes,
         |outbox AS (SELECT DISTINCT xid FROM mwalp WHERE msg_prefix = 'app.outbox')
         |SELECT w.xid, COUNT(*) AS n_creates_kept
         |FROM mwalp w JOIN outbox o ON w.xid = o.xid
         |WHERE w.op = 'c'
         |GROUP BY w.xid ORDER BY w.xid""".stripMargin),

    Query("cdc_chunk_status_catalog", (s, dir) => {
      // compressed-chunk resolution through the status-bearing catalog:
      // compress_hyper_2_* rows resolve via ResolveUncompressedHypertable
      // (hypertable 2 → 1) back to 'events'; the origin chunk carries the
      // status/partial bits and its event count from the live stream
      val cat = Cdc.chunkCatalogStatus(s, dir)
      val res = Cdc.resolveUncompressed(Cdc.hypertableCatalogCompression(s))
      val origin = cat.filter(col("compressed_chunk_id").isNotNull)
        .select(col("chunk_day"), col("chunk_name"), col("status"),
          col("partial"), col("compressed_chunk_id"))
      val cside = cat.filter(col("hypertable_id") === 2)
        .select(col("chunk_id").as("compressed_chunk_id"),
          col("chunk_name").as("compressed_chunk_name"), col("hypertable_id"))
        .join(broadcast(res), Seq("hypertable_id"))
      val counts = Cdc.walEvents(s, dir).groupBy(col("chunk_day"))
        .agg(count(lit(1)).as("n_events"))
      origin.join(broadcast(cside), Seq("compressed_chunk_id"))
        .join(counts, Seq("chunk_day"))
        .select(col("chunk_name"), col("status"), col("partial"),
          col("compressed_chunk_name"),
          col("uncompressed_table").as("ht_table"), col("n_events"))
        .orderBy(col("chunk_name"))
    },
      s"""WITH $chunkStatusCtes,
         |fs AS (SELECT chunk_id, new_status AS status FROM (
         |    SELECT *, row_number() OVER (PARTITION BY chunk_id ORDER BY lsn DESC) AS rn
         |    FROM su) z WHERE rn = 1),
         |cnt AS (SELECT epoch_ns(ts) // 86400000000000 - 19723 AS d, COUNT(*) AS n_events
         |  FROM events GROUP BY 1)
         |SELECT concat('_hyper_1_', CAST(f.chunk_id AS VARCHAR), '_chunk') AS chunk_name,
         |  f.status, (f.status & 8) = 8 AS partial,
         |  concat('compress_hyper_2_', CAST(f.chunk_id AS VARCHAR), '_chunk') AS compressed_chunk_name,
         |  'events' AS ht_table, cnt.n_events
         |FROM fs f JOIN cnt ON cnt.d = f.chunk_id
         |WHERE f.status <> 0
         |ORDER BY chunk_name""".stripMargin),

    Query("cdc_chunk_delete_decompression", (s, dir) => {
      // marker-mode decompression signal: catalog DELETE of a compress_
      // chunk row → resolve compressed hypertable → user hypertable →
      // 'd' event; plain-chunk retention drops in the same fixture
      // stream pass through silently
      Cdc.chunkDeleteDecompression(Cdc.chunkDeleteEvents(Cdc.walEvents(s, dir)),
          Cdc.hypertableCatalogCompression(s))
        .orderBy(col("lsn"))
    },
      """WITH mx AS (SELECT MAX(event_id) AS max_lsn,
        |    MAX(epoch_ns(ts) // 1000000) AS max_ts,
        |    MAX(epoch_ns(ts) // 86400000000000 - 19723) AS max_day FROM events),
        |days AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 - 19723 AS d FROM events),
        |b AS (SELECT d, ((max_lsn // 10) + 10) * 10 AS base, max_ts, max_day FROM days, mx),
        |del AS (SELECT base + (max_day + 1) * 40 + d * 4 AS lsn, base, max_ts,
        |    concat('compress_hyper_2_', CAST(d AS VARCHAR), '_chunk') AS chunk_name
        |  FROM b WHERE d % 4 = 0)
        |SELECT lsn, lsn // 10 AS xid, '$' AS op, 'd' AS tsdb_op, chunk_name,
        |  'public' AS key_schema, 'events' AS key_table,
        |  max_ts + (lsn - base) AS ts_ms
        |FROM del ORDER BY lsn""".stripMargin),

    Query("cdc_compression_envelope", (s, dir) => {
      // op='$' full envelope with the com.timescale.Event key schema;
      // c and d can share a commit LSN, so the envelope text (which
      // embeds tsdb_op) joins the sort key
      Cdc.compressionEnvelopes(Cdc.walEvents(s, dir))
        .orderBy(col("lsn"), col("chunk_name"), col("envelope"))
    },
      {
        val env = graft.cdc.Cdc.eventsEnvelopeSchemaJson
        val tsKey = graft.model.DebeziumSchema.timescaleKeySchemaJson
        s"""WITH $chunkStatusCtes
           |SELECT lsn, chunk_name,
           |  '{"payload":{"op":"$$","source":{"connector":"spark-graft","db":"graft","lsn":"' || hex(lsn >> 32) || '/' || hex(lsn & 4294967295) || '","name":"graft","schema":"public","snapshot":false,"table":"events","ts_ms":' || ts_ms || ',"txId":null,"version":"0.1.0"},"ts_ms":' || ts_ms || ',"tsdb_op":"' || tsdb_op || '"},"schema":$env}' AS envelope,
           |  '{"payload":{"schema":"public","table":"events"},"schema":$tsKey}' AS key_json
           |FROM ce
           |ORDER BY lsn, chunk_name, envelope""".stripMargin
      }),

    Query("cdc_logical_messages", (s, dir) => {
      Cdc.logicalMessages(Cdc.walEvents(s, dir)).orderBy(col("lsn"))
    },
      s"""WITH $msgPrefixCtes
         |SELECT lsn, 'm' AS op, msg_prefix AS prefix,
         |  base64(encode(props)) AS content
         |FROM mwalp WHERE op = 'm' AND msg_prefix NOT IN
         |  ('::timescaledb-decompression-start', '::timescaledb-decompression-end')
         |ORDER BY lsn""".stripMargin),

    Query("cdc_stats_counters", (s, dir) => {
      Cdc.statsCounters(Cdc.walEvents(s, dir)).orderBy(col("op"))
    },
      s"""SELECT op, n_events, largest_txn FROM
         |  (SELECT $opCaseSql AS op, COUNT(*) AS n_events FROM events GROUP BY op) a
         |CROSS JOIN
         |  (SELECT MAX(c) AS largest_txn FROM
         |    (SELECT COUNT(*) AS c FROM events GROUP BY event_id // 10) t) b
         |ORDER BY op""".stripMargin),

    Query("cdc_watermarks", (s, dir) => {
      Cdc.watermarks(Cdc.walEvents(s, dir))
    },
      """SELECT 'events' AS table_name,
        |  MIN(event_id) AS low_lsn, MAX(event_id) AS high_lsn,
        |  MIN(event_id) AS low_key, MAX(event_id) AS high_key
        |FROM events""".stripMargin),

    Query("cdc_apply_upsert", (s, dir) =>
      // consumer-side materialization: replay the keyed change stream
      // into the target table's CURRENT state (last-LSN-wins, terminal
      // delete removes the row) — one partial-agg shuffle on the key
      Cdc.applyUpsert(Cdc.walEvents(s, dir))
        .orderBy(col("user_id")),
      // upsert twin recomputes last-per-key with a window rank — the
      // Spark side's max_by partial agg must land on the identical state
      s"""WITH wal AS (
         |  SELECT event_id AS lsn, user_id, value,
         |    epoch_ns(ts) // 1000000 AS ts_ms, $opCaseSql AS op
         |  FROM events),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
         |  FROM wal WHERE op IN ('r','c','u','d'))
         |SELECT user_id, lsn AS last_lsn, op AS last_op, value, ts_ms
         |FROM ranked WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin),

    Query("cdc_scd2", (s, dir) =>
      // SCD2 dimension build: half-open version intervals per key,
      // deletes close without opening — one per-key lead window
      Cdc.scd2History(Cdc.walEvents(s, dir))
        .orderBy(col("user_id"), col("valid_from_lsn")),
      // refresh twin recomputes the rollup from scratch — equality proves
      // the base⊎delta partial-state merge is exact
      // scd2 twin: lead() over the same keyed event order
      s"""WITH wal AS (
         |  SELECT event_id AS lsn, user_id, value,
         |    epoch_ns(ts) // 1000000 AS ts_ms, $opCaseSql AS op
         |  FROM events),
         |v AS (
         |  SELECT *, lead(lsn, 1) OVER (PARTITION BY user_id ORDER BY lsn) AS valid_to_lsn
         |  FROM wal WHERE op IN ('r','c','u','d'))
         |SELECT user_id, lsn AS valid_from_lsn, valid_to_lsn, op, value, ts_ms,
         |  valid_to_lsn IS NULL AS is_current
         |FROM v WHERE op <> 'd' ORDER BY user_id, valid_from_lsn""".stripMargin),

    Query("cdc_time_travel", (s, dir) => {
      // state AS OF the mid-stream fence (broadcast scalar, in-plan);
      // oracle replays the same fenced slice from scratch
      val wal = Cdc.walEvents(s, dir)
      val fenced = wal.crossJoin(
        broadcast(wal.agg(expr("max(lsn) div 2").as("__fence"))))
      Cdc.stateAtLsn(fenced, col("__fence")).orderBy(col("user_id"))
    },
      // time-travel twin: last-writer-wins over the fenced slice only
      s"""WITH f AS (SELECT max(event_id) // 2 AS fence FROM events),
         |wal AS (
         |  SELECT event_id AS lsn, user_id, value,
         |    epoch_ns(ts) // 1000000 AS ts_ms, $opCaseSql AS op
         |  FROM events CROSS JOIN f WHERE event_id <= fence),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
         |  FROM wal WHERE op IN ('r','c','u','d'))
         |SELECT user_id, lsn AS last_lsn, op AS last_op, value, ts_ms
         |FROM ranked WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin),

    Query("cdc_forget", (s, dir) =>
      // right-to-be-forgotten: keys whose TERMINAL change is a delete
      // vanish from the store, history included (tombstone propagation)
      Cdc.forgetDeleted(Cdc.walEvents(s, dir))
        .select(col("lsn"), col("user_id"), col("op"))
        .orderBy(col("lsn")),
      // forget twin: semi-join against the surviving-key replay
      s"""WITH wal AS (
         |  SELECT event_id AS lsn, user_id, $opCaseSql AS op
         |  FROM events),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
         |  FROM wal WHERE op IN ('r','c','u','d')),
         |alive AS (SELECT user_id FROM ranked WHERE rn = 1 AND op <> 'd')
         |SELECT w.lsn, w.user_id, w.op FROM wal w
         |WHERE w.user_id IN (SELECT user_id FROM alive)
         |ORDER BY w.lsn""".stripMargin),

    Query("cdc_unwrap", (s, dir) =>
      // Debezium ExtractNewRecordState SMT (consumer-side): envelope →
      // flat row (after.* + __op/__lsn/__source_ts_ms/__table), rewrite
      // mode keeps deletes as soft-delete markers with null state —
      // pure narrow projection, fuses into the scan
      Cdc.unwrapNewRecordState(Cdc.walEvents(s, dir), deleteMode = "rewrite")
        .orderBy(col("__lsn")),
      // unwrap twin: flat projection with after-null-on-delete rules
      s"""SELECT user_id,
         |  CASE WHEN op = 'd' THEN NULL ELSE value END AS value,
         |  CASE WHEN op = 'd' THEN NULL ELSE props END AS props,
         |  op AS __op, lsn AS __lsn, ts_ms AS __source_ts_ms,
         |  'public.events' AS __table,
         |  CASE WHEN op = 'd' THEN 'true' ELSE 'false' END AS __deleted
         |FROM (SELECT event_id AS lsn, user_id, value, props,
         |        epoch_ns(ts) // 1000000 AS ts_ms, $opCaseSql AS op
         |      FROM events)
         |WHERE op IN ('r','c','u','d') ORDER BY __lsn""".stripMargin),

    Query("cdc_outbox_route", (s, dir) =>
      // transactional-outbox consumer: INSERT-only rows re-topiced by
      // aggregate type, keyed by aggregate id, payload verbatim
      Cdc.outboxRoute(Cdc.walEvents(s, dir)).orderBy(col("lsn")),
      // outbox twin: inserts only, re-topic + key + payload projection
      s"""SELECT 'outbox.event.' || event_type AS topic, user_id AS key,
         |  props AS value, event_id AS lsn, epoch_ns(ts) // 1000000 AS ts_ms
         |FROM events WHERE $opCaseSql = 'c' ORDER BY lsn""".stripMargin),

    Query("cdc_incremental_snapshot", (s, dir) => {
      // DBLog/Debezium watermark-windowed incremental snapshot: chunk =
      // 2nd user_id quartile as of the mid-stream low watermark, window
      // = (max/2, 3·max/4] LSN; stream events supersede snapshot rows
      // for touched keys. Bounds from one 1-row agg (documented tiny
      // driver-side scalar, same class as the bm25 stats).
      val wal = Cdc.walEvents(s, dir)
      val b = wal.agg(max(col("lsn")).as("ml"), max(col("user_id")).as("mu")).head()
      val (ml, mu) = (b.getLong(0), b.getLong(1))
      Cdc.incrementalSnapshotChunk(wal, mu / 4, mu / 2, ml / 2, ml * 3 / 4)
        .orderBy(col("lsn"), col("user_id"), col("op"))
    },
      // incremental-snapshot twin: fenced last-writer-wins state for the
      // chunk, anti-joined against the window's touched keys, ∪ window
      s"""WITH b AS (SELECT max(event_id) AS ml, max(user_id) AS mu FROM events),
         |wal AS (
         |  SELECT event_id AS lsn, user_id, value,
         |    epoch_ns(ts) // 1000000 AS ts_ms, $opCaseSql AS op
         |  FROM events),
         |win AS (SELECT w.* FROM wal w CROSS JOIN b
         |        WHERE w.lsn > b.ml // 2 AND w.lsn <= b.ml * 3 // 4
         |          AND w.op IN ('c','u','d')),
         |state AS (SELECT * FROM (
         |    SELECT w.*, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
         |    FROM wal w CROSS JOIN b
         |    WHERE w.lsn <= b.ml // 2 AND w.op IN ('r','c','u','d'))
         |  WHERE rn = 1 AND op <> 'd'),
         |chunk AS (SELECT s.* FROM state s CROSS JOIN b
         |          WHERE s.user_id > b.mu // 4 AND s.user_id <= b.mu // 2),
         |touched AS (SELECT DISTINCT w.user_id FROM win w CROSS JOIN b
         |            WHERE w.user_id > b.mu // 4 AND w.user_id <= b.mu // 2)
         |SELECT c.user_id, 'r' AS op, b.ml // 2 AS lsn, c.value, c.ts_ms
         |FROM chunk c CROSS JOIN b
         |WHERE c.user_id NOT IN (SELECT user_id FROM touched)
         |UNION ALL
         |SELECT user_id, op, lsn, value, ts_ms FROM win
         |ORDER BY lsn, user_id, op""".stripMargin),

    Query("cdc_compact_log", (s, dir) => {
      // Kafka-compacted-topic retention: below the mid-stream fence
      // only each key's last event survives; everything above passes
      // through — replay-equivalent for any lsn ≥ fence (CdcSpec)
      val wal = Cdc.walEvents(s, dir)
      val fenced = wal.crossJoin(
        broadcast(wal.agg(expr("max(lsn) div 2").as("__fence"))))
      Cdc.compactChangelog(fenced, col("__fence"))
        .select(col("lsn"), col("user_id"), col("op"), col("ts_ms"))
        .orderBy(col("lsn"))
    },
      // compaction twin: last-per-key below the fence ∪ all above
      s"""WITH f AS (SELECT max(event_id) // 2 AS fence FROM events),
         |wal AS (
         |  SELECT event_id AS lsn, user_id,
         |    epoch_ns(ts) // 1000000 AS ts_ms, $opCaseSql AS op
         |  FROM events),
         |below AS (SELECT w.* FROM wal w CROSS JOIN f
         |          WHERE w.lsn <= f.fence AND w.op IN ('r','c','u','d')),
         |last_below AS (SELECT user_id, max(lsn) AS lsn FROM below GROUP BY user_id)
         |SELECT b.lsn, b.user_id, b.op, b.ts_ms
         |FROM below b JOIN last_below l ON b.user_id = l.user_id AND b.lsn = l.lsn
         |UNION ALL
         |SELECT w.lsn, w.user_id, w.op, w.ts_ms
         |FROM wal w CROSS JOIN f WHERE w.lsn > f.fence
         |ORDER BY lsn""".stripMargin),

    Query("cdc_cagg_refresh", (s, dir) => {
      // continuous-aggregate refresh: merge the materialized base
      // partials with partials from ONLY the delta WAL slice (lsn above
      // the fence); oracle recomputes from scratch, proving the
      // incremental merge is exact. Fence rides as a broadcast scalar.
      val wal = Cdc.walEvents(s, dir)
      val fenced = wal.crossJoin(
        broadcast(wal.agg(expr("max(lsn) div 2").as("__fence"))))
      Cdc.caggRefresh(
          Cdc.caggPartials(fenced.filter(col("lsn") <= col("__fence"))),
          fenced.filter(col("lsn") > col("__fence")))
        .orderBy(col("chunk_day"))
    },
      s"""SELECT epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micros
         |FROM events WHERE $opCaseSql = 'c'
         |GROUP BY 1 ORDER BY chunk_day""".stripMargin),

    Query("cdc_catalog_columns", (s, dir) => {
      Cdc.catalogColumns(s, dir).orderBy(col("ordinal"))
    },
      """SELECT * FROM (VALUES
        |  ('event_id','bigint',true,true,1,false,NULL,1),
        |  ('ts','bigint',true,false,NULL,true,'time',2),
        |  ('user_id','bigint',true,false,NULL,false,NULL,3),
        |  ('event_type','string',true,false,NULL,false,NULL,4),
        |  ('value','double',true,false,NULL,false,NULL,5),
        |  ('props','string',true,false,NULL,false,NULL,6))
        |  AS t(column_name, data_type, nullable, is_primary_key, key_seq, is_dimension, dim_type, ordinal)
        |ORDER BY ordinal""".stripMargin),

    Query("cdc_schema_diff", (s, dir) => {
      // the DDL control-plane diff driver-visible: live events schema vs
      // its next version (value widened, props dropped, geo added,
      // event_type→kind positional rename) → typed change report
      import org.apache.spark.sql.types._
      import graft.streaming.SchemaEvolution
      val cur = Tables.events(s, dir).schema
      val next = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("kind", StringType),
        StructField("value", DecimalType(18, 6)),
        StructField("geo", LongType))) // type differs from props ⇒ drop+add, not rename
      val rows = SchemaEvolution.diff(cur, next).map {
        case SchemaEvolution.Added(c, t)           => (c, "added", t.simpleString)
        case SchemaEvolution.Dropped(c, t)         => (c, "dropped", t.simpleString)
        case SchemaEvolution.TypeChanged(c, f, t)  => (c, "type_changed", s"${f.simpleString}->${t.simpleString}")
        case SchemaEvolution.NullabilityChanged(c, n) => (c, "nullability", n.toString)
        case SchemaEvolution.Renamed(c, to)        => (c, "renamed", to)
      }
      import s.implicits._
      rows.toDF("column_name", "change", "detail").orderBy(col("column_name"), col("change"))
    },
      // schema-diff twin: the expected change set as literal truth
      """SELECT * FROM (VALUES
        |  ('event_type', 'renamed', 'kind'),
        |  ('geo', 'added', 'bigint'),
        |  ('props', 'dropped', 'string'),
        |  ('value', 'type_changed', 'double->decimal(18,6)'))
        |  AS t(column_name, change, detail)
        |ORDER BY column_name, change""".stripMargin),

    Query("cdc_heartbeats", (s, dir) =>
      // heartbeat.interval analog: per elapsed hour, the high-watermark
      // LSN — the offset-advance signal for quiet tables
      Cdc.heartbeats(Cdc.walEvents(s, dir), intervalMs = 3600000L)
        .orderBy(col("beat_ms")),
      // heartbeat twin: hourly buckets, max lsn
      """SELECT (epoch_ns(ts) // 1000000 // 3600000) * 3600000 AS beat_ms,
        |  MAX(event_id) AS high_lsn, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY beat_ms""".stripMargin),

    Query("cdc_column_mask", (s, dir) =>
      // column.exclude.list + column.mask.hash: value dropped, props
      // hashed (pseudonymous equality preserved), applied at capture
      Cdc.maskColumns(
          Cdc.walEvents(s, dir)
            .select(col("lsn"), col("user_id"), col("op"), col("value"), col("props")),
          exclude = Seq("value"), maskHash = Seq("props"))
        .orderBy(col("lsn")),
      // mask twin: value excluded, props sha256-hex (lowercase both sides)
      s"""SELECT event_id AS lsn, user_id, $opCaseSql AS op,
         |  sha256(props) AS props
         |FROM events ORDER BY lsn""".stripMargin),

    Query("cdc_ivm_join", (s, dir) => {
      // JOIN-view incremental maintenance: base view ∪ (ΔWAL ⋈ dim) —
      // refresh cost O(Δ), oracle recomputes the view from scratch
      val wal = Cdc.walEvents(s, dir).select(col("lsn"), col("user_id"), col("value"))
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      val fenced = wal.crossJoin(
        broadcast(wal.agg(expr("max(lsn) div 2").as("__fence"))))
      val base = fenced.filter(col("lsn") <= col("__fence"))
        .join(broadcast(dim), "user_id")
      Cdc.ivmJoinRefresh(base, fenced.filter(col("lsn") > col("__fence")), dim, "user_id")
        .select(col("lsn"), col("user_id"), col("value"), col("c_nationkey"))
        .orderBy(col("lsn"))
    },
      // ivm-join twin: the from-scratch view truth
      """SELECT e.event_id AS lsn, e.user_id, e.value, c.c_nationkey
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |ORDER BY lsn""".stripMargin),

    Query("cdc_lsn_gaps", (s, dir) => {
      // delivery-loss audit: two slices carved out of the stream must
      // surface as exactly two gaps with exact bounds/widths
      val wal = Cdc.walEvents(s, dir)
      val ml = wal.agg(max(col("lsn"))).head.getLong(0)
      val delivered = wal.filter(
        !col("lsn").between(ml / 4, ml / 4 + 9) &&
          !col("lsn").between(ml / 2, ml / 2 + 4))
      Cdc.lsnGaps(delivered).orderBy(col("gap_after_lsn"))
    },
      // gap twin: identical lead() over the identically-carved stream
      """WITH mm AS (SELECT max(event_id) AS ml FROM events),
        |d AS (SELECT event_id AS lsn FROM events CROSS JOIN mm
        |      WHERE NOT (event_id BETWEEN ml // 4 AND ml // 4 + 9)
        |        AND NOT (event_id BETWEEN ml // 2 AND ml // 2 + 4)),
        |g AS (SELECT lsn, lead(lsn, 1) OVER (ORDER BY lsn) AS next_lsn FROM d)
        |SELECT lsn AS gap_after_lsn, next_lsn AS resume_lsn,
        |  next_lsn - lsn - 1 AS missing
        |FROM g WHERE next_lsn - lsn > 1 ORDER BY gap_after_lsn""".stripMargin),

    Query("cdc_reconcile", (s, dir) => {
      // source↔target divergence report over checksum tables: a target
      // with one dropped row (count_mismatch), one altered value
      // (checksum_mismatch) and one dropped chunk (missing_on_target);
      // bounds from a 1-row agg (documented tiny driver scalar)
      val wal = Cdc.walEvents(s, dir)
      val ml = wal.agg(max(col("lsn"))).head.getLong(0)
      val target = wal
        .filter(col("lsn") =!= ml / 2 && col("chunk_day") =!= 0)
        .withColumn("value",
          when(col("lsn") === ml / 3, col("value") + 1.0).otherwise(col("value")))
      Cdc.reconcile(Cdc.chunkChecksums(wal), Cdc.chunkChecksums(target))
        .orderBy(col("table_name"), col("chunk_day"))
    },
      // reconcile twin: both sides' digests recomputed with the same tamper
      {
        def digest(src: String, p: String) =
          s"""${p}h AS (SELECT chunk_day,
             |  CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
             |       THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END
             |       AS BIGINT) AS rh
             |  FROM (SELECT chunk_day, ${fnvSql(
                        "(lsn || '|' || user_id || '|' || event_type || '|' || " +
                          "v_micros || '|' || props)")} AS hu FROM $src) ${p}z),
             |${p}c AS (SELECT chunk_day, COUNT(*) AS n_rows,
             |  CAST(bit_xor(rh) AS BIGINT) AS cs FROM ${p}h GROUP BY 1)""".stripMargin
        s"""WITH wal AS (SELECT event_id AS lsn, user_id, event_type, props, value,
           |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day FROM events),
           |mm AS (SELECT max(lsn) AS ml FROM wal),
           |sv AS (SELECT chunk_day, lsn, user_id, event_type, props,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micros FROM wal),
           |tv AS (SELECT chunk_day, lsn, user_id, event_type, props,
           |    CAST(floor((CASE WHEN lsn = (SELECT ml // 3 FROM mm)
           |                     THEN value + 1 ELSE value END) * 1000000 + 0.5)
           |         AS BIGINT) AS v_micros
           |  FROM wal WHERE lsn <> (SELECT ml // 2 FROM mm) AND chunk_day <> 0),
           |${digest("sv", "s")},
           |${digest("tv", "t")}
           |SELECT 'events' AS table_name, chunk_day,
           |  CASE WHEN sc.n_rows IS NULL THEN 'missing_on_source'
           |       WHEN tc.n_rows IS NULL THEN 'missing_on_target'
           |       WHEN sc.n_rows <> tc.n_rows THEN 'count_mismatch'
           |       WHEN sc.cs <> tc.cs THEN 'checksum_mismatch'
           |       ELSE 'equal' END AS status
           |FROM sc FULL OUTER JOIN tc USING (chunk_day)
           |ORDER BY table_name, chunk_day""".stripMargin
      }),

    Query("cdc_cagg_weekly", (s, dir) =>
      // hierarchical cagg: weekly level rolled up FROM the daily
      // partials (count/sum states merge losslessly); oracle recomputes
      // the weekly truth from raw events
      Cdc.caggWeeklyFromDaily(Cdc.caggPartials(Cdc.walEvents(s, dir)))
        .orderBy(col("chunk_week")),
      // weekly-cagg twin: weekly truth recomputed from scratch
      s"""SELECT (epoch_ns(ts) // 86400000000000 - 19723) // 7 AS chunk_week,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS sum_micros
         |FROM events WHERE $opCaseSql = 'c'
         |GROUP BY 1 ORDER BY chunk_week""".stripMargin),

    Query("cdc_chunk_checksums", (s, dir) =>
      // replica-verification digests: order-independent XOR of per-row
      // FNV-64a per (table, chunk) — equal checksum + count verifies a
      // chunk without moving rows
      Cdc.chunkChecksums(Cdc.walEvents(s, dir))
        .orderBy(col("table_name"), col("chunk_day")),
      // checksum twin: signed FNV-64a per row, XOR-folded per chunk
      {
        val rowStr = "lsn || '|' || user_id || '|' || event_type || '|' || " +
          "v_micros || '|' || props"
        s"""WITH wal AS (
           |  SELECT event_id AS lsn, user_id, event_type, props,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micros,
           |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day
           |  FROM events),
           |h AS (SELECT chunk_day,
           |  CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
           |       THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END
           |       AS BIGINT) AS rh
           |  FROM (SELECT chunk_day, ${fnvSql(s"($rowStr)")} AS hu FROM wal) z)
           |SELECT 'events' AS table_name, chunk_day, COUNT(*) AS n_rows,
           |  CAST(bit_xor(rh) AS BIGINT) AS checksum
           |FROM h GROUP BY 2 ORDER BY table_name, chunk_day""".stripMargin
      }),

    Query("cdc_chunk_added", (s, dir) => {
      // T9 control plane: chunk registration sequence (FNV partition
      // column exercised in the rows-only snapshot_partitions query)
      Cdc.chunkAddedEvents(Cdc.walEvents(s, dir))
        .select(col("chunk_name"), col("registered_at_lsn"), col("parent_hypertable"))
        .orderBy(col("registered_at_lsn"))
    },
      """SELECT concat('_hyper_1_', CAST(chunk_day AS VARCHAR), '_chunk') AS chunk_name,
        |  MIN(event_id) AS registered_at_lsn,
        |  'events' AS parent_hypertable
        |FROM (SELECT event_id, epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day FROM events) t
        |GROUP BY chunk_day ORDER BY registered_at_lsn""".stripMargin),

    Query("cdc_sqs_dedup_id", (s, dir) => {
      // S13: SQS FIFO dedup-id = hash(LSN, txId, content) — README.md:444-447
      Cdc.walEvents(s, dir)
        .select(col("lsn"),
          sha2(concat_ws("|", col("lsn"), col("xid"), col("props")), 256).as("dedup_id"))
        .orderBy(col("lsn"))
    },
      """SELECT event_id AS lsn,
        |  sha256(concat_ws('|', CAST(event_id AS VARCHAR), CAST(event_id // 10 AS VARCHAR), props)) AS dedup_id
        |FROM events ORDER BY lsn""".stripMargin),

    Query("cdc_truncate", (s, dir) => {
      // T-op fan-out with distinct-by-canonical-name (OnTruncateEvent)
      Cdc.truncateEvents(Cdc.walEvents(s, dir),
          Cdc.chunkCatalog(s, dir), Cdc.hypertableCatalog(s))
        .orderBy(col("xid"))
    },
      s"""SELECT MIN(event_id) AS lsn, event_id // 10 AS xid, 't' AS op,
         |  'public' AS schema_name, 'events' AS table_name,
         |  MIN(epoch_ns(ts) // 1000000) AS ts_ms,
         |  CAST(NULL AS VARCHAR) AS before, CAST(NULL AS VARCHAR) AS after
         |FROM events
         |WHERE $opCaseSql = 'd'
         |GROUP BY xid, schema_name, table_name
         |ORDER BY xid""".stripMargin),

    Query("cdc_message_txn_flag", (s, dir) => {
      Cdc.logicalMessagesTxn(Cdc.walEvents(s, dir))
        .orderBy(col("lsn"))
    },
      s"""WITH $msgPrefixCtes
         |SELECT lsn,
         |  lsn % 2 = 0 AS transactional,
         |  CASE WHEN lsn % 2 = 0 THEN xid END AS tx_id,
         |  CASE WHEN lsn % 2 = 0 THEN ts_ms END AS msg_ts_ms,
         |  msg_prefix AS prefix, to_base64(encode(props)) AS content
         |FROM mwalp WHERE op = 'm' AND msg_prefix NOT IN
         |  ('::timescaledb-decompression-start', '::timescaledb-decompression-end')
         |ORDER BY lsn""".stripMargin),

    Query("cdc_envelope_schema", (s, dir) => {
      // full Debezium {payload, schema} artifact with per-kind key blocks
      Cdc.envelopeWithSchema(s, dir).orderBy(col("lsn"))
    },
      (eventsEnvelopeOracle + "\nORDER BY lsn")),

    Query("cdc_multitable", (s, dir) =>
      // events CDC + orders/lineitem snapshots, per-table schemas,
      // composite key on lineitem — one unioned stream, RENDER-LATE:
      // the (topic, lsn) sort moves the narrow union; the ~1 KB
      // envelope strings assemble above the sort (r9 — previously the
      // exchange carried ~850 MB of rendered strings)
      Cdc.multiTableEnvelopesSorted(s, dir),
      {
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val dz = graft.model.DebeziumSchema
        def snapOracle(table: String, lsn: String, tsMs: String, rowJson: String,
                       keyPayload: String, rowSchema: StructType,
                       pk: Seq[(String, org.apache.spark.sql.types.DataType)]): String = {
          val topic = s"graft.public.$table"
          val env = dz.envelopeSchemaJson(rowSchema, topic)
          val key = dz.keySchemaJson(topic, pk)
          s"""SELECT '$topic' AS topic, $lsn AS lsn,
             |  '{"payload":{"after":' || $rowJson || ',"op":"r","source":{"connector":"spark-graft","db":"graft","lsn":"' || hex(($lsn) >> 32) || '/' || hex(($lsn) & 4294967295) || '","name":"graft","schema":"public","snapshot":true,"table":"$table","ts_ms":' || $tsMs || ',"txId":null,"version":"0.1.0"},"ts_ms":' || $tsMs || '},"schema":$env}' AS envelope,
             |  '{"payload":' || $keyPayload || ',"schema":$key}' AS key_json
             |FROM $table""".stripMargin
        }
        val orders = snapOracle("orders", "o_orderkey", "epoch_ms(o_orderdate)",
          s"""'{"o_custkey":' || o_custkey || ',"o_orderkey":' || o_orderkey || ',"total_cents":' || ${centsSql("o_totalprice")} || '}'""",
          """'{"o_orderkey":' || o_orderkey || '}'""",
          StructType(Seq(StructField("o_custkey", LongType),
            StructField("o_orderkey", LongType), StructField("total_cents", LongType))),
          Seq("o_orderkey" -> LongType))
        val lineitem = snapOracle("lineitem", "l_orderkey * 10 + l_linenumber",
          "epoch_ms(l_shipdate)",
          s"""'{"l_linenumber":' || l_linenumber || ',"l_orderkey":' || l_orderkey || ',"qty_cents":' || ${centsSql("l_quantity")} || '}'""",
          """'{"l_linenumber":' || l_linenumber || ',"l_orderkey":' || l_orderkey || '}'""",
          StructType(Seq(StructField("l_linenumber", LongType),
            StructField("l_orderkey", LongType), StructField("qty_cents", LongType))),
          Seq("l_orderkey" -> LongType, "l_linenumber" -> LongType))
        // plain join, NOT stripMargin: the spliced sub-queries contain
        // line-leading '||' that margin stripping would corrupt
        Seq("SELECT * FROM (",
          "SELECT 'graft.public.events' AS topic, lsn, envelope, key_json",
          s"FROM (${eventsEnvelopeOracle})",
          "UNION ALL", orders, "UNION ALL", lineitem,
          ") ORDER BY topic, lsn").mkString("\n")
      }),






    Query("cdc_envelope_json", (s, dir) => {
      // driver-checkable form (r8 advice): the rendered JSON is parsed
      // BACK and its fields gate against the oracle — well-formedness,
      // op routing, before/after presence rules, the textual LSN, the
      // schema descriptor identity, and the key envelope all hash;
      // byte-exactness of the envelope text itself is covered by the
      // cdc_multitable twin (same builder) and DebeziumSchemaSpec
      // one from_json per JSON column (sparse schema) instead of one
      // get_json_object per FIELD: each get_json_object re-parses the
      // whole envelope (schema descriptor included) per row, so the old
      // form paid 7 full parses/row — the bench's top outlier at sf0.1
      val envSchema = StructType(Seq(
        StructField("payload", StructType(Seq(
          StructField("op", StringType),
          StructField("source", StructType(Seq(StructField("lsn", StringType)))),
          StructField("after", StructType(Seq(StructField("event_id", LongType)))),
          StructField("before", StructType(Seq(StructField("user_id", LongType))))))),
        StructField("schema", StructType(Seq(
          StructField("name", StringType), StructField("type", StringType))))))
      val keySchema = StructType(Seq(
        StructField("payload", StructType(Seq(StructField("event_id", LongType))))))
      // sort FIRST, render+parse after (the conv_array_scalar_sweep
      // posture): the range exchange ships the narrow WAL columns and
      // the ~1 KB render + full parse-back run ABOVE it on all lanes —
      // below it they ran inside the single-row-group scan task. Same
      // rows, same builder (envelopeJsonCol), same parse.
      Tables.sortedSpread(Cdc.walEvents(s, dir), col("lsn"))
        .select(col("lsn"),
          from_json(Cdc.envelopeJsonCol(), envSchema).as("env"),
          from_json(Cdc.envelopeKeyJsonCol, keySchema).as("k"))
        .select(col("lsn"),
          col("env.payload.op").as("op"),
          col("env.payload.source.lsn").as("source_lsn"),
          col("env.payload.after.event_id").as("after_event_id"),
          col("env.payload.before.user_id").as("before_user_id"),
          col("env.schema.name").as("schema_name"),
          col("env.schema.type").as("schema_type"),
          col("k.payload.event_id").as("key_event_id"))
    },
      // parse-back twin of the rendered envelope JSON: op routing,
      // before/after presence rules, textual LSN, schema identity, key
      s"""SELECT event_id AS lsn, $opCaseSql AS op,
         |  hex(event_id // 4294967296) || '/' || hex(event_id % 4294967296) AS source_lsn,
         |  CASE WHEN $opCaseSql IN ('r','c','u') THEN event_id END AS after_event_id,
         |  CASE WHEN $opCaseSql IN ('u','d') THEN user_id END AS before_user_id,
         |  'graft.public.events.Envelope' AS schema_name,
         |  'struct' AS schema_type,
         |  event_id AS key_event_id
         |FROM events ORDER BY lsn""".stripMargin),

    Query("cdc_snapshot_partitions", (s, dir) => {
      // FNV-64a table→partition assignment (snapshotter.go:88 parity)
      Tables.events(s, dir)
        .select(concat(lit("public.events_"), col("user_id")).as("tbl")).distinct()
        .select(col("tbl"),
          graft.functions.FnvHash64.snapshotPartition(col("tbl"), 5).as("partition"))
        .orderBy(col("tbl"))
    },
      // Upgraded from rows-only: FNV-64a as a HUGEINT byte fold (names are
      // ASCII so ascii(char) = byte), unsigned modulo for free since the
      // accumulator stays in [0, 2^64)
      """SELECT tbl, CAST(list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(tbl) + 1),
        |        i -> ascii(substr(tbl, CAST(i AS INTEGER), 1)))),
        |    (acc, b) -> (xor(acc, CAST(b AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  ) % 5 AS BIGINT) AS partition
        |FROM (SELECT DISTINCT 'public.events_' || CAST(user_id AS VARCHAR) AS tbl FROM events) t
        |ORDER BY tbl""".stripMargin),

    Query("cdc_config_snapshot_only", (s, dir) => {
      // postgresql.snapshot.initial=initial_only → the snapshot alone
      // (op='r'), scoped filter applied via the canonical table name
      graft.streaming.ConfigPipeline.fromProperties(s, dir, Map(
        "postgresql.snapshot.initial" -> "initial_only",
        "sink.filters.keep_even.condition" -> "event_id % 2 == 0",
        "sink.filters.keep_even.tables.includes" -> "public.events"))
        .select(col("lsn"), col("op"), col("topic"), col("event_id"), col("user_id"))
        .orderBy(col("lsn"))
    },
      // snapshot-only twin: initial_only keeps only op='r' rows; the
      // scoped filter condition applies (canonical name matches)
      s"""SELECT event_id AS lsn, $opCaseSql AS op,
         |  'timescaledb.public.events' AS topic, event_id, user_id
         |FROM events
         |WHERE $opCaseSql = 'r' AND event_id % 2 = 0
         |ORDER BY lsn""".stripMargin),

    Query("cdc_config_pipeline", (s, dir) => {
      // the reference's TOML property surface assembled end-to-end:
      // gates (read off) + hypertable includes + a scoped Expr filter +
      // topic prefix — one declarative plan from config alone
      graft.streaming.ConfigPipeline.fromProperties(s, dir, Map(
        "timescaledb.events.read" -> "false",
        "timescaledb.hypertables.includes" -> "public.*",
        "sink.filters.keep_high.condition" -> "user_id > 3",
        "topic.prefix" -> "cfg"))
        .select(col("lsn"), col("op"), col("topic"), col("event_id"), col("user_id"))
        .orderBy(col("lsn"))
    },
      // config-pipeline twin: read gate off → c/u/d survive (m/$ are off
      // by reference default), includes match, filter condition applied,
      // configured topic prefix
      s"""SELECT event_id AS lsn, $opCaseSql AS op,
         |  'cfg.public.events' AS topic, event_id, user_id
         |FROM events
         |WHERE $opCaseSql IN ('c', 'u', 'd') AND user_id > 3
         |ORDER BY lsn""".stripMargin)
  )
}
