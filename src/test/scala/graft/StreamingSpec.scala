package graft

import graft.sinks.CollectorSink
import graft.streaming.{Scd2Assembler, StreamPipeline}
import java.nio.file.Files

/** Streaming-path parity: T1 offsets/recovery, envelope equivalence with
  * the batch path (reference restart semantics:
  * `/root/reference/tests/streamer_restart_test.go` — no loss across
  * restart; at-least-once into sinks). */
class StreamingSpec extends SparkSpec {

  /** `ConfigPipeline.start` of the parquet stand-in into `sink`,
    * registered as `name`, with `name` as the query name (the topic
    * prefix): every op flows (the defaults drop `r` and `m`), and no
    * stats endpoint starts. */
  private def startInto(name: String, sink: graft.sinks.Sink,
                        ckpt: String): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.sinks.Sinks.register(name, () => sink)
    graft.streaming.ConfigPipeline.start(spark, sf001, Map(
      "sink.type" -> name,
      "topic.prefix" -> name,
      "postgresql.snapshot.initial" -> "always",
      "postgresql.events.message" -> "true",
      "stats.enabled" -> "false"), ckpt)
  }

  test("streaming envelope equals batch envelope (one code path)") {
    val sink = new CollectorSink
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = startInto("graft-cdc", sink, ckpt)
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    // A1: observed metrics surface the reference's stats counters
    val obs = q.lastProgress.observedMetrics.get("graft_stats")
    assert(obs.getAs[Long]("n_events") === 1000L)
    assert(obs.getAs[Long]("n_inserts") > 0L)
    val streamed = sink.rows.map(_.getAs[Long]("lsn")).sorted
    val batch = graft.cdc.Cdc.envelopePipeline(spark, sf001)
      .select("lsn").collect().map(_.getLong(0)).sorted
    assert(streamed.length === batch.length, "streaming and batch row counts equal")
    assert(streamed.sameElements(batch))
  }

  test("wire stream: an unchanged-TOAST update renders its envelope, props as JSON null") {
    // every 3rd update's props rides the wire as unchanged TOAST ('u')
    // and decodes to null; the row image must render it as null, never
    // null out the whole envelope — the wire sinks send a null envelope
    // as a tombstone, and a compacted topic would delete the row
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-toast").toString
    graft.cdc.PgOutput.encodeSegments(Tables.events(spark, sf001), toastEvery = 3)
      .write.mode("overwrite").parquet(s"$dir/segments")
    val (envelope, _) = graft.cdc.Cdc.eventsEnvelopeCols()
    val q = StreamPipeline.envelopeStream(spark, sf001, pgoutputPath = Some(s"$dir/segments"))
      .select(col("op"), col("props"), envelope.as("envelope"))
      .writeStream.format("memory").queryName("toast_envelopes")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val updates = spark.table("toast_envelopes").filter(col("op") === "u").collect()
    val toasted = updates.filter(_.isNullAt(1))
    assert(toasted.nonEmpty, "the fixture must carry unchanged-TOAST updates")
    assert(updates.forall(r => !r.isNullAt(2)),
      s"${updates.count(_.isNullAt(2))} of ${updates.length} update envelopes are null")
    toasted.foreach(r => assert(r.getString(2).contains("\"props\":null,")))
  }

  test("wire stream: a row whose chunk_day is not in the catalog is dropped") {
    // the catalog is read once when the stream is built; a row that does
    // not resolve against it is dropped, as the inner join dropped it
    import org.apache.spark.sql.functions.{col, when}
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-unresolved").toString
    val moved = col("event_id") % 97 === 0
    val events = Tables.events(spark, sf001)
      .withColumn("ts", when(moved, col("ts") + 400L * graft.cdc.Cdc.NanosPerDay).otherwise(col("ts")))
    graft.cdc.PgOutput.encodeSegments(events).write.parquet(s"$dir/segments")
    val q = StreamPipeline.envelopeStream(spark, sf001, pgoutputPath = Some(s"$dir/segments"))
      .writeStream.format("memory").queryName("unresolved_chunks")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val out = spark.table("unresolved_chunks")
    assert(out.columns.toSeq === Seq("lsn", "xid", "op", "ts_ms", "schema_name", "table_name",
      "chunk_name", "topic", "event_id", "user_id", "value", "props", "msg_prefix"))
    val decoded = graft.cdc.PgOutput.decodeSegments(
        spark.read.schema(graft.cdc.PgOutput.frameSchema).parquet(s"$dir/segments"))
      .filter(col("op_wire").isin("I", "U", "D"))
    val expected = decoded.filter(!moved).select("lsn").as[Long].collect().sorted
    assert(decoded.filter(moved).count() > 0, "the fixture moves some rows out of the catalog")
    assert(out.select("lsn").as[Long].collect().sorted === expected)
    val sample = out.filter(col("event_id") === 1L)
      .select("schema_name", "table_name", "chunk_name", "topic", "ts_ms").as[(String, String, String, String, Long)]
      .head()
    val day = sample._5 / 86400000L - graft.cdc.Cdc.EpochDay20240101
    assert(sample === (("public", "events", s"_hyper_1_${day}_chunk", "graft.public.events", sample._5)))
    spark.sql("DROP TABLE IF EXISTS unresolved_chunks")
  }

  test("wire stream: rows dropped by chunk resolution are counted on /metrics") {
    // segments stamped 400 days past the fixture's days: every row of
    // them misses the chunk catalog and is dropped; graft_stats counts
    // exactly those rows as unresolved, and counts them as channel calls
    // too, ahead of resolution, as the reference's replication handler
    import org.apache.spark.sql.functions.{col, when}
    val dir = Files.createTempDirectory("graft-unresolved-count").toString
    val moved = col("event_id") % 7 === 0
    graft.cdc.PgOutput.encodeSegments(Tables.events(spark, sf001)
        .withColumn("ts", when(moved, col("ts") + 400L * graft.cdc.Cdc.NanosPerDay).otherwise(col("ts"))))
      .write.parquet(s"$dir/segments")
    val dropped = graft.cdc.PgOutput.decodeSegments(
        spark.read.schema(graft.cdc.PgOutput.frameSchema).parquet(s"$dir/segments"))
      .filter(col("op_wire").isin("I", "U", "D") && moved).count()
    assert(dropped > 0L)
    val listener = new graft.streaming.StatsListener
    spark.streams.addListener(listener)
    try {
      val q = StreamPipeline.envelopeStream(spark, sf001, pgoutputPath = Some(s"$dir/segments"))
        .writeStream.format("memory").queryName("unresolved_counted")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(240000), "stream did not finish within the timeout")
      val delivered = spark.table("unresolved_counted").count()
      val observed = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("graft_stats")))
        .map(_.getAs[Long]("n_unresolved")).sum
      assert(observed === dropped)
      val deadline = System.nanoTime + 60e9.toLong // listener delivery is async
      while ((listener.counters.getOrElse("unresolved_rows_total", 0L) < dropped ||
              listener.counters.getOrElse("total", 0L) < delivered + dropped) &&
             System.nanoTime < deadline) Thread.sleep(50)
      assert(listener.counters("unresolved_rows_total") === dropped)
      assert(listener.counters("total") === delivered + dropped)
      val scrape = graft.streaming.StatsEndpoint.render(listener.counters, runtimeStats = false)
      assert(scrape.linesIterator.contains(s"graft_unresolved_rows_total $dropped"), scrape)
      assert(scrape.linesIterator.contains(
        s"streamer_replicationchannel_calls_total ${delivered + dropped}"), scrape)
      assert(delivered + dropped === graft.cdc.PgOutput.decodeSegments(
          spark.read.schema(graft.cdc.PgOutput.frameSchema).parquet(s"$dir/segments"))
        .filter(col("op_wire").isin("I", "U", "D")).count())
    } finally {
      spark.streams.removeListener(listener)
      spark.sql("DROP TABLE IF EXISTS unresolved_counted")
    }
  }

  test("a config-driven wire stream plans the two observe nodes with stats on and off") {
    import org.apache.spark.sql.execution.CollectMetricsExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val dir = Files.createTempDirectory("graft-observe-nodes").toString
    graft.cdc.PgOutput.encodeSegments(Tables.events(spark, sf001)).write.parquet(s"$dir/segments")
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()
    try {
      Seq("true", "false").foreach { statsOn =>
        val name = s"observe-nodes-$statsOn"
        graft.sinks.Sinks.register(name, () => new CollectorSink)
        val q = graft.streaming.ConfigPipeline.start(spark, sf001, Map(
          "sink.type" -> name,
          "topic.prefix" -> name,
          "postgresql.pgoutput.path" -> s"$dir/segments",
          "stats.enabled" -> statsOn,
          "stats.port" -> port.toString), s"$dir/ckpt-$statsOn")
        assert(q.awaitTermination(240000), "stream did not finish within the timeout")
        q.exception.foreach(e => throw e)
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        val names = plan.collect { case c: CollectMetricsExec => c.name }
        assert(names.sorted === Seq("graft_emitted", "graft_stats"), s"stats.enabled=$statsOn: $plan")
      }
    } finally graft.streaming.StatsEndpoint.stop(port)
  }

  test("mid-stream ADD COLUMN widens the envelope across micro-batches without restart (T9)") {
    // the in-flight half of the reference's ApplySchemaUpdate
    // (systemcatalog.go:347-373): a fresh Relation message with a new
    // `score int8` column arrives MID-WAL; the dynamic decode carries
    // both shapes through one continuously-running query, and each
    // micro-batch resolves the schema IT observed — no restart, no
    // SchemaChangedException
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.streaming.SchemaEvolution
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, sf001)
    val boundary = 450L
    val frames = graft.cdc.PgOutput
      .encodeSegmentsEvolving(ev, boundary, txnSize = 10, segmentTxns = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._1)
    assert(frames.length >= 8, s"need several segments, got ${frames.length}")
    // batch 1 = segments strictly before the DDL; batch 2 crosses it
    val (pre, rest) = frames.partition(_._1 < 3)
    val mem = MemoryStream[(Long, Long, Array[Byte])]
    val decoded = graft.cdc.PgOutput.decodeRowsDynamic(
      mem.toDS().toDF("segment", "start_lsn", "data"))
    val batches = scala.collection.mutable.ArrayBuffer[
      (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]()
    val schemaJsons = scala.collection.mutable.ArrayBuffer[String]()
    val q = decoded.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val resolved = SchemaEvolution.resolveBatch(b)
        batches += ((resolved.schema, resolved.collect()))
        // the self-describing {schema} block is rebuilt PER BATCH from
        // the resolved field set (ApplySchemaUpdate semantics)
        schemaJsons += SchemaEvolution.envelopeSchemaJsonFor(
          resolved, "graft.public.events")
        ()
      }
      .outputMode("append").start()
    try {
      mem.addData(pre.toSeq); q.processAllAvailable()
      mem.addData(rest.toSeq); q.processAllAvailable()
      assert(q.isActive, "the query survived the DDL boundary — no restart")
    } finally q.stop()
    assert(batches.length === 2)
    val (s1, rows1) = batches(0)
    val (s2, rows2) = batches(1)
    assert(!s1.fieldNames.contains("score"), "pre-DDL batch renders the old shape")
    assert(s2.fieldNames.contains("score"), "the crossing batch widened")
    // the envelope schema descriptor follows the batch's field set
    assert(!schemaJsons(0).contains("\"score\""),
      "pre-DDL envelopes describe the old field set")
    assert(schemaJsons(1).contains("\"score\""),
      "post-DDL envelopes describe the widened field set")
    assert(schemaJsons(0) !== schemaJsons(1))
    // the observed change IS the reference's diff: one added column
    val changes = SchemaEvolution.diff(
      org.apache.spark.sql.types.StructType(s1.filterNot(f =>
        Seq("segment", "lsn", "xid", "op_wire", "schema_name", "table_name")
          .contains(f.name))),
      org.apache.spark.sql.types.StructType(s2.filterNot(f =>
        Seq("segment", "lsn", "xid", "op_wire", "schema_name", "table_name")
          .contains(f.name))))
    assert(changes === Seq(SchemaEvolution.Added("score",
      org.apache.spark.sql.types.LongType)))
    // value agreement on both sides of the boundary, within ONE batch
    val idx2 = s2.fieldIndex("score")
    val eidIdx = s2.fieldIndex("event_id")
    val uidIdx = s2.fieldIndex("user_id")
    rows2.foreach { r =>
      val eid = r.getLong(eidIdx)
      if (eid < boundary) assert(r.isNullAt(idx2), s"pre-DDL row $eid has NULL score")
      else assert(r.getLong(idx2) === r.getLong(uidIdx) % 100,
        s"post-DDL row $eid carries the new column")
    }
    assert(rows2.exists(r => r.getLong(eidIdx) < boundary) &&
      rows2.exists(r => r.getLong(eidIdx) >= boundary),
      "the crossing batch really holds both shapes")
    assert(rows1.nonEmpty && rows2.nonEmpty)
  }

  test("mid-stream ALTER COLUMN TYPE decodes each row by ITS relation version (T9)") {
    // the TypeChanged half of ApplySchemaUpdate: user_id re-announces
    // as text (oid 25) mid-WAL with 'u'-prefixed values; one
    // continuously-running query crosses the DDL, and the crossing
    // batch must cast pre-DDL rows with the int8 plan and post-DDL rows
    // with the text plan, widened to string LAST — the r15 name-keyed
    // union kept the first-seen int8 and silently NULLed every post-DDL
    // value, which this test fails on
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SchemaEvolution
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, sf001)
    val boundary = 450L
    val frames = graft.cdc.PgOutput
      .encodeSegmentsRetyping(ev, boundary, txnSize = 10, segmentTxns = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._1)
    val (pre, rest) = frames.partition(_._1 < 3)
    val mem = MemoryStream[(Long, Long, Array[Byte])]
    val decoded = graft.cdc.PgOutput.decodeRowsDynamic(
      mem.toDS().toDF("segment", "start_lsn", "data"))
    val batches = scala.collection.mutable.ArrayBuffer[
      (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]()
    val q = decoded.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val resolved = SchemaEvolution.resolveBatch(b)
        batches += ((resolved.schema, resolved.collect()))
        ()
      }
      .outputMode("append").start()
    try {
      mem.addData(pre.toSeq); q.processAllAvailable()
      mem.addData(rest.toSeq); q.processAllAvailable()
      assert(q.isActive, "the query survived the ALTER TYPE — no restart")
    } finally q.stop()
    assert(batches.length === 2)
    val (s1, rows1) = batches(0)
    val (s2, rows2) = batches(1)
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    assert(s1("user_id").dataType === LongType, "pre-DDL batch types the old shape")
    assert(s2("user_id").dataType === StringType, "the crossing batch widened to text")
    // the observed change IS the reference's diff: one TypeChanged
    def rowShape(s: StructType) = StructType(s.filterNot(f =>
      Seq("segment", "lsn", "xid", "op_wire", "schema_name", "table_name")
        .contains(f.name)))
    assert(SchemaEvolution.diff(rowShape(s1), rowShape(s2)) ===
      Seq(SchemaEvolution.TypeChanged("user_id", LongType, StringType)))
    // value agreement on both sides of the boundary, within ONE batch
    val uid2 = s2.fieldIndex("user_id")
    val eid2 = s2.fieldIndex("event_id")
    rows2.foreach { r =>
      val eid = r.getLong(eid2)
      val v = r.getString(uid2)
      if (eid < boundary)
        assert(v != null && v.forall(_.isDigit),
          s"pre-DDL row $eid renders the int8 value as decimal text, got '$v'")
      else
        assert(v != null && v.startsWith("u"),
          s"post-DDL row $eid carries the text value verbatim, got '$v'")
    }
    assert(rows2.exists(r => r.getLong(eid2) < boundary) &&
      rows2.exists(r => r.getLong(eid2) >= boundary),
      "the crossing batch really holds both versions")
    assert(rows1.nonEmpty && rows2.nonEmpty)
  }

  test("streaming compression tracker ≡ batch detection across mid-history batch splits (T3)") {
    // the transactiontracker's home is the LIVE stream: keyed chunk
    // state must carry the last committed status across micro-batches,
    // so the fixture status history is fed in three batches whose cuts
    // land mid-chunk-history and mid-txn — any lost/duplicated state
    // shows up as a missing or phantom transition
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CompressionTracker
    import graft.streaming.CompressionTracker.StatusUpd
    import org.apache.spark.sql.functions.col
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val updatesDf = graft.cdc.Cdc.chunkStatusUpdates(
      graft.cdc.Cdc.walEvents(spark, sf001))
    val updates = updatesDf
      .select("lsn", "xid", "chunk_id", "new_status", "ts_ms").as[StatusUpd]
      .collect().sortBy(_.lsn)
    val n = updates.length
    assert(n > 10, s"fixture too small to split meaningfully: $n")
    val cuts = Seq(n / 3 + 1, 2 * n / 3 + 1) // off the natural boundaries
    val parts = Seq(updates.slice(0, cuts(0)),
      updates.slice(cuts(0), cuts(1)), updates.slice(cuts(1), n))
    val mem = MemoryStream[StatusUpd]
    val q = CompressionTracker.transitions(mem.toDS())
      .writeStream.format("memory").queryName("ct_trans")
      .outputMode("append").start()
    try {
      parts.foreach { p => mem.addData(p.toSeq); q.processAllAvailable() }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getString(4), r.getBoolean(5))
    val streamed = spark.sql(
      "SELECT lsn, xid, chunk_id, new_status, kind, partial FROM ct_trans")
      .collect().map(key).sortBy(_._1)
    val batch = graft.cdc.Cdc.statusTransitions(updatesDf)
      .select(col("lsn"), col("xid"), col("chunk_id"), col("new_status"), col("kind"),
        (col("new_status").bitwiseAND(org.apache.spark.sql.functions.lit(8)) === 8).as("partial"))
      .collect().map(key).sortBy(_._1)
    assert(streamed.length === batch.length && streamed.sameElements(batch),
      "streamed transitions must equal the batch lag-window detection")
    // full-pipeline equivalence: commit-time emission over the STREAMED
    // transitions reproduces compressionFromStatus exactly
    val wal = graft.cdc.Cdc.walEvents(spark, sf001)
    val full = graft.cdc.Cdc.resolveChunkIdentity(
        graft.cdc.Cdc.commitEmission(spark.table("ct_trans"), updatesDf),
        graft.cdc.Cdc.chunkCatalogOf(wal), graft.cdc.Cdc.hypertableCatalog(spark))
      .collect().map(_.toString).sorted
    val ref = graft.cdc.Cdc.compressionFromStatus(updatesDf,
        graft.cdc.Cdc.chunkCatalogOf(wal), graft.cdc.Cdc.hypertableCatalog(spark))
      .collect().map(_.toString).sorted
    assert(full.sameElements(ref))
    spark.sql("DROP TABLE IF EXISTS ct_trans")
  }

  test("checkpoint restart mid-history: compression transitions equal the uninterrupted run (T1×T3)") {
    // the status-machine twin of the restart case: per-chunk last-known
    // status must resume from the state store, or post-restart updates
    // re-detect transitions against a phantom status=0
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CompressionTracker
    import graft.streaming.CompressionTracker.StatusUpd
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val updates = graft.cdc.Cdc.chunkStatusUpdates(
        graft.cdc.Cdc.walEvents(spark, sf001))
      .select("lsn", "xid", "chunk_id", "new_status", "ts_ms").as[StatusUpd]
      .collect().sortBy(_.lsn)
    val n = updates.length
    assert(n > 6)
    val cut = n / 2 + 1 // off the chunk-history boundary
    val parts = Seq(updates.slice(0, cut).toSeq, updates.slice(cut, n).toSeq)
    type Out = (Long, Long, Int, Int, String, Boolean)
    def run(restart: Boolean): Seq[Out] = {
      val ckpt = Files.createTempDirectory("graft-ct-restart").toString
      val got = scala.collection.mutable.Map[Long, Seq[Out]]()
      val mem = MemoryStream[StatusUpd]
      def startQ() = CompressionTracker.transitions(mem.toDS())
        .toDF().writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          got(id) = b.select("lsn", "xid", "chunk_id", "new_status", "kind", "partial")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
              r.getInt(3), r.getString(4), r.getBoolean(5))).toSeq
          ()
        }
        .outputMode("append").start()
      if (restart) {
        val q1 = startQ()
        try { mem.addData(parts(0)); q1.processAllAvailable() } finally q1.stop()
        val q2 = startQ()
        try { mem.addData(parts(1)); q2.processAllAvailable() } finally q2.stop()
      } else {
        val q = startQ()
        try {
          parts.foreach { p => mem.addData(p); q.processAllAvailable() }
        } finally q.stop()
      }
      got.toSeq.sortBy(_._1).flatMap(_._2)
    }
    val straight  = run(restart = false).sortBy(t => (t._1, t._3))
    val restarted = run(restart = true).sortBy(t => (t._1, t._3))
    assert(restarted === straight,
      "restart from checkpoint mid-history reproduces the uninterrupted transitions")
  }

  test("windowed aggregation with watermark matches batch hourly counts (A2)") {
    val q = StreamPipeline.windowedStats(spark, sf001)
      .writeStream.format("memory").queryName("winstats")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamedTotal = spark.sql("SELECT sum(n) FROM winstats").head.getLong(0)
    assert(streamedTotal === 1000L, "windowed counts cover every event")
    // spot-check one window against the batch computation
    val batch = graft.cdc.Cdc.walEvents(spark, sf001)
      .groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.timestamp_millis(
          org.apache.spark.sql.functions.col("ts_ms")), "1 hour"),
        org.apache.spark.sql.functions.col("op"))
      .count().count()
    assert(spark.sql("SELECT count(*) FROM winstats").head.getLong(0) === batch)
  }

  test("streaming candlestick bars equal the batch bars (one code path)") {
    // the OHLC accumulator is pure groupBy-agg (min/max/sum + order-key
    // min_by/max_by), so the SAME operator runs under a streaming plan;
    // complete mode because day bars revise as ticks arrive
    val q = graft.ops.EventAnalytics.candlestick(StreamPipeline.walStream(spark, sf001))
      .writeStream.format("memory").queryName("candle_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("event_type"), r.getAs[Int]("chunk_day"))
    def bar(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("open_cents"), r.getAs[Long]("close_cents"),
        r.getAs[Long]("high_cents"), r.getAs[Long]("low_cents"),
        r.getAs[Long]("volume"), Option(r.get(r.fieldIndex("vwap_micro"))))
    val streamed = spark.sql("SELECT * FROM candle_stream").collect()
      .map(r => key(r) -> bar(r)).toMap
    val batch = graft.ops.EventAnalytics.candlestick(
        graft.cdc.Cdc.walEvents(spark, sf001)).collect()
      .map(r => key(r) -> bar(r)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming freq_agg summary equals the exact batch counts (mergeable MG state)") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    // the Misra–Gries buffer serializes into the streaming state store
    // between micro-batches and merges by the Mergeable-Summaries rule;
    // in the exact regime (40 keys ≤ capacity 64) the result must be
    // byte-identical to one batch pass, whatever the batch boundaries
    def keyed(df: org.apache.spark.sql.DataFrame) = df.select(
      concat(col("event_type"), lit("#"),
        pmod(col("user_id"), lit(8)).cast("string")).as("k"))
    val q = keyed(StreamPipeline.walStream(spark, sf001))
      .agg(graft.functions.MisraGriesAgg.freq_agg(col("k"), 64).as("fa"))
      .writeStream.format("memory").queryName("freq_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.sql(
      "SELECT fa.items AS items, fa.dec AS dec, fa.n AS n FROM freq_stream").head
    val batch = keyed(graft.cdc.Cdc.walEvents(spark, sf001))
      .agg(graft.functions.MisraGriesAgg.freq_agg(col("k"), 64).as("fa"))
      .select(col("fa.items").as("items"), col("fa.dec").as("dec"),
        col("fa.n").as("n")).head
    assert(streamed === batch)
    assert(streamed.getAs[Long]("dec") === 0L)
    assert(streamed.getSeq[org.apache.spark.sql.Row](0).size === 40)
  }

  test("session_window streaming sessions agree with batch sessionize") {
    val q = StreamPipeline.sessionizedStream(spark, sf001)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.sql(
      "SELECT user_id, n_events, sess_start_ms, sess_end_ms FROM sess_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.cdc.Cdc.sessionize(graft.cdc.Cdc.walEvents(spark, sf001))
      .select("user_id", "n_events", "sess_start_ms", "sess_end_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch, "gap sessions identical between state-store and lag+cumsum paths")
  }

  test("streaming dedup drops replayed keys within the watermark (SQS dedup-id analog)") {
    val q = StreamPipeline.dedupedStream(spark, sf001)
      .writeStream.format("memory").queryName("dedupstream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    assert(spark.sql("SELECT count(*), count(DISTINCT lsn) FROM dedupstream").head ===
      org.apache.spark.sql.Row(1000L, 1000L))
  }

  test("corpus-clean ops compose unchanged in a structured stream") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    // the same narrow codegen columns the batch pipeline_clean_corpus
    // uses, applied to a file stream — no op rewrite for streaming
    val sch = Tables.documents(spark, sf001).schema
    val stream = spark.readStream.schema(sch)
      .option("pathGlobFilter", "documents.parquet").parquet(sf001)
    val cleaned = stream.select(col("doc_id"),
      TextAnalysis.langId("text").as("lang"),
      TextAnalysis.piiRedact(concat(col("text"), lit(" mail a@b.co"))).as("red"))
    val q = cleaned.writeStream.format("memory").queryName("cleanstream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    assert(spark.sql("SELECT count(*) FROM cleanstream WHERE red LIKE '%<EMAIL>%'")
      .head.getLong(0) === 500L)
    val streamed = spark.sql("SELECT lang, count(*) AS c FROM cleanstream GROUP BY lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.documents(spark, sf001)
      .groupBy(TextAnalysis.langId("text").as("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("streaming quality filter delivers kept docs through the real HTTP sink") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    import graft.ops.TextAnalysis
    // end-to-end: file stream → hashed-feature classifier gate →
    // foreachBatch → real executor-side HTTP POSTs, one per kept doc
    val received = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      "\"doc_id\":(\\d+)".r.findFirstMatchIn(body).foreach(m => received.add(m.group(1).toLong))
      ex.sendResponseHeaders(200, 0); ex.getResponseBody.close()
    })
    server.start()
    try {
      val sch = Tables.documents(spark, sf001).schema
      val stream = spark.readStream.schema(sch)
        .option("pathGlobFilter", "documents.parquet").parquet(sf001)
      val kept = stream
        .select(col("doc_id"), TextAnalysis.classifierScoreMilli("text").as("s"))
        .filter(col("s") > 0)
      val sink = graft.sinks.Sinks.withRetry(graft.sinks.HttpSink(
        graft.sinks.HttpSinkConfig(s"http://127.0.0.1:${server.getAddress.getPort}/")))
      val q = kept.writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink.emit(b, id))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("http-ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(240000), "stream did not finish within the timeout")
      val expected = Tables.documents(spark, sf001)
        .select(col("doc_id"), TextAnalysis.classifierScoreMilli("text").as("s"))
        .filter(col("s") > 0).collect().map(_.getLong(0)).toSet
      assert(expected.nonEmpty && expected.size < 500)
      assert(received.asScala.toSet === expected)
    } finally server.stop(0)
  }

  test("streaming vectors encode against a static PQ codebook, equal to the batch codes") {
    import org.apache.spark.sql.functions._
    // continuous-ingest vector indexing: new embeddings stream in and
    // get PQ-encoded against the batch-built (static) quantizer — the
    // same op body, no streaming rewrite
    val emb = Tables.embeddings(spark, sf001)
    val sch = emb.schema
    val stream = spark.readStream.schema(sch)
      .option("pathGlobFilter", "embeddings.parquet").parquet(sf001)
    val codes = graft.ops.Similarity.pqEncodeWith(stream.drop("label"), emb)
    val q = codes.writeStream.format("memory").queryName("pqstream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.sql("SELECT * FROM pqstream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Similarity.pqCodes(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("stream-static anti-join: incremental exact dedup against a static history") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the streaming form of incremental dedup: arriving docs are
    // anti-joined against the (static, broadcastable) historical hash
    // set — Spark supports stream-static joins natively, no foreachBatch
    val docs = Tables.documents(spark, sf001)
    val history = docs.filter(length(col("source")) === 4)
      .select(md5(col("text")).as("text_hash")).distinct()
    val sch = docs.schema
    val stream = spark.readStream.schema(sch)
      .option("pathGlobFilter", "documents.parquet").parquet(sf001)
      .filter(length(col("source")) === 5)
      .withColumn("text_hash", md5(col("text")))
      .join(history, Seq("text_hash"), "left_anti")
    val q = stream.writeStream.format("memory").queryName("incdedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.table("incdedup").select("doc_id")
      .as[Long].collect().sorted
    val batch = docs.filter(length(col("source")) === 5)
      .join(history.withColumnRenamed("text_hash", "h"),
        md5(col("text")) === col("h"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("bloomPrune runs unchanged on a STREAMING batch side, equal to the batch result") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the op's only eager actions touch the static history (bloom build);
    // the batch side is filter + stream-static left-anti + union — all
    // streaming-legal, so continuous-ingest dedup is the same code path
    val docs = Tables.documents(spark, sf001)
    val history = docs.filter(length(col("source")) === 4)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf001)
      .filter(length(col("source")) === 5)
    val pruned = graft.ops.Dedup.bloomPrune(stream, history)
    val q = pruned.writeStream.format("memory").queryName("bloomdedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.table("bloomdedup").select("doc_id")
      .as[Long].collect().sorted
    val batch = graft.ops.Dedup.bloomPrune(
        docs.filter(length(col("source")) === 5), history)
      .select("doc_id").as[Long].collect().sorted
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("semanticPruneIncremental runs on a STREAMING batch side, equal to batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val history = emb.filter(col("vec_id") < 350)
    val stream = spark.readStream.schema(emb.schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(sf001)
      .filter(col("vec_id") >= 350)
    val pruned = graft.ops.Dedup.semanticPruneIncremental(stream, history,
      nClusters = 8, threshold = 0.4)
    val q = pruned.writeStream.format("memory").queryName("semdedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.table("semdedup").select("vec_id").as[Long].collect().sorted
    val batch = graft.ops.Dedup.semanticPruneIncremental(
        emb.filter(col("vec_id") >= 350), history, nClusters = 8, threshold = 0.4)
      .select("vec_id").as[Long].collect().sorted
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("text stream → hash embedding → incremental semantic prune composes end-to-end") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the model-free pipeline: raw text streams in, gets a feature-hash
    // embedding (stateless narrow projection — streaming-legal by
    // construction), and is semantically pruned against a static
    // history embedded THE SAME WAY; stream must equal batch
    val docs = Tables.documents(spark, sf001)
    val history = graft.ops.TextAnalysis.hashEmbedding(
      docs.filter(col("doc_id") < 250))
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf001)
      .filter(col("doc_id") >= 250)
    val pruned = graft.ops.Dedup.semanticPruneIncremental(
      graft.ops.TextAnalysis.hashEmbedding(stream), history,
      nClusters = 8, threshold = 0.95)
    val q = pruned.writeStream.format("memory").queryName("hashsem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.table("hashsem").select("vec_id").as[Long].collect().sorted
    val batch = graft.ops.Dedup.semanticPruneIncremental(
        graft.ops.TextAnalysis.hashEmbedding(docs.filter(col("doc_id") >= 250)),
        history, nClusters = 8, threshold = 0.95)
      .select("vec_id").as[Long].collect().sorted
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("streaming BPE encode with a pre-fitted vocabulary equals the batch encode") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // tokenizer trained OFFLINE (multi-pass batch fit), applied at
    // ingest as a pure per-row projection — no join, no shuffle, no
    // state, so it is legal in any streaming output mode
    val docs = Tables.documents(spark, sf001)
    val (fitted, symIds) = graft.ops.TextAnalysis.bpeArtifacts(docs, nMerges = 6)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf001)
    val q = graft.ops.TextAnalysis.bpeEncodeWith(stream, fitted, symIds)
      .writeStream.format("memory").queryName("bpestream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.table("bpestream")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = graft.ops.TextAnalysis.bpeEncode(docs, nMerges = 6)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch, "per-row literal-map encode must equal the broadcast-join batch path")
    // vocabulary cap fails loudly, never silently ships a huge plan
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.bpeEncodeWith(stream, fitted, symIds,
        maxVocabEntries = 1)
    }
  }

  test("streaming URL dedup at ingest: canonical keys match the batch keeper set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // urlNormalize is a pure projection (streaming-legal anywhere);
    // composing it with dropDuplicates gives at-ingest URL dedup with
    // bounded state — the streaming twin of Web.urlDedup's groupBy
    val docs = Tables.documents(spark, sf001)
    val mkUrl = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("http://")),
      lit("site"), expr("doc_id div 2"), lit(".com"),
      when(col("doc_id") % 2 === 0, lit(":80/x?utm_s=1")).otherwise(lit("/x")))
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf001)
    val q = stream
      .select(col("doc_id"), graft.ops.Web.urlNormalize(mkUrl).as("url_norm"))
      .dropDuplicates("url_norm")
      .writeStream.format("memory").queryName("urldedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamedKeys = spark.table("urldedup").select("url_norm")
      .as[String].collect().sorted
    val batchKeys = graft.ops.Web.urlDedup(docs, mkUrl)
      .select("url_norm").as[String].collect().sorted
    assert(streamedKeys.length === batchKeys.length,
      "streaming keeps exactly one row per canonical URL")
    assert(streamedKeys.toSeq === batchKeys.toSeq)
    // the synthesized pairs really did collapse: half as many keys as docs
    assert(streamedKeys.length * 2 === docs.count())
  }

  test("stream-stream interval join within watermark bounds") {
    import org.apache.spark.sql.functions._
    val a = StreamPipeline.walStream(spark, sf001)
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "1 hour")
      .select(col("user_id").as("a_user"), col("lsn").as("a_lsn"),
        col("event_time").as("a_time"))
    val b = StreamPipeline.walStream(spark, sf001)
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "1 hour")
      .select(col("user_id").as("b_user"), col("lsn").as("b_lsn"),
        col("event_time").as("b_time"))
    val joined = a.join(b,
      expr("""a_user = b_user AND b_lsn > a_lsn AND
             |b_time BETWEEN a_time AND a_time + interval 10 minutes""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.sql("SELECT count(*) FROM ssjoin").head.getLong(0)
    // batch reference computation
    val wal = graft.cdc.Cdc.walEvents(spark, sf001)
      .select(col("user_id"), col("lsn"), col("ts_ms"))
    val batch = wal.as("x").join(wal.as("y"),
      col("x.user_id") === col("y.user_id") && col("y.lsn") > col("x.lsn") &&
        col("y.ts_ms").between(col("x.ts_ms"), col("x.ts_ms") + 600000L)).count()
    assert(streamed === batch, s"stream-stream join rows $streamed vs batch $batch")
  }

  test("stats listener accumulates the reference's metric names (A1)") {
    val listener = new graft.streaming.StatsListener
    spark.streams.addListener(listener)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("stats-ckpt").toString
      val sink = new graft.sinks.CollectorSink
      val q = startInto("stats-test", sink, ckpt)
      assert(q.awaitTermination(240000), "stream did not finish within the timeout")
      // listener delivery is async — poll briefly for the final totals
      val deadline = System.nanoTime + 60e9.toLong
      while (listener.counters.getOrElse("total", 0L) < 1000L &&
             System.nanoTime < deadline) Thread.sleep(100)
      assert(listener.counters("total") === 1000L)
      val wal = graft.cdc.Cdc.walEvents(spark, sf001)
      def opCount(op: String) =
        wal.filter(org.apache.spark.sql.functions.col("op") === op).count()
      assert(listener.counters("insert") === opCount("c"))
      assert(listener.counters("updates") === opCount("u"))
      assert(listener.counters("deletes") === opCount("d"))
      assert(listener.counters("emitted.count") === 1000L)
      // Prometheus scrape surface: the reference's /metrics endpoint
      // (stats.go:35-100) with its series names, values live from the
      // listener
      val server = graft.streaming.StatsEndpoint.start(listener, port = 0)
      try {
        val url = new java.net.URI(
          s"http://127.0.0.1:${server.getAddress.getPort}/metrics").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        assert(conn.getHeaderField("Content-Type").startsWith("text/plain"))
        assert(body.contains("# TYPE streamer_replicationchannel_calls_total counter"))
        assert(body.contains(s"streamer_replicationchannel_calls_total 1000"))
        assert(body.contains(s"streamer_replicationchannel_calls_insert ${opCount("c")}"))
        assert(body.contains(s"streamer_replicationchannel_calls_updates ${opCount("u")}"))
        assert(body.contains(s"streamer_replicationchannel_calls_deletes ${opCount("d")}"))
        assert(body.contains("streamer_eventemitter_emitted_count 1000"))
        // runtime gauges (the procstats analog) ride the same scrape
        assert(body.contains("streamer_runtime_heap_used_bytes"))
        assert(body.contains("# TYPE streamer_runtime_gc_count counter"))
        // and can be disabled (stats.runtime.enabled=false parity)
        assert(!graft.streaming.StatsEndpoint.render(listener.counters,
          runtimeStats = false).contains("streamer_runtime_"))
      } finally server.stop(0)
    } finally spark.streams.removeListener(listener)
  }

  test("stats endpoint: a replayed batch reports the spool backlog as pending-segment gauges") {
    // a crash after batch 0 was delivered and before it was committed:
    // the restart replays batch 0 while four more segment files wait,
    // and the scrape shows them until the next batch serves them
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-pending").toString
    val segs = graft.cdc.PgOutput.encodeSegments(Tables.events(spark, sf001), segmentTxns = 10)
    def write(f: org.apache.spark.sql.Column, n: Int): Unit =
      segs.filter(f).repartitionByRange(n, col("segment")).write.mode("append")
        .parquet(s"$dir/segments")
    write(col("segment") < 6, 6)
    val release = new java.util.concurrent.CountDownLatch(1)
    val name = s"pending-${new java.io.File(dir).getName}"
    graft.sinks.Sinks.register(name, () => new graft.sinks.Sink {
      def name = "pending"
      def emit(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
        batch.collect()
        if (batchId == 1) release.await(120, java.util.concurrent.TimeUnit.SECONDS)
      }
    })
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val props = Map(
      "sink.type" -> name,
      "postgresql.pgoutput.path" -> s"$dir/segments",
      "statestorage.type" -> "file",
      "statestorage.file.path" -> s"$dir/ckpt",
      "stats.port" -> port.toString)
    def scrape(): String = {
      val url = new java.net.URI(s"http://127.0.0.1:$port/metrics").toURL
      new String(url.openStream().readAllBytes(), "UTF-8")
    }
    def gauge(body: String, metric: String): Option[Long] = body.linesIterator
      .find(l => l.startsWith(s"graft_$metric{") && l.contains(dir))
      .map(_.split(' ').last.toLong)
    def awaitGauge(metric: String, value: Long): Unit = {
      val deadline = System.nanoTime + 60e9.toLong
      while (gauge(scrape(), metric) != Some(value) && System.nanoTime < deadline) Thread.sleep(50)
      assert(gauge(scrape(), metric) === Some(value), scrape())
    }
    try {
      val first = graft.streaming.ConfigPipeline.start(spark, sf001, props, dir)
      assert(first.awaitTermination(240000), "stream did not finish within the timeout")
      awaitGauge("source_pending_segment_files", 0)
      Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(java.nio.file.Paths.get(dir, "ckpt", "commits", f)))
      write(col("segment") >= 6, 4)
      val waiting = new java.io.File(s"$dir/segments").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).sortBy(_.lastModified).takeRight(4)
      val q = graft.streaming.ConfigPipeline.start(spark, sf001, props, dir)
      try {
        awaitGauge("source_pending_segment_files", 4)
        awaitGauge("source_pending_segment_bytes", waiting.map(_.length).sum)
        assert(q.recentProgress.head.sources(0).metrics.get("pendingFiles") === "4")
      } finally release.countDown()
      assert(q.awaitTermination(240000), "stream did not finish within the timeout")
      awaitGauge("source_pending_segment_files", 0)
      assert(scrape().contains("# TYPE graft_source_pending_segment_files gauge"))
    } finally graft.streaming.StatsEndpoint.stop(port)
  }

  test("stats endpoint: the last batch's duration phases scrape as labelled gauges") {
    import graft.streaming.{StatsEndpoint, StatsListener}
    // a source series renders exactly as it did with one `source` label
    val source = Map(("source_pending_segment_files", Seq("source" -> "Seg[a\"b]")) -> 3L)
    assert(StatsEndpoint.render(Map.empty, runtimeStats = false, source).endsWith(
      "# TYPE graft_source_pending_segment_files gauge\n" +
        "graft_source_pending_segment_files{source=\"Seg[a\\\"b]\"} 3\n"))

    val dir = Files.createTempDirectory("graft-phases").toString
    graft.cdc.PgOutput.encodeSegments(Tables.events(spark, sf001), segmentTxns = 25)
      .write.parquet(s"$dir/segments")
    val listener = new StatsListener
    spark.streams.addListener(listener)
    try {
      val q = graft.cdc.PgOutput.streamDecoded(spark, s"$dir/segments").toDF().writeStream
        .queryName("phases_probe")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => b.collect(): Unit)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(240000), "stream did not finish within the timeout")
      q.exception.foreach(e => throw e)
      val last = q.recentProgress.filter(_.durationMs.containsKey("addBatch")).last.durationMs
      val want = StatsListener.BatchPhases.map { p =>
        assert(last.containsKey(p), s"progress has no $p phase: $last")
        s"""graft_batch_duration_ms{query="phases_probe",phase="$p"} ${last.get(p)}"""
      }
      def scrape() = StatsEndpoint.render(listener.counters, runtimeStats = false, listener.gauges)
      val deadline = System.nanoTime + 60e9.toLong
      while (!want.forall(scrape().linesIterator.contains) && System.nanoTime < deadline)
        Thread.sleep(50)
      val body = scrape()
      assert(body.contains("# TYPE graft_batch_duration_ms gauge\n"), body)
      want.foreach(line => assert(body.linesIterator.contains(line), body))
    } finally spark.streams.removeListener(listener)
  }

  test("stats endpoint: a bound port belongs to ONE session — a second session fails loudly") {
    // grab an ephemeral port, then simulate two sessions contending for
    // it (plain ServerSocket: close() releases the bind synchronously —
    // an unstarted HttpServer's stop() does not)
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()
    graft.streaming.StatsEndpoint.ensure(spark, port)
    // same session re-ensuring is idempotent
    graft.streaming.StatsEndpoint.ensure(spark, port)
    // a DIFFERENT session must not silently scrape the first session's
    // counters off the same port
    val other = spark.newSession()
    val e = intercept[IllegalStateException] {
      graft.streaming.StatsEndpoint.ensure(other, port)
    }
    assert(e.getMessage.contains("different SparkSession"))
    graft.streaming.StatsEndpoint.stop(port)
  }

  test("file-queue sink: transient failures retried, batch-id idempotence, exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("fq-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fq-ckpt").toString
    // first two emit attempts throw — withRetry must absorb them
    val sink = graft.sinks.Sinks.withRetry(new graft.sinks.FileQueueSink(dir, failFirst = 2))
    val q = startInto("fq-test", sink, ckpt)
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val delivered = spark.read.json(s"$dir/batch=*")
    assert(delivered.count() === 1000L)
    assert(delivered.select("lsn").distinct().count() === 1000L, "no duplicate delivery")
    // redelivery of the same batches (fresh checkpoint, same dir) must
    // leave the queue unchanged — batch-id-keyed overwrite idempotence
    val ckpt2 = java.nio.file.Files.createTempDirectory("fq-ckpt2").toString
    val q2 = startInto("fq-test-replay", new graft.sinks.FileQueueSink(dir), ckpt2)
    assert(q2.awaitTermination(240000), "stream did not finish within the timeout")
    assert(spark.read.json(s"$dir/batch=*").count() === 1000L, "replay is idempotent")
  }

  test("restart with same checkpoint emits nothing new (T1 recovery, no dupes)") {
    val sink = new CollectorSink
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    val q1 = startInto("graft-restart-1", sink, ckpt)
    assert(q1.awaitTermination(240000), "stream did not finish within the timeout")
    val afterFirst = sink.rows.size
    assert(afterFirst === 1000)
    // "restart": new query, same checkpoint — the committed offset makes
    // the already-processed file invisible, like resuming from stored LSN
    val q2 = startInto("graft-restart-2", sink, ckpt)
    assert(q2.awaitTermination(240000), "stream did not finish within the timeout")
    assert(sink.rows.size === afterFirst, "no events re-emitted after restart")
  }

  test("streaming SCD2 closed versions equal the batch dimension history") {
    val q = Scd2Assembler.scd2Stream(spark, sf001)
      .writeStream.format("memory").queryName("scd2_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.sql(
        "SELECT user_id, valid_from_lsn, valid_to_lsn FROM scd2_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = graft.cdc.Cdc.scd2History(graft.cdc.Cdc.walEvents(spark, sf001))
      .filter(!org.apache.spark.sql.functions.col("is_current"))
      .select("user_id", "valid_from_lsn", "valid_to_lsn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(streamed.length === batch.length,
      s"closed-version counts: stream ${streamed.length} vs batch ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("SCD2 step: state carries the open version across batches, delete clears it") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import Scd2Assembler.{KeyEv, OpenVersion}
    def st(prev: Option[OpenVersion]) =
      TestGroupState.create[OpenVersion](
        Optional.ofNullable(prev.orNull), GroupStateTimeout.NoTimeout,
        1000L, Optional.empty[Long](), hasTimedOut = false)
    // batch 1: create then update — one closed version, update stays open
    val s1 = st(None)
    val out1 = Scd2Assembler.step(7L, Iterator(
      KeyEv(10L, 7L, "c", Some(1.0), 100L),
      KeyEv(20L, 7L, "u", Some(2.0), 200L)), s1).toSeq
    assert(out1.map(v => (v.valid_from_lsn, v.valid_to_lsn)) === Seq((10L, 20L)))
    assert(s1.exists && s1.get.lsn === 20L)
    // batch 2 (state carried): delete closes the open version and clears
    val s2 = st(Some(s1.get))
    val out2 = Scd2Assembler.step(7L, Iterator(
      KeyEv(30L, 7L, "d", None, 300L)), s2).toSeq
    assert(out2.map(v => (v.valid_from_lsn, v.valid_to_lsn)) === Seq((20L, 30L)))
    assert(!s2.exists, "delete must remove the key's state")
    // out-of-order lsn (at or below the open version) fails loud instead
    // of emitting an inverted interval
    val s3 = st(Some(OpenVersion(20L, "u", Some(2.0), 200L)))
    intercept[IllegalArgumentException] {
      Scd2Assembler.step(7L, Iterator(
        KeyEv(15L, 7L, "u", Some(3.0), 150L)), s3).toSeq
    }
  }

  test("rocksdb state store: the stateful join gives identical results off-heap") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = StreamPipeline.streamStreamAttribution(
          StreamPipeline.walStream(spark, sf001))
        .writeStream.format("memory").queryName("attrib_rocks")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(240000), "stream did not finish within the timeout")
      val streamed = spark.sql(
          "SELECT user_id, purchase_lsn, view_lsn FROM attrib_rocks")
        .collect().map(_.toString).sorted
      val batch = StreamPipeline.streamStreamAttribution(
          graft.cdc.Cdc.walEvents(spark, sf001))
        .select("user_id", "purchase_lsn", "view_lsn")
        .collect().map(_.toString).sorted
      assert(streamed.nonEmpty && streamed.sameElements(batch),
        "native state store must be semantically invisible")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join: streamed attribution equals batch") {
    val q = StreamPipeline.streamStreamAttribution(
        StreamPipeline.walStream(spark, sf001))
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val streamed = spark.sql(
        "SELECT user_id, purchase_lsn, view_lsn FROM attrib")
      .collect().map(_.toString).sorted
    val batch = StreamPipeline.streamStreamAttribution(
        graft.cdc.Cdc.walEvents(spark, sf001))
      .select("user_id", "purchase_lsn", "view_lsn")
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty, "fixture must produce attributed pairs")
    assert(streamed.sameElements(batch),
      "stream-stream join must emit exactly the batch pair set")
  }
}
