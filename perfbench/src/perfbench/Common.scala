package perfbench

import org.apache.spark.sql.SparkSession

final case class Cfg(work: String, out: String, cpus: Int, seed: Long, seconds: Int, trace: Boolean)

final case class Metric(name: String, value: Double, unit: String)

/** A workload's outcome: end-to-end metrics (untraced), per-layer
  * metrics (traced run only) and informational lines. */
final case class Result(attempted: Long, failed: Long, e2e: Seq[Metric],
                        layers: Seq[Metric], info: Seq[Metric])

object Session {
  /** The one session definition of the benchmark: `graft.Replicator`'s
    * settings (shuffle partitions = cores, 8 KB codegen method limit,
    * UTC), with the UI off and scratch space inside the run directory. */
  def cdc(master: String, cpus: Int, cfg: Cfg): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    try s.getLocalPort finally s.close()
  }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
}

/** Per-layer metrics shared by both workloads: batch-form prefixes of
  * the CDC pipeline over one segment set, table open, the SparkEntry
  * construction of `cdc_pgoutput_envelope`, JVM state. Each prefix adds
  * one layer; a layer's self time is the difference between successive
  * prefixes (each prefix timed as the fastest of `reps` runs). */
object Layers {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private def timed(spark: SparkSession, exec: ExecListener, group: String)(f: => Unit): Double = {
    spark.sparkContext.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try f finally spark.sparkContext.clearJobGroup()
    val s = (System.nanoTime() - t0) / 1e9
    exec.settle(group)
    s
  }

  /** The wire shaping the streaming source applies (op mapping, chunk day
    * from the tuple timestamp), in batch form over the same decoded rows. */
  private def shaped(decoded: DataFrame): DataFrame =
    decoded.filter(col("op_wire").isin("I", "U", "D"))
      .select(col("lsn"), col("xid"), graft.cdc.Cdc.opExpr(col("event_type")).as("op"),
        col("schema_name"), col("table_name"),
        expr(s"ts div ${graft.cdc.Cdc.NanosPerDay}").minus(lit(graft.cdc.Cdc.EpochDay20240101))
          .cast("int").as("chunk_day"),
        expr("ts div 1000000").as("ts_ms"),
        col("event_id"), col("user_id"), col("value"), col("props"),
        lit(null).cast("string").as("msg_prefix"))

  def prefixes(spark: SparkSession, exec: ExecListener, spans: Spans, trace: String,
               dataDir: String, segPath: String, props: Map[String, String],
               reps: Int = 2): Seq[Metric] = {
    import graft.streaming.ConfigPipeline
    val frames = spark.read.schema(graft.cdc.PgOutput.frameSchema).parquet(segPath)
    def decode: DataFrame = shaped(graft.cdc.PgOutput.decodeSegments(frames).toDF())
    def resolve: DataFrame = decode
      .join(broadcast(graft.cdc.Cdc.chunkCatalog(spark, dataDir)), Seq("chunk_day"))
      .join(broadcast(graft.cdc.Cdc.hypertableCatalog(spark)), Seq("hypertable_id"))
      .select(col("lsn"), col("xid"), col("op"), col("ts_ms"),
        col("ht_schema").as("schema_name"), col("ht_table").as("table_name"),
        col("event_id"), col("user_id"), col("value"), col("props"), col("msg_prefix"))
    def filtered: DataFrame = {
      val gated = resolve.filter(col("op").isin(ConfigPipeline.effectiveOps(props): _*))
        .filter(ConfigPipeline.tablePredicate(ConfigPipeline.hypertableFilter(props),
          concat_ws(".", col("schema_name"), col("table_name"))))
      ConfigPipeline.eventFilters(props).foldLeft(gated)((df, f) => f.apply(df))
        .withColumn("topic", ConfigPipeline.namingStrategy(props)
          .topicName(ConfigPipeline.topicPrefix(props), col("schema_name"), col("table_name")))
    }
    def rendered: DataFrame = {
      val (env, key) = graft.cdc.Cdc.eventsEnvelopeCols("graft")
      filtered.select(col("topic"), key.as("key"), env.as("envelope"))
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val sink = graft.sinks.Sinks.fromConfig(props)
    val stages: Seq[(String, () => Unit)] = Seq(
      "decode" -> (() => noop(decode)),
      "resolve" -> (() => noop(resolve)),
      "filter" -> (() => noop(filtered)),
      "render" -> (() => noop(rendered)),
      "emit" -> (() => sink.emit(rendered, 0L)))
    val times = stages.map { case (name, run) =>
      name -> (1 to reps).map { _ =>
        spans(trace, s"prefix.$name")(timed(spark, exec, s"perfbench.prefix.$name")(run()))
      }.min
    }.toMap
    val rowsDecoded = decode.count()
    val rowsResolved = resolve.count()
    val rowsIn = resolve.filter(col("op").isin(ConfigPipeline.effectiveOps(props): _*)).count()
    val rowsOut = filtered.count()
    val envBytes = rendered.agg(sum(length(col("envelope")) + length(col("key")))).head().getLong(0)
    // Catalyst phases of the full rendered plan
    val qe = rendered.queryExecution
    qe.executedPlan
    val phases = qe.tracker.phases
    def phase(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    // a later prefix can run faster than an earlier one (the filter is
    // pushed below the joins), so a self time may be negative
    val d = (a: String, b: String) => times(a) - times(b)
    Seq(
      Metric("pgoutput.decode_s", times("decode"), "s"),
      Metric("pgoutput.rows", rowsDecoded.toDouble, "count"),
      Metric("cdc.resolve_s", d("resolve", "decode"), "s"),
      Metric("cdc.unresolved_rows", (rowsDecoded - rowsResolved).toDouble, "count"),
      Metric("filter.s", d("filter", "resolve"), "s"),
      Metric("filter.rows_in", rowsIn.toDouble, "count"),
      Metric("filter.rows_out", rowsOut.toDouble, "count"),
      Metric("model.render_s", d("render", "filter"), "s"),
      Metric("model.envelope_bytes", envBytes.toDouble, "bytes"),
      Metric("sinks.emit_s", d("emit", "render"), "s"),
      Metric("catalyst.analysis_ms", phase("analysis"), "ms"),
      Metric("catalyst.optimization_ms", phase("optimization"), "ms"),
      Metric("catalyst.planning_ms", phase("planning"), "ms"))
  }

  /** Table open (schema inference) and SparkEntry construction + action
    * of `cdc_pgoutput_envelope` over the workload's data dir. */
  def entry(spark: SparkSession, exec: ExecListener, spans: Spans, trace: String,
            dataDir: String): Seq[Metric] = {
    val openS = spans(trace, "tables.open")(timed(spark, exec, "perfbench.tables.open") {
      graft.Tables.events(spark, dataDir).schema
    })
    val openJobs = exec.totals("perfbench.tables.open").jobsEnded
    var df: DataFrame = null
    val constructS = spans(trace, "sparkentry.construct")(
      timed(spark, exec, "perfbench.sparkentry.construct") {
        df = graft.SparkEntry.queries("cdc_pgoutput_envelope")(spark, dataDir)
      })
    val constructJobs = exec.totals("perfbench.sparkentry.construct").jobsEnded
    val actionS = spans(trace, "ops.action")(timed(spark, exec, "perfbench.ops.action") {
      df.write.format("noop").mode("overwrite").save()
    })
    Seq(
      Metric("tables.open_ms", openS * 1000, "ms"),
      Metric("tables.open_jobs", openJobs.toDouble, "count"),
      Metric("sparkentry.construct_s", constructS, "s"),
      Metric("sparkentry.construct_jobs", constructJobs.toDouble, "count"),
      Metric("ops.cdc_pgoutput_envelope.construct_s", constructS, "s"),
      Metric("ops.cdc_pgoutput_envelope.construct_jobs", constructJobs.toDouble, "count"),
      Metric("ops.cdc_pgoutput_envelope.action_s", actionS, "s"))
  }

  /** Job/task totals of one job group (a streaming run id, or a
    * benchmark group). */
  def exec(exec: ExecListener, group: String): Seq[Metric] = {
    exec.settle(group)
    val t = exec.totals(group)
    Seq(
      Metric("exec.action_s", t.jobMs / 1000.0, "s"),
      Metric("exec.jobs", t.jobsEnded.toDouble, "count"),
      Metric("exec.tasks", t.tasks.toDouble, "count"),
      Metric("exec.task_s", t.taskMs / 1000.0, "s"),
      Metric("exec.shuffle_read_bytes", t.shuffleRead.toDouble, "bytes"),
      Metric("exec.shuffle_write_bytes", t.shuffleWrite.toDouble, "bytes"),
      Metric("exec.spill_bytes", t.spill.toDouble, "bytes"),
      Metric("jvm.gc_task_ms", t.gcMs.toDouble, "ms"))
  }

  def pins(spark: SparkSession): Seq[Metric] = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Seq(
      Metric("jvm.pinned_rdds", spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
      Metric("jvm.pinned_mb", infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB"))
  }

  /** Streaming progress of one query: batch durations and phases,
    * input rows, and stateful-operator state (MarkerTracker). */
  def streaming(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Seq[Metric] = {
    val real = ps.filter(_.numInputRows > 0)
    def dur(k: String): Array[Double] =
      real.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).toArray
    val st = real.flatMap(_.stateOperators)
    Seq(
      Metric("streaming.batches", real.length.toDouble, "count"),
      Metric("streaming.batch_ms_p50", Stats.pct(dur("triggerExecution"), 0.5), "ms"),
      Metric("streaming.batch_ms_p99", Stats.pct(dur("triggerExecution"), 0.99), "ms"),
      Metric("streaming.planning_ms_p50", Stats.pct(dur("queryPlanning"), 0.5), "ms"),
      Metric("streaming.add_batch_ms_p50", Stats.pct(dur("addBatch"), 0.5), "ms"),
      Metric("streaming.offset_commit_ms_p50", Stats.pct(dur("commitOffsets"), 0.5), "ms"),
      Metric("streaming.input_rows_p50",
        Stats.pct(real.map(_.numInputRows.toDouble).toArray, 0.5), "count"),
      Metric("state.rows", if (st.isEmpty) 0.0 else st.last.numRowsTotal.toDouble, "count"),
      Metric("state.memory_bytes", if (st.isEmpty) 0.0 else st.last.memoryUsedBytes.toDouble, "bytes"),
      Metric("state.commit_ms_p50", Stats.pct(st.map(_.commitTimeMs.toDouble).toArray, 0.5), "ms"))
  }

  /** Batch start/end spans from streaming progress (wall-clock ms mapped
    * onto the nanoTime axis through one (wall, nano) anchor). */
  def batchSpans(spans: Spans, trace: String,
                 ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                 wallAnchorMs: Long, nanoAnchor: Long, parent: Int): Unit =
    ps.foreach { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val s = nanoAnchor + (startMs - wallAnchorMs) * 1000000L
      spans.add(trace, s"stream.batch.${p.batchId}", s, s + dur * 1000000L, parent)
    }
}
