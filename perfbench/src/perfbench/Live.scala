package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `cdc_live`: a steady replication feed.
  *
  * Open loop at one fixed rate: the benchmark's walsender sends
  * transactions on schedule (a seventh of them decompression-marker
  * transactions), one thread reads them with the engine's replication
  * client into a segment spool of whole transactions ([[Spool]]), and a
  * continuously triggered query composed from the public stages
  * (`StreamPipeline.envelopeStream` with marker suppression →
  * `Cdc.eventsEnvelopeCols` → `Sinks.fromConfig(kafka)`) delivers to the
  * loopback broker. Latency is receiver arrival minus the transaction's
  * due time.
  */
object Live {
  /** A micro-batch delivers one spooled segment (1024 frames, about 1.6 s
    * of traffic at this rate) in about 0.5 s, so the engine has headroom
    * on a shared host. At 1000 events/s, runs that lost a quarter of the
    * CPU to other tenants doubled their latency. */
  val RateEventsPerS = 500
  /** Long enough for the spool to fill and rotate its first segment. */
  val WarmupSeconds = 2
  /** `graft.wire.segment.frames`' default. */
  val FramesPerSegment = 1024
  val Days = 3
  val Topic = "graft.public.events"
  val TxnPeriodNs: Long = 1000000000L * Gen.TxnSize / RateEventsPerS

  final class Env(val spark: SparkSession, val receiver: KafkaReceiver, val sender: WalSender,
                  val tailer: Thread, val query: StreamingQuery, val spool: String,
                  val tailFailure: java.util.concurrent.atomic.AtomicReference[Throwable]) {
    /** End the stream and wait until `expectedRecords` arrived. */
    def drainAndStop(expectedRecords: Int): Unit = {
      sender.finish()
      tailer.join(60000)
      receiver.awaitRecords(expectedRecords, 30000)
      query.stop()
    }
    def close(): Unit = {
      if (query.isActive) query.stop()
      sender.close(); tailer.join(10000); receiver.close(); spark.stop()
    }
  }

  def props(brokerPort: Int, spool: String): Map[String, String] = Map(
    "postgresql.pgoutput.path" -> spool,
    "postgresql.snapshot.initial" -> "never",
    "topic.prefix" -> "graft",
    "sink.type" -> "kafka",
    "sink.kafka.brokers" -> s"127.0.0.1:$brokerPort")

  def start(cfg: Cfg, tag: String, dataDir: String, relation: Array[Byte],
            check: EnvelopeCheck): Env = {
    val spark = Session.cdc(s"local[${cfg.cpus}]", cfg.cpus, cfg)
    val receiver = new KafkaReceiver(check)
    val sender = new WalSender(relation)
    val spool = s"${cfg.work}/live-$tag/spool"
    new java.io.File(spool).mkdirs()
    val p = props(receiver.port, spool)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val tailer = new Thread(() =>
      try {
        val client = Spool.connect(sender.port)
        try Spool.run(spark, client, spool, FramesPerSegment) finally client.close()
      } catch { case e: Throwable => failure.set(e) }, "perfbench-spool")
    tailer.setDaemon(true)
    tailer.start()
    val ops = graft.streaming.ConfigPipeline.effectiveOps(p)
    val (env, key) = graft.cdc.Cdc.eventsEnvelopeCols("graft")
    val sink = graft.sinks.Sinks.fromConfig(p)
    val query = graft.streaming.StreamPipeline
      .envelopeStream(spark, dataDir, ops, pgoutputPath = Some(spool), markerSuppress = true)
      .select(col("topic"), key.as("key"), env.as("envelope"))
      .writeStream
      .queryName(s"perfbench-live-$tag")
      .option("checkpointLocation", s"${cfg.work}/live-$tag/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch((b: DataFrame, id: Long) => sink.emit(b, id))
      .start()
    if (!sender.awaitStreaming(30000))
      sys.error(s"walsender: no replication session (${sender.failure})")
    new Env(spark, receiver, sender, tailer, query, spool, failure)
  }

  /** The walsender's input and what the sink must receive. The generated
    * rows themselves are not kept. */
  final case class Inputs(relation: Array[Byte], txns: Vector[Array[Array[Byte]]],
                          expWarm: Gen.Expected, expAll: Gen.Expected)

  private def generate(cfg: Cfg, dataDir: String, warmTxns: Int, timedTxns: Int): Inputs = {
    val n = (warmTxns + timedTxns) * Gen.TxnSize
    // each event carries its transaction's due time (µs after its phase starts)
    def dueUs(eventId: Long): Long = {
      val txn = eventId / Gen.TxnSize
      (if (txn < warmTxns) txn else txn - warmTxns) * TxnPeriodNs / 1000
    }
    val evs = Gen.events(cfg.seed, n, Days, i => s""""due_us":${dueUs(i)}""")
    val genSpark = Session.cdc(s"local[${cfg.cpus}]", cfg.cpus, cfg)
    Gen.writeDataDir(genSpark, dataDir, evs, markerTxns = true)
    val (relation, txns) = WalSender.transactions(Gen.segmentBlobs(genSpark, dataDir))
    genSpark.stop()
    require(txns.length == warmTxns + timedTxns, s"${txns.length} transactions generated")
    Inputs(relation, txns, Gen.expectedLive(evs.take(warmTxns * Gen.TxnSize)), Gen.expectedLive(evs))
  }

  def run(cfg: Cfg): Result = {
    // ---- input generation (not part of set-up) ----
    val tg0 = System.nanoTime()
    val warmTxns = RateEventsPerS * WarmupSeconds / Gen.TxnSize
    val timedTxns = RateEventsPerS * cfg.seconds / Gen.TxnSize
    val dataDir = s"${cfg.work}/live-data"
    var in = generate(cfg, dataDir, warmTxns, timedTxns)
    val genS = Session.secs(tg0, System.nanoTime())

    val check = new EnvelopeCheck
    var attempted = 0L
    var failed = 0L
    def account(a: Audit, what: String): Unit = {
      attempted += a.attempted; failed += a.failed
      System.err.println(s"[perfbench] $what: ${a.summary}")
    }

    // ---- set-up, three times; the last environment stays up ----
    val setups = scala.collection.mutable.ArrayBuffer[Double]()
    var env: Env = null
    (1 to 3).foreach { i =>
      if (env != null) {
        env.drainAndStop(in.expWarm.size)
        account(env.receiver.log.synchronized(Audit.run(in.expWarm, env.receiver.log, Topic)), s"setup $i warm-up")
        env.close()
      }
      val t0 = System.nanoTime()
      env = start(cfg, s"s$i", dataDir, in.relation, check)
      env.sender.sendScheduled(in.txns.take(warmTxns), System.nanoTime(), TxnPeriodNs)
      // the spool commits a segment only once it holds its frame quota,
      // so the warm-up tail stays spooled: wait for the first half
      if (!env.receiver.awaitRecords(in.expWarm.size / 2, 60000)) sys.error("warm-up records did not arrive")
      setups += Session.secs(t0, System.nanoTime())
    }

    val (e2e, info, layers) = timed(cfg, env, in, warmTxns, dataDir, account(_, "timed"))
    // the retained heap is the engine's: the generated inputs and the
    // received records go first (a traced run does not report it)
    val heapMb = if (cfg.trace) 0.0 else {
      in = null
      env.receiver.reset()
      Stats.retainedHeapMb()
    }
    env.close()
    Result(attempted, failed,
      e2e ++ Seq(Metric("retained_heap_mb", heapMb, "MB"), Metric("setup_s", Stats.median(setups.toSeq), "s")),
      layers, Metric("input_gen_s", genS, "s") +: info)
  }

  /** The timed phase: the open-loop schedule, its audit, latency and flush
    * lag, and in a traced run the per-layer metrics. */
  private def timed(cfg: Cfg, env: Env, in: Inputs, warmTxns: Int, dataDir: String,
                    account: Audit => Unit): (Seq[Metric], Seq[Metric], Seq[Metric]) = {
    val timedPart = in.txns.drop(warmTxns)
    val expAll = in.expAll
    val half = timedPart.length / 2
    var exec: ExecListener = null
    var progress: ProgressListener = null
    val spans = new Spans(cfg.trace)
    val trace = s"cdc_live-${cfg.seed}"
    var gc0 = Stats.gcMillis
    val origin = System.nanoTime()
    val sent = if (!cfg.trace) env.sender.sendScheduled(timedPart, origin, TxnPeriodNs)
    else {
      // first half untraced, second half with listeners and spans on
      val a = env.sender.sendScheduled(timedPart.take(half), origin, TxnPeriodNs)
      gc0 = Stats.gcMillis
      exec = new ExecListener; progress = new ProgressListener
      env.spark.sparkContext.addSparkListener(exec)
      env.spark.streams.addListener(progress)
      val b = spans(trace, "send.traced_half")(
        env.sender.sendScheduled(timedPart.drop(half), origin + half * TxnPeriodNs, TxnPeriodNs))
      a ++ b
    }
    env.drainAndStop(expAll.size)
    val gcDriver = Stats.gcMillis - gc0
    Option(env.tailFailure.get).foreach(e => throw e)
    env.query.exception.foreach(e => throw e)
    val audit = env.receiver.log.synchronized(Audit.run(expAll, env.receiver.log, Topic))
    account(audit)

    // latency of timed events, flush lag of timed transactions, each
    // percentile over the whole timed phase
    val due = (j: Int) => origin + j.toLong * TxnPeriodNs
    val timedIdx = expAll.lsn.indices.filter(i => expAll.eventId(i) / Gen.TxnSize >= warmTxns)
    val txnOf = (i: Int) => (expAll.eventId(i) / Gen.TxnSize - warmTxns).toInt
    def latMs(idx: Seq[Int]): Array[Double] = idx.filter(audit.firstArrival(_) >= 0).map { i =>
      (audit.firstArrival(i) - due(txnOf(i))) / 1e6
    }.toArray
    val lat = latMs(timedIdx)
    val acks = env.sender.acks.toArray(Array.empty[(Long, Long)])
    val flushMs = timedPart.indices.flatMap { j =>
      val end = WalSender.commitEnd(timedPart(j))
      acks.find(_._2 >= end).map(a => (a._1 - due(j)) / 1e6)
    }.toArray
    val unacked = timedPart.length - flushMs.length
    val lastArrival = timedIdx.map(audit.firstArrival(_)).max
    val lateMs = sent.indices.map(j => (sent(j) - due(j)) / 1e6).toArray
    val e2e = Seq(
      Metric("events_per_s", lat.length / ((lastArrival - origin) / 1e9), "events/s"),
      Metric("latency_p50_ms", Stats.pct(lat, 0.5), "ms"),
      Metric("latency_p99_ms", Stats.pct(lat, 0.99), "ms"),
      Metric("flush_lag_p99_ms", Stats.pct(flushMs, 0.99), "ms"))
    val info = Seq(
      Metric("rate_events_per_s", RateEventsPerS.toDouble, "events/s"),
      Metric("timed_transactions", timedPart.length.toDouble, "count"),
      Metric("unacked_transactions", unacked.toDouble, "count"),
      Metric("sender_late_p99_ms", Stats.pct(lateMs, 0.99), "ms"),
      Metric("sender_late_max_ms", if (lateMs.isEmpty) 0.0 else lateMs.max, "ms"),
      Metric("duplicates", audit.duplicates.toDouble, "count"),
      Metric("partition_order_violations", audit.partitionOrderViolations.toDouble, "count"),
      Metric("producer_order_violations", audit.producerOrderViolations.toDouble, "count"),
      Metric("receiver_cpu_s", env.receiver.cpuNanos.get / 1e9, "s"))

    val layers = if (!cfg.trace) Nil else {
      val ps = progress.of(env.query.runId)
      Layers.batchSpans(spans, trace, ps,
        System.currentTimeMillis() - (System.nanoTime() - origin) / 1000000L, origin, parent = 0)
      val (firstHalf, secondHalf) = timedIdx.partition(txnOf(_) < half)
      val segments = Option(new java.io.File(env.spool).listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val sourcesM = Seq(
        Metric("sources.frames", env.sender.framesSent.get.toDouble, "count"),
        Metric("sources.bytes", env.sender.bytesSent.get.toDouble, "bytes"),
        Metric("sources.segments", segments.toDouble, "count"),
        Metric("sources.acks", acks.length.toDouble, "count"),
        Metric("sources.flush_lag_p50_ms", Stats.pct(flushMs, 0.5), "ms"))
      val sinkM = Seq(
        Metric("sinks.records", env.receiver.size.toDouble, "count"),
        Metric("sinks.bytes", env.receiver.bytes.get.toDouble, "bytes"),
        Metric("sinks.requests", env.receiver.requests.get.toDouble, "count"),
        Metric("sinks.retries", audit.duplicates.toDouble, "count"))
      val execM = Layers.exec(exec, env.query.runId.toString)
      val streamM = Layers.streaming(ps)
      val pinsM = Layers.pins(env.spark)
      val p = props(env.receiver.port, env.spool)
      val prefixM = spans(trace, "prefixes")(
        Layers.prefixes(env.spark, exec, spans, trace, dataDir, env.spool, p))
      val entryM = Layers.entry(env.spark, exec, spans, trace, dataDir)
      env.spark.streams.removeListener(progress)
      env.spark.sparkContext.removeSparkListener(exec)
      spans.write(java.nio.file.Paths.get(cfg.out, s"$trace.spans.jsonl"), origin)
      SelfTimes.report(spans)
      sourcesM ++ prefixM ++ sinkM ++ streamM ++ execM ++ entryM ++ pinsM ++ Seq(
        Metric("jvm.gc_driver_ms", gcDriver.toDouble, "ms"),
        Metric("baseline.local1_events_per_s", 0.0, "events/s"),
        Metric("trace.overhead_s",
          (Stats.pct(latMs(secondHalf), 0.99) - Stats.pct(latMs(firstHalf), 0.99)) / 1000.0, "s"),
        Metric("trace.spans", spans.all.length.toDouble, "count"))
    }
    (e2e, info, layers)
  }
}
