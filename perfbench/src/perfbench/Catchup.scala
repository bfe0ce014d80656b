package perfbench

import org.apache.spark.sql.SparkSession

/** `cdc_catchup`: a replicator draining a WAL backlog after downtime.
  *
  * Closed loop: the production entry `ConfigPipeline.startWithControlPlane`
  * (AvailableNow, pgoutput segments, one event filter, Kafka wire sink
  * pointed at the benchmark's loopback broker) drains the backlog; the
  * next drain starts (fresh checkpoint, same backlog) when it finishes,
  * until `--seconds` have passed. Metrics are medians over drains.
  */
object Catchup {
  val BacklogRows = 100000
  val WarmupRows = 40000
  val Local1Rows = 25000
  /** Untimed drains of the backlog after set-up: the first five or so
    * drains of the full backlog run 10-40 % slower than later ones while
    * the JIT is still compiling, and a slow run fits fewer timed drains. */
  val WarmDrains = 4
  val Days = 60
  val Topic = "perfbench.public.events"

  final case class Drain(seconds: Double, eventsPerS: Double, latP50Ms: Double,
                         latP99Ms: Double, flushP99Ms: Double, audit: Audit,
                         receiverCpuS: Double, runId: java.util.UUID, t0: Long, wall0: Long)

  def props(segDir: String, ckpt: String, brokerPort: Int, statsPort: Int): Map[String, String] = Map(
    "postgresql.pgoutput.path" -> segDir,
    "postgresql.snapshot.initial" -> "never",
    "sink.type" -> "kafka",
    "sink.kafka.brokers" -> s"127.0.0.1:$brokerPort",
    "sink.filters.keep.condition" -> Gen.FilterCondition,
    "topic.prefix" -> "perfbench",
    "statestorage.type" -> "file",
    "statestorage.file.path" -> ckpt,
    "stats.enabled" -> "true",
    "stats.port" -> statsPort.toString)

  final class Env(val spark: SparkSession, val receiver: KafkaReceiver, val statsPort: Int) {
    def close(): Unit = {
      receiver.close()
      graft.streaming.StatsEndpoint.stop(statsPort)
      spark.stop()
    }
  }

  private var drains = 0

  def drain(env: Env, cfg: Cfg, dir: String, exp: Gen.Expected): Drain = {
    drains += 1
    env.receiver.reset()
    val p = props(s"$dir/segments", s"${cfg.work}/ckpt-$drains", env.receiver.port, env.statsPort)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (q, _, _) = graft.streaming.ConfigPipeline.startWithControlPlane(
      env.spark, dir, p, s"${cfg.work}/ckpt-default-$drains")
    if (!q.awaitTermination(120000)) { q.stop(); sys.error("catch-up drain did not finish in 120 s") }
    q.exception.foreach(e => throw e)
    val audit = env.receiver.log.synchronized(Audit.run(exp, env.receiver.log, Topic))
    val arrivals = audit.firstArrival.filter(_ >= 0)
    val last = if (arrivals.isEmpty) t0 + 1 else arrivals.max
    val lat = arrivals.map(a => (a - t0) / 1e6)
    // flush lag: an event is durable once the batch that delivered it
    // commits its offsets (the end of that batch's trigger)
    val batchEndsMs = q.recentProgress.toSeq.map { pr =>
      java.time.Instant.parse(pr.timestamp).toEpochMilli - wall0 +
        Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    }.map(_.toDouble).sorted.toArray
    val flush = lat.map { l =>
      batchEndsMs.find(_ >= l).getOrElse(if (batchEndsMs.isEmpty) l else batchEndsMs.last)
    }
    // the arrival times are not kept: a drain's record stays small
    Drain((last - t0) / 1e9, arrivals.length / ((last - t0) / 1e9),
      Stats.pct(lat, 0.5), Stats.pct(lat, 0.99), Stats.pct(flush, 0.99),
      audit.copy(firstArrival = Array.emptyLongArray),
      env.receiver.cpuNanos.get / 1e9, q.runId, t0, wall0)
  }

  /** What the sink must receive from each backlog. The generated rows
    * themselves are not kept. */
  final case class Inputs(exp: Gen.Expected, expWarm: Gen.Expected, expLocal1: Gen.Expected)

  private def generate(cfg: Cfg, dir: String, warmDir: String, local1Dir: String): Inputs = {
    val backlog = Gen.events(cfg.seed, BacklogRows, Days)
    val warm = Gen.events(cfg.seed * 31 + 7, WarmupRows, Days)
    val local1 = backlog.take(Local1Rows)
    val genSpark = Session.cdc(s"local[${cfg.cpus}]", cfg.cpus, cfg)
    // the small warm-up set first: it absorbs the JVM's cold start
    Gen.writeDataDir(genSpark, warmDir, warm, markerTxns = false)
    Gen.writeDataDir(genSpark, dir, backlog, markerTxns = false)
    if (cfg.trace) Gen.writeDataDir(genSpark, local1Dir, local1, markerTxns = false)
    genSpark.stop()
    Inputs(Gen.expectedCatchup(backlog), Gen.expectedCatchup(warm), Gen.expectedCatchup(local1))
  }

  def run(cfg: Cfg): Result = {
    // ---- input generation (not part of set-up) ----
    val tg0 = System.nanoTime()
    val dir = s"${cfg.work}/backlog"
    val warmDir = s"${cfg.work}/warmup"
    val local1Dir = s"${cfg.work}/local1"
    val in = generate(cfg, dir, warmDir, local1Dir)
    val genS = Session.secs(tg0, System.nanoTime())

    val check = new EnvelopeCheck
    var attempted = 0L
    var failed = 0L
    def account(d: Drain): Unit = {
      attempted += d.audit.attempted; failed += d.audit.failed
      System.err.println(f"[perfbench] drain ${d.seconds}%.3f s: ${d.audit.summary}")
    }

    // ---- set-up, three times; the last environment stays up ----
    def setup(): (Env, Double) = {
      val t0 = System.nanoTime()
      val spark = Session.cdc(s"local[${cfg.cpus}]", cfg.cpus, cfg)
      val env = new Env(spark, new KafkaReceiver(check), Session.freePort())
      account(drain(env, cfg, warmDir, in.expWarm))
      (env, Session.secs(t0, System.nanoTime()))
    }
    val setups = scala.collection.mutable.ArrayBuffer[Double]()
    var env: Env = null
    (1 to 3).foreach { i =>
      if (env != null) env.close()
      val (e, s) = setup()
      env = e; setups += s
    }

    (1 to WarmDrains).foreach(_ => account(drain(env, cfg, dir, in.exp)))
    // the retained heap after a fixed amount of work, before timing: each
    // drain leaves about 0.7 MB more on the heap, so at the end of the
    // timed phase the figure would follow how many drains fit in the time.
    // The received records go first; the expected sets (about 3 MB) stay
    // for the audits. A traced run does not report it.
    val heapMb = if (cfg.trace) 0.0 else {
      env.receiver.reset()
      Stats.retainedHeapMb()
    }

    // ---- timed drains ----
    val timed = scala.collection.mutable.ArrayBuffer[Drain]()
    val tEnd = System.nanoTime() + cfg.seconds * 1000000000L
    while (timed.isEmpty || (System.nanoTime() < tEnd && timed.length < 20)) {
      val d = drain(env, cfg, dir, in.exp)
      account(d); timed += d
    }
    def med(f: Drain => Double) = Stats.median(timed.map(f).toSeq)
    val layers = if (!cfg.trace) Nil else traced(cfg, env, dir, in.exp, local1Dir,
      in.expLocal1, med(_.seconds), account)
    env.close()
    val e2e = Seq(
      Metric("events_per_s", med(_.eventsPerS), "events/s"),
      Metric("latency_p50_ms", med(_.latP50Ms), "ms"),
      Metric("latency_p99_ms", med(_.latP99Ms), "ms"),
      Metric("flush_lag_p99_ms", med(_.flushP99Ms), "ms"),
      Metric("retained_heap_mb", heapMb, "MB"),
      Metric("setup_s", Stats.median(setups.toSeq), "s"))
    val info = Seq(
      Metric("input_gen_s", genS, "s"),
      Metric("drains", timed.length.toDouble, "count"),
      Metric("drain_s", med(_.seconds), "s"),
      Metric("backlog_rows", BacklogRows.toDouble, "count"),
      Metric("expected_records", timed.head.audit.attempted.toDouble, "count"),
      Metric("duplicates", timed.map(_.audit.duplicates).sum.toDouble, "count"),
      Metric("partition_order_violations", timed.map(_.audit.partitionOrderViolations).sum.toDouble, "count"),
      Metric("producer_order_violations", timed.map(_.audit.producerOrderViolations).sum.toDouble, "count"),
      Metric("receiver_cpu_s", med(_.receiverCpuS), "s"))
    Result(attempted, failed, e2e, layers, info)
  }

  /** Traced run: listeners and spans on, one traced drain (compared with
    * the untraced drains for the overhead), the batch-form prefixes,
    * table open / SparkEntry construction, and a local[1] drain. */
  private def traced(cfg: Cfg, env0: Env, dir: String, exp: Gen.Expected, local1Dir: String,
                     expLocal1: Gen.Expected, untracedDrainS: Double,
                     account: Drain => Unit): Seq[Metric] = {
    val spans = new Spans(true)
    val trace = s"cdc_catchup-${cfg.seed}"
    val spark = env0.spark
    val exec = new ExecListener
    val progress = new ProgressListener
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(progress)
    val gc0 = Stats.gcMillis
    val d = spans(trace, "drain")(drain(env0, cfg, dir, exp))
    account(d)
    val gcDriver = Stats.gcMillis - gc0
    val ps = progress.of(d.runId)
    Layers.batchSpans(spans, trace, ps, d.wall0, d.t0, spans.lastId("drain"))
    val sinkM = Seq(
      Metric("sinks.records", env0.receiver.size.toDouble, "count"),
      Metric("sinks.bytes", env0.receiver.bytes.get.toDouble, "bytes"),
      Metric("sinks.requests", env0.receiver.requests.get.toDouble, "count"),
      Metric("sinks.retries", d.audit.duplicates.toDouble, "count"))
    val execM = Layers.exec(exec, d.runId.toString)
    val streamM = Layers.streaming(ps)
    val pinsM = Layers.pins(spark)
    val p = props(s"$dir/segments", s"${cfg.work}/ckpt-prefix", env0.receiver.port, env0.statsPort)
    val prefixM = spans(trace, "prefixes")(
      Layers.prefixes(spark, exec, spans, trace, dir, s"$dir/segments", p))
    env0.receiver.reset()
    val entryM = Layers.entry(spark, exec, spans, trace, local1Dir)
    spark.streams.removeListener(progress)
    spark.sparkContext.removeSparkListener(exec)
    // single-threaded baseline on a quarter of the backlog
    val l1 = {
      env0.close()
      val e = new Env(Session.cdc("local[1]", 1, cfg), new KafkaReceiver(new EnvelopeCheck),
        Session.freePort())
      try spans(trace, "local1.drain")(drain(e, cfg, local1Dir, expLocal1))
      finally e.close()
    }
    account(l1)
    spans.write(java.nio.file.Paths.get(cfg.out, s"$trace.spans.jsonl"), d.t0)
    SelfTimes.report(spans)
    // the catch-up backlog is already spooled: the socket tailer does no work
    val sources = Seq(Metric("sources.frames", 0.0, "count"), Metric("sources.bytes", 0.0, "bytes"),
      Metric("sources.segments", 0.0, "count"), Metric("sources.acks", 0.0, "count"),
      Metric("sources.flush_lag_p50_ms", 0.0, "ms"))
    sources ++ prefixM ++ sinkM ++ streamM ++ execM ++ entryM ++ pinsM ++ Seq(
      Metric("jvm.gc_driver_ms", gcDriver.toDouble, "ms"),
      Metric("baseline.local1_events_per_s", l1.eventsPerS, "events/s"),
      Metric("trace.overhead_s", d.seconds - untracedDrainS, "s"),
      Metric("trace.spans", spans.all.length.toDouble, "count"))
  }
}
