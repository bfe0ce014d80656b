package perfbench

import org.apache.spark.sql.functions.col

/** The benchmark's own tests (`run.py --selftest`):
  *  1. the same seed gives byte-identical segments and expected sets, a
  *     different seed gives different ones;
  *  2. the receiver + audit accept a faithful delivery of engine-rendered
  *     envelopes and detect a dropped, duplicated, reordered, corrupted
  *     (truncated, trailing bytes, repeated member) or altered record;
  *  3. the `cdc_live` spool keeps every transaction whole: each row
  *     decodes with its own xid. The same stream through the engine's
  *     `ConfigPipeline.wireTail` is printed beside it (not failed).
  */
object SelfTest {
  private var failures = 0
  private val t0 = System.nanoTime()
  private def expect(cond: Boolean, what: String): Unit = {
    System.err.println(f"[selftest] ${(System.nanoTime() - t0) / 1e9}%6.1fs ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def run(cfg: Cfg): Boolean = {
    val spark = Session.cdc(s"local[${cfg.cpus}]", cfg.cpus, cfg)
    try {
      determinism(spark, cfg)
      audit(spark, cfg)
      spool(spark, cfg)
    } finally spark.stop()
    System.err.println(s"[selftest] ${if (failures == 0) "PASS" else s"$failures FAILED"}")
    failures == 0
  }

  private def sameExpected(a: Gen.Expected, b: Gen.Expected): Boolean =
    a.lsn.sameElements(b.lsn) && a.op.sameElements(b.op) &&
      a.eventId.sameElements(b.eventId) && a.userId.sameElements(b.userId)

  private def determinism(spark: org.apache.spark.sql.SparkSession, cfg: Cfg): Unit = {
    def gen(seed: Long, tag: String, marker: Boolean) = {
      val evs = Gen.events(seed, 4000, 4, i => s""""due_us":${i * 100}""")
      val dir = s"${cfg.work}/selftest-$tag"
      Gen.writeDataDir(spark, dir, evs, markerTxns = marker)
      (evs, Gen.segmentBlobs(spark, dir))
    }
    for (marker <- Seq(false, true)) {
      val (a, segA) = gen(11, s"a-$marker", marker)
      val (b, segB) = gen(11, s"b-$marker", marker)
      val (c, segC) = gen(12, s"c-$marker", marker)
      val ex: Array[Gen.Ev] => Gen.Expected =
        if (marker) Gen.expectedLive else Gen.expectedCatchup
      expect(segA.length > 1 && segA.length == segB.length &&
        segA.indices.forall(i => java.util.Arrays.equals(segA(i), segB(i))),
        s"same seed, byte-identical segments (markers=$marker)")
      expect(sameExpected(ex(a), ex(b)), s"same seed, identical expected set (markers=$marker)")
      expect(!(segA.length == segC.length &&
        segA.indices.forall(i => java.util.Arrays.equals(segA(i), segC(i)))),
        s"different seed, different segments (markers=$marker)")
      expect(!sameExpected(ex(a), ex(c)), s"different seed, different expected set (markers=$marker)")
    }
  }

  /** Send (topic, key, value) records to the receiver in one Produce
    * request each, over one connection. */
  private def produce(port: Int, recs: Seq[(String, Array[Byte], Array[Byte])]): Unit = {
    val s = new java.net.Socket("127.0.0.1", port)
    s.setTcpNoDelay(true)
    try {
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
      val in = new java.io.DataInputStream(s.getInputStream)
      recs.zipWithIndex.foreach { case ((t, k, v), i) =>
        val req = graft.sinks.KafkaWire.produceRequest("selftest", i, 1000,
          Seq(t -> Seq((new String(k, "UTF-8"), new String(v, "UTF-8")))))
        out.writeInt(req.length); out.write(req); out.flush()
        val resp = new Array[Byte](in.readInt()); in.readFully(resp)
        graft.sinks.KafkaWire.checkProduceResponse(resp, i)
      }
    } finally s.close()
  }

  private def audit(spark: org.apache.spark.sql.SparkSession, cfg: Cfg): Unit = {
    val evs = Gen.events(5, 600, 2)
    val dir = s"${cfg.work}/selftest-audit"
    Gen.writeDataDir(spark, dir, evs, markerTxns = false, withSegments = false)
    val exp = Gen.expectedCatchup(evs)
    // engine-rendered envelopes of the batch pipeline, in lsn order
    val props = Map("sink.filters.keep.condition" -> Gen.FilterCondition,
      "topic.prefix" -> "perfbench", "postgresql.snapshot.initial" -> "never")
    val (env, key) = graft.cdc.Cdc.eventsEnvelopeCols("graft")
    val good = graft.streaming.ConfigPipeline.fromProperties(spark, dir, props)
      .filter(col("op") =!= "m")
      .select(col("lsn"), col("topic"), key.as("key"), env.as("envelope"))
      .orderBy("lsn").collect()
      .map(r => (r.getString(1), r.getString(2).getBytes("UTF-8"), r.getString(3).getBytes("UTF-8")))
      .toSeq
    expect(good.length == exp.size, s"engine renders the expected set (${good.length} vs ${exp.size})")

    def deliver(recs: Seq[(String, Array[Byte], Array[Byte])]): Audit = {
      val rcv = new KafkaReceiver(new EnvelopeCheck)
      try {
        produce(rcv.port, recs)
        rcv.awaitRecords(recs.length, 5000)
        rcv.log.synchronized(Audit.run(exp, rcv.log, Catchup.Topic))
      } finally rcv.close()
    }
    val ok = deliver(good)
    expect(ok.failed == 0 && ok.duplicates == 0, s"faithful delivery passes: ${ok.summary}")
    val dropped = deliver(good.patch(100, Nil, 1))
    expect(dropped.missing == 1 && dropped.failed == 1, s"dropped record detected: ${dropped.summary}")
    val dup = deliver(good.patch(100, Seq(good(100)), 0))
    expect(dup.duplicates == 1, s"duplicated record detected: ${dup.summary}")
    val swapped = deliver(good.updated(100, good(101)).updated(101, good(100)))
    expect(swapped.partitionOrderViolations == 1 && swapped.producerOrderViolations == 1,
      s"reordered records detected: ${swapped.summary}")
    val rewound = deliver(good :+ good(100))
    expect(rewound.failed == 0 && rewound.duplicates == 1 && rewound.partitionOrderViolations == 1,
      s"late re-delivery detected: ${rewound.summary}")
    val (t, k, v) = good(50)
    val corrupt = deliver(good.updated(50, (t, k, v.dropRight(2))))
    expect(corrupt.malformed == 1 && corrupt.missing == 1,
      s"truncated envelope detected: ${corrupt.summary}")
    val trailing = deliver(good.updated(50, (t, k, v ++ " {}".getBytes("UTF-8"))))
    expect(trailing.malformed == 1 && trailing.missing == 1,
      s"trailing bytes after an envelope detected: ${trailing.summary}")
    val text = new String(v, "UTF-8")
    val twice = text.replaceFirst("\"ts_ms\":(\\d+)", "\"ts_ms\":$1,\"ts_ms\":$1")
    val repeated = deliver(good.updated(50, (t, k, twice.getBytes("UTF-8"))))
    expect(twice != text && repeated.malformed == 1 && repeated.missing == 1,
      s"repeated JSON member detected: ${repeated.summary}")
    val altered = new String(good(60)._3, "UTF-8").replaceFirst("\"user_id\":(\\d+)", "\"user_id\":999999999")
    val wrong = deliver(good.updated(60, (t, good(60)._2, altered.getBytes("UTF-8"))))
    expect(wrong.wrong == 1 && wrong.failed == 1, s"altered envelope detected: ${wrong.summary}")
    val otherTopic = deliver(good.updated(70, ("elsewhere", good(70)._2, good(70)._3)))
    expect(otherTopic.unexpected == 1, s"record on a foreign topic detected: ${otherTopic.summary}")
  }

  /** Stream the transactions of a small marker backlog from a walsender
    * into `path` through `consume(port)`, then decode the spool: the
    * number of segments, the table rows decoded and those whose xid is
    * not their transaction's. */
  private def spoolThrough(spark: org.apache.spark.sql.SparkSession, relation: Array[Byte],
                           txns: Vector[Array[Array[Byte]]], path: String)
                          (consume: Int => Unit): (Long, Long, Long) = {
    val sender = new WalSender(relation)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => try consume(sender.port) catch { case e: Throwable => failure.set(e) })
    t.setDaemon(true)
    t.start()
    try {
      if (!sender.awaitStreaming(30000)) sys.error(s"no replication session (${sender.failure})")
      sender.sendScheduled(txns, System.nanoTime(), 0L)
      sender.finish()
      t.join(60000)
    } finally { sender.close(); t.join(10000) }
    Option(failure.get).foreach(e => throw e)
    val frames = spark.read.schema(graft.cdc.PgOutput.frameSchema).parquet(path)
    val rows = graft.cdc.PgOutput.decodeSegments(frames).toDF()
      .filter(col("op_wire").isin("I", "U", "D")).select("xid", "event_id").collect()
    (frames.count(), rows.length.toLong,
      rows.count(r => r.getLong(0) != r.getLong(1) / Gen.TxnSize).toLong)
  }

  private def spool(spark: org.apache.spark.sql.SparkSession, cfg: Cfg): Unit = {
    val evs = Gen.events(7, 600, 2)
    val dir = s"${cfg.work}/selftest-spool"
    Gen.writeDataDir(spark, dir, evs, markerTxns = true)
    val (relation, txns) = WalSender.transactions(Gen.segmentBlobs(spark, dir))
    val tableRows = evs.count(_.eventType != "click").toLong
    val frames = 50
    val (segs, rows, lost) = spoolThrough(spark, relation, txns, s"$dir/spool") { port =>
      val client = Spool.connect(port)
      try Spool.run(spark, client, s"$dir/spool", frames) finally client.close()
    }
    expect(segs > 1 && rows == tableRows && lost == 0,
      s"spool keeps transactions whole: $segs segments, $rows of $tableRows rows, $lost without their xid")
    val (eSegs, eRows, eLost) = spoolThrough(spark, relation, txns, s"$dir/engine") { port =>
      graft.streaming.ConfigPipeline.wireTail(spark, Map(
        "postgresql.connection" -> s"postgres://perfbench@127.0.0.1:$port/perfbench",
        "postgresql.pgoutput.path" -> s"$dir/engine",
        "postgresql.replicationslot.name" -> "perfbench",
        "postgresql.publication.name" -> "perfbench",
        "graft.wire.segment.frames" -> frames.toString))
    }
    System.err.println(s"[selftest] info engine tailer at $frames frames a segment: $eSegs segments, " +
      s"$eRows of $tableRows rows, $eLost without their xid")
  }
}
