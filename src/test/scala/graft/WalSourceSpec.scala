package graft

import org.apache.spark.sql.streaming.Trigger

/** The custom DataSourceV2 WAL source: LSN offsets, windowed
  * micro-batches, restart recovery. */
class WalSourceSpec extends SparkSpec {

  private def readWal = spark.readStream
    .format("graft.sources.WalDataSource")
    .option("path", sf001)
    .option("batchSize", "300")
    .load()

  test("LSN-windowed micro-batches deliver the full WAL exactly once") {
    val q = readWal.writeStream.format("memory").queryName("wal_src")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not finish within 300 s")
    val lsns = spark.sql("SELECT lsn FROM wal_src ORDER BY lsn")
      .collect().map(_.getLong(0))
    assert(lsns.length === 1000)
    assert(lsns.head === 0L && lsns.last === 999L)
    assert(lsns.distinct.length === 1000, "no duplicates across batch windows")
  }

  test("restart from checkpoint resumes at committed LSN (T1)") {
    val ckpt = java.nio.file.Files.createTempDirectory("wal-src-ckpt").toString
    val sink = new graft.sinks.CollectorSink
    def run(): Unit = {
      val q = readWal.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink.emit(b, id))
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(300000), "stream did not finish within 300 s")
    }
    run()
    assert(sink.rows.size === 1000)
    // second run, same checkpoint: offset log says lsn=1000 → nothing new
    run()
    assert(sink.rows.size === 1000, "no re-emission after restart")
  }

  test("range readers decode identically to the batch WAL path") {
    val q = readWal.writeStream.format("memory").queryName("wal_decode")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not finish within 300 s")
    val streamed = spark.sql(
      "SELECT lsn, xid, op, ts_ms, event_id, user_id, value, props FROM wal_decode ORDER BY lsn")
      .collect()
    val batch = graft.cdc.Cdc.walEvents(spark, sf001)
      .selectExpr("lsn", "xid", "op", "ts_ms", "event_id", "user_id", "value", "props")
      .orderBy("lsn").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("continuous stream tails WAL growth without restart") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("wal-tail").toString
    def writeWal(n: Long): Unit = {
      // deterministic generator: an append-only WAL — a second write with
      // larger n is a superset of the first
      val df = spark.range(0, n).select(
        col("id").as("event_id"), (col("id") * 1000000000L).as("ts"),
        lit("view").as("event_type"), (col("id") % 50).as("user_id"),
        (col("id") * lit(1.0)).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(10)), lit("}")).as("props"))
      val tmp = java.nio.file.Files.createTempDirectory("wal-tail-stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, "events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def countRows(): Long =
      spark.sql("SELECT count(*) FROM wal_tail").head.getLong(0)
    def awaitCount(want: Long): Unit = {
      // generous bound: under the FULL parallel suite the micro-batch
      // scheduler can starve for minutes (observed >120 s); this waits
      // on progress, the assert below is the real check
      val deadline = System.nanoTime() + 300e9.toLong
      while (countRows() < want && System.nanoTime() < deadline) Thread.sleep(200)
      assert(countRows() === want)
    }
    writeWal(300)
    val q = spark.readStream.format("graft.sources.WalDataSource")
      .option("path", dir).option("batchSize", "100").load()
      .writeStream.format("memory").queryName("wal_tail")
      .trigger(Trigger.ProcessingTime(200)).start()
    try {
      awaitCount(300)
      // WAL grows mid-stream: latestOffset re-reads the footer and the
      // stream advances past the old high-watermark without a restart
      writeWal(500)
      awaitCount(500)
      val lsns = spark.sql("SELECT lsn FROM wal_tail").collect().map(_.getLong(0))
      assert(lsns.distinct.length === 500, "tail delivery stays exactly-once")
      assert(lsns.min === 0L && lsns.max === 499L)
    } finally q.stop()
  }

  /** Run `read` against a WAL directory for 3 s while a writer thread
    * keeps swapping in a 300- and a 500-event version atomically, the
    * way a growing WAL is replaced. */
  private def whileWalSwaps(read: String => Unit): Unit = {
    import java.nio.file.{Files, StandardCopyOption => C}
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("wal-swap")
    val versions = Seq(300L, 500L).map { n =>
      val out = Files.createTempDirectory("wal-swap-v").toString
      spark.range(0, n).select(
          col("id").as("event_id"), (col("id") * 1000000000L).as("ts"),
          (col("id") % 50).as("user_id"), lit("view").as("event_type"),
          (col("id") * lit(1.0)).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    }
    def swapIn(v: java.nio.file.Path): Unit = {
      // a fresh copy gets a fresh mtime, as a rewritten WAL file would
      val staged = Files.copy(v, dir.resolve("staged"), C.REPLACE_EXISTING)
      Files.move(staged, dir.resolve("events.parquet"), C.REPLACE_EXISTING, C.ATOMIC_MOVE)
    }
    swapIn(versions.head)
    @volatile var stop = false
    val writer = new Thread(() => {
      var i = 1
      while (!stop) { swapIn(versions(i % 2)); i += 1; Thread.sleep(2) }
    })
    writer.start()
    try {
      val deadline = System.nanoTime() + 3e9.toLong
      while (System.nanoTime() < deadline) read(dir.toString)
    } finally { stop = true; writer.join() }
  }

  test("high-watermark read survives the WAL being replaced mid-read") {
    // a footer read racing the swap must re-read the new file, never
    // fail the stream
    whileWalSwaps { dir =>
      val hw = new graft.sources.WalMicroBatchStream(dir, 100)
        .reportLatestOffset().asInstanceOf[graft.sources.LsnOffset].lsn
      assert(hw === 300L || hw === 500L)
    }
  }

  test("range reads survive the WAL being replaced between stat and open") {
    // an executor's range reader stats events.parquet and opens it on
    // the first read; a replace in between must not fail the read or
    // serve a torn one
    var reads = 0
    whileWalSwaps { dir =>
      // [100, 300) exists in both versions
      val r = new graft.sources.WalRangeReader(dir, 100L, 300L, spark.sessionState.newHadoopConf())
      val lsns = try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().getLong(0)).toVector
        finally r.close()
      assert(lsns === (100L until 300L).toVector)
      reads += 1
    }
    assert(reads > 10, s"only $reads range reads in 3 s")
  }

  test("restart recovery at sf0.1 with a heap-bounded driver (100k events)") {
    val ckpt = java.nio.file.Files.createTempDirectory("wal-src-ckpt-sf01").toString
    val sink = new graft.sinks.CollectorSink
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.WalDataSource")
        .option("path", "/root/testdata/sf0.1")
        .option("batchSize", "20000")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink.emit(b, id))
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(600000), "stream did not finish within 600 s")
    }
    run()
    assert(sink.rows.size === 100000)
    run()
    assert(sink.rows.size === 100000, "no re-emission after restart")
  }
}
