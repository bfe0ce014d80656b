package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `events.ts` normalization: driver testdata regenerations have shipped
  * the column as TIMESTAMP(NANOS) and as timestamp[us] — every consumer
  * assumes exact Long epoch-NANOS, so `Tables.events` must produce that
  * from ANY flavor (round-5 postmortem: a micros regeneration broke 52
  * queries because the Long assumption was baked into the readers).
  */
class TablesSpec extends SparkSpec {

  test("SparkEntry.entry: the driver's flagship smoke yields envelope rows") {
    // the driver checks rows > 0 on the sf0.001 envelope pipeline —
    // pin the same contract locally so a regression can't first
    // surface in the per-round driver run
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(Seq("lsn", "op", "table_name").forall(df.columns.contains))
  }

  test("events.ts loads as Long epoch-nanos whatever the parquet precision") {
    val df = Tables.events(spark, sf001)
    assert(df.schema("ts").dataType === LongType)
    // 2024-01-01T00:00Z .. 2026-01-01T00:00Z in nanos — catches a
    // micros-read-as-nanos (1000x low) or nanos-scaled-twice (1000x high)
    val r = df.agg(min("ts"), max("ts")).head()
    assert(r.getLong(0) >= 1704067200L * 1000000000L)
    assert(r.getLong(1) < 1767225600L * 1000000000L)
  }

  test("normalizeTsNanos: Long passthrough, timestamp scaled exactly") {
    import spark.implicits._
    val asLong = Seq((1L, 1704067200123456789L)).toDF("event_id", "ts")
    assert(Tables.normalizeTsNanos(asLong).head().getLong(1) === 1704067200123456789L)

    val asTs = Seq((1L, java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1704067200L, 123456000L)))).toDF("event_id", "ts")
    assert(Tables.normalizeTsNanos(asTs).schema("ts").dataType === LongType)
    assert(Tables.normalizeTsNanos(asTs).head().getLong(1) === 1704067200123456000L)
  }

  test("spread: a hive-partitioned table counts as a wide layout (no Exchange)") {
    // no part files directly under the table directory: the row-group
    // census cannot read the layout, so the gate must keep the stock plan
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-partitioned").toString
    (0 until 40).map(i => (i.toLong, i % 4)).toDF("doc_id", "part")
      .write.partitionBy("part").parquet(s"$dir/docs.parquet")
    val df = spark.read.parquet(s"$dir/docs.parquet")
    val plan = Tables.spread(df, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  private def cap = spark.sparkContext.defaultParallelism

  /** `df` written as ONE parquet file (one row group) at `path`. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, path: String): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-single").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val out = new java.io.File(path)
    java.nio.file.Files.copy(part.toPath, out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    out
  }

  private def exchanged(df: org.apache.spark.sql.DataFrame): Boolean =
    Tables.spread(df, col("doc_id")).queryExecution.executedPlan.toString.contains("Exchange")

  test("census: a single file counts its row group, and a narrow table spreads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-census1").toString
    writeSingleFile((0 until 40).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text"),
      s"$dir/docs.parquet")
    val df = Tables.t(spark, dir, "docs")
    assert(Tables.census(df, cap) === 1)
    assert(exchanged(df))
  }

  test("census: a directory with two part files counts 2") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-census2").toString
    (0 until 40).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
      .repartition(2).write.parquet(s"$dir/docs.parquet")
    val df = Tables.t(spark, dir, "docs")
    assert(Tables.census(df, cap) === 2)
    // the sum stops at the cap
    assert(Tables.census(df, 1) === 1)
    assert(df.count() === 40L)
  }

  test("census: a LocalRelation frame counts as wide (no Exchange)") {
    import spark.implicits._
    val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Tables.census(local, cap) === cap)
    assert(!exchanged(local))
  }

  test("catalog: a table rewritten in place is read again (key holds length and mtime)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    val path = s"$dir/docs.parquet"
    val rows = (0 until 20).map(i => (i.toLong, s"d$i"))
    val v1 = writeSingleFile(rows.toDF("doc_id", "text"), path)
    val mtime = v1.lastModified()
    assert(Tables.t(spark, dir, "docs").columns.toSeq === Seq("doc_id", "text"))
    // same path, same mtime, new length: an extra column
    val v2 = writeSingleFile(rows.map { case (i, t) => (i, t, i * 2) }.toDF("doc_id", "text", "b"), path)
    assert(v2.setLastModified(mtime) && v2.lastModified() === mtime)
    assert(Tables.t(spark, dir, "docs").columns.toSeq === Seq("doc_id", "text", "b"))
    val len2 = v2.length()
    // same path, same length, new mtime: the column renamed
    val v3 = writeSingleFile(rows.map { case (i, t) => (i, t, i * 2) }.toDF("doc_id", "text", "c"), path)
    assert(v3.length() === len2, "the rename must keep the file length")
    assert(v3.setLastModified(mtime + 60000L))
    val df = Tables.t(spark, dir, "docs")
    assert(df.columns.toSeq === Seq("doc_id", "text", "c"))
    assert(df.agg(sum("c")).head().getLong(0) === rows.map(_._1 * 2).sum)
  }

  test("catalog: every table's schema equals Spark's own inference") {
    Tables.eventsConf(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach { name =>
      assert(Tables.t(spark, sf001, name).schema ===
        spark.read.parquet(s"$sf001/$name.parquet").schema, name)
    }
  }

  /** Spark jobs `f` submits on this thread. A sentinel job, seen after
    * every earlier job on the ordered listener bus, closes the count. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("construction-probe") => jobs.incrementAndGet()
          case Some("construction-sentinel") => closed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("construction-probe", "construction probe")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("construction-sentinel", "construction probe end")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("construction runs no Spark job once the tables are open, and the wave barrier pins nothing") {
    val names = Seq("q1_pricing_summary", "q3_shipping_priority", "conv_timestamptz_text",
      "cdc_filter_wave2")
    names.foreach(n => SparkEntry.queries(n)(spark, sf001)) // opens the tables
    names.foreach { n =>
      assert(jobsDuring(SparkEntry.queries(n)(spark, sf001)) === 0, n)
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("cdc_filter_wave2")(spark, sf001).write.format("noop").mode("overwrite").save()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("wave filters stay above the spread Exchange, over the parquet scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val h = new AdaptiveSparkPlanHelper {}
    assert(Tables.census(Tables.events(spark, sf001), cap) < cap, "the fixture is narrow")
    (2 to 9).map(i => s"cdc_filter_wave$i").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf001)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan
      assert(h.find(plan)(_.isInstanceOf[FilterExec]).isDefined, s"$n: $plan")
      // the spread: the lowest Exchange over the events scan
      val spreads = h.collect(plan) {
        case e: ShuffleExchangeExec if h.find(e.child)(_.isInstanceOf[FileSourceScanExec]).isDefined &&
          h.find(e.child)(_.isInstanceOf[ShuffleExchangeExec]).isEmpty => e
      }
      assert(spreads.map(_.outputPartitioning.numPartitions) === Seq(cap), s"$n: $plan")
      assert(h.find(spreads.head.child)(_.isInstanceOf[FilterExec]).isEmpty,
        s"$n: a Filter below the spread Exchange:\n$plan")
      assert(h.find(plan)(_.isInstanceOf[RDDScanExec]).isEmpty, s"$n: $plan")
    }
  }
}
