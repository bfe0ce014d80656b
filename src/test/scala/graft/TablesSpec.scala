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
    val plan = Tables.spread(spark, dir, "docs", df, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("WalRangeReader ts_ms agrees with the batch path on real testdata") {
    // the DSv2 range reader derives its int64→nanos multiplier from the
    // parquet logical type; batch path goes through Tables.events — the
    // two must agree on epoch millis for identical lsns
    val q = spark.readStream.format("graft.sources.WalDataSource")
      .option("path", sf001).load()
      .writeStream.format("memory").queryName("ts_parity")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(240000), "stream did not finish within the timeout")
    val viaSource = spark.table("ts_parity")
      .select("lsn", "ts_ms").orderBy("lsn").limit(20).collect()
    val viaBatch = graft.cdc.Cdc.walEvents(spark, sf001)
      .select("lsn", "ts_ms").orderBy("lsn").limit(20).collect()
    assert(viaSource.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      viaBatch.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }
}
