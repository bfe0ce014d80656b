package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Everything a workload feeds the engine comes
  * from here, and so does the set of records the sink must receive: the
  * expected set is derived from the generated rows by the rules below,
  * never by running engine code.
  *
  * Row model (the engine's `events` hypertable and its pgoutput
  * encoding): `signup` is an INSERT, `purchase` an UPDATE, `error` a
  * DELETE, `view` a snapshot read (op 'r', dropped by the default
  * `postgresql.snapshot.initial=never` gate) and `click` a logical
  * message (not a table change). Transactions hold `TxnSize` rows;
  * `xid = event_id / TxnSize`.
  */
object Gen {
  val TxnSize = 10
  val EpochDay20240101 = 19723L
  val MicrosPerDay = 86400000000L
  val Users = 50000
  val ZipfS = 1.1
  /** The one event filter the catch-up config installs; it keeps
    * `value >= 25`, i.e. value cents >= 2500 (drops about a quarter). */
  val FilterCondition = "value.after.value >= 25"
  val FilterKeepCents = 2500

  final case class Ev(eventId: Long, tsMicros: Long, userId: Long,
                      eventType: String, valueCents: Int, props: String)

  /** Expected sink records: (lsn, op) pairs sorted by lsn, with the
    * event id and user id each record must carry. */
  final case class Expected(lsn: Array[Long], op: Array[Byte],
                            eventId: Array[Long], userId: Array[Long]) {
    def size: Int = lsn.length
    def indexOf(l: Long): Int = java.util.Arrays.binarySearch(lsn, l)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private lazy val cdf = zipfCdf(Users, ZipfS)

  private def eventType(u: Double): String =
    if (u < 0.62) "signup" else if (u < 0.82) "purchase"
    else if (u < 0.94) "error" else if (u < 0.97) "view" else "click"

  /** `n` events spread evenly over `days` daily chunks from 2024-01-01.
    * `stamp(eventId)` returns the text placed in `props` (a JSON object). */
  def events(seed: Long, n: Int, days: Int,
             stamp: Long => String = _ => ""): Array[Ev] = {
    val rnd = new java.util.SplittableRandom(seed)
    val perDay = math.max(1L, (n.toLong + days - 1) / days)
    val step = MicrosPerDay / perDay
    Array.tabulate(n) { i =>
      val day = i / perDay
      val ts = (EpochDay20240101 + day) * MicrosPerDay + (i % perDay) * step +
        rnd.nextLong(math.max(1L, step))
      var idx = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      if (idx < 0) idx = -idx - 1
      val et = eventType(rnd.nextDouble())
      val cents = rnd.nextInt(10000)
      val extra = stamp(i.toLong)
      val props = s"""{"k":${rnd.nextInt(100)}${if (extra.isEmpty) "" else "," + extra}}"""
      Ev(i.toLong, ts, math.min(idx, Users - 1) + 1L, et, cents, props)
    }
  }

  private def opOf(et: String): Byte = et match {
    case "signup" => 'c'; case "purchase" => 'u'; case "error" => 'd'
    case "view" => 'r'; case _ => 'm'
  }

  /** Catch-up expectation: DML ops c/u/d (views are gated, messages are
    * not table changes), rows passing the value filter; lsn = event id. */
  def expectedCatchup(evs: Array[Ev]): Expected =
    expected(evs.filter(e => e.valueCents >= FilterKeepCents), markerTxns = false)

  /** Live expectation: decompression-marker transactions
    * (`xid % 7 == 3`) drop their INSERTs; lsn = 2 * event id. */
  def expectedLive(evs: Array[Ev]): Expected = expected(evs, markerTxns = true)

  private def expected(evs: Array[Ev], markerTxns: Boolean): Expected = {
    val kept = evs.filter { e =>
      val op = opOf(e.eventType)
      val dml = op == 'c' || op == 'u' || op == 'd'
      val suppressed = markerTxns && op == 'c' && (e.eventId / TxnSize) % 7 == 3
      dml && !suppressed
    }
    val mult = if (markerTxns) 2L else 1L
    Expected(kept.map(_.eventId * mult), kept.map(e => opOf(e.eventType)),
      kept.map(_.eventId), kept.map(_.userId))
  }

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  def eventsFrame(spark: SparkSession, evs: Array[Ev]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = evs.iterator.map(e => Row(e.eventId, e.tsMicros, e.userId,
      e.eventType, e.valueCents / 100.0, e.props)).toSeq.asJava
    spark.createDataFrame(rows, EventsSchema)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** Write `dir/events.parquet` (what `Cdc.chunkCatalog` reads) and the
    * pgoutput segment blobs under `dir/segments`, one parquet file per
    * segment (`encodeSegments` puts 100 transactions in a segment) like a
    * tailer spool. */
  def writeDataDir(spark: SparkSession, dir: String, evs: Array[Ev],
                   markerTxns: Boolean, withSegments: Boolean = true): Unit = {
    eventsFrame(spark, evs).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    if (withSegments) {
      val segs = graft.cdc.PgOutput.encodeSegments(
        graft.Tables.events(spark, dir), markerTxns = markerTxns)
      val nSeg = (evs.length + TxnSize * 100 - 1) / (TxnSize * 100)
      segs.repartitionByRange(nSeg, col("segment")).write.mode("overwrite")
        .parquet(s"$dir/segments")
    }
  }

  /** Segment blobs of `dir/segments`, ordered by segment number. */
  def segmentBlobs(spark: SparkSession, dir: String): Array[Array[Byte]] =
    spark.read.schema(graft.cdc.PgOutput.frameSchema).parquet(s"$dir/segments")
      .orderBy("segment").collect().map(_.getAs[Array[Byte]]("data"))
}
