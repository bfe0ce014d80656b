package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.SparkSession

/** The segment spool of `cdc_live`: frames read with the engine's
  * replication client (`graft.sources.PgReplicationClient`) and written
  * as pgoutput segment parquet (`PgOutput.frameSchema`), one segment per
  * rotation, for `PgOutput.streamDecoded` to pick up.
  *
  * This is `PgWireTailer.tail` with one change: a segment closes at the
  * first Commit at or after `framesPerSegment` frames, so it holds whole
  * transactions. The engine's tailer closes a segment after exactly
  * `framesPerSegment` frames, also inside a transaction, and
  * `decodeSegments` keeps the transaction context (the xid from Begin)
  * per segment: the rows after such a rotation decode with xid -1 and
  * escape decompression-marker suppression. `SelfTest` shows both.
  *
  * As in the tailer, every segment after the first opens with the
  * relations seen so far, and the segment's end LSN is confirmed (a
  * StandbyStatusUpdate) only after its parquet write commits.
  */
object Spool {
  /** Spool until the walsender ends the stream (CopyDone); returns the
    * number of segments written. */
  def run(spark: SparkSession, client: graft.sources.PgReplicationClient, path: String,
          framesPerSegment: Int): Long = {
    val relations = scala.collection.mutable.LinkedHashMap[Int, (Long, Array[Byte])]()
    var segment = 0L
    var open = true
    while (open) {
      val bos = new ByteArrayOutputStream()
      val o = new DataOutputStream(bos)
      relations.values.foreach { case (lsn, msg) => graft.cdc.PgOutput.writeFrame(o, lsn, msg) }
      var n = 0
      var startLsn = -1L
      var endLsn = client.processedLsn
      var full = false
      while (!full && open) client.nextRaw() match {
        case Some((lsn, msg)) =>
          if (startLsn < 0) startLsn = lsn
          endLsn = math.max(endLsn, lsn + msg.length)
          if (msg(0) == 'R') relations(java.nio.ByteBuffer.wrap(msg, 1, 4).getInt) = (lsn, msg)
          graft.cdc.PgOutput.writeFrame(o, lsn, msg)
          n += 1
          full = n >= framesPerSegment && msg(0) == 'C'
        case None => open = false
      }
      if (n > 0) {
        import scala.jdk.CollectionConverters._
        val row = org.apache.spark.sql.Row(segment, startLsn, bos.toByteArray)
        spark.createDataFrame(Seq(row).asJava, graft.cdc.PgOutput.frameSchema)
          .write.mode("append").parquet(path)
        client.confirm(endLsn)
        segment += 1
      }
    }
    segment
  }

  /** A replication session on the benchmark's walsender, in COPY-BOTH
    * mode from the start of the stream. */
  def connect(port: Int): graft.sources.PgReplicationClient = {
    val c = new graft.sources.PgReplicationClient("127.0.0.1", port, "perfbench", "perfbench")
    c.handshake()
    c.startReplication("perfbench", "perfbench", 0L)
    c
  }
}
