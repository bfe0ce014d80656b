package graft.cdc

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Binary pgoutput decode — the S1/S2 seam between "parity on the
  * harness data" and "could attach to a real Postgres".
  *
  * The wire format is PostgreSQL's public logical-replication protocol
  * (docs "Logical Replication Message Formats"; the reference parses it
  * via pglogrepl in `spi/pgtypes/xlogdecoder.go:24-53` and dispatches in
  * `internal/replication/replicationchannel/replicationhandler.go:238-350`).
  * This module implements the byte codec natively: Relation / Begin /
  * Commit / Insert / Update / Delete / Truncate / Type / Origin /
  * LogicalMessage, with text-format TupleData.
  *
  * Spark shape — the unit of distribution is a SEGMENT (one row, one
  * binary blob of XLogData-framed messages), mirroring WAL segment
  * files. Each segment is self-describing: Relation messages are
  * re-emitted at segment start (exactly what a replication slot does
  * after restart) and transactions never span segments, so decode is a
  * pure per-row flatMap — no ordering dependency BETWEEN rows, which
  * makes it embarrassingly parallel at 100 TB and valid on both batch
  * and streaming DataFrames. The same contract extends to Type ('Y')
  * announcements: a producer using non-core types must re-emit them per
  * segment (as it re-emits Relations) — a segment whose tuples carry an
  * OID neither core-seeded, segment-announced, nor resolver-known fails
  * loudly rather than guessing. The sequential state the reference keeps on
  * its socket loop (relation cache `replicationhandler.go:249`, last
  * transaction id `xlogdecoder.go:38-48`) lives inside the per-segment
  * decode loop instead.
  */
object PgOutput {

  // ---------------------------------------------------------------------
  // Message ADT (field layout per the public protocol docs)
  // ---------------------------------------------------------------------

  sealed trait TupleCol
  case object NullCol extends TupleCol                 // 'n'
  case object UnchangedCol extends TupleCol            // 'u' (TOAST)
  final case class TextCol(bytes: Array[Byte]) extends TupleCol   // 't'
  final case class BinaryCol(bytes: Array[Byte]) extends TupleCol // 'b'

  final case class RelCol(flags: Byte, name: String, typeOid: Int, typeMod: Int)

  sealed trait PgMsg
  final case class BeginMsg(finalLsn: Long, commitTimeMicros: Long, xid: Int) extends PgMsg
  final case class CommitMsg(flags: Byte, commitLsn: Long, endLsn: Long,
                             commitTimeMicros: Long) extends PgMsg
  final case class OriginMsg(commitLsn: Long, name: String) extends PgMsg
  final case class RelationMsg(relId: Int, namespace: String, relName: String,
                               replicaIdentity: Byte, cols: Seq[RelCol]) extends PgMsg
  final case class TypeMsg(typeOid: Int, namespace: String, name: String) extends PgMsg
  final case class InsertMsg(relId: Int, newTuple: Seq[TupleCol]) extends PgMsg
  final case class UpdateMsg(relId: Int, oldKind: Option[Char], oldTuple: Option[Seq[TupleCol]],
                             newTuple: Seq[TupleCol]) extends PgMsg
  final case class DeleteMsg(relId: Int, oldKind: Char, oldTuple: Seq[TupleCol]) extends PgMsg
  final case class TruncateMsg(options: Byte, relIds: Seq[Int]) extends PgMsg
  final case class LogicalMsg(transactional: Boolean, lsn: Long, prefix: String,
                              content: Array[Byte]) extends PgMsg

  /** Micros between the unix epoch and PostgreSQL's 2000-01-01 epoch. */
  val PgEpochMicros = 946684800000000L

  // ---------------------------------------------------------------------
  // Byte codec (big-endian throughout, cstrings NUL-terminated)
  // ---------------------------------------------------------------------

  def encode(m: PgMsg): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64)
    val o = new DataOutputStream(bos)
    def cstr(s: String): Unit = {
      // the wire form is NUL-terminated; an embedded NUL would truncate
      // the string on decode and desync every byte after it
      require(s.indexOf(0.toChar) < 0, s"pgoutput: embedded NUL in '$s'")
      o.write(s.getBytes(UTF_8)); o.writeByte(0)
    }
    def tuple(t: Seq[TupleCol]): Unit = {
      o.writeShort(t.length)
      t.foreach {
        case NullCol         => o.writeByte('n')
        case UnchangedCol    => o.writeByte('u')
        case TextCol(b)      => o.writeByte('t'); o.writeInt(b.length); o.write(b)
        case BinaryCol(b)    => o.writeByte('b'); o.writeInt(b.length); o.write(b)
      }
    }
    m match {
      case BeginMsg(finalLsn, t, xid) =>
        o.writeByte('B'); o.writeLong(finalLsn); o.writeLong(t); o.writeInt(xid)
      case CommitMsg(f, cLsn, eLsn, t) =>
        o.writeByte('C'); o.writeByte(f); o.writeLong(cLsn); o.writeLong(eLsn); o.writeLong(t)
      case OriginMsg(cLsn, name) =>
        o.writeByte('O'); o.writeLong(cLsn); cstr(name)
      case RelationMsg(id, ns, rel, ri, cols) =>
        o.writeByte('R'); o.writeInt(id); cstr(ns); cstr(rel); o.writeByte(ri)
        o.writeShort(cols.length)
        cols.foreach { c => o.writeByte(c.flags); cstr(c.name); o.writeInt(c.typeOid); o.writeInt(c.typeMod) }
      case TypeMsg(oid, ns, name) =>
        o.writeByte('Y'); o.writeInt(oid); cstr(ns); cstr(name)
      case InsertMsg(id, nt) =>
        o.writeByte('I'); o.writeInt(id); o.writeByte('N'); tuple(nt)
      case UpdateMsg(id, ok, ot, nt) =>
        o.writeByte('U'); o.writeInt(id)
        ok.foreach { k => o.writeByte(k); tuple(ot.get) }
        o.writeByte('N'); tuple(nt)
      case DeleteMsg(id, k, ot) =>
        o.writeByte('D'); o.writeInt(id); o.writeByte(k); tuple(ot)
      case TruncateMsg(opts, ids) =>
        o.writeByte('T'); o.writeInt(ids.length); o.writeByte(opts); ids.foreach(o.writeInt)
      case LogicalMsg(txn, lsn, prefix, content) =>
        o.writeByte('M'); o.writeByte(if (txn) 1 else 0); o.writeLong(lsn)
        cstr(prefix); o.writeInt(content.length); o.write(content)
    }
    bos.toByteArray
  }

  def decode(data: Array[Byte]): PgMsg = {
    val b = ByteBuffer.wrap(data)
    def cstr(): String = {
      val start = b.position()
      while (b.get() != 0) {}
      val s = new String(data, start, b.position() - 1 - start, UTF_8)
      s
    }
    // length prefixes are attacker/corruption-controlled: validate
    // against the remaining buffer BEFORE allocating, or a single bad
    // frame allocates gigabytes on an executor
    def bytes(n: Int): Array[Byte] = {
      require(n >= 0 && n <= b.remaining(),
        s"pgoutput: length prefix $n exceeds remaining ${b.remaining()} bytes")
      val a = new Array[Byte](n); b.get(a); a
    }
    def tuple(): Seq[TupleCol] = {
      val cols = new Array[TupleCol](b.getShort.toInt)
      var i = 0
      while (i < cols.length) {
        cols(i) = b.get().toChar match {
          case 'n' => NullCol
          case 'u' => UnchangedCol
          case 't' => TextCol(bytes(b.getInt))
          case 'b' => BinaryCol(bytes(b.getInt))
          case c   => throw new IllegalArgumentException(s"pgoutput: bad tuple col kind '$c'")
        }
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cols)
    }
    b.get().toChar match {
      case 'B' => BeginMsg(b.getLong, b.getLong, b.getInt)
      case 'C' => CommitMsg(b.get(), b.getLong, b.getLong, b.getLong)
      case 'O' => OriginMsg(b.getLong, cstr())
      case 'R' =>
        val id = b.getInt; val ns = cstr(); val rel = cstr(); val ri = b.get()
        val n = b.getShort.toInt
        RelationMsg(id, ns, rel, ri,
          (0 until n).map(_ => RelCol(b.get(), cstr(), b.getInt, b.getInt)))
      case 'Y' => TypeMsg(b.getInt, cstr(), cstr())
      case 'I' =>
        val id = b.getInt
        require(b.get().toChar == 'N', "pgoutput: insert without new tuple")
        InsertMsg(id, tuple())
      case 'U' =>
        val id = b.getInt
        b.get().toChar match {
          case 'N'            => UpdateMsg(id, None, None, tuple())
          case k @ ('K' | 'O') =>
            val ot = tuple()
            require(b.get().toChar == 'N', "pgoutput: update without new tuple")
            UpdateMsg(id, Some(k), Some(ot), tuple())
          case c => throw new IllegalArgumentException(s"pgoutput: bad update tuple kind '$c'")
        }
      case 'D' =>
        val id = b.getInt
        b.get().toChar match {
          case k @ ('K' | 'O') => DeleteMsg(id, k, tuple())
          case c => throw new IllegalArgumentException(s"pgoutput: bad delete tuple kind '$c'")
        }
      case 'T' =>
        val n = b.getInt; val opts = b.get()
        TruncateMsg(opts, (0 until n).map(_ => b.getInt))
      case 'M' =>
        val txn = b.get() == 1
        LogicalMsg(txn, b.getLong, cstr(), bytes(b.getInt))
      case c => throw new IllegalArgumentException(s"pgoutput: unknown message type '$c'")
    }
  }

  // ---------------------------------------------------------------------
  // XLogData framing inside a segment blob: the replication protocol's
  // CopyData payload ('w', walStart, walEnd, serverSendTime, message) —
  // plus an Int32 length prefix so frames concatenate into one blob.
  // serverSendTime is pinned to 0 for determinism.
  // ---------------------------------------------------------------------

  def writeFrame(o: DataOutputStream, lsn: Long, msg: Array[Byte]): Unit = {
    o.writeInt(1 + 8 + 8 + 8 + msg.length)
    o.writeByte('w'); o.writeLong(lsn); o.writeLong(lsn + msg.length); o.writeLong(0L)
    o.write(msg)
  }

  // -- replication-session control frames (the other two CopyData tags
  // the reference's socket loop handles, `replicationhandler.go:163-177`
  // receive / `:133-138` send): PrimaryKeepalive 'k' (server→client) and
  // StandbyStatusUpdate 'r' (client→server ack). Layouts per the public
  // streaming-replication protocol docs. --

  final case class PrimaryKeepalive(serverWalEnd: Long, serverTimeMicros: Long,
                                    replyRequested: Boolean)
  final case class StandbyStatusUpdate(writtenLsn: Long, flushedLsn: Long,
                                       appliedLsn: Long, clientTimeMicros: Long,
                                       replyRequested: Boolean)

  def encodeKeepalive(k: PrimaryKeepalive): Array[Byte] = {
    val bos = new ByteArrayOutputStream(18)
    val o = new DataOutputStream(bos)
    o.writeByte('k'); o.writeLong(k.serverWalEnd); o.writeLong(k.serverTimeMicros)
    o.writeByte(if (k.replyRequested) 1 else 0)
    bos.toByteArray
  }

  def decodeKeepalive(data: Array[Byte]): PrimaryKeepalive = {
    require(data(0).toChar == 'k', "not a PrimaryKeepalive frame")
    val b = ByteBuffer.wrap(data, 1, data.length - 1)
    PrimaryKeepalive(b.getLong, b.getLong, b.get() == 1)
  }

  /** The ack the client loop sends on its standby deadline (and
    * immediately when a keepalive sets replyRequested) — carrying the
    * client's processed LSN cursor (under the segment tailer, the end of
    * the last segment whose parquet write committed): the restart point
    * the server keeps for the slot. */
  def encodeStatusUpdate(s: StandbyStatusUpdate): Array[Byte] = {
    val bos = new ByteArrayOutputStream(34)
    val o = new DataOutputStream(bos)
    o.writeByte('r'); o.writeLong(s.writtenLsn); o.writeLong(s.flushedLsn)
    o.writeLong(s.appliedLsn); o.writeLong(s.clientTimeMicros)
    o.writeByte(if (s.replyRequested) 1 else 0)
    bos.toByteArray
  }

  def decodeStatusUpdate(data: Array[Byte]): StandbyStatusUpdate = {
    require(data(0).toChar == 'r', "not a StandbyStatusUpdate frame")
    val b = ByteBuffer.wrap(data, 1, data.length - 1)
    StandbyStatusUpdate(b.getLong, b.getLong, b.getLong, b.getLong, b.get() == 1)
  }

  /** Append a keepalive as a segment frame (length-prefixed, 'k' tag in
    * place of 'w') — interleaved keepalives are part of any real
    * replication byte stream and the decoder must skip them. */
  def writeKeepaliveFrame(o: DataOutputStream, k: PrimaryKeepalive): Unit = {
    val bytes = encodeKeepalive(k)
    o.writeInt(bytes.length)
    o.write(bytes)
  }

  /** Decode every (lsn, message) frame out of one segment blob,
    * silently skipping interleaved PrimaryKeepalive ('k') control
    * frames the way the reference's receive loop does
    * (`replicationhandler.go:163-177`: log + maybe-ack, never emitted
    * as an event). */
  def readFrames(blob: Array[Byte]): Iterator[(Long, PgMsg)] = new Iterator[(Long, PgMsg)] {
    private val b = ByteBuffer.wrap(blob)
    // frame-framing hardening, same contract as the message-level
    // decode(): every length prefix is validated against the REMAINING
    // buffer before any allocation or seek — a corrupt/hostile prefix
    // (bit rot, torn write) fails loudly instead of attempting a
    // multi-GB allocation or dying with a raw bounds exception
    private def frameLen(): Int = {
      require(b.remaining() >= 5,
        s"pgoutput: truncated frame header (${b.remaining()} bytes left)")
      val len = b.getInt // counts the bytes AFTER the prefix (tag included)
      require(len >= 1 && len <= b.remaining(),
        s"pgoutput: frame length $len exceeds remaining ${b.remaining()} bytes")
      len
    }
    private def skipKeepalives(): Unit =
      while (b.remaining() >= 5 && blob(b.position() + 4).toChar == 'k') {
        val len = frameLen() // consumes the 4-byte prefix FIRST
        b.position(b.position() + len)
      }
    skipKeepalives()
    def hasNext: Boolean = b.remaining() > 0
    def next(): (Long, PgMsg) = {
      val len = frameLen()
      require(len >= 25, s"pgoutput: XLogData frame length $len below header size")
      require(b.get().toChar == 'w', "pgoutput: frame without XLogData tag")
      val lsn = b.getLong
      b.getLong; b.getLong // walEnd, serverSendTime
      val msg = new Array[Byte](len - 25)
      b.get(msg)
      skipKeepalives()
      (lsn, decode(msg))
    }
  }

  // ---------------------------------------------------------------------
  // events-table fixture encoding (test/gate harness)
  // ---------------------------------------------------------------------

  /** OIDs of the stand-in relation's columns (public pg_type values). */
  val EventsRelId = 16385
  val EventsRelCols: Seq[RelCol] = Seq(
    RelCol(1, "event_id", 20, -1),   // int8, key
    RelCol(0, "ts", 1114, -1),       // timestamp
    RelCol(0, "user_id", 20, -1),    // int8
    RelCol(0, "event_type", 25, -1), // text
    RelCol(0, "value", 701, -1),     // float8
    RelCol(0, "props", 25, -1))      // text

  private val NanosPerSec = 1000000000L

  /** Long nanos → timestamp text (9 fractional digits; a superset of
    * PG's 6 — the harness `ts` column has shipped at both precisions). */
  def tsToText(nanos: Long): String = {
    val sec = Math.floorDiv(nanos, NanosPerSec)
    val frac = Math.floorMod(nanos, NanosPerSec)
    val ldt = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
    f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d.$frac%09d"
  }

  /** PostgreSQL's text output of `timestamp` and `timestamptz` (ISO
    * DateStyle) → Long epoch nanos: `YYYY-MM-DD HH:MM:SS`, then 1–9
    * fractional digits when the fraction is not zero, then for
    * `timestamptz` a UTC offset `+HH`, `+HH:MM` or `+HH:MM:SS`, which is
    * applied. `infinity` and BC dates have no epoch-nanos value and fail. */
  def tsFromText(s: String): Long = {
    def bad(why: String): Nothing =
      throw new IllegalArgumentException(s"pgoutput: cannot decode timestamp '$s': $why")
    if (s.endsWith("infinity")) bad("infinite timestamps have no epoch value")
    if (s.endsWith(" BC")) bad("BC dates are not supported")
    var i = 0
    def num(minDigits: Int, maxDigits: Int): Int = {
      val from = i
      var v = 0
      while (i < s.length && i - from < maxDigits && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        v = v * 10 + (s.charAt(i) - '0'); i += 1
      }
      if (i - from < minDigits) bad(s"expected a number at offset $from")
      v
    }
    def sep(c: Char): Unit = {
      if (i >= s.length || s.charAt(i) != c) bad(s"expected '$c' at offset $i")
      i += 1
    }
    val year = num(4, 6); sep('-')
    val month = num(2, 2); sep('-')
    val day = num(2, 2); sep(' ')
    val hour = num(2, 2); sep(':')
    val minute = num(2, 2); sep(':')
    val second = num(2, 2)
    var nanos = 0L
    if (i < s.length && s.charAt(i) == '.') {
      i += 1
      val from = i
      nanos = num(1, 9).toLong
      var scale = 9 - (i - from)
      while (scale > 0) { nanos *= 10; scale -= 1 }
    }
    var offsetSec = 0
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) {
      val sign = if (s.charAt(i) == '-') -1 else 1
      i += 1
      var off = num(2, 2) * 3600
      if (i < s.length && s.charAt(i) == ':') { i += 1; off += num(2, 2) * 60 }
      if (i < s.length && s.charAt(i) == ':') { i += 1; off += num(2, 2) }
      offsetSec = sign * off
    }
    if (i != s.length) bad(s"unexpected text at offset $i")
    if (hour > 23 || minute > 59 || second > 59) bad("time of day out of range")
    val days =
      try java.time.LocalDate.of(year, month, day).toEpochDay
      catch { case e: java.time.DateTimeException => bad(e.getMessage) }
    (days * 86400L + hour * 3600L + minute * 60L + second - offsetSec) * NanosPerSec + nanos
  }

  private def textCol(s: String): TupleCol = if (s == null) NullCol else TextCol(s.getBytes(UTF_8))
  private def be64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  /** One event row → its full text-format tuple (REPLICA IDENTITY FULL:
    * deletes/updates carry the complete old row, which is what lets the
    * decode gate reproduce every envelope column — `catalog/
    * ReplicaIdentity.scala` is where the engine validates the setting). */
  def rowTuple(eventId: Long, tsNanos: Long, userId: Long, eventType: String,
               value: Double, props: String): Seq[TupleCol] =
    Seq(textCol(eventId.toString), textCol(tsToText(tsNanos)), textCol(userId.toString),
      textCol(eventType), textCol(java.lang.Double.toString(value)), textCol(props))

  /** The same row in BINARY tuple format (`binary 'true'`, what the
    * reference requests on PG14+ — `replicationchannel.go:118-124`):
    * network-order send-function forms; the timestamp wire form is
    * int64 PG-epoch MICROS, so a sub-microsecond `ts` cannot survive
    * binary mode and fails loudly rather than rounding silently. */
  def rowTupleBinary(eventId: Long, tsNanos: Long, userId: Long, eventType: String,
                     value: Double, props: String): Seq[TupleCol] = {
    require(tsNanos % 1000 == 0,
      s"binary timestamp carries micros only; ts=$tsNanos has sub-micro precision")
    Seq(
      BinaryCol(be64(eventId)),
      BinaryCol(be64(tsNanos / 1000 - PgEpochMicros)),
      BinaryCol(be64(userId)),
      if (eventType == null) NullCol else TextCol(eventType.getBytes(UTF_8)),
      BinaryCol(ByteBuffer.allocate(8).putDouble(value).array()),
      if (props == null) NullCol else TextCol(props.getBytes(UTF_8)))
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("segment", LongType, nullable = false),
    StructField("start_lsn", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** Encode the events table into self-contained pgoutput segments:
    * segment = 100 transactions = 1,000 events (bounded, in-memory
    * sortable per group). Layout per segment: Relation, then per xid
    * Begin → DML/Message frames → Commit. view-events become Inserts
    * (there is no "read" in WAL — the op is re-derived from the decoded
    * event_type, as shapeWal does), click-events become transactional
    * logical messages carrying props (`xlogdecoder.go:38-48` xid
    * attachment).
    *
    * `toastEvery` > 0 turns on deterministic unchanged-TOAST elision:
    * every purchase (Update) whose `event_id % toastEvery == 0` sends its
    * `props` column as `'u'` in the NEW tuple — exactly what PG emits for
    * a TOASTed column an UPDATE didn't touch. The old tuple stays
    * complete (REPLICA IDENTITY FULL old rows are logged whole). The rule
    * is pure arithmetic on event_id so a DuckDB oracle can replay it.
    *
    * `markerTxns = true` turns on the 2.12+ DECOMPRESSION-MARKER
    * fixture: txns with `xid % 7 == 3` are decompression transactions —
    * their row frames are bracketed by real `pg_logical_emit_message`
    * frames carrying the EXACT `::timescaledb-decompression-start/end`
    * prefixes (`transactiontracker.go:33-34`), and every frame lsn maps
    * to `event_id * 2` so the markers get the odd lsns just outside the
    * bracketed rows (start = first·2−1, end = last·2+1) — deterministic
    * for the DuckDB twin, collision-free with row lsns.
    */
  def encodeSegments(events: DataFrame, txnSize: Int = 10, segmentTxns: Int = 100,
                     binary: Boolean = false, toastEvery: Int = 0,
                     markerTxns: Boolean = false): DataFrame =
    segments(events, txnSize, segmentTxns) { (o, rows) =>
      writeFrame(o, rows.head._1,
        encode(RelationMsg(EventsRelId, "public", "events", 'f', EventsRelCols)))
      // marker mode doubles the frame-lsn domain so the bracket
      // markers land on odd lsns just outside their rows
      def L(eid: Long): Long = if (markerTxns) eid * 2 else eid
      rows.groupBy(_._1 / txnSize).toSeq.sortBy(_._1).foreach { case (xid, txn) =>
        val commitLsn = L(txn.last._1)
        val commitMicros = txn.last._2 / 1000L - PgEpochMicros
        val isDecompTxn = markerTxns && xid % 7 == 3
        writeFrame(o, L(txn.head._1), encode(BeginMsg(commitLsn, commitMicros, xid.toInt)))
        if (isDecompTxn) {
          val s = L(txn.head._1) - 1
          writeFrame(o, s, encode(LogicalMsg(transactional = true, s,
            graft.cdc.Cdc.DecompressionMarkerStartId, Array.emptyByteArray)))
        }
        txn.foreach { case (eid, ts, uid, et, v, props, _) =>
          def tup = if (binary) rowTupleBinary(eid, ts, uid, et, v, props)
                    else rowTuple(eid, ts, uid, et, v, props)
          // unchanged-TOAST elision: props (the only TOASTable column)
          // rides as 'u' in the new tuple of the selected updates; a
          // null is never TOASTed ('n' lives inline in the heap tuple)
          def newTup =
            if (toastEvery > 0 && props != null && eid % toastEvery == 0)
              tup.updated(5, UnchangedCol)
            else tup
          writeFrame(o, L(eid), encode(rowMsg(et, tup, newTup, L(eid), props)))
        }
        if (isDecompTxn) {
          val e = L(txn.last._1) + 1
          writeFrame(o, e, encode(LogicalMsg(transactional = true, e,
            graft.cdc.Cdc.DecompressionMarkerEndId, Array.emptyByteArray)))
        }
        writeFrame(o, commitLsn, encode(CommitMsg(0, commitLsn, commitLsn + 1, commitMicros)))
      }
    }

  private type EventRow = (Long, Long, Long, String, Double, String, Long)

  /** The fixture segment scaffold: `events` grouped into segments of
    * `txnSize * segmentTxns` rows by event_id; `frames` writes each
    * segment's rows, sorted by event_id, into its blob. */
  private def segments(events: DataFrame, txnSize: Int, segmentTxns: Int)(
      frames: (DataOutputStream, Seq[EventRow]) => Unit): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rowsPerSegment = txnSize.toLong * segmentTxns
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .withColumn("segment", expr(s"event_id div $rowsPerSegment"))
      .as[EventRow]
      .groupByKey(_._7)
      .mapGroups { (segment, it) =>
        // a segment is bounded at rowsPerSegment rows by construction —
        // safe to materialize and sort in one task
        val rows = it.toSeq.sortBy(_._1)
        val bos = new ByteArrayOutputStream(rows.length * 96)
        frames(new DataOutputStream(bos), rows)
        (segment, rows.head._1, bos.toByteArray)
      }
      .toDF("segment", "start_lsn", "data")
  }

  /** One fixture row's DML (or, for a click, logical-message) frame. */
  private def rowMsg(eventType: String, tup: => Seq[TupleCol], newTup: => Seq[TupleCol],
                     lsn: Long, props: String): PgMsg = eventType match {
    case "signup"   => InsertMsg(EventsRelId, tup)
    case "purchase" => UpdateMsg(EventsRelId, Some('O'), Some(tup), newTup)
    case "error"    => DeleteMsg(EventsRelId, 'O', tup)
    case "click"    => LogicalMsg(transactional = true, lsn, "graft.props",
      (if (props == null) "" else props).getBytes(UTF_8))
    case _          => InsertMsg(EventsRelId, tup) // view
  }

  /** The events relation AFTER the fixture's mid-stream DDL (`ALTER
    * TABLE events ADD COLUMN score int8`): the post-ALTER Relation
    * message body PG emits before the first post-DDL tuple. */
  val EventsRelColsEvolved: Seq[RelCol] =
    EventsRelCols :+ RelCol(0, "score", 20, -1)

  /** [[encodeSegments]] with a MID-STREAM DDL boundary: rows with
    * `event_id >= addScoreFrom` carry an extra `score int8 = user_id %
    * 100` column, and the stream re-announces the relation exactly the
    * way PostgreSQL does after ALTER TABLE — a fresh Relation message
    * with the new column list precedes the first post-DDL tuple
    * (pgoutput re-emits Relation on any change; the reference consumes
    * it at `replicationhandler.go` OnRelationEvent →
    * `systemcatalog.go:347-373` ApplySchemaUpdate). Segments entirely
    * past the boundary open with the evolved Relation. Text tuples
    * only; the score rule is pure arithmetic so a DuckDB oracle can
    * replay both sides of the boundary.
    */
  def encodeSegmentsEvolving(events: DataFrame, addScoreFrom: Long,
                             txnSize: Int = 10,
                             segmentTxns: Int = 100): DataFrame =
    encodeSegmentsDdl(events, addScoreFrom, EventsRelColsEvolved, txnSize, segmentTxns)(
      (tup, uid) => tup :+ textCol((uid % 100).toString))

  /** The events relation AFTER a mid-stream `ALTER COLUMN user_id TYPE
    * text` — same column at the same ordinal, NEW type oid (25). The
    * nastiest evolution case: a name-keyed schema union would keep the
    * first-seen int8 and silently NULL every post-DDL value. */
  val EventsRelColsRetyped: Seq[RelCol] =
    EventsRelCols.map(c => if (c.name == "user_id") c.copy(typeOid = 25) else c)

  /** [[encodeSegmentsEvolving]]'s ALTER-TYPE twin: rows with `event_id
    * >= retypeFrom` re-announce the relation with `user_id` as text
    * (oid 25) and render its value as `'u' || user_id` — the wire shape
    * of `ALTER TABLE events ALTER COLUMN user_id TYPE text USING
    * 'u'||user_id` (PG re-emits Relation after any DDL; the reference
    * re-registers and decodes each row by ITS relation version,
    * `systemcatalog.go:347-373` + `decoderplan.go:32-101`). Post-DDL
    * values are deliberately NON-numeric so a first-seen-type decode
    * cannot fake a pass: casting `'u123'` with the old int8 plan
    * yields NULL, the exact silent corruption this fixture gates.
    * Pure arithmetic rule → DuckDB-replayable.
    */
  def encodeSegmentsRetyping(events: DataFrame, retypeFrom: Long,
                             txnSize: Int = 10,
                             segmentTxns: Int = 100): DataFrame =
    encodeSegmentsDdl(events, retypeFrom, EventsRelColsRetyped, txnSize, segmentTxns)(
      (tup, uid) => tup.updated(2, textCol(s"u$uid")))

  /** The DDL fixtures' shared encoding: from row `ddlFrom` on, the
    * relation is re-announced with `ddlCols` (a segment entirely past
    * the boundary opens with it) and every tuple goes through `ddlTuple`
    * (the text tuple and the row's user_id). Text tuples only. */
  private def encodeSegmentsDdl(events: DataFrame, ddlFrom: Long, ddlCols: Seq[RelCol],
                                txnSize: Int, segmentTxns: Int)(
      ddlTuple: (Seq[TupleCol], Long) => Seq[TupleCol]): DataFrame =
    segments(events, txnSize, segmentTxns) { (o, rows) =>
      var changed = rows.head._1 >= ddlFrom
      def relMsg = RelationMsg(EventsRelId, "public", "events", 'f',
        if (changed) ddlCols else EventsRelCols)
      writeFrame(o, rows.head._1, encode(relMsg))
      rows.groupBy(_._1 / txnSize).toSeq.sortBy(_._1).foreach { case (xid, txn) =>
        val commitLsn = txn.last._1
        val commitMicros = txn.last._2 / 1000L - PgEpochMicros
        writeFrame(o, txn.head._1, encode(BeginMsg(commitLsn, commitMicros, xid.toInt)))
        txn.foreach { case (eid, ts, uid, et, v, props, _) =>
          if (!changed && eid >= ddlFrom) {
            // the DDL boundary: re-announce the relation mid-stream
            changed = true
            writeFrame(o, eid, encode(relMsg))
          }
          def tup = {
            val base = rowTuple(eid, ts, uid, et, v, props)
            if (changed) ddlTuple(base, uid) else base
          }
          writeFrame(o, eid, encode(rowMsg(et, tup, tup, eid, props)))
        }
        writeFrame(o, commitLsn, encode(CommitMsg(0, commitLsn, commitLsn + 1, commitMicros)))
      }
    }

  /** One SCHEMA-AGNOSTIC decoded WAL row: the tuple rides as parallel
    * (name, oid, raw text value) arrays in relation-declared order
    * instead of fixed case-class fields, so a mid-stream Relation
    * change flows straight through decode — the row after the DDL
    * simply carries one more array slot. NULL columns are null slots;
    * this surface has no TOAST elision (the evolving fixture never
    * sends `'u'`), and binary tuples are rejected (raw-text transport
    * is the point of the dynamic row). [[graft.streaming.SchemaEvolution
    * .resolveBatch]] turns a batch of these into a typed, widened frame.
    */
  final case class DynamicWal(
      segment: Long, lsn: Long, xid: Long, op_wire: String,
      schema_name: String, table_name: String,
      col_names: Seq[String], col_oids: Seq[Int], col_vals: Seq[String])

  /** Decode pgoutput segments into [[DynamicWal]] rows — the dynamic
    * twin of [[decodeSegments]], same per-segment relation cache and
    * xid state, but the relation's CURRENT column list is copied onto
    * every row instead of being projected into fixed fields. This is
    * the engine's in-flight half of the reference's `ApplySchemaUpdate`
    * (`systemcatalog.go:347-373`): the decode keeps producing rows
    * across the DDL boundary without a restart; typing happens per
    * micro-batch downstream.
    */
  def decodeRowsDynamic(frames: DataFrame): Dataset[DynamicWal] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.select(col("segment"), col("data")).as[(Long, Array[Byte])].flatMap {
      case (segment, blob) =>
        val relations = scala.collection.mutable.Map[Int, RelationMsg]()
        var currentXid = -1L
        def row(lsn: Long, op: String, relId: Int, t: Seq[TupleCol]): DynamicWal = {
          val rel = relations.getOrElse(relId,
            throw new IllegalStateException(s"pgoutput: unknown relation id $relId"))
          require(rel.cols.length == t.length,
            s"tuple arity ${t.length} != relation arity ${rel.cols.length} — " +
              "stream desync or stale relation cache")
          val vals = t.map {
            case NullCol      => null
            case TextCol(b)   => new String(b, UTF_8)
            case UnchangedCol => throw new IllegalArgumentException(
              "dynamic decode does not carry TOAST omission ('u') — use decodeSegments")
            case BinaryCol(_) => throw new IllegalArgumentException(
              "dynamic decode expects text tuples — use decodeSegments for binary")
          }
          // toList: the wire decoder hands back array-backed seqs whose
          // runtime class the DynamicWal encoder (immutable.Seq) rejects
          DynamicWal(segment, lsn, currentXid, op, rel.namespace, rel.relName,
            rel.cols.map(_.name).toList, rel.cols.map(_.typeOid).toList,
            vals.toList)
        }
        readFrames(blob).flatMap {
          case (_, RelationMsg(id, ns, rel, ri, cols)) =>
            relations(id) = RelationMsg(id, ns, rel, ri, cols); Nil
          case (_, BeginMsg(_, _, xid)) => currentXid = xid.toLong & 0xffffffffL; Nil
          case (_, _: CommitMsg)        => currentXid = -1L; Nil
          case (lsn, InsertMsg(id, nt))       => Seq(row(lsn, "I", id, nt))
          case (lsn, UpdateMsg(id, _, _, nt)) => Seq(row(lsn, "U", id, nt))
          case (lsn, DeleteMsg(id, _, ot))    => Seq(row(lsn, "D", id, ot))
          case _                              => Nil
        }
    }
  }

  /** One decoded WAL change row (nullable fields are absent for
    * logical-message rows). `unchanged_cols` lists the columns the wire
    * carried as `'u'` (unchanged TOAST, `decoderplan.go:57-59`): their
    * value fields here are null, but the envelope must OMIT their keys
    * rather than render `null` — the replication stream never read the
    * value, and a consumer that conflates the two corrupts its replica. */
  final case class DecodedWal(
      segment: Long, lsn: Long, xid: Long, op_wire: String,
      schema_name: Option[String], table_name: Option[String],
      event_id: Option[Long], ts: Option[Long], user_id: Option[Long],
      event_type: Option[String], value: Option[Double], props: Option[String],
      unchanged_cols: Seq[String] = Nil,
      // old-tuple surface (Update 'O'/'K' submessage, `xlogdecoder.go`
      // OldTupleType): kind + the decoded old row's columns. Under
      // REPLICA IDENTITY FULL ('O') PG logs the old row WHOLE — so
      // `before` stays complete even when the NEW tuple elided a TOASTed
      // column as 'u'. 'K' carries key columns only (identity index).
      old_kind: Option[String] = None,
      before_event_id: Option[Long] = None, before_user_id: Option[Long] = None,
      before_value: Option[Double] = None, before_props: Option[String] = None,
      // the logical-message prefix the wire frame carried
      // (`pg_logical_emit_message`'s first argument — on a live stream
      // the 2.12+ marker gate keys on it for free; op='M' rows only)
      msg_prefix: Option[String] = None)

  /** [[graft.types.TypeRegistry.Plan]] of one Relation message for
    * [[decodeSegments]]. `decode` parses every carried column of a
    * tuple by ordinal and returns the [[DecodedWal]] columns event_id,
    * ts, user_id, event_type, value and props (null when the relation
    * lacks one, or the tuple carries 'n' or 'u'), then the names of the
    * columns carried as 'u' (unchanged TOAST; Nil without one). */
  private final class WalPlan(rel: RelationMsg, resolver: graft.types.TypeRegistry.Resolver) {
    val cols = new graft.types.TypeRegistry.Plan(rel.cols.map(c => (c.name, c.typeOid)), resolver)
    val namespace: Option[String] = Some(rel.namespace)
    val relName: Option[String] = Some(rel.relName)
    // column ordinal → DecodedWal slot, or -1
    private val slot = cols.names.map(WalPlan.Fields.indexOf(_))

    def decode(t: Seq[TupleCol]): Array[Any] = {
      cols.checkArity(t)
      val out = new Array[Any](WalPlan.Fields.length + 1)
      var unchanged: List[String] = Nil
      val it = t.iterator
      var i = 0
      while (it.hasNext) {
        val c = it.next()
        if (c eq UnchangedCol) unchanged = cols.names(i) :: unchanged
        else {
          val v = cols.value(i, c)
          if (slot(i) >= 0) out(slot(i)) = v
        }
        i += 1
      }
      out(WalPlan.Fields.length) = unchanged.reverse
      out
    }
  }

  private object WalPlan {
    val Fields: Array[String] = Array("event_id", "ts", "user_id", "event_type", "value", "props")
    def opt[T](v: Any): Option[T] = Option(v).asInstanceOf[Option[T]]
  }

  /** Decode pgoutput segment blobs back into WAL change rows — a pure
    * per-segment flatMap (valid on batch AND streaming frames). The
    * relation cache with each relation's decode plan, the current xid
    * and the decompression-marker flag live per segment, exactly the
    * state the reference keeps per replication socket. A segment's LEADING frames whose lsn is below its
    * `start_lsn` are context a tailer replayed at a rotation (relations,
    * the open Begin, the open bracket's Start marker): they set that
    * state and emit no row.
    *
    * `markerSuppress` turns on the 2.12+ marker path's suppression in
    * the walk, as the reference's transaction tracker does on the
    * replication stream (`transactiontracker.go:208-218,383-392`): a
    * transactional `::timescaledb-decompression-start` message sets the
    * flag, the end message, Begin and Commit clear it, and an Insert
    * emits no row while it is set. Updates, deletes, truncates and the
    * marker messages themselves still emit — the batch
    * `Cdc.markerSuppressPrefixed` contract.
    *
    * `resolver` is the startup-loaded pg_type map
    * (`JdbcSideChannel.pgTypeResolver`, mirroring the reference's
    * `typemanager.go:111-138` initialize): it SERIALIZES INTO the
    * flatMap closure, so on a real cluster every executor JVM resolves
    * enum/domain/composite OIDs locally — the JVM-global registry alone
    * would only cover the driver. */
  def decodeSegments(frames: DataFrame,
                     resolver: graft.types.TypeRegistry.Resolver =
                       graft.types.TypeRegistry.Resolver.empty,
                     markerSuppress: Boolean = false): Dataset[DecodedWal] = {
    val spark = frames.sparkSession
    import spark.implicits._
    val (start, end) = (Cdc.DecompressionMarkerStartId, Cdc.DecompressionMarkerEndId)
    frames.select(col("segment"), col("start_lsn"), col("data"))
      .as[(Long, Long, Array[Byte])].flatMap {
      case (segment, startLsn, blob) =>
        val relations = scala.collection.mutable.LongMap[RelationMsg]()
        // one decode plan per relation (`decoderplan.go:32-101`), built
        // on the relation's first tuple; a Relation message drops its
        // relation's plan, a Type message every plan with a column of
        // that OID. ONE path for text AND binary tuple formats (the
        // reference requests `binary 'true'` on PG14+), shared by the
        // main tuple AND the old-tuple submessage so the before/after
        // surfaces can never diverge in decode semantics.
        val plans = scala.collection.mutable.LongMap[WalPlan]()
        var currentXid = -1L
        var decompressing = false // the open bracket's flag
        var context = true        // still in the replayed leading frames
        def plan(relId: Int): WalPlan = plans.getOrElseUpdate(relId,
          new WalPlan(relations.getOrElse(relId,
            throw new IllegalStateException(s"pgoutput: unknown relation id $relId")), resolver))
        // `ot`, when given, is the old-tuple submessage: it decodes into
        // the before_* fields ('O' = full old row, 'K' = key cols only)
        def tupleRow(lsn: Long, opWire: String, relId: Int, t: Seq[TupleCol],
                     oldKind: Option[String] = None, ot: Seq[TupleCol] = null): DecodedWal = {
          val p = plan(relId)
          val v = p.decode(t)
          val old = if (ot == null) null else p.decode(ot)
          def before[T](i: Int): Option[T] = if (old == null) None else WalPlan.opt(old(i))
          DecodedWal(segment, lsn, currentXid, opWire, p.namespace, p.relName,
            WalPlan.opt(v(0)), WalPlan.opt(v(1)), WalPlan.opt(v(2)), WalPlan.opt(v(3)),
            WalPlan.opt(v(4)), WalPlan.opt(v(5)), v(6).asInstanceOf[List[String]], oldKind,
            before(0), before(2), before(4), before(5))
        }
        def rows(lsn: Long, msg: PgMsg): Seq[DecodedWal] = msg match {
          case r: RelationMsg =>
            relations(r.relId) = r; plans -= r.relId; Nil
          case BeginMsg(_, _, xid) =>
            currentXid = xid.toLong & 0xffffffffL; decompressing = false; Nil
          case _: CommitMsg => currentXid = -1L; decompressing = false; Nil
          case _: OriginMsg => Nil
          case TypeMsg(oid, _, name) =>
            // lazy mid-stream type announcement (`replicationhandler.go:
            // 318-328` OnTypeEvent → typemanager registration): a
            // user-defined type registers before first use, as its text
            // form — PG sends user-defined values via their text output fn
            if (!graft.types.TypeRegistry.known(oid))
              graft.types.TypeRegistry.register(
                graft.types.TypeRegistry.Registration(
                  oid, name, org.apache.spark.sql.types.StringType, s => s))
            plans.filterInPlace((_, p) => !p.cols.hasOid(oid))
            Nil
          case InsertMsg(_, _) if markerSuppress && decompressing => Nil
          case InsertMsg(id, nt)          => Seq(tupleRow(lsn, "I", id, nt))
          case UpdateMsg(id, ok, ot, nt) => (ok, ot) match {
            case (Some(k), Some(t)) => Seq(tupleRow(lsn, "U", id, nt, Some(k.toString), t))
            case _                  => Seq(tupleRow(lsn, "U", id, nt)) // no old tuple on the wire
          }
          case DeleteMsg(id, k, ot) =>
            // delete's tuple IS the old row; record which identity form
            // the wire used alongside the main-column decode
            Seq(tupleRow(lsn, "D", id, ot, Some(k.toString)))
          case TruncateMsg(_, ids) =>
            ids.map { id =>
              val rel = relations.get(id)
              DecodedWal(segment, lsn, currentXid, "T",
                rel.map(_.namespace), rel.map(_.relName),
                None, None, None, None, None, None)
            }
          case LogicalMsg(txn, _, pfx, content) =>
            if (txn && pfx == start) decompressing = true
            else if (txn && pfx == end) decompressing = false
            Seq(DecodedWal(segment, lsn, if (txn) currentXid else -1L, "M",
              None, None, None, None, None, None, None,
              Some(new String(content, UTF_8)),
              msg_prefix = Some(pfx)))
        }
        readFrames(blob).flatMap { case (lsn, msg) =>
          if (context && lsn >= startLsn) context = false
          val out = rows(lsn, msg)
          if (context) Nil else out
        }
    }
  }

  /** The full gate path: events → pgoutput bytes → decoded WAL, shaped
    * like the envelope the parquet-path `Cdc.shapeWal` produces on the
    * same logical events (the `cdc_pgoutput_decode` correctness entry). */
  def decodeGate(spark: SparkSession, dir: String, binary: Boolean = false): DataFrame = {
    val wal = decodeSegments(Tables.spread(
      encodeSegments(Tables.events(spark, dir), binary = binary), col("segment")))
    wal.select(
      col("lsn"), col("xid"), col("op_wire"),
      Cdc.opExpr(col("event_type")).as("op"),
      expr("ts div 1000000").as("ts_ms"),
      col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"),
      col("schema_name"), col("table_name"))
  }

  /** Unchanged-TOAST envelope gate: encode with deterministic `'u'`
    * elision, decode, render each update's payload JSON with the
    * REFERENCE's key semantics — null column ⇒ `"props": null`, unchanged
    * TOAST ⇒ no `props` key at all (`decoderplan.go:54-59`) — then PARSE
    * THE RENDERED JSON BACK so the output columns prove the key really is
    * absent (not just null-valued). The elision rule is arithmetic on
    * event_id, so the DuckDB twin replays it from the raw events table.
    *
    * Scale shape: one flatMap decode + per-row `when(...)` between two
    * codegen'd `to_json` branches — no shuffle until the final gate sort.
    */
  def toastGate(spark: SparkSession, dir: String, toastEvery: Int = 3,
                binary: Boolean = false): DataFrame = {
    val wal = decodeSegments(Tables.spread(
      encodeSegments(Tables.events(spark, dir),
        binary = binary, toastEvery = toastEvery), col("segment")))
    val omitted = array_contains(col("unchanged_cols"), "props")
    val renderOpts = Map("ignoreNullFields" -> "false")
    val payload = when(omitted,
        to_json(struct(col("event_id"), col("user_id"), col("value")), renderOpts))
      .otherwise(
        to_json(struct(col("event_id"), col("user_id"), col("value"), col("props")),
          renderOpts))
    wal.filter(col("op_wire") === "U")
      .withColumn("payload", payload)
      .select(
        col("lsn"),
        col("payload").contains("\"props\"").as("props_key_present"),
        get_json_object(col("payload"), "$.props").as("props_parsed"),
        col("event_id"), col("user_id"))
      .orderBy(col("lsn"))
  }

  /** Old-tuple gate: updates under REPLICA IDENTITY FULL log the OLD row
    * whole ('O' submessage) — so the decoded `before` surface must be
    * complete on every update, INCLUDING the ones whose NEW tuple elided
    * `props` as unchanged TOAST. The envelope's before/after asymmetry
    * (before has the value, after omits the key) is exactly what a
    * downstream replica needs to reconstruct state. */
  def beforeGate(spark: SparkSession, dir: String, toastEvery: Int = 3,
                 binary: Boolean = false): DataFrame = {
    val wal = decodeSegments(Tables.spread(
      encodeSegments(Tables.events(spark, dir),
        binary = binary, toastEvery = toastEvery), col("segment")))
    wal.filter(col("op_wire") === "U")
      .select(
        col("lsn"), col("old_kind"),
        col("before_event_id"), col("before_user_id"),
        col("before_value"), col("before_props"),
        array_contains(col("unchanged_cols"), "props").as("after_props_elided"))
      .orderBy(col("lsn"))
  }

  /** The wire-path envelope payload JSON as a Column over decoded-WAL
    * columns — the pgoutput counterpart of `Cdc.envelopeJsonCol`, and
    * strictly more faithful on updates: `before` comes from the decoded
    * OLD tuple (REPLICA IDENTITY FULL), not the parquet path's new-row
    * stand-in, and `after` omits unchanged-TOAST keys
    * (`decoderplan.go:54-59`). Only [[envelopeGate]] renders with it;
    * the stream and the benchmark render with `Cdc.eventsEnvelopeCols`.
    * One codegen'd projection with a per-row `when` between two
    * `to_json` branches — no shuffle. */
  def wireEnvelopeCol(dbName: String = "graft"): org.apache.spark.sql.Column = {
    val op = Cdc.opExpr(col("event_type"))
    val tsMs = expr("ts div 1000000")
    val source = graft.model.Envelope.sourceBlock(dbName,
      col("schema_name"), col("table_name"), tsMs, lit(false), col("xid"),
      Cdc.lsnText(col("lsn")))
    val afterFull = struct(col("event_id"), col("user_id"), col("value"), col("props"))
    val afterNoProps = struct(col("event_id"), col("user_id"), col("value"))
    // updates with NO old tuple on the wire (REPLICA IDENTITY DEFAULT,
    // old_kind null) must render "before": null, not an all-null object
    // — a consumer reads {"before":{...nulls...}} as a KNOWN all-null
    // old row and corrupts its replica
    val before = when(col("op_wire") === "U" && col("old_kind").isNotNull,
        struct(col("before_event_id").as("event_id"),
          col("before_user_id").as("user_id"),
          col("before_value").as("value"), col("before_props").as("props")))
      .when(col("op_wire") === "D", afterFull) // delete's tuple IS the old row
    val opts = Map("ignoreNullFields" -> "false")
    def env(after: org.apache.spark.sql.Column) = to_json(graft.model.Envelope.payload(
      op, before, when(col("op_wire").isin("I", "U"), after), source, tsMs), opts)
    when(array_contains(col("unchanged_cols"), "props"),
      env(afterNoProps)).otherwise(env(afterFull))
  }

  /** Batch gate over [[wireEnvelopeCol]]: re-parses its own rendered
    * JSON — `json_object_keys` over the `after` object proves TOAST key
    * absence on the envelope text itself, not a null-valued stand-in.
    * The only shuffle is the final gate sort. */
  def envelopeGate(spark: SparkSession, dir: String, toastEvery: Int = 3,
                   binary: Boolean = false): DataFrame = {
    val wal = decodeSegments(Tables.spread(
      encodeSegments(Tables.events(spark, dir),
        binary = binary, toastEvery = toastEvery), col("segment")))
      .filter(col("op_wire").isin("I", "U", "D"))
    // ONE from_json for the typed fields (a sparse schema parses the
    // envelope once; per-field get_json_object re-parsed it 4×) plus the
    // json_object_keys probe that proves TOAST key ABSENCE — from_json
    // alone can't distinguish a missing key from a null value
    val envSchema = StructType(Seq(
      StructField("op", StringType),
      StructField("before", StructType(Seq(
        StructField("user_id", LongType), StructField("props", StringType)))),
      StructField("after", StructType(Seq(StructField("event_id", LongType)))),
      StructField("source", StructType(Seq(StructField("lsn", StringType))))))
    wal.withColumn("envelope", wireEnvelopeCol())
      .select(col("lsn"),
        from_json(col("envelope"), envSchema).as("env"),
        array_contains(json_object_keys(get_json_object(col("envelope"), "$.after")),
          "props").as("after_has_props_key"))
      .select(
        col("lsn"),
        col("env.op").as("op"),
        col("after_has_props_key"),
        col("env.after.event_id").as("after_event_id"),
        col("env.before.user_id").as("before_user_id"),
        col("env.before.props").as("before_props"),
        col("env.source.lsn").as("source_lsn"))
      .orderBy(col("lsn"))
  }

  /** Streaming twin: the segment files under `segmentsPath`, read by
    * [[graft.sources.SegmentDataSource]], run through the SAME decode
    * flatMap (`replicationhandler.go:115-215`'s socket loop, as a
    * file-fed micro-batch stream). The source lists the directory on the
    * driver and orders files by (mtime, name), so planning a batch runs
    * no Spark job; the files must come from one sequential writer (the
    * tailer, a spool), and one written behind the offset fails the query. */
  def streamDecoded(spark: SparkSession, segmentsPath: String,
                    resolver: graft.types.TypeRegistry.Resolver =
                      graft.types.TypeRegistry.Resolver.empty,
                    markerSuppress: Boolean = false): Dataset[DecodedWal] =
    decodeSegments(spark.readStream.format(classOf[graft.sources.SegmentDataSource].getName)
      .option("path", segmentsPath).load(), resolver, markerSuppress)
}
