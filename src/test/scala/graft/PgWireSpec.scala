package graft

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.cdc.PgOutput
import graft.sources.{PgReplicationClient, PgWire, Scram}

/** [[graft.sources.PgWire]]/[[PgReplicationClient]] against an in-JVM
  * fake walsender speaking the real v3 byte layouts: startup/auth
  * (trust, SCRAM-SHA-256 with a server-side verifier, md5 refusal),
  * optional SSLRequest→TLS upgrade, IDENTIFY_SYSTEM over simple query,
  * START_REPLICATION → CopyBoth, XLogData + keepalive inbound,
  * StandbyStatusUpdate acks outbound, ErrorResponse propagation, and
  * kill-and-resume over multiple sessions. Same pattern as the sink
  * family's fake brokers — the bytes on the wire are the contract under
  * test.
  *
  * The fake is CONFIRM-DRIVEN, matching the client's explicit-ack
  * contract: it never blocks waiting for an ack after a data frame
  * (the client only acks on [[PgReplicationClient.confirm]], keepalive
  * reply requests, and its idle timer). Inbound acks drain on a
  * dedicated reader thread per session, so the stream side is
  * full-duplex like a real walsender. */
class PgWireSpec extends AnyFunSuite {

  import WalFakes._


  // ---- specs ----

  test("full replication session: handshake, identify, stream, confirm-driven acks") {
    val srv = new FakeWalsender()
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      c.handshake()
      assert(srv.startupParams("replication") === "database")
      assert(srv.startupParams("user") === "rep")
      val id = c.identifySystem()
      assert(id.map(_.get) === Seq("7272727272", "1", "0/1000", "events_db"))
      c.startReplication("graft_slot", "graft_pub", PgWire.parseLsn("0/1000"))
      assert(srv.sawStartReplication.head.contains("START_REPLICATION SLOT \"graft_slot\""))
      assert(srv.sawStartReplication.head.contains("proto_version '1'"))
      assert(srv.sawStartReplication.head.contains("0/1000"))
      val got = c.poll(max = 100)
      assert(srv.done.await(5, TimeUnit.SECONDS))
      assert(got.map(_._1) === Seq(0x2000L, 0x2100L, 0x2200L, 0x2600L))
      assert(got.head._2 === PgOutput.BeginMsg(0x2601L, 77000000L, 901))
      got(2)._2 match {
        case PgOutput.InsertMsg(relId, tuple) =>
          assert(relId === PgOutput.EventsRelId)
          assert(tuple.collect { case PgOutput.TextCol(b) => new String(b, UTF_8) }
            .contains("click"))
        case other => fail(s"expected InsertMsg, got $other")
      }
      assert(c.keepalivesSeen === 1L)
      // resume-cursor contract: the keepalive-requested ack (the only
      // ack so far — no confirm has run) reports the PRIMED processed
      // cursor, i.e. the START_REPLICATION position, NOT the keepalive's
      // serverWalEnd and NOT the received frames' end — acking past
      // unconfirmed data is exactly the loss window explicit mode closes
      srv.awaitAcks(1)
      assert(srv.acks.get(0).flushedLsn === 0x1000L)
      // the whole stream surfaced, yet nothing beyond the primed cursor
      // was ever acked before the consumer's confirm
      assert(c.receivedLsn >= 0x2600L)
      srv.acks.forEach(a => assert(a.flushedLsn === 0x1000L,
        s"ack ${a.flushedLsn} exceeds the last confirmed LSN"))
      // the consumer's durable commit advances the acked cursor
      c.confirm(0x2602L)
      srv.awaitAcks(2)
      assert(srv.acks.get(srv.acks.size - 1).flushedLsn === 0x2602L)
      assert(c.flushedLsn === 0x2602L)
    } finally c.close()
  }

  test("ErrorResponse surfaces sqlstate and the server's message") {
    val srv = new FakeWalsender(failSlot = true)
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      c.handshake(); c.identifySystem()
      val e = intercept[java.io.IOException](
        c.startReplication("ghost", "graft_pub", 0L))
      assert(e.getMessage.contains("42704"))
      assert(e.getMessage.contains("does not exist"))
    } finally c.close()
  }

  test("md5 auth is refused loudly, not silently mishandled") {
    val srv = new FakeWalsender(auth = "md5")
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      val e = intercept[Exception](c.handshake())
      assert(e.getMessage.contains("unsupported auth method 5"))
      assert(e.getMessage.contains("scram-sha-256"))
    } finally c.close()
  }

  test("SCRAM-SHA-256: correct password authenticates and streams") {
    val srv = new FakeWalsender(auth = "scram", scramPassword = "s3cret-Pass")
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "s3cret-Pass")
    try {
      c.handshake()
      assert(srv.sawGs2 === "n,,", "plaintext connection must not claim binding support")
      val id = c.identifySystem()
      assert(id.map(_.get).head === "7272727272")
      c.startReplication("graft_slot", "graft_pub", 0L)
      val got = c.poll(max = 100)
      assert(got.map(_._1) === Seq(0x2000L, 0x2100L, 0x2200L, 0x2600L))
    } finally c.close()
  }

  test("SCRAM-SHA-256: wrong password surfaces the server's 28P01") {
    val srv = new FakeWalsender(auth = "scram", scramPassword = "s3cret-Pass")
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "not-the-password")
    try {
      val e = intercept[java.io.IOException](c.handshake())
      assert(e.getMessage.contains("28P01"))
      assert(e.getMessage.contains("password authentication failed"))
    } finally c.close()
  }

  test("SCRAM-SHA-256: tampered server signature aborts the client (mutual auth)") {
    val srv = new FakeWalsender(auth = "scram", scramPassword = "s3cret-Pass",
      tamperSignature = true)
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "s3cret-Pass")
    try {
      val e = intercept[java.io.IOException](c.handshake())
      assert(e.getMessage.contains("SERVER signature mismatch"))
    } finally c.close()
  }

  test("SCRAM-SHA-256: non-ASCII password round-trips through SASLprep") {
    // server stored the verifier from the NFKC-composed form (CREATE
    // ROLE time), the client types the decomposed form — normalize()
    // must make them compute the same SaltedPassword
    val srv = new FakeWalsender(auth = "scram", scramPassword = "café")
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "café")
    try {
      c.handshake()
      assert(c.identifySystem().map(_.get).head === "7272727272")
    } finally c.close()
  }

  test("Scram.normalize: SASLprep mapping and pg_saslprep's raw fallback") {
    // NFKC: decomposed \u2192 composed
    assert(Scram.normalize("cafe\u0301") === "caf\u00e9")
    // B.1 map-to-nothing (soft hyphen, ZWNJ/ZWJ) \u2014 NFKC alone keeps these
    assert(Scram.normalize("pa\u00adss") === "pass")
    assert(Scram.normalize("pa\u200css\u200d") === "pass")
    // C.1.2 non-ASCII space \u2192 U+0020; the zero-width space U+200B is in
    // BOTH B.1 and C.1.2 \u2014 pg_saslprep's map step space-maps it first,
    // so it must become a space, never vanish
    assert(Scram.normalize("a\u00a0b") === "a b")
    assert(Scram.normalize("pa\u200bss") === "pa ss")
    // Every raw-fallback case below rides with U+FB01 (the fi ligature,
    // which NFKC folds to "fi"): the assert then distinguishes the raw
    // path from the NFKC path \u2014 without the rider the two produce the
    // same string and the assert is vacuous. Positive control first:
    assert(Scram.normalize("\ufb01") === "fi")
    // prohibited output falls back to the RAW password (pg_saslprep
    // contract), never throws: control char, unpaired surrogate,
    // supplementary-plane unassigned (surrogate pair in UTF-16)
    assert(Scram.normalize("\ufb01\u0007") === "\ufb01\u0007")
    assert(Scram.normalize("\ufb01\ud800") === "\ufb01\ud800")
    val unassigned = new String(Character.toChars(0xE0080))
    assert(Scram.normalize("\ufb01" + unassigned) === "\ufb01" + unassigned)
    // RFC 3454 C.2.2/C.8/C.9 survivors of NFKC (line separator, RLO
    // override, tag characters): the server flags them and salts the
    // ORIGINAL string, so normalizing here would compute a different
    // SaltedPassword than the stored verifier
    assert(Scram.normalize("\ufb01\u2028") === "\ufb01\u2028")
    val withRlo = "\ufb01\u202ex"
    assert(Scram.normalize(withRlo) === withRlo)
    val withTag = "\ufb01" + new String(Character.toChars(0xE0041))
    assert(Scram.normalize(withTag) === withTag)
    // post-Unicode-3.2 assignments pinned to RFC 3454 A.1's verdict:
    // emoji and cuneiform are unassigned-in-3.2 (raw fallback); Deseret
    // was assigned in 3.2, so it stays on the NFKC path
    val emoji = "\ufb01" + new String(Character.toChars(0x1F600))
    assert(Scram.normalize(emoji) === emoji)
    val cuneiform = "\ufb01" + new String(Character.toChars(0x12000))
    assert(Scram.normalize(cuneiform) === cuneiform)
    val deseret = new String(Character.toChars(0x10400))
    assert(Scram.normalize("\ufb01" + deseret) === "fi" + deseret)
    // RFC 3454 \u00a76 bidi rule: RTL mixed with LTR (or not RTL at both
    // ends) fails SASLprep \u2192 raw; an all-RTL password normalizes fine
    val mixed = "\ufb01\u05d0" // latin ligature + hebrew alef
    assert(Scram.normalize(mixed) === mixed)
    val rtlTrailingDigit = "\u05d0\u05d11" // ends non-RandALCat
    assert(Scram.normalize(rtlTrailingDigit) === rtlTrailingDigit)
    assert(Scram.normalize("\u05d0\u05d1") === "\u05d0\u05d1")
  }

  test("TLS: server answering 'N' is a hard error, no plaintext fallback") {
    val srv = new FakeWalsender(refuseTls = true)
    val c = intercept[java.io.IOException] {
      new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
        sslContext = Some(trustAllCtx)).handshake()
    }
    assert(c.getMessage.contains("refused TLS"))
  }

  test("TLS endpoint identification: cert without a matching SAN fails the handshake") {
    val srv = new FakeWalsender(serverCtx = Some(serverCtxWithSan("dns:nothost.example")))
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      sslContext = Some(trustAllCtx), sslVerifyHostname = true)
    try intercept[javax.net.ssl.SSLException](c.handshake())
    finally c.close()
  }

  test("TLS endpoint identification: matching IP SAN handshakes and streams") {
    val srv = new FakeWalsender(serverCtx = Some(serverCtxWithSan("ip:127.0.0.1")))
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      sslContext = Some(trustAllCtx), sslVerifyHostname = true)
    try {
      c.handshake()
      assert(c.identifySystem().map(_.get).head === "7272727272")
      c.startReplication("graft_slot", "graft_pub", 0L)
      assert(c.poll(max = 100).map(_._1) === Seq(0x2000L, 0x2100L, 0x2200L, 0x2600L))
    } finally c.close()
  }

  test("concurrent confirm() while the reader drains: framing stays intact") {
    // the writeLock contract: a committer thread hammers confirm()
    // (each sends a StandbyStatusUpdate) while the reading thread
    // surfaces frames and may itself send keepalive/idle acks — every
    // outbound byte sequence must stay a valid protocol frame, which
    // the fake proves by PARSING every inbound ack
    val inserts = (0 until 50).map { i =>
      (0x1000L + i * 0x10, PgOutput.encode(PgOutput.InsertMsg(PgOutput.EventsRelId,
        PgOutput.rowTuple(6000L + i, 1700000000000000000L, 7L, "click", 1.0, "{}"))))
    }
    val srv = new FakeWalsender(script = _ => inserts, sendKeepalive = false)
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      c.handshake(); c.identifySystem()
      c.startReplication("graft_slot", "graft_pub", 0L)
      val confirms = 400
      val start = new CountDownLatch(1)
      val committer = new Thread(() => {
        start.await()
        (1 to confirms).foreach(i => c.confirm(0x100000L + i))
      })
      committer.start()
      start.countDown()
      val got = c.poll(max = 1000)
      committer.join(10000)
      assert(!committer.isAlive)
      assert(got.length === 50)
      srv.awaitAcks(confirms)
      assert(srv.ackErrors.isEmpty, s"corrupt acks: ${srv.ackErrors}")
      // acks are sent under the lock in confirm order → monotone cursor
      var prev = 0L
      srv.acks.forEach { a => assert(a.flushedLsn >= prev); prev = a.flushedLsn }
      assert(prev === 0x100000L + confirms)
    } finally c.close()
  }

  test("tailer: socket frames spool to segments the executor decode replays") {
    val spark = SparkSpec.session
    val srv = new FakeWalsender()
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-segments").toString
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      c.handshake(); c.identifySystem()
      c.startReplication("graft_slot", "graft_pub", 0L)
      // 4 frames at 3/segment → one full + one tail rotation
      val finalLsn = graft.sources.PgWireTailer.tail(spark, c, dir, framesPerSegment = 3)
      assert(finalLsn >= 0x2600L)
      assert(srv.done.await(5, TimeUnit.SECONDS))
      val segs = spark.read.schema(PgOutput.frameSchema).parquet(dir)
      assert(segs.count() === 2L, "3+1 frames across two rotations")
      // confirm-per-segment cadence: one ack per parquet commit (plus
      // the keepalive reply), never one per frame
      srv.awaitAcks(3)
      assert(srv.acks.size === 3, s"expected keepalive reply + 2 segment acks, got ${srv.acks.size}")
      // the SAME executor-side decode the fixture path uses replays the
      // spooled wire bytes into typed WAL rows
      val wal = PgOutput.decodeSegments(segs).collect()
      val ins = wal.filter(_.op_wire == "I")
      assert(ins.length === 1)
      assert(ins.head.event_id === Some(4001L))
      assert(ins.head.event_type === Some("click"))
      assert(ins.head.user_id === Some(7L))
    } finally c.close()
  }

  test("tailer rotation replays the relation cache: 1-frame segments decode") {
    // the failure mode the bench caught: a rotation between Relation and
    // its DML orphans the insert from its schema — every segment must be
    // self-contained, so rotations re-emit the cached Relation frames
    val spark = SparkSpec.session
    val srv = new FakeWalsender()
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-seg1").toString
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      c.handshake(); c.identifySystem()
      c.startReplication("graft_slot", "graft_pub", 0L)
      graft.sources.PgWireTailer.tail(spark, c, dir, framesPerSegment = 1)
      assert(srv.done.await(5, TimeUnit.SECONDS))
      val segs = spark.read.schema(PgOutput.frameSchema).parquet(dir)
      assert(segs.count() === 4L, "one segment per frame")
      val wal = PgOutput.decodeSegments(segs).collect()
      val ins = wal.filter(_.op_wire == "I")
      assert(ins.length === 1, "the isolated Insert segment decodes via the replayed Relation")
      assert(ins.head.event_id === Some(4001L))
    } finally c.close()
  }

  test("tailer rotation inside a transaction replays its Begin: every insert keeps the xid") {
    // Begin, Relation, five inserts, Commit at 2 frames a segment: four
    // rotations fall inside the transaction, and each later segment must
    // still decode its inserts under xid 902, not -1
    val spark = SparkSpec.session
    val frames = Seq(0x3000L -> PgOutput.BeginMsg(0x3901L, 78000000L, 902),
      0x3100L -> PgOutput.RelationMsg(PgOutput.EventsRelId, "public", "events",
        'd'.toByte, PgOutput.EventsRelCols)) ++
      (0 until 5).map(i => (0x3200L + i * 0x100) -> PgOutput.InsertMsg(PgOutput.EventsRelId,
        PgOutput.rowTuple(5000L + i, 1700000000000000000L + i, 7L, "click", 1.0, "{}"))) :+
      (0x3900L -> PgOutput.CommitMsg(0, 0x3901L, 0x3902L, 78000000L))
    val srv = new FakeWalsender(
      script = _ => frames.map { case (l, m) => (l, PgOutput.encode(m)) }, sendKeepalive = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-xid").toString
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      c.handshake()
      c.startReplication("graft_slot", "graft_pub", 0L)
      graft.sources.PgWireTailer.tail(spark, c, dir, framesPerSegment = 2)
      assert(srv.done.await(5, TimeUnit.SECONDS))
      val segs = spark.read.schema(PgOutput.frameSchema).parquet(dir)
      assert(segs.count() === 4L, "8 frames at 2 a segment")
      val ins = PgOutput.decodeSegments(segs).collect().filter(_.op_wire == "I")
      assert(ins.flatMap(_.event_id).sorted.toSeq === (5000L until 5005L))
      assert(ins.map(_.xid).toSet === Set(902L), ins.map(r => r.event_id -> r.xid).mkString(", "))
    } finally c.close()
  }

  /** Spool `frames` from a scripted walsender through the tailer into a
    * fresh segment directory. */
  private def tailScript(frames: Seq[(Long, PgOutput.PgMsg)], framesPerSegment: Int,
                         tag: String): String = {
    val srv = new FakeWalsender(
      script = _ => frames.map { case (l, m) => (l, PgOutput.encode(m)) }, sendKeepalive = false)
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
    try {
      c.handshake()
      c.startReplication("graft_slot", "graft_pub", 0L)
      graft.sources.PgWireTailer.tail(SparkSpec.session, c, dir, framesPerSegment)
      assert(srv.done.await(5, TimeUnit.SECONDS))
    } finally c.close()
    dir
  }

  private def marker(lsn: Long, prefix: String) =
    PgOutput.LogicalMsg(transactional = true, lsn, prefix, Array.emptyByteArray)
  private val (markerStart, markerEnd) =
    (graft.cdc.Cdc.DecompressionMarkerStartId, graft.cdc.Cdc.DecompressionMarkerEndId)

  test("tailer rotation inside a marker bracket replays its Start: bracketed inserts drop") {
    // 11 frames at 2 a segment: three rotations fall inside the bracket,
    // and each later segment must still decode under the open bracket
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    def tup(i: Int) = PgOutput.rowTuple(6000L + i, 1700000000000000000L + i, 7L, "signup", 1.0, "{}")
    def ins(i: Int) = PgOutput.InsertMsg(PgOutput.EventsRelId, tup(i))
    val frames = Seq(
      0x4000L -> PgOutput.BeginMsg(0x4b01L, 78000000L, 903),
      0x4100L -> PgOutput.RelationMsg(PgOutput.EventsRelId, "public", "events",
        'd'.toByte, PgOutput.EventsRelCols),
      0x4200L -> ins(0),
      0x4300L -> marker(0x4300L, markerStart),
      0x4400L -> ins(1),
      0x4500L -> ins(2),
      0x4600L -> PgOutput.UpdateMsg(PgOutput.EventsRelId, None, None, tup(3)),
      0x4700L -> ins(4),
      0x4800L -> marker(0x4800L, markerEnd),
      0x4900L -> ins(5),
      0x4a00L -> PgOutput.CommitMsg(0, 0x4b01L, 0x4b02L, 78000000L))
    val dir = tailScript(frames, framesPerSegment = 2, "graft-wire-bracket")
    val segs = spark.read.schema(PgOutput.frameSchema).parquet(dir)
    assert(segs.count() === 6L, "11 frames at 2 a segment")
    val on = PgOutput.decodeSegments(segs, markerSuppress = true).collect()
    assert(on.filter(_.op_wire == "I").flatMap(_.event_id).sorted.toSeq === Seq(6000L, 6005L))
    assert(on.filter(_.op_wire == "M").map(_.lsn).sorted.toSeq === Seq(0x4300L, 0x4800L),
      "one M row per marker frame: the replayed Start is context")
    assert(on.map(_.xid).toSet === Set(903L))
    val off = PgOutput.decodeSegments(segs).toDF()
    assert(off.filter(col("op_wire") === "M").count() === 2L)
    val batch = graft.cdc.Cdc.markerSuppressPrefixed(off.withColumn("op",
        when(col("op_wire") === "I", lit("c")).otherwise(col("op_wire"))))
      .select("lsn").as[Long].collect().sorted
    assert(on.map(_.lsn).sorted.toSeq === batch.toSeq)
  }

  test("marker-mode config stream restarted mid-bracket equals the uninterrupted run") {
    // the tailer's segments land in a config-started marker-mode
    // stream's directory in two steps, cut inside a bracket; AvailableNow
    // after each step on one checkpoint delivers what one run over all
    // segments delivers, and no step keeps a state store
    val spark = SparkSpec.session
    import spark.implicits._
    val sf001 = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "value", "props")
      .orderBy("event_id").as[(Long, Long, Long, Double, String)].take(10)
    def tup(i: Int, et: String) = {
      val (id, ts, uid, v, props) = ev(i)
      PgOutput.rowTuple(id, ts, uid, et, v, Option(props).getOrElse("{}"))
    }
    def ins(i: Int) = PgOutput.InsertMsg(PgOutput.EventsRelId, tup(i, "signup"))
    val msgs: Seq[PgOutput.PgMsg] = Seq(
      PgOutput.BeginMsg(0, 0L, 11),
      PgOutput.RelationMsg(PgOutput.EventsRelId, "public", "events", 'f'.toByte,
        PgOutput.EventsRelCols),
      ins(0), marker(0, markerStart), ins(1), ins(2),                  // cut after ins(2)
      PgOutput.UpdateMsg(PgOutput.EventsRelId, None, None, tup(3, "purchase")),
      ins(4), marker(0, markerEnd), ins(5), PgOutput.CommitMsg(0, 0L, 0L, 0L),
      PgOutput.BeginMsg(0, 0L, 12), marker(0, markerStart), ins(6), ins(7),
      PgOutput.CommitMsg(0, 0L, 0L, 0L),                              // trailing Start
      PgOutput.BeginMsg(0, 0L, 13), ins(8),
      PgOutput.DeleteMsg(PgOutput.EventsRelId, 'O', tup(9, "error")),
      PgOutput.CommitMsg(0, 0L, 0L, 0L))
    val frames = msgs.zipWithIndex.map { case (m, i) => (0x5000L + 0x10L * i) -> m }
    val spool = tailScript(frames, framesPerSegment = 2, "graft-wire-restart-spool")
    val segs = spark.read.schema(PgOutput.frameSchema).parquet(spool)
    assert(segs.count() === 10L)
    def run(steps: Seq[org.apache.spark.sql.DataFrame]): Seq[Long] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-wire-restart").toString
      val sink = new graft.sinks.CollectorSink
      val name = s"collector-${new java.io.File(dir).getName}"
      graft.sinks.Sinks.register(name, () => sink)
      val props = Map(
        "sink.type" -> name,
        "timescaledb.experimental.decompression.markers" -> "true",
        "postgresql.pgoutput.path" -> s"$dir/segments",
        "statestorage.type" -> "file",
        "statestorage.file.path" -> s"$dir/ckpt")
      steps.foreach { step =>
        step.write.mode("append").parquet(s"$dir/segments")
        val q = graft.streaming.ConfigPipeline.start(spark, sf001, props, dir)
        assert(q.awaitTermination(300000), "marker-mode stream did not finish")
        assert(q.recentProgress.nonEmpty &&
          q.recentProgress.forall(_.stateOperators.isEmpty), "no state store on the wire path")
      }
      sink.rows.map(_.getAs[Long]("lsn")).toSeq
    }
    val straight = run(Seq(segs))
    val restarted = run(Seq(segs.filter($"segment" <= 2), segs.filter($"segment" > 2)))
    assert(straight.sorted === Seq(2, 6, 9, 17, 18).map(frames(_)._1),
      "inserts 1, 2, 4 (bracket) and 6, 7 (trailing Start) are suppressed")
    assert(restarted.sorted === straight.sorted)
  }

  test("live chain: streaming decode consumes segments WHILE the tailer spools them") {
    // the full production topology, CONCURRENT: one thread drains the
    // replication socket into rotating segment files (single-reader by
    // protocol) while a Structured Streaming query on the SAME
    // directory decodes them executor-side — segments must become
    // visible to the file source atomically and decode self-contained,
    // mid-spool, not just after the tailer finishes
    val spark = SparkSpec.session
    val rel = 0xF00L -> PgOutput.encode(PgOutput.RelationMsg(PgOutput.EventsRelId,
      "public", "events", 'd'.toByte, PgOutput.EventsRelCols))
    val inserts = (0 until 120).map { i =>
      (0x1000L + i * 0x10, PgOutput.encode(PgOutput.InsertMsg(PgOutput.EventsRelId,
        PgOutput.rowTuple(7000L + i, 1700000000000000000L + i, 7L, "click", 1.0, "{}"))))
    }
    // deterministic overlap: the fake BLOCKS before frame 61 (after six
    // 10-frame segments have committed) until the test has observed
    // streamed rows — no wall-clock luck on loaded hosts
    val gate = new CountDownLatch(1)
    val srv = new FakeWalsender(script = _ => rel +: inserts,
      sendKeepalive = false, gateAtFrame = Some((61, gate)))
    val dir = java.nio.file.Files.createTempDirectory("graft-live-chain").toString
    val q = PgOutput.streamDecoded(spark, dir).toDF()
      .writeStream.format("memory").queryName("live_chain")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    @volatile var tailerDone = false
    val tailer = new Thread(() => {
      val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
      try {
        c.handshake()
        c.startReplication("graft_slot", "graft_pub", 0L)
        graft.sources.PgWireTailer.tail(spark, c, dir, framesPerSegment = 10)
      } finally { tailerDone = true; c.close() }
    })
    tailer.setDaemon(true)
    try {
      tailer.start()
      def delivered(): Long =
        spark.sql("SELECT count(*) FROM live_chain WHERE op_wire = 'I'").head.getLong(0)
      // overlap proof, deterministic: with the fake gated before frame
      // 61, the tailer CANNOT finish until rows have streamed — observe
      // mid-spool delivery, then open the gate
      val deadline = System.nanoTime + 120e9.toLong
      while (delivered() == 0 && System.nanoTime < deadline) Thread.sleep(50)
      assert(delivered() > 0, "no rows streamed while the tailer was mid-spool")
      assert(!tailerDone, "decode must run WHILE the tailer spools, not after")
      gate.countDown()
      while (delivered() < 120 && System.nanoTime < deadline) Thread.sleep(50)
      assert(delivered() === 120L, "every insert decodes end-to-end")
      tailer.join(10000)
      // exactly once at this layer (no crash-restart in this scenario):
      // each insert id appears once, in-order within its segment
      val ids = spark.sql(
        "SELECT event_id FROM live_chain WHERE op_wire = 'I' ORDER BY event_id")
        .collect().map(_.getLong(0))
      assert(ids.toSeq === (0 until 120).map(7000L + _))
    } finally {
      q.stop() // explicit stop: AvailableNow/timer queries must not linger
      spark.sql("DROP TABLE IF EXISTS live_chain")
    }
  }

  test("tailResilient: socket death mid-segment resumes from the committed LSN") {
    // the reference's streamer_databse_gone_test.go scenario: the
    // walsender dies WITHOUT CopyDone mid-stream; the tailer reconnects
    // and resumes from the last parquet-committed cursor — committed
    // frames are never re-spooled, uncommitted ones are re-fetched
    val spark = SparkSpec.session
    val rel = 0x10L -> PgOutput.encode(PgOutput.RelationMsg(PgOutput.EventsRelId,
      "public", "events", 'd'.toByte, PgOutput.EventsRelCols))
    val txns = (0 until 3).flatMap { i =>
      val base = 0x100L * (i + 1)
      Seq(
        base -> PgOutput.encode(PgOutput.BeginMsg(base + 0x50, 77000000L, 901 + i)),
        (base + 0x10) -> PgOutput.encode(PgOutput.InsertMsg(PgOutput.EventsRelId,
          PgOutput.rowTuple(5001L + i, 1700000000000000000L, 7L, "click", 1.0, "{}"))),
        (base + 0x50) -> PgOutput.encode(PgOutput.CommitMsg(0, base + 0x50, base + 0x51,
          77000000L)))
    }
    // a fresh session always re-sends Relation (pgoutput sends it once
    // per SESSION per table), then the WAL from the requested position
    def script(start: Long): Seq[(Long, Array[Byte])] =
      rel +: txns.filter(_._1 >= start)
    val srv = new FakeWalsender(script = script, sendKeepalive = false,
      dieAfterFrames = 5, maxSessions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-resume").toString
    def connect(lsn: Long): PgReplicationClient = {
      val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db")
      c.handshake()
      c.startReplication("graft_slot", "graft_pub", lsn)
      c
    }
    val finalLsn = graft.sources.PgWireTailer.tailResilient(
      spark, connect, 0L, dir, framesPerSegment = 4)
    assert(srv.done.await(5, TimeUnit.SECONDS))
    assert(srv.sawStartReplication.length === 2, "one reconnect after the mid-stream death")
    // the second session resumed ABOVE the committed cursor, not from 0
    assert(srv.sawStartReplication(1).contains("LOGICAL") &&
      !srv.sawStartReplication(1).contains("LOGICAL 0/0"))
    val segs = spark.read.schema(PgOutput.frameSchema).parquet(dir)
    // resume APPENDS segments (nextSegmentIndex), never collides
    val segIds = segs.select("segment").collect().map(_.getLong(0)).sorted
    assert(segIds.distinct.length === segIds.length, "segment ids must not collide")
    assert(segIds.head === 0L && segIds.last === segIds.length - 1, "contiguous append")
    // no loss, and nothing below the committed cursor re-spooled: every
    // insert appears EXACTLY once end-to-end
    val wal = PgOutput.decodeSegments(segs).collect()
    val ids = wal.filter(_.op_wire == "I").flatMap(_.event_id)
    assert(ids.sorted.toSeq === Seq(5001L, 5002L, 5003L),
      s"expected each insert exactly once, got ${ids.toSeq}")
    assert(finalLsn >= 0x351L)
  }

  test("wireProbe dials the postgresql.connection address, both DSN forms") {
    val srv = new FakeWalsender()
    val id = graft.streaming.ConfigPipeline.wireProbe(Map(
      "postgresql.connection" -> s"host=127.0.0.1 port=${srv.port} user=rep dbname=events_db"))
    assert(id.map(_.get) === Seq("7272727272", "1", "0/1000", "events_db"))
    assert(srv.startupParams("user") === "rep")
    assert(srv.startupParams("database") === "events_db")
    val srv2 = new FakeWalsender()
    val id2 = graft.streaming.ConfigPipeline.wireProbe(Map(
      "postgresql.connection" -> s"postgres://rep@127.0.0.1:${srv2.port}/events_db"))
    assert(id2.map(_.get).head === "7272727272")
    // an unreachable walsender fails loudly before any pipeline state
    intercept[java.io.IOException] {
      graft.streaming.ConfigPipeline.wireProbe(Map(
        "postgresql.connection" -> s"host=127.0.0.1 port=1 user=rep"))
    }
  }

  test("SCRAM over TLS: the production combination handshakes and streams") {
    val srv = new FakeWalsender(serverCtx = Some(serverCtxWithSan("ip:127.0.0.1")),
      auth = "scram", scramPassword = "s3cret-Pass")
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "s3cret-Pass", sslContext = Some(trustAllCtx), sslVerifyHostname = true)
    try {
      c.handshake()
      // over TLS with no -PLUS offer, the client ANNOUNCES binding
      // support (gs2 'y') — the RFC 5802 downgrade signal
      assert(srv.sawGs2 === "y,,")
      assert(srv.sawMechanism === Scram.Mechanism)
      c.startReplication("graft_slot", "graft_pub", 0L)
      assert(c.poll(max = 100).map(_._1) === Seq(0x2000L, 0x2100L, 0x2200L, 0x2600L))
    } finally c.close()
  }

  test("channel binding: SCRAM-SHA-256-PLUS binds the server certificate over TLS") {
    // the server advertises -PLUS; the client must pick it and put the
    // RFC 5929 tls-server-end-point hash of the cert IT SAW into c= —
    // the fake verifies against the cert it PRESENTED, like auth-scram.c
    val srv = new FakeWalsender(serverCtx = Some(serverCtxWithSan("ip:127.0.0.1")),
      auth = "scram", scramPassword = "s3cret-Pass", offerPlus = true)
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "s3cret-Pass", sslContext = Some(trustAllCtx))
    try {
      c.handshake()
      assert(srv.sawMechanism === Scram.MechanismPlus)
      assert(srv.sawGs2 === "p=tls-server-end-point,,")
      c.startReplication("graft_slot", "graft_pub", 0L)
      assert(c.poll(max = 100).map(_._1) === Seq(0x2000L, 0x2100L, 0x2200L, 0x2600L))
    } finally c.close()
  }

  test("channel binding: a MITM-terminated channel fails the -PLUS exchange") {
    // the server expects the binding of a DIFFERENT certificate than the
    // one on the client's channel — exactly what a TLS-terminating MITM
    // produces; the exchange must fail even with the RIGHT password
    val srv = new FakeWalsender(serverCtx = Some(serverCtxWithSan("ip:127.0.0.1")),
      auth = "scram", scramPassword = "s3cret-Pass", offerPlus = true,
      wrongCbCert = true)
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "s3cret-Pass", sslContext = Some(trustAllCtx))
    try {
      val e = intercept[java.io.IOException](c.handshake())
      assert(e.getMessage.contains("channel binding"))
    } finally c.close()
  }

  test("channel binding: -PLUS-only server over plaintext is a loud config error") {
    val srv = new FakeWalsender(auth = "scram", scramPassword = "s3cret-Pass",
      offerPlus = true, offerBase = false)
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db",
      password = "s3cret-Pass")
    try {
      val e = intercept[Exception](c.handshake())
      assert(e.getMessage.contains("channel binding") && e.getMessage.contains("TLS"))
    } finally c.close()
  }

  test("wireProbe dials with the configured password and sslmode") {
    // a SCRAM-requiring walsender validates with postgresql.password...
    val srv = new FakeWalsender(auth = "scram", scramPassword = "probe-pw")
    val id = graft.streaming.ConfigPipeline.wireProbe(Map(
      "postgresql.connection" -> s"host=127.0.0.1 port=${srv.port} user=rep dbname=events_db",
      "postgresql.password" -> "probe-pw"))
    assert(id.map(_.get).head === "7272727272")
    // ...and a wrong password surfaces the server's 28P01, not a hang
    val srv2 = new FakeWalsender(auth = "scram", scramPassword = "probe-pw")
    val e = intercept[java.io.IOException] {
      graft.streaming.ConfigPipeline.wireProbe(Map(
        "postgresql.connection" -> s"host=127.0.0.1 port=${srv2.port} user=rep dbname=events_db",
        "postgresql.password" -> "wrong"))
    }
    assert(e.getMessage.contains("28P01"))
    // sslmode=require: encrypt without certificate verification — a
    // self-signed walsender passes (libpq's documented require)
    val srv3 = new FakeWalsender(serverCtx = Some(serverCtxWithSan("ip:127.0.0.1")))
    val id3 = graft.streaming.ConfigPipeline.wireProbe(Map(
      "postgresql.connection" ->
        s"postgres://rep@127.0.0.1:${srv3.port}/events_db?sslmode=require"))
    assert(id3.map(_.get).head === "7272727272")
    // verify-full against a self-signed cert: the JVM default trust
    // store rejects the chain — authenticating modes must not silently
    // degrade to require
    val srv4 = new FakeWalsender(serverCtx = Some(serverCtxWithSan("ip:127.0.0.1")))
    intercept[javax.net.ssl.SSLException] {
      graft.streaming.ConfigPipeline.wireProbe(Map(
        "postgresql.connection" ->
          s"postgres://rep@127.0.0.1:${srv4.port}/events_db?sslmode=verify-full"))
    }
    // unknown modes fail loudly at parse
    intercept[IllegalArgumentException] {
      graft.streaming.ConfigPipeline.wireProbe(Map(
        "postgresql.connection" -> "host=h sslmode=sideways"))
    }
  }

  test("idle stream: proactive standby acks on the status cadence") {
    // PostgreSQL disconnects standbys silent past wal_sender_timeout —
    // with no inbound traffic the client must volunteer status updates
    // on its own timer (the reference's 5 s cadence)
    val server = new ServerSocket(0)
    @volatile var idleAcks = 0
    val done = new CountDownLatch(1)
    val t = new Thread(() => {
      val s = server.accept()
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      def backend(tag: Char, p: Array[Byte]): Unit = {
        out.writeByte(tag); out.writeInt(4 + p.length); out.write(p); out.flush()
      }
      val len = in.readInt(); in.readFully(new Array[Byte](len - 4))
      backend('R', ByteBuffer.allocate(4).putInt(0).array())
      backend('Z', Array('I'.toByte))
      val qt = in.read(); assert(qt == 'Q'); val ql = in.readInt()
      in.readFully(new Array[Byte](ql - 4))
      backend('W', Array[Byte](0, 0, 0))
      // stay SILENT for a fixed wall-clock window, counting the acks
      // that arrive purely from the client's timer (a per-read timeout
      // would never fire — each ack resets it)
      val deadline = System.nanoTime + 900e6.toLong
      s.setSoTimeout(200)
      while (System.nanoTime < deadline) {
        try {
          val tag = in.read(); if (tag < 0) throw new java.io.EOFException
          val l = in.readInt(); val b = new Array[Byte](l - 4); in.readFully(b)
          if (tag == 'd' && b(0) == 'r') idleAcks += 1
        } catch { case _: java.net.SocketTimeoutException => () }
      }
      backend('c', Array.emptyByteArray)
      s.close(); done.countDown()
    })
    t.setDaemon(true); t.start()
    val c = new PgReplicationClient("127.0.0.1", server.getLocalPort, "rep", "db",
      statusIntervalMs = 150)
    try {
      c.handshake()
      c.startReplication("s", "p", 0L)
      assert(c.poll(max = 10).isEmpty, "silent server ends with CopyDone, no frames")
      assert(done.await(5, TimeUnit.SECONDS))
      assert(idleAcks >= 3, s"expected timer-driven acks during ~900ms idle, got $idleAcks")
    } finally { c.close(); server.close() }
  }

  test("tailer: an idle stream spools its last commit and confirms its LSN within one status interval") {
    // one committed transaction, then the sender holds the stream: the
    // segment must not wait for framesPerSegment frames or CopyDone, or
    // the slot's confirmed LSN stays at 0 on a quiet database
    val spark = SparkSpec.session
    val gate = new CountDownLatch(1)
    val frames = Fake.defaultFrames :+ (0x2700L -> PgOutput.BeginMsg(0x2801L, 78000000L, 902))
    val srv = new FakeWalsender(script = _ => frames.map { case (l, m) => (l, PgOutput.encode(m)) },
      sendKeepalive = false, gateAtFrame = Some((4, gate)))
    val commitEnd = 0x2600L + PgOutput.encode(Fake.defaultFrames.last._2).length
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-idle").toString
    val c = new PgReplicationClient("127.0.0.1", srv.port, "rep", "events_db", statusIntervalMs = 300)
    @volatile var tailed: Either[Throwable, Long] = null
    val tailer = new Thread(() => tailed =
      try Right(graft.sources.PgWireTailer.tail(spark, c, dir, framesPerSegment = 1024))
      catch { case e: Throwable => Left(e) })
    try {
      c.handshake()
      c.startReplication("graft_slot", "graft_pub", 0L)
      tailer.setDaemon(true); tailer.start()
      def segments(): Long = scala.util.Try(
        spark.read.schema(PgOutput.frameSchema).parquet(dir).count()).getOrElse(0L)
      val deadline = System.nanoTime + 30e9.toLong
      while ((segments() == 0L || !srv.acks.asScala.exists(_.flushedLsn == commitEnd)) &&
             System.nanoTime < deadline) Thread.sleep(50)
      assert(segments() === 1L, "the committed transaction is spooled while the stream is held")
      val acks = srv.acks.asScala.map(_.flushedLsn)
      assert(acks.contains(commitEnd), s"acks: ${acks.mkString(", ")}")
      // the first idle tick after the Commit delivers it: at most one
      // status update (a tick before the frames arrived) reports less
      assert(acks.count(_ < commitEnd) <= 1, s"acks: ${acks.mkString(", ")}")
      val ins = PgOutput.decodeSegments(spark.read.schema(PgOutput.frameSchema).parquet(dir))
        .collect().filter(_.op_wire == "I")
      assert(ins.flatMap(_.event_id).toSeq === Seq(4001L))
    } finally {
      gate.countDown()
      tailer.join(30000)
      c.close()
    }
    assert(tailed != null && tailed.isRight, s"tail ended with $tailed")
  }

  test("lsnText/parseLsn round-trip the X/Y hex form") {
    Seq(0L, 0x1000L, 0xABCDEF0012345678L, Long.MaxValue).foreach { l =>
      assert(PgWire.parseLsn(PgWire.lsnText(l)) === l)
    }
    assert(PgWire.lsnText(0x100000002L) === "1/2")
  }
}


/** The fake walsender + TLS fixtures, shared by [[PgWireSpec]] (the
  * per-layer wire matrix) and the stitched production-topology case in
  * [[ConfigPipelineSpec]]. Top-level on purpose: the fixture IS the
  * contract surface, not an implementation detail of one suite. */
private[graft] object WalFakes {
  // ---- fake walsender ----

  object Fake {
    /** Default stream script: one Begin/Relation/Insert/Commit txn at
      * LSNs ABOVE the 0/1000 resume point the main test starts from —
      * a server never streams below the requested LSN. */
    val defaultFrames: Seq[(Long, PgOutput.PgMsg)] = Seq(
      0x2000L -> PgOutput.BeginMsg(0x2601L, 77000000L, 901),
      0x2100L -> PgOutput.RelationMsg(PgOutput.EventsRelId, "public", "events",
        'd'.toByte, PgOutput.EventsRelCols),
      0x2200L -> PgOutput.InsertMsg(PgOutput.EventsRelId,
        PgOutput.rowTuple(4001L, 1700000000000000000L, 7L, "click", 1.5, """{"k":"9"}""")),
      0x2600L -> PgOutput.CommitMsg(0, 0x2601L, 0x2602L, 77000000L))
    val defaultScript: Long => Seq[(Long, Array[Byte])] =
      start => defaultFrames.map { case (l, m) => (l, PgOutput.encode(m)) }
        .filter(_._1 >= start)
  }

  /** One fake walsender server. `script(startLsn)` decides the frames a
    * session serves given its START_REPLICATION position, so a
    * reconnecting client resumes mid-script like against a real slot.
    * `dieAfterFrames` hard-closes the FIRST session's socket after N
    * data frames (no CopyDone) — the database-gone scenario. */
  class FakeWalsender(
      failSlot: Boolean = false,
      auth: String = "trust", // trust | md5 | scram
      scramPassword: String = "",
      tamperSignature: Boolean = false,
      refuseTls: Boolean = false,
      serverCtx: Option[javax.net.ssl.SSLContext] = None,
      offerPlus: Boolean = false,    // advertise SCRAM-SHA-256-PLUS
      offerBase: Boolean = true,     // advertise plain SCRAM-SHA-256
      wrongCbCert: Boolean = false,  // MITM analog: expect a different cert's binding
      script: Long => Seq[(Long, Array[Byte])] = Fake.defaultScript,
      sendKeepalive: Boolean = true,
      keepaliveLsn: Long = 0x100L,
      dieAfterFrames: Int = Int.MaxValue,
      frameDelayMs: Long = 0, // pace the stream (live-chain overlap tests)
      // hold the stream before writing frame N until the latch opens —
      // DETERMINISTIC overlap for the live-chain test (no wall-clock luck)
      gateAtFrame: Option[(Int, CountDownLatch)] = None,
      maxSessions: Int = 1) {
    val server = new ServerSocket(0)
    val port: Int = server.getLocalPort
    @volatile var startupParams: Map[String, String] = Map.empty
    @volatile var sawStartReplication: List[String] = Nil
    @volatile var sawMechanism: String = ""
    @volatile var sawGs2: String = ""
    val acks = new java.util.concurrent.CopyOnWriteArrayList[PgOutput.StandbyStatusUpdate]()
    val ackErrors = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val done = new CountDownLatch(1)

    def awaitAcks(n: Int, timeoutMs: Long = 5000): Unit = {
      val deadline = System.nanoTime + timeoutMs * 1000000L
      while (acks.size < n && System.nanoTime < deadline) Thread.sleep(5)
      assert(acks.size >= n, s"expected >=$n acks, got ${acks.size} after ${timeoutMs}ms")
    }

    private def writeBackend(o: DataOutputStream, tag: Char, payload: Array[Byte]): Unit = {
      o.writeByte(tag); o.writeInt(4 + payload.length); o.write(payload); o.flush()
    }
    private def cstr(b: ByteArrayOutputStream, s: String): Unit = {
      b.write(s.getBytes(UTF_8)); b.write(0)
    }
    private def xlogData(lsn: Long, msg: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(25 + msg.length)
      bb.put('w'.toByte).putLong(lsn).putLong(lsn + msg.length).putLong(0L).put(msg)
      bb.array()
    }
    private def errorResponse(o: DataOutputStream, sqlstate: String, msg: String): Unit = {
      val e = new ByteArrayOutputStream()
      e.write('S'); cstr(e, "FATAL"); e.write('C'); cstr(e, sqlstate)
      e.write('M'); cstr(e, msg); e.write(0)
      writeBackend(o, 'E', e.toByteArray)
    }

    /** Server half of the SCRAM-SHA-256(-PLUS) exchange, verifying the
      * proof against the verifier PostgreSQL would store at CREATE ROLE
      * time (SASLprep'd password → StoredKey) and, on -PLUS, the RFC
      * 5929 channel binding against its OWN certificate — the same
      * checks a real server's auth-scram.c performs. Returns false on
      * a rejection. */
    private def scramServe(in: DataInputStream, out: DataOutputStream,
                           sock: java.net.Socket): Boolean = {
      val mech = new ByteArrayOutputStream()
      mech.write(ByteBuffer.allocate(4).putInt(10).array())
      if (offerPlus) cstr(mech, Scram.MechanismPlus)
      if (offerBase) cstr(mech, Scram.Mechanism)
      mech.write(0)
      writeBackend(out, 'R', mech.toByteArray)
      val t1 = in.read(); assert(t1 == 'p', s"expected SASLInitialResponse, got $t1")
      val l1 = in.readInt(); val b1 = new Array[Byte](l1 - 4); in.readFully(b1)
      val bb = ByteBuffer.wrap(b1)
      val mname = { val sb = new StringBuilder; var c = bb.get()
        while (c != 0) { sb.append(c.toChar); c = bb.get() }; sb.toString }
      assert(mname == Scram.Mechanism || mname == Scram.MechanismPlus, mname)
      sawMechanism = mname
      val rl = bb.getInt; val resp = new Array[Byte](rl); bb.get(resp)
      val clientFirst = new String(resp, UTF_8)
      val gs2End = clientFirst.indexOf(",,") + 2
      assert(gs2End >= 2, s"bad gs2 header in '$clientFirst'")
      val gs2 = clientFirst.substring(0, gs2End)
      sawGs2 = gs2
      // downgrade protection (auth-scram.c): a client announcing
      // binding support with 'y' while the server ADVERTISED -PLUS
      // means something stripped the offer — reject
      if (offerPlus && gs2.startsWith("y")) {
        errorResponse(out, "28000", "channel binding required but client chose 'y'")
        return false
      }
      val clientFirstBare = clientFirst.substring(gs2End)
      val clientNonce = Scram.attrs(clientFirstBare)('r')
      val serverNonce = clientNonce + "FAKESRVNONCE"
      val salt = "pepper-salt-16b!".getBytes(UTF_8)
      val iters = 4096
      val serverFirst = s"r=$serverNonce,s=${Scram.b64(salt)},i=$iters"
      writeBackend(out, 'R', ByteBuffer.allocate(4 + serverFirst.length)
        .putInt(11).put(serverFirst.getBytes(UTF_8)).array())
      val t2 = in.read(); assert(t2 == 'p', s"expected SASLResponse, got $t2")
      val l2 = in.readInt(); val b2 = new Array[Byte](l2 - 4); in.readFully(b2)
      val clientFinal = new String(b2, UTF_8)
      val a = Scram.attrs(clientFinal)
      assert(a('r') == serverNonce, "client must echo the full combined nonce")
      // channel-binding check: c= must carry gs2 ++ the hash of the
      // certificate THIS server presented on THIS connection
      val expectedCb: Array[Byte] =
        if (mname == Scram.MechanismPlus) {
          if (wrongCbCert) // MITM analog: the client bound a different channel
            java.security.MessageDigest.getInstance("SHA-256")
              .digest("not-the-cert-the-client-saw".getBytes(UTF_8))
          else PgWire.tlsServerEndPoint(
            sock.asInstanceOf[javax.net.ssl.SSLSocket].getSession
              .getLocalCertificates.head
              .asInstanceOf[java.security.cert.X509Certificate])
        } else Array.emptyByteArray
      if (a('c') != Scram.b64(gs2.getBytes(UTF_8) ++ expectedCb)) {
        errorResponse(out, "28000", "channel binding check failed")
        return false
      }
      val proof = Scram.unb64(a('p'))
      val clientFinalNoProof = clientFinal.substring(0, clientFinal.lastIndexOf(",p="))
      val authMessage = s"$clientFirstBare,$serverFirst,$clientFinalNoProof"
      val salted = Scram.saltedPassword(scramPassword, salt, iters)
      val stored = Scram.storedKey(Scram.clientKey(salted))
      if (!Scram.verifyClientProof(proof, stored, authMessage)) {
        errorResponse(out, "28P01", s"password authentication failed for user \"rep\"")
        return false
      }
      val sig = Scram.serverSignature(salted, authMessage)
      if (tamperSignature) sig(0) = (sig(0) ^ 0x55).toByte
      val fin = s"v=${Scram.b64(sig)}"
      writeBackend(out, 'R', ByteBuffer.allocate(4 + fin.length)
        .putInt(12).put(fin.getBytes(UTF_8)).array())
      writeBackend(out, 'R', ByteBuffer.allocate(4).putInt(0).array())
      true
    }

    private def serveSession(raw: java.net.Socket, isFirst: Boolean): Unit = {
      var sock = raw
      var in = new DataInputStream(sock.getInputStream)
      var out = new DataOutputStream(sock.getOutputStream)
      // startup (or SSLRequest first): Int32 len (self-inclusive), Int32 code
      var len = in.readInt()
      var code = in.readInt()
      if (code == PgWire.SslRequestCode) {
        if (refuseTls) { out.write('N'); out.flush(); sock.close(); return }
        out.write('S'); out.flush()
        val ssl = serverCtx.get.getSocketFactory
          .createSocket(sock, "127.0.0.1", port, true).asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(false)
        ssl.startHandshake()
        sock = ssl
        in = new DataInputStream(sock.getInputStream)
        out = new DataOutputStream(sock.getOutputStream)
        len = in.readInt(); code = in.readInt()
      }
      assert(code == PgWire.ProtocolV3, s"expected v3 startup, got $code")
      val body = new Array[Byte](len - 8); in.readFully(body)
      val bb = ByteBuffer.wrap(body)
      val params = scala.collection.mutable.Map[String, String]()
      while (bb.remaining() > 1) {
        def cstrAt(): String = {
          val sb = new StringBuilder; var c = bb.get()
          while (c != 0) { sb.append(c.toChar); c = bb.get() }
          sb.toString()
        }
        val k = cstrAt(); if (k.nonEmpty) params(k) = cstrAt()
      }
      startupParams = params.toMap
      auth match {
        case "md5" => // demand md5: client must refuse loudly
          writeBackend(out, 'R',
            ByteBuffer.allocate(8).putInt(5).putInt(0x01020304).array())
          sock.close(); return
        case "scram" =>
          if (!scramServe(in, out, sock)) { sock.close(); return }
        case _ =>
          writeBackend(out, 'R', ByteBuffer.allocate(4).putInt(0).array())
      }
      val ps = new ByteArrayOutputStream(); cstr(ps, "server_version"); cstr(ps, "16.3")
      writeBackend(out, 'S', ps.toByteArray)
      writeBackend(out, 'K', ByteBuffer.allocate(8).putInt(7).putInt(42).array())
      writeBackend(out, 'Z', Array('I'.toByte))
      // simple-query loop: IDENTIFY_SYSTEM then START_REPLICATION; a
      // client that closes after identify (wireProbe) ends the session
      def readQuery(): Option[String] = {
        val tag = in.read()
        if (tag < 0 || tag == 'X') return None
        assert(tag == 'Q', s"expected Q got $tag")
        val l = in.readInt(); val b = new Array[Byte](l - 4); in.readFully(b)
        Some(new String(b, 0, b.length - 1, UTF_8))
      }
      // IDENTIFY_SYSTEM is optional — a resuming tailer may go straight
      // to START_REPLICATION (it already knows the system identity)
      var q = readQuery()
      q match {
        case Some("IDENTIFY_SYSTEM") =>
          val rd = new ByteArrayOutputStream(); val ro = new DataOutputStream(rd)
          ro.writeShort(4)
          Seq("systemid", "timeline", "xlogpos", "dbname").foreach { n =>
            cstr(rd, n); ro.writeInt(0); ro.writeShort(0); ro.writeInt(25)
            ro.writeShort(-1); ro.writeInt(-1); ro.writeShort(0)
          }
          writeBackend(out, 'T', rd.toByteArray)
          val dr = new ByteArrayOutputStream(); val dro = new DataOutputStream(dr)
          dro.writeShort(4)
          Seq("7272727272", "1", "0/1000", "events_db").foreach { v =>
            val b = v.getBytes(UTF_8); dro.writeInt(b.length); dro.write(b)
          }
          writeBackend(out, 'D', dr.toByteArray)
          val cc = new ByteArrayOutputStream(); cstr(cc, "IDENTIFY_SYSTEM")
          writeBackend(out, 'C', cc.toByteArray)
          writeBackend(out, 'Z', Array('I'.toByte))
          q = readQuery()
        case _ => () // fall through: q is already START_REPLICATION (or EOF)
      }
      val start = q match {
        case Some(sql) =>
          assert(sql.startsWith("START_REPLICATION"), s"expected START_REPLICATION, got $sql")
          sawStartReplication = sawStartReplication :+ sql
          val m = """LOGICAL ([0-9A-Fa-f]+/[0-9A-Fa-f]+)""".r.findFirstMatchIn(sql)
          PgWire.parseLsn(m.get.group(1))
        case None => sock.close(); return
      }
      if (failSlot) {
        errorResponse(out, "42704", "replication slot \"ghost\" does not exist")
        sock.close(); return
      }
      writeBackend(out, 'W', Array[Byte](0, 0, 0)) // CopyBoth, 0 cols
      // full duplex from here: a reader thread drains inbound acks
      // (the confirm-driven contract — the server NEVER waits for an
      // ack to keep streaming), the session thread writes the script
      val reader = new Thread(() => {
        try {
          var open = true // no `return` in a lambda: NonLocalReturnControl
          while (open) {
            val tag = in.read()
            if (tag < 0 || tag == 'X') open = false
            else {
              val l = in.readInt(); val b = new Array[Byte](l - 4); in.readFully(b)
              if (tag == 'd' && b.nonEmpty && b(0) == 'r')
                try acks.add(PgOutput.decodeStatusUpdate(b))
                catch { case e: Exception => ackErrors.add(e.getMessage) }
            }
          }
        } catch { case _: java.io.IOException => () }
        finally { try sock.close() catch { case _: Exception => () } }
      })
      reader.setDaemon(true); reader.start()
      if (sendKeepalive && isFirst)
        writeBackend(out, 'd', PgOutput.encodeKeepalive(
          PgOutput.PrimaryKeepalive(keepaliveLsn, 0L, replyRequested = true)))
      var sent = 0
      var died = false
      script(start).foreach { case (lsn, msg) =>
        if (!died) {
          if (frameDelayMs > 0) Thread.sleep(frameDelayMs)
          gateAtFrame.foreach { case (n, latch) =>
            if (sent == n) assert(latch.await(120, TimeUnit.SECONDS), "gate timed out")
          }
          writeBackend(out, 'd', xlogData(lsn, msg))
          sent += 1
          if (isFirst && sent >= dieAfterFrames) {
            // database-gone: hard close, NO CopyDone — the client must
            // treat this as a retryable stream death
            sock.close(); died = true
          }
        }
      }
      // CopyDone ends the stream; the reader keeps draining late
      // confirm-driven acks until the client terminates, and closes the
      // socket on its way out — the session thread must NOT wait for it
      if (!died) writeBackend(out, 'c', Array.emptyByteArray)
    }

    private def serve(): Unit = {
      var session = 0
      try {
        while (session < maxSessions) {
          val s = server.accept()
          session += 1
          try serveSession(s, session == 1)
          catch { case _: java.io.IOException => () } // client aborted mid-handshake
        }
      } finally done.countDown()
    }
    val thread = new Thread(() => serve())
    thread.setDaemon(true); thread.start()
  }

  /** The production sslmode=require context: trust-all by DESIGN
    * (libpq's require performs no certificate verification) — the specs
    * exercising endpoint identification use the same helper the config
    * path ships, so a change there is a change here. */
  def trustAllCtx: javax.net.ssl.SSLContext =
    PgWire.permissiveTlsContext()

  /** Self-signed server context, SAN controlled by the caller — the
    * same keytool recipe as the kafka/redis sink TLS specs. */
  def serverCtxWithSan(san: String): javax.net.ssl.SSLContext = {
    val ksPath = java.nio.file.Files.createTempFile("graft-pgwire-tls", ".p12")
    java.nio.file.Files.delete(ksPath)
    val keytool = new ProcessBuilder(
      s"${sys.props("java.home")}/bin/keytool", "-genkeypair", "-alias", "pg",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath.toString, "-storepass", "changeit",
      "-dname", "CN=fakewalsender", "-ext", s"san=$san",
      "-validity", "1").redirectErrorStream(true).start()
    assert(keytool.waitFor() == 0, "keytool keypair generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksPath.toFile)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }
}
