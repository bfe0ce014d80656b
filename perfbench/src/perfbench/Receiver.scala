package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.JsonNode

/** One delivered record as the receiver saw it. `status`: 0 = a valid
  * envelope whose fields were decoded, 1 = malformed. */
final class RecordLog {
  private val Initial = 1 << 10
  private var n = 0
  var arrival, lsn, eventId, userId, txId: Array[Long] = _
  var op, status: Array[Byte] = _
  var conn: Array[Int] = _
  var topic: Array[String] = _
  clear()
  def size: Int = n
  /** Forget every record and release the storage. */
  def clear(): Unit = {
    n = 0
    arrival = new Array(Initial); lsn = new Array(Initial); eventId = new Array(Initial)
    userId = new Array(Initial); txId = new Array(Initial); op = new Array(Initial)
    status = new Array(Initial); conn = new Array(Initial); topic = new Array(Initial)
  }
  def add(t: Long, l: Long, o: Byte, e: Long, u: Long, x: Long, s: Byte, c: Int, tp: String): Unit = {
    if (n == lsn.length) {
      val m = n * 2
      arrival = java.util.Arrays.copyOf(arrival, m); lsn = java.util.Arrays.copyOf(lsn, m)
      op = java.util.Arrays.copyOf(op, m); eventId = java.util.Arrays.copyOf(eventId, m)
      userId = java.util.Arrays.copyOf(userId, m); status = java.util.Arrays.copyOf(status, m)
      conn = java.util.Arrays.copyOf(conn, m); topic = java.util.Arrays.copyOf(topic, m)
      txId = java.util.Arrays.copyOf(txId, m)
    }
    arrival(n) = t; lsn(n) = l; op(n) = o; eventId(n) = e; userId(n) = u
    txId(n) = x; status(n) = s; conn(n) = c; topic(n) = tp
    n += 1
  }
}

/** Decodes one Kafka record against the Debezium envelope contract of
  * the events table: value `{"payload":P,"schema":S}`, key
  * `{"payload":{"event_id":N},"schema":K}`, read by a strict Jackson
  * parser (duplicate members and trailing bytes rejected). Every payload
  * is parsed in full. The `"schema":S}` tail is parsed in full the first
  * time its bytes are seen and matched by bytes after that: every record
  * repeats it, it is about three quarters of the bytes, and parsing it
  * each time more than doubles the receiver's CPU time, which competes
  * with the engine for the same cores.
  * Throws [[EnvelopeCheck.Malformed]] on any violation. */
final class EnvelopeCheck {
  import EnvelopeCheck._
  import com.fasterxml.jackson.core.JsonToken.{END_OBJECT, START_OBJECT}
  final case class Rec(lsn: Long, op: Byte, eventId: Long, userId: Long, txId: Long)
  @volatile private var knownTails = Vector.empty[Array[Byte]]

  private def bad(m: String): Nothing = throw new Malformed(m)

  private def knownTail(b: Array[Byte], at: Int): Boolean =
    knownTails.exists(t => t.length == b.length - at && java.util.Arrays.equals(b, at, b.length, t, 0, t.length))

  /** The payload of `{"payload":P,"schema":S}`. */
  private def payload(b: Array[Byte], what: String): JsonNode = {
    val p = Reader.createParser(b)
    try {
      if (p.nextToken() != START_OBJECT || p.nextFieldName() != "payload") bad(s"$what does not start with payload")
      p.nextToken()
      val pl = obj(Reader.readTree[JsonNode](p), s"$what payload")
      if (p.nextFieldName() != "schema") bad(s"$what: schema does not follow the payload")
      val at = p.currentTokenLocation().getByteOffset.toInt
      if (!knownTail(b, at)) {
        p.nextToken(); p.skipChildren()
        if (p.nextToken() != END_OBJECT || p.nextToken() != null) bad(s"$what: bytes after the schema")
        synchronized { if (knownTails.length < 16) knownTails :+= java.util.Arrays.copyOfRange(b, at, b.length) }
      }
      pl
    } catch {
      case e: java.io.IOException => bad(s"$what: ${e.getMessage}")
    } finally p.close()
  }

  private def obj(v: JsonNode, what: String): JsonNode =
    if (v != null && v.isObject) v else bad(s"$what is not an object")
  private def long(m: JsonNode, k: String): Long = {
    val v = m.get(k)
    if (v != null && v.isIntegralNumber && v.canConvertToLong) v.asLong else bad(s"$k is not an integer")
  }
  private def str(m: JsonNode, k: String): String = {
    val v = m.get(k)
    if (v != null && v.isTextual) v.asText else bad(s"$k is not a string")
  }

  def lsnFromText(s: String): Long = {
    val slash = s.indexOf('/')
    if (slash <= 0) bad(s"lsn text $s")
    try (java.lang.Long.parseLong(s.substring(0, slash), 16) << 32) |
      java.lang.Long.parseLong(s.substring(slash + 1), 16)
    catch { case _: NumberFormatException => bad(s"lsn text $s") }
  }

  def check(key: Array[Byte], value: Array[Byte]): Rec = {
    if (key == null || value == null) bad("null key or value")
    val pl = payload(value, "envelope")
    val op = str(pl, "op")
    val src = obj(pl.get("source"), "source")
    if (str(src, "schema") != "public" || str(src, "table") != "events") bad("source table")
    val lsn = lsnFromText(str(src, "lsn"))
    val txId = long(src, "txId")
    long(pl, "ts_ms")
    val row = op match {
      case "c" =>
        if (pl.has("before")) bad("insert carries before")
        obj(pl.get("after"), "after")
      case "u" =>
        val a = obj(pl.get("after"), "after")
        val b = obj(pl.get("before"), "before")
        if (long(a, "event_id") != long(b, "event_id")) bad("update changes the key")
        a
      case "d" =>
        if (pl.has("after")) bad("delete carries after")
        obj(pl.get("before"), "before")
      case other => bad(s"op $other")
    }
    val eventId = long(row, "event_id")
    val userId = long(row, "user_id")
    long(row, "value_cents")
    obj(row.get("props"), "props")
    if (long(payload(key, "key"), "event_id") != eventId) bad("key does not match the row")
    Rec(lsn, op.charAt(0).toByte, eventId, userId, txId)
  }
}

object EnvelopeCheck {
  import com.fasterxml.jackson.core.StreamReadFeature
  import com.fasterxml.jackson.databind.json.JsonMapper

  final class Malformed(msg: String) extends RuntimeException(msg)

  private val Reader = JsonMapper.builder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .build()
}

/** Loopback Kafka broker owned by the benchmark: accepts Produce v3
  * requests, verifies each RecordBatch CRC32C, decodes and checks every
  * record, logs it in broker append order and acknowledges success. */
final class KafkaReceiver(check: EnvelopeCheck) extends AutoCloseable {
  private val server =
    new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
  val port: Int = server.getLocalPort
  val log = new RecordLog
  @volatile private var running = true
  private val conns = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
  private val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
  private val nextConn = new java.util.concurrent.atomic.AtomicInteger(0)
  val requests = new java.util.concurrent.atomic.AtomicLong(0)
  val bytes = new java.util.concurrent.atomic.AtomicLong(0)
  /** CPU time spent by the receiver's own threads (it shares the host
    * with the engine under test). */
  val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0)

  def size: Int = log.synchronized(log.size)

  /** Forget everything received (between repeated operations). */
  def reset(): Unit = log.synchronized {
    log.clear(); requests.set(0); bytes.set(0); cpuNanos.set(0)
  }

  /** Block until at least `n` records were logged or the deadline passes. */
  def awaitRecords(n: Int, timeoutMs: Long): Boolean = log.synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (log.size < n && System.currentTimeMillis() < deadline)
      log.wait(math.max(1L, math.min(100L, deadline - System.currentTimeMillis())))
    log.size >= n
  }

  private def readVarlong(in: DataInputStream): Long = {
    var z = 0L; var shift = 0; var b = 0
    do {
      b = in.read()
      if (b < 0) throw new java.io.EOFException("varint truncated")
      z |= (b & 0x7fL) << shift; shift += 7
    } while ((b & 0x80) != 0)
    (z >>> 1) ^ -(z & 1)
  }

  private def readBytes(in: DataInputStream): Array[Byte] = {
    val n = readVarlong(in).toInt
    if (n < 0) null else { val a = new Array[Byte](n); in.readFully(a); a }
  }

  private def serve(s: java.net.Socket, connId: Int): Unit = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val in = new DataInputStream(new BufferedInputStream(s.getInputStream, 1 << 16))
    val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream))
    try {
      while (running) {
        val size = try in.readInt() catch { case _: java.io.EOFException => return }
        val req = new Array[Byte](size); in.readFully(req)
        val t = System.nanoTime()
        val cpu0 = bean.getCurrentThreadCpuTime
        val r = new DataInputStream(new ByteArrayInputStream(req))
        def rstr(): String = {
          val n = r.readShort(); val b = new Array[Byte](n); r.readFully(b); new String(b, UTF_8)
        }
        // anything but Produce v3 ends the connection: its records go missing
        if (r.readShort() != 0 || r.readShort() != 3) return
        val corr = r.readInt()
        rstr(); r.readShort(); r.readShort(); r.readInt() // client, txn id, acks, timeout
        val nTopics = r.readInt()
        val decoded = new scala.collection.mutable.ArrayBuffer[(String, Array[Byte], Array[Byte])]()
        var crcOk = true
        val topics = (0 until nTopics).map { _ =>
          val topic = rstr()
          val nParts = r.readInt()
          val parts = (0 until nParts).map { _ =>
            val partition = r.readInt()
            val tp = s"$topic/$partition"
            val setSize = r.readInt()
            val batch = new Array[Byte](setSize); r.readFully(batch)
            val b = new DataInputStream(new ByteArrayInputStream(batch))
            b.readLong(); b.readInt(); b.readInt() // baseOffset, batchLength, leader epoch
            if (b.read() != 2) crcOk = false
            val crc = b.readInt()
            val tail = new Array[Byte](setSize - 21); b.readFully(tail)
            val c = new java.util.zip.CRC32C(); c.update(tail)
            if (c.getValue.toInt != crc) crcOk = false
            val tb = new DataInputStream(new ByteArrayInputStream(tail))
            tb.readShort(); tb.readInt(); tb.readLong(); tb.readLong(); tb.readLong()
            tb.readShort(); tb.readInt()
            val n = tb.readInt()
            (0 until n).foreach { _ =>
              readVarlong(tb); tb.read(); readVarlong(tb); readVarlong(tb)
              val k = readBytes(tb); val v = readBytes(tb)
              val nh = readVarlong(tb).toInt
              (0 until nh).foreach { _ => readBytes(tb); readBytes(tb) }
              decoded += ((tp, k, v))
            }
            partition
          }
          (topic, parts)
        }
        val checked = decoded.map { case (tp, k, v) =>
          bytes.addAndGet((if (k == null) 0 else k.length) + (if (v == null) 0 else v.length).toLong)
          try {
            if (!crcOk) throw new EnvelopeCheck.Malformed("record batch CRC32C mismatch")
            val rec = check.check(k, v)
            (tp, rec.lsn, rec.op, rec.eventId, rec.userId, rec.txId, 0.toByte)
          } catch {
            case _: EnvelopeCheck.Malformed => (tp, -1L, 0.toByte, -1L, -1L, -1L, 1.toByte)
          }
        }
        // one request appends atomically, like a partition log append
        log.synchronized {
          checked.foreach { case (tp, l, o, e, u, x, st) => log.add(t, l, o, e, u, x, st, connId, tp) }
          requests.incrementAndGet()
          log.notifyAll()
        }
        val resp = new ByteArrayOutputStream()
        val d = new DataOutputStream(resp)
        d.writeInt(corr)
        d.writeInt(topics.length)
        topics.foreach { case (tn, parts) =>
          val tb = tn.getBytes(UTF_8); d.writeShort(tb.length); d.write(tb)
          d.writeInt(parts.length)
          parts.foreach { p => d.writeInt(p); d.writeShort(0); d.writeLong(0L); d.writeLong(-1L) }
        }
        d.writeInt(0)
        cpuNanos.addAndGet(bean.getCurrentThreadCpuTime - cpu0)
        out.writeInt(resp.size()); resp.writeTo(out); out.flush()
      }
    } catch {
      case _: java.io.IOException => () // a cut request's records go missing
    } finally s.close()
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        s.setTcpNoDelay(true) // as Kafka brokers do
        conns.add(s)
        val id = nextConn.incrementAndGet()
        val t = new Thread(() => serve(s, id), s"perfbench-kafka-$id")
        t.setDaemon(true); threads.add(t); t.start()
      } catch { case _: java.io.IOException => () }
    }
  }, "perfbench-kafka-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running = false
    server.close()
    conns.forEach(s => try s.close() catch { case _: Exception => () })
    acceptor.join(5000)
    threads.forEach(_.join(5000))
  }
}
