package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Minimal producer speaking the public Kafka wire protocol — the last
  * sink backend without a real client (`internal/eventing/sink/kafka/
  * kafka.go:100-125`: sarama SyncProducer, acks=WaitForAll, per-event
  * `StringEncoder` key/value on the topic). No client library exists in
  * this environment, so this speaks the documented protocol directly:
  * one `Produce` (api key 0, version 3) request per chunk of
  * `maxBatchRecords` rows, records packed as a message-format-v2
  * `RecordBatch` — varint/zigzag record fields, CRC32C (JDK
  * `java.util.zip.CRC32C`) over the attributes..records span, acks=-1.
  * A nonzero partition error code throws, so `Sinks.withRetry` supplies
  * sarama's retry semantics.
  *
  * Each sink task owns one connection and keeps up to
  * [[KafkaWire.MaxInFlight]] (5) Produce requests unanswered on it, the
  * default of the Java client's `max.in.flight.requests.per.connection`
  * and sarama's `Net.MaxOpenRequests`: the next chunk renders while
  * earlier requests are on the wire. Keys and values are copied once,
  * as bytes, from Spark's rows into request buffers the connection
  * reuses ([[KafkaWire.ProduceRequest]]). Dial, every write and every
  * response read are bounded by `timeoutMs`.
  *
  * Ordering: with several requests in flight and no idempotent
  * producer, a batch that failed and is retried by `Sinks.withRetry`
  * can land after records of later requests that succeeded — the Java
  * client documents the same for `max.in.flight > 1` without
  * idempotence. The engine's ordering contract is per key (SURVEY
  * §7.4), and partition 0 is already written from parallel tasks.
  *
  * Deliberate minimalism, documented: no Metadata round-trip (rows are
  * produced to partition 0 of the bootstrap broker — leader routing is
  * a multi-broker concern) and no InitProducerId (the reference's
  * `Idempotent(true)` stays config-level; delivery here is the same
  * at-least-once the rest of the sink family contracts). Reads the
  * (topic, key, envelope) columns as strings.
  */
final case class KafkaWireSink(
    bootstrap: String,
    clientId: String = "graft",
    timeoutMs: Int = 30000,
    maxBatchRecords: Int = 500,
    // SASL PLAIN (`kafka.go:53-66`, sarama SASLTypePlaintext): when a
    // username is set, every connection runs SaslHandshake(v1) +
    // SaslAuthenticate(v0) before its first Produce. Other mechanisms
    // (SCRAM, GSSAPI) are unsupported.
    saslUsername: String = "",
    saslPassword: String = "",
    // TLS (`kafka.go:66-77`, sarama Net.TLS): JDK SSLEngine over the
    // same socket path. skipVerify ≙ tls.Config.InsecureSkipVerify —
    // trust any chain, no hostname check (test/self-signed brokers);
    // the verified path uses the JVM default trust store WITH HTTPS
    // endpoint identification, sarama's default stance.
    tlsEnabled: Boolean = false,
    tlsSkipVerify: Boolean = false) extends Sink {
  def name = "kafka-wire"

  def emit(batch: DataFrame, batchId: Long): Unit = {
    val address = bootstrap
    val client  = clientId
    val timeout = timeoutMs
    val chunkSz = maxBatchRecords
    val (user, pass) = (saslUsername, saslPassword)
    val (tls, tlsSkip) = (tlsEnabled, tlsSkipVerify)
    // internal rows: the UTF-8 bytes go from Spark's row memory straight
    // into the request buffer, with no String in between
    val qe = batch.select(Seq("topic", "key", "envelope").map(c => col(c).cast(StringType)): _*)
      .queryExecution
    SQLExecution.withNewExecutionId(qe, Some("kafka-wire")) {
      qe.toRdd.foreachPartition { (rows: Iterator[InternalRow]) =>
        if (rows.hasNext) {                // empty partition: don't even dial
          val (host, port) = Sinks.hostPort(address, 9092)
          val sock = Sinks.dialSocket(host, port, tls, tlsSkip, timeout, timeout, timeout)
          try {
            sock.setTcpNoDelay(true)       // as Kafka's own clients do
            val conn = new KafkaWire.Connection(sock)
            if (user.nonEmpty) conn.saslPlain(client, user, pass)
            val req = new KafkaWire.ProduceRequest(client, timeout)
            while (rows.hasNext) {
              req.clear()
              var n = 0
              while (n < chunkSz && rows.hasNext) {
                val r = rows.next()
                req.batch(r.getUTF8String(0)).add(r.getUTF8String(1), r.getUTF8String(2))
                n += 1
              }
              req.sortTopics()
              conn.produce(req)
            }
            conn.drain()
          } finally sock.close()
        }
      }
    }
  }
}

object KafkaWire {
  /** Produce requests a connection keeps unanswered before it waits for
    * the oldest response: the default of the Java client's
    * `max.in.flight.requests.per.connection` and of sarama's
    * `Net.MaxOpenRequests`. */
  val MaxInFlight = 5

  /** Bytes of the zigzag varint [[WireBuffer.varlong]] writes for `v`. */
  def varlongSize(v: Long): Int = {
    val bits = 64 - java.lang.Long.numberOfLeadingZeros((v << 1) ^ (v >> 63))
    math.max(1, (bits + 6) / 7)
  }

  /** Growable big-endian byte buffer for protocol encoding; `clear`
    * keeps the storage for the next request. */
  final class WireBuffer(initial: Int = 1 << 10) {
    private[KafkaWire] var array = new Array[Byte](initial)
    private var n = 0
    def size: Int = n
    def clear(): Unit = n = 0
    def toArray: Array[Byte] = java.util.Arrays.copyOf(array, n)

    private def room(k: Int): Unit =
      if (n + k > array.length)
        array = java.util.Arrays.copyOf(array, math.max(array.length * 2, n + k))

    def byte(v: Int): Unit = { room(1); array(n) = v.toByte; n += 1 }
    def short(v: Int): Unit = {
      room(2); array(n) = (v >> 8).toByte; array(n + 1) = v.toByte; n += 2
    }
    def int(v: Int): Unit = { room(4); putInt(n, v); n += 4 }
    def long(v: Long): Unit = { int((v >> 32).toInt); int(v.toInt) }
    /** Overwrite four bytes already written (length and CRC fields). */
    def putInt(at: Int, v: Int): Unit = {
      array(at) = (v >> 24).toByte; array(at + 1) = (v >> 16).toByte
      array(at + 2) = (v >> 8).toByte; array(at + 3) = v.toByte
    }
    /** Zigzag varint (the protocol's signed variable-length integer). */
    def varlong(v: Long): Unit = {
      room(10)
      var z = (v << 1) ^ (v >> 63)
      while ((z & ~0x7fL) != 0) { array(n) = ((z & 0x7f) | 0x80).toByte; n += 1; z >>>= 7 }
      array(n) = z.toByte; n += 1
    }
    def bytes(b: Array[Byte]): Unit = {
      room(b.length); System.arraycopy(b, 0, array, n, b.length); n += b.length
    }
    def utf8(s: UTF8String): Unit = {
      val k = s.numBytes
      room(k); s.writeToMemory(array, Platform.BYTE_ARRAY_OFFSET.toLong + n); n += k
    }
    /** Protocol STRING: int16 length, then the UTF-8 bytes. */
    def string(s: UTF8String): Unit = { short(s.numBytes); utf8(s) }
    def string(s: String): Unit = string(UTF8String.fromString(s))
    def writeTo(out: java.io.OutputStream, from: Int, until: Int): Unit =
      out.write(array, from, until - from)
  }

  /** A Produce v3 request under construction, reused across requests:
    * one RecordBatch v2 for partition 0 of each topic. `add` encodes a
    * record into its topic's buffer as it arrives, copying the key and
    * value bytes once. `writeTo` lays the request header and the batch
    * headers into one more buffer, patches the length fields and each
    * batch's CRC32C, and writes header and record pieces to the stream
    * in order, so the full request is never assembled in memory. */
  final class ProduceRequest(clientId: String, timeoutMs: Int) {
    final class Batch private[ProduceRequest] {
      private[ProduceRequest] var topic: UTF8String = _
      private[ProduceRequest] val records = new WireBuffer(1 << 16)
      private[ProduceRequest] var count = 0

      /** Append one record; a null key or value is the protocol null. */
      def add(key: UTF8String, value: UTF8String): Unit = {
        val kLen = if (key == null) -1 else key.numBytes
        val vLen = if (value == null) -1 else value.numBytes
        // attributes, timestampDelta 0 and the header count 0 take a byte each
        val bodyLen = 3 + varlongSize(count) + varlongSize(kLen) + math.max(kLen, 0) +
          varlongSize(vLen) + math.max(vLen, 0)
        records.varlong(bodyLen)
        records.byte(0)                    // attributes
        records.varlong(0L)                // timestampDelta
        records.varlong(count)             // offsetDelta
        records.varlong(kLen); if (key != null) records.utf8(key)
        records.varlong(vLen); if (value != null) records.utf8(value)
        records.varlong(0L)                // headers
        count += 1
      }
    }

    private val client = UTF8String.fromString(clientId)
    private val batches = scala.collection.mutable.ArrayBuffer[Batch]()
    private var used = 0                   // batches(0 until used) belong to this request
    private var last: Batch = null
    private val head = new WireBuffer()
    private val crc = new java.util.zip.CRC32C()

    def clear(): Unit = { used = 0; last = null }

    /** The batch of `topic`, created at the end of the request's topic
      * list on first use. */
    def batch(topic: UTF8String): Batch = {
      if (topic == null) throw new IllegalArgumentException("kafka: null topic")
      if (last != null && last.topic == topic) return last
      var i = 0
      while (i < used && batches(i).topic != topic) i += 1
      if (i == used) {
        if (used == batches.length) batches += new Batch
        val b = batches(used)
        b.topic = topic.clone()            // the row's bytes are reused by the next row
        b.records.clear(); b.count = 0
        used += 1
      }
      last = batches(i)
      last
    }

    /** Order the topics by name, so a chunk's request bytes do not
      * depend on which topic its first row had. */
    def sortTopics(): Unit =
      if (used > 1) {
        val sorted = batches.take(used).sortBy(_.topic.toString)
        sorted.indices.foreach(i => batches(i) = sorted(i))
      }

    /** Write the request with its 4-byte size frame. */
    def writeTo(out: java.io.OutputStream, correlationId: Int, timestampMs: Long): Unit = {
      head.clear()
      head.int(0)                          // size frame, patched below
      head.short(0)                        // api key: Produce
      head.short(3)                        // api version
      head.int(correlationId)
      head.string(client)
      head.short(-1)                       // transactional_id: null
      head.short(-1)                       // acks: all (-1)
      head.int(timeoutMs)
      head.int(used)
      val ends = new Array[Int](used)      // where each batch's records follow the head
      var recordBytes = 0
      for (i <- 0 until used) {
        val b = batches(i)
        val n = b.records.size
        head.string(b.topic)
        head.int(1)                        // one partition entry
        head.int(0)                        // partition 0
        head.int(61 + n)                   // record set size
        head.long(0L)                      // baseOffset
        head.int(49 + n)                   // batchLength (after this field)
        head.int(-1)                       // partitionLeaderEpoch
        head.byte(2)                       // magic
        val crcAt = head.size
        head.int(0)                        // CRC32C, patched below
        val tail = head.size
        head.short(0)                      // attributes (no compression)
        head.int(b.count - 1)              // lastOffsetDelta
        head.long(timestampMs)             // baseTimestamp
        head.long(timestampMs)             // maxTimestamp
        head.long(-1L)                     // producerId (non-idempotent)
        head.short(-1)                     // producerEpoch
        head.int(-1)                       // baseSequence
        head.int(b.count)
        crc.reset()
        crc.update(head.array, tail, head.size - tail)
        crc.update(b.records.array, 0, n)
        head.putInt(crcAt, crc.getValue.toInt)
        ends(i) = head.size
        recordBytes += n
      }
      head.putInt(0, head.size - 4 + recordBytes)
      var from = 0
      for (i <- 0 until used) {
        head.writeTo(out, from, ends(i))
        batches(i).records.writeTo(out, 0, batches(i).records.size)
        from = ends(i)
      }
      head.writeTo(out, from, head.size)
    }
  }

  /** One broker connection. Produce requests are pipelined: up to
    * [[MaxInFlight]] are written before the oldest response is read.
    * A broker answers a connection's requests in order, so each
    * response must carry the oldest unanswered correlation id. */
  private[sinks] final class Connection(sock: java.net.Socket) {
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    private var correlation = 0
    private var inFlight = 0

    private def send(req: Array[Byte]): Unit = {
      val frame = new WireBuffer(req.length + 4)
      frame.int(req.length); frame.bytes(req)
      frame.writeTo(out, 0, frame.size); out.flush()
    }
    private def response(): Array[Byte] = {
      val resp = new Array[Byte](in.readInt())
      in.readFully(resp)
      resp
    }

    /** SaslHandshake + SaslAuthenticate (PLAIN), before any Produce. */
    def saslPlain(clientId: String, user: String, password: String): Unit = {
      correlation += 1
      send(saslHandshakeRequest(clientId, correlation))
      checkSaslHandshakeResponse(response(), correlation)
      correlation += 1
      send(saslAuthenticateRequest(clientId, correlation, user, password))
      checkSaslAuthenticateResponse(response(), correlation)
    }

    def produce(req: ProduceRequest): Unit = {
      if (inFlight == MaxInFlight) awaitOldest()
      correlation += 1
      req.writeTo(out, correlation, System.currentTimeMillis())
      out.flush()
      inFlight += 1
    }

    /** Read every outstanding response. */
    def drain(): Unit = while (inFlight > 0) awaitOldest()

    private def awaitOldest(): Unit = {
      checkProduceResponse(response(), correlation - inFlight + 1)
      inFlight -= 1
    }
  }

  /** Produce v3 request (header v1 + body), ready for the 4-byte size
    * frame: each topic's records go to partition 0, topics in the given
    * order (a topic listed twice shares one batch). */
  def produceRequest(clientId: String, correlationId: Int, timeoutMs: Int,
      topics: Seq[(String, Seq[(String, String)])],
      timestampMs: Long = System.currentTimeMillis()): Array[Byte] = {
    val req = new ProduceRequest(clientId, timeoutMs)
    topics.foreach { case (topic, records) =>
      val b = req.batch(UTF8String.fromString(topic))
      records.foreach { case (k, v) => b.add(UTF8String.fromString(k), UTF8String.fromString(v)) }
    }
    val out = new java.io.ByteArrayOutputStream()
    req.writeTo(out, correlationId, timestampMs)
    java.util.Arrays.copyOfRange(out.toByteArray, 4, out.size())
  }

  /** SaslHandshake v1 (api key 17): announce the PLAIN mechanism; the
    * broker refuses Produce on a SASL listener until this + the
    * authenticate round-trip succeed. */
  def saslHandshakeRequest(clientId: String, correlationId: Int): Array[Byte] = {
    val out = new WireBuffer()
    out.short(17)                           // api key: SaslHandshake
    out.short(1)                            // version (v1 → auth via SaslAuthenticate)
    out.int(correlationId)
    out.string(clientId)
    out.string("PLAIN")
    out.toArray
  }

  def checkSaslHandshakeResponse(resp: Array[Byte], expectedCorrelation: Int): Unit = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(resp))
    val corr = in.readInt()
    if (corr != expectedCorrelation)
      throw new RuntimeException(s"kafka: sasl handshake correlation $corr != $expectedCorrelation")
    val err = in.readShort()
    if (err != 0)
      throw new RuntimeException(s"kafka: sasl handshake error code $err (mechanism rejected)")
  }

  /** SaslAuthenticate v0 (api key 36) with the RFC 4616 PLAIN token
    * `\0user\0password` as auth_bytes. */
  def saslAuthenticateRequest(clientId: String, correlationId: Int,
      username: String, password: String): Array[Byte] = {
    val out = new WireBuffer()
    out.short(36)                           // api key: SaslAuthenticate
    out.short(0)                            // version
    out.int(correlationId)
    out.string(clientId)
    val token = ("\u0000" + username + "\u0000" + password).getBytes("UTF-8")
    out.int(token.length)                   // auth_bytes: BYTES
    out.bytes(token)
    out.toArray
  }

  def checkSaslAuthenticateResponse(resp: Array[Byte], expectedCorrelation: Int): Unit = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(resp))
    val corr = in.readInt()
    if (corr != expectedCorrelation)
      throw new RuntimeException(s"kafka: sasl auth correlation $corr != $expectedCorrelation")
    val err = in.readShort()
    if (err != 0) {
      val msgLen = in.readShort()
      val msg =
        if (msgLen > 0) { val b = new Array[Byte](msgLen); in.readFully(b); new String(b, "UTF-8") }
        else "authentication failed"
      throw new RuntimeException(s"kafka: sasl authenticate error $err: $msg")
    }
  }

  /** Parse a Produce v3 response; throw on correlation mismatch or any
    * nonzero partition error code. */
  def checkProduceResponse(resp: Array[Byte], expectedCorrelation: Int): Unit = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(resp))
    val corr = in.readInt()
    if (corr != expectedCorrelation)
      throw new RuntimeException(s"kafka: correlation $corr != $expectedCorrelation")
    val nTopics = in.readInt()
    (0 until nTopics).foreach { _ =>
      val nameLen = in.readShort()
      in.skipBytes(nameLen)
      val nParts = in.readInt()
      (0 until nParts).foreach { _ =>
        val partition = in.readInt()
        val errorCode = in.readShort()
        in.skipBytes(16)                    // baseOffset + logAppendTime
        if (errorCode != 0)
          throw new RuntimeException(s"kafka: partition $partition error code $errorCode")
      }
    }
  }
}
