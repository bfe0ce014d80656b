package graft

/** Minimal in-JVM Kafka broker fake for end-to-end sink tests: accepts
  * Produce v3 requests, parses RecordBatch v2 (CRC32C-verified), records
  * every (topic, key, value) and answers success. The byte layouts are
  * the same contract the OpsSpec kafka wire tests assert piecewise; this
  * reusable form exists for topology tests that need a real socket at
  * the END of a pipeline rather than a parser under the microscope.
  *
  * `errorOnRequest = n` answers the n-th Produce request (counted over
  * all connections, from 1) with a partition error code. With
  * `holdResponsesMs > 0` each connection holds its responses back until
  * no request has arrived for that long, so a pipelining client can
  * reach its in-flight bound: `maxUnanswered` is the most requests a
  * connection had received and not yet answered.
  */
final class FakeKafkaBroker(errorOnRequest: Int = 0, holdResponsesMs: Int = 0) {
  import scala.jdk.CollectionConverters._
  // a QUEUE, not a set: exactly-once assertions need duplicate
  // deliveries to be VISIBLE — a set would silently absorb a re-send
  // and let an at-least-twice sink pass an exactly-once test
  val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val crcBad = new java.util.concurrent.atomic.AtomicInteger(0)
  val requests = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxUnanswered = new java.util.concurrent.atomic.AtomicInteger(0)
  private val server =
    new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
  val port: Int = server.getLocalPort
  @volatile private var running = true

  def messages: Seq[String] = received.asScala.toSeq

  private def readVarlong(in: java.io.DataInputStream): Long = {
    var z = 0L; var shift = 0; var b = 0
    do {
      b = in.read()
      // EOF mid-varint must fail fast, not spin: -1 has the 0x80 bit set
      if (b < 0) throw new java.io.EOFException("varint truncated")
      z |= (b & 0x7fL) << shift; shift += 7
    } while ((b & 0x80) != 0)
    (z >>> 1) ^ -(z & 1)
  }

  private def serveOne(s: java.net.Socket): Unit = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream))
    val held = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def answer(): Unit = {
      held.foreach { r => out.writeInt(r.length); out.write(r) }
      out.flush(); held.clear()
    }
    if (holdResponsesMs > 0) s.setSoTimeout(holdResponsesMs)
    try {
      while (true) {
        var size = -1 // an idle wait answers what is held
        while (size < 0)
          size = try in.readInt() catch { case _: java.net.SocketTimeoutException => answer(); -1 }
        val req = new Array[Byte](size); in.readFully(req)
        val r = new java.io.DataInputStream(new java.io.ByteArrayInputStream(req))
        def rstr(): String = {
          val n = r.readShort(); val b = new Array[Byte](n); r.readFully(b)
          new String(b, "UTF-8")
        }
        require(r.readShort() == 0 && r.readShort() == 3, "expected Produce v3")
        val corr = r.readInt()
        rstr() // clientId
        r.readShort() // transactional_id (null)
        r.readShort() // acks
        r.readInt() // timeout
        val nTopics = r.readInt()
        val topicNames = (0 until nTopics).map { _ =>
          val topic = rstr()
          r.readInt(); r.readInt() // one entry, partition 0
          val setSize = r.readInt()
          val batch = new Array[Byte](setSize); r.readFully(batch)
          val b = new java.io.DataInputStream(new java.io.ByteArrayInputStream(batch))
          b.readLong(); b.readInt(); b.readInt() // baseOffset, batchLength, epoch
          require(b.read() == 2, "RecordBatch magic v2")
          val crc = b.readInt()
          val tail = new Array[Byte](setSize - 21); b.readFully(tail)
          val c = new java.util.zip.CRC32C(); c.update(tail)
          if (c.getValue.toInt != crc) crcBad.incrementAndGet()
          val t = new java.io.DataInputStream(new java.io.ByteArrayInputStream(tail))
          t.readShort(); t.readInt() // attributes, lastOffsetDelta
          t.readLong(); t.readLong(); t.readLong(); t.readShort(); t.readInt()
          val n = t.readInt()
          (0 until n).foreach { _ =>
            readVarlong(t) // record length
            t.read() // attributes
            readVarlong(t); readVarlong(t) // tsDelta, offsetDelta
            val kl = readVarlong(t).toInt
            val key = if (kl < 0) "<null>" else {
              val k = new Array[Byte](kl); t.readFully(k); new String(k, "UTF-8")
            }
            val vl = readVarlong(t).toInt
            val value = if (vl < 0) "<null>" else { // protocol null value (tombstone)
              val v = new Array[Byte](vl); t.readFully(v); new String(v, "UTF-8")
            }
            readVarlong(t) // headers
            received.add(s"$topic|$key|$value")
          }
          topic
        }
        val err = if (requests.incrementAndGet() == errorOnRequest) 7 else 0 // REQUEST_TIMED_OUT
        val resp = new java.io.ByteArrayOutputStream()
        val d = new java.io.DataOutputStream(resp)
        d.writeInt(corr)
        d.writeInt(topicNames.length)
        topicNames.foreach { t =>
          val tb = t.getBytes("UTF-8"); d.writeShort(tb.length); d.write(tb)
          d.writeInt(1); d.writeInt(0); d.writeShort(err)
          d.writeLong(0L); d.writeLong(-1L)
        }
        d.writeInt(0) // throttle_time_ms
        held += resp.toByteArray
        maxUnanswered.accumulateAndGet(held.length, (a: Int, b: Int) => math.max(a, b))
        if (holdResponsesMs == 0) answer()
      }
    } catch { case _: Exception => () } finally s.close()
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => serveOne(s))
        t.setDaemon(true); t.start()
      } catch { case _: Exception => () }
    }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = { running = false; server.close() }
}
