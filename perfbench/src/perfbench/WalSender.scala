package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

/** Loopback walsender owned by the benchmark: speaks enough of the v3
  * protocol for `PgReplicationClient` (trust auth, START_REPLICATION,
  * COPY-BOTH) and sends pgoutput transactions on a fixed schedule. Each
  * transaction's send time is recorded against its due time; every
  * StandbyStatusUpdate the client sends is recorded with its arrival
  * time (the flush-lag source).
  *
  * A transaction is the XLogData payloads from its Begin to its Commit.
  */
final class WalSender(relation: Array[Byte]) extends AutoCloseable {
  private val server =
    new java.net.ServerSocket(0, 4, java.net.InetAddress.getByName("127.0.0.1"))
  val port: Int = server.getLocalPort
  @volatile private var sock: java.net.Socket = _
  private var out: DataOutputStream = _
  private val ready = new java.util.concurrent.CountDownLatch(1)
  /** (arrival nanoTime, flushed lsn) of every status update. */
  val acks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val framesSent = new java.util.concurrent.atomic.AtomicLong(0)
  val bytesSent = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile var failure: Option[Throwable] = None

  private def backend(t: Char, p: Array[Byte]): Unit = {
    out.writeByte(t); out.writeInt(4 + p.length); out.write(p)
  }

  private val session = new Thread(() => {
    try {
      val s = server.accept()
      s.setTcpNoDelay(true)
      sock = s
      val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
      out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream, 1 << 16))
      val len = in.readInt(); in.readFully(new Array[Byte](len - 4)) // startup
      backend('R', Array[Byte](0, 0, 0, 0)); backend('Z', Array('I'.toByte)); out.flush()
      val qt = in.read()
      require(qt == 'Q', s"walsender: expected a query, got $qt")
      val ql = in.readInt(); in.readFully(new Array[Byte](ql - 4))
      backend('W', Array[Byte](0, 0, 0)); out.flush()
      writeFrame(relation); out.flush()
      ready.countDown()
      // client → server: status updates until the client terminates
      var open = true
      while (open) {
        val tag = in.read()
        if (tag < 0 || tag == 'X') open = false
        else {
          val l = in.readInt(); val p = new Array[Byte](l - 4); in.readFully(p)
          if (tag == 'd' && p.nonEmpty && p(0) == 'r') {
            val st = graft.cdc.PgOutput.decodeStatusUpdate(p)
            acks.add((System.nanoTime(), st.flushedLsn))
          }
        }
      }
    } catch {
      case e: java.io.IOException if sock == null || sock.isClosed => ()
      case e: Throwable => failure = Some(e); ready.countDown()
    }
  }, "perfbench-walsender")
  session.setDaemon(true)
  session.start()

  private def writeFrame(payload: Array[Byte]): Unit = {
    out.writeByte('d'); out.writeInt(4 + payload.length); out.write(payload)
    framesSent.incrementAndGet(); bytesSent.addAndGet(payload.length)
  }

  def awaitStreaming(timeoutMs: Long): Boolean =
    ready.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS) && failure.isEmpty

  /** Send `txns` in order, transaction `i` due at `origin + i * periodNs`
    * (nanoTime). Returns each transaction's actual send time. */
  def sendScheduled(txns: Seq[Array[Array[Byte]]], origin: Long, periodNs: Long): Array[Long] = {
    val sent = new Array[Long](txns.length)
    txns.zipWithIndex.foreach { case (frames, i) =>
      val due = origin + i * periodNs
      var now = System.nanoTime()
      while (now < due) {
        val wait = due - now
        if (wait > 200000L) java.util.concurrent.locks.LockSupport.parkNanos(wait - 100000L)
        else Thread.onSpinWait()
        now = System.nanoTime()
      }
      frames.foreach(writeFrame)
      out.flush()
      sent(i) = System.nanoTime()
    }
    sent
  }

  /** End of stream: CopyDone. */
  def finish(): Unit = { backend('c', Array.emptyByteArray); out.flush() }

  def close(): Unit = {
    try server.close() catch { case _: Exception => () }
    Option(sock).foreach(s => try s.close() catch { case _: Exception => () })
    session.join(5000)
  }
}

object WalSender {
  /** Split segment blobs into the first Relation payload and the
    * transactions (Begin..Commit payloads). Relation frames repeated at
    * later segment heads are dropped: the stream announces it once. */
  def transactions(blobs: Array[Array[Byte]]): (Array[Byte], Vector[Array[Array[Byte]]]) = {
    var relation: Array[Byte] = null
    val txns = Vector.newBuilder[Array[Array[Byte]]]
    var cur = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    blobs.foreach { blob =>
      val bb = java.nio.ByteBuffer.wrap(blob)
      while (bb.remaining() > 4) {
        val p = new Array[Byte](bb.getInt); bb.get(p)
        val kind = p(25).toChar // 'w' + lsn + walEnd + sendTime, then the pgoutput message
        kind match {
          case 'R' => if (relation == null) relation = p
          case 'C' => cur += p; txns += cur.toArray; cur = scala.collection.mutable.ArrayBuffer()
          case _ => cur += p
        }
      }
    }
    require(relation != null && cur.isEmpty, "segments must start with a Relation and end on a Commit")
    (relation, txns.result())
  }

  /** End LSN of a transaction's commit frame: the position a status
    * update must reach to cover it. */
  def commitEnd(txn: Array[Array[Byte]]): Long = {
    val p = txn.last
    java.nio.ByteBuffer.wrap(p, 1, 8).getLong + (p.length - 25)
  }
}
