package graft.sinks

import graft.SparkSpec

/** The socket sinks bound every write: a peer that accepts the
  * connection and then stops reading fills the socket buffers, and the
  * blocked write must fail within the sink's timeout instead of holding
  * the task for good. */
class BoundedWriteSpec extends SparkSpec {

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" | ")

  /** 16 MB of envelopes in one partition: far more than the loopback
    * send buffer plus the peer's small receive window. */
  private def bigRows(n: Int) = {
    import spark.implicits._
    val envelope = "x" * (16 * 1024 * 1024 / n)
    (1 to n).map(i => ("t", s"k$i", envelope)).toDF("topic", "key", "envelope").coalesce(1)
  }

  /** A peer that answers the handshake lines `greet` maps (line prefix →
    * reply), greets with `hello` on connect, and stops reading once its
    * script is done. The receive buffer is set small before bind, so
    * the window it advertises stays small. */
  private def withStalledPeer(hello: String, greet: Seq[(String, String)])(
      body: Int => Unit): Unit = {
    val server = new java.net.ServerSocket()
    server.setReceiveBufferSize(64 * 1024)
    server.bind(new java.net.InetSocketAddress("127.0.0.1", 0), 50)
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val acceptor = new Thread(() =>
      try while (true) {
        val s = server.accept()
        accepted.add(s)
        val in = new java.io.DataInputStream(s.getInputStream)
        val out = s.getOutputStream
        if (hello.nonEmpty) { out.write(hello.getBytes("UTF-8")); out.flush() }
        greet.foreach { case (prefix, reply) =>
          var line = Sinks.crlfLine(in)
          while (!line.startsWith(prefix)) line = Sinks.crlfLine(in)
          out.write(reply.getBytes("UTF-8")); out.flush()
        }
      } catch { case _: java.io.IOException => () })
    acceptor.setDaemon(true)
    acceptor.start()
    try body(server.getLocalPort)
    finally {
      server.close()
      accepted.forEach(s => s.close()) // releases an emit that still waits
    }
  }

  private def assertFailsWithin(sink: Sink, seconds: Double, records: Int = 64): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val t0 = System.nanoTime()
    val outcome = Future(scala.util.Try(sink.emit(bigRows(records), 1L)))(
      scala.concurrent.ExecutionContext.global)
    val result = Await.result(outcome, 60.seconds)
    val took = (System.nanoTime() - t0) / 1e9
    assert(result.isFailure, "a peer that never reads must fail the emit")
    assert(causes(result.failed.get).contains("java.net.SocketException"),
      causes(result.failed.get))
    assert(took < seconds, s"emit took $took s")
  }

  test("kafka wire sink: a broker that accepts and never reads fails the emit within its timeout") {
    withStalledPeer("", Nil) { port =>
      assertFailsWithin(KafkaWireSink(s"127.0.0.1:$port", timeoutMs = 500,
        maxBatchRecords = 1000), seconds = 20)
    }
  }

  test("redis sink: a server that accepts and never reads fails the emit within timeouts.write") {
    withStalledPeer("", Nil) { port =>
      // one XADD: each command awaits its reply, and the read is unbounded here
      assertFailsWithin(RedisSink(RedisSinkConfig(address = s"127.0.0.1:$port",
        dialTimeoutMs = 500, writeTimeoutMs = 500)), seconds = 20, records = 1)
    }
  }

  test("redis sink, default config: a server that reads the XADD and never replies fails the emit") {
    // go-redis's default read timeout (3 s) bounds the wait for the reply
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val reader = new Thread(() =>
      try while (true) {
        val s = server.accept()
        accepted.add(s)
        new Thread(() => try s.getInputStream.transferTo(java.io.OutputStream.nullOutputStream())
          catch { case _: java.io.IOException => () }).start()
      } catch { case _: java.io.IOException => () })
    reader.setDaemon(true)
    reader.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import spark.implicits._
      val sink = Sinks.fromConfig(Map("sink.type" -> "redis",
        "sink.redis.address" -> s"127.0.0.1:${server.getLocalPort}"))
      val rows = Seq(("t", "k", "e")).toDF("topic", "key", "envelope").coalesce(1)
      val t0 = System.nanoTime()
      val outcome = Future(scala.util.Try(sink.emit(rows, 1L)))(
        scala.concurrent.ExecutionContext.global)
      val result = Await.result(outcome, 60.seconds)
      val took = (System.nanoTime() - t0) / 1e9
      assert(result.isFailure, "a server that never replies must fail the emit")
      assert(causes(result.failed.get).contains("java.net.SocketTimeoutException"),
        causes(result.failed.get))
      assert(took < 20, s"emit took $took s")
    } finally {
      server.close()
      accepted.forEach(s => s.close())
    }
  }

  test("nats sink: a server that stops reading after the handshake fails the emit within its timeout") {
    withStalledPeer("INFO {\"server_id\":\"stalled\"}\r\n", Seq("PING" -> "PONG\r\n")) { port =>
      assertFailsWithin(NatsSink(NatsSinkConfig(address = s"nats://127.0.0.1:$port",
        jetStream = false, timeoutSeconds = 1)), seconds = 20)
    }
  }

  test("a bounded socket stays open while idle between writes that return") {
    withStalledPeer("", Nil) { port =>
      val sock = Sinks.dialSocket("127.0.0.1", port, tls = false, skipVerify = false,
        dialTimeoutMs = 500, readTimeoutMs = 0, writeTimeoutMs = 300)
      try {
        val out = sock.getOutputStream
        assert(sock.isInstanceOf[WriteBoundedSocket] && (out eq sock.getOutputStream))
        out.write(Array.fill[Byte](1024)(1)); out.flush()
        Thread.sleep(1000) // idle time between writes does not count
        out.write(Array.fill[Byte](1024)(2)); out.flush()
        assert(!sock.isClosed)
      } finally sock.close()
    }
  }
}
