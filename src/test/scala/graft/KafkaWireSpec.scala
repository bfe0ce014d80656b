package graft

import graft.sinks.{KafkaWire, KafkaWireSink, Sinks}

/** The Kafka wire producer's request encoder, its pipelining and its
  * bounded waits, against in-JVM fake brokers. */
class KafkaWireSpec extends SparkSpec {

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" | ")

  private def rows(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => ("t", s"k$i", s"""{"ev":$i}""")).toDF("topic", "key", "envelope").coalesce(1)
  }
  private def expected(n: Int): Set[String] = (1 to n).map(i => s"t|k$i|{\"ev\":$i}").toSet

  test("kafka wire: Produce request bytes equal the earlier encoder's (two topics, null key, " +
    "tombstone, multi-byte UTF-8, two-byte offsetDelta)") {
    // captured as hex from the ByteArrayOutputStream encoder this one
    // replaced, called with the same records and timestamp
    val golden =
      """
      |000000030000002a00056772616674ffffffff00007530000000020005616c70686100000001000000000000051b0000
      |0000000000000000050fffffffff02342da5340000000000450000018bcfe568000000018bcfe56800ffffffffffffff
      |ffffffffffffff000000461e000000046b300e7b226e223a307d001e000002046b310e7b226e223a317d001e00000404
      |6b320e7b226e223a327d001a000006010e7b226e223a337d001e000008046b340e7b226e223a347d001000000a046b35
      |01001e00000c046b360e7b226e223a367d003000000e046b37207ac3bc7269636820e2988320f09d849e001e00001004
      |6b380e7b226e223a387d001e000012046b390e7b226e223a397d0022000014066b3130107b226e223a31307d00220000
      |16066b3131107b226e223a31317d0022000018066b3132107b226e223a31327d002200001a066b3133107b226e223a31
      |337d002200001c066b3134107b226e223a31347d002200001e066b3135107b226e223a31357d0022000020066b313610
      |7b226e223a31367d0022000022066b3137107b226e223a31377d0022000024066b3138107b226e223a31387d00220000
      |26066b3139107b226e223a31397d0022000028066b3230107b226e223a32307d002200002a066b3231107b226e223a32
      |317d002200002c066b3232107b226e223a32327d002200002e066b3233107b226e223a32337d0022000030066b323410
      |7b226e223a32347d0022000032066b3235107b226e223a32357d0022000034066b3236107b226e223a32367d00220000
      |36066b3237107b226e223a32377d0022000038066b3238107b226e223a32387d002200003a066b3239107b226e223a32
      |397d002200003c066b3330107b226e223a33307d002200003e066b3331107b226e223a33317d0022000040066b333210
      |7b226e223a33327d0022000042066b3333107b226e223a33337d0022000044066b3334107b226e223a33347d00220000
      |46066b3335107b226e223a33357d0022000048066b3336107b226e223a33367d002200004a066b3337107b226e223a33
      |377d002200004c066b3338107b226e223a33387d002200004e066b3339107b226e223a33397d0022000050066b343010
      |7b226e223a34307d0022000052066b3431107b226e223a34317d0022000054066b3432107b226e223a34327d00220000
      |56066b3433107b226e223a34337d0022000058066b3434107b226e223a34347d002200005a066b3435107b226e223a34
      |357d002200005c066b3436107b226e223a34367d002200005e066b3437107b226e223a34377d0022000060066b343810
      |7b226e223a34387d0022000062066b3439107b226e223a34397d0022000064066b3530107b226e223a35307d00220000
      |66066b3531107b226e223a35317d0022000068066b3532107b226e223a35327d002200006a066b3533107b226e223a35
      |337d002200006c066b3534107b226e223a35347d002200006e066b3535107b226e223a35357d0022000070066b353610
      |7b226e223a35367d0022000072066b3537107b226e223a35377d0022000074066b3538107b226e223a35387d00220000
      |76066b3539107b226e223a35397d0022000078066b3630107b226e223a36307d002200007a066b3631107b226e223a36
      |317d002200007c066b3632107b226e223a36327d002200007e066b3633107b226e223a36337d002400008001066b3634
      |107b226e223a36347d002400008201066b3635107b226e223a36357d002400008401066b3636107b226e223a36367d00
      |2400008601066b3637107b226e223a36377d002400008801066b3638107b226e223a36387d002400008a01066b363910
      |7b226e223a36397d000007626574612ec3a900000001000000000000005a00000000000000000000004effffffff0236
      |abe1ef0000000000020000018bcfe568000000018bcfe56800ffffffffffffffffffffffffffff000000031000000002
      |61027800100000020104c3a9001400000408746f6d620100
      |""".stripMargin.filterNot(_.isWhitespace)
    val alpha = (0 until 70).map(i => (if (i == 3) null else s"k$i",
      if (i == 5) null else if (i == 7) "zürich ☃ 𝄞" else s"""{"n":$i}"""))
    val beta = Seq(("a", "x"), (null, "é"), ("tomb", null))
    val req = KafkaWire.produceRequest("graft", 42, 30000,
      Seq("alpha" -> alpha, "beta.é" -> beta), timestampMs = 1700000000000L)
    assert(req.map(b => f"${b & 0xff}%02x").mkString === golden)
  }

  test("kafka wire sink: at most MaxInFlight Produce requests unanswered, and the bound is reached") {
    val broker = new FakeKafkaBroker(holdResponsesMs = 1000)
    try {
      KafkaWireSink(s"127.0.0.1:${broker.port}", maxBatchRecords = 2).emit(rows(24), 1L)
      assert(broker.requests.get === 12)
      assert(broker.maxUnanswered.get === KafkaWire.MaxInFlight)
      assert(broker.messages.size === 24 && broker.messages.toSet === expected(24))
      assert(broker.crcBad.get === 0)
    } finally broker.close()
  }

  test("kafka wire sink: an error code on request 3 of 12 fails the emit; withRetry delivers every record") {
    val sink = KafkaWireSink(bootstrap = "", maxBatchRecords = 2)
    val once = new FakeKafkaBroker(errorOnRequest = 3)
    try {
      val err = intercept[Exception] {
        sink.copy(bootstrap = s"127.0.0.1:${once.port}").emit(rows(24), 1L)
      }
      assert(causes(err).contains("partition 0 error code 7"), causes(err))
      assert(once.requests.get >= 3)
    } finally once.close()
    val retried = new FakeKafkaBroker(errorOnRequest = 3)
    try {
      Sinks.withRetry(sink.copy(bootstrap = s"127.0.0.1:${retried.port}")).emit(rows(24), 2L)
      assert(retried.requests.get > 12, "the failed attempt was retried")
      assert(retried.messages.toSet === expected(24)) // duplicates allowed
    } finally retried.close()
  }

  test("kafka wire sink: a broker that accepts and never answers fails the emit within its timeout") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val acceptor = new Thread(() =>
      try while (true) accepted.add(server.accept())
      catch { case _: java.io.IOException => () })
    acceptor.setDaemon(true)
    acceptor.start()
    try {
      val t0 = System.nanoTime()
      val outcome = Future(scala.util.Try(
        KafkaWireSink(s"127.0.0.1:${server.getLocalPort}", timeoutMs = 500).emit(rows(3), 1L)
      ))(scala.concurrent.ExecutionContext.global)
      val result = Await.result(outcome, 30.seconds)
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(result.isFailure, "a silent broker must fail the emit")
      assert(causes(result.failed.get).contains("SocketTimeoutException"), causes(result.failed.get))
      assert(seconds < 10, s"emit took $seconds s")
    } finally {
      server.close()
      accepted.forEach(s => s.close()) // releases an emit that still waits
    }
  }
}
