package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}

/** Sink SPI parity (`spi/sink/sink.go:26-51`, registry
  * `internal/eventing/sink/sinkmanager.go`): named sink factories with a
  * lifecycle, pluggable by config.
  *
  * Spark-first: console and parquet use Spark's own writers. Everything
  * else (the reference's Kafka/NATS/Redis/Kinesis/SQS/HTTP) plugs in as
  * a `foreachBatch` emitter over its wire protocol; retry with
  * exponential backoff mirrors `eventemitter.go:107,145-153` (8 tries).
  */
trait Sink extends Serializable {
  def name: String
  /** Emit one micro-batch. Must be idempotent — at-least-once delivery,
    * like the reference's ack-after-sink (`eventemitter.go:163`). */
  def emit(batch: DataFrame, batchId: Long): Unit
}

object Sinks {
  @volatile private var registry: Map[String, () => Sink] = Map(
    "console" -> (() => ConsoleSink),
    "null"    -> (() => NullSink)
  )

  def register(name: String, factory: () => Sink): Unit =
    synchronized { registry = registry + (name -> factory) }

  /** Registry membership without invoking the factory — a factory that
    * throws (or has side effects) at construction must not be misread as
    * "unregistered" by the plugin first-wins probe. */
  def contains(name: String): Boolean = registry.contains(name)

  def create(name: String): Sink =
    registry.getOrElse(name,
      throw new IllegalArgumentException(s"unknown sink: $name (have: ${registry.keys.mkString(",")})"))()

  /** Read one CRLF-terminated line byte-wise (shared by the raw-socket
    * protocol clients; no readahead past the terminator). */
  private[sinks] def crlfLine(in: java.io.DataInputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  /** Duration config values in the reference's Go-duration vocabulary
    * (the config hands these to `time.ParseDuration`): a sequence of
    * decimal+unit segments — `250ms`, `1.5s`, `1m30s`, `2h45m`, with
    * ns/us/µs/μs/ms/s/m/h units. A bare integer reads as milliseconds,
    * the unit every other `*.backoff.*` key in this config already
    * uses. Returns milliseconds; sub-millisecond remainders truncate.
    * Malformed input fails loudly (wrap with the config key at the
    * parse site). */
  private[sinks] def durationMs(v: String): Long = {
    val s = v.trim
    if (s.isEmpty) return 0L
    if (s.forall(c => c.isDigit) || (s.startsWith("-") && s.drop(1).forall(_.isDigit)))
      return s.toLong
    val seg = "([0-9]*\\.?[0-9]+)(ns|us|µs|μs|ms|s|m|h)".r
    val parts = seg.findAllMatchIn(s).toSeq
    if (parts.isEmpty || parts.map(_.matched).mkString != s)
      throw new IllegalArgumentException(s"malformed duration '$v'")
    parts.map { m =>
      m.group(1).toDouble * (m.group(2) match {
        case "ns" => 1e-6
        case "us" | "µs" | "μs" => 1e-3
        case "ms" => 1.0
        case "s" => 1000.0
        case "m" => 60000.0
        case "h" => 3600000.0
      })
    }.sum.toLong
  }

  /** Dial a (possibly TLS) socket with the configured deadlines: a
    * bounded connect, SO_TIMEOUT on reads, a [[WriteBoundedSocket]]
    * deadline on every write (0 = unbounded, as for reads), and for TLS
    * the one trust policy of [[sslSocketFactory]] — skipVerify trusts
    * anything, otherwise platform trust store + HTTPS endpoint
    * identification, eager handshake so a bad certificate fails at
    * dial. TLS layers over the bounded TCP socket, so an expired record
    * write closes the TCP socket under it. */
  private[sinks] def dialSocket(host: String, port: Int, tls: Boolean,
                                skipVerify: Boolean, dialTimeoutMs: Long,
                                readTimeoutMs: Long,
                                writeTimeoutMs: Long): java.net.Socket = {
    val base =
      if (writeTimeoutMs > 0) new WriteBoundedSocket(writeTimeoutMs) else new java.net.Socket()
    base.connect(new java.net.InetSocketAddress(host, port), dialTimeoutMs.toInt)
    if (readTimeoutMs > 0) base.setSoTimeout(readTimeoutMs.toInt)
    if (!tls) base
    else {
      val s = sslSocketFactory(skipVerify)
        .createSocket(base, host, port, true).asInstanceOf[javax.net.ssl.SSLSocket]
      if (!skipVerify) {
        val params = s.getSSLParameters
        params.setEndpointIdentificationAlgorithm("HTTPS")
        s.setSSLParameters(params)
      }
      s.startHandshake()
      s
    }
  }

  /** The one TLS trust policy for every wire sink (kafka, redis):
    * skipVerify = trust-anything context (sarama InsecureSkipVerify
    * analog), otherwise the platform trust store — callers add HTTPS
    * endpoint identification on the verified path and handshake
    * eagerly so a bad certificate fails at dial. */
  private[sinks] def sslSocketFactory(skipVerify: Boolean): javax.net.ssl.SSLSocketFactory = {
    import javax.net.ssl._
    if (skipVerify) {
      val trustAll: TrustManager = new X509TrustManager {
        def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
        def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      }
      val ctx = SSLContext.getInstance("TLS")
      ctx.init(null, Array(trustAll), new java.security.SecureRandom())
      ctx.getSocketFactory
    } else SSLSocketFactory.getDefault.asInstanceOf[SSLSocketFactory]
  }

  /** First `host:port` of a (possibly comma-separated) address list.
    * Raw-socket clients dial one endpoint; a missing port gets the
    * protocol default. */
  private[sinks] def hostPort(address: String, defaultPort: Int): (String, Int) =
    address.split(",")(0).trim.split(":", 2) match {
      case Array(h, p) => (h, p.toInt)
      case Array(h)    => (h, defaultPort)
    }

  /** JSON string escaping for hand-built request bodies: quote,
    * backslash, and all control chars below 0x20 (\u-escaped). */
  private[sinks] def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"'            => sb.append("\\\"")
      case '\\'           => sb.append("\\\\")
      case c if c < 0x20  => sb.append(f"\\u${c.toInt}%04x")
      case c              => sb.append(c)
    }
    sb.toString
  }

  /** Config-driven sink dispatch — the analog of the reference's
    * `NewSink(config.SinkType, *config.Config)`
    * (`sinkregistry.go:52-66`) with the reference's exact property keys
    * (`spi/config/constants.go:67-126`, TOML `sink.type` ∈ stdout/
    * nats/kafka/redis/kinesis/sqs/http). Mandatory-key validation
    * lives in the per-sink configs (reference error wording). */
  def fromConfig(props: Map[String, String]): Sink = {
    def p(key: String, default: String = ""): String = props.getOrElse(key, default)
    def opt(key: String): Option[String] = props.get(key)
    // duration keys name the offending key on malformed input, like the
    // int()/bool() helpers elsewhere in the config surface
    def dur(ps: Map[String, String], key: String): Long =
      try durationMs(ps.getOrElse(key, "0"))
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"$key: ${e.getMessage}") }
    // dead-letter queue: `sink.dlq.*` configures a SECOND sink (same key
    // surface, re-prefixed) that receives batches the primary still
    // fails after its retries — see [[withDlq]] for the contract
    if (props.contains("sink.dlq.type")) {
      val primary = fromConfig(props - "sink.dlq.type" --
        props.keys.filter(_.startsWith("sink.dlq.")))
      val dlqProps = props.collect {
        case (k, v) if k.startsWith("sink.dlq.") => "sink." + k.stripPrefix("sink.dlq.") -> v
      }
      return withDlq(primary, fromConfig(dlqProps))
    }
    p("sink.type", "stdout") match {
      case "stdout" => ConsoleSink
      case "kafka" =>
        val saslOn = p("sink.kafka.sasl.enabled", "false").toBoolean
        val mechanism = p("sink.kafka.sasl.mechanism", "PLAIN").toUpperCase
        if (saslOn && mechanism != "PLAIN")
          throw new IllegalArgumentException(
            s"kafka sink implements SASL PLAIN only, got '$mechanism'; " +
              "other mechanisms are unsupported")
        // sasl.enabled with no username must FAIL, not silently produce
        // unauthenticated (the emit-side handshake is gated on a
        // non-empty user, so an empty one would disable SASL entirely)
        if (saslOn && p("sink.kafka.sasl.user").isEmpty)
          throw new IllegalArgumentException(
            "sink.kafka.sasl.enabled=true requires sink.kafka.sasl.user")
        KafkaWireSink(
          bootstrap = p("sink.kafka.brokers", "localhost:9092"),
          saslUsername = if (saslOn) p("sink.kafka.sasl.user") else "",
          saslPassword = if (saslOn) p("sink.kafka.sasl.password") else "",
          // sink.kafka.tls.* ≙ kafka.go:66-77 (enabled + skipverify);
          // clientauth (mTLS) is unsupported — fail loudly
          tlsEnabled = p("sink.kafka.tls.enabled", "false").toBoolean,
          tlsSkipVerify = {
            if (p("sink.kafka.tls.clientauth", "0") != "0")
              throw new IllegalArgumentException(
                "kafka sink has no mTLS client auth; " +
                  "sink.kafka.tls.clientauth is unsupported")
            p("sink.kafka.tls.skipverify", "false").toBoolean
          })
      case "nats" => NatsSink(NatsSinkConfig(
        address = p("sink.nats.address", "nats://localhost:4222"),
        authorization = p("sink.nats.authorization", "userinfo"),
        username = p("sink.nats.userinfo.username"),
        password = p("sink.nats.userinfo.password"),
        credentialsCertificate = p("sink.nats.credentials.certificate"),
        credentialsSeeds = p("sink.nats.credentials.seeds")
          .split(",").toSeq.filter(_.nonEmpty),
        jwt = p("sink.nats.jwt.jwt"), jwtSeed = p("sink.nats.jwt.seed"),
        jetStream = p("sink.nats.jetstream", "true").toBoolean,
        timeoutSeconds = p("sink.nats.timeout", "5").toInt))
      case "redis" => RedisSink(RedisSinkConfig(
        network = p("sink.redis.network", "tcp"),
        address = p("sink.redis.address", "localhost:6379"),
        password = p("sink.redis.password"),
        database = p("sink.redis.database", "0").toInt,
        retriesMax = p("sink.redis.retries.maxattempts", "0").toInt,
        retryBackoffMinMs = p("sink.redis.retries.backoff.min", "8").toLong,
        retryBackoffMaxMs = p("sink.redis.retries.backoff.max", "512").toLong,
        tls = p("sink.redis.tls.enabled", "false").toBoolean,
        tlsSkipVerify = {
          // mTLS client certs are unsupported, as for the kafka sink —
          // fail LOUDLY rather than silently connecting without them
          if (p("sink.redis.tls.clientauth", "0") != "0")
            throw new IllegalArgumentException(
              "sink.redis.tls.clientauth: client-certificate auth is not wire-implemented")
          p("sink.redis.tls.skipverify", "false").toBoolean
        },
        dialTimeoutMs = dur(props, "sink.redis.timeouts.dial"),
        readTimeoutMs = dur(props, "sink.redis.timeouts.read"),
        writeTimeoutMs = dur(props, "sink.redis.timeouts.write"),
        poolSize = p("sink.redis.poolsize", "0").toInt,
        poolTimeoutMs = dur(props, "sink.redis.timeouts.pool"),
        idleTimeoutMs = dur(props, "sink.redis.timeouts.idle")))
      case "kinesis" => KinesisSink(KinesisSinkConfig(
        streamName = opt("sink.kinesis.stream.name"),
        region = opt("sink.kinesis.aws.region"),
        endpoint = p("sink.kinesis.aws.endpoint"),
        streamCreate = p("sink.kinesis.stream.create", "true").toBoolean,
        shardCount = opt("sink.kinesis.stream.shardcount").map(_.toLong),
        streamMode = opt("sink.kinesis.stream.mode"),
        accessKeyId = p("sink.kinesis.aws.accesskeyid"),
        secretAccessKey = p("sink.kinesis.aws.secretaccesskey"),
        sessionToken = p("sink.kinesis.aws.sessiontoken")))
      case "sqs" => SqsSink(SqsSinkConfig(
        queueUrl = opt("sink.sqs.queue.url"),
        region = opt("sink.sqs.aws.region"),
        endpoint = p("sink.sqs.aws.endpoint"),
        accessKeyId = p("sink.sqs.aws.accesskeyid"),
        secretAccessKey = p("sink.sqs.aws.secretaccesskey"),
        sessionToken = p("sink.sqs.aws.sessiontoken")))
      case "http" => HttpSink(HttpSinkConfig(
        url = p("sink.http.url"),
        authenticationType = p("sink.http.authentication.type", "none"),
        basicUsername = p("sink.http.authentication.basic.username"),
        basicPassword = p("sink.http.authentication.basic.password"),
        headerName = p("sink.http.authentication.header.name"),
        headerValue = p("sink.http.authentication.header.value"),
        tlsSkipVerify = {
          if (p("sink.http.tls.clientauth", "0") != "0")
            throw new IllegalArgumentException(
              "sink.http.tls.clientauth: client-certificate auth is not wire-implemented")
          p("sink.http.tls.skipverify", "false").toBoolean
        }))
      // ONE dispatch surface: anything not built-in falls through to the
      // pluggable registry (the reference's RegisterSink extension path),
      // whose own error lists the registered names
      case other => create(other)
    }
  }

  /** Exponential-backoff retry wrapper (×8, like `eventemitter.go:107`). */
  def withRetry(sink: Sink, maxRetries: Int = 8, baseDelayMs: Long = 10): Sink =
    new Sink {
      def name: String = s"retry(${sink.name})"
      def emit(batch: DataFrame, batchId: Long): Unit = {
        var attempt = 0
        var done = false
        while (!done) {
          try { sink.emit(batch, batchId); done = true }
          catch {
            case e: Exception if attempt < maxRetries =>
              Thread.sleep(baseDelayMs << attempt)
              attempt += 1
            case e: Exception => throw e
          }
        }
      }
    }

  /** Dead-letter queue around a sink: when a batch STILL fails after the
    * primary's retries, it routes — annotated with the batch id and the
    * failure — to the DLQ sink instead of killing the stream. The
    * poison-batch pattern every long-running delivery pipeline needs:
    * one unreachable endpoint or un-serializable record must not stall
    * the WAL behind it forever (at-least-once holds: the batch IS
    * delivered, just to the dead-letter side, where an operator replays
    * it after the fix). DLQ failures themselves are NOT swallowed —
    * losing data silently is worse than stalling.
    */
  def withDlq(primary: Sink, dlq: Sink): Sink =
    new Sink {
      def name: String = s"dlq(${primary.name} -> ${dlq.name})"
      def emit(batch: DataFrame, batchId: Long): Unit =
        try primary.emit(batch, batchId)
        catch {
          case e: Exception =>
            import org.apache.spark.sql.functions.{lit, substring}
            dlq.emit(batch
              .withColumn("__dlq_batch_id", lit(batchId))
              .withColumn("__dlq_error", substring(lit(
                Option(e.getMessage).getOrElse(e.getClass.getName)), 1, 500)),
              batchId)
        }
    }
}

object ConsoleSink extends Sink {
  def name = "console"
  def emit(batch: DataFrame, batchId: Long): Unit = batch.show(20, truncate = false)
}

object NullSink extends Sink {
  def name = "null"
  // forces full computation without materializing anywhere (bench sink)
  def emit(batch: DataFrame, batchId: Long): Unit = {
    batch.foreach((_: Row) => ())
  }
}

/** HTTP sink option assembly — S14
  * (`internal/eventing/sink/http/http.go:50-100`): authentication
  * none/basic/header, TLS skip-verify/client-auth. The header map is the
  * wire contract a POST emitter attaches per request; an unknown
  * authentication type fails loudly with the reference's wording. No
  * HTTP endpoint exists in this environment — the assembled headers and
  * the [[Sink]] delivery contract (`FileQueueSink` + retry) are the
  * testable surface.
  */
final case class HttpSinkConfig(
    url: String,
    authenticationType: String = "none",
    basicUsername: String = "",
    basicPassword: String = "",
    headerName: String = "",
    headerValue: String = "",
    tlsSkipVerify: Boolean = false) {
  // fail at construction, not on an executor 8 retries deep
  require(url.nonEmpty, "http sink url is not provided")
  def headers: Map[String, String] = authenticationType match {
    case "none" => Map.empty
    case "basic" =>
      val token = java.util.Base64.getEncoder.encodeToString(
        s"$basicUsername:$basicPassword".getBytes("UTF-8"))
      Map("Authorization" -> s"Basic $token")
    case "header" => Map(headerName -> headerValue)
    case other =>
      throw new IllegalArgumentException(s"http AuthenticationType '$other' doesn't exist")
  }
}

/** REAL HTTP sink — bytes leave the process. One POST per event with the
  * row's JSON rendering, from the executors (`http.go:50-125` semantics:
  * per-event request, auth headers, non-2xx = error), using the JDK's
  * `java.net.http.HttpClient` (no extra dependency). A non-2xx status
  * throws, so `Sinks.withRetry` gives the reference's backoff-and-retry
  * at-least-once contract; receivers dedupe (the delivery contract the
  * FileQueueSink test proves). `tlsSkipVerify` is honored only for https
  * endpoints in production configs; the in-env tests run plain http.
  */
final case class HttpSink(config: HttpSinkConfig) extends Sink {
  def name = "http"
  def emit(batch: DataFrame, batchId: Long): Unit = {
    val url = config.url
    val headers = config.headers
    batch.toJSON.foreachPartition { (it: Iterator[String]) =>
      val client = java.net.http.HttpClient.newHttpClient()
      it.foreach { body =>
        val b = java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(url))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        headers.foreach { case (k, v) => b.header(k, v) }
        val resp = client.send(b.build(),
          java.net.http.HttpResponse.BodyHandlers.discarding())
        if (resp.statusCode() / 100 != 2)
          throw new RuntimeException(
            s"http sink: POST -> ${resp.statusCode()} (batch $batchId)")
      }
    }
  }
}

/** NATS sink configuration — S10
  * (`internal/eventing/sink/nats/nats.go:44-64`): address + one of
  * userinfo / credentials / jwt authorization. The wire client
  * implements userinfo only; [[NatsSink]] fails loudly on the others. */
final case class NatsSinkConfig(
    address: String = "nats://localhost:4222",
    authorization: String = "userinfo",
    username: String = "",
    password: String = "",
    credentialsCertificate: String = "",
    credentialsSeeds: Seq[String] = Nil,
    jwt: String = "",
    jwtSeed: String = "",
    // the reference publishes through JetStream with per-message publish
    // acks (nats.go:150-156) — that is the default; `jetStream = false`
    // keeps the fire-and-forget core-NATS PUB + PING-flush form
    jetStream: Boolean = true,
    // ack timeout, c.Sink.Nats.Timeout parity (nats.go:113-116)
    timeoutSeconds: Int = 5)

/** A TCP socket whose writes are bounded. SO_TIMEOUT bounds reads only:
  * a blocking write to a peer that stopped reading while its buffers
  * are full never returns. Each write on this socket's output stream
  * stamps its start time; one daemon thread polls the open sockets and
  * closes one whose write has not returned within `timeoutMs`, so the
  * write fails with a `SocketException` (an `IOException`) that
  * `Sinks.withRetry` and the DLQ handle as any failed emit. No timer is
  * armed per write or per record. */
private[sinks] final class WriteBoundedSocket(timeoutMs: Long) extends java.net.Socket {
  // System.nanoTime() when the pending write began (odd, so never 0);
  // 0 while no write is pending
  @volatile private var since = 0L
  private lazy val bounded: java.io.OutputStream = {
    WriteBoundedSocket.watch(this)
    new java.io.FilterOutputStream(super.getOutputStream) {
      private def timed(write: => Unit): Unit = {
        since = System.nanoTime() | 1L
        try write finally since = 0L
      }
      override def write(b: Int): Unit = timed(out.write(b))
      override def write(b: Array[Byte], off: Int, len: Int): Unit = timed(out.write(b, off, len))
      override def flush(): Unit = timed(out.flush())
    }
  }
  override def getOutputStream: java.io.OutputStream = bounded

  private def expired(now: Long): Boolean = {
    val s = since
    s != 0L && now - s > timeoutMs * 1000000L
  }
}

private object WriteBoundedSocket {
  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[WriteBoundedSocket]()
  private lazy val watchdog: Thread = {
    val t = new Thread(() => while (true) {
      Thread.sleep(100)
      val now = System.nanoTime()
      open.forEach { s =>
        if (s.isClosed) open.remove(s)
        else if (s.expired(now)) { open.remove(s); s.close() }
      }
    }, "graft-sink-write-bound")
    t.setDaemon(true)
    t.start()
    t
  }
  private def watch(s: WriteBoundedSocket): Unit = { watchdog; open.add(s) }
}

/** Redis sink configuration — S11
  * (`internal/eventing/sink/redis/redis.go:45-80`): network/address/
  * auth/db plus the client's retry-backoff knobs (the reference reuses
  * go-redis's retrier rather than `Sinks.withRetry`). */
final case class RedisSinkConfig(
    network: String = "tcp",
    address: String = "localhost:6379",
    password: String = "",
    database: Int = 0,
    retriesMax: Int = 0,
    retryBackoffMinMs: Long = 8,
    retryBackoffMaxMs: Long = 512,
    tls: Boolean = false,
    tlsSkipVerify: Boolean = false,
    // `sink.redis.timeouts.{dial,read,write}` (`redis.go:66-74`). Dial
    // and read map to connect timeout / SO_TIMEOUT on the partition
    // socket, write to a [[WriteBoundedSocket]] deadline. go-redis's
    // defaults and conventions: dial 5 s, read 3 s, write = read; 0
    // (an unset key) takes the default, a negative value sets no deadline.
    dialTimeoutMs: Long = RedisSinkConfig.DefaultDialTimeoutMs,
    readTimeoutMs: Long = RedisSinkConfig.DefaultReadTimeoutMs,
    writeTimeoutMs: Long = 0,
    // `sink.redis.poolsize` + `timeouts.{pool,idle}` (`redis.go:75-83`):
    // go-redis pools connections inside one process; here each executor
    // partition holds exactly one connection for exactly one batch, so
    // the partition count IS the pool and idle/acquire states don't
    // exist. Accepted and validated for config-surface parity.
    poolSize: Int = 0,
    poolTimeoutMs: Long = 0,
    idleTimeoutMs: Long = 0)

object RedisSinkConfig {
  val DefaultDialTimeoutMs = 5000L
  val DefaultReadTimeoutMs = 3000L

  /** go-redis's reading of a timeout: 0 takes `default`, a negative value
    * means no deadline (0 to [[Sinks.dialSocket]]). */
  private[sinks] def deadlineMs(ms: Long, default: Long): Long =
    if (ms == 0) default else math.max(ms, 0L)
}

/** Minimal RESP2 client for the reference's Redis emit
  * (`redis.go:111-131`: `XADD <topic> * key <key> envelope <envelope>`
  * per event) — real bytes over a raw TCP socket from the executors, no
  * client library. Expects a batch with string columns
  * (topic, key, envelope). Error replies (`-ERR …`) throw, so
  * `Sinks.withRetry` supplies the reference's backoff; XADD is
  * at-least-once and consumers dedupe on content.
  */
final case class RedisSink(config: RedisSinkConfig) extends Sink {
  def name = "redis"
  def emit(batch: DataFrame, batchId: Long): Unit = {
    val address  = config.address
    val password = config.password
    val database = config.database
    val (tls, skipVerify) = (config.tls, config.tlsSkipVerify)
    import RedisSinkConfig.deadlineMs
    val dialMs = deadlineMs(config.dialTimeoutMs, RedisSinkConfig.DefaultDialTimeoutMs)
    val readMs = deadlineMs(config.readTimeoutMs, RedisSinkConfig.DefaultReadTimeoutMs)
    val writeMs = deadlineMs(config.writeTimeoutMs, readMs)
    batch.select("topic", "key", "envelope").foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {                  // empty partition: don't even dial
      val (host, port) = Sinks.hostPort(address, 6379)
      val sock = Sinks.dialSocket(host, port, tls, skipVerify, dialMs, readMs, writeMs)
      try {
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in  = new java.io.DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream))
        def crlfLine(): String = Sinks.crlfLine(in)
        def writeCmd(args: String*): Unit = {
          out.write(s"*${args.length}\r\n".getBytes("UTF-8"))
          args.foreach { a =>
            val b = a.getBytes("UTF-8")
            out.write(s"$$${b.length}\r\n".getBytes("UTF-8"))
            out.write(b)
            out.write("\r\n".getBytes("UTF-8"))
          }
          out.flush()
        }
        def readReply(): Unit = {
          val line = crlfLine()
          if (line.isEmpty) throw new RuntimeException("redis: connection closed")
          line.charAt(0) match {
            case '-' => throw new RuntimeException(s"redis: $line")
            case '$' =>
              val n = line.substring(1).toInt
              if (n >= 0) { val buf = new Array[Byte](n + 2); in.readFully(buf) }
            case '+' | ':' => () // +OK, :N
            case other =>
              // a permissive default here once read a TLS ALERT record as
              // a successful reply (plaintext client on a TLS port) —
              // anything outside the RESP marker set is a hard failure
              throw new RuntimeException(
                f"redis: protocol violation: reply byte 0x${other.toInt}%02x is not RESP")
          }
        }
        if (password.nonEmpty) { writeCmd("AUTH", password); readReply() }
        if (database != 0)     { writeCmd("SELECT", database.toString); readReply() }
        rows.foreach { r =>
          // key is protocol-null for unwrapped streams whose PK was
          // shaped away and for tombstone-less renders — a Redis stream
          // field can't carry null, so the empty string stands in (same
          // posture as NatsSink's header fallback)
          writeCmd("XADD", r.getAs[String]("topic"), "*",
            "key", Option(r.getAs[String]("key")).getOrElse(""),
            "envelope", r.getAs[String]("envelope"))
          readReply()
        }
      } finally sock.close()
      }
    }
  }
}

/** Minimal NATS client for the reference's publish (`nats.go:133-156`)
  * — the text wire protocol over a raw socket from the executors.
  *
  * JETSTREAM mode (default, reference parity): each event is an HPUB on
  * the topic subject with the envelope key as a `key:` header
  * (nats.go:147-149) and a reply-to inbox the client has SUBscribed;
  * the partition then BLOCKS on the server's PubAck for that message
  * (`{"stream":…,"seq":…}` delivered as a MSG on the inbox) — the
  * at-least-once-with-broker-ack contract of `jetStreamContext
  * .PublishMsg`. An ack containing `"error"` throws; NO ack within
  * `timeoutSeconds` throws via socket timeout — either way
  * `Sinks.withRetry` redelivers the batch (JetStream consumers dedupe
  * downstream, exactly the reference's at-least-once posture).
  *
  * CORE mode (`jetStream = false`): fire-and-forget PUB frames with a
  * trailing PING/PONG flush barrier — the server has processed every
  * PUB before the partition completes, but there is no broker ack.
  *
  * Only userinfo authorization is wire-implemented; credentials/jwt
  * configs fail loudly at emit (the reference supports them via the
  * nats.go client library, `nats.go:44-64`) rather than silently
  * connecting unauthenticated. Expects string columns (topic, envelope)
  * plus optionally `key` for the header.
  */
final case class NatsSink(config: NatsSinkConfig) extends Sink {
  def name = "nats"
  def emit(batch: DataFrame, batchId: Long): Unit = {
    if (config.authorization != "userinfo")
      throw new IllegalArgumentException(
        s"nats wire client implements userinfo authorization only, got '${config.authorization}'")
    val address  = config.address.stripPrefix("nats://")
    val username = config.username
    val password = config.password
    val js = config.jetStream
    val timeoutMs = math.max(config.timeoutSeconds, 1) * 1000
    val hasKey = batch.columns.contains("key")
    val cols = if (hasKey) Seq("topic", "envelope", "key") else Seq("topic", "envelope")
    batch.select(cols.head, cols.tail: _*).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {                  // empty partition: don't even dial
      val (host, port) = Sinks.hostPort(address, 4222)
      // ack timeout is a JETSTREAM contract (a lost ack must throw,
      // not hang); core mode's single flush PONG lands after a whole
      // partition of PUBs drains — bounding it at 5 s would turn a
      // slow-but-healthy broker into 8 duplicate-producing retries.
      // Dial and each single write are bounded in both modes.
      val sock = Sinks.dialSocket(host, port, tls = false, skipVerify = false,
        dialTimeoutMs = timeoutMs, readTimeoutMs = if (js) timeoutMs else 0,
        writeTimeoutMs = timeoutMs)
      try {
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in  = new java.io.DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream))
        def crlfLine(): String = Sinks.crlfLine(in)
        def send(s: String): Unit = out.write(s.getBytes("UTF-8"))
        def jsonStr(s: String): String = "\"" + Sinks.jsonEscape(s) + "\""
        val info = crlfLine()
        if (!info.startsWith("INFO")) throw new RuntimeException(s"nats: expected INFO, got $info")
        send(s"""CONNECT {"verbose":false,"pedantic":false,"headers":$js,"user":${jsonStr(username)},"pass":${jsonStr(password)},"name":"graft"}""" + "\r\n")
        send("PING\r\n"); out.flush()
        val pong = crlfLine()
        if (pong != "PONG") throw new RuntimeException(s"nats: expected PONG, got $pong")
        val inbox = "_INBOX.graft." + java.util.UUID.randomUUID().toString.replace("-", "")
        if (js) { send(s"SUB $inbox 1\r\n"); out.flush() }
        /** Block until the PubAck MSG for the in-flight publish; answer
          * interleaved server PINGs. */
        def awaitAck(): Unit = {
          var acked = false
          while (!acked) {
            val l = crlfLine()
            if (l.isEmpty) throw new RuntimeException("nats: connection closed awaiting ack")
            else if (l == "PING") { send("PONG\r\n"); out.flush() }
            // servers push unsolicited INFO on live connections (cluster
            // topology, lame-duck announcements) — spec-legal, skip it
            else if (l.startsWith("INFO")) ()
            else if (l.startsWith("-ERR")) throw new RuntimeException(s"nats: $l")
            else if (l.startsWith("MSG ") || l.startsWith("HMSG ")) {
              val n = l.split(" ").last.toInt // total payload bytes
              val buf = new Array[Byte](n + 2)
              in.readFully(buf)
              val ack = new String(buf, 0, n, "UTF-8")
              if (ack.contains("\"error\""))
                throw new RuntimeException(s"nats: jetstream publish rejected: $ack")
              acked = true
            } // PONG and other frames: keep scanning
            else if (l != "PONG") throw new RuntimeException(s"nats: unexpected frame: $l")
          }
        }
        rows.foreach { r =>
          val payload = r.getAs[String]("envelope").getBytes("UTF-8")
          val topic = r.getAs[String]("topic")
          if (js) {
            val key = if (hasKey) Option(r.getAs[String]("key")).getOrElse("") else ""
            val hdr = ("NATS/1.0\r\n" +
              (if (key.nonEmpty) s"key: ${key.replaceAll("[\r\n]", " ")}\r\n" else "") +
              "\r\n").getBytes("UTF-8")
            send(s"HPUB $topic $inbox ${hdr.length} ${hdr.length + payload.length}\r\n")
            out.write(hdr); out.write(payload); send("\r\n"); out.flush()
            awaitAck()                     // sync publish, reference parity
          } else {
            send(s"PUB $topic ${payload.length}\r\n")
            out.write(payload)
            send("\r\n")
          }
        }
        if (!js) {
          send("PING\r\n"); out.flush()
          val flushAck = crlfLine()
          if (flushAck != "PONG") throw new RuntimeException(s"nats: flush failed: $flushAck")
        }
      } finally sock.close()
      }
    }
  }
}

/** AWS Signature Version 4 (the public, documented signing scheme the
  * AWS SDKs implement) over JDK crypto only — the auth layer the real
  * Kinesis/SQS emitters need. `authorization` produces the complete
  * `Authorization` header for a request; tests recompute it server-side
  * from the received headers/body to prove the client signs correctly.
  */
object AwsSigV4 {
  private def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes("UTF-8"))
  }

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  def sha256Hex(data: Array[Byte]): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(data))

  /** RFC 3986 encoding as SigV4 requires (space → %20, keep ~). */
  def uriEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
      .replace("+", "%20").replace("*", "%2A").replace("%7E", "~")

  /** Full Authorization header value for a signed request.
    * `headers` are the headers to sign (name → exact wire value);
    * `amzDate` is the `yyyyMMdd'T'HHmmss'Z'` timestamp also sent as
    * `x-amz-date`. */
  def authorization(
      method: String, path: String, query: String,
      headers: Seq[(String, String)], payload: Array[Byte], amzDate: String,
      region: String, service: String,
      accessKeyId: String, secretAccessKey: String): String = {
    val sorted        = headers.map { case (k, v) => (k.toLowerCase, v.trim) }.sortBy(_._1)
    val canonHeaders  = sorted.map { case (k, v) => s"$k:$v\n" }.mkString
    val signedHeaders = sorted.map(_._1).mkString(";")
    val canonical = Seq(method, path, query, canonHeaders, signedHeaders,
      sha256Hex(payload)).mkString("\n")
    val dateStamp = amzDate.take(8)
    val scope     = s"$dateStamp/$region/$service/aws4_request"
    val stringToSign = Seq("AWS4-HMAC-SHA256", amzDate, scope,
      sha256Hex(canonical.getBytes("UTF-8"))).mkString("\n")
    val kSigning = hmac(hmac(hmac(hmac(
      ("AWS4" + secretAccessKey).getBytes("UTF-8"), dateStamp), region), service),
      "aws4_request")
    val signature = hex(hmac(kSigning, stringToSign))
    s"AWS4-HMAC-SHA256 Credential=$accessKeyId/$scope, " +
      s"SignedHeaders=$signedHeaders, Signature=$signature"
  }

  def amzDateNow(): String = {
    val fmt = new java.text.SimpleDateFormat("yyyyMMdd'T'HHmmss'Z'")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    fmt.format(new java.util.Date())
  }

  /** Host header value the JDK HttpClient will send for a URI. */
  def hostHeader(uri: java.net.URI): String =
    if (uri.getPort == -1) uri.getHost else s"${uri.getHost}:${uri.getPort}"

  /** Sign and POST one request to `uri` — the shared emit path of the
    * Kinesis/SQS sinks (one signing implementation, not two copies).
    * Signs content-type/host/x-amz-date plus `extraHeaders` and the
    * session token when present. */
  def signedPost(client: java.net.http.HttpClient, uri: java.net.URI,
      region: String, service: String,
      accessKeyId: String, secretAccessKey: String, sessionToken: String,
      contentType: String, extraHeaders: Seq[(String, String)],
      body: Array[Byte]): java.net.http.HttpResponse[String] = {
    val amzDate = amzDateNow()
    val headers = Seq(
      "content-type" -> contentType,
      "host"         -> hostHeader(uri),
      "x-amz-date"   -> amzDate) ++ extraHeaders ++
      (if (sessionToken.nonEmpty) Seq("x-amz-security-token" -> sessionToken) else Nil)
    val auth = authorization("POST", "/", "", headers, body, amzDate,
      region, service, accessKeyId, secretAccessKey)
    val b = java.net.http.HttpRequest.newBuilder(uri)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
      .header("Authorization", auth)
    headers.filterNot(_._1 == "host").foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
  }
}

/** Kinesis sink configuration — S12
  * (`internal/eventing/sink/awskinesis/awskinesis.go:49-62,143`): the
  * stream name is mandatory (checked before the first request); the
  * partition key per record is the TOPIC
  * NAME (per-topic ordering, same contract as the reference). */
final case class KinesisSinkConfig(
    streamName: Option[String],
    region: Option[String] = None,
    endpoint: String = "",
    streamCreate: Boolean = true,
    shardCount: Option[Long] = None,
    streamMode: Option[String] = None,
    accessKeyId: String = "",
    secretAccessKey: String = "",
    sessionToken: String = "") {
  /** awskinesis.go:143: PartitionKey = topic name. */
  def partitionKey(topicName: String): String = topicName
}

/** SQS sink configuration — S13
  * (`internal/eventing/sink/awssqs/awssqs.go:50-56,115-121`): the queue
  * url is mandatory (checked at emit); FIFO
  * group id = topic name; the deduplication id derives from the
  * envelope (lsn + txId), the same content-keyed idempotence the
  * `cdc_sqs_dedup_id` query replicates column-side. */
final case class SqsSinkConfig(
    queueUrl: Option[String],
    region: Option[String] = None,
    endpoint: String = "",
    accessKeyId: String = "",
    secretAccessKey: String = "",
    sessionToken: String = "") {
  def messageGroupId(topicName: String): String = topicName
}

/** REAL Kinesis sink — SigV4-signed `PutRecords` over the documented
  * JSON wire protocol (`x-amz-json-1.1`, target
  * `Kinesis_20131202.PutRecords`) from the executors, JDK HttpClient
  * only. The reference emits one `PutRecord` per event
  * (`awskinesis.go:137-148`); at 100 TB the batched form (≤500
  * records/request, the API maximum) is the only sane shape, with the
  * identical per-record contract: `PartitionKey` = topic name,
  * `Data` = envelope bytes. A non-2xx status or a nonzero
  * `FailedRecordCount` throws, so `Sinks.withRetry` re-drives the
  * partition — at-least-once, consumers dedupe on content.
  * Expects string columns (topic, envelope).
  */
final case class KinesisSink(config: KinesisSinkConfig) extends Sink {
  def name = "kinesis"

  /** Stream auto-create parity (`awskinesis.go:89-117`): DescribeStream;
    * on ResourceNotFoundException with stream.create enabled (the
    * default), CreateStream with the configured shard count / stream
    * mode, then wait until the stream reports ACTIVE. Runs once per sink
    * instance, driver-side, before the first batch; create disabled or
    * any other error propagates, exactly the reference's behavior. */
  @transient private lazy val streamReady: Boolean = { ensureStream(); true }

  private def ensureStream(): Unit = {
    val streamName = config.streamName.getOrElse(
      throw new IllegalArgumentException("kinesis stream name is not provided"))
    val client = java.net.http.HttpClient.newHttpClient()
    val uri    = java.net.URI.create(config.endpoint)
    val region = config.region.getOrElse("us-east-1")
    def call(target: String, body: String): java.net.http.HttpResponse[String] =
      AwsSigV4.signedPost(client, uri, region, "kinesis",
        config.accessKeyId, config.secretAccessKey, config.sessionToken,
        "application/x-amz-json-1.1",
        Seq("x-amz-target" -> s"Kinesis_20131202.$target"), body.getBytes("UTF-8"))
    val nameJson = s"""{"StreamName":"${Sinks.jsonEscape(streamName)}"}"""
    val desc = call("DescribeStream", nameJson)
    if (desc.statusCode() / 100 == 2) return
    val notFound = desc.body().contains("ResourceNotFoundException")
    if (!notFound) throw new RuntimeException(
      s"kinesis sink: DescribeStream -> ${desc.statusCode()}: ${desc.body()}")
    if (!config.streamCreate) throw new RuntimeException(
      s"kinesis sink: stream '$streamName' does not exist and stream.create is disabled")
    val createBody = s"""{"StreamName":"${Sinks.jsonEscape(streamName)}"""" +
      config.shardCount.map(n => s""","ShardCount":$n""").getOrElse("") +
      config.streamMode.map(m =>
        s""","StreamModeDetails":{"StreamMode":"${Sinks.jsonEscape(m)}"}""").getOrElse("") +
      "}"
    val created = call("CreateStream", createBody)
    if (created.statusCode() / 100 != 2) throw new RuntimeException(
      s"kinesis sink: CreateStream -> ${created.statusCode()}: ${created.body()}")
    // WaitUntilStreamExists analog: poll DescribeStream for ACTIVE
    var attempts = 0
    while (attempts < 60) {
      val d = call("DescribeStream", nameJson)
      if (d.statusCode() / 100 == 2 &&
          "\"StreamStatus\"\\s*:\\s*\"ACTIVE\"".r.findFirstIn(d.body()).isDefined) return
      attempts += 1
      Thread.sleep(250)
    }
    throw new RuntimeException(
      s"kinesis sink: stream '$streamName' did not become ACTIVE after create")
  }

  def emit(batch: DataFrame, batchId: Long): Unit = {
    require(streamReady)
    val streamName = config.streamName.getOrElse(
      throw new IllegalArgumentException("kinesis stream name is not provided"))
    val endpoint = config.endpoint
    val region   = config.region.getOrElse("us-east-1")
    val (akid, secret, token) =
      (config.accessKeyId, config.secretAccessKey, config.sessionToken)
    batch.select("topic", "envelope").foreachPartition { (rows: Iterator[Row]) =>
      val uri    = java.net.URI.create(endpoint)
      val client = java.net.http.HttpClient.newHttpClient()
      rows.grouped(500).foreach { chunk =>
        val records = chunk.map { r =>
          val data = java.util.Base64.getEncoder.encodeToString(
            r.getAs[String]("envelope").getBytes("UTF-8"))
          val key = Sinks.jsonEscape(r.getAs[String]("topic"))
          s"""{"Data":"$data","PartitionKey":"$key"}"""
        }.mkString(",")
        val body =
          s"""{"StreamName":"${Sinks.jsonEscape(streamName)}","Records":[$records]}"""
            .getBytes("UTF-8")
        val resp = AwsSigV4.signedPost(client, uri, region, "kinesis",
          akid, secret, token, "application/x-amz-json-1.1",
          Seq("x-amz-target" -> "Kinesis_20131202.PutRecords"), body)
        if (resp.statusCode() / 100 != 2)
          throw new RuntimeException(
            s"kinesis sink: PutRecords -> ${resp.statusCode()}: ${resp.body()}")
        val failed = "\"FailedRecordCount\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(resp.body()).map(_.group(1).toInt).getOrElse(0)
        if (failed > 0)
          throw new RuntimeException(s"kinesis sink: $failed records failed (batch $batchId)")
      }
    }
  }
}

/** REAL SQS sink — SigV4-signed `SendMessageBatch` over the documented
  * query protocol (form-encoded action) from the executors. The
  * reference sends one `SendMessage` per event (`awssqs.go:107-130`);
  * the batched form (≤10 entries, the API maximum) keeps the identical
  * per-message contract: `MessageGroupId` = topic (FIFO per-topic
  * ordering), `MessageDeduplicationId` = content hash, so checkpoint
  * replay after a crash dedupes queue-side — at-least-once in,
  * exactly-once out (README.md:444-447). Expects string columns
  * (topic, envelope, dedup_id) — `dedup_id` per the `cdc_sqs_dedup_id`
  * query's hash(LSN, txId, content).
  */
final case class SqsSink(config: SqsSinkConfig) extends Sink {
  def name = "sqs"
  def emit(batch: DataFrame, batchId: Long): Unit = {
    val queueUrl = config.queueUrl.getOrElse(
      throw new IllegalArgumentException("sqs queue url is not provided"))
    val endpoint = config.endpoint
    val region   = config.region.getOrElse("us-east-1")
    val (akid, secret, token) =
      (config.accessKeyId, config.secretAccessKey, config.sessionToken)
    batch.select("topic", "envelope", "dedup_id").foreachPartition { (rows: Iterator[Row]) =>
      val uri    = java.net.URI.create(endpoint)
      val client = java.net.http.HttpClient.newHttpClient()
      rows.grouped(10).foreach { chunk =>
        // No per-entry DelaySeconds: FIFO queues (the Group/Dedup-id
        // contract implies FIFO) reject per-message delay — the
        // reference's explicit DelaySeconds(0) (`awssqs.go:122`) is an
        // SDK-default artifact this client deliberately omits.
        val entries = chunk.zipWithIndex.flatMap { case (r, i) =>
          val p = s"SendMessageBatchRequestEntry.${i + 1}"
          Seq(
            s"$p.Id" -> s"msg$i",
            s"$p.MessageBody"            -> r.getAs[String]("envelope"),
            s"$p.MessageGroupId"         -> r.getAs[String]("topic"),
            s"$p.MessageDeduplicationId" -> r.getAs[String]("dedup_id"))
        }
        val params = Seq(
          "Action" -> "SendMessageBatch", "Version" -> "2012-11-05",
          "QueueUrl" -> queueUrl) ++ entries
        val body = params
          .map { case (k, v) => s"${AwsSigV4.uriEncode(k)}=${AwsSigV4.uriEncode(v)}" }
          .mkString("&").getBytes("UTF-8")
        val resp = AwsSigV4.signedPost(client, uri, region, "sqs",
          akid, secret, token,
          "application/x-www-form-urlencoded; charset=utf-8", Nil, body)
        if (resp.statusCode() / 100 != 2)
          throw new RuntimeException(
            s"sqs sink: SendMessageBatch -> ${resp.statusCode()}: ${resp.body()}")
        if (resp.body().contains("<BatchResultErrorEntry>"))
          throw new RuntimeException(s"sqs sink: batch entries failed (batch $batchId)")
      }
    }
  }
}

/** At-least-once queue-shaped sink over the filesystem — the testable
  * stand-in for the reference's HTTP/SQS/Kinesis emitters (no brokers
  * in this environment; the delivery CONTRACT is what's under test):
  *
  *   - each micro-batch lands as `batch=<id>/` in one distributed
  *     overwrite write — executors write, nothing funnels through the
  *     driver;
  *   - redelivery of a batch id (checkpoint replay after a crash
  *     between sink success and offset commit) OVERWRITES the same
  *     directory with identical content, so at-least-once delivery
  *     from the source becomes exactly-once in the queue — the same
  *     batch-id-keyed idempotence the reference gets from SQS
  *     deduplication ids (`README.md:444-447`);
  *   - transient failures (first `failFirst` attempts throw) are
  *     retried by `Sinks.withRetry`, mirroring ack-after-sink.
  */
final class FileQueueSink(dir: String, failFirst: Int = 0) extends Sink {
  def name = "file-queue"
  private val attempts = new java.util.concurrent.atomic.AtomicInteger()
  def emit(batch: DataFrame, batchId: Long): Unit = {
    if (attempts.incrementAndGet() <= failFirst)
      throw new RuntimeException(s"injected transient failure #${attempts.get}")
    batch.write.mode("overwrite").json(s"$dir/batch=$batchId")
  }
}
