package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import graft.cdc.{Cdc, PgOutput}

/** PostgreSQL v3 wire protocol — the replication-session subset: the
  * TRANSPORT layer under [[graft.cdc.PgOutput]]'s byte decoder, closing
  * the last seam between "decodes pgoutput bytes" and "attaches to a
  * live replication slot". Analog of the reference's replication
  * channel (`internal/replication/replicationchannel/replicationchannel.go:70-150`
  * session setup, `replicationhandler.go:115-215` receive loop).
  *
  * Implements, per the public protocol docs (protocol 3.0):
  *  - optional SSLRequest → TLS upgrade before startup (sslmode=require)
  *  - StartupMessage with `replication=database` (walsender mode)
  *  - AuthenticationOk / AuthenticationSASL → SCRAM-SHA-256 and
  *    SCRAM-SHA-256-PLUS (RFC 5802/7677 via [[Scram]], server-signature
  *    verification, RFC 5929 tls-server-end-point channel binding over
  *    TLS) / ParameterStatus / BackendKeyData / ReadyForQuery
  *  - simple query (`IDENTIFY_SYSTEM`: RowDescription/DataRow/CommandComplete)
  *  - `START_REPLICATION SLOT … LOGICAL …` → CopyBothResponse
  *  - CopyData in both directions: XLogData 'w' and PrimaryKeepalive 'k'
  *    inbound, StandbyStatusUpdate 'r' acks outbound
  *  - ErrorResponse field decoding (fail loudly with the server's words)
  *
  * Deliberately NOT implemented: md5 auth (superseded; PostgreSQL 14+
  * defaults to SCRAM and md5 is deprecated upstream — fail loudly) and
  * the extended-query protocol (walsender only speaks simple queries).
  *
  * Scale/ops shape: one socket per slot, O(1) memory (a frame at a
  * time). Two cursors, deliberately separate: `receivedLsn` tracks what
  * came off the socket; `processedLsn` — the one acks report — advances
  * only when the consumer calls [[PgReplicationClient.confirm]] after
  * its own durable commit. That is the reference's contract exactly:
  * StandbyStatusUpdate carries the LastProcessedLSN the event emitter
  * has finished with (`replicationconnection.go` SendStatusUpdate /
  * AcknowledgeProcessed), never the merely-received position — acking
  * received-but-unspooled frames would let confirmed_flush_lsn advance
  * past data a crash then loses forever.
  */
object PgWire {

  val ProtocolV3 = 196608 // (3 << 16)
  val SslRequestCode = 80877103 // 1234.5679, the SSLRequest pseudo-version

  /** "X/Y" hex form PostgreSQL prints LSNs in. */
  def lsnText(lsn: Long): String = graft.cdc.TextBuffer.lsnText(lsn)

  def parseLsn(s: String): Long = {
    val Array(hi, lo) = s.split("/")
    (java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16)
  }

  // ---- frontend message builders ----

  /** StartupMessage: Int32 len (self-inclusive), Int32 protocol, then
    * key\0value\0 pairs, final \0. No tag byte (the one tagless message). */
  def startupMessage(user: String, database: String,
                     replication: String = "database"): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    def cstr(s: String): Unit = { body.write(s.getBytes(UTF_8)); body.write(0) }
    Seq("user" -> user, "database" -> database,
      "replication" -> replication, "application_name" -> "graft").foreach {
      case (k, v) => cstr(k); cstr(v)
    }
    body.write(0)
    val payload = body.toByteArray
    val bb = ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length).putInt(ProtocolV3).put(payload)
    bb.array()
  }

  /** SSLRequest: Int32 8, Int32 80877103 — also tagless; the server
    * answers a single raw byte 'S' (proceed with TLS) or 'N'. */
  val sslRequest: Array[Byte] =
    ByteBuffer.allocate(8).putInt(8).putInt(SslRequestCode).array()

  /** Simple query: 'Q' + Int32 len + sql\0. */
  def queryMessage(sql: String): Array[Byte] = {
    val s = sql.getBytes(UTF_8)
    val bb = ByteBuffer.allocate(1 + 4 + s.length + 1)
    bb.put('Q'.toByte).putInt(4 + s.length + 1).put(s).put(0.toByte)
    bb.array()
  }

  /** SASLInitialResponse: 'p' + Int32 len + mechanism\0 + Int32
    * responseLen + response bytes. */
  def saslInitialResponse(mechanism: String, response: Array[Byte]): Array[Byte] = {
    val m = mechanism.getBytes(UTF_8)
    val bb = ByteBuffer.allocate(1 + 4 + m.length + 1 + 4 + response.length)
    bb.put('p'.toByte).putInt(4 + m.length + 1 + 4 + response.length)
      .put(m).put(0.toByte).putInt(response.length).put(response)
    bb.array()
  }

  /** SASLResponse: 'p' + Int32 len + raw response bytes (no cstr). */
  def saslResponse(response: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(5 + response.length)
    bb.put('p'.toByte).putInt(4 + response.length).put(response)
    bb.array()
  }

  /** AuthenticationSASL payload (after the Int32 code 10): mechanism
    * cstrs, list terminated by an empty \0. */
  def parseSaslMechanisms(payload: Array[Byte]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 4 // skip the auth code
    while (i < payload.length && payload(i) != 0) {
      val start = i
      while (i < payload.length && payload(i) != 0) i += 1
      if (i >= payload.length) throw new java.io.IOException(
        "pgwire: unterminated SASL mechanism name")
      out += new String(payload, start, i - start, UTF_8)
      i += 1
    }
    out.result()
  }

  /** CopyData: 'd' + Int32 len + payload (a replication message). */
  def copyData(payload: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(5 + payload.length)
    bb.put('d'.toByte).putInt(4 + payload.length).put(payload)
    bb.array()
  }

  /** Terminate: 'X' + Int32 4. */
  val terminate: Array[Byte] = Array('X'.toByte, 0, 0, 0, 4)

  /** RFC 5929 tls-server-end-point channel-binding data: the hash of
    * the server's leaf certificate, using the certificate signature's
    * hash (MD5/SHA-1 upgrade to SHA-256 per the RFC — also the
    * PostgreSQL server's rule in its be-secure channel-binding code).
    * Shared by the client's -PLUS arm and the spec's fake walsender —
    * both ends must compute the SAME bytes, that is the binding. */
  private[graft] def tlsServerEndPoint(cert: java.security.cert.X509Certificate): Array[Byte] = {
    val sig = cert.getSigAlgName.toUpperCase
    val alg =
      if (sig.contains("SHA384")) "SHA-384"
      else if (sig.contains("SHA512")) "SHA-512"
      else if (sig.contains("SHA224")) "SHA-224" // only MD5/SHA-1 upgrade
      else if (sig.contains("SHA256") || sig.contains("SHA1") || sig.contains("MD5"))
        "SHA-256" // MD5/SHA-1 upgrade per the RFC
      // IllegalStateException, NOT IOException: a certificate whose
      // signature hash can't be determined is a permanent configuration
      // error — tailResilient retries IOExceptions as transient socket
      // failures and would bury this under 5 backoff rounds
      else throw new IllegalStateException(
        s"pgwire: cannot determine the certificate signature hash for " +
          s"tls-server-end-point channel binding (signature algorithm '$sig', " +
          "e.g. RSASSA-PSS carries the hash in parameters) — use a cert with " +
          "an explicit SHA-2 signature; silently guessing would fail the " +
          "binding check opaquely")
    java.security.MessageDigest.getInstance(alg).digest(cert.getEncoded)
  }

  /** `sslmode=require` semantics: encrypt, do NOT authenticate the
    * server — libpq's require performs no certificate verification at
    * all (the documented behavior; verify-ca/verify-full are the
    * authenticating modes). A trust-all manager is therefore not a
    * shortcut here, it IS the mode. */
  def permissiveTlsContext(): javax.net.ssl.SSLContext = {
    val tm = new javax.net.ssl.X509TrustManager {
      def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
    }
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, Array(tm), null)
    ctx
  }

  // ---- backend message frame ----

  final case class Backend(tag: Char, payload: Array[Byte])

  /** One tagged backend message: tag byte + Int32 len (self-inclusive,
    * tag-exclusive) + payload. Length is validated before allocation —
    * same fail-loud framing contract as PgOutput.readFrames. */
  def readBackend(in: DataInputStream, maxLen: Int = 1 << 26): Backend = {
    val tag = in.read()
    if (tag < 0) throw new EOFException("pgwire: connection closed")
    val len = in.readInt()
    require(len >= 4 && len - 4 <= maxLen, s"pgwire: bad message length $len (tag ${tag.toChar})")
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    Backend(tag.toChar, payload)
  }

  /** ErrorResponse/NoticeResponse payload: (fieldCode byte + cstr)* \0.
    * Returns code→text (S severity, C sqlstate, M message, …). A field
    * whose terminator is missing (truncated payload) raises the same
    * descriptive framing error as every other malformed message — not a
    * raw ArrayIndexOutOfBounds. */
  def errorFields(payload: Array[Byte]): Map[Char, String] = {
    val m = scala.collection.mutable.Map[Char, String]()
    var i = 0
    while (i < payload.length && payload(i) != 0) {
      val code = payload(i).toChar; i += 1
      val start = i
      while (i < payload.length && payload(i) != 0) i += 1
      if (i >= payload.length) throw new java.io.IOException(
        s"pgwire: unterminated ErrorResponse field '$code' (truncated payload)")
      m(code) = new String(payload, start, i - start, UTF_8); i += 1
    }
    m.toMap
  }

  /** DataRow payload → column values (null → None). */
  def dataRow(payload: Array[Byte]): Seq[Option[String]] = {
    val b = ByteBuffer.wrap(payload)
    val n = b.getShort.toInt
    (0 until n).map { _ =>
      val len = b.getInt
      if (len < 0) None
      else { val a = new Array[Byte](len); b.get(a); Some(new String(a, UTF_8)) }
    }
  }
}

/** A live replication session over one socket. Synchronous, one frame
  * at a time — the reference's receive-loop shape
  * (`replicationhandler.go:115-215`): XLogData surfaces as decoded
  * [[PgOutput.PgMsg]]s, keepalives are handled INSIDE the loop
  * (immediate StandbyStatusUpdate when the server requests a reply).
  *
  * Delivery cursors: acks report [[processedLsn]], which the consumer
  * advances via [[confirm]] AFTER its durable commit (PgWireTailer
  * confirms per committed parquet segment). `ackOnSurface = true` is
  * the opt-in shortcut for consumers whose processing IS the surfacing
  * (synchronous in-memory decode, bench runs): each surfaced frame
  * auto-confirms, restoring ack-per-frame cadence.
  *
  * Auth: trust (AuthenticationOk straight away) and SCRAM-SHA-256 (the
  * PostgreSQL 14+ default). `sslContext` opts into an SSLRequest→TLS
  * upgrade before the startup packet (sslmode=require semantics — a
  * server answering 'N' is a hard error, no silent plaintext fallback).
  */
final class PgReplicationClient(host: String, port: Int, user: String,
                                database: String, password: String = "",
                                sslContext: Option[javax.net.ssl.SSLContext] = None,
                                sslVerifyHostname: Boolean = false,
                                connectTimeoutMs: Int = 5000,
                                readTimeoutMs: Int = 15000,
                                ackEveryConfirms: Int = 1,
                                statusIntervalMs: Int = 5000,
                                ackOnSurface: Boolean = false) extends AutoCloseable {
  require(ackEveryConfirms >= 1, "ackEveryConfirms must be >= 1")
  require(statusIntervalMs >= 1, "statusIntervalMs must be >= 1")
  private var socket: Socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  socket.setSoTimeout(readTimeoutMs)
  socket.setTcpNoDelay(true)
  private var in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
  private var out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))

  /** Highest LSN seen off the socket: surfaced frame ends + keepalive
    * serverWalEnd. Visibility only — never acked directly. */
  @volatile var receivedLsn: Long = 0L
  /** Highest LSN the consumer has durably processed ([[confirm]]) —
    * the position every StandbyStatusUpdate reports. */
  @volatile var processedLsn: Long = 0L
  /** The resume cursor (kept under its long-standing name): what the
    * next session's START_REPLICATION should start from. */
  def flushedLsn: Long = processedLsn
  /** Keepalives observed (control-plane visibility, ops parity). */
  @volatile var keepalivesSeen: Long = 0L
  private var confirmsSinceAck: Int = 0
  /** Guards every socket WRITE after startup plus the ack-cadence
    * counter: [[confirm]] is documented as callable from the consumer's
    * committer thread while the reading thread may concurrently send a
    * keepalive-reply or idle-timer status update from [[nextRaw]] —
    * unsynchronized, the interleaved writes would corrupt the protocol
    * framing mid-message. */
  private val writeLock = new Object

  import PgWire._

  private def fail(b: Backend): Nothing = {
    val f = errorFields(b.payload)
    throw new java.io.IOException(
      s"pgwire: server error ${f.getOrElse('C', "?????")}: ${f.getOrElse('M', "(no message)")}")
  }

  /** SSLRequest → 'S' → wrap the socket. Runs BEFORE the startup packet
    * (the protocol's one chance to negotiate TLS). Without
    * `sslVerifyHostname` this is sslmode=require: the chain is
    * validated against the supplied context's trust material but the
    * certificate's hostname is NOT checked; with it, endpoint
    * identification (verify-full semantics) runs inside the handshake
    * — the server's cert must carry a SAN matching `host`. */
  private def upgradeTls(ctx: javax.net.ssl.SSLContext): Unit = {
    out.write(sslRequest); out.flush()
    val answer = in.read()
    if (answer != 'S') throw new java.io.IOException(
      s"pgwire: server refused TLS (answered '${if (answer < 0) "EOF" else answer.toChar}') " +
        "and sslContext was provided — refusing plaintext fallback")
    val ssl = ctx.getSocketFactory
      .createSocket(socket, host, port, true).asInstanceOf[javax.net.ssl.SSLSocket]
    ssl.setUseClientMode(true)
    if (sslVerifyHostname) {
      val params = ssl.getSSLParameters
      params.setEndpointIdentificationAlgorithm("HTTPS")
      ssl.setSSLParameters(params)
    }
    ssl.startHandshake()
    socket = ssl
    socket.setSoTimeout(readTimeoutMs)
    in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
    out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
  }

  /** SCRAM-SHA-256 / SCRAM-SHA-256-PLUS exchange (RFC 5802/7677 + the
    * RFC 5929 tls-server-end-point binding): SASLInitialResponse →
    * SASLContinue → SASLResponse → SASLFinal, verifying the SERVER's
    * signature too — mutual auth; a server that knows the salt but not
    * the password fails here.
    *
    * Channel binding follows libpq's selection exactly: over TLS with
    * the server offering -PLUS, bind the server certificate's RFC 5929
    * hash (gs2 `p=tls-server-end-point`) — a MITM terminating TLS with
    * its own certificate then fails the exchange even knowing the
    * password's verifier; over TLS without a -PLUS offer, announce
    * support with gs2 `y` (a binding-capable server seeing `y` rejects,
    * which is the downgrade protection); over plaintext, gs2 `n`.
    * PostgreSQL ignores the SASL-level username (it uses the startup
    * user), so `n=` is sent empty, the same choice libpq makes. */
  private def scramExchange(mechanisms: Seq[String]): Unit = {
    val peerCert: Option[java.security.cert.X509Certificate] = socket match {
      case s: javax.net.ssl.SSLSocket =>
        s.getSession.getPeerCertificates.headOption.collect {
          case c: java.security.cert.X509Certificate => c
        }
      case _ => None
    }
    val offersPlus = mechanisms.contains(Scram.MechanismPlus)
    require(mechanisms.contains(Scram.Mechanism) || (offersPlus && peerCert.isDefined),
      if (offersPlus)
        "pgwire: server requires channel binding (SCRAM-SHA-256-PLUS) but the " +
          "connection is not TLS — configure sslContext"
      else
        s"pgwire: server offers [${mechanisms.mkString(",")}] — only " +
          s"${Scram.Mechanism}(-PLUS) is implemented")
    require(password.nonEmpty,
      "pgwire: server requires SCRAM-SHA-256 but no password was configured")
    val (mechanism, gs2Header, cbData) = peerCert match {
      case Some(cert) if offersPlus =>
        (Scram.MechanismPlus, "p=tls-server-end-point,,", tlsServerEndPoint(cert))
      case Some(_) => (Scram.Mechanism, "y,,", Array.emptyByteArray)
      case None    => (Scram.Mechanism, "n,,", Array.emptyByteArray)
    }
    val clientNonce = Scram.nonce()
    val clientFirstBare = s"n=,r=$clientNonce"
    out.write(saslInitialResponse(mechanism, (gs2Header + clientFirstBare).getBytes(UTF_8)))
    out.flush()
    val cont = readBackend(in)
    if (cont.tag == 'E') fail(cont)
    require(cont.tag == 'R' && ByteBuffer.wrap(cont.payload).getInt == 11,
      s"pgwire: expected AuthenticationSASLContinue, got '${cont.tag}'")
    val serverFirst = new String(cont.payload, 4, cont.payload.length - 4, UTF_8)
    val sf = Scram.parseServerFirst(serverFirst)
    require(sf.nonce.startsWith(clientNonce),
      "pgwire: server nonce does not extend the client nonce — possible MITM, aborting")
    require(sf.iterations >= 1, s"pgwire: absurd SCRAM iteration count ${sf.iterations}")
    val salted = Scram.saltedPassword(password, sf.salt, sf.iterations)
    // c= carries b64(gs2-header ++ cb-data): "biws"=b64("n,,") and
    // "eSws"=b64("y,,") for the unbound forms; the -PLUS form appends
    // the certificate hash so the server proves it saw the SAME channel
    val clientFinalNoProof =
      s"c=${Scram.b64(gs2Header.getBytes(UTF_8) ++ cbData)},r=${sf.nonce}"
    val authMessage = s"$clientFirstBare,$serverFirst,$clientFinalNoProof"
    val proof = Scram.clientProof(salted, authMessage)
    out.write(saslResponse(
      s"$clientFinalNoProof,p=${Scram.b64(proof)}".getBytes(UTF_8)))
    out.flush()
    val fin = readBackend(in)
    if (fin.tag == 'E') fail(fin) // wrong password lands here (28P01)
    require(fin.tag == 'R' && ByteBuffer.wrap(fin.payload).getInt == 12,
      s"pgwire: expected AuthenticationSASLFinal, got '${fin.tag}'")
    val serverFinal = new String(fin.payload, 4, fin.payload.length - 4, UTF_8)
    val v = Scram.attrs(serverFinal).getOrElse('v',
      throw new java.io.IOException("pgwire: SASLFinal missing server signature v="))
    val expected = Scram.serverSignature(salted, authMessage)
    if (!java.security.MessageDigest.isEqual(Scram.unb64(v), expected))
      throw new java.io.IOException(
        "pgwire: SERVER signature mismatch — the server does not know the password; aborting")
  }

  /** (TLS upgrade if configured) → Startup → AuthenticationOk | SASL
    * SCRAM-SHA-256 → (ParameterStatus/BackendKeyData/NoticeResponse)*
    * → ReadyForQuery. md5 and other legacy methods are refused loudly. */
  def handshake(): Unit = {
    sslContext.foreach(upgradeTls)
    out.write(startupMessage(user, database)); out.flush()
    val auth = readBackend(in)
    if (auth.tag == 'E') fail(auth)
    require(auth.tag == 'R', s"pgwire: expected Authentication, got '${auth.tag}'")
    ByteBuffer.wrap(auth.payload).getInt match {
      case 0  => // trust: AuthenticationOk immediately
      case 10 => // AuthenticationSASL: mechanism negotiation
        scramExchange(parseSaslMechanisms(auth.payload))
        val ok = readBackend(in)
        if (ok.tag == 'E') fail(ok)
        require(ok.tag == 'R' && ByteBuffer.wrap(ok.payload).getInt == 0,
          "pgwire: expected AuthenticationOk after SASL exchange")
      case other => throw new java.io.IOException(
        s"pgwire: unsupported auth method $other — trust and SCRAM-SHA-256 are implemented" +
          (if (other == 5) " (md5 is deprecated upstream; use scram-sha-256)" else ""))
    }
    var b = readBackend(in)
    while (b.tag != 'Z') {
      b.tag match {
        case 'S' | 'K' | 'N' => // ParameterStatus / BackendKeyData / Notice: informational
        case 'E' => fail(b)
        case t => throw new java.io.IOException(s"pgwire: unexpected '$t' during startup")
      }
      b = readBackend(in)
    }
  }

  /** `IDENTIFY_SYSTEM` over the simple-query subprotocol: returns the
    * first result row as (column values); the walsender reports
    * systemid, timeline, xlogpos, dbname (`replicationcontext.go`
    * IdentifySystem analog). */
  def identifySystem(): Seq[Option[String]] = {
    out.write(queryMessage("IDENTIFY_SYSTEM")); out.flush()
    var row: Seq[Option[String]] = Nil
    var b = readBackend(in)
    while (b.tag != 'Z') {
      b.tag match {
        case 'T' | 'C' | 'N' => // RowDescription / CommandComplete: shape known
        case 'D' => if (row.isEmpty) row = dataRow(b.payload)
        case 'E' => fail(b)
        case t => throw new java.io.IOException(s"pgwire: unexpected '$t' in query result")
      }
      b = readBackend(in)
    }
    row
  }

  /** Enter walsender COPY-BOTH mode on a slot. From here the socket's
    * read timeout drops to the STATUS CADENCE: a quiet stream must not
    * look dead, and the server must keep hearing from us — PostgreSQL
    * disconnects standbys silent past `wal_sender_timeout`, so the
    * reference acks on a 5 s timer regardless of traffic
    * (`replicationhandler.go:119`). [[nextRaw]] turns each idle tick
    * into a proactive StandbyStatusUpdate. */
  def startReplication(slot: String, publication: String, startLsn: Long): Unit = {
    // resuming a session starts the processed cursor AT the resume
    // point — acks before the first confirm must not report 0 (a
    // regression of the slot's confirmed_flush_lsn)
    processedLsn = math.max(processedLsn, startLsn)
    receivedLsn = math.max(receivedLsn, startLsn)
    val sql = s"""START_REPLICATION SLOT "$slot" LOGICAL ${lsnText(startLsn)}""" +
      s""" (proto_version '1', publication_names '"$publication"')"""
    out.write(queryMessage(sql)); out.flush()
    var b = readBackend(in)
    while (b.tag == 'S' || b.tag == 'N') b = readBackend(in)
    if (b.tag == 'E') fail(b)
    require(b.tag == 'W', s"pgwire: expected CopyBothResponse, got '${b.tag}'")
    socket.setSoTimeout(statusIntervalMs)
  }

  private def sendStatus(replyRequested: Boolean = false): Unit = writeLock.synchronized {
    val lsn = processedLsn
    val ack = PgOutput.StandbyStatusUpdate(lsn, lsn, lsn,
      clientTimeMicros = 0L, replyRequested = replyRequested)
    out.write(copyData(PgOutput.encodeStatusUpdate(ack))); out.flush()
  }

  /** Consumer-side durable-commit notification: advances the processed
    * cursor and acks every `ackEveryConfirms` confirms (the unit is
    * CONFIRMS, not frames — a tailer that confirms once per committed
    * segment acks once per `ackEveryConfirms` segments). Call AFTER the
    * write that makes the data recoverable (parquet segment commit,
    * sink flush) — the reference's AcknowledgeProcessed. Safe to call
    * from a committer thread concurrent with the reading thread. */
  def confirm(lsn: Long): Unit = writeLock.synchronized {
    if (lsn > processedLsn) processedLsn = lsn
    confirmsSinceAck += 1
    if (confirmsSinceAck >= ackEveryConfirms) { sendStatus(); confirmsSinceAck = 0 }
  }

  /** Pull the next RAW XLogData payload (lsn, pgoutput message bytes),
    * transparently consuming keepalives (acking immediately when the
    * server requests it — the `replicationhandler.go:163-177`
    * contract). Returns None on a clean CopyDone. Each surfaced frame
    * advances [[receivedLsn]]; the ACKED cursor moves only via
    * [[confirm]] (or automatically when `ackOnSurface`). The raw form
    * feeds [[PgWireTailer]]'s segment writer; [[next]] decodes in
    * place. */
  def nextRaw(): Option[(Long, Array[Byte])] = nextRaw(() => ())

  /** [[nextRaw]] that runs `onIdle` on each idle tick, before the tick's
    * status update, so a cursor `onIdle` confirms goes out with it. */
  private[graft] def nextRaw(onIdle: () => Unit): Option[(Long, Array[Byte])] = {
    while (true) {
      // Only the BETWEEN-message wait may time out benignly (an idle
      // stream): volunteer the cursor and keep waiting — the
      // reference's 5 s timer ack. A timeout once a tag byte has
      // arrived is a connection stalled MID-message: resuming there
      // would desync the framing, so it propagates as a hard error.
      val tag =
        try in.read()
        catch {
          case _: java.net.SocketTimeoutException =>
            onIdle()
            writeLock.synchronized { sendStatus(); confirmsSinceAck = 0 }
            -2
        }
      val b =
        if (tag == -2) null
        else if (tag < 0) throw new EOFException("pgwire: connection closed")
        else {
          val len = in.readInt()
          require(len >= 4 && len - 4 <= (1 << 26),
            s"pgwire: bad message length $len (tag ${tag.toChar})")
          val payload = new Array[Byte](len - 4)
          in.readFully(payload)
          Backend(tag.toChar, payload)
        }
      if (b != null) b.tag match {
        case 'd' =>
          b.payload(0).toChar match {
            case 'w' =>
              val bb = ByteBuffer.wrap(b.payload)
              bb.get() // 'w'
              val lsn = bb.getLong
              bb.getLong; bb.getLong // walEnd, serverSendTime
              val msg = new Array[Byte](bb.remaining()); bb.get(msg)
              receivedLsn = math.max(receivedLsn, lsn + msg.length)
              if (ackOnSurface) confirm(lsn + msg.length)
              return Some((lsn, msg))
            case 'k' =>
              val k = PgOutput.decodeKeepalive(b.payload)
              keepalivesSeen += 1
              receivedLsn = math.max(receivedLsn, k.serverWalEnd)
              // surface-mode only: with every prior frame auto-confirmed,
              // the keepalive's walEnd is also fully processed. In
              // explicit mode the processed cursor must NOT chase
              // serverWalEnd — that is exactly the ack-past-unspooled-
              // frames data-loss window.
              if (ackOnSurface && k.serverWalEnd > processedLsn)
                processedLsn = k.serverWalEnd
              // reply-requested acks reset the cadence counter like the
              // idle-timer and CopyDone send sites — the server just
              // heard the cursor; an immediate follow-up ack is noise
              if (k.replyRequested)
                writeLock.synchronized { sendStatus(); confirmsSinceAck = 0 }
            case t => throw new java.io.IOException(s"pgwire: unknown CopyData tag '$t'")
          }
        case 'c' => // CopyDone: final ack lands the processed cursor, then stop
          writeLock.synchronized {
            if (confirmsSinceAck > 0) { sendStatus(); confirmsSinceAck = 0 }
          }
          return None
        case 'E' => fail(b)
        case 'N' | 'S' => // notices mid-stream are legal
        case t => throw new java.io.IOException(s"pgwire: unexpected '$t' in COPY-BOTH")
      }
    }
    None // unreachable
  }

  /** [[nextRaw]] + in-place decode. */
  def next(): Option[(Long, PgOutput.PgMsg)] =
    nextRaw().map { case (lsn, msg) => (lsn, PgOutput.decode(msg)) }

  /** Drain up to `max` messages (test/bounded-poll convenience). */
  def poll(max: Int): Seq[(Long, PgOutput.PgMsg)] = {
    val buf = scala.collection.mutable.ArrayBuffer[(Long, PgOutput.PgMsg)]()
    var more = true
    while (more && buf.length < max) next() match {
      case Some(m) => buf += m
      case None => more = false
    }
    buf.toSeq
  }

  override def close(): Unit = {
    try { out.write(PgWire.terminate); out.flush() } catch { case _: Throwable => }
    socket.close()
  }
}

/** Socket → segment-parquet bridge: the Spark-native shape of a live
  * replication feed. A slot is inherently a SINGLE-reader socket (the
  * reference's loop is one goroutine for the same reason,
  * `replicationhandler.go:115`); the scale move is to spool its frames
  * into the bounded segment blobs [[graft.cdc.PgOutput.streamDecoded]]
  * already consumes, so the DECODE fans out across executors and the
  * downstream pipeline checkpoints file offsets exactly as with
  * fixture data. The tailer is the segment source's single sequential
  * writer: it commits one file at a time, so (mtime, name) order is its
  * commit order. The tailer itself is O(segment) memory and does no
  * decoding — wire bytes pass through verbatim (writeFrame re-frames
  * with the same 'w' layout, length-prefixed for the file format).
  *
  * Delivery: a segment is CONFIRMED (and therefore acked) only after
  * its parquet write commits — a crash mid-segment re-reads those
  * frames from the slot's restart LSN, which is exactly the
  * at-least-once the reference provides. The re-read frames reach the
  * envelope stream again with their original LSNs and nothing on that
  * path drops them, so a sink can see an event twice: delivery is
  * at-least-once, and idempotence on LSN is the sink's to provide.
  */
object PgWireTailer {

  /** Drain `client` (already in COPY-BOTH mode) into `segmentsPath`,
    * rotating a parquet file every `framesPerSegment` frames, and on an
    * idle status tick when the open segment ends at a Commit. Stops at
    * CopyDone, flushing the partial tail segment. Each rotation's
    * parquet commit is followed by `client.confirm(segment end LSN)` —
    * the ack cursor never runs ahead of durable data. Returns the final
    * PROCESSED LSN — the cursor to hand the next session's
    * START_REPLICATION. */
  def tail(spark: org.apache.spark.sql.SparkSession, client: PgReplicationClient,
           segmentsPath: String, framesPerSegment: Int): Long = {
    require(framesPerSegment > 0, "framesPerSegment must be positive")
    // a reconnecting session appends after the segments already on disk
    val base = nextSegmentIndex(spark, segmentsPath)
    var rotations = 0L
    var open = true
    // relation cache: decodeSegments requires each segment to be
    // SELF-CONTAINED (a Relation message precedes its DML — pgoutput
    // itself only sends Relation once per session per table), so every
    // rotation replays the relations seen so far at its head. This is
    // the spooling twin of the reference's in-memory relation cache
    // (`containers/relationcache.go`): the cache state IS what makes a
    // resume point valid.
    val relCache = scala.collection.mutable.LinkedHashMap[Int, (Long, Array[Byte])]()
    // the open transaction's Begin frame and its open decompression
    // bracket's Start marker: decodeSegments takes the xid and the
    // marker flag from the frames IN THE SEGMENT, so a rotation inside a
    // transaction replays them too — otherwise the rows after the
    // rotation decode with xid -1 and escape marker suppression. The
    // replayed frames keep their lsns, below the segment's start_lsn,
    // so the decoder reads them as context and emits no row for them.
    var openBegin: Option[(Long, Array[Byte])] = None
    var openStart: Option[(Long, Array[Byte])] = None
    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    var n = 0
    var startLsn = -1L
    var endLsn = 0L
    var atCommit = false
    def begin(): Unit = {
      bos.reset(); n = 0; startLsn = -1L; endLsn = client.processedLsn
      if (rotations > 0) (relCache.values ++ openBegin ++ openStart).foreach {
        case (lsn, msg) => PgOutput.writeFrame(o, lsn, msg)
      }
    }
    def commit(): Unit = if (n > 0) {
      import scala.jdk.CollectionConverters._
      val row = org.apache.spark.sql.Row(base + rotations, startLsn, bos.toByteArray)
      spark.createDataFrame(Seq(row).asJava, PgOutput.frameSchema)
        .write.mode("append").parquet(segmentsPath)
      // the parquet commit above is the durability line: only now may
      // the slot's confirmed_flush_lsn advance past these frames
      client.confirm(endLsn)
      rotations += 1
      begin()
    }
    begin()
    // an idle tick commits a segment that ends at a transaction's
    // Commit, so a quiet stream still delivers (and acks) its last
    // transaction; a segment open mid-transaction waits for more frames
    while (open) client.nextRaw(() => if (atCommit) commit()) match {
      case Some((lsn, msg)) =>
        if (startLsn < 0) startLsn = lsn
        endLsn = math.max(endLsn, lsn + msg.length)
        if (msg.nonEmpty) msg(0).toChar match {
          case 'R' => relCache(ByteBuffer.wrap(msg, 1, 4).getInt) = (lsn, msg)
          case 'B' => openBegin = Some((lsn, msg)); openStart = None
          case 'C' => openBegin = None; openStart = None
          case 'M' => PgOutput.decode(msg) match {
            case PgOutput.LogicalMsg(true, _, Cdc.DecompressionMarkerStartId, _) =>
              openStart = Some((lsn, msg))
            case PgOutput.LogicalMsg(true, _, Cdc.DecompressionMarkerEndId, _) =>
              openStart = None
            case _ =>
          }
          case _ =>
        }
        PgOutput.writeFrame(o, lsn, msg); n += 1
        atCommit = msg.nonEmpty && msg(0) == 'C'
        if (n >= framesPerSegment) commit()
      case None => open = false; commit()
    }
    client.processedLsn
  }

  /** Resume-safe segment numbering: a reconnecting tailer appends after
    * the highest already-committed segment instead of colliding. */
  private def nextSegmentIndex(spark: org.apache.spark.sql.SparkSession,
                               segmentsPath: String): Long = {
    val dir = new java.io.File(segmentsPath)
    if (!dir.exists()) return 0L
    val df = spark.read.schema(PgOutput.frameSchema).parquet(segmentsPath)
    val r = df.agg(org.apache.spark.sql.functions.max("segment")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
  }

  /** Database-gone resilience (the reference's
    * `tests/streamer_databse_gone_test.go` scenario): run the
    * connect → COPY-BOTH → [[tail]] chain, and when the socket dies
    * mid-stream, reconnect with exponential backoff and RESUME from the
    * last processed (= last parquet-committed) LSN. Frames received but
    * not yet committed are re-fetched from the slot — no loss; nothing
    * below the processed cursor is re-sent — no spool dupes beyond
    * at-least-once.
    *
    * `connect(startLsn)` must return a client already in COPY-BOTH mode
    * on that cursor (handshake + startReplication done) — connection
    * parameters, auth, and slot/publication names live with the caller.
    * Returns the final processed LSN after a clean CopyDone. */
  def tailResilient(spark: org.apache.spark.sql.SparkSession,
                    connect: Long => PgReplicationClient,
                    startLsn: Long, segmentsPath: String,
                    framesPerSegment: Int,
                    maxReconnects: Int = 5,
                    backoffInitialMs: Long = 50L): Long = {
    var cursor = startLsn
    var attempts = 0
    while (true) {
      val client =
        try connect(cursor)
        catch {
          case e: java.io.IOException =>
            attempts += 1
            if (attempts > maxReconnects) throw new java.io.IOException(
              s"pgwire: walsender unreachable after $maxReconnects reconnects " +
                s"(resume cursor ${PgWire.lsnText(cursor)})", e)
            Thread.sleep(backoffInitialMs << math.min(attempts - 1, 6))
            null
        }
      if (client != null) {
        try {
          val done = tail(spark, client, segmentsPath, framesPerSegment)
          return done // clean CopyDone
        } catch {
          case e: java.io.IOException => // socket death mid-stream (EOF included)
            val progressed = client.processedLsn > cursor
            cursor = math.max(cursor, client.processedLsn)
            // fresh backoff after a session that committed new segments —
            // only consecutive no-progress failures count against the cap
            attempts = if (progressed) 1 else attempts + 1
            if (attempts > maxReconnects) throw new java.io.IOException(
              s"pgwire: stream died and $maxReconnects reconnects exhausted " +
                s"(resume cursor ${PgWire.lsnText(cursor)})", e)
            Thread.sleep(backoffInitialMs << math.min(attempts - 1, 6))
        } finally client.close()
      }
    }
    cursor // unreachable
  }
}
