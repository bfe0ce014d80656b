package graft.streaming

/** Prometheus-parity scrape surface — the reference serves its stats
  * engine over HTTP `/metrics` (`internal/stats/stats.go:35-100`,
  * default port 8081, `stats.enabled` default true). Same surface here
  * over the JDK's built-in HttpServer: the [[StatsListener]] counters
  * rendered in the Prometheus text exposition format under the
  * REFERENCE's series names (engine prefix + reporter prefix + struct
  * path, e.g. `streamer_replicationchannel_calls_total` from
  * `replicationhandler.go:41-47`), so a dashboard scraping the
  * reference scrapes this engine unchanged.
  */
object StatsEndpoint {

  /** listener-key → (reference Prometheus series name, TYPE). */
  private val series: Seq[(String, String, String)] = Seq(
    ("total", "streamer_replicationchannel_calls_total", "counter"),
    ("insert", "streamer_replicationchannel_calls_insert", "counter"),
    ("updates", "streamer_replicationchannel_calls_updates", "counter"),
    ("deletes", "streamer_replicationchannel_calls_deletes", "counter"),
    ("truncates", "streamer_replicationchannel_calls_truncates", "counter"),
    ("messages", "streamer_replicationchannel_calls_messages", "counter"),
    ("emitted.count", "streamer_eventemitter_emitted_count", "counter"))

  /** Prometheus text exposition (v0.0.4) of the counter map. Counters
    * the reference doesn't name surface under `graft_` so nothing
    * silently disappears from the scrape, and so do the `gauges`, each
    * series with its labels in their given order. */
  def render(counters: scala.collection.Map[String, Long],
             runtimeStats: Boolean = true,
             gauges: scala.collection.Map[(String, Seq[(String, String)]), Long] = Map.empty)
      : String = {
    import scala.math.Ordering.Implicits.seqOrdering
    val sb = new StringBuilder
    series.foreach { case (key, name, typ) =>
      sb.append("# TYPE ").append(name).append(' ').append(typ).append('\n')
      sb.append(name).append(' ').append(counters.getOrElse(key, 0L)).append('\n')
    }
    val known = series.map(_._1).toSet
    counters.toSeq.filterNot(t => known(t._1)).sortBy(_._1).foreach { case (k, v) =>
      val safe = "graft_" + k.replaceAll("[^a-zA-Z0-9_]", "_")
      sb.append("# TYPE ").append(safe).append(" counter\n")
      sb.append(safe).append(' ').append(v).append('\n')
    }
    gauges.groupBy(_._1._1).toSeq.sortBy(_._1).foreach { case (name, byLabels) =>
      sb.append("# TYPE graft_").append(name).append(" gauge\n")
      byLabels.toSeq.sortBy(_._1._2).foreach { case ((_, labels), v) =>
        val rendered = labels.map { case (k, value) =>
          k + "=\"" + value.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
        }
        sb.append("graft_").append(name).append(rendered.mkString("{", ",", "} "))
          .append(v).append('\n')
      }
    }
    if (runtimeStats) sb.append(runtimeMetrics())
    sb.toString
  }

  /** JVM runtime gauges — the engine-side analog of the reference's Go
    * procstats collector (`stats.go:57-62`, `stats.runtime.enabled`
    * default true): heap bytes, GC counts/time, live threads, uptime. */
  private def runtimeMetrics(): String = {
    import java.lang.management.ManagementFactory._
    val heap = getMemoryMXBean.getHeapMemoryUsage
    var gcCount = 0L
    var gcMs = 0L
    getGarbageCollectorMXBeans.forEach { gc =>
      if (gc.getCollectionCount >= 0) gcCount += gc.getCollectionCount
      if (gc.getCollectionTime >= 0) gcMs += gc.getCollectionTime
    }
    val rows = Seq(
      ("streamer_runtime_heap_used_bytes", "gauge", heap.getUsed),
      ("streamer_runtime_heap_committed_bytes", "gauge", heap.getCommitted),
      ("streamer_runtime_gc_count", "counter", gcCount),
      ("streamer_runtime_gc_time_ms", "counter", gcMs),
      ("streamer_runtime_threads", "gauge", getThreadMXBean.getThreadCount.toLong),
      ("streamer_runtime_uptime_ms", "counter", getRuntimeMXBean.getUptime))
    rows.map { case (n, t, v) => s"# TYPE $n $t\n$n $v\n" }.mkString
  }

  private val servers = scala.collection.concurrent.TrieMap[
    Int, (com.sun.net.httpserver.HttpServer, org.apache.spark.sql.SparkSession)]()
  private val listeners = scala.collection.concurrent.TrieMap[
    org.apache.spark.sql.SparkSession, StatsListener]()

  /** Idempotent per-JVM wiring (the reference runs ONE stats service per
    * process, stats.go:35): one StatsListener per session, one scrape
    * server per port, shared by every config pipeline that enables
    * stats. A port stays bound to the SESSION that first claimed it —
    * a second session asking for the same port fails loudly rather
    * than silently scraping the first session's counters (the port is
    * the scrape identity; give each pipeline its own). */
  def ensure(spark: org.apache.spark.sql.SparkSession, port: Int,
             runtimeStats: Boolean = true): StatsListener =
    synchronized {
      val l = listeners.getOrElseUpdate(spark, {
        val x = new StatsListener
        spark.streams.addListener(x)
        x
      })
      // port 0 is ephemeral (tests): every session gets its own server,
      // so there is no shared binding to police
      if (port == 0) start(l, port, runtimeStats)
      else servers.get(port) match {
        case Some((_, owner)) if owner ne spark =>
          throw new IllegalStateException(
            s"stats.port=$port already serves a different SparkSession's " +
              "counters — use a distinct port per session")
        case Some(_) => ()
        case None => servers.put(port, (start(l, port, runtimeStats), spark))
      }
      l
    }

  /** Release a port claimed via [[ensure]] (tests / pipeline teardown). */
  def stop(port: Int): Unit = synchronized {
    servers.remove(port).foreach(_._1.stop(0))
  }

  /** Start the scrape server on `port` (0 = ephemeral, for tests).
    * Driver-side only — one tiny daemon thread pool inside the JDK
    * server; call `stop(0)` to shut down. */
  def start(listener: StatsListener,
            port: Int = 8081,
            runtimeStats: Boolean = true): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    server.createContext("/metrics", new com.sun.net.httpserver.HttpHandler {
      def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val body = render(listener.counters, runtimeStats, listener.gauges).getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        val os = ex.getResponseBody
        try os.write(body) finally os.close()
      }
    })
    server.start()
    server
  }
}
