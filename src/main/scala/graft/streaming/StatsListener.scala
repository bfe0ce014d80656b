package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.concurrent.TrieMap

/** A1 observability — accumulates the engine's observed per-batch
  * metrics under the REFERENCE's metric names
  * (`replicationhandler.go:41-47`: total/insert/updates/deletes;
  * `eventemitter.go:51-54`: emitted.count), so dashboards built against
  * the reference's Prometheus surface read the same series here.
  *
  * Wiring: `StreamPipeline.run` attaches `observe("graft_stats", ...)`
  * to the envelope stream; this listener folds each batch's observed
  * row into monotone counters — the Spark twin of the reference's
  * stats engine reporting (`stats/reporter.go:30-36`).
  * `envelopeStream`'s `graft_unresolved` rows (dropped by chunk
  * resolution) fold into `unresolved_rows_total`, scraped as
  * `graft_unresolved_rows_total`. The last batch's `durationMs` phases
  * are gauges, scraped as `graft_batch_duration_ms{query,phase}`.
  */
class StatsListener extends StreamingQueryListener {
  val counters = new TrieMap[String, Long]()
  /** (gauge name, labels) → the value last reported: the segment
    * source's backlog, files and bytes listed but not yet served
    * (labelled with the source), and the phases of the last batch that
    * ran (labelled with the query and the phase). */
  val gauges = new TrieMap[(String, Seq[(String, String)]), Long]()

  private def add(k: String, v: Long): Unit =
    counters.updateWith(k) { c => Some(c.getOrElse(0L) + v) }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val om = e.progress.observedMetrics
    def long(row: org.apache.spark.sql.Row, name: String): Long =
      if (!row.schema.fieldNames.contains(name)) 0L
      else {
        val i = row.schema.fieldIndex(name)
        if (row.isNullAt(i)) 0L else row.getLong(i)
      }
    if (om.containsKey("graft_stats")) {
      val row = om.get("graft_stats")
      add("total", long(row, "n_events"))
      add("insert", long(row, "n_inserts"))
      add("updates", long(row, "n_updates"))
      add("deletes", long(row, "n_deletes"))
      add("truncates", long(row, "n_truncates"))
      add("messages", long(row, "n_messages"))
      // pipelines with a post-filter graft_emitted observe report the
      // true emitted count there; otherwise (no filters between channel
      // and sink) the channel count IS the emitted count. Neither path
      // reads progress.sink.numOutputRows — the foreachBatch sink
      // reports -1 (no sink metrics), which would pin the series at zero
      if (!om.containsKey("graft_emitted"))
        add("emitted.count", long(row, "n_events"))
    }
    if (om.containsKey("graft_emitted"))
      add("emitted.count", long(om.get("graft_emitted"), "n_emitted"))
    if (om.containsKey("graft_unresolved"))
      add("unresolved_rows_total", long(om.get("graft_unresolved"), "n_unresolved"))
    e.progress.sources.foreach { s =>
      val m = s.metrics
      if (m.containsKey("pendingFiles")) {
        val source = Seq("source" -> s.description)
        gauges(("source_pending_segment_files", source)) = m.get("pendingFiles").toLong
        gauges(("source_pending_segment_bytes", source)) = m.get("pendingBytes").toLong
      }
    }
    // an idle trigger reports no addBatch: keep the last batch's phases
    val phases = e.progress.durationMs
    if (phases.containsKey("addBatch")) {
      val query = Option(e.progress.name).getOrElse(e.progress.id.toString)
      StatsListener.BatchPhases.foreach { phase =>
        if (phases.containsKey(phase))
          gauges(("batch_duration_ms", Seq("query" -> query, "phase" -> phase))) =
            phases.get(phase).longValue()
      }
    }
  }
}

object StatsListener {
  /** The `durationMs` phases exported as `graft_batch_duration_ms`. */
  val BatchPhases: Seq[String] =
    Seq("addBatch", "queryPlanning", "latestOffset", "commitOffsets", "triggerExecution")
}
