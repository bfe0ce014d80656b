package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.concurrent.TrieMap

/** A1 observability — accumulates the engine's observed per-batch
  * metrics under the REFERENCE's metric names
  * (`replicationhandler.go:41-47`: total/insert/updates/deletes;
  * `eventemitter.go:51-54`: emitted.count), so dashboards built against
  * the reference's Prometheus surface read the same series here.
  *
  * Wiring: `StreamPipeline.envelopeStream` observes `graft_stats`
  * ahead of chunk resolution, and `ConfigPipeline.start` observes
  * `graft_emitted` on the rows it hands the sink; this listener folds
  * each batch's observed rows into monotone counters — the Spark twin
  * of the reference's stats engine reporting (`stats/reporter.go:30-36`).
  * `graft_stats`' `n_unresolved` (the rows chunk resolution drops)
  * folds into `unresolved_rows_total`, scraped as
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
      add("unresolved_rows_total", long(row, "n_unresolved"))
    }
    // not progress.sink.numOutputRows: the foreachBatch sink reports -1
    // (no sink metrics), which would pin the series at zero
    if (om.containsKey("graft_emitted"))
      add("emitted.count", long(om.get("graft_emitted"), "n_emitted"))
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
