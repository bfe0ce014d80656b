package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SCD2 — the dimension history (`Cdc.scd2History`) maintained
  * INCREMENTALLY over the micro-batched changelog instead of recomputed
  * per batch.
  *
  * State per key is exactly the OPEN version (one tuple); each incoming
  * keyed change CLOSES it — emitting the finished `[valid_from_lsn,
  * valid_to_lsn)` interval downstream — and opens a new one unless the
  * change is a delete. Append-mode honest: only CLOSED versions are
  * emitted (an open version would need retraction when it closes); the
  * current state remains queryable as `Cdc.applyUpsert` of the same
  * stream, and batch ≡ stream is spec-asserted
  * (`scd2History.filter(!is_current)`).
  *
  * State-size stance: one open version per LIVE key — the same bound a
  * materialized dimension table has, shrunk by deletes (`state.remove`).
  * This is a keyed-table invariant, not a window, so no timeout applies
  * (`NoTimeout`); keys are dimension-shaped by contract.
  */
object Scd2Assembler {

  case class KeyEv(lsn: Long, user_id: Long, op: String,
                   value: Option[Double], ts_ms: Long)
  case class OpenVersion(lsn: Long, op: String, value: Option[Double], tsMs: Long)
  case class ClosedVersion(user_id: Long, valid_from_lsn: Long, valid_to_lsn: Long,
                           op: String, value: Option[Double], ts_ms: Long)

  /** State-merge step: fold this batch's events (lsn order) over the
    * open version. Exposed for direct unit tests of cross-batch state. */
  def step(key: Long, events: Iterator[KeyEv],
           state: GroupState[OpenVersion]): Iterator[ClosedVersion] = {
    val evs = events.toSeq.sortBy(_.lsn)
    var open = state.getOption
    val out = Seq.newBuilder[ClosedVersion]
    for (e <- evs) {
      open.foreach { o =>
        // fail-loud ordering guard: a batch delivering an lsn at or
        // below the stored open version would emit an inverted interval
        // and silently corrupt the dimension — `walStream` must feed
        // lsn-monotone batches (one events file per trigger)
        require(e.lsn > o.lsn,
          s"SCD2 stream out of order for key $key: event lsn ${e.lsn} <= open version lsn ${o.lsn}")
        out += ClosedVersion(key, o.lsn, e.lsn, o.op, o.value, o.tsMs)
      }
      open = if (e.op == graft.model.Envelope.Op.Delete) None
             else Some(OpenVersion(e.lsn, e.op, e.value, e.ts_ms))
    }
    open match {
      case Some(o) => state.update(o)
      case None    => state.remove() // deleted key holds no state
    }
    out.result().iterator
  }

  /** Closed SCD2 versions over the streaming WAL. */
  def scd2Stream(spark: SparkSession, dir: String): Dataset[ClosedVersion] = {
    import spark.implicits._
    StreamPipeline.walStream(spark, dir)
      .filter(org.apache.spark.sql.functions.col("op").isin(
        graft.model.Envelope.Op.Read, graft.model.Envelope.Op.Create,
        graft.model.Envelope.Op.Update, graft.model.Envelope.Op.Delete))
      .selectExpr("lsn", "user_id", "op", "value", "ts_ms")
      .as[KeyEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
  }
}
