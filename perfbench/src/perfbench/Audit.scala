package perfbench

/** Receiver-side audit of one operation: the delivered records against
  * the generator's expected set.
  *
  *  - missing: an expected (lsn, op) never delivered;
  *  - unexpected: a delivered record whose lsn is not expected, or that
  *    arrived on another topic;
  *  - wrong: a delivered record whose op, event id, user id or
  *    transaction id (`source.txId`) disagrees with the expected record;
  *  - malformed: a record that is not a valid envelope (see [[EnvelopeCheck]]);
  *  - duplicates: repeated deliveries of an expected record (reported,
  *    not failed: delivery is at-least-once);
  *  - partition / producer order violations: a record whose lsn is below
  *    one already appended to the same topic partition, or sent earlier
  *    on the same producer connection (reported, not failed: the Kafka
  *    wire sink writes every record to partition 0 from parallel tasks).
  *
  * No order is failed. The engine's ordering contract is per key, and
  * every change in these workloads has a key of its own, so a per-key
  * check could never fire.
  */
final case class Audit(attempted: Long, delivered: Long, missing: Long, unexpected: Long,
                       wrong: Long, malformed: Long, duplicates: Long,
                       partitionOrderViolations: Long, producerOrderViolations: Long,
                       firstArrival: Array[Long]) {
  def failed: Long = missing + unexpected + wrong + malformed
  def summary: String =
    s"attempted=$attempted delivered=$delivered missing=$missing unexpected=$unexpected wrong=$wrong " +
      s"malformed=$malformed duplicates=$duplicates " +
      s"partition_order_violations=$partitionOrderViolations " +
      s"producer_order_violations=$producerOrderViolations"
}

object Audit {
  def run(exp: Gen.Expected, log: RecordLog, topic: String): Audit = {
    val first = Array.fill(exp.size)(-1L)
    var unexpected, wrong, malformed, dups = 0L
    var porder, corder = 0L
    val maxLsn = scala.collection.mutable.HashMap[String, Long]()
    val maxLsnConn = scala.collection.mutable.HashMap[(String, Int), Long]()
    var i = 0
    while (i < log.size) {
      if (log.status(i) != 0) malformed += 1
      else {
        val tp = log.topic(i)
        val l = log.lsn(i)
        val prev = maxLsn.getOrElse(tp, Long.MinValue)
        if (l < prev) porder += 1 else maxLsn(tp) = l
        val prevC = maxLsnConn.getOrElse((tp, log.conn(i)), Long.MinValue)
        if (l < prevC) corder += 1 else maxLsnConn((tp, log.conn(i))) = l
        val idx = exp.indexOf(l)
        if (idx < 0 || !tp.startsWith(topic + "/")) unexpected += 1
        else {
          if (exp.op(idx) != log.op(i) || exp.eventId(idx) != log.eventId(i) ||
              exp.userId(idx) != log.userId(i) || log.txId(i) != exp.eventId(idx) / Gen.TxnSize)
            wrong += 1
          if (first(idx) >= 0) dups += 1 else first(idx) = log.arrival(i)
        }
      }
      i += 1
    }
    val missing = first.count(_ < 0).toLong
    Audit(exp.size.toLong, log.size.toLong, missing, unexpected, wrong, malformed, dups, porder,
      corder, first)
  }
}
