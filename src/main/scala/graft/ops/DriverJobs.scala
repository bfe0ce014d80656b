package graft.ops

/** Driver-side job overlap (guide §2.6 "Overlap independent jobs"):
  * Spark's scheduler runs several jobs at once — actions are only
  * sequential because driver code calls them sequentially. These
  * helpers evaluate independent EAGER expressions (fits, checkpoint
  * pins) on separate driver threads so one job's task tail back-fills
  * with the other job's tasks instead of leaving executors idle, and
  * the driver round-trip latencies overlap instead of adding up.
  * 2-3 jobs in flight is the guide's guidance — these run exactly two.
  */
object DriverJobs {
  /** Evaluate `a` and `b` on two threads of a pool owned by this call.
    * Each thread runs with the caller's active session and SparkContext
    * local properties (job group, description, scheduler pool, tags), so
    * the jobs it starts are tagged like the caller's own. If either side
    * throws, that error is rethrown at once, without waiting for the
    * other side. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    import java.util.concurrent.{CompletableFuture, CompletionException, Executors}
    import org.apache.spark.sql.classic.SparkSession
    import org.apache.spark.sql.execution.SQLExecution
    val session = SparkSession.active
    val pool = Executors.newFixedThreadPool(2, (r: Runnable) => {
      val t = new Thread(r, "graft-par2")
      t.setDaemon(true)
      t
    })
    def unwrap[T](f: => T): T =
      try f catch { case e: CompletionException if e.getCause != null => throw e.getCause }
    try {
      val fa = SQLExecution.withThreadLocalCaptured(session, pool)(a)
      val fb = SQLExecution.withThreadLocalCaptured(session, pool)(b)
      unwrap(CompletableFuture.anyOf(fa, fb).join()) // the first side to fail fails the call
      (unwrap(fa.join()), unwrap(fb.join()))
    } finally pool.shutdown()
  }
}
