package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of unsorted values. */
  def pct(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = q * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs.toArray, 0.5)

  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Heap in use after forced collections, MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Spark job/task totals per job group (the streaming engine runs a
  * query's jobs under its run id; the benchmark sets a group around its
  * own batch jobs). */
final class ExecListener extends SparkListener {
  final class Totals {
    var jobsStarted, jobsEnded, tasks = 0L
    var jobMs, taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  private val byGroup = scala.collection.mutable.HashMap[String, Totals]()
  private val stageGroup = scala.collection.mutable.HashMap[Int, String]()
  private val jobInfo = scala.collection.mutable.HashMap[Int, (String, Long)]()

  def totals(group: String): Totals = synchronized(byGroup.getOrElseUpdate(group, new Totals))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobInfo(e.jobId) = (g, e.time)
    byGroup.getOrElseUpdate(g, new Totals).jobsStarted += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (g, t0) =>
      val t = byGroup.getOrElseUpdate(g, new Totals)
      t.jobsEnded += 1; t.jobMs += e.time - t0
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val t = byGroup.getOrElseUpdate(g, new Totals)
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.taskMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until every started job of `group` has ended (the listener bus
    * is asynchronous). */
  def settle(group: String, timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = synchronized {
      byGroup.get(group).forall(t => t.jobsEnded >= t.jobsStarted) && jobInfo.isEmpty
    }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

/** Progress events of streaming queries, by query run id. */
final class ProgressListener extends StreamingQueryListener {
  private val progress = scala.collection.mutable.HashMap[java.util.UUID, Vector[StreamingQueryProgress]]()
  private val terminated = scala.collection.mutable.HashSet[java.util.UUID]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    progress(p.runId) = progress.getOrElse(p.runId, Vector.empty) :+ p
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
    terminated += e.runId; notifyAll()
  }
  /** Progress of a terminated query, waiting for its termination event. */
  def of(runId: java.util.UUID, timeoutMs: Long = 10000): Vector[StreamingQueryProgress] = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated(runId) && System.currentTimeMillis() < deadline) wait(50)
    progress.getOrElse(runId, Vector.empty)
  }
}

/** In-memory span recorder: name, start, end, parent, trace id. Times
  * are `System.nanoTime` values; written out once at the end. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        start: Long, end: Long)
  private val buf = scala.collection.mutable.ArrayBuffer[Span]()
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def apply[T](trace: String, name: String)(f: => T): T = {
    if (!enabled) return f
    val parent = current.get
    val id = synchronized { buf += Span(buf.length + 1, parent, trace, name, System.nanoTime(), -1L); buf.length }
    current.set(id)
    try f finally {
      current.set(parent)
      synchronized { buf(id - 1) = buf(id - 1).copy(end = System.nanoTime()) }
    }
  }

  /** Record an already-measured interval, by default under the current span. */
  def add(trace: String, name: String, start: Long, end: Long, parent: Int = -1): Unit =
    if (enabled) synchronized {
      buf += Span(buf.length + 1, if (parent < 0) current.get else parent, trace, name, start, end)
    }

  /** Id of the latest span called `name` (0, the root, when none). */
  def lastId(name: String): Int = synchronized(buf.findLast(_.name == name).map(_.id).getOrElse(0))

  def all: Seq[Span] = synchronized(buf.toList)

  /** Span duration minus the union of its children's intervals, ms. */
  def selfMs: Seq[(Span, Double)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s, (s.end - s.start - covered) / 1e6)
    }
  }

  def write(path: java.nio.file.Path, t0: Long): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = selfMs.map { case (s, self) =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f,"self_ms":$self%.3f}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Per-layer self-time table from the recorded spans, on stderr. */
object SelfTimes {
  def report(spans: Spans): Unit = {
    val rows = spans.selfMs.groupBy { case (s, _) => s.name.replaceAll("\\.\\d+$", "") }
      .map { case (n, xs) => (n, xs.length, xs.map(x => (x._1.end - x._1.start) / 1e6).sum, xs.map(_._2).sum) }
      .toSeq.sortBy(-_._3)
    System.err.println(f"[perfbench] ${"span"}%-28s ${"n"}%5s ${"total_ms"}%12s ${"self_ms"}%12s")
    rows.foreach { case (n, c, tot, self) =>
      System.err.println(f"[perfbench] $n%-28s $c%5d $tot%12.1f $self%12.1f")
    }
  }
}
