package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter — the fast
    // inner loop for re-gating just-touched queries (oracle_sql.json is
    // filtered too, so tools/check.py sees a consistent subset)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // concurrent query submission: wall time at this scale is dominated
    // by per-plan codegen COMPILE (driver-side, per-thread), so a small
    // pool overlaps compilation across queries; SparkSession actions are
    // thread-safe and each query writes its own directory. Failures stay
    // per-query (logged, never abort the dump).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // failed queries are RECORDED, not dropped: a missing output dir would
    // silently vanish from the round's correctness artifact and read as
    // green (round-5 postmortem). errors.json names every failure and the
    // process exits nonzero so the driver can see the run was not clean.
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val tasks = SparkEntry.queries.toSeq.filter(t => selected(t._1)).map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failures.put(name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // keys sorted: two dumps of the same registry are byte-identical,
    // whatever the map's iteration order
    def obj(kv: Iterable[(String, String)]): String =
      kv.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter(t => selected(t._1))))
    import scala.jdk.CollectionConverters._
    Files.writeString(Paths.get(s"$outDir/errors.json"), obj(failures.asScala))
    if (!failures.isEmpty) {
      System.err.println(s"[verify] ${failures.size} quer(ies) FAILED — see $outDir/errors.json")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
