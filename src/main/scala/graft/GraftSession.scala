package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: `Bench`, `Verify`,
  * `Replicator`, `Tool` and the test suites all run with these settings,
  * so a profile or plan dump runs what the bench runs. The UI is a JVM
  * setting (`-Dspark.ui.enabled=false`), not a session one.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `master` (default `local[cores]`) with one shuffle
    * partition per core. */
  def apply(cores: Int = cpus, master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      // codegen falls back to interpreted expressions once a generated
      // method exceeds HotSpot's 8 KB JIT-compile limit (the 64 KB default
      // guards Janino, not the JIT): an un-JIT-able giant method runs as
      // interpreted BYTECODE, ~3x slower than Spark's interpreted
      // expression path on the wide conversion sweeps
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.adaptive.enabled", "true")
      // shuffle WRITE file layout: the bypass-merge writer creates R
      // partition files per map task — M·R file creates/deletes per
      // exchange, and at local scale the file-create syscalls DOMINATE
      // iterative queries (jstack-sampled: BypassMergeSortShuffleWriter
      // .write / FileOutputStream.open0 were the hottest executor frames;
      // web_pagerank warm 3.7 s → 2.0 s with the sort writer's one
      // data+index file per task). At production scale R > 200, so Spark
      // picks the sort writer anyway (default threshold 200) — this only
      // makes small-R local runs use the same path; byte volumes and
      // partition counts are untouched.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
