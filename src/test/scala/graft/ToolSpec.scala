package graft

import java.io.ByteArrayOutputStream

/** `graft.Tool`'s dispatch, through `run` (which returns the exit code,
  * so nothing here can exit the test JVM). */
class ToolSpec extends SparkSpec {

  private def captured(args: String*)(session: => org.apache.spark.sql.SparkSession): (Int, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Console.withOut(out)(Console.withErr(err)(Tool.run(args, session)))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("Tool: an unknown or incomplete subcommand returns nonzero and the full usage") {
    val subcommands = Seq("bench", "profile", "run", "plan-dump", "plans", "scale-probe",
      "scale-replicate", "diag-edit-distance", "diag-joint-dedup")
    Seq(Seq("no-such-subcommand"), Seq(), Seq("run", "q1_pricing_summary")).foreach { args =>
      val (code, _, err) = captured(args: _*)(fail("a usage error must not build a session"))
      assert(code !== 0, args)
      subcommands.foreach(c => assert(err.contains(s"  $c "), s"usage does not name '$c':\n$err"))
    }
  }

  test("Tool run: prints the query's row count") {
    val q = "q1_pricing_summary"
    val expected = SparkEntry.queries(q)(spark, sf001).count()
    val (code, out, err) = captured("run", q, sf001)(spark)
    assert(code === 0, err)
    assert(out.linesIterator.contains(s"ROWS=$expected"), out)
  }

  test("Tool profile: construction and action jobs and seconds are reported apart") {
    // the warm iteration opens the tables; the profiled build then runs
    // no job, and every job of the run belongs to the noop write
    val (code, out, err) = captured("profile", "q3_shipping_priority", sf001, "2")(spark)
    assert(code === 0, err)
    val construction = """== construction: (\d+) jobs, ([0-9.]+) s""".r
    val action = """== action: (\d+) jobs, ([0-9.]+) s""".r
    val lines = out.linesIterator.toSeq
    assert(lines.collectFirst { case construction(n, _) => n.toInt } === Some(0), out)
    val actionJobs = lines.collectFirst { case action(n, _) => n.toInt }
    assert(actionJobs.exists(_ > 0), out)
    assert(lines.count(_.matches("""job +\d+ action .*""")) === actionJobs.get, out)
  }

  test("Bench summary: exactly one \"metric\":\"total\" line, and it is the last") {
    val lines = Bench.summaryLines("1.500", 3, 2, """{"q1_pricing_summary":0.500}""",
      """{"q9":"boom"}""", "bench_detail.json", "/data/sf0.1")
    assert(lines.filter(_.contains("\"metric\":\"total\"")) === Seq(lines.last))
    assert(lines.head.contains("\"metric\":\"total_headline\"") &&
      lines.head.contains("\"q1_pricing_summary\":0.500"))
    assert(lines.last.contains("\"queries\":{}") && lines.last.contains("\"errors\":{\"q9\":\"boom\"}"))
  }
}
