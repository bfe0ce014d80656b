package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one session definition: the suites run on it
  * with the bench's settings, and no other source builds a session. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession: the bench's settings at the suites' 8 cores") {
    // builder options land in the SparkConf, which later runtime
    // conf.set calls by other suites leave alone
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master === "local[8]")
    assert(conf.get("spark.sql.shuffle.partitions") === "8")
    assert(conf.get("spark.sql.codegen.hugeMethodLimit") === "8000")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") === "1")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "the UI is off (a JVM setting)")
  }

  test("no source outside GraftSession.scala calls the session builder") {
    val needle = "SparkSession" + ".builder"
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val hits = roots.flatMap(r => Files.walk(r).iterator.asScala.toSeq)
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !isComment(line) && line.contains(needle) => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
