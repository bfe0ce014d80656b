package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class DriverJobsSpec extends SparkSpec {

  test("DriverJobs.par2: each call's jobs carry that call's job group") {
    val groups = new java.util.concurrent.ConcurrentHashMap[String, String]() // rdd name -> group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>")
        e.stageInfos.flatMap(_.rddInfos).map(_.name).filter(_.startsWith("par2-"))
          .foreach(groups.put(_, group))
      }
    }
    val sc = spark.sparkContext
    def job(name: String): Long = sc.parallelize(1 to 10, 2).setName(name).count()
    sc.addSparkListener(listener)
    try {
      Seq("g1", "g2").foreach { g =>
        sc.setJobGroup(g, s"par2 under $g")
        try ops.DriverJobs.par2(job(s"par2-$g-a"), job(s"par2-$g-b"))
        finally sc.clearJobGroup()
      }
      val deadline = System.currentTimeMillis() + 10000 // the listener bus is asynchronous
      while (groups.size < 4 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(groups.asScala.toMap === Map("par2-g1-a" -> "g1", "par2-g1-b" -> "g1",
        "par2-g2-a" -> "g2", "par2-g2-b" -> "g2"))
    } finally sc.removeSparkListener(listener)
  }

  test("DriverJobs.par2: a failing side fails the call without waiting for the other") {
    val release = new CountDownLatch(1)
    val t0 = System.nanoTime()
    try {
      val err = intercept[IllegalStateException] {
        ops.DriverJobs.par2({ release.await(30, TimeUnit.SECONDS); 1 },
          throw new IllegalStateException("boom"))
      }
      assert(err.getMessage === "boom")
      assert((System.nanoTime() - t0) / 1e9 < 10, "par2 waited for the slow side")
    } finally release.countDown()
  }
}
