package perfbench

/** Benchmark JVM entry: runs one workload (or the self-tests) and prints
  * one `workload metric value unit` line per metric, then, as the last
  * line, the JSON result object (`correct` is the audit verdict). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val work = a.getOrElse("--work", sys.error("--work required"))
    val out = a.getOrElse("--out", s"$work/traces")
    val cpus = a.get("--cpus").map(_.toInt).getOrElse(4)
    if (args.contains("--selftest")) {
      val ok = SelfTest.run(Cfg(work, out, cpus, 1L, 1, trace = false))
      sys.exit(if (ok) 0 else 1)
    }
    val workload = a.getOrElse("--workload", sys.error("--workload required"))
    val cfg = Cfg(work, out, cpus, a.get("--seed").map(_.toLong).getOrElse(1L),
      a.get("--seconds").map(_.toInt).getOrElse(15), a.get("--trace").contains("1"))
    val r = workload match {
      case "cdc_catchup" => Catchup.run(cfg)
      case "cdc_live" => Live.run(cfg)
      case other => sys.error(s"unknown workload $other")
    }
    val shown = if (cfg.trace) r.layers else r.e2e
    val failedRatio = Metric("failed_ratio", r.failed.toDouble / math.max(1L, r.attempted), "ratio")
    (shown ++ r.info :+ failedRatio)
      .foreach(m => println(s"$workload ${m.name} ${fmt(m.value)} ${m.unit}"))
    val correct = r.failed == 0
    val metrics = shown.map(m => s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""")
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
    sys.exit(0)
  }

  /** Full precision, never in exponent form (JSON-safe). */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
