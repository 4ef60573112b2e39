package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point (one workload per process).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <dir> --work <dir> --out <result.json>
  *          [--trace-out <spans.jsonl>]
  *
  * `--data` holds the generated inputs, `--work` is a fresh directory for
  * every file the run writes. The result file carries the workload's
  * metrics, counts and environment; the wrapper turns it into the
  * benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // the HTTP server and Spark keep non-daemon threads: exit explicitly so
    // a failed run never outlives its error
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // as Serve and Pipeline run
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val c = Ctx(spark, opt("data"), work, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", cores, new Tracer)
    val r = workload match {
      case "serve_dashboard" => ServeDashboard.run(c)
      case "search_incremental" => SearchIncremental.run(c)
      case other => sys.error(s"unknown workload $other")
    }
    val e2e = r.endToEnd ++ Seq(
      Metric("setup_s", sessionS + r.setupS, "s"),
      Metric("rss_peak_mb", Jvm.rssPeakMb(), "MB"))
    def ms(xs: Seq[Metric]) = xs.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit))
    val env = Seq("nproc" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_master" -> spark.sparkContext.master, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "session_start_s" -> sessionS, "workload_setup_median_s" -> r.setupS)
    val out = Json.obj(Seq(
      "workload" -> workload, "seed" -> c.seed, "trace" -> c.trace,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "end_to_end" -> collection.immutable.ListMap(ms(e2e): _*),
      "per_layer" -> collection.immutable.ListMap(ms(r.layers): _*),
      "env" -> collection.immutable.ListMap(env: _*),
      "notes" -> collection.immutable.ListMap(r.notes: _*)))
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(out) finally w.close()
    opts.get("trace-out").filter(_ => c.trace).foreach(c.tracer.write)
    spark.stop()
  }
}
