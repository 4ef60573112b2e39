package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run reports. `endToEnd` holds the workload's own named
  * metrics (untraced), `layers` the per-layer metrics of the traced run;
  * `setupS` is the median of the workload's repeated set-ups. */
final case class Result(setupS: Double, endToEnd: Seq[Metric], layers: Seq[Metric],
                        attempted: Long, failed: Long, notes: Seq[(String, Any)])

final case class Ctx(spark: SparkSession, dataDir: String, workDir: String, seed: Long,
                     seconds: Double, trace: Boolean, cores: Int, tracer: Tracer)

object Layers {
  /** Spark and operator counters of a traced phase, per unit of work
    * (request, append or probe), and core utilisation over the traced wall
    * time. */
  def spark(att: Iterable[Attributed], units: Int, wallMs: Double, cores: Int): Seq[Metric] = {
    val t = att.foldLeft(Attributed.zero)(_ + _)
    val n = math.max(units, 1).toDouble
    Seq(
      Metric("spark.analysis_ms", t.analysisMs / n, "ms"),
      Metric("spark.optimization_ms", t.optimizationMs / n, "ms"),
      Metric("spark.planning_ms", t.planningMs / n, "ms"),
      Metric("spark.exec_ms", t.execMs / n, "ms"),
      Metric("spark.jobs", t.jobs / n, "count"),
      Metric("spark.stages", t.stages / n, "count"),
      Metric("spark.tasks", t.tasks / n, "count"),
      Metric("spark.task_ms", t.taskMs / n, "ms"),
      Metric("spark.core_util", t.taskMs / math.max(wallMs * cores, 1.0), "ratio"),
      Metric("spark.shuffle_write_bytes", t.shuffleWrite / n, "bytes"),
      Metric("spark.spill_bytes", t.spill / n, "bytes"),
      Metric("operators.rows_in_per_row_out", t.scanRows.toDouble / math.max(t.outRows, 1L), "ratio"))
  }

  /** Median over repeated set-ups; `body` must leave the state it builds
    * ready for the run (the last repetition's state is the one used). */
  def repeatedSetup[T](times: Int)(teardown: T => Unit)(body: => T): (T, Double) = {
    val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (1 to times).foreach { _ =>
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(body)
      secs += (System.nanoTime() - t0) / 1e9
    }
    (last.get, Stats.median(secs.toSeq))
  }

  /** (bytes, files, parquet files) under `dir`. */
  def dirBytes(dir: java.io.File): (Long, Long, Long) = {
    val top = Option(dir.listFiles()).toSeq.flatten
    val files = top.flatMap { t =>
      val s = java.nio.file.Files.walk(t.toPath)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toList
      finally s.close()
    }
    (files.map(java.nio.file.Files.size).sum, files.size.toLong,
      files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
  }
}
