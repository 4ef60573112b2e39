package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.llm.SearchIndex

/** `search_incremental`: the retrieval store of incremental curation on its
  * own. Set-up builds a `SearchIndex` (BM25 inverted index) over the seed
  * batch — documents below a seeded doc_id cut point. The timed part
  * appends fixed-size batches of the following doc_ids with
  * `SearchIndex.append` until the time is up, each followed by a few
  * single-query probes whose terms are drawn from indexed text. */
object SearchIncremental {
  val AppendDocs = 100
  val ProbesPerBatch = 3
  val SetupRepeats = 3
  /** Untimed appends before timing: the first few run 1.5-2x slower while
    * the JIT warms up. */
  val WarmupBatches = 3

  final case class Batch(docs: Long, secs: Double, span: Span)

  def run(c: Ctx): Result = {
    val spark = c.spark
    val rnd = new java.util.Random(c.seed)
    val seedCut = 1800 + rnd.nextInt(400)
    val cuts = (seedCut until 5000 by AppendDocs) :+ 5000
    val ranges = (0 +: cuts).sliding(2).map { case Seq(a, b) => (a, b) }.toIndexedSeq
    val docsPath = s"${c.dataDir}/documents.parquet"
    def input(i: Int) = spark.read.parquet(docsPath)
      .filter(col("doc_id") >= ranges(i)._1 && col("doc_id") < ranges(i)._2).select("doc_id", "text")
    // every doc's text, read once, so the timed loop runs no Spark job of
    // the benchmark's own
    val texts = spark.read.parquet(docsPath).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val indexed = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    def remember(i: Int): Unit =
      (ranges(i)._1 until ranges(i)._2).foreach(id => indexed(id.toLong) = texts(id.toLong))

    // set-up: build the seed index into a fresh store, several times
    var storeNo = 0
    val (store, setupS) = Layers.repeatedSetup(SetupRepeats)((_: String) => ()) {
      storeNo += 1
      val dir = s"${c.workDir}/store$storeNo/search"
      SearchIndex.build(input(0), dir)
      dir
    }
    remember(0)
    var checks = 0
    var bad = 0

    /** Times `body` as a root span; with a recorder, Spark's listeners are
      * attached for exactly that span. */
    def op[T](name: String, rec: Option[SparkRecorder])(body: => T): (T, Span) = {
      rec.foreach(_.attach())
      try c.tracer.span(name, 0, 0)(body) finally rec.foreach(_.detach())
    }

    def append(i: Int, rec: Option[SparkRecorder]): Batch = {
      val (_, s) = op(s"append:$i", rec)(SearchIndex.append(store, input(i)))
      remember(i)
      Batch(ranges(i)._2 - ranges(i)._1, s.durUs / 1e6, s)
    }

    def probe(qtext: String, rec: Option[SparkRecorder]): Span = {
      val q = spark.createDataFrame(Seq((0L, qtext))).toDF("query_id", "qtext")
      val (hits, ps) = op(if (rec.isEmpty) "probe" else "probe.traced", rec) {
        SearchIndex.search(spark, store, q, topK = 5).select("doc_id").collect()
      }
      // every probe finds indexed docs only
      checks += 1
      if (hits.isEmpty || hits.exists(r => !indexed.contains(r.getLong(0)))) bad += 1
      ps
    }

    /** The probes after one append: each is an untraced span and, with a
      * recorder, the same query again traced, the two in turn first. */
    def probes(rec: Option[SparkRecorder]): Seq[(Span, Option[Span])] = {
      val ids = indexed.keys.toIndexedSeq
      (1 to ProbesPerBatch).map { k =>
        val words = indexed(ids(rnd.nextInt(ids.size))).split("\\s+").filter(_.nonEmpty)
        val qtext = Seq.fill(2)(words(rnd.nextInt(words.length))).mkString(" ")
        if (rec.isEmpty) (probe(qtext, None), None)
        else if (k % 2 == 0) { val p = probe(qtext, None); (p, Some(probe(qtext, rec))) }
        else { val t = probe(qtext, rec); (probe(qtext, None), Some(t)) }
      }
    }

    var nextBatch = 1
    def appendUntil(secs: Double, rec: Option[SparkRecorder] = None): Seq[(Batch, Seq[(Span, Option[Span])])] = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val done = ArrayBuffer.empty[(Batch, Seq[(Span, Option[Span])])]
      while ((done.isEmpty || System.nanoTime() < deadline) && nextBatch < ranges.size) {
        val b = append(nextBatch, rec)
        done += ((b, probes(rec)))
        nextBatch += 1
      }
      done.toSeq
    }

    /** Every indexed doc is in the store exactly once; checked after each
      * phase, outside its timing. */
    def storeCheck(): Unit = {
      val ids = spark.read.parquet(s"$store/doclens.parquet").select("doc_id").collect().map(_.getLong(0))
      checks += 1
      if (ids.length != indexed.size || ids.distinct.length != ids.length || !ids.forall(indexed.contains))
        bad += 1
    }

    (1 to WarmupBatches).foreach(_ => appendUntil(0)) // each one append and its probes
    storeCheck()
    val share = if (c.trace) c.seconds / 2 else c.seconds
    val timed = appendUntil(share)
    storeCheck()
    val probeLat = timed.flatMap(_._2).map(_._1.durUs / 1000.0)

    val layers = ArrayBuffer.empty[Metric]
    if (c.trace) {
      // traced phase: appends and probes with Spark's listeners attached,
      // each probe paired with the same query untraced
      val rec = new SparkRecorder(spark)
      val gc0 = Jvm.gcMs()
      val traced = appendUntil(share, Some(rec))
      storeCheck()
      val pairs = traced.flatMap(_._2).collect { case (p, Some(t)) => (p, t) }
      val probeSpans = pairs.map(_._2)
      val roots = traced.map(_._1.span) ++ probeSpans
      val att = Attributed(rec, c.tracer, roots.sortBy(_.startUs))
      val probeIds = probeSpans.map(_.id).toSet
      val pa = att.filter { case (id, _) => probeIds(id) }.values.foldLeft(Attributed.zero)(_ + _)
      val n = math.max(probeIds.size, 1)
      val (bytes, files, pq) = Layers.dirBytes(new File(store))
      layers ++= Seq(
        Metric("llm.append_batch_s", Stats.median(traced.map(_._1.secs)), "s"),
        Metric("llm.search_plan_ms", (pa.analysisMs + pa.optimizationMs + pa.planningMs) / n, "ms"),
        Metric("llm.search_exec_ms", pa.execMs / n, "ms"),
        Metric("sources.bytes_written", bytes.toDouble, "bytes"),
        Metric("sources.files_written", files.toDouble, "count"),
        Metric("sources.parquet_files", pq.toDouble, "count"),
        Metric("jvm.gc_ms", (Jvm.gcMs() - gc0).toDouble / (traced.size + 2 * pairs.size), "ms"),
        Metric("trace_overhead_ratio",
          Stats.median(pairs.map { case (p, t) => t.durUs.toDouble / p.durUs }), "ratio"))
      layers ++= Layers.spark(att.values, roots.size, roots.map(_.durUs / 1000.0).sum, c.cores)
    }

    val (tailP, tailMs) = Stats.tail(probeLat)
    val (storeBytes, _, _) = Layers.dirBytes(new File(store))
    // the input share of the documents file that is indexed now
    val inputBytes = new File(docsPath).length() * ranges(nextBatch - 1)._2 / 5000.0
    val e2e = Seq(
      Metric("append_docs_per_s", timed.map(_._1.docs).sum / timed.map(_._1.secs).sum, "1/s"),
      Metric("search_mean_ms", Stats.mean(probeLat), "ms"),
      Metric("search_p50_ms", Stats.median(probeLat), "ms"),
      Metric("search_tail_ms", tailMs, "ms"),
      Metric("store_bytes_per_input_byte", storeBytes.toDouble / inputBytes, "ratio"))
    Result(setupS, e2e, layers.toSeq, checks, bad, Seq(
      "seed_cut" -> seedCut, "timed_batches" -> timed.size, "append_docs" -> AppendDocs,
      "probes_per_batch" -> ProbesPerBatch,
      "append_batch_s" -> timed.map(_._1.secs), "batches_run" -> nextBatch,
      "search_tail_pct" -> tailP, "search_samples" -> probeLat.size))
  }
}
