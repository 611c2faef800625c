package graft.perf

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.perf.Harness._
import graft.tools.{Artifacts, LexIndex}

/** `lexindex_mixed`: a lexical index built during set-up, then a closed
  * loop of single-query `LexIndex.search` calls with one
  * `LexIndex.ingestFrame` append per ten searches. Segments pile up
  * with no compaction, so the artifact store serves reads next to
  * commit and segment writes.
  *
  * Each ingest batch carries a probe phrase found nowhere else; the
  * search right after the ingest must return the probe document first
  * (read-your-writes). At the end, `search` and `searchBatch` must
  * agree on a fixed probe set and `fsck` must report no violations.
  */
object LexMixed {

  val Docs = 1200
  val Vocab = 3000
  val WordsPerDoc = 24
  val BatchDocs = 20
  val SearchesPerIngest = 10
  val K = 10

  /** Ingest+search cycles per run at least, whatever `--seconds` says. */
  val MinCycles = 2

  private final class Index(ctx: Ctx) {
    val seed: Long = ctx.seed
    val corpus: Gen.Corpus = Gen.corpus(ctx.seed, Docs, Vocab, WordsPerDoc)
    val docsPath: String = ctx.work.resolve("input").resolve("docs.parquet").toString
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    var idx: String = _
    var batches = 0
    var nextId: Long = Docs
    var ingestedBytes: Long = corpus.textBytes

    /** Write the corpus once (input generation, not set-up). */
    def writeDocs(spark: SparkSession): Unit = {
      import spark.implicits._
      corpus.docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(docsPath)
    }

    def build(spark: SparkSession, dir: Path): Unit = {
      idx = dir.toString
      quiet(LexIndex.build(spark, Array(docsPath, idx, "--gram", "2")))
    }

    def search(spark: SparkSession, q: String): Seq[(Long, Long)] =
      LexIndex.search(spark, Array(idx, q, "--k", K.toString)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq

    /** Append the next batch; returns (probe phrase, probe doc id,
      * documents ingested).
      */
    def ingest(spark: SparkSession): (String, Long, Long) = {
      import spark.implicits._
      val b = batches
      val docs = Gen.ingestBatch(corpus, ctx.seed, b, BatchDocs, nextId, WordsPerDoc)
      val n = LexIndex.ingestFrame(spark, idx, docs.toDF("doc_id", "text"), "doc_id", "text")
      batches += 1
      nextId += BatchDocs
      ingestedBytes += docs.map(_._2.getBytes("UTF-8").length.toLong).sum
      (Gen.probe(ctx.seed, b), docs.head._1, n)
    }
  }

  /** Untimed cycles before the timed window. */
  val WarmCycles = 1

  private def warmUp(spark: SparkSession, ix: Index): Unit =
    (1 to WarmCycles).foreach { _ =>
      ix.ingest(spark)
      (1 until SearchesPerIngest).foreach { _ =>
        ix.search(spark, Gen.query(ix.corpus, ix.rng))
        graft.Scratch.release()
      }
    }

  /** Results sorted by score descending, then id; at most k. */
  private def wellFormed(rs: Seq[(Long, Long)]): Boolean =
    rs.size <= K && rs.zip(rs.drop(1)).forall { case ((i1, s1), (i2, s2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2)
    }

  /** End-of-run checks: `search` == `searchBatch` on a fixed probe set,
    * and `fsck` reports every invariant as expected. Returns failures.
    */
  private def finalChecks(spark: SparkSession, ix: Index): Seq[String] = {
    import spark.implicits._
    val prng = new java.util.SplittableRandom(ix.seed + 1)
    val probes = (0 until 3).map(i => (i.toLong, Gen.query(ix.corpus, prng))) :+
      (3L, Gen.probe(ix.seed, 0))
    val single = probes.map { case (qid, q) => qid -> ix.search(spark, q) }.toMap
    val batch = LexIndex.searchBatchFrame(spark, Array(ix.idx, "--k", K.toString),
      probes.toDF("query_id", "text")).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toSeq
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
    val agree = probes.map(_._1).filterNot(q => single(q) == batch.getOrElse(q, Nil))
      .map(q => s"search and searchBatch disagree on probe $q")
    val fsck = LexIndex.fsck(spark, Array(ix.idx)).collect()
      .filter(r => r.getLong(1) != r.getLong(2)).map(r => s"fsck: ${r.getString(0)} ${r.getLong(1)} != ${r.getLong(2)}")
    agree ++ fsck
  }

  def run(ctx: Ctx): RunResult = {
    val ix = excluded(new Index(ctx))
    // set-up: JVM start, session build and the index build; writing the
    // corpus is input generation
    val spark = session(ctx)
    val writeS = seconds(excluded(ix.writeDocs(spark)))._2
    ix.build(spark, ctx.work.resolve("index"))
    val setupS = setUpSeconds()
    settle()
    log(f"corpus ${ix.corpus.textBytes} B written in $writeS%.2f s; setup=$setupS%.2f s")

    var attempted = 0L
    var failed = 0L
    val searchMs = mutable.ArrayBuffer.empty[Double]
    val ingestMs = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    def timedSearch(q: String, expectFirst: Option[Long]): Unit = {
      val (r, ms) = millis(Try(ix.search(spark, q)))
      attempted += 1
      searchMs += ms
      val ok = r.toOption.exists(rs => wellFormed(rs) && expectFirst.forall(id => rs.headOption.exists(_._1 == id)))
      if (!ok) { failed += 1; log(s"search '$q' failed: $r (expected first $expectFirst)") }
      graft.Scratch.release()
    }
    // warm-up, untimed: a full cycle, so the timed cycles run compiled
    // code paths
    Try(warmUp(spark, ix)).failed.foreach(e => log(s"warm-up failed: $e"))
    settle()
    var storeRatio = 0.0
    val t0 = System.nanoTime()
    while (ingestMs.size < MinCycles || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val (probe, ms) = millis(Try(ix.ingest(spark)))
      attempted += 1
      ingestMs += ms
      probe.failed.foreach { e => failed += 1; log(s"ingest failed: $e") }
      graft.Scratch.release()
      timedSearch(probe.map(_._1).getOrElse(""), probe.toOption.map(_._2))
      (1 until SearchesPerIngest).foreach(_ => timedSearch(Gen.query(ix.corpus, ix.rng), None))
      // heap and store size are read at a fixed cycle count: both grow
      // with every cycle, so a time-bound count would drift
      val live = settle()
      if (ingestMs.size <= MinCycles) heap += live
      if (ingestMs.size == MinCycles)
        storeRatio = bytesUnder(java.nio.file.Paths.get(ix.idx)).toDouble / ix.ingestedBytes
    }
    val busyS = (searchMs.sum + ingestMs.sum) / 1000.0
    val checks = Try(finalChecks(spark, ix)).fold(e => Seq(s"final checks threw $e"), identity)
    attempted += 1
    if (checks.nonEmpty) { failed += 1; checks.foreach(log) }
    stop(spark)
    val ops = searchMs.size + ingestMs.size
    log(s"search ms per cycle: ${searchMs.grouped(SearchesPerIngest).map(c => f"${median(c.toSeq)}%.0f").mkString(",")}; " +
      s"ingest ms: ${ingestMs.map(m => f"$m%.0f").mkString(",")}")
    println(f"  lexindex: searches=${searchMs.size} search_ms_p50=${median(searchMs.toSeq)}%.3f " +
      f"search_ms_p90=${quantile(searchMs.toSeq, 0.9)}%.3f ingests=${ingestMs.size} " +
      f"ingest_ms_p50=${median(ingestMs.toSeq)}%.3f ops_per_s=${ops / busyS}%.3f")
    RunResult(failed == 0, attempted, failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_ms_p50", median(searchMs.toSeq), "ms"),
      Metric("throughput_per_s", ops / busyS, "1/s"),
      Metric("live_heap_mb", median(heap.toSeq), "MiB"),
      Metric("store_bytes_per_input_byte", storeRatio, "ratio")))
  }

  private val TracedCycles = 2

  def trace(ctx: Ctx): Map[String, Double] = {
    val ix = new Index(ctx)
    val spark = session(ctx)
    ix.writeDocs(spark)
    // warm-up, untraced, on an index of its own
    ix.build(spark, ctx.work.resolve("index-warm"))
    warmUp(spark, ix)
    settle()

    val tracer = new Tracer(spark.sparkContext)
    tracer.trace("lexindex.build")(ix.build(spark, ctx.work.resolve("index")))
    val idx = java.nio.file.Paths.get(ix.idx)
    val v0 = Artifacts.currentVersion(spark, ix.idx)
    val segsRead = mutable.ArrayBuffer.empty[Double]
    val rowsPerResult = mutable.ArrayBuffer.empty[Double]
    val filesRead = mutable.ArrayBuffer.empty[Double]
    val ingestRows = mutable.ArrayBuffer.empty[Double]
    val ingestBytes = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    def manifest: Map[String, Seq[String]] =
      Artifacts.currentManifest(spark, ix.idx).map(_._2).getOrElse(Map.empty)
    def tracedSearch(q: String, expectFirst: Option[Long]): Unit = {
      segsRead += Artifacts.segmentsOf(spark, ix.idx, "postings").size
      val ((df, rows), ms) = millis(tracer.trace("lexindex.search") {
        val df = LexIndex.search(spark, Array(ix.idx, q, "--k", K.toString))
        (df, df.collect())
      })
      tracedMs += ms
      require(expectFirst.forall(id => rows.headOption.exists(_.getLong(0) == id)),
        s"probe search '$q' missed its document")
      val scans = Slowlog.planNodes(df.queryExecution.executedPlan).filter(_.metrics.contains("numFiles"))
      rowsPerResult += scans.map(Slowlog.metricOf(_, "numOutputRows")).sum.toDouble / math.max(1, rows.length)
      filesRead += scans.map(Slowlog.metricOf(_, "numFiles")).sum.toDouble
      graft.Scratch.release()
    }
    def untracedSearch(q: String): Unit = {
      untracedMs += tracer.untraced(millis(ix.search(spark, q))._2)
      graft.Scratch.release()
    }
    /** The same search traced and untraced on the same index, in
      * alternating order: their medians give the tracing overhead.
      */
    def pairedSearch(q: String, expectFirst: Option[Long]): Unit =
      if (tracedMs.size % 2 == 0) { tracedSearch(q, expectFirst); untracedSearch(q) }
      else { untracedSearch(q); tracedSearch(q, expectFirst) }
    (1 to TracedCycles).foreach { _ =>
      val before = manifest
      val (probe, id, n) = tracer.trace("lexindex.ingest")(ix.ingest(spark))
      ingestRows += n.toDouble
      ingestBytes += manifest.toSeq.flatMap { case (name, segs) =>
        segs.filterNot(before.getOrElse(name, Nil).contains).map(s => bytesUnder(idx.resolve(name).resolve(s)))
      }.sum.toDouble
      graft.Scratch.release()
      pairedSearch(probe, Some(id))
      (1 until SearchesPerIngest).foreach(_ => pairedSearch(Gen.query(ix.corpus, ix.rng), None))
    }
    tracer.drain()
    val v1 = Artifacts.currentVersion(spark, ix.idx)
    val checks = finalChecks(spark, ix)
    require(checks.isEmpty, checks.mkString("; "))

    val searches = tracer.named("lexindex.search")
    val ingests = tracer.named("lexindex.ingest")
    def med(xs: Seq[Double]): Double = median(xs)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("lexindex.build_s") = tracer.named("lexindex.build").head.ms / 1000.0
    m("lexindex.search_jobs") = med(searches.map(tracer.sparkOf(_).jobs.toDouble))
    m("lexindex.search_stages") = med(searches.map(tracer.sparkOf(_).stages.toDouble))
    m("lexindex.search_tasks") = med(searches.map(tracer.sparkOf(_).tasks.toDouble))
    m("lexindex.rows_read_per_result") = med(rowsPerResult.toSeq)
    m("lexindex.files_read_per_search") = med(filesRead.toSeq)
    m("lexindex.search_driver_gap_ms") = med(searches.map(tracer.driverGapMs))
    m("lexindex.ingest_jobs") = med(ingests.map(tracer.sparkOf(_).jobs.toDouble))
    m("lexindex.ingest_rows") = med(ingestRows.toSeq)
    m("artifacts.commits") = (v1 - v0).toDouble
    m("artifacts.commit_retries") = Artifacts.contentionByVersion(spark, ix.idx)
      .collect { case (v, (events, _)) if v > v0 && v <= v1 => events }.sum.toDouble
    m("artifacts.manifest_versions") = Artifacts.manifestVersions(spark, ix.idx).size.toDouble
    m("artifacts.segments_live") = manifest.values.map(_.size).sum.toDouble
    m("artifacts.bytes_on_disk") = bytesUnder(idx).toDouble
    m("artifacts.bytes_written_per_ingest") = med(ingestBytes.toSeq)
    m("artifacts.segments_read_per_search") = med(segsRead.toSeq)
    val roots = searches ++ ingests
    m ++= tracer.sparkLayer(tracer.sparkOf(roots), roots, tracedMs.toSeq, untracedMs.toSeq)
    java.nio.file.Files.writeString(ctx.work.resolve("spans.json"), tracer.dumpJson)
    tracer.close()
    stop(spark)
    m.toMap
  }
}
