package graft.perf

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.analyze.{Analyzer, SlowQueryPipeline}
import graft.catalog.CqlCatalog
import graft.ingest.KibanaReader
import graft.model.AnalysisConfig
import graft.perf.Harness._
import graft.report.Reporter
import graft.tools.AnalyzeSlowQueries

/** `slowlog_pages`: page files through the whole `AnalyzeSlowQueries`
  * job.
  *
  * A pass is one `AnalyzeSlowQueries.run` call, exactly as the CLI
  * makes it. Its output check compares the volume report and the
  * processed event count with the generator's model and digests all
  * five reports, which must be identical on every pass.
  */
object Slowlog {

  /** Pages x hits per page, primary-key cardinality. */
  val Pages = 8
  val HitsPerPage = 1500
  val PkCard = 3000

  /** The CLI's default HAVING threshold, which the model applies too. */
  val MinCount = 5

  val ReportNames = Seq("slow_queries", "slow_primary_keys", "primary_keys", "volume",
    "volume_top_n")

  /** The workload's inputs and ground truth. */
  final class Job(val ctx: Ctx) {
    private val in = ctx.dir("input")
    val (pages, truth) = Gen.slowlogPages(in, ctx.seed, Pages, HitsPerPage, PkCard)
    val inputBytes: Long = bytesUnder(in)

    def args(out: Path): Array[String] =
      Array(out.toString) ++ pages ++ Array(
        "--schema", in.resolve("schema.cql").toString,
        "--queries", in.resolve("queries.json").toString,
        "--tags", in.resolve("tags.json").toString)

    /** The configuration the CLI builds from the same files. */
    def config: AnalysisConfig = AnalysisConfig(
      schema = CqlCatalog.parse(read(in.resolve("schema.cql"))),
      patterns = Gen.Patterns,
      tags = Gen.Tags)

    /** One pass, as the CLI runs it. */
    def pass(spark: SparkSession, out: Path): Unit = quiet(AnalyzeSlowQueries.run(args(out), spark))

    /** Check one pass's output: the digest of the five reports when
      * the volume report and event total match the model, else a
      * description of the mismatch.
      */
    def check(out: Path): Either[String, String] = excluded {
      Try {
        val csv = filesUnder(out.resolve("volume")).filter(_.toString.endsWith(".csv"))
        val rows = csv.flatMap(f => read(f).linesIterator.drop(1).filter(_.nonEmpty))
          .map(_.split(",", -1)).map(a => (a(0), (a(1).toLong, a(2).toLong, a(3).toLong)))
        val want = truth.volumeReport(MinCount).toSeq.map { case (m, (c, d)) => (m, (c, d, d / c)) }
        val events = filesUnder(out.resolve("processed")).filter(_.toString.endsWith(".json"))
          .map(f => read(f).linesIterator.count(_.nonEmpty).toLong).sum
        val digest = ReportNames.flatMap { r =>
          filesUnder(out.resolve(r)).filter(_.toString.endsWith(".csv")).map(f => read(f))
        }.mkString("\u0000")
        if (rows != want)
          Left(s"volume report differs from the model (${rows.size} vs ${want.size} minutes)")
        else if (events != truth.events) Left(s"processed events $events != model ${truth.events}")
        else Right(md5Hex(digest.getBytes("UTF-8")))
      }.fold(e => Left(s"output check threw $e"), identity)
    }
  }

  // -----------------------------------------------------------------
  // untraced run: end-to-end metrics
  // -----------------------------------------------------------------

  def run(ctx: Ctx): RunResult = {
    val (job, genS) = seconds(excluded(new Job(ctx)))
    log(f"generated ${job.truth.events} events (${job.inputBytes} B) in $genS%.2f s")
    val outRoot = ctx.dir("out")
    var passNo = 0
    var attempted = 0L
    var failed = 0L
    val digests = mutable.LinkedHashSet.empty[String]
    /** Run one pass into a fresh directory; returns its wall ms. */
    def onePass(spark: SparkSession): (Double, Path) = {
      passNo += 1
      val out = outRoot.resolve(s"pass-$passNo")
      val (ok, ms) = millis(Try(job.pass(spark, out)))
      attempted += 1
      ok.failed.foreach(e => log(s"pass $passNo threw $e"))
      val verdict = if (ok.isSuccess) job.check(out) else Left("pass threw")
      verdict match {
        case Right(d) => digests += d
        case Left(why) => failed += 1; log(s"pass $passNo failed: $why")
      }
      (ms, out)
    }

    // set-up: JVM start, session build and the cold first pass
    val spark = session(ctx)
    val (_, firstOut) = onePass(spark)
    val setupS = setUpSeconds()
    settle()
    val storeRatio = bytesUnder(firstOut).toDouble / job.inputBytes
    // warm-up passes, untimed: pass time keeps falling for about ten
    // passes after the cold one (JIT compilation), steeply at first
    (1 to WarmPasses).foreach(_ => deleteTree(onePass(spark)._2))
    settle()

    // measured window: closed loop of warm passes
    val passMs = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passMs.size < MinOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val (ms, out) = onePass(spark)
      passMs += ms
      // the heap is sampled at a fixed operation count: Spark's status
      // store grows with every job, so a time-bound count would drift
      val live = settle()
      if (passMs.size <= MinOps) heap += live
      deleteTree(out)
    }
    stop(spark)

    if (digests.size > 1) { failed += 1; log(s"report digests differ across passes: $digests") }
    val p50 = median(passMs.toSeq)
    // events over the summed pass time: a mean rate, a different
    // sample from the median pass time
    val eventsPerS = job.truth.events * passMs.size / (passMs.sum / 1000.0)
    log(f"setup=$setupS%.2f s passes=${passMs.map(s => f"$s%.0f").mkString(",")}")
    println(f"  pages: passes=${passMs.size} pass_ms_p50=$p50%.3f pass_ms_max=${passMs.max}%.3f " +
      f"events=${job.truth.events} events_per_s=$eventsPerS%.1f")
    RunResult(failed == 0, attempted, failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_ms_p50", p50, "ms"),
      Metric("throughput_per_s", eventsPerS, "1/s"),
      Metric("live_heap_mb", median(heap.toSeq), "MiB"),
      Metric("store_bytes_per_input_byte", storeRatio, "ratio")))
  }

  /** Minimum timed operations per run, whatever `--seconds` says. */
  val MinOps = 5

  /** Untimed passes between the set-up and the timed window. */
  val WarmPasses = 5

  // -----------------------------------------------------------------
  // traced run: per-layer metrics
  // -----------------------------------------------------------------

  /** Every node of an executed plan, through adaptive query stages and
    * cached relations.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val inner = p match {
      case a: AdaptiveSparkPlanExec  => planNodes(a.executedPlan)
      case q: QueryStageExec         => planNodes(q.plan)
      case m: InMemoryTableScanExec  => planNodes(m.relation.cachedPlan)
      case _                         => Nil
    }
    p +: (inner ++ p.children.flatMap(planNodes) ++ p.subqueries.flatMap(planNodes))
  }

  def metricOf(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  /** The cached relation behind a cached DataFrame. */
  def cachedRelation(df: DataFrame): Option[InMemoryRelation] =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }

  def cachedRddId(df: DataFrame): Option[Int] =
    cachedRelation(df).map(_.cacheBuilder.cachedColumnBuffers.id)

  def cachedBytes(spark: SparkSession, rddId: Int): Long =
    spark.sparkContext.getRDDStorageInfo.filter(_.id == rddId).map(r => r.memSize + r.diskSize).sum

  /** Storage memory available to cached blocks across the block managers. */
  def storageCapacity(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

  /** Pairs of layered passes, one traced and one untraced each. */
  private val TracedPairs = 4

  def trace(ctx: Ctx): Map[String, Double] = {
    val job = new Job(ctx)
    val spark = session(ctx)
    val outRoot = ctx.dir("out")
    val config = job.config
    // warm-up: one CLI pass, whose output every layered pass must
    // reproduce
    job.pass(spark, outRoot.resolve("cli"))
    val want = job.check(outRoot.resolve("cli"))
    require(want.isRight, s"CLI pass failed its check: $want")
    settle()

    val tracer = new Tracer(spark.sparkContext)
    /** One pass materialized at each layer boundary, as the root span
      * `pass`; returns the counters it read and its output directory.
      */
    def layered(name: String): (Map[String, Double], Path) = {
      val out = outRoot.resolve(name)
      val got = mutable.LinkedHashMap.empty[String, Double]
      tracer.trace("pass") {
        val hits = tracer.span("ingest") {
          val h = KibanaReader.hits(spark, job.pages).cache()
          got("ingest.hits_kept") = h.count().toDouble
          h
        }
        val scan = cachedRelation(hits).toSeq.flatMap(r => planNodes(r.cachedPlan))
        got("ingest.hits_total") = scan.filter(_.nodeName == "Generate")
          .map(metricOf(_, "numOutputRows")).maxOption.getOrElse(0L).toDouble
        got("ingest.corrupt_docs") = tracer.span("ingest.corrupt") {
          KibanaReader.corruptRecords(spark, job.pages).count().toDouble
        }
        val events = tracer.span("parse") {
          val (parsed, obs) = SlowQueryPipeline.parseEventsObserved(hits, config)
          val ev = parsed.cache()
          got("parse.rows_out") = ev.count().toDouble
          val o = obs.get
          Seq("hits" -> "parse.rows_in", "not_slow_query" -> "parse.skip.not_slow_query",
            "bad_timestamp" -> "parse.skip.bad_timestamp",
            "bad_duration" -> "parse.skip.bad_duration").foreach { case (k, name) =>
            got(name) = o(k).asInstanceOf[Long].toDouble
          }
          val dq = tracer.span("parse.data_quality") {
            SlowQueryPipeline.dataQuality(hits, config).collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          }
          got("parse.skip.no_processor") = dq.getOrElse("no_processor", 0L).toDouble
          ev
        }
        tracer.span("report.materialize") {
          Reporter.materialize(events, out.resolve("processed").toString)
        }
        hits.unpersist()
        val rdd = cachedRddId(events)
        tracer.watch(rdd.toSet)
        val reports = tracer.span("analyze") {
          val r = Analyzer.analyze(events, config)
          def mat(name: String, df: DataFrame): DataFrame = tracer.span(s"analyze.$name") {
            val c = df.cache()
            c.count()
            c
          }
          Analyzer.Reports(
            query = mat("query", r.query),
            queryPk = mat("query_pk", r.queryPk),
            primaryKey = mat("primary_key", r.primaryKey),
            volume = mat("volume", r.volume),
            volumeTop = mat("volume_top", r.volumeTop))
        }
        got("analyze.cache_bytes") = rdd.map(cachedBytes(spark, _)).getOrElse(0L).toDouble
        tracer.span("report.csv") { Reporter.report(reports, out.toString) }
        Seq(reports.query, reports.queryPk, reports.primaryKey, reports.volume, reports.volumeTop,
          events).foreach(_.unpersist())
      }
      (got.toMap, out)
    }
    /** Check a layered pass's output against the CLI pass's. */
    def checked(name: String, pass: (Map[String, Double], Path)): Map[String, Double] = {
      val (got, out) = pass
      val verdict = job.check(out)
      require(verdict == want, s"layered pass $name output differs from the CLI pass: $verdict")
      settle()
      got ++ Map(
        "report.bytes_written" -> bytesUnder(out).toDouble,
        "report.files_written" -> filesUnder(out).size.toDouble)
    }
    // one untimed untraced layered pass warms the layered shape
    checked("warm", tracer.untraced(layered("warm")))
    // pairs of the same layered pass, traced and untraced, in
    // alternating order: their medians give the tracing overhead
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    (0 until TracedPairs).foreach { i =>
      def traced(): Unit = {
        val (pass, ms) = millis(layered(s"traced-$i"))
        tracedMs += ms
        perPass += checked(s"traced-$i", pass)
      }
      def plain(): Unit = {
        val (pass, ms) = tracer.untraced(millis(layered(s"untraced-$i")))
        untracedMs += ms
        checked(s"untraced-$i", pass)
      }
      if (i % 2 == 0) { traced(); plain() } else { plain(); traced() }
    }
    tracer.drain()

    val last = perPass.last
    val t = job.truth
    val model = Map("ingest.hits_total" -> t.hitsTotal, "ingest.hits_kept" -> t.hitsKept,
      "parse.rows_in" -> t.hitsKept, "parse.rows_out" -> t.events,
      "parse.skip.not_slow_query" -> t.notSlow, "parse.skip.bad_timestamp" -> t.badTimestamp,
      "parse.skip.bad_duration" -> t.badDuration, "parse.skip.no_processor" -> t.noProcessor)
    val off = model.filter { case (k, v) => last(k) != v.toDouble }
    require(off.isEmpty, s"traced counters differ from the model: " +
      off.map { case (k, v) => s"$k=${last(k)} (model $v)" }.mkString(", "))

    def spanS(name: String, self: Boolean = false): Double =
      median(tracer.named(name).map(s => (if (self) tracer.selfMs(s) else s.ms) / 1000.0))
    val lastPass = tracer.named("pass").last
    def lastSpan(name: String) = tracer.allSpans.filter(s => s.name == name && s.trace == lastPass.trace)
    val analyzeCounts = tracer.sparkOf(lastSpan("analyze").head)
    val ingestCounts = tracer.sparkOf(lastSpan("ingest").head)

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("ingest.read_s") = spanS("ingest")
    m("ingest.pages") = job.pages.size
    m("ingest.bytes_in") = job.pages.map(p => Files.size(java.nio.file.Paths.get(p))).sum.toDouble
    m("ingest.hits_total") = last("ingest.hits_total")
    m("ingest.hits_kept") = last("ingest.hits_kept")
    m("ingest.prefilter_ratio") = last("ingest.hits_kept") / last("ingest.hits_total")
    m("ingest.scan_tasks") = ingestCounts.tasks.toDouble
    m("ingest.corrupt_docs") = last("ingest.corrupt_docs")
    m("parse.self_s") = spanS("parse", self = true)
    Seq("parse.rows_in", "parse.rows_out", "parse.skip.not_slow_query", "parse.skip.bad_timestamp",
      "parse.skip.bad_duration", "parse.skip.no_processor").foreach(k => m(k) = last(k))
    m("parse.yield") = last("parse.rows_out") / last("parse.rows_in")
    m("parse.rows_per_s") = last("parse.rows_in") / m("parse.self_s")
    Seq("query", "query_pk", "primary_key", "volume", "volume_top").foreach { r =>
      m(s"analyze.${r}_s") = spanS(s"analyze.$r")
    }
    m("analyze.jobs") = analyzeCounts.jobs.toDouble
    m("analyze.stages") = analyzeCounts.stages.toDouble
    m("analyze.shuffle_write_bytes") = analyzeCounts.shuffleWriteBytes.toDouble
    m("analyze.shuffle_read_bytes") = analyzeCounts.shuffleReadBytes.toDouble
    m("analyze.shuffle_records") = analyzeCounts.shuffleRecords.toDouble
    m("analyze.spill_bytes") = analyzeCounts.spillBytes.toDouble
    m("analyze.event_scans") = analyzeCounts.watchedScans.toDouble
    m("analyze.cache_bytes") = last("analyze.cache_bytes")
    m("analyze.cache_fraction_of_storage") = last("analyze.cache_bytes") / storageCapacity(spark)
    m("report.materialize_s") = spanS("report.materialize")
    m("report.csv_s") = spanS("report.csv")
    m("report.bytes_written") = last("report.bytes_written")
    m("report.files_written") = last("report.files_written")
    m ++= tracer.sparkLayer(tracer.sparkOf(lastPass), Seq(lastPass), tracedMs.toSeq, untracedMs.toSeq)
    Files.writeString(ctx.work.resolve("spans.json"), tracer.dumpJson)
    tracer.close()
    stop(spark)
    m.toMap
  }
}
