package graft.perf

import java.nio.file.{Files, Path, Paths}

import graft.perf.Harness._

/** Benchmark entry point.
  *
  * {{{
  * PerfMain --workload <name|all> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * `--trace 0` runs a workload untraced and reports the end-to-end
  * metrics; `--trace 1` runs the traced shape and reports the
  * per-layer metrics, writing the span dump next to the run's files.
  * The last stdout line is the JSON result.
  */
object PerfMain {

  val Workloads = Seq("slowlog_pages", "lexindex_mixed", "slowlog_stream")

  /** End-to-end metrics: every untraced run reports each of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_ms_p50" -> "ms",
    "throughput_per_s" -> "1/s",
    "live_heap_mb" -> "MiB",
    "store_bytes_per_input_byte" -> "ratio")

  /** Per-layer metrics: every traced run reports each of them; a layer
    * the workload does not exercise reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.read_s" -> "s", "ingest.pages" -> "count", "ingest.bytes_in" -> "bytes",
    "ingest.hits_total" -> "count", "ingest.hits_kept" -> "count", "ingest.prefilter_ratio" -> "ratio",
    "ingest.scan_tasks" -> "count", "ingest.corrupt_docs" -> "count",
    "parse.self_s" -> "s", "parse.rows_in" -> "count", "parse.rows_out" -> "count",
    "parse.yield" -> "ratio", "parse.rows_per_s" -> "1/s", "parse.skip.not_slow_query" -> "count",
    "parse.skip.bad_timestamp" -> "count", "parse.skip.bad_duration" -> "count",
    "parse.skip.no_processor" -> "count",
    "analyze.query_s" -> "s", "analyze.query_pk_s" -> "s", "analyze.primary_key_s" -> "s",
    "analyze.volume_s" -> "s", "analyze.volume_top_s" -> "s", "analyze.jobs" -> "count",
    "analyze.stages" -> "count", "analyze.shuffle_write_bytes" -> "bytes",
    "analyze.shuffle_read_bytes" -> "bytes", "analyze.shuffle_records" -> "count",
    "analyze.spill_bytes" -> "bytes", "analyze.event_scans" -> "count",
    "analyze.cache_bytes" -> "bytes", "analyze.cache_fraction_of_storage" -> "ratio",
    "report.materialize_s" -> "s", "report.csv_s" -> "s",
    "report.bytes_written" -> "bytes", "report.files_written" -> "count",
    "lexindex.build_s" -> "s", "lexindex.search_jobs" -> "count",
    "lexindex.search_stages" -> "count", "lexindex.search_tasks" -> "count",
    "lexindex.rows_read_per_result" -> "ratio", "lexindex.files_read_per_search" -> "count",
    "lexindex.search_driver_gap_ms" -> "ms", "lexindex.ingest_jobs" -> "count",
    "lexindex.ingest_rows" -> "count",
    "artifacts.commits" -> "count", "artifacts.commit_retries" -> "count",
    "artifacts.manifest_versions" -> "count", "artifacts.segments_live" -> "count",
    "artifacts.bytes_on_disk" -> "bytes", "artifacts.bytes_written_per_ingest" -> "bytes",
    "artifacts.segments_read_per_search" -> "count",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.latest_offset_ms_p50" -> "ms", "streaming.query_planning_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.rows_dropped_by_watermark" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.core_utilization" -> "ratio", "trace.overhead_ratio" -> "ratio")

  private def untraced(name: String, ctx: Ctx): RunResult = name match {
    case "slowlog_pages"  => Slowlog.run(ctx)
    case "lexindex_mixed" => LexMixed.run(ctx)
    case "slowlog_stream" => Stream.run(ctx)
  }

  private def traced(name: String, ctx: Ctx): Map[String, Double] = name match {
    case "slowlog_pages"  => Slowlog.trace(ctx)
    case "lexindex_mixed" => LexMixed.trace(ctx)
    case "slowlog_stream" => Stream.trace(ctx)
  }

  /** Run one workload; the result carries exactly the declared metrics. */
  def runOne(name: String, ctx: Ctx, trace: Boolean): RunResult =
    if (!trace) {
      val r = untraced(name, ctx)
      val got = r.metrics.map(_.name)
      require(got == EndToEnd.map(_._1), s"$name reported $got")
      r
    } else {
      val m = traced(name, ctx)
      val unknown = m.keySet -- PerLayer.map(_._1)
      require(unknown.isEmpty, s"$name reported undeclared per-layer metrics $unknown")
      log(s"span dump: ${ctx.work.resolve("spans.json")}")
      // a traced run that finishes has passed its own output checks
      RunResult(correct = true, attempted = 1, failed = 0,
        PerLayer.map { case (n, u) => Metric(n, m.getOrElse(n, 0.0), u) })
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(r: RunResult): String =
    r.metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {""",
        ", ", "}}")

  def main(args: Array[String]): Unit = {
    val flags = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = flags.getOrElse("workload", sys.error("--workload is required"))
    val seed = flags.getOrElse("seed", "1").toLong
    val secs = flags.getOrElse("seconds", "10").toInt
    val trace = flags.getOrElse("trace", "0") == "1"
    val work: Path = Paths.get(flags.getOrElse("work", "work")).toAbsolutePath
    val names = if (workload == "all") Workloads else Seq(workload)
    require(names.forall(Workloads.contains), s"unknown workload $workload; one of ${Workloads.mkString(", ")} or all")

    val results = names.zipWithIndex.map { case (n, i) =>
      if (i > 0) restartSetUpClock()
      val dir = work.resolve(n)
      excluded { deleteTree(dir); Files.createDirectories(dir) }
      val r = runOne(n, Ctx(dir, seed, secs), trace)
      println(s"== $n (seed $seed, ${if (trace) "traced" else "untraced"}) ==")
      r.metrics.foreach(m => println(f"  ${m.name}%-36s ${num(m.value)}%18s ${m.unit}"))
      println(f"  ${"failed_ratio"}%-36s ${num(r.failed.toDouble / r.attempted)}%18s fraction")
      println(s"  correct=${r.correct} attempted=${r.attempted} failed=${r.failed}")
      n -> r
    }
    val out =
      if (results.size == 1) results.head._2
      else RunResult(results.forall(_._2.correct), results.map(_._2.attempted).sum,
        results.map(_._2.failed).sum,
        results.flatMap { case (n, r) => r.metrics.map(m => m.copy(name = s"$n.${m.name}")) })
    println(json(out))
    System.out.flush()
    // a result was printed (correct or not); Spark's non-daemon
    // threads must not keep the JVM alive after it
    sys.exit(0)
  }
}
