package graft.perf

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.analyze.SlowQueryPipeline
import graft.catalog.CqlCatalog
import graft.ingest.KibanaReader
import graft.model.AnalysisConfig
import graft.perf.Harness._
import graft.streaming.StreamingAnalyzer

/** `slowlog_stream`: page files dropped in waves into a directory that
  * `KibanaReader.hitsStream` -> `SlowQueryPipeline.parseEvents` ->
  * `StreamingAnalyzer.volumePerMinute` watches. One producer, closed
  * loop: the next wave drops after `processAllAvailable` returns for
  * the previous one. A wave's lag is the time from its drop to that
  * return. The final per-minute table must equal the generator's model.
  */
object Stream {

  val HitsPerWave = 300
  /** Event-time span of one wave; waves advance in time, so none is late. */
  val WaveMicros: Long = 30L * 1000000L
  val MinWaves = 14
  val WarmWaves = 4
  private val PkCard = 3000

  private final class Replay(ctx: Ctx) {
    private val in = ctx.dir("stream")
    private val src = Files.createDirectories(in.resolve("src"))
    private val staging = Files.createDirectories(in.resolve("staging"))
    val checkpoint: Path = in.resolve("checkpoint")
    private val rng = new java.util.SplittableRandom(ctx.seed * 31 + 17)
    private val name = "vol"
    var truth: Gen.SlowTruth = Gen.SlowTruth.empty
    var waves = 0
    var inputBytes = 0L
    var query: StreamingQuery = _

    def start(spark: SparkSession): Unit = {
      val config = AnalysisConfig(schema = CqlCatalog.parse(Gen.schemaCql), patterns = Gen.Patterns,
        tags = Gen.Tags)
      val events = SlowQueryPipeline.parseEvents(KibanaReader.hitsStream(spark, src.toString), config)
      query = StreamingAnalyzer.volumePerMinute(events)
        .writeStream.outputMode(OutputMode.Complete()).format("memory").queryName(name)
        .option("checkpointLocation", checkpoint.toString).start()
    }

    /** Write the next wave's page file into the staging directory
      * (input generation).
      */
    def stage(): Path = excluded {
      val staged = staging.resolve(f"wave-$waves%05d.json")
      truth = truth + Gen.writePage(staged, rng, HitsPerWave,
        Gen.BaseEpochMicros + waves * WaveMicros, WaveMicros, PkCard)
      inputBytes += Files.size(staged)
      waves += 1
      staged
    }

    /** Drop a staged wave and wait for the query to process it. */
    def drop(staged: Path): Unit = {
      Files.move(staged, src.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }

    /** Stage and drop the next wave; returns the lag in ms. */
    def wave(): Double = {
      val staged = stage()
      millis(drop(staged))._2
    }

    /** The sink's per-minute table equals the model. */
    def check(spark: SparkSession): Option[String] = excluded {
      val got = spark.table(name).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      if (got == truth.volume) None
      else Some(s"stream table has ${got.size} minutes, model ${truth.volume.size}; " +
        s"events ${got.values.map(_._1).sum} vs ${truth.events}")
    }
  }

  def run(ctx: Ctx): RunResult = {
    // set-up: JVM start, session build, stream start and the first wave
    val replay = new Replay(ctx)
    val spark = session(ctx)
    replay.start(spark)
    replay.wave()
    val setupS = setUpSeconds()
    settle()
    var attempted = 1L
    var failed = 0L
    val lag = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    // warm-up waves, untimed
    (1 to WarmWaves).foreach(_ => replay.wave())
    settle()
    val setupEvents = replay.truth.events
    var storeRatio = 0.0
    val t0 = System.nanoTime()
    while (lag.size < MinWaves || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val r = Try(replay.wave())
      attempted += 1
      r.failed.foreach { e => failed += 1; log(s"wave ${replay.waves} failed: $e") }
      r.foreach(lag += _)
      // heap and checkpoint size are read at fixed wave counts: both
      // grow with every wave, so a time-bound count would drift
      if (lag.size % 4 == 0 && lag.size <= MinWaves) heap += settle()
      if (lag.size == MinWaves) storeRatio = bytesUnder(replay.checkpoint).toDouble / replay.inputBytes
    }
    val verdict = Try(replay.check(spark)).fold(e => Some(s"check threw $e"), identity)
    attempted += 1
    verdict.foreach { why => failed += 1; log(why) }
    stop(spark)
    val events = (replay.truth.events - setupEvents).toDouble
    println(f"  stream: waves=${lag.size} lag_ms_p50=${median(lag.toSeq)}%.3f " +
      f"lag_ms_p90=${quantile(lag.toSeq, 0.9)}%.3f events_per_s=${events / (lag.sum / 1000.0)}%.1f")
    RunResult(failed == 0, attempted, failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_ms_p50", median(lag.toSeq), "ms"),
      Metric("throughput_per_s", events / (lag.sum / 1000.0), "1/s"),
      Metric("live_heap_mb", median(heap.toSeq), "MiB"),
      Metric("store_bytes_per_input_byte", storeRatio, "ratio")))
  }

  /** Pairs of waves, one traced and one untraced each. */
  private val TracedPairs = 12

  def trace(ctx: Ctx): Map[String, Double] = {
    val spark = session(ctx)
    val replay = new Replay(ctx)
    replay.start(spark)
    (1 to WarmWaves).foreach(_ => replay.wave())
    settle()
    val lastWarm = replay.query.lastProgress.batchId
    val tracer = new Tracer(spark.sparkContext)
    // consecutive waves, one traced and one untraced, in alternating
    // order: their medians give the tracing overhead
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    (0 until TracedPairs).foreach { i =>
      def traced(): Unit = {
        val staged = replay.stage()
        tracedMs += millis(tracer.trace("stream.wave")(replay.drop(staged)))._2
      }
      def plain(): Unit = {
        val staged = replay.stage()
        untracedMs += tracer.untraced(millis(replay.drop(staged))._2)
      }
      if (i % 2 == 0) { traced(); plain() } else { plain(); traced() }
    }
    tracer.drain()
    replay.check(spark).foreach(why => sys.error(why))
    // every wave of the traced window, traced or not, is one batch
    val progress = replay.query.recentProgress.filter(_.batchId > lastWarm).toSeq
    def durP50(key: String): Double =
      median(progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    val state = progress.last.stateOperators.headOption
    val waves = tracer.named("stream.wave")
    val m = mutable.LinkedHashMap[String, Double](
      "streaming.batches" -> progress.size.toDouble,
      "streaming.rows_per_batch" -> median(progress.map(_.numInputRows.toDouble)),
      "streaming.latest_offset_ms_p50" -> durP50("latestOffset"),
      "streaming.query_planning_ms_p50" -> durP50("queryPlanning"),
      "streaming.add_batch_ms_p50" -> durP50("addBatch"),
      "streaming.wal_commit_ms_p50" -> durP50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> durP50("commitOffsets"),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.rows_dropped_by_watermark" ->
        progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble)
    // micro-batches run on the query's own thread, outside any span:
    // the engine-wide counts are everything the traced window ran
    m ++= tracer.sparkLayer(tracer.sparkTotal, waves, tracedMs.toSeq, untracedMs.toSeq)
    Files.writeString(ctx.work.resolve("spans.json"), tracer.dumpJson)
    tracer.close()
    stop(spark)
    m.toMap
  }
}
