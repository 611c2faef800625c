package graft.perf

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One named metric value. */
final case class Metric(name: String, value: Double, unit: String)

/** What one benchmark run reports. */
final case class RunResult(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric])

/** Per-run context: where to write, which seed, how long to measure. */
final case class Ctx(work: Path, seed: Long, seconds: Int) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** Session, timing, memory and filesystem helpers shared by the
  * workloads. Everything here runs outside the timed windows.
  */
object Harness {

  /** Cores of the local master (one JVM, one client thread). */
  val Cores = 4

  /** Start of the current workload's set-up on the `nanoTime` clock:
    * the JVM's own start for the first workload of a process.
    */
  private var setUpStartNs =
    System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  /** Benchmark-only work (input generation, output checks, clean-up)
    * done since the set-up clock started.
    */
  private var excludedNs = 0L

  /** Restart the set-up clock, for the next workload of an `all` run. */
  def restartSetUpClock(): Unit = {
    setUpStartNs = System.nanoTime()
    excludedNs = 0L
  }

  /** Run benchmark-only work, which `setUpSeconds` leaves out. */
  def excluded[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally excludedNs += System.nanoTime() - t0
  }

  /** Wall seconds from the start of the set-up clock to now, less the
    * benchmark-only work: the `setup_s` of a workload that calls it
    * when its first operation ends.
    */
  def setUpSeconds(): Double = (System.nanoTime() - setUpStartNs - excludedNs) / 1e9

  def session(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
  }

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def millis[A](body: => A): (A, Double) = {
    val (a, s) = seconds(body)
    (a, s * 1000.0)
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Release query-scoped caches, collect garbage, and return the
    * heap still in use (MiB) — the live set after the operation.
    */
  def settle(): Double = {
    graft.Scratch.release()
    // queued listener events are live objects until delivered
    SparkSession.getActiveSession.foreach(s => org.apache.spark.perfbench.ListenerBus.drain(s.sparkContext))
    // a collection lets Spark's cleaner thread see dropped broadcasts,
    // shuffles and blocks; collect again until nothing more is freed
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    System.gc()
    var last = used
    var rounds = 0
    var freed = true
    while (freed && rounds < 5) {
      Thread.sleep(100)
      System.gc()
      val now = used
      freed = now < last * 0.99
      last = now
      rounds += 1
    }
    last
  }

  /** Total size of the regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.sortBy(_.toString)
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }

  def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  /** Sum of the JVM's collector times (ms). */
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Print a message on stderr (stdout carries only results). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  /** Run `body` with `println` output sent to stderr, so the engine's
    * progress lines do not mix with the result on stdout.
    */
  def quiet[A](body: => A): A = Console.withOut(System.err)(body)
}
