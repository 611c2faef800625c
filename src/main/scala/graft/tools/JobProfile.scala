package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Per-JOB wall-clock profile of registry queries (round 17
  * measurement harness, optimization guide §1): registers a listener
  * that records every Spark job's duration and call site, runs the
  * named queries exactly as Bench does (toRdd materialization), and
  * prints jobs sorted by cost plus a call-site rollup. The call site
  * (`count at IndexCorpus.scala:413`) names the operator phase that
  * scheduled the job, so the phase split of a multi-command lifecycle
  * query (build / ingest / compact / search) is readable without
  * instrumenting the operators themselves. Gaps between job wall time
  * and query wall time are driver-side work (planning, manifest I/O,
  * collect-side math).
  *
  * Usage: sbt "runMain graft.tools.JobProfile q262_sq8_index_search ..."
  *   SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1);
  *   SPARK_GRAFT_CPUS the core count (default 32, the driver's bench
  *   shape); repeat a name to see warm-vs-cold.
  */
object JobProfile {
  private final case class JobRec(id: Int, site: String, ms: Long,
    execId: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-job-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    val starts = mutable.Map.empty[Int, (Long, String, String)]
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.synchronized {
          // the action's call site arrives as the job's result-stage
          // name (callSite.short), e.g. "count at IndexCorpus.scala:413"
          val site = e.stageInfos.lastOption.map(_.name)
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          // the SQL execution id groups an action's root job with the
          // broadcast/subquery child jobs its execution spawned on the
          // SQL thread pool — the rollup re-attributes every later job
          // of an execution to the first job of that execution
          val execId = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .getOrElse("")
          starts(e.jobId) = (e.time, site, execId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.synchronized {
          starts.remove(e.jobId).foreach { case (t0, site, execId) =>
            jobs += JobRec(e.jobId, site, e.time - t0, execId)
          }
        }
    })

    // same warm-up as Bench: JVM/codegen/FS init must not be charged
    // to the first profiled query
    spark.range(16).repartition(4).count()
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      li.groupBy("l_returnflag").count()
        .queryExecution.toRdd.foreach(_ => ())
    } catch { case _: Throwable => () }

    val names = if (args.nonEmpty) args.toSeq else Seq("q262_sq8_index_search")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      starts.synchronized { jobs.clear() }
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      val wallMs = (System.nanoTime() - t0) / 1e6
      graft.Scratch.release()
      // listener events are delivered asynchronously; settle briefly
      // so tail JobEnd events land before the snapshot (round-18
      // ADVICE fix — a missed tail job under-counted job time and
      // inflated the reported driver gap)
      Thread.sleep(300)
      val snap = starts.synchronized { jobs.toVector }
      val jobMs = snap.map(_.ms).sum
      println(f"%n==== $name: wall ${wallMs / 1000}%.3f s, " +
        f"${snap.size} jobs, job-time ${jobMs / 1000.0}%.3f s, " +
        f"driver gap ${(wallMs - jobMs) / 1000.0}%.3f s ====")
      println("-- jobs over 50 ms, slowest first --")
      snap.sortBy(-_.ms).takeWhile(_.ms >= 50).foreach { j =>
        println(f"  ${j.ms}%6d ms  job ${j.id}%4d  ${j.site}")
      }
      println("-- call-site rollup --")
      snap.groupBy(_.site).toSeq
        .map { case (s, js) => (s, js.size, js.map(_.ms).sum) }
        .sortBy(-_._3)
        .foreach { case (s, n, ms) =>
          println(f"  $ms%6d ms  $n%3d jobs  $s")
        }
      // attribute child (broadcast/subquery/AQE stage) jobs to the
      // owning action by the execution-id rule: a job that shares
      // spark.sql.execution.id with an EARLIER job belongs to that
      // execution's first job, whatever call site it reports
      val owner = snap.filter(_.execId.nonEmpty)
        .groupBy(_.execId).map { case (eid, js) => eid -> js.minBy(_.id) }
      println("-- rollup with child jobs re-attributed by execution --")
      snap.map { j =>
          owner.get(j.execId) match {
            case Some(first) if first.id < j.id =>
              j.copy(site = first.site + " [child]")
            case _ => j
          }
        }
        .groupBy(_.site).toSeq
        .map { case (s, js) => (s, js.size, js.map(_.ms).sum) }
        .sortBy(-_._3)
        .foreach { case (s, n, ms) =>
          println(f"  $ms%6d ms  $n%3d jobs  $s")
        }
    }
    spark.stop()
  }
}
