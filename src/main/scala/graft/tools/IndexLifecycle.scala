package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** The lifecycle commands both persisted index CLIs share —
  * [[LexIndex]] (BM25 postings) and [[IndexCorpus]] (IVF/PQ/graph) —
  * implemented ONCE over [[Artifacts]]: CLI dispatch and flag
  * parsing, the `--at` time-travel read, and the `delete`, `compact`,
  * `history`, `fsck`, `contention` and `export` shells. An index
  * supplies only what actually differs: its id-column default and
  * membership artifact, its fsck invariants, its compact plan and
  * extra compact steps, the state it re-derives after a membership
  * change, its per-version history columns, and build / update /
  * ingest / search.
  *
  * Every mutating command accepts `--keep-manifests N` (sets
  * `spark.graft.keepManifests` for the session): the vacuum retention
  * window external concurrent readers pin against ([[Artifacts]]),
  * and `--vacuum-grace-ms MS` (the age below which vacuum presumes a
  * never-referenced segment belongs to a live CONCURRENT writer — see
  * the multi-writer contract in [[Artifacts]]'s object doc).
  * `search`/`searchBatch --at V` is the TIME-TRAVEL read over that
  * window: every artifact resolves against retained manifest V, so
  * the answer is the one the index served at that version — updates
  * and deletes that came after are invisible, exactly (q300/q301
  * prove it with full-corpus oracles through post-delete indexes).
  */
trait IndexLifecycle {

  /** CLI name for the usage line, and the Spark app name. */
  protected def cliName: String
  protected def appName: String
  /** Default of the `--id` flag on input parquet. */
  protected def idDefault: String
  /** The artifact holding every ingested id, live or tombstoned. */
  protected def membership: String
  /** Index-only commands, dispatched (and listed) after `compact`. */
  protected def extraCommands
      : Seq[(String, (SparkSession, Array[String]) => Any)] = Nil

  def build(spark: SparkSession, args: Array[String]): Seq[(String, Long)]
  def update(spark: SparkSession, args: Array[String]): Seq[(String, Long)]
  def search(spark: SparkSession, args: Array[String]): DataFrame
  def searchBatch(spark: SparkSession, args: Array[String]): DataFrame

  /** fsck's content invariants, in the order [[fsckValues]] returns
    * their (observed, expected) pairs.
    */
  protected def fsckInvariants: Seq[String]
  /** One union-aggregate over the content artifacts (see [[audit]]);
    * only called while every manifest-listed segment is on disk.
    */
  protected def fsckValues(spark: SparkSession, idx: String): Seq[(Long, Long)]
  /** The artifacts compact rewrites: (name, tombstone-filtered,
    * partition bucket) under the given `--threshold`.
    */
  protected def compactPlan(spark: SparkSession, idx: String,
      thresholdPm: Option[Long]): Seq[(String, Boolean, Option[Artifacts.Bucket])]
  /** Extra compact rewrites over the base manifest, after the plan. */
  protected def compactExtra(spark: SparkSession, idx: String,
      baseMap: Map[String, Seq[String]],
      pend: Map[String, Seq[String]]): Map[String, Seq[String]] = pend
  /** State-dependent artifacts re-derived from a working map whose
    * membership or tombstones changed (the lexical stats frame);
    * runs inside the commit retry, once per attempt.
    */
  protected def rederive(spark: SparkSession, idx: String,
      pend: Map[String, Seq[String]]): Map[String, Seq[String]] = pend
  /** The three per-version columns of `history`, and their values. */
  protected def historyColumns: (String, String, String)
  protected def historyStats(spark: SparkSession, idx: String,
      chain: Seq[Long]): Long => (Long, Long, Long)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val commands: Seq[(String, (SparkSession, Array[String]) => Any)] =
      Seq("build" -> build _, "update" -> update _, "delete" -> delete _,
        "compact" -> compact _) ++ extraCommands ++
      Seq("search" -> search _, "searchBatch" -> searchBatch _,
        "history" -> history _, "export" -> export _, "fsck" -> fsck _,
        "contention" -> contention _)
    try {
      commands.find(c => args.headOption.contains(c._1)) match {
        case Some((_, run)) => run(spark, args.drop(1)) match {
          case df: Dataset[_] => df.show(100, truncate = false)
          case _              => ()
        }
        case None => sys.error(
          s"usage: $cliName ${commands.map(_._1).mkString("|")} ...")
      }
    } finally spark.stop()
  }

  protected def flagsOf(args: Array[String], from: Int): Map[String, String] =
    args.drop(from).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** Run a read with `--at V` honored: every artifact `body` resolves
    * against retained manifest V of `args(0)` (the time-travel read).
    */
  protected def atVersion[A](spark: SparkSession, args: Array[String],
      flagsFrom: Int)(body: => A): A =
    flagsOf(args, flagsFrom).get("at") match {
      case Some(v) => Artifacts.withPinned(spark, args(0), v.toLong)(body)
      case None    => body
    }

  /** Invalidate any cached plan that scans the index files. Every
    * mutating command calls this after its commit: a search may have
    * left a (query-scoped, not-yet-released) cached scan of the old
    * file set in the session's CacheManager, and a later same-shaped
    * plan would silently reuse it — reading superseded listings.
    */
  protected def refresh(spark: SparkSession, idx: String): Unit =
    spark.catalog.refreshByPath(idx)

  /** Working-state read: current manifest overridden by a command's
    * PENDING (written, not yet committed) segments.
    */
  protected def rd(spark: SparkSession, idx: String, name: String,
      pending: Map[String, Seq[String]]): DataFrame =
    pending.get(name) match {
      case Some(segs) => Artifacts.readSegs(spark, idx, name, segs)
      case None       => Artifacts.read(spark, idx, name)
    }

  /** Live ids = membership minus tombstones, against the working
    * state (`pending` overrides).
    */
  protected def liveIds(spark: SparkSession, idx: String,
      pending: Map[String, Seq[String]]): DataFrame = {
    val all = rd(spark, idx, membership, pending).select(col("id"))
    if (pending.get("tombstones").exists(_.nonEmpty) ||
        Artifacts.exists(spark, idx, "tombstones"))
      all.join(rd(spark, idx, "tombstones", pending).select(col("id")),
        Seq("id"), "left_anti")
    else all
  }

  /** `df` minus the tombstoned ids — search applies it to the
    * already-restricted candidates, never the whole index.
    */
  protected def dropTombstoned(spark: SparkSession, idx: String,
      df: DataFrame): DataFrame =
    if (!Artifacts.exists(spark, idx, "tombstones")) df
    else df.join(Artifacts.read(spark, idx, "tombstones").select(col("id")),
      Seq("id"), "left_anti")

  /** Sum a union of tagged (inv, v) audit branches per tag in ONE job
    * — a count job per invariant would pay the job floor for each.
    */
  protected def audit(branches: DataFrame): Map[String, Long] =
    branches.groupBy(col("inv")).agg(sum(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Retract ids from the index. Deletion is a TOMBSTONE, not a
    * rewrite: the ids append to a `tombstones` artifact (O(deleted) —
    * a delete wave must not repay the build), search anti-joins them,
    * and [[rederive]] brings state-dependent artifacts up to date in
    * the same manifest flip — so post-delete answers equal a fresh
    * build over the survivors (q271/q273). Physical space comes back
    * at the next [[compact]]. Ids not present (or already deleted)
    * are ignored; re-ingesting a tombstoned id is rejected because
    * neither delete nor compact removes an id from the membership
    * artifact (deletes are permanent retractions — redacted or
    * opted-out documents must not resurface).
    *
    * Structural command: the doomed set is the input semi-joined
    * against the LIVE ids, which every competing commit can change,
    * so a CAS-failed publish re-derives it from the new state, bounded
    * times (Artifacts.commitStructuralWithRetry). The retry costs one
    * id-column scan plus a wave-sized semi-join — no delta-rebase
    * applies.
    */
  def delete(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: delete <indexDir> <ids.parquet> [flags]")
    val (idx, in) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", idDefault)
    GraftSession.tune(spark)
    Artifacts.applyRetentionFlag(spark, flags, idx)
    Artifacts.requireManifest(spark, idx)
    var nDel = 0L
    Artifacts.commitStructuralWithRetry(spark, idx) { _ =>
      val doomed = graft.Scratch.localCheckpoint(
        spark.read.parquet(in).select(col(idCol).cast("long").as("id"))
          .distinct()
          .join(liveIds(spark, idx, Map.empty), Seq("id"), "left_semi"))
      // counted write (round 17): the deleted-row count rides the
      // tombstone write instead of a separate pre-write count job
      val (segT, n, _) = Artifacts.writeSegmentCounted(
        spark, idx, "tombstones", doomed)
      nDel = n
      Artifacts.merged(spark, idx, rederive(spark, idx, Map("tombstones" ->
        (Artifacts.segmentsOf(spark, idx, "tombstones") :+ segT))))
    }
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    Seq("deleted" -> nDel)
  }

  /** Fold the tombstones into the content files: rewrite the
    * [[compactPlan]]'s artifacts without the deleted ids (an
    * anti-join against the SMALL, distinct tombstone set), each
    * rewritten segment replacing what it compacts via one atomic
    * manifest flip. Compact never overwrites the files it reads, so a
    * crash at ANY point leaves the previous index serving
    * byte-identically. What compact must NOT do is forget: the
    * tombstone set survives (distinct) as the permanent retraction
    * artifact, so a post-compact update still rejects retracted ids.
    *
    * Default (no flags) is a FULL compact: every planned artifact
    * consolidates to one segment. `--threshold <permille>` compacts
    * INCREMENTALLY ([[Artifacts.compactSegments]]): a segment
    * rewrites only when its tombstone-hit density reaches the
    * threshold, and cold segments keep their files byte-identical.
    * Answers are unchanged either way (search already honored the
    * tombstones) — q272/q273/q285 pin that against survivor oracles.
    */
  def compact(spark: SparkSession, args: Array[String]): Seq[(String, Long)] =
    compactImpl(spark, args, crashBeforeCommit = false)

  /** `crashBeforeCommit` is the specs' failpoint: do all the segment
    * writes, then throw instead of flipping the manifest — proving a
    * mid-compact crash leaves the prior index state fully serving.
    */
  private[tools] def compactImpl(spark: SparkSession, args: Array[String],
      crashBeforeCommit: Boolean): Seq[(String, Long)] = {
    require(args.length >= 1, "usage: compact <indexDir> [flags]")
    val idx = args(0)
    val flags = flagsOf(args, 1)
    val thresholdPm = flags.get("threshold").map(_.toLong)
    GraftSession.tune(spark)
    Artifacts.applyRetentionFlag(spark, flags, idx)
    Artifacts.requireManifest(spark, idx)
    refresh(spark, idx)
    // structural command, DELTA-REBASE form (round 15): the
    // corpus-sized consolidation derives ONCE, reading exactly the
    // base manifest's segment lists; a commit landing mid-compact (a
    // concurrent ingest wave, a delete) CAS-fails the publish and the
    // retry merges the already-consolidated segments with the
    // competitor's appends-since-base instead of re-deriving — one
    // rewrite no matter how many append races are lost, with only
    // [[rederive]]'s metadata-sized state re-derived per attempt
    // (Artifacts.commitRewriteWithDeltaRetry; a competing structural
    // rewrite still surfaces as a conflict). The ingest-vs-compact
    // race and the sustained-ingest storm tests drive this live.
    val baseMap = Artifacts.currentManifest(spark, idx)
      .map(_._2).getOrElse(Map.empty)
    var pend = Map.empty[String, Seq[String]]
    val tomb =
      if (baseMap.get("tombstones").exists(_.nonEmpty))
        Some(graft.Scratch.cache(
          Artifacts.readSegs(spark, idx, "tombstones", baseMap("tombstones"))
            .select(col("id")).distinct()))
      else None
    compactPlan(spark, idx, thresholdPm).foreach { case (name, filtered, bucket) =>
      Artifacts.compactSegments(spark, idx, name, tomb, thresholdPm,
        filtered, bucket, baseSegs = Some(baseMap.getOrElse(name, Seq.empty)))
        .foreach(segs => pend += name -> segs)
    }
    pend = compactExtra(spark, idx, baseMap, pend)
    tomb.foreach { ts =>
      pend = Artifacts.withReplaced(spark, idx, pend, "tombstones", ts)
    }
    if (crashBeforeCommit)
      sys.error("injected crash: compact before manifest commit")
    Artifacts.commitRewriteWithDeltaRetry(spark, idx, baseMap, pend,
      finish = rederive(spark, idx, _))
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    // post-compact per-artifact sizes from parquet FOOTERS (round 18,
    // VERDICT item 3): a read-back count() would re-scan every
    // artifact the compact had just rewritten
    pend.keys.toSeq.sorted.map { name =>
      name -> Artifacts.countRows(spark, idx, name)
    }
  }

  /** Per-version statistics over the RETAINED manifest chain: the
    * index's [[historyColumns]] for each version, plus the
    * starvation-risk columns (round 17) — contention events that
    * landed at that version and the worst lost-attempt count — in the
    * audit an operator actually runs, not only under `contention`.
    * q304 re-derives every row in closed form.
    */
  def history(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 1, "usage: history <indexDir>")
    val idx = args(0)
    GraftSession.tune(spark)
    Artifacts.requireManifest(spark, idx)
    import spark.implicits._
    // the layer-level version chain (bounded by the retention window)
    val chain = Artifacts.manifestVersions(spark, idx)
    val cont = Artifacts.contentionByVersion(spark, idx)
    val stats = historyStats(spark, idx, chain)
    val (c1, c2, c3) = historyColumns
    chain.map { v =>
      val (a, b, c) = stats(v)
      val (ev, worst) = cont.getOrElse(v, (0L, 0L))
      (v, a, b, c, ev, worst)
    }.toDF("version", c1, c2, c3, "contention_events", "max_lost_attempts")
  }

  /** Index INTEGRITY audit (`fsck <indexDir>`): one row per invariant
    * the serving contract rests on, as (invariant, observed, expected)
    * — a healthy index reads observed == expected on every row.
    *
    *   - segments_missing: manifest-listed segment dirs absent on disk
    *     (the unrecoverable failure — a mis-sized vacuum grace or
    *     external deletion);
    *   - contention_strands: commit loops that ran out of retries;
    *   - the index's [[fsckInvariants]], which read the content
    *     artifacts — uncomputable when the manifest references lost
    *     files, so they report (-1, 0) then and segments_missing
    *     carries the diagnosis.
    *
    * Content checks run over ALL rows including tombstoned ones (the
    * content artifacts carry dead rows symmetrically until compact).
    * q307/q308 hash every row against closed-form corpus recounts.
    */
  def fsck(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 1, "usage: fsck <indexDir>")
    val idx = args(0)
    GraftSession.tune(spark)
    Artifacts.requireManifest(spark, idx)
    import spark.implicits._
    val (_, missing) = Artifacts.segmentCheck(spark, idx)
    // the content checks are not even attempted over lost files: a
    // vanished segment dir can list as EMPTY once its cached scan is
    // refreshed, which would report plausible-looking wrong counts
    val values =
      if (missing > 0) fsckInvariants.map(_ => (-1L, 0L))
      else fsckValues(spark, idx)
    // strands read the telemetry files alone — computable even when
    // content artifacts are lost, so they sit outside the try
    val strands = Artifacts.contentionStrands(spark, idx)
    (("segments_missing", missing, 0L) +:
      ("contention_strands", strands, 0L) +:
      fsckInvariants.zip(values).map { case (n, (o, e)) => (n, o, e) })
      .toDF("invariant", "observed", "expected")
      .orderBy(col("invariant"))
  }

  /** Commit-contention telemetry (`contention <indexDir>`): one row
    * per recorded lost-CAS event — (command, lost_attempts,
    * landed_version; -1 = the command exhausted its retries and
    * stranded). Makes write contention OBSERVABLE before a structural
    * command actually starves: a deployment whose compacts routinely
    * land at 3-4 lost attempts is one ingest wave away from a strand
    * and should widen `spark.graft.structuralRetries` or schedule
    * compacts off-peak. Bounded by construction (vacuum retains the
    * newest [[Artifacts.contentionKeep]] events).
    */
  def contention(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 1, "usage: contention <indexDir>")
    GraftSession.tune(spark)
    Artifacts.requireManifest(spark, args(0))
    Artifacts.contentionReport(spark, args(0))
  }

  /** Materialize a (possibly historical) snapshot as a brand-new
    * standalone index: `export <src> <dst> [--at V]` — see
    * [[Artifacts.exportSnapshot]]. The export then serves exactly as
    * the source did at V (q305/q306 prove a pre-delete export answers
    * the full-corpus oracle), with no retention-window coupling to src.
    */
  def export(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: export <srcIndexDir> <dstIndexDir> [--at V]")
    val flags = flagsOf(args, 2)
    GraftSession.tune(spark)
    val res = Artifacts.exportSnapshot(spark, args(0), args(1),
      flags.get("at").map(_.toLong))
    refresh(spark, args(1))
    res
  }
}
