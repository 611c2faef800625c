package graft.perf

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.immutable.SortedMap
import scala.collection.mutable

import graft.model.QueryPattern

/** Seeded input generator for every workload, plus a plain-Scala model
  * of what it emitted (the ground truth the output checks compare
  * against). Nothing here touches Spark: the model is independent of
  * the engine it checks.
  */
object Gen {

  /** Per-minute (count, duration sum) — the volume report's content. */
  type Volume = SortedMap[String, (Long, Long)]

  /** What a set of slow-log hits should parse into. */
  final case class SlowTruth(
      hitsTotal: Long,
      hitsKept: Long,
      events: Long,
      notSlow: Long,
      badTimestamp: Long,
      badDuration: Long,
      noProcessor: Long,
      volume: Volume) {
    def +(o: SlowTruth): SlowTruth = SlowTruth(
      hitsTotal + o.hitsTotal, hitsKept + o.hitsKept, events + o.events,
      notSlow + o.notSlow, badTimestamp + o.badTimestamp,
      badDuration + o.badDuration, noProcessor + o.noProcessor,
      mergeVolume(volume, o.volume))

    /** The volume report after its HAVING count >= minCount filter. */
    def volumeReport(minCount: Int): Volume = volume.filter(_._2._1 >= minCount)
  }

  object SlowTruth {
    val empty: SlowTruth = SlowTruth(0, 0, 0, 0, 0, 0, 0, SortedMap.empty)
  }

  def mergeVolume(a: Volume, b: Volume): Volume =
    b.foldLeft(a) { case (acc, (m, (c, d))) =>
      val (c0, d0) = acc.getOrElse(m, (0L, 0L))
      acc.updated(m, (c0 + c, d0 + d))
    }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: java.util.SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** 2026-08-12T15:00:00Z, the hour the slow-log pages cover. */
  val BaseEpochMicros: Long = Instant.parse("2026-08-12T15:00:00Z").getEpochSecond * 1000000L

  private val secFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)
  private val minuteFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm").withZone(ZoneOffset.UTC)

  /** Kibana's `@timestamp` layout, microsecond precision. */
  def kibanaTs(micros: Long): String =
    f"${secFmt.format(Instant.ofEpochSecond(micros / 1000000L))}.${micros % 1000000L}%06dZ"

  def minuteOf(micros: Long): String =
    minuteFmt.format(Instant.ofEpochSecond(micros / 1000000L))

  // ---------------------------------------------------------------
  // Slow-log pages (`_msearch` responses, one JSON document per file)
  // ---------------------------------------------------------------

  /** The CQL schema the pages are generated against: 15 tables in 3
    * keyspaces. `events` exists in two keyspaces, so its keyspace is
    * ambiguous and unqualified references resolve through the tags
    * file; `t13`/`t14` carry composite partition keys.
    */
  private val Keyspaces = Seq("ks0", "ks1", "ks2")
  private final case class Table(ks: String, cf: String, pk: Seq[String])
  private val Tables: IndexedSeq[Table] =
    (0 until 13).map(i => Table(Keyspaces(i % 3), s"t$i", Seq("id"))) ++
      Seq(Table("ks1", "t13", Seq("a", "b")), Table("ks2", "t14", Seq("a", "b")))
  private val Shared = Seq(Table("ks0", "events", Seq("id")), Table("ks2", "events", Seq("id")))
  val Tags: Map[String, String] = Map("app0" -> "ks0", "app2" -> "ks2")

  def schemaCql: String = (Tables ++ Shared).map { t =>
    val cols = (t.pk ++ Seq("c", "v")).map(c => s"    $c text,").mkString("\n")
    val key =
      if (t.pk.size > 1) s"PRIMARY KEY ((${t.pk.mkString(", ")}), c)"
      else s"    PRIMARY KEY (${t.pk.head}, c)"
    s"CREATE TABLE ${t.ks}.${t.cf} (\n$cols\n$key\n);\n"
  }.mkString("\n")

  /** `--queries` patterns: normalize the literal-valued lookups. */
  val Patterns: Seq[QueryPattern] =
    Seq(QueryPattern("SELECT name FROM t0", Seq("id")), QueryPattern("SELECT name FROM t1", Seq("id")))

  def queriesJson: String = Patterns.map { p =>
    s"""{"start":"${p.start}","parameters":[${p.parameters.map(x => s""""$x"""").mkString(",")}]}"""
  }.mkString("[", ",", "]")

  def tagsJson: String = Tags.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")

  /** One hit: its message line, timestamp string, tags, and the
    * outcome the parse pipeline must reach.
    */
  private final case class Hit(ts: String, message: String, tags: Seq[String],
      viaAtMessage: Boolean)

  private sealed trait Outcome
  private case object Dropped extends Outcome // no "Query too slow" marker
  private case object NotSlow extends Outcome
  private case object BadTs extends Outcome
  private case object BadDuration extends Outcome
  private case object NoProcessor extends Outcome
  private final case class Event(micros: Long, duration: Long) extends Outcome

  /** A valid slow-query statement of one of the five types. */
  private def statement(rng: java.util.SplittableRandom, pkCard: Int): (String, Seq[String]) = {
    def pkv(): String = s"u${rng.nextInt(pkCard)}"
    rng.nextInt(20) match {
      case 0 | 1 => // unqualified, ambiguous table: keyspace from tags
        val tag = if (rng.nextBoolean()) "app0" else "app2"
        (s"[1 bound values] SELECT * FROM events WHERE id=?; [id:'${pkv()}']", Seq(tag, "prod"))
      case 2 => // literal values, normalized by a --queries pattern
        (s"SELECT name FROM t${rng.nextInt(2)} WHERE id = '${pkv()}' LIMIT 5;", Seq("prod"))
      case 3 | 4 =>
        val t = Tables(13 + rng.nextInt(2))
        (s"[2 bound values] INSERT INTO ${t.ks}.${t.cf} (a, b) VALUES (?, ?); " +
          s"[a:'${pkv()}', b:'${rng.nextInt(8)}']", Nil)
      case 5 | 6 =>
        val t = Tables(rng.nextInt(13))
        (s"[2 bound values] UPDATE ${t.ks}.${t.cf} SET v = ? WHERE id = ?; " +
          s"[v:'${rng.nextInt(100)}', id:'${pkv()}']", Seq("prod"))
      case 7 | 8 =>
        val t = Tables(rng.nextInt(13))
        (s"[1 bound values] DELETE FROM ${t.ks}.${t.cf} WHERE id = ?; [id:'${pkv()}']", Nil)
      case 9 =>
        val t = Tables(rng.nextInt(13))
        (s"[1 bound values] BEGIN BATCH INSERT INTO ${t.ks}.${t.cf} (id) VALUES (?); " +
          s"APPLY BATCH; [id:'${pkv()}']", Nil)
      case _ =>
        val t = Tables(rng.nextInt(13))
        val cols = if (rng.nextInt(4) == 0) "id, v" else "*"
        (s"[1 bound values] SELECT $cols FROM ${t.ks}.${t.cf} WHERE id=?; [id:'${pkv()}']",
          Seq("prod"))
    }
  }

  /** One generated hit. About 10% carry no slow-query marker (the
    * reader's prefilter drops them), and about 1% each are a marker
    * line the lexer rejects, a bad timestamp, a bad duration, and an
    * unknown statement type.
    */
  private def hit(rng: java.util.SplittableRandom, micros: Long, pkCard: Int): (Hit, Outcome) = {
    val ts = kibanaTs(micros)
    val duration = 1L + rng.nextInt(5000)
    val atMsg = rng.nextInt(16) == 0
    rng.nextInt(100) match {
      case r if r < 10 =>
        (Hit(ts, s"INFO Compacted 4 sstables to [sstable-${rng.nextInt(99)}]",
          Nil, atMsg), Dropped)
      case 10 => (Hit(ts, s"WARN Query too slow, took $duration msec", Nil, atMsg), NotSlow)
      case 11 =>
        val (stmt, tags) = statement(rng, pkCard)
        (Hit(ts.replace('T', ' '), s"WARN Query too slow, took $duration ms: $stmt", tags, atMsg),
          BadTs)
      case 12 =>
        val (stmt, tags) = statement(rng, pkCard)
        (Hit(ts, s"WARN Query too slow, took ${duration}x ms: $stmt", tags, atMsg), BadDuration)
      case 13 =>
        (Hit(ts, s"WARN Query too slow, took $duration ms: TRUNCATE ks0.t${rng.nextInt(13)}",
          Nil, atMsg), NoProcessor)
      case _ =>
        val (stmt, tags) = statement(rng, pkCard)
        (Hit(ts, s"WARN Query too slow, took $duration ms: $stmt", tags, atMsg),
          Event(micros, duration))
    }
  }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  /** One `_msearch` page: a single JSON document spanning the file. */
  private def pageJson(hits: Seq[Hit]): String = {
    val body = hits.map { h =>
      val msgKey = if (h.viaAtMessage) "@message" else "message"
      val tags = if (h.tags.isEmpty) "" else h.tags.map(jsonStr).mkString(""","tags":[""", ",", "]")
      s"""  {"_source":{"@timestamp":${jsonStr(h.ts)},"$msgKey":${jsonStr(h.message)}$tags}}"""
    }.mkString(",\n")
    s"""{"responses":[{"hits":{"total":${hits.size},"hits":[\n$body\n]}}]}\n"""
  }

  private def truthOf(outcomes: Seq[Outcome]): SlowTruth = {
    val vol = mutable.TreeMap.empty[String, (Long, Long)]
    outcomes.foreach {
      case Event(m, d) =>
        val k = minuteOf(m)
        val (c0, d0) = vol.getOrElse(k, (0L, 0L))
        vol(k) = (c0 + 1, d0 + d)
      case _ => ()
    }
    SlowTruth(
      hitsTotal = outcomes.size,
      hitsKept = outcomes.count(_ != Dropped),
      events = outcomes.count(_.isInstanceOf[Event]),
      notSlow = outcomes.count(_ == NotSlow),
      badTimestamp = outcomes.count(_ == BadTs),
      badDuration = outcomes.count(_ == BadDuration),
      noProcessor = outcomes.count(_ == NoProcessor),
      volume = SortedMap.empty[String, (Long, Long)] ++ vol)
  }

  /** Write one page of hits with timestamps in [fromMicros, fromMicros
    * + spanMicros) to `file`; returns its ground truth.
    */
  def writePage(file: Path, rng: java.util.SplittableRandom, hits: Int,
      fromMicros: Long, spanMicros: Long, pkCard: Int): SlowTruth = {
    val hs = (0 until hits).map { _ =>
      hit(rng, fromMicros + (rng.nextDouble() * spanMicros).toLong, pkCard)
    }
    Files.write(file, pageJson(hs.map(_._1)).getBytes(UTF_8))
    truthOf(hs.map(_._2))
  }

  /** The `slowlog_pages` input: `pages` page files covering one hour,
    * plus the schema, queries and tags files. Returns the page paths
    * and the ground truth.
    */
  def slowlogPages(dir: Path, seed: Long, pages: Int, hitsPerPage: Int,
      pkCard: Int): (Seq[String], SlowTruth) = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("schema.cql"), schemaCql.getBytes(UTF_8))
    Files.write(dir.resolve("queries.json"), queriesJson.getBytes(UTF_8))
    Files.write(dir.resolve("tags.json"), tagsJson.getBytes(UTF_8))
    val rng = new java.util.SplittableRandom(seed)
    val pageDir = Files.createDirectories(dir.resolve("pages"))
    var truth = SlowTruth.empty
    val paths = (0 until pages).map { p =>
      val f = pageDir.resolve(f"page-$p%05d.json")
      truth = truth + writePage(f, rng.split(), hitsPerPage, BaseEpochMicros, 3600L * 1000000L,
        pkCard)
      f.toString
    }
    (paths, truth)
  }

  // ---------------------------------------------------------------
  // Lexical-index corpus, query stream and ingest batches
  // ---------------------------------------------------------------

  final case class Corpus(docs: IndexedSeq[(Long, String)], vocab: IndexedSeq[String],
      zipf: Zipf) {
    def textBytes: Long = docs.map(_._2.getBytes(UTF_8).length.toLong).sum
  }

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  /** `docs` documents of Zipf-distributed words over `vocabSize` words. */
  def corpus(seed: Long, docs: Int, vocabSize: Int, wordsPerDoc: Int): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    val zipf = new Zipf(vocabSize, 1.1)
    val vocab = (0 until vocabSize).map(word)
    val ds = (0 until docs).map { i =>
      val n = wordsPerDoc / 2 + rng.nextInt(wordsPerDoc)
      (i.toLong, Seq.fill(n)(vocab(zipf.sample(rng))).mkString(" "))
    }
    Corpus(ds, vocab, zipf)
  }

  /** A search query: 3 Zipf words, so queries share terms. */
  def query(c: Corpus, rng: java.util.SplittableRandom): String =
    Seq.fill(3)(c.vocab(c.zipf.sample(rng))).mkString(" ")

  /** The probe phrase of ingest batch `b`: its two words occur nowhere
    * else, so the bigram is unique to the batch's probe document.
    */
  def probe(seed: Long, b: Int): String = s"probe${seed}x$b token${b}y$seed"

  /** Ingest batch `b`: `size` new documents with ids above the
    * corpus; the first carries the batch's probe phrase.
    */
  def ingestBatch(c: Corpus, seed: Long, b: Int, size: Int, firstId: Long,
      wordsPerDoc: Int): IndexedSeq[(Long, String)] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + b)
    (0 until size).map { i =>
      val words = Seq.fill(wordsPerDoc)(c.vocab(c.zipf.sample(rng))).mkString(" ")
      val text = if (i == 0) s"${probe(seed, b)} $words" else words
      (firstId + i, text)
    }
  }
}
