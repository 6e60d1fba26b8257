package graft.perfbench

import graft.analytics.{Lookups, Search}
import graft.crawl.{CrawlLoop, GoldenSeq, Round, RoundInputs}
import graft.dedup.{FastBloom, SeenSet}
import graft.fixtures.SyntheticCorpus
import graft.model.{CrawlConfig, RobotsRule}
import graft.store.SnapshotStore
import graft.url.{Hashing, Urls}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Input sizes of the discover workload. */
final case class CrawlScale(
    hosts: Int,
    /** rounds of the one timed `CrawlLoop.run` call of an episode */
    timedRounds: Int,
    /** reads after each episode */
    readsPerBatch: Int)

/** The generated inputs of the discover workload. Only the start set, the
  * death schedule and the read parameters depend on the seed; the corpus
  * and robots rules are fixed functions of the host count, so every seed
  * sees the same amount of web.
  */
final class CrawlInputs(spark: SparkSession, val hosts: Int, val seed: Long) {
  import spark.implicits._

  private def h(i: Long, salt: Long): Long =
    Hashing.nonNeg(Hashing.mix(i * 0x9E3779B97F4A7C15L + seed * 1000003L + salt))

  /** About 1/7 of the hosts' front pages. */
  val seedUrls: Seq[String] =
    (0L until hosts).filter(i => h(i, 1) % 7 == 0).map(i => SyntheticCorpus.urlOf(i, 0))

  /** About 1/11 of the hosts die, from round 2, 3 or 4. */
  val deaths: DataFrame =
    (0L until hosts).filter(i => h(i, 2) % 11 == 3)
      .map(i => SyntheticCorpus.hostName(i) -> (2 + (h(i, 3) % 3).toInt))
      .toDF("host", "dead_from_round")

  val robots: Seq[RobotsRule] = SyntheticCorpus.robotsLocal(hosts)

  val corpus: DataFrame =
    SyntheticCorpus.docsDF(spark, hosts).persist(StorageLevel.MEMORY_AND_DISK)

  /** Materializes the corpus; returns its document count. */
  def materialize(): Long = corpus.count()
}

/** Reads a user of the crawl store makes: full-text search and the three
  * lookups of the domain pages.
  */
final case class ReadOp(kind: String, arg: String, page: Int) {
  def isSearch: Boolean = kind == "search"
}

object Reads {
  /** The corpus filler vocabulary: every query term has postings, so each
    * seed's searches do comparable work.
    */
  val Vocab: Vector[String] = Vector("onion", "market", "forum", "mirror", "hidden",
    "service", "index", "directory", "fresh", "links", "secure", "anon",
    "wiki", "board", "chat", "mail", "host", "search", "paste", "drop")

  /** `j`-th search of a batch: 1, 2, 3 terms and pages 0, 1, 2 in a fixed
    * cycle, so every seed asks the same shape of query; the seed picks
    * the words.
    */
  def searchTerms(rng: scala.util.Random, j: Int): (String, Int) =
    (Seq.fill(1 + j % 3)(Vocab(rng.nextInt(Vocab.length))).mkString(" "), (j / 3) % 3)

  /** Half searches, half lookups cycling over neighbors, domains-by-email
    * and domain row; hosts drawn from `hosts`, emails from the corpus's
    * own (`SyntheticCorpus.emailOf` of a host below `nHosts`), so no
    * lookup is an empty miss.
    */
  def batch(rng: scala.util.Random, hosts: IndexedSeq[String], nHosts: Int, n: Int)
      : Seq[ReadOp] =
    (0 until n).map { k =>
      if (k % 2 == 0) {
        val (q, page) = searchTerms(rng, k / 2)
        ReadOp("search", q, page)
      } else (k / 2) % 3 match {
        case 0 => ReadOp("neighbors", hosts(rng.nextInt(hosts.length)), 0)
        case 1 => ReadOp("by_email", SyntheticCorpus.emailOf(rng.nextInt(nHosts).toLong), 0)
        case _ => ReadOp("domain", hosts(rng.nextInt(hosts.length)), 0)
      }
    }

  def plan(store: SnapshotStore, op: ReadOp): DataFrame = op.kind match {
    case "search"    => Search.query(store.read("pages_fts"), op.arg, op.page)
    case "neighbors" => Lookups.neighbors(store.read("links"), op.arg)
    case "by_email"  => Lookups.domainsByFact(store.read("domains"), store.read("emails"), op.arg)
    case "domain"    => store.read("domains").filter(col("host") === op.arg)
  }

  /** A canonical form of a read's answer, for comparison. */
  def answer(op: ReadOp, rows: Seq[Row]): Seq[String] = op.kind match {
    case "search" => rows.map(r => s"${r.getAs[String]("url")}|${r.getAs[Long]("score")}")
    case "neighbors" =>
      rows.map(r => s"${r.getAs[String]("neighbor")}|${r.getAs[String]("direction")}").sorted
    case _ => rows.map(_.getAs[String]("host")).sorted
  }

  /** `Search.query`'s page of (url, score), recomputed on the driver
    * from the postings of the query's terms.
    */
  def search(postings: DataFrame, q: String, page: Int): Seq[String] = {
    val terms = q.toLowerCase.split("\\W+").filter(_.length > 1).distinct.toSeq
    val post = postings.filter(col("term").isin(terms: _*))
      .select("term", "url", "host", "in_title").collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)), r.getBoolean(3)))
    val perTerm = post.groupBy(_._1).map { case (k, v) => k -> v.exists(_._2) }
    val perUrl = perTerm.groupBy { case ((_, url, host), _) => (url, host) }
    val scored = perUrl.toSeq.map { case ((url, _), ts) =>
      val matched = ts.keys.map(_._1).toSet.size
      val title = ts.count(_._2)
      (url, (matched + 2 * title).toLong)
    }.sortBy { case (url, score) => (-score, url) }
    scored.slice(page * 10, (page + 1) * 10).map { case (u, s) => s"$u|$s" }
  }

  /** The same answer recomputed on the driver from a plain scan of the
    * committed tables — no engine operator involved.
    */
  def recompute(store: SnapshotStore, op: ReadOp): Seq[String] = op.kind match {
    case "search" => search(store.read("pages_fts"), op.arg, op.page)
    case "neighbors" =>
      val ls = store.read("links").filter(col("src_host") === op.arg || col("dst_host") === op.arg)
        .select("src_host", "dst_host").collect().map(r => (r.getString(0), r.getString(1)))
      (ls.filter(_._2 == op.arg).map(l => s"${l._1}|in") ++
        ls.filter(_._1 == op.arg).map(l => s"${l._2}|out")).distinct.toSeq.sorted
    case "by_email" =>
      val hs = store.read("emails").filter(col("value") === op.arg).select("host")
        .collect().map(_.getString(0)).toSet
      store.read("domains").select("host").collect().map(_.getString(0))
        .filter(hs.contains).toSeq.sorted
    case "domain" =>
      store.read("domains").select("host").collect().map(_.getString(0))
        .filter(_ == op.arg).toSeq
  }
}

/** The `discover` workload: a fresh store per episode and one warm round
  * in set-up, then one timed, unmodified `CrawlLoop.run(corpus, deaths, R)`
  * while the frontier still grows, with compaction off; then a read batch
  * against the final snapshot, timed apart. Episodes repeat until the
  * timed rounds have used the run's seconds.
  */
final class CrawlWorkload(
    spark: SparkSession,
    scale: CrawlScale,
    seed: Long,
    work: Path,
    tracer: Tracer,
    res: Results,
    recorded: Map[String, String]) {
  import spark.implicits._

  val cfg: CrawlConfig =
    CrawlConfig(roundWindowSec = 600.0, recrawlIntervalRounds = 1000, compactEveryRounds = 1000)

  val observed: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  private val roundS = mutable.ArrayBuffer.empty[Double]
  private val searchMs = mutable.ArrayBuffer.empty[Double]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]
  private var urls = 0L
  private var timedWall = 0.0
  private var timedCpu = 0.0
  private var liveHeap = 0.0
  private val setups = mutable.ArrayBuffer.empty[Double]
  private var inputS = 0.0
  private var lastReads: Seq[ReadOp] = Nil
  private var storeN = 0
  private val readTimer = new ReadTimer(tracer)

  private var docs = 0L

  private lazy val inputs: CrawlInputs = {
    val (in, s) = Proc.timeS {
      val in = new CrawlInputs(spark, scale.hosts, seed)
      docs = in.materialize()
      in
    }
    inputS = s
    in
  }

  private def processed(store: SnapshotStore): Long = {
    val r = store.read("metrics").agg(sum("scheduled"), sum("deduped")).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0)) + (if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def manifestMs(store: SnapshotStore, snap: Int): Long =
    Files.getLastModifiedTime(
      java.nio.file.Paths.get(store.rootDir, f"_snap-$snap%06d.json")).toMillis

  /** Runs one read batch against the latest snapshot, timing each read. */
  private def readBatch(store: SnapshotStore): Unit = {
    val hosts = store.read("domains").select("host").orderBy("host").as[String].collect()
      .toIndexedSeq
    val rng = new scala.util.Random(seed * 7919L + storeN)
    // one untimed read of each kind first: the timed reads then measure
    // the read path, not its first code generation
    Reads.batch(rng, hosts, scale.hosts, 6).foreach(op => Reads.plan(store, op).collect())
    val ops = Reads.batch(rng, hosts, scale.hosts, scale.readsPerBatch)
    ops.foreach { op =>
      res.op()
      val (_, s) = readTimer(if (op.isSearch) "analytics.search" else "analytics.lookup") {
        Reads.plan(store, op).collect()
      }
      (if (op.isSearch) searchMs else lookupMs) += s * 1e3
    }
    lastReads = ops
  }

  /** Output checks on a crawl store. Every episode of a run crawls the
    * same inputs, so its digests must repeat; for the seeds recorded in
    * perfbench/digests.json they must also equal the recorded ones.
    */
  def checkStore(store: SnapshotStore): Unit = {
    val digestKey = s"discover.$seed"
    val log = store.read("crawl_log").select("seq", "round", "url", "priority")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    res.check(log.indices.forall(i => log(i)._1 == i + 1),
      s"$digestKey: crawl_log.seq is not dense from 1")
    res.check(log.indices.drop(1).forall(i => log(i - 1)._2 <= log(i)._2),
      s"$digestKey: crawl_log rounds out of seq order")
    // within a round, seq follows (priority DESC, enqueue_seq, url) of the
    // frontier the round scheduled from
    log.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (round, rows) =>
      val eseq = store.readAt("frontier", round - 1).select("url", "enqueue_seq")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val keys = rows.sortBy(_._1).map(r => (-r._4, eseq.getOrElse(r._3, Long.MinValue), r._3))
      res.check(rows.forall(r => eseq.contains(r._3)),
        s"$digestKey: round $round logged a URL absent from its frontier")
      res.check(keys.indices.drop(1).forall(i =>
        Ordering[(Int, Long, String)].lteq(keys(i - 1), keys(i))),
        s"$digestKey: round $round crawl order is not (priority DESC, enqueue_seq, url)")
    }
    val seen = store.read("seen")
    val sr = seen.agg(count(lit(1)), countDistinct("fingerprint")).collect()(0)
    res.check(sr.getLong(0) == sr.getLong(1), s"$digestKey: seen fingerprints not unique")
    val badFp = seen.select("fingerprint", "url").as[(String, String)]
      .filter(t => Urls.fingerprint(t._2) != t._1).count()
    res.check(badFp == 0, s"$digestKey: $badFp seen fingerprints differ from Urls.fingerprint(url)")
    val sched = store.read("metrics").agg(sum("scheduled")).collect()(0)
    res.check(!sched.isNullAt(0) && sched.getLong(0) == log.length,
      s"$digestKey: sum(metrics.scheduled) != crawl_log rows (${log.length})")
    Seq("crawl_log", "seen", "domains").foreach { t =>
      val d = Sink.checksum(store.read(t))
      val key = s"$digestKey.$t"
      observed.get(key).foreach(prev =>
        res.check(prev == d, s"$key: digest differs between episodes of one seed"))
      observed(key) = d
      recorded.get(key).foreach(want =>
        res.check(want == d, s"$key: digest $d != recorded $want"))
    }
  }

  /** Recomputes a sample of the last batch's reads by a plain scan. */
  private def checkReads(store: SnapshotStore): Unit =
    lastReads.groupBy(_.kind).values.map(_.head).foreach { op =>
      val got = Reads.answer(op, Reads.plan(store, op).collect().toSeq)
      val want = Reads.recompute(store, op)
      res.check(got == want, s"read $op: engine ${got.take(3)} != scan ${want.take(3)}")
    }

  private def deleteTree(store: SnapshotStore): Unit =
    Main.deleteTree(java.nio.file.Paths.get(store.rootDir))

  /** One episode; returns its store (not yet deleted). */
  private def episode(): SnapshotStore = {
    storeN += 1
    val ((store, loop), setupS) = Proc.timeS {
      val store = new SnapshotStore(work.resolve(s"store-$storeN").toString, spark)
      val loop = new CrawlLoop(store, cfg)(spark)
      loop.init(inputs.seedUrls, inputs.robots.toDS())
      loop.run(inputs.corpus, inputs.deaths, 1)
      (store, loop)
    }
    setups += setupS
    Log(f"episode $storeN set up in $setupS%.2f s")
    val before = processed(store)
    val startSnap = store.latestSnapshot.get
    val cpu0 = Proc.cpuS()
    val runMs = System.currentTimeMillis()
    val (_, wall) = Proc.timeS {
      tracer.span("crawl.loop_run") { loop.run(inputs.corpus, inputs.deaths, scale.timedRounds) }
    }
    timedCpu += Proc.cpuS() - cpu0
    timedWall += wall
    // per-round commit latency, from each snapshot manifest's commit time
    val endSnap = store.latestSnapshot.get
    (startSnap + 1 to endSnap).foreach { r =>
      res.op()
      val prev = if (r == startSnap + 1) runMs else manifestMs(store, r - 1)
      roundS += (manifestMs(store, r) - prev) / 1e3
    }
    res.check(endSnap - startSnap == scale.timedRounds,
      s"discover ran ${endSnap - startSnap} of ${scale.timedRounds} rounds (frontier drained)")
    urls += processed(store) - before
    Log(f"episode $storeN: ${endSnap - startSnap} rounds in $wall%.2f s")
    readBatch(store)
    liveHeap = math.max(liveHeap, Proc.liveHeapMb())
    store
  }

  /** Untraced: episodes until the timed rounds used `seconds`. Traced:
    * one traced episode, then the layers alone.
    */
  def run(seconds: Double, traced: Boolean): Unit = {
    inputs
    Log(f"inputs built in $inputS%.2f s: ${scale.hosts} hosts, $docs docs, " +
      s"${inputs.seedUrls.length} start URLs")
    var last: SnapshotStore = null
    while (last == null || (!traced && timedWall < seconds)) {
      if (last != null) deleteTree(last)
      tracer.enabled = traced
      last = episode()
      tracer.enabled = false
      checkStore(last)
      Log("episode checked")
    }
    checkReads(last)
    Log("reads checked")
    if (traced) aloneProbes(last)
    deleteTree(last)
  }

  /** The end-to-end metrics of this workload. */
  def report(sessionS: Double): Unit = {
    val reads = searchMs ++ lookupMs
    res.put("setup_s", sessionS + inputS + Stats.median(setups.toSeq), "s")
    res.put("items_per_s", urls / timedWall, "item/s")
    res.put("cpu_ms_per_item", timedCpu * 1e3 / urls, "ms")
    res.put("op_s.p50", Stats.median(roundS.toSeq), "s")
    res.put("op_s.max", roundS.max, "s")
    res.put("search_ms.p50", Stats.median(searchMs.toSeq), "ms")
    res.put("lookup_ms.p50", Stats.median(lookupMs.toSeq), "ms")
    res.put("mem.live_heap_mb", liveHeap, "MB")
    Log(f"discover: ${roundS.length} rounds, $urls URLs in $timedWall%.2f s, " +
      f"${reads.length} reads (p50 ${Stats.median(reads.toSeq)}%.1f ms)")
  }

  /** Per-layer metrics from the traced episode and the alone probes. */
  def reportLayers(): Unit = {
    // every span read here is opened by a passing run; one that never
    // opened fails the run instead of reading as 0
    val checked = mutable.Set.empty[String]
    def named(n: String) = {
      val ss = tracer.named(n)
      if (checked.add(n)) res.check(ss.nonEmpty, s"traced span $n never opened")
      ss
    }
    def wall(n: String) = named(n).map(_.wallS).sum
    def sums(n: String) = tracer.sums(tracer.jobsUnder(named(n)))
    val loopSpans = named("crawl.loop_run")
    val loopJobs = tracer.jobsUnder(loopSpans)
    val rounds = math.max(1, loopSpans.length * scale.timedRounds)
    def bySite(f: String) = loopJobs.filter(_.site == f)
    // Round.scala submits no job of its own: its lazy DAG runs inside the
    // snapshot writes, so it shows under `store`
    Seq("Robots.scala" -> "robots", "GoldenSeq.scala" -> "goldenseq", "SeenSet.scala" -> "seenset",
      "SnapshotStore.scala" -> "store", "Loop.scala" -> "loop").foreach { case (f, k) =>
      res.put(s"crawl.inloop.${k}_cpu_s", tracer.sums(bySite(f)).cpuS / rounds, "s")
    }
    val loopWall = loopSpans.map(_.wallS).sum
    val busy = loopSpans.map(s => tracer.busyS(s, loopJobs)).sum
    res.put("crawl.jobs_per_round", loopJobs.length.toDouble / rounds, "count")
    res.put("crawl.stages_per_round", loopJobs.map(_.stages).sum.toDouble / rounds, "count")
    res.put("crawl.driver_only_s", (loopWall - busy) / rounds, "s")
    val storeJobs = bySite("SnapshotStore.scala")
    val ws = tracer.sums(storeJobs)
    res.put("store.write_s", loopSpans.map(s => tracer.busyS(s, storeJobs)).sum / rounds, "s")
    res.put("store.write_cpu_s", ws.cpuS / rounds, "s")
    res.put("store.write_bytes", ws.bytesOut.toDouble / rounds, "B")
    res.put("store.write_rows", ws.recordsOut.toDouble / rounds, "count")
    readTimer.overheadRatio.foreach(res.put("trace.overhead_ratio", _, "ratio"))
    // executor CPU of the timed rounds that a call-site file names
    val all = tracer.sums(loopJobs).cpuNs
    res.put("trace.attributed_cpu_ratio",
      tracer.sums(loopJobs.filterNot(_.site.startsWith("other"))).cpuNs.toDouble /
        math.max(1L, all), "ratio")
    loopJobs.groupBy(_.site).toSeq.map { case (k, js) => (k, tracer.sums(js).cpuS) }
      .sortBy(-_._2).take(8).foreach { case (k, c) => Log(f"in-loop site $k%-60s $c%.2f cpu-s") }

    res.put("frontier.gate_s", wall("frontier.gate"), "s")
    res.put("frontier.gate_cpu_s", sums("frontier.gate").cpuS, "s")
    res.put("frontier.schedule_s", wall("frontier.schedule"), "s")
    res.put("frontier.schedule_cpu_s", sums("frontier.schedule").cpuS, "s")
    res.put("frontier.schedule_skew", sums("frontier.schedule").skew, "ratio")
    val rr = named("crawl.round_run")
    val rrJobs = tracer.jobsUnder(rr)
    res.put("crawl.plan_s", rr.map(s => s.wallS - tracer.busyS(s, rrJobs)).sum, "s")
    res.put("crawl.stats_s",
      rr.map(s => tracer.busyS(s, rrJobs.filter(_.site == "GoldenSeq.scala"))).sum, "s")
    res.put("crawl.fetch_s", wall("crawl.fetch"), "s")
    res.put("crawl.fetch_cpu_s", sums("crawl.fetch").cpuS, "s")
    res.put("crawl.fetch_shuffle_bytes", sums("crawl.fetch").shuffleBytes.toDouble, "B")
    res.put("extract.in_round_cpu_s", sums("extract.in_round").cpuS, "s")
    res.put("url.in_round_cpu_s", sums("url.in_round").cpuS, "s")
    res.put("dedup.filter_s", wall("dedup.filter"), "s")
    res.put("dedup.filter_cpu_s", sums("dedup.filter").cpuS, "s")
    res.put("dedup.filter_shuffle_bytes", sums("dedup.filter").shuffleBytes.toDouble, "B")
    res.put("dedup.fold_s", wall("dedup.fold"), "s")
    res.put("dedup.rebuild_s", wall("dedup.rebuild"), "s")
    Seq("seen", "pages_fts", "pages").foreach(t =>
      res.put(s"store.compact_s.$t", wall(s"store.compact.$t"), "s"))
    res.put("store.compact_bytes_rewritten", Seq("seen", "pages_fts", "pages")
      .map(t => sums(s"store.compact.$t").bytesOut).sum.toDouble, "B")
  }

  /** Drives each crawl layer alone on inputs materialized from the
    * workload's own last committed snapshot. Metrics of spans are read
    * after the tracer finishes; direct measurements are put here.
    */
  private def aloneProbes(store: SnapshotStore): Unit = {
    // the session settings CrawlLoop.run applies for its own duration, so
    // the layers plan alone as they do in the loop
    val loopConf = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.maxPlanStringLength" -> "2048", "spark.sql.broadcastTimeout" -> "3600")
    val saved = loopConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    loopConf.foreach { case (k, v) => spark.conf.set(k, v) }
    tracer.enabled = true
    try aloneProbesTraced(store)
    finally {
      tracer.enabled = false
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  private def aloneProbesTraced(store: SnapshotStore): Unit = {
    implicit val s: SparkSession = spark
    val snap = store.latestSnapshot.get
    val corpus = inputs.corpus
    // per-run resume work CrawlLoop.run repeats on every call
    val (resumed, resumeS) = Proc.timeS {
      tracer.span("crawl.resume") {
        val seenSet = new SeenSet(cfg, store.rootDir, store.latestSnapshot)
        val gate = graft.frontier.Robots.prepare(store.read("robots_rules").as[RobotsRule], cfg)
        val corpusHosts = corpus
          .select(graft.functions.UrlExpressions.url_host(col("doc_id")).as("host"))
          .distinct().persist()
        corpusHosts.count()
        val seqBase = store.read("crawl_log").count()
        (seenSet, gate, corpusHosts, seqBase)
      }
    }
    res.put("crawl.resume_s", resumeS, "s")
    val (seenSet, gate, corpusHosts, seqBase) = resumed

    // url and extract: the pages the last round fetched
    val fetchedUrls = store.read("crawl_log").filter(col("round") === snap)
      .select(col("url").as("doc_id"))
    UrlExtractProbe.run(corpus.join(fetchedUrls, "doc_id").orderBy("doc_id").limit(2000)
      .as[graft.model.Doc].collect().toSeq, res)

    // frontier: the robots gate and the politeness schedule, each forced alone
    val frontier = store.read("frontier")
    val domains = store.read("domains")
    val eligible = frontier
      .join(domains.select("host", "dead_in_a_row", "is_crap", "pages_crawled"), Seq("host"), "left")
      .filter(coalesce(col("is_crap"), lit(false)) === false)
      .filter(coalesce(col("dead_in_a_row"), lit(0)) < cfg.deadRetireThreshold)
      .drop("dead_in_a_row", "is_crap")
      .persist()
    val nEligible = eligible.count()
    val gated = tracer.span("frontier.gate") {
      val g = graft.frontier.Robots.prepare(store.read("robots_rules").as[RobotsRule], cfg)
        .apply(eligible).persist()
      Sink.noop(g)
      g
    }
    val allowed = gated.filter(col("robots_allowed"))
    val nAllowed = allowed.count()
    res.put("frontier.denied_ratio", 1.0 - nAllowed.toDouble / math.max(1L, nEligible), "ratio")
    val sched = tracer.span("frontier.schedule") {
      val p = graft.frontier.Politeness.schedule(allowed, cfg).persist()
      Sink.noop(p)
      p
    }
    res.put("frontier.kept_ratio", sched.count().toDouble / math.max(1L, nAllowed), "ratio")
    Seq(eligible, gated, sched).foreach(_.unpersist())

    // crawl: Round.run, then its checkpointed stages forced in pipeline order
    val in = RoundInputs(
      frontier = frontier, seen = store.read("seen"), domains = domains,
      pages = store.read("pages"), corpus = corpus, corpusHosts = corpusHosts,
      robots = gate, hostDeaths = inputs.deaths,
      seenPruner = store.prefixInfo("seen").map { case (_, len) =>
        SeenSet.Pruner(len, pfx => store.readPrefixPruned("seen", pfx).get)
      })
    val out = tracer.span("crawl.round_run") {
      Round.run(in, cfg, snap + 1, seqBase, seenSet, schedHint = 1L << 16)
    }
    // Round.run's checkpoint order: gated, sched0, scheduled, joined,
    // parsed, misses, bestPerFp, fresh0, ...; confirmed by schema before
    // labelling. A changed order fails the run: its stage metrics would
    // otherwise come out unmeasured.
    val stages = out.cached
    def has(i: Int, cols: String*) = stages.length > i && cols.forall(stages(i).columns.contains)
    val layout = has(2, "url", "_pid") && has(3, "spans", "alive") && has(4, "links") &&
      has(6, "fingerprint", "discovered_from") && has(7, "fingerprint")
    res.check(layout, "Round.run checkpoint layout changed; its stages cannot be labelled " +
      s"(${stages.map(_.columns.mkString("[", ",", "]")).mkString(" ")})")
    val label = Map(3 -> "crawl.fetch", 4 -> "extract.in_round", 6 -> "url.in_round",
      7 -> "dedup.filter")
    stages.zipWithIndex.foreach { case (df, i) =>
      label.get(i).filter(_ => layout) match {
        case Some(name) => tracer.span(name)(Sink.noop(df))
        case None => Sink.noop(df)
      }
    }
    if (layout) {
      val fetched = stages(4).count()
      val st = GoldenSeq.stats(stages(2), 1L << 16)
      val bc = spark.sparkContext.broadcast(st.urlBloom)
      val passed = corpus.filter(graft.functions.BloomProbe.mightContain(bc, col("doc_id"))).count()
      res.put("crawl.fetch_corpus_pass_ratio", passed.toDouble / math.max(1L, fetched), "ratio")
      // the prefilter funnel, against a Bloom built the engine's way from
      // the committed seen table
      val seenFps = store.read("seen").select("fingerprint").as[String].collect()
      val bloom = FastBloom.create(cfg.bloomExpectedItems, cfg.bloomFpp)
      seenFps.foreach(bloom.putString)
      val seenSetLocal = seenFps.toSet
      val cands = stages(6).select("fingerprint").as[String].collect()
      val pass = cands.count(bloom.mightContainString)
      val novel = cands.filterNot(seenSetLocal.contains)
      val fp = novel.count(bloom.mightContainString)
      res.put("dedup.bloom_pass_ratio", pass.toDouble / math.max(1, cands.length), "ratio")
      res.put("dedup.bloom_fp_ratio", fp.toDouble / math.max(1, novel.length), "ratio")
      res.put("dedup.fresh_ratio", stages(7).count().toDouble / math.max(1, cands.length), "ratio")
    }
    tracer.span("dedup.fold") { seenSet.update(out.seenDelta, snap + 1) }
    res.put("dedup.sidecar_bytes",
      Files.size(java.nio.file.Paths.get(store.rootDir, "seen.bloom")).toDouble, "B")
    tracer.span("dedup.rebuild") {
      new SeenSet(cfg, work.resolve("rebuild-scratch").toString, None)
        .rebuildFrom(store.read("seen"))
    }

    // store: the round's outputs written and committed into a scratch store
    val scratch = new SnapshotStore(work.resolve("write-scratch").toString, spark)
    val entries =
      scratch.writeData(1,
        overwrite = Map("frontier" -> out.frontierNext, "domains" -> out.domains),
        append = Map("seen" -> out.seenDelta, "pages" -> out.pagesDelta,
          "pages_fts" -> out.ftsDelta, "links" -> out.linksDelta,
          "media_refs" -> out.mediaDelta, "emails" -> out.emailsDelta,
          "btc_addresses" -> out.btcDelta, "ssh_fps" -> out.sshFpsDelta,
          "open_ports" -> out.portsDelta, "crawl_log" -> out.crawlLogDelta,
          "metrics" -> out.metricsDelta),
        rowHeavy = SnapshotStore.RowHeavyTables, solo = SnapshotStore.SoloTables)
    val (_, commitS) = Proc.timeS(scratch.commitManifest(1, entries))
    res.put("store.commit_s", commitS, "s")
    res.put("store.write_files", Files.walk(java.nio.file.Paths.get(scratch.rootDir)).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).count().toDouble, "count")
    out.cached.foreach(_.unpersist())
    corpusHosts.unpersist()

    // reads: planning time and rows scanned per returned row
    val perRead = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = perRead.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val readOps = lastReads.groupBy(_.isSearch).values.flatMap(_.take(2)).toSeq
    readOps.foreach { op =>
      val kind = if (op.isSearch) "search" else "lookup"
      val df = Reads.plan(store, op)
      val (_, planS) = Proc.timeS(df.queryExecution.executedPlan)
      add(s"analytics.${kind}_plan_ms", planS * 1e3)
      val rows = df.collect().length
      val scans = PlanScans.fileScans(df.queryExecution.executedPlan)
      val scanned = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      val files = scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      add(s"analytics.${kind}_rows_read_per_row", scanned.toDouble / math.max(1, rows))
      add("store.read_files_per_op", files.toDouble)
    }
    perRead.foreach { case (k, xs) =>
      res.put(k, xs.sum / xs.length, if (k.endsWith("_ms")) "ms" else "count")
    }

    val live = Seq("seen", "pages", "pages_fts", "links", "domains", "frontier", "crawl_log",
      "media_refs", "emails", "btc_addresses", "ssh_fps", "open_ports", "metrics")
      .flatMap(t => store.read(t).inputFiles)
      .map(f => Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    res.put("store.live_bytes", live.toDouble, "B")
    res.put("store.bytes_per_url", live.toDouble / math.max(1L, store.read("seen").count()), "B")

    // store: the loop's compaction calls, alone, on the committed store
    Seq("seen", "pages_fts", "pages").foreach { t =>
      tracer.span(s"store.compact.$t") {
        t match {
          case "seen" => store.compact(snap, "seen", Seq("fingerprint"), buckets = cfg.saltBuckets,
            hashPrefix = Some(("fingerprint", cfg.seenPrefixLen)))
          case "pages_fts" => store.compact(snap, "pages_fts", Seq("term", "url"),
            buckets = cfg.saltBuckets,
            rewrite = Some(df => df.groupBy(col("term"), col("url"), col("host"))
              .agg(max(col("in_title")).as("in_title"), max(col("round")).as("round"))))
          case _ => store.compact(snap, "pages", Seq("host", "url"), buckets = cfg.saltBuckets)
        }
      }
    }
  }
}

/** File scans of an executed plan, looking inside adaptive query stages. */
object PlanScans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    collectWithSubqueries(p) { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
}
