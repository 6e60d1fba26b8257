package graft.crawl

import graft.SparkTestSession
import graft.fixtures.SyntheticCorpus
import graft.model._
import graft.store.SnapshotStore
import graft.url.Urls
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.{DataFrame, GraftExtTestBridge, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden-replay + property tests for the crawl loop (SURVEY.md §7 t2 +
  * the partitioning-independence property that catches shuffle/order bugs).
  */
class CrawlSpec extends AnyFunSuite {

  implicit val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val nHosts = 20
  val seeds: Seq[String] = SyntheticCorpus.seedsLocal(nHosts, 5)
  val cfg: CrawlConfig = CrawlConfig(
    maxDepth = 3, maxPagesPerDomain = 10, roundWindowSec = 60.0,
    defaultCrawlDelaySec = 10.0, deadRetireThreshold = 3,
    recrawlIntervalRounds = 2, saltBuckets = 4, bloomExpectedItems = 100000L,
    compactEveryRounds = 2)

  def corpusDF: DataFrame = SyntheticCorpus.docsLocal(nHosts).toDS().toDF()
  def robotsDS = SyntheticCorpus.robotsLocal(nHosts).toDS()
  def deathsDF: DataFrame =
    SyntheticCorpus.hostDeathsLocal(nHosts).toDF("host", "dead_from_round")

  def runCrawl(rounds: Int, partitions: Int, c: CrawlConfig = cfg): SnapshotStore = {
    val dir = Files.createTempDirectory("crawl").toString
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    val store = new SnapshotStore(dir, spark)
    val loop = new CrawlLoop(store, c)
    loop.init(seeds, robotsDS)
    loop.run(corpusDF, deathsDF, rounds)
    store
  }

  private def logSeq(store: SnapshotStore): Seq[(Long, Int, String)] =
    store.read("crawl_log").select("seq", "round", "url")
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq

  private def seenFps(store: SnapshotStore): Set[String] =
    store.read("seen").select("fingerprint").as[String].collect().toSet

  lazy val mainStore: SnapshotStore = runCrawl(rounds = 6, partitions = 4)

  test("crawl runs 6 rounds; log non-empty with strictly increasing dense seq") {
    val log = logSeq(mainStore)
    assert(log.nonEmpty)
    assert(log.map(_._1) == (1L to log.length.toLong))
    assert(log.map(_._2).distinct.sorted == log.map(_._2).distinct)
  }

  test("politeness budget never exceeded per (round, host)") {
    // upper bound: the most permissive delay any rule (or the default)
    // grants the host
    val maxBudget = SyntheticCorpus.robotsLocal(nHosts)
      .groupBy(_.host)
      .map { case (h, rs) =>
        h -> (rs.map(r => cfg.budget(r.crawl_delay)) :+
          cfg.budget(cfg.defaultCrawlDelaySec)).max
      }
    val perRoundHost = mainStore.read("crawl_log")
      .groupBy("round", "host").agg(count("*").as("n"))
      .as[(Int, String, Long)].collect()
    perRoundHost.foreach { case (_, host, n) =>
      val budget = maxBudget.getOrElse(host, cfg.budget(cfg.defaultCrawlDelaySec))
      assert(n <= budget, s"host $host scheduled $n > budget $budget")
    }
  }

  test("robots-denied URL is never crawled") {
    val denied = Urls.canonicalize(s"http://${SyntheticCorpus.hostName(5)}/private/area")
    assert(mainStore.read("crawl_log").filter(col("url") === denied).isEmpty)
    // but it WAS consumed: not sitting in the frontier either
    assert(mainStore.read("frontier").filter(col("url") === denied).isEmpty)
  }

  test("new-priority URLs are crawled at most once (seen-set exactness)") {
    val dups = mainStore.read("crawl_log")
      .filter(col("priority") === Priorities.NewOnion)
      .groupBy("url").agg(count("*").as("n")).filter(col("n") > 1)
    assert(dups.isEmpty)
  }

  test("every crawled URL is in the seen set; seen fingerprints are unique") {
    val seen = seenFps(mainStore)
    val crawled = mainStore.read("crawl_log").select("url").as[String].collect()
    crawled.foreach(u => assert(seen.contains(Urls.fingerprint(u))))
    val total = mainStore.read("seen").count()
    assert(total == seen.size, "duplicate fingerprints in seen table")
  }

  test("ghost host goes dead, is retried then retired; death-schedule host transitions") {
    val domains = mainStore.read("domains")
    val ghost = SyntheticCorpus.hostName(
      (0L until nHosts.toLong).find(SyntheticCorpus.isGhost).get)
    val g = domains.filter(col("host") === ghost)
      .select("is_up", "dead_in_a_row").as[(Boolean, Int)].collect()
    assert(g.length == 1 && !g(0)._1 && g(0)._2 >= 1)
    // host 3 dies from round 2: if it was crawled alive in round 1 it must
    // now be down with last_alive_round == 1
    val h3 = SyntheticCorpus.hostName(3)
    val d3 = domains.filter(col("host") === h3)
      .select("is_up", "last_alive_round").as[(Boolean, Int)].collect()
    if (d3.nonEmpty && d3(0)._2 >= 1) assert(!d3(0)._1)
  }

  test("clone detection: identical front-page content ⇒ one genuine, rest fake") {
    val domains = mainStore.read("domains")
    val fakes = domains.filter(col("is_fake"))
      .select("host", "genuine_host").as[(String, String)].collect()
    val pages = mainStore.read("pages").filter(col("is_frontpage"))
    val groups = pages.filter(col("content_sha1").isNotNull)
      .groupBy("content_sha1").agg(countDistinct("host").as("n"))
      .filter(col("n") > 1).count()
    // POSITIVE coverage: the fixture's mirror pair (8 cloning-source of 9)
    // must form a real identical-content group by round 6
    assert(groups > 0, "fixture clone pair never formed an identical-content group")
    assert(fakes.nonEmpty, "clone groups exist but nothing marked fake")
    fakes.foreach { case (h, g) => assert(h != g && g.nonEmpty) }
    val fakeSet = fakes.map(_._1).toSet
    fakes.foreach { case (_, g) => assert(!fakeSet.contains(g), "genuine marked fake") }
  }

  test("subdomain bomb (F6 positive case): base marked crap, subdomains never scheduled") {
    val bombBase = SyntheticCorpus.hostName(SyntheticCorpus.BombHost)
    val d = mainStore.read("domains").filter(col("host") === bombBase)
      .select("is_crap").as[Boolean].collect()
    assert(d.length == 1 && d(0), s"bomb base $bombBase not marked crap")
    assert(mainStore.read("crawl_log")
      .filter(col("host").endsWith("." + bombBase)).isEmpty,
      "a bomb subdomain was scheduled")
    assert(mainStore.read("frontier")
      .filter(col("host").endsWith("." + bombBase)).isEmpty,
      "a bomb subdomain is still enqueued")
    // the base is retired: nothing scheduled for it after the bomb round
    val bombRound = mainStore.read("crawl_log")
      .filter(col("host") === bombBase && col("url").contains("/p1"))
      .select("round").as[Int].collect()
    if (bombRound.nonEmpty)
      assert(mainStore.read("crawl_log")
        .filter(col("host") === bombBase && col("round") > bombRound.max)
        .isEmpty, "crap base scheduled again after the bomb round")
  }

  test("ssh host keys extracted; fakes share their genuine host's key (A6 tie-in)") {
    val fps = mainStore.read("ssh_fps")
    assert(fps.count() > 0, "no ssh fingerprints extracted")
    val ports = mainStore.read("open_ports")
    assert(ports.filter(col("value") === "22").count() > 0, "no port facts")
    // every flagged fake must share a key with its genuine host — both
    // front pages were necessarily fetched for the content grouping
    val fakes = mainStore.read("domains").filter(col("is_fake"))
      .select("host", "genuine_host").as[(String, String)].collect()
    fakes.foreach { case (h, g) =>
      val fh = fps.filter(col("host") === h).select("value").as[String].collect().toSet
      val fg = fps.filter(col("host") === g).select("value").as[String].collect().toSet
      assert((fh intersect fg).nonEmpty, s"fake $h shares no ssh key with genuine $g")
    }
    // the shared-infrastructure lookup surfaces exactly multi-host keys
    val shared = graft.analytics.Lookups
      .sharedInfrastructure(fps, mainStore.read("domains")).collect()
    shared.groupBy(_.getString(1)).foreach { case (_, rows) => assert(rows.nonEmpty) }
    val perFp = shared.groupBy(_.getString(0))
    perFp.values.foreach(g => assert(g.length >= 2, "singleton fp in shared lookup"))
  }

  test("recrawl tier fires after the interval (priority 1 entries in late rounds)") {
    val recrawls = mainStore.read("crawl_log")
      .filter(col("priority") === Priorities.Recrawl).count()
    assert(recrawls > 0, "expected recrawl-tier fetches by round 6")
  }

  test("metrics carry per-partition lineage for every round") {
    val m = mainStore.read("metrics")
    assert(m.filter(col("scheduled") > 0).count() > 0)
    assert(m.select("round").distinct.count() == 6)
  }

  test("PARTITIONING INDEPENDENCE: identical crawl order + seen set under different shuffle partitions and salt") {
    val alt = runCrawl(rounds = 6, partitions = 7, c = cfg.copy(saltBuckets = 1))
    assert(logSeq(alt) == logSeq(mainStore))
    assert(seenFps(alt) == seenFps(mainStore))
    val d1 = mainStore.read("domains").orderBy("host").collect().toSeq
    val d2 = alt.read("domains").orderBy("host").collect().toSeq
    assert(d1 == d2)
  }

  test("SHARDED seen filter (4 shards, co-partitioned probes) ≡ single filter, byte-exact") {
    val sharded = runCrawl(rounds = 6, partitions = 4, c = cfg.copy(seenShardBits = 2))
    assert(logSeq(sharded) == logSeq(mainStore))
    assert(seenFps(sharded) == seenFps(mainStore))
    val d1 = mainStore.read("domains").orderBy("host").collect().toSeq
    val d2 = sharded.read("domains").orderBy("host").collect().toSeq
    assert(d1 == d2)
  }

  test("STREAMING twin (foreachBatch + Trigger.AvailableNow, round = micro-batch) ≡ batch loop, byte-exact") {
    val dir = Files.createTempDirectory("crawl-streaming").toString
    val store = new SnapshotStore(dir, spark)
    new CrawlLoop(store, cfg).init(seeds, robotsDS)
    val executed = StreamingCrawl.run(store, cfg, corpusDF, deathsDF, rounds = 6)
    assert(executed == 6)
    assert(store.latestSnapshot.exists(_ >= 6))
    assert(logSeq(store) == logSeq(mainStore))
    assert(seenFps(store) == seenFps(mainStore))
    val dom = store.read("domains").orderBy("host").collect().toSeq
    val domBatch = mainStore.read("domains").orderBy("host").collect().toSeq
    assert(dom == domBatch)
  }

  test("STREAMING twin: second run over the same workDir continues (checkpointed ticks), still ≡ batch") {
    val dir = Files.createTempDirectory("crawl-streaming2").toString
    val store = new SnapshotStore(dir, spark)
    new CrawlLoop(store, cfg).init(seeds, robotsDS)
    val work = Files.createTempDirectory("crawl-stream-work").toString
    assert(StreamingCrawl.run(store, cfg, corpusDF, deathsDF, rounds = 3,
      workDir = Some(work)) == 3)
    // same workDir: the stream checkpoint remembers processed ticks, the
    // new tick files continue the crawl — 3 more rounds, not a replay
    assert(StreamingCrawl.run(store, cfg, corpusDF, deathsDF, rounds = 3,
      workDir = Some(work)) == 3)
    assert(store.latestSnapshot.contains(6))
    assert(logSeq(store) == logSeq(mainStore))
    assert(seenFps(store) == seenFps(mainStore))
  }

  test("prefix-partitioned seen: pruned read is exact and reads less than the full table") {
    // mainStore ran 6 rounds at cadence 2 → last compaction at round 6
    // wrote the prefix-partitioned base with no trailing deltas
    assert(mainStore.prefixInfo("seen").contains(("fingerprint", 2)))
    val full = seenFps(mainStore)
    val prefixes = full.map(_.take(2))
    assert(prefixes.size > 1, "fixture too small to exercise pruning")
    val probe = prefixes.toSeq.sorted.take(math.max(1, prefixes.size / 4))
    val pruned = mainStore.readPrefixPruned("seen", probe).get
      .select("fingerprint").as[String].collect().toSet
    // exact: every row with a probed prefix is present…
    assert(full.filter(f => probe.contains(f.take(2))).subsetOf(pruned))
    // …nothing outside the table sneaks in…
    assert(pruned.subsetOf(full))
    // …and the base really was pruned (fewer rows read than the table)
    assert(pruned.size < full.size)
    // schema identical to the logical table (partition column dropped)
    assert(mainStore.readPrefixPruned("seen", probe).get.schema ==
      mainStore.read("seen").schema)
  }

  test("prefix-pruned anti-join crawl ≡ prefixless crawl, byte-exact") {
    val a = runCrawl(6, 4, cfg) // seenPrefixLen = 2 (default)
    val b = runCrawl(6, 4, cfg.copy(seenPrefixLen = 0))
    assert(logSeq(a) == logSeq(b))
    assert(seenFps(a) == seenFps(b))
  }

  test("media_refs table: fetched pages' media spans land span-ordered, exactly the corpus's") {
    import org.apache.spark.sql.Row
    // per (url, round) observation, the pos-ordered refs must equal the
    // corpus document's media spans in span order (recrawls re-observe)
    val media = mainStore.read("media_refs")
      .select("url", "round", "media_ref", "pos").collect()
      .groupBy(r => (r.getString(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(3)).map(_.getString(2)).toSeq }
    assert(media.nonEmpty, "no media refs recorded")
    val corpus = SyntheticCorpus.docsLocal(nHosts)
      .map(d => d.doc_id -> d.spans.filter(s => s.kind == "media" && s.media_ref != null)
        .map(_.media_ref)).toMap
    media.foreach { case ((u, _), got) =>
      val want = corpus.getOrElse(u, Seq.empty)
      assert(got == want, s"span order broken for $u: got=$got want=$want")
    }
  }

  test("retention TTL: expired page rows vanish at compaction; crawl continues") {
    val store = runCrawl(rounds = 6, partitions = 4,
      c = cfg.copy(pageTtlRounds = 2, compactEveryRounds = 2))
    val pages = store.read("pages")
    val maxRound = pages.agg(max("visited_round")).as[Int].collect()(0)
    // last compaction at round 6 kept only visited_round > 6 - 2
    val old = pages.filter(col("visited_round") <= maxRound - 2).count()
    assert(old == 0, s"$old expired page rows survived the TTL rewrite")
    assert(pages.count() > 0)
    // prior snapshots still see the full history (Iceberg-style rewrite)
    val before = store.readAt("pages", 3).filter(col("visited_round") <= 1).count()
    assert(before > 0, "time travel lost pre-TTL rows")
  }

  test("search pagination plans as top-k (TakeOrderedAndProject), pages disjoint") {
    val idx = graft.analytics.Search.buildIndex(
      mainStore.read("pages"), corpusDF)
    val q1 = graft.analytics.Search.query(idx, "hidden market directory", page = 0, pageSize = 5)
    val plan = q1.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"pagination not top-k:\n$plan")
    val p0 = q1.select("url").as[String].collect().toSeq
    val p1 = graft.analytics.Search.query(idx, "hidden market directory", page = 1, pageSize = 5)
      .select("url").as[String].collect().toSeq
    assert(p0.toSet.intersect(p1.toSet).isEmpty)
    assert(p0.size <= 5 && p1.size <= 5)
  }

  test("RESUME: 3 rounds + stop + resume 3 ≡ straight 6 rounds (politeness rules restored from the snapshot, not re-supplied)") {
    val dir = Files.createTempDirectory("crawl-resume").toString
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new SnapshotStore(dir, spark)
    val loop1 = new CrawlLoop(store, cfg)
    loop1.init(seeds, robotsDS)
    loop1.run(corpusDF, deathsDF, 3)
    // fresh loop instance = process restart; state only via snapshots —
    // INCLUDING robots_rules: the resumed run passes no override, so any
    // gap in the committed rule set would diverge from mainStore here
    val store2 = new SnapshotStore(dir, spark)
    new CrawlLoop(store2, cfg).run(corpusDF, deathsDF, 3)
    assert(logSeq(store2) == logSeq(mainStore))
    assert(seenFps(store2) == seenFps(mainStore))
    val d1 = mainStore.read("domains").orderBy("host").collect().toSeq
    val d2 = store2.read("domains").orderBy("host").collect().toSeq
    assert(d1 == d2)
    // the committed rules ARE the supplied rules
    val committedRules = store2.read("robots_rules")
      .as[RobotsRule].collect().toSet
    assert(committedRules == SyntheticCorpus.robotsLocal(nHosts).toSet)
  }

  test("FAILED ROUND: a write that throws leaves no sidecar, job or waiting thread; resume ≡ straight 6 rounds") {
    val dir = Files.createTempDirectory("crawl-failed").toString
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new SnapshotStore(dir, spark)
    val loop = new CrawlLoop(store, cfg)
    loop.init(seeds, robotsDS)
    // round 3's wide-tables union (frontier/domains/metrics, the first
    // write submitted) fails at job set-up while its row-heavy write —
    // the one carrying the seen delta — and the FTS write still run
    val protocolKey = "spark.sql.sources.commitProtocolClass"
    val savedProtocol = spark.conf.getOption(protocolKey)
    spark.conf.set(protocolKey, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.failing = Some("combined/delta-000003")
    val e =
      try intercept[Exception](loop.run(corpusDF, deathsDF, 6))
      finally {
        FailingCommitProtocol.failing = None
        savedProtocol.fold(spark.conf.unset(protocolKey))(spark.conf.set(protocolKey, _))
      }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected write failure")), e)

    val waiting = Thread.getAllStackTraces.asScala.collect {
      case (t, frames) if frames.exists(f =>
          f.getClassName == classOf[Observation].getName && f.getMethodName == "get") =>
        t.getName
    }
    assert(waiting.isEmpty, s"threads left waiting on an observation: $waiting")
    GraftExtTestBridge.drainListenerBus(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a write job outlived the failed round")
    assert(store.latestSnapshot.contains(2))
    // sidecar header: magic, then the snapshot tag (SeenSet.writeSidecar)
    val bloomTag = ByteBuffer.wrap(Files.readAllBytes(Paths.get(dir, "seen.bloom"))).getInt(4)
    assert(bloomTag == 2, s"seen-Bloom sidecar tagged $bloomTag after round 3 failed")

    // fresh loop instance = process restart, writes no longer failing
    val store2 = new SnapshotStore(dir, spark)
    new CrawlLoop(store2, cfg).run(corpusDF, deathsDF, 4)
    assert(store2.latestSnapshot.contains(6))
    assert(logSeq(store2) == logSeq(mainStore))
    assert(seenFps(store2) == seenFps(mainStore))
    assert(store2.read("domains").orderBy("host").collect().toSeq ==
      mainStore.read("domains").orderBy("host").collect().toSeq)
  }

  test("pages_fts is a COMMITTED table maintained per round; committed-index search ≡ fresh full rebuild") {
    assert(mainStore.tablesAt(6).contains("pages_fts"),
      "pages_fts missing from the snapshot manifest")
    val committed = mainStore.read("pages_fts")
    assert(committed.count() > 0)
    // index rows only exist for rounds that fetched pages
    assert(committed.select("round").distinct().count() >= 1)
    // compaction (cadence 2, last at round 6) collapses the raw postings
    // to unique (term, url, host)
    assert(committed.groupBy("term", "url", "host").count()
      .filter(col("count") > 1).isEmpty, "duplicate postings survived compaction")
    val q = "hidden market directory"
    val fromCommitted = graft.analytics.Search.query(committed, q, 0, 10)
      .collect().toSeq
    val fresh = graft.analytics.Search.query(
      graft.analytics.Search.buildIndex(mainStore.read("pages"), corpusDF), q, 0, 10)
      .collect().toSeq
    assert(fromCommitted == fresh,
      "committed-index search drifted from the full rebuild")
  }

  test("retention TTL expires pages_fts rows in lockstep with pages") {
    val store = runCrawl(rounds = 6, partitions = 4,
      c = cfg.copy(pageTtlRounds = 2, compactEveryRounds = 2))
    val fts = store.read("pages_fts")
    val maxRound = fts.agg(max("round")).as[Int].collect()(0)
    assert(fts.filter(col("round") <= maxRound - 2).count() == 0,
      "expired fts rows survived the TTL rewrite")
    assert(fts.count() > 0)
    // search still works over the TTL'd index and only sees live docs
    val hits = graft.analytics.Search.query(fts, "hidden market directory", 0, 10)
    val liveUrls = store.read("pages").select("url").as[String].collect().toSet
    hits.select("url").as[String].collect().foreach(u =>
      assert(liveUrls.contains(u), s"search returned TTL-expired doc $u"))
  }

  test("server / powered_by header facts populate the domains table") {
    val d = mainStore.read("domains")
      .filter(col("pages_crawled") > 0 && col("is_up"))
    assert(d.count() > 0)
    val withServer = d.filter(col("server") =!= "").count()
    assert(withServer == d.count(),
      "a crawled-alive host is missing its Server header fact")
    // fixture hosts with a non-empty X-Powered-By must surface it
    val h0 = SyntheticCorpus.hostName(0)
    val expect = SyntheticCorpus.serverOf(0)
    val got = mainStore.read("domains").filter(col("host") === h0)
      .select("server").as[String].collect()
    assert(got.length == 1 && got(0) == expect, s"host0 server=$got expect=$expect")
  }
}

/** Fails the job set-up of every file write whose output path ends with
  * [[FailingCommitProtocol.failing]] — injects a failure into exactly one
  * snapshot union of one round (`spark.sql.sources.commitProtocolClass`).
  */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: JobContext): Unit = {
    if (FailingCommitProtocol.failing.exists(path.endsWith))
      throw new java.io.IOException(s"injected write failure: $path")
    super.setupJob(jobContext)
  }
}

object FailingCommitProtocol {
  @volatile var failing: Option[String] = None
}
