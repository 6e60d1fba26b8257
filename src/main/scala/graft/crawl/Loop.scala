package graft.crawl

import graft.dedup.SeenSet
import graft.model._
import graft.store.SnapshotStore
import graft.url.{EnqueueSeq, Urls}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative batch crawl driver (SURVEY.md §3.9 T1): each round is one
  * Catalyst program ending in an atomic snapshot commit; the next round
  * re-reads the committed state (Parquet-backed ⇒ short plans, no
  * iterative lineage blow-up), so a run is resumable from ANY snapshot —
  * straight-through and stop+resume produce byte-identical tables.
  *
  * Per-round Spark-job budget (the driver is the serial cost between
  * small stages — round 1 measured it capping 8→32-core scaling):
  *   1. range-partitioner sampling (GoldenSeq.layout's repartitionByRange)
  *   2. schedule stats       (ONE treeAggregate: per-range counts + total
  *                            + URL Bloom, merged executor-side)
  *   3. wide-tables write    (frontier/domains/metrics tagged union;
  *                            observed metric: next round's frontier count)
  *   4. row-heavy write      (seen/pages/links/facts/crawl_log tagged
  *                            union; observed: seen-delta count)
  *   5. FTS solo write       (pages_fts alone — its posting rows dominate
  *                            the snapshot, so padding it to the
  *                            row-heavy superset cost ~6% of crawl CPU)
  *   6. seen-Bloom delta     (ONE treeAggregate over the cached delta,
  *                            in line after the writes return and before
  *                            the manifest flip; a failed write throws
  *                            before it, so no round whose data did not
  *                            all land folds into the filter)
  * plus a frontier count on the FIRST round of a run only (later rounds
  * reuse the write's observed metric), plus — ONLY when the scheduled
  * count is at most the seen-prefix space (the few-candidates regime,
  * Round's gate) — one small distinct-prefix job that lets the exact
  * anti-join read just the touched `seen` partitions. Golden-sequence
  * bookkeeping and the sidecar checkpoint ride on those jobs — no
  * dedicated actions.
  */
final class CrawlLoop(
    val store: SnapshotStore,
    cfg: CrawlConfig)(implicit spark: SparkSession) {

  import spark.implicits._

  // register the graft expressions in THIS session explicitly: inside a
  // Structured Streaming foreachBatch the thread's ACTIVE session is a
  // micro-batch clone, so the helpers' lazy active-session registration
  // would target the clone while the round's DataFrames analyze against
  // this session's registry (StreamingCrawl twin)
  graft.functions.UrlExpressions.register(spark)
  graft.functions.TextExpressions.register(spark)

  /** Free a round intermediate. Cut points are `localCheckpoint(false)`
    * (see Round's scaladoc) — their storage hangs off the truncated
    * RDD, not the cache manager, so unpersist the `LogicalRDD` leaves.
    */
  private def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ =>
    }
  }

  /** Snapshot 0: seed frontier + seed-seen (Scrapy marks seen at ENQUEUE
    * time — SURVEY.md §6.5) + the politeness rule set (`robots_rules` is
    * COMMITTED state, not a per-run argument: resume-from-snapshot must
    * restore the same gate or the replay diverges) + empty entity tables.
    */
  def init(seedUrls: Seq[String], robots: Dataset[RobotsRule]): Unit = {
    val canon = seedUrls.map(Urls.canonicalize).distinct
    val entries = canon.map { u =>
      FrontierEntry(u, Urls.hostOf(u), Priorities.NewOnion, Priorities.TierNew,
        0, EnqueueSeq.forSeed(u), "", 1, 0)
    }
    val seen = canon.map(u => Seen(Urls.fingerprint(u), u, 1))
    val emptyDomains = spark.emptyDataset[DomainRow].toDF()
    store.commit(0,
      overwrite = Map(
        "frontier" -> entries.toDS().toDF(),
        "domains" -> emptyDomains,
        "robots_rules" -> robots.toDF()),
      append = Map(
        "seen" -> seen.toDS().toDF(),
        "pages" -> spark.emptyDataset[PageRow].toDF(),
        "pages_fts" -> spark.emptyDataset[FtsRow].toDF(),
        "links" -> spark.emptyDataset[LinkRow].toDF(),
        "media_refs" -> spark.emptyDataset[MediaRefRow].toDF(),
        "emails" -> spark.emptyDataset[FactRow].toDF(),
        "btc_addresses" -> spark.emptyDataset[FactRow].toDF(),
        "ssh_fps" -> spark.emptyDataset[FactRow].toDF(),
        "open_ports" -> spark.emptyDataset[FactRow].toDF(),
        "crawl_log" -> spark.emptyDataset[CrawlLogEntry].toDF(),
        "metrics" -> spark.emptyDataset[MetricsRow].toDF()))
  }

  /** Run `rounds` more rounds from the latest committed snapshot.
    *
    * AQE is disabled for the crawl's duration (restored after): the
    * loop's partitioning is fully static — fixed shuffle partitions,
    * explicit range partitioning for the golden sequence, planner-chosen
    * broadcasts — so adaptive re-optimization buys nothing, while its
    * per-stage re-planning and plan-description re-rendering scale with
    * the round DAG's (large, cache-nested) plan size. Measured on the
    * 200k-host bench: 3,573 → 11,087 URLs/s from this switch alone,
    * with byte-identical outputs.
    */
  def run(
      corpus: DataFrame,
      hostDeaths: DataFrame,
      rounds: Int,
      /** overrides the COMMITTED `robots_rules` table (tests / what-if
        * replays); normal runs — and every resume — read the snapshot. */
      robotsOverride: Option[Dataset[RobotsRule]] = None): Int = {
    // plan-description rendering is eager per action (for the SQL
    // listener event, UI or not) and the round DAG's nested cached plans
    // render exponentially — cap it for the loop's duration too
    // (engine Bloom filters are FastBloom — sized purely by CrawlConfig,
    // independent of the runtime-bloom-filter confs that silently clamp
    // the native aggregate; see SketchExpressions.bloomConfMax.)
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.maxPlanStringLength" -> "2048",
      "spark.sql.ui.explainMode" -> "simple",
      // a broadcast whose subtree first-touches a lazy checkpoint can
      // materialize the whole upstream inside the broadcast thread's
      // budget — at low parallelism that exceeds the 300s default
      "spark.sql.broadcastTimeout" -> "3600"
    ).map { case (k, v) =>
      val prev = try Some(spark.conf.get(k)) catch { case _: Exception => None }
      spark.conf.set(k, v)
      k -> prev
    }
    try runInner(corpus, robotsOverride, hostDeaths, rounds)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def runInner(
      corpus: DataFrame,
      robotsOverride: Option[Dataset[RobotsRule]],
      hostDeaths: DataFrame,
      rounds: Int): Int = {
    val startSnap = store.latestSnapshot.getOrElse(
      throw new IllegalStateException("call init() first"))
    val seenSet = new SeenSet(cfg, store.rootDir, store.latestSnapshot)
    // once per RUN: the robots gate (collect/aggregate the COMMITTED rule
    // set — restored on resume) and the corpus live-host set (corpus is
    // immutable) — not once per round
    val robots = robotsOverride.getOrElse(
      store.read("robots_rules").as[RobotsRule])
    val gate = graft.frontier.Robots.prepare(robots, cfg)
    val corpusHosts = corpus
      .select(graft.functions.UrlExpressions.url_host(col("doc_id")).as("host"))
      .distinct().persist()
    // no checkpointed filter (fresh run or lost/stale sidecar): rebuild
    // from the authoritative seen table — an empty Bloom over non-empty
    // seen would wrongly bypass the exact anti-join for every
    // rediscovered URL
    if (!seenSet.loadedFromCheckpoint) seenSet.rebuildFrom(store.read("seen"))

    var r = startSnap
    var executed = 0
    // golden-seq base: counted once on resume, then tracked incrementally
    // (a full crawl_log count per round would rescan the whole log)
    var seqBase = store.read("crawl_log").count()
    // carried from the frontier write's observed metric after round 1
    var frontierRowsNext: Option[Long] = None
    // round-URL Bloom size hint: the schedule is politeness-bounded and
    // FAR smaller than the frontier, so size from the PREVIOUS round's
    // scheduled count (2× headroom; GoldenSeq caps it) — a frontier-sized
    // hint would allocate frontier-scale partial filters per round. An
    // under-hint only raises the prefilter FPP (never wrongness).
    var schedHintNext: Option[Long] = None
    while (executed < rounds) {
      r += 1
      val in = RoundInputs(
        frontier = store.read("frontier"),
        seen = store.read("seen"),
        domains = store.read("domains"),
        pages = store.read("pages"),
        corpus = corpus,
        corpusHosts = corpusHosts,
        robots = gate,
        hostDeaths = hostDeaths,
        // after the first prefix-partitioned compaction, the exact
        // anti-join reads only the touched prefix partitions
        seenPruner = store.prefixInfo("seen").map { case (_, len) =>
          SeenSet.Pruner(len, pfx => store.readPrefixPruned("seen", pfx).get)
        })
      // termination check (and first-round fallback for the Bloom hint)
      val frontierRows = frontierRowsNext.getOrElse(in.frontier.count())
      if (frontierRows == 0) { corpusHosts.unpersist(); return executed }
      val out = Round.run(in, cfg, r, seqBase, seenSet,
        schedHint = schedHintNext.map(_ * 2).getOrElse(frontierRows))

      val frontierObs = Observation(s"frontier-r$r")
      val seenObs = Observation(s"seen-r$r")
      val entries = store.writeData(r,
        overwrite = Map(
          "frontier" -> out.frontierNext.observe(frontierObs,
            count(lit(1L)).as("rows")),
          "domains" -> out.domains),
        append = Map(
          // observed count skips the empty-delta probe of the Bloom update
          "seen" -> out.seenDelta.observe(seenObs, count(lit(1L)).as("cnt")),
          "pages" -> out.pagesDelta,
          "pages_fts" -> out.ftsDelta,
          "links" -> out.linksDelta,
          "media_refs" -> out.mediaDelta,
          "emails" -> out.emailsDelta,
          "btc_addresses" -> out.btcDelta,
          "ssh_fps" -> out.sshFpsDelta,
          "open_ports" -> out.portsDelta,
          "crawl_log" -> out.crawlLogDelta,
          "metrics" -> out.metricsDelta),
        rowHeavy = SnapshotStore.RowHeavyTables,
        solo = SnapshotStore.SoloTables)
      // job 6: fold the delta into the seen-Bloom and write its sidecar
      // tagged r, after every write has landed and before the manifest
      // flip (bloom-ahead-of-seen is FP-safe, bloom-behind is not; see
      // SeenSet's crash-consistency scaladoc). A failed write throws
      // before this line with no write job left running, so no fold or
      // sidecar outlives it, and the fold, which mutates the filter the
      // round's probe read, never overlaps a job still reading that
      // probe.
      seenSet.update(out.seenDelta, r,
        knownCount = seenObs.get("cnt").asInstanceOf[Long])
      store.commitManifest(r, entries)

      seqBase += out.scheduledCount
      schedHintNext = Some(out.scheduledCount)
      frontierRowsNext = Some(frontierObs.get("rows").asInstanceOf[Long])
      if (r % cfg.compactEveryRounds == 0) {
        store.compact(r, "seen", Seq("fingerprint"), buckets = cfg.saltBuckets,
          hashPrefix = if (cfg.seenPrefixLen > 0)
            Some(("fingerprint", cfg.seenPrefixLen)) else None)
        // FTS index maintenance on the same cadence: collapse the RAW
        // per-round postings to unique (term, url, host) — latest
        // observation round, title flag preserved — and cluster by term
        // (term-major files make the query-time In(term) pushdown prune
        // whole row groups). Bounds the raw-postings growth the
        // zero-shuffle delta path trades for.
        store.compact(r, "pages_fts", Seq("term", "url"), buckets = cfg.saltBuckets,
          retain = if (cfg.pageTtlRounds != Int.MaxValue)
            Some(col("round") > r - cfg.pageTtlRounds) else None,
          rewrite = Some(df => df
            .groupBy(col("term"), col("url"), col("host"))
            .agg(max(col("in_title")).as("in_title"), max(col("round")).as("round"))))
        // retention delete: expire page observations past their TTL on
        // the same cadence; the committed FTS index expired above in
        // lockstep (its `round` is the indexing round)
        if (cfg.pageTtlRounds != Int.MaxValue)
          store.compact(r, "pages", Seq("host", "url"), buckets = cfg.saltBuckets,
            retain = Some(col("visited_round") > r - cfg.pageTtlRounds))
      }
      out.cached.foreach(release)
      executed += 1
    }
    corpusHosts.unpersist()
    executed
  }
}
