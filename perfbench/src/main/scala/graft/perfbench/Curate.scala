package graft.perfbench

import graft.analytics.Search
import graft.fixtures.SyntheticCorpus
import graft.model.Doc
import graft.pipeline.{Curation, Dedup, Similarity, TextAnalysis}
import graft.url.Hashing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.Path
import scala.collection.mutable

/** Input sizes of the curate workload. */
final case class CurateScale(hosts: Int, vectors: Int, queries: Int, dim: Int, reads: Int)

/** The pipeline operators over the page text of a seeded window of the
  * synthetic crawl corpus (10% clone hosts, a 20-word filler vocabulary),
  * and the ANN operators over seeded synthetic vectors. Each op is one
  * public call forced through [[Sink.checksum]]; after an untimed warm-up
  * on a small slice, the op set repeats until the passes have used the
  * run's seconds, and at least three times. Then a batch of reads: search
  * over an index of the window's text and single-vector top-k lookups.
  */
final class CurateWorkload(
    spark: SparkSession,
    scale: CurateScale,
    seed: Long,
    work: Path,
    tracer: Tracer,
    res: Results,
    recorded: Map[String, String]) {
  import spark.implicits._

  /** The window is taken from a web of this many hosts, so cross-host
    * links point outside it as they would in a crawl.
    */
  private val WebHosts = 1000000L
  private val offset = (Hashing.nonNeg(Hashing.mix(seed * 0x2545F4914F6CDD1DL + 17)) %
    ((WebHosts - scale.hosts) / 10)) * 10

  val observed: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  private var docs: DataFrame = _
  private var vectors: DataFrame = _
  private var queries: DataFrame = _
  private var index: DataFrame = _
  private var nDocs = 0L
  private var nVectors = 0

  /** Builds (and materializes) the docs of `hosts` hosts, `nVec` vectors
    * and the search index.
    */
  private def setup(rep: Int, hosts: Int, nVec: Int): Unit = {
    Seq(docs, vectors, index).filter(_ != null).foreach(_.unpersist())
    val (off, n, web) = (offset, hosts.toLong, WebHosts)
    docs = spark.range(off, off + n)
      .filter(i => !SyntheticCorpus.isGhost(i))
      .flatMap(i => (0 until SyntheticCorpus.pagesPerHost(i))
        .map(p => SyntheticCorpus.docOf(i, p, web)))
      .select(col("doc_id"), concat_ws("\n", transform(
        filter(col("spans"), s => s.getField("kind") === "text"),
        s => s.getField("text"))).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    nDocs = docs.count()
    val s = seed
    nVectors = nVec
    vectors = spark.range(nVec.toLong)
      .select(col("id").as("vec_id"), array((0 until scale.dim).map(j =>
        ((pmod(xxhash64(col("id"), lit(s), lit(j)), lit(2000001L)) - lit(1000000L)) / lit(1e6))
      ): _*).as("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    vectors.count()
    queries = vectors.filter(col("vec_id") < scale.queries)
    val dir = work.resolve(s"curate-index-$rep").toString
    docs.select(explode(Search.tokenize(col("text"))).as("term"), col("doc_id").as("url"),
      lit("").as("host"), lit(false).as("in_title"))
      .write.mode("overwrite").parquet(dir)
    index = spark.read.parquet(dir)
  }

  /** The op set, in a fixed order. */
  private def ops: Seq[(String, () => DataFrame)] = Seq(
    "exact" -> (() => Dedup.exact(docs, "doc_id", "text")),
    "minhash" -> (() => Dedup.minhashNearDups(docs, "doc_id", "text", tau = 0.5)),
    "simhash" -> (() => Dedup.simhashNearDups(docs, "doc_id", "text")),
    "dupspan" -> (() => Dedup.dupSpanRemoval(docs, "doc_id", "text")),
    "tokens" -> (() => TextAnalysis.tokenStats(docs, "doc_id", "text")),
    "quality" -> (() => TextAnalysis.qualityScore(docs, "doc_id", "text")),
    "langid" -> (() => TextAnalysis.langId(docs, "doc_id", "text")),
    "ngrams" -> (() => TextAnalysis.ngramCounts(docs, "doc_id", "text")),
    "tfidf" -> (() => TextAnalysis.tfidfTopTerms(docs, "doc_id", "text")),
    "pii" -> (() => Curation.piiScan(docs, "doc_id", "text")),
    "ann_brute" -> (() => Similarity.bruteForceTopK(vectors, queries, "vec_id", "embedding", k = 5)),
    "ann_ivf" -> (() => Similarity.ivfTopK(vectors, queries, "vec_id", "embedding", k = 5)))

  val OpNames: Seq[String] = ops.map(_._1)

  /** kmeans centroids are float sums whose order follows partitioning, so
    * IVF results are checked by invariant only, never by digest.
    */
  private val NoDigest = Set("ann_ivf")

  /** Each op's figure is its median over the passes of a run, and an
    * untraced run times at least this many passes, whatever its seconds:
    * the JIT is still settling in the first timed pass (on a 4-core box
    * its ops ran 10-60% slower than in later passes, also after a warm-up
    * pass over the full inputs), and the median of three drops it.
    */
  private val MinPasses = 3

  private val opS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val searchMs = mutable.ArrayBuffer.empty[Double]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val passWalls = mutable.ArrayBuffer.empty[Double]
  private val readTimer = new ReadTimer(tracer)
  private var cpu = 0.0
  private var liveHeap = 0.0
  private var passes = 0
  private var warmS = 0.0

  private def pass(): Unit = {
    val cpu0 = Proc.cpuS()
    val (_, wall) = Proc.timeS {
      tracer.span("curate.pass") { ops.foreach { case (name, op) =>
        res.op()
        val (d, s) = Proc.timeS(tracer.span(s"pipeline.$name")(Sink.checksum(op())))
        opS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
        observed.get(s"curate.$seed.$name").foreach(prev =>
          res.check(NoDigest(name) || prev == d, s"curate $name: digest differs between passes"))
        observed(s"curate.$seed.$name") = d
      } }
    }
    cpu += Proc.cpuS() - cpu0
    passWalls += wall
    passes += 1
  }

  /** `n` reads; unrecorded ones are warm-up: not timed, not checked. */
  private def reads(n: Int, record: Boolean): Unit = {
    val rng = new scala.util.Random(seed * 31L + passes)
    (0 until n).foreach { k =>
      if (record) res.op()
      if (k % 2 == 0) {
        val (q, page) = Reads.searchTerms(rng, k / 2)
        val (rows, s) = readTimer("analytics.search")(Search.query(index, q, page).collect())
        if (record) searchMs += s * 1e3
        if (record && k == 0) {
          val got = Reads.answer(ReadOp("search", q, page), rows.toSeq)
          val want = Reads.search(index, q, page)
          res.check(got == want, s"curate search '$q' p$page: engine ${got.take(3)} != scan ${want.take(3)}")
        }
      } else {
        val id = rng.nextInt(nVectors).toLong
        val (rows, s) = readTimer("analytics.lookup")(
          Similarity.bruteForceTopK(vectors, vectors.filter(col("vec_id") === id),
            "vec_id", "embedding", k = 5).collect())
        if (record) lookupMs += s * 1e3
        if (record && k == 1) {
          val got = rows.map(_.getAs[Double]("score")).toSeq.sorted.reverse
          val want = topScores(id)
          res.check(got.length == want.length && got.zip(want).forall { case (a, b) =>
            math.abs(a - b) < 2e-6 }, s"curate lookup $id: engine scores $got != scan $want")
        }
      }
    }
  }

  /** The 5 best cosine scores of vector `id` against every other vector,
    * computed on the driver.
    */
  private def topScores(id: Long): Seq[Double] = {
    val all = vectors.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val q = all.find(_._1 == id).get._2
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    all.filter(_._1 != id).map { case (_, v) =>
      val dot = q.indices.map(i => q(i) * v(i)).sum
      BigDecimal(dot / (norm(q) * norm(v))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sorted.reverse.take(5).toSeq
  }

  /** Output invariants (any seed) and recorded digests (recorded seeds). */
  private def check(): Unit = {
    def n(op: String): Long = Sink.rows(observed(s"curate.$seed.$op"))
    Seq("exact", "dupspan", "tokens", "quality", "langid", "pii").foreach(op =>
      res.check(n(op) == nDocs, s"curate $op: ${n(op)} rows for $nDocs docs"))
    Seq("minhash", "simhash").foreach(op => res.check(n(op) > 0, s"curate $op: no pairs"))
    res.check(n("ann_brute") == scale.queries * 5L, s"curate ann_brute: ${n("ann_brute")} rows")
    res.check(n("ann_ivf") > 0 && n("ann_ivf") <= scale.queries * 5L,
      s"curate ann_ivf: ${n("ann_ivf")} rows")
    Seq("ngrams", "tfidf").foreach(op => res.check(n(op) > 0, s"curate $op: no rows"))
    val ex = Dedup.exact(docs, "doc_id", "text")
    val dups = ex.filter(col("is_duplicate")).count()
    res.check(dups > 0 && ex.filter(col("is_duplicate") && col("dup_count") < 2).isEmpty,
      s"curate exact: $dups duplicates, or a duplicate with dup_count < 2")
    OpNames.filterNot(NoDigest).foreach { op =>
      val key = s"curate.$seed.$op"
      recorded.get(key).foreach(want =>
        res.check(want == observed(key), s"$key: digest ${observed(key)} != recorded $want"))
    }
  }

  /** Untimed warm-up on a small slice of the same inputs: the op set and
    * a few reads, so the timed passes find Spark's generated-code cache
    * warm instead of measuring compilation.
    */
  private def warmUp(): Unit = {
    setup(-1, math.min(20, scale.hosts), math.min(200, scale.vectors))
    ops.foreach { case (_, op) => Sink.checksum(op()) }
    reads(4, record = false)
  }

  def run(seconds: Double, traced: Boolean): Unit = {
    warmS = Proc.timeS(warmUp())._2
    (0 until 2).foreach { rep =>
      setups += Proc.timeS(setup(rep, scale.hosts, scale.vectors))._2
    }
    Log(f"curate warm-up $warmS%.2f s, input builds ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    tracer.enabled = traced
    while (passes == 0 || (!traced && (passes < MinPasses || passWalls.sum < seconds))) pass()
    // the first read after the passes ran up to 2x slower than the rest
    reads(2, record = false)
    reads(scale.reads, record = true)
    tracer.enabled = false
    liveHeap = Proc.liveHeapMb()
    check()
    if (traced) {
      val web = WebHosts
      val sample = spark.range(offset, offset + math.min(scale.hosts, 400L))
        .filter(i => !SyntheticCorpus.isGhost(i))
        .flatMap(i => (0 until SyntheticCorpus.pagesPerHost(i))
          .map(p => SyntheticCorpus.docOf(i, p, web)))
        .as[Doc].collect().toSeq
      UrlExtractProbe.run(sample, res)
    }
    Seq(docs, vectors).foreach(_.unpersist())
  }

  def report(sessionS: Double): Unit = {
    val items = nDocs * passes
    res.put("setup_s", sessionS + warmS + Stats.median(setups.toSeq), "s")
    res.put("items_per_s", items / passWalls.sum, "item/s")
    res.put("cpu_ms_per_item", cpu * 1e3 / items, "ms")
    res.put("op_s.p50", Stats.median(opS.values.flatten.toSeq), "s")
    res.put("op_s.max", opS.values.map(xs => Stats.median(xs.toSeq)).max, "s")
    res.put("search_ms.p50", Stats.median(searchMs.toSeq), "ms")
    res.put("lookup_ms.p50", Stats.median(lookupMs.toSeq), "ms")
    res.put("mem.live_heap_mb", liveHeap, "MB")
    Log(f"curate: $nDocs docs x $passes passes in ${passWalls.sum}%.2f s, ${searchMs.length + lookupMs.length} reads")
    Log("curate read ms: search " + searchMs.map(x => f"$x%.0f").mkString("/") +
      ", lookup " + lookupMs.map(x => f"$x%.0f").mkString("/"))
    Log("curate op seconds by pass: " + opS.map { case (op, xs) =>
      s"$op ${xs.map(x => f"$x%.2f").mkString("/")}" }.mkString(", "))
  }

  def reportLayers(): Unit = {
    OpNames.foreach { op =>
      val spans = tracer.named(s"pipeline.$op")
      res.check(spans.nonEmpty, s"traced span pipeline.$op never opened")
      val sums = tracer.sums(tracer.jobsUnder(spans))
      val k = math.max(1, spans.length)
      res.put(s"pipeline.${op}_s", spans.map(_.wallS).sum / k, "s")
      res.put(s"pipeline.${op}_cpu_s", sums.cpuS / k, "s")
      res.put(s"pipeline.${op}_shuffle_bytes", sums.shuffleBytes.toDouble / k, "B")
    }
    readTimer.overheadRatio.foreach(res.put("trace.overhead_ratio", _, "ratio"))
    // executor CPU of the timed passes that falls inside an op's span
    val passJobs = tracer.jobsUnder(tracer.named("curate.pass"))
    val opJobs = tracer.jobsUnder(OpNames.flatMap(op => tracer.named(s"pipeline.$op")))
    res.put("trace.attributed_cpu_ratio",
      tracer.sums(opJobs).cpuNs.toDouble / math.max(1L, tracer.sums(passJobs).cpuNs), "ratio")
  }
}

/** The `url` and `extract` layers alone: driver-side loops over pages of
  * the workload's own corpus, each function timed over the same inputs.
  */
object UrlExtractProbe {
  private val Href = """href="([^"]*)"""".r

  def run(docs: Seq[Doc], res: Results): Unit = {
    require(docs.nonEmpty, "no pages to probe")
    // warm-up pass, then 3 timed passes; the best pass is the figure
    def best(f: => Unit): Double = { f; (1 to 3).map(_ => Proc.timeS(f)._2).min }
    val hrefs = docs.flatMap { d =>
      d.spans.filter(_.kind == "text").flatMap(s => Href.findAllMatchIn(s.text).map(m =>
        d.doc_id -> m.group(1)))
    }
    var sink = 0L
    val parseS = best(docs.foreach(d =>
      sink += graft.extract.SpanExtract.parse(d.doc_id, d.spans).links.length))
    val links = docs.map(d => graft.extract.SpanExtract.parse(d.doc_id, d.spans).links.length).sum
    val resolved = hrefs.flatMap { case (b, h) => graft.url.Urls.resolve(b, h) }
    val canon = resolved.map(graft.url.Urls.canonicalize)
    val resolveS = best(hrefs.foreach { case (b, h) =>
      sink += graft.url.Urls.resolve(b, h).map(_.length).getOrElse(0) })
    val canonS = best(resolved.foreach(u => sink += graft.url.Urls.canonicalize(u).length))
    val fpS = best(canon.foreach(u => sink += graft.url.Urls.fingerprint(u).length))
    res.check(sink > 0 && hrefs.nonEmpty, "url/extract probe saw no links")
    res.put("extract.parse_us_per_page", parseS * 1e6 / docs.length, "us")
    res.put("extract.links_per_page", links.toDouble / docs.length, "count")
    res.put("url.resolve_ns", resolveS * 1e9 / hrefs.length, "ns")
    res.put("url.canonicalize_ns", canonS * 1e9 / resolved.length, "ns")
    res.put("url.fingerprint_ns", fpS * 1e9 / canon.length, "ns")
  }
}
