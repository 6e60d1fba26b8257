package graft.perfbench

import graft.crawl.CrawlLoop
import graft.fixtures.SyntheticCorpus
import graft.model.CrawlLogEntry
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The benchmark harness at tiny size (about 30 hosts, a few hundred
  * docs): every workload runs and prints every end-to-end metric with its
  * unit, the output checks catch a corrupted output, and the sink computes
  * what a `count()` skips.
  */
class HarnessSpec extends AnyFunSuite {

  private def runTiny(workload: String, trace: Boolean = false): (Results, Seq[String]) = {
    val work = Files.createTempDirectory("perfbench-spec")
    val out = new java.io.ByteArrayOutputStream()
    try {
      val res = Console.withOut(out) {
        Main.run(Main.Opts(workload, seed = 3, seconds = 1, trace = trace, work = work,
          launchMs = System.currentTimeMillis(), digests = None, sourceId = "spec",
          scales = Main.Tiny))
      }
      (res, out.toString.linesIterator.toSeq)
    } finally Main.deleteTree(work)
  }

  Main.Workloads.foreach { w =>
    test(s"$w at tiny size prints every end-to-end metric with its unit, all checks passing") {
      val (res, lines) = runTiny(w)
      assert(res.failed == 0, res.failures.mkString("; "))
      assert(res.attempted > 0)
      val last = lines.last
      assert(last.startsWith("""{"correct": true"""))
      Main.EndToEnd.foreach { m =>
        val unit = res.metrics(m)._2
        assert(last.contains(s""""$m": {"value": """), s"$m missing")
        assert(last.contains(s""""unit": "$unit"}"""), s"$m unit missing")
        assert(res.metrics(m)._1 > 0, s"$m is 0")
      }
    }
  }

  test("the traced discover run at tiny size labels Round.run's stages and opens every span") {
    val (res, lines) = runTiny("discover", trace = true)
    assert(res.failed == 0, res.failures.mkString("; "))
    assert(lines.last.startsWith("""{"correct": true"""))
    Seq("crawl.fetch_s", "extract.in_round_cpu_s", "url.in_round_cpu_s", "dedup.filter_s",
      "dedup.bloom_pass_ratio", "dedup.fresh_ratio", "crawl.fetch_corpus_pass_ratio",
      "trace.overhead_ratio").foreach(m => assert(res.metrics.contains(m), s"$m missing"))
  }

  private def withSpark[A](f: SparkSession => A): A = {
    val work = Files.createTempDirectory("perfbench-spec")
    val spark = Session.create(work, 2)
    try f(spark)
    finally { spark.stop(); Main.deleteTree(work) }
  }

  test("the crawl output checks fail on a corrupted crawl_log and on a corrupted seen row") {
    withSpark { implicit spark =>
      import spark.implicits._
      val work = Files.createTempDirectory("perfbench-spec")
      try {
        def crawled(dir: String): (CrawlWorkload, SnapshotStore, Results) = {
          val res = new Results
          val w = new CrawlWorkload(spark, Main.Tiny.discover, 3, work, new Tracer(spark), res,
            Map.empty)
          val store = new SnapshotStore(work.resolve(dir).toString, spark)
          val loop = new CrawlLoop(store, w.cfg)
          loop.init(SyntheticCorpus.seedsLocal(30, 5), SyntheticCorpus.robotsLocal(30).toDS())
          loop.run(SyntheticCorpus.docsLocal(30).toDS().toDF(),
            SyntheticCorpus.hostDeathsLocal(30).toDF("host", "dead_from_round"), 2)
          (w, store, res)
        }
        val (w0, clean, res0) = crawled("clean")
        w0.checkStore(clean)
        assert(res0.failed == 0, res0.failures.mkString("; "))

        // a crawl_log row whose seq leaves a gap
        val (w1, gap, res1) = crawled("gap")
        val n = gap.read("crawl_log").count()
        gap.commit(gap.latestSnapshot.get + 1, overwrite = Map.empty, append = Map(
          "crawl_log" -> Seq(CrawlLogEntry(n + 5, 3, "http://x.onion/", "x.onion", 2)).toDS().toDF()))
        w1.checkStore(gap)
        assert(res1.failures.exists(_.contains("not dense")), res1.failures.mkString("; "))

        // a seen row whose fingerprint is not the URL's
        val (w2, bad, res2) = crawled("bad")
        bad.commit(bad.latestSnapshot.get + 1, overwrite = Map.empty, append = Map(
          "seen" -> Seq(graft.model.Seen("0" * 40, "http://y.onion/", 3)).toDS().toDF()))
        w2.checkStore(bad)
        assert(res2.failures.exists(_.contains("differ from Urls.fingerprint")),
          res2.failures.mkString("; "))
      } finally Main.deleteTree(work)
    }
  }

  test("the checksum sink computes every column where count() skips them") {
    withSpark { spark =>
      val calls = spark.sparkContext.longAccumulator("text evaluations")
      val traced = udf { (s: String) => calls.add(1); s }
      // a range, not a local Seq: the optimizer folds projections over
      // local relations eagerly, which would call the UDF while planning
      val docs = spark.range(50).select(concat(lit("d"), col("id")).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0L), lit(29L)),
          k => concat(lit("w"), pmod(col("id") + k, lit(17L))))).as("text0"))
      val projected = docs.select(col("doc_id"), traced(col("text0")).as("text"))
      projected.count()
      assert(calls.value == 0, s"count() evaluated the text ${calls.value} times")
      Sink.checksum(projected)
      assert(calls.value == 50, s"the sink evaluated the text ${calls.value} times")

      // dupSpanRemoval: a count() plans away the coverage join the sink runs
      def joins(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.length
      val out = graft.pipeline.Dedup.dupSpanRemoval(
        docs.withColumnRenamed("text0", "text"), "doc_id", "text")
      assert(joins(out.groupBy().count()) == 0)
      assert(joins(out.select(xxhash64(out.columns.map(col).toIndexedSeq: _*))) > 0)
    }
  }
}
