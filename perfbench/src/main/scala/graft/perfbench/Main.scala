package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side; `perfbench/run.py` builds and launches it.
  *
  *   --workload discover|curate  --seed N  --seconds S  --trace 0|1
  *   --work DIR (fresh scratch dir, deleted by run.py)  --launch-ms EPOCH_MS
  *   --digests FILE (recorded digests)  --source-id ID
  *
  * Prints an `{"env": ...}` line, a `{"digests": ...}` line, in traced runs
  * the layer report, and last the result line of the benchmark contract.
  * Exits 1 when any output check failed.
  */
object Main {

  /** End-to-end metrics, measured with tracing off; every workload
    * reports all of them (see perfbench/README.md for each definition).
    */
  val EndToEnd: Seq[String] = Seq("setup_s", "items_per_s", "cpu_ms_per_item", "op_s.p50",
    "op_s.max", "search_ms.p50", "lookup_ms.p50", "mem.live_heap_mb")

  val Workloads: Seq[String] = Seq("discover", "curate")

  final case class Scales(discover: CrawlScale, curate: CurateScale)

  val Full: Scales = Scales(
    discover = CrawlScale(hosts = 4000, timedRounds = 2, readsPerBatch = 16),
    curate = CurateScale(hosts = 250, vectors = 4000, queries = 20, dim = 32, reads = 18))

  /** Harness-test size: about 30 hosts, a few hundred docs. */
  val Tiny: Scales = Scales(
    discover = CrawlScale(hosts = 30, timedRounds = 2, readsPerBatch = 6),
    curate = CurateScale(hosts = 60, vectors = 200, queries = 4, dim = 8, reads = 4))

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      launchMs: Long, digests: Option[Path], sourceId: String, scales: Scales)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.mkString(", ")})")
    require(Set("0", "1").contains(need("trace")), "--trace takes 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), need("launch-ms").toLong, Some(Paths.get(need("digests"))),
      need("source-id"), Full)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val res = run(o)
    System.exit(if (res.failed == 0) 0 else 1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  def readDigests(p: Option[Path]): Map[String, String] = p.filter(Files.exists(_)).map { f =>
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
    node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }.getOrElse(Map.empty)

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A fixed job timed at the end of each run (JIT warm), to read how
    * busy the machine was.
    */
  private def canaryS(spark: SparkSession): Double = Proc.timeS {
    spark.range(0, 400000L, 1, Session.nproc)
      .select((col("id") % 1000).as("k"), xxhash64(col("id")).as("h"))
      .groupBy("k").agg(sum(col("h").bitwiseAND(lit(0xffffL)))).collect()
  }._2

  /** Runs one workload; returns its results (already printed). */
  def run(o: Opts): Results = {
    Files.createDirectories(o.work)
    val spark = Session.create(o.work, Session.nproc)
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1e3
    val res = new Results
    val tracer = new Tracer(spark)
    val recorded = readDigests(o.digests)
    val gc0 = Proc.gcS()
    val observed: Iterable[(String, String)] =
      try o.workload match {
        case "curate" =>
          val w = new CurateWorkload(spark, o.scales.curate, o.seed, o.work, tracer, res, recorded)
          w.run(o.seconds, o.trace)
          if (o.trace) { tracer.finish(); w.reportLayers() } else w.report(sessionS)
          w.observed
        case _ =>
          val w = new CrawlWorkload(spark, o.scales.discover, o.seed, o.work, tracer, res, recorded)
          w.run(o.seconds, o.trace)
          if (o.trace) { tracer.finish(); w.reportLayers() } else w.report(sessionS)
          w.observed
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          res.op()
          res.check(ok = false, s"${o.workload} threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          Nil
      }
    if (o.trace) processLayers(res, tracer, Proc.gcS() - gc0)
    val rt = Runtime.getRuntime
    println(s"""{"env": {"workload": ${json(o.workload)}, "seed": ${o.seed}, """ +
      s""""trace": ${o.trace}, "nproc": ${Session.nproc}, "heap_max_mb": ${rt.maxMemory / 1048576}, """ +
      s""""jvm": ${json(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))}, """ +
      s""""spark": ${json(spark.version)}, "source_id": ${json(o.sourceId)}, """ +
      s""""canary_s": ${canaryS(spark)}, "trace_run_id": ${json(tracer.runId)}}}""")
    println(observed.map { case (k, v) => s"${json(k)}: ${json(v)}" }
      .mkString("""{"digests": {""", ", ", "}}"))
    if (o.trace) LayerReport.print(o.workload, res)
    val shown = res.metrics.filter { case (k, _) => EndToEnd.contains(k) != o.trace }
    val bad = shown.filter { case (_, (v, _)) => v.isNaN || v.isInfinite }
    res.check(bad.isEmpty, s"non-finite metrics: ${bad.keys.mkString(", ")}")
    val metrics = shown.filterNot { case (k, _) => bad.contains(k) }.map { case (k, (v, u)) =>
      s"""${json(k)}: {"value": $v, "unit": ${json(u)}}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${res.failed == 0}, "attempted": ${math.max(1L, res.attempted)}, """ +
      s""""failed": ${res.failed}, "metrics": $metrics}""")
    spark.stop()
    res
  }

  private def processLayers(res: Results, tracer: Tracer, gcS: Double): Unit = {
    val total = tracer.sums(tracer.allJobs)
    res.put("jvm.gc_s", gcS, "s")
    res.put("spark.spill_bytes", total.spill.toDouble, "B")
    res.put("spark.tasks", total.tasks.toDouble, "count")
  }
}
