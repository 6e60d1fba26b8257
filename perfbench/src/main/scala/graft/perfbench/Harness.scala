package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One run's metrics and its operation and check counts. */
final class Results {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** One operation (a crawl round, a read, a curate op) ran. */
  def op(): Unit = attempted += 1

  /** Records a failed output check against the operations it covers. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      failures += what
      Log(s"CHECK FAILED: $what")
    }
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap still in use after a full collection, in MB. The first
    * collection lets Spark's cleaner drop the blocks of unreachable RDDs
    * and broadcasts; the second collects what that freed.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Forcing and fingerprinting DataFrames.
  *
  * The benchmark never times a `count()`: Catalyst prunes every column a
  * count does not need, so a count of an operator's output can skip the
  * operator. Every timed output goes through [[checksum]], whose hash
  * reads every column of every row.
  */
object Sink {

  private def hashCols(df: DataFrame, roundFloats: Boolean): Column =
    xxhash64(df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType if roundFloats => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)

  /** Order-independent digest `rows-sum32-xor` over every column (floats
    * rounded to 6 decimals). Equal digests mean equal row multisets up to
    * hash collisions; the value does not depend on partitioning.
    */
  def checksum(df: DataFrame): String = {
    val h = df.select(hashCols(df, roundFloats = true).as("h"))
    val r = h.agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
      bit_xor(col("h"))).collect()(0)
    val s = if (r.isNullAt(1)) 0L else r.getLong(1)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}-$s-$x"
  }

  def rows(digest: String): Long = digest.takeWhile(_ != '-').toLong

  /** Materializes a lazily checkpointed or cached DataFrame with every
    * column computed and nothing collected.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Session {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def create(work: java.nio.file.Path, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the crawl loop sets these itself for its own duration; set them
      // for the rest of the run too so reads and curate ops plan the same
      // way whether or not a crawl ran before them in this process
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.ui.explainMode", "simple")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
