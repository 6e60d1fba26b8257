package graft.store

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, GraftExtTestBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** SnapshotStore prefix-layout lifecycle: marker set/cleared by compact,
  * reads identical across layouts, pruned reads exact with deltas and
  * with combined retain/rewrite, empty-prefix read = deltas only; and
  * the concurrent write path's failure rule.
  */
class StoreSpec extends AnyFunSuite {

  implicit val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def freshStore(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("store").toString, spark)

  private def rows(n: Int, tag: String): Seq[(String, String, Int)] =
    (0 until n).map { i =>
      val fp = graft.url.Urls.sha1Hex(s"$tag-$i")
      (fp, s"http://$tag$i.onion/", i)
    }

  test("prefix compact: marker lifecycle, read equality, pruned exactness incl. deltas") {
    val st = freshStore()
    val base = rows(64, "a").toDF("fingerprint", "url", "first_round")
    st.commit(0, Map.empty, Map("seen" -> base))
    assert(st.prefixInfo("seen").isEmpty)

    st.compact(1, "seen", Seq("fingerprint"), buckets = 4,
      hashPrefix = Some(("fingerprint", 2)))
    assert(st.prefixInfo("seen").contains(("fingerprint", 2)))
    val afterCompact = st.read("seen").as[(String, String, Int)].collect().toSet
    assert(afterCompact == rows(64, "a").toSet)
    // names+types identical (nullability relaxes through the parquet
    // round-trip, as for every store table); no _pfx column leaks
    assert(st.read("seen").schema.map(f => (f.name, f.dataType)) ==
      base.schema.map(f => (f.name, f.dataType)))

    // delta appended AFTER the prefix compact: pruned read must include
    // ALL delta rows regardless of their prefix
    val delta = rows(16, "b").toDF("fingerprint", "url", "first_round")
    st.commit(2, Map.empty, Map("seen" -> delta))
    val all = rows(64, "a").toSet ++ rows(16, "b").toSet
    assert(st.read("seen").as[(String, String, Int)].collect().toSet == all)

    val somePfx = rows(64, "a").map(_._1.take(2)).distinct.sorted.take(4)
    val pruned = st.readPrefixPruned("seen", somePfx).get
      .as[(String, String, Int)].collect().toSet
    // exact: every base row with a probed prefix + every delta row
    val want = rows(64, "a").filter(r => somePfx.contains(r._1.take(2))).toSet ++
      rows(16, "b").toSet
    assert(pruned == want)
    // empty prefix list → deltas only
    assert(st.readPrefixPruned("seen", Seq.empty).get
      .as[(String, String, Int)].collect().toSet == rows(16, "b").toSet)

    // plain compact clears the marker and flattens the layout
    st.compact(3, "seen", Seq("fingerprint"), buckets = 4)
    assert(st.prefixInfo("seen").isEmpty)
    assert(st.readPrefixPruned("seen", somePfx).isEmpty)
    assert(st.read("seen").as[(String, String, Int)].collect().toSet == all)

    // time travel: the old prefix-partitioned snapshot still reads whole
    assert(st.readAt("seen", 1).as[(String, String, Int)].collect().toSet ==
      rows(64, "a").toSet)
  }

  test("prefix compact composes with retain + rewrite") {
    val st = freshStore()
    val base = rows(40, "c").toDF("fingerprint", "url", "first_round")
    st.commit(0, Map.empty, Map("seen" -> base))
    st.compact(1, "seen", Seq("fingerprint"), buckets = 2,
      retain = Some(col("first_round") >= 10),
      rewrite = Some(df => df.withColumn("first_round", col("first_round") + 100)),
      hashPrefix = Some(("fingerprint", 2)))
    val got = st.read("seen").as[(String, String, Int)].collect().toSet
    val want = rows(40, "c").filter(_._3 >= 10)
      .map { case (f, u, r) => (f, u, r + 100) }.toSet
    assert(got == want)
    // pruned read sees the rewritten rows
    val pfx = want.map(_._1.take(2)).toSeq.sorted.take(2)
    val pruned = st.readPrefixPruned("seen", pfx).get
      .as[(String, String, Int)].collect().toSet
    assert(pruned == want.filter(r => pfx.contains(r._1.take(2))))
  }

  test("commit rejects a table appearing in both overwrite and append") {
    // the solo path would aim two writeUnion overwrites at one dir and
    // silently clobber — the guard makes the contradiction loud
    val st = freshStore()
    val df = rows(4, "x").toDF("fingerprint", "url", "first_round")
    val e = intercept[IllegalArgumentException] {
      st.commit(0, overwrite = Map("seen" -> df), append = Map("seen" -> df))
    }
    assert(e.getMessage.contains("seen"))
  }

  test("a failed write leaves no write job running; retrying the snap commits exactly") {
    val st = freshStore()
    val base = rows(8, "p").toDF("fingerprint", "url", "first_round")
    st.commit(1, overwrite = Map("frontier" -> base), append = Map("seen" -> base))
    val delta = rows(8, "q").toDF("fingerprint", "url", "first_round")
    val fts = (0 until 4).map(i => (s"term$i", i)).toDF("term", "round")
    def write(frontier: DataFrame, postings: DataFrame): Map[String, Seq[String]] =
      st.writeData(2, overwrite = Map("frontier" -> frontier),
        append = Map("seen" -> delta, "pages_fts" -> postings),
        rowHeavy = Set("seen"), solo = Set("pages_fts"))

    // three unions, submitted delta (frontier), rows (seen), solo
    // (pages_fts): the first fails in a task on one row while the solo
    // write is still sleeping through its rows one at a time. The failing
    // input is RDD-backed so the error is raised inside a write task: the
    // optimizer may evaluate a projection over a local relation while it
    // plans the query, before the other writes have submitted a job.
    val failing = spark.createDataFrame(
        spark.sparkContext.parallelize(rows(8, "p"), 2))
      .toDF("fingerprint", "url", "first_round")
      .withColumn("first_round",
        when(col("first_round") === 3, raise_error(lit("injected write failure")))
          .otherwise(col("first_round")))
    val slept = spark.sparkContext.longAccumulator("slow rows written")
    val slow = fts.as[(String, Int)].coalesce(1)
      .map { r => Thread.sleep(750); slept.add(1); r }.toDF("term", "round")
    val e = intercept[Exception](write(failing, slow))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected write failure")), e)
    assert(slept.value == 4, "writeData threw before the slow write finished")
    GraftExtTestBridge.drainListenerBus(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a write job outlived writeData's exception")

    // nothing of snapshot 2 is visible
    assert(st.latestSnapshot.contains(1))
    for (t <- Seq("frontier", "seen"); got <- Seq(st.read(t), st.readAt(t, 1)))
      assert(got.as[(String, String, Int)].collect().toSet == rows(8, "p").toSet)

    st.commitManifest(2, write(delta, fts))
    assert(st.latestSnapshot.contains(2))
    assert(st.read("frontier").as[(String, String, Int)].collect().toSet ==
      rows(8, "q").toSet)
    assert(st.read("seen").as[(String, String, Int)].collect().toSet ==
      (rows(8, "p") ++ rows(8, "q")).toSet)
    assert(st.read("pages_fts").as[(String, Int)].collect().toSet ==
      (0 until 4).map(i => (s"term$i", i)).toSet)
  }
}
