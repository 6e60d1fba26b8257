package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Iceberg-shaped snapshot layer over Parquet + JSON manifests
  * (SURVEY.md §9.4 — `/opt/spark/jars` ships no Iceberg runtime, so this
  * implements the Iceberg semantics the engine relies on behind a small
  * surface that an Iceberg catalog implementation can replace verbatim:
  *
  *   - atomic snapshot commit: data files written first, then a manifest
  *     JSON listing every table's data directories is moved into place
  *     with an atomic rename; `_latest` is flipped last. A crashed commit
  *     leaves the previous snapshot intact (readers never see partials).
  *     `writeData` / `commitManifest` are exposed separately so callers
  *     can persist auxiliary state (the seen-set Bloom sidecar) after all
  *     data lands but before the snapshot becomes visible.
  *   - time travel: `readAt(table, snapshot)` reads the manifest of any
  *     retained snapshot.
  *   - append tables accumulate per-snapshot delta directories (like
  *     Iceberg appends adding data files); `compact` rewrites a table's
  *     deltas into one sorted directory and commits a manifest pointing
  *     at it (like a bin-pack rewrite + snapshot expiry).
  *
  * ALL of a snapshot's tables — overwrites AND append deltas — are
  * written by a FIXED handful of Spark jobs (row-heavy narrow tables in
  * one tagged union, wide low-row tables in another, row-count-dominant
  * `solo` tables each alone with their exact schema — see `writeData`),
  * so the manifest entry for table t is
  * `combined/{delta,rows,solo-t}-XXXX/_t=t`. The driver plans/compiles/
  * commits a few writes instead of one per table — between small
  * per-round stages the per-table write tails, not the executors, were
  * the bottleneck (measured: the per-round fixed cost capped 8→32-core
  * scaling at 0.27 efficiency in round 1).
  * Each table's exact schema is recorded in the manifest (`_schema:` keys)
  * and re-imposed on read, so empty deltas, the null-padded superset
  * files and plain per-table directories all read back identically.
  *
  * With a real Iceberg runtime, `commit` becomes `MERGE INTO`/append on
  * `spark.table("cat.db.t")` and the manifest handling disappears.
  */
final class SnapshotStore(val rootDir: String, spark: SparkSession) {

  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  private def manifestPath(snap: Int): Path = root.resolve(f"_snap-$snap%06d.json")
  private def latestPath: Path = root.resolve("_latest")
  private val SchemaKey = "_schema:"
  /** marker: table's compact base is hash-prefix partitioned —
    * `_pfxlen:t -> [srcCol, len]` (partition dirs `_pfx=<prefix>`). */
  private val PrefixKey = "_pfxlen:"
  private val PrefixCol = "_pfx"
  /** small string tags riding the manifest, carried forward by later
    * commits until overwritten — e.g. a streaming ingest's committed
    * batch-id high-water mark (the foreachBatch idempotence recipe). */
  private val TagKey = "_tag:"

  def latestSnapshot: Option[Int] =
    if (Files.exists(latestPath)) Some(Files.readString(latestPath).trim.toInt) else None

  /** table -> list of data dirs (relative to root) + _schema: entries. */
  private def readManifest(snap: Int): Map[String, Seq[String]] =
    parseManifest(Files.readString(manifestPath(snap)))

  /** Write snapshot `snap`'s data files: ALL tables — `overwrite` (fresh
    * dir replacing prior ones) AND `append` (delta accumulating) — are
    * tagged, unioned (missing columns null-padded) and written
    * `partitionBy("_t")` by at most TWO Spark jobs. Two, not one-per-table
    * and not one-for-all:
    *
    *   - one-per-table (the original shape) pays a short low-parallelism
    *     write tail PER TABLE per round — measured as the dominant
    *     per-round Amdahl term in the 8v32 scaling ladder;
    *   - one-for-all null-pads every row to the ~40-column superset of
    *     ALL table schemas. `UnsafeRowWriter.setNullAt` on the padding
    *     profiled at 14% of whole-crawl executor CPU, paid mostly by the
    *     row-heavy narrow tables (FTS postings: millions of 5-column rows
    *     per round padded ×8).
    *
    * `rowHeavy` names the many-rows/few-columns tables; they union into
    * their own narrow write, everything else into a second. `solo`
    * names tables whose row count dominates the whole snapshot (the FTS
    * postings: one row per term per fetched page) — each gets its OWN
    * write job with its exact schema, because even inside the narrow
    * row-heavy union the dominant table pays `UnsafeRowWriter.setNullAt`
    * + `zeroOutNullBytes` on every missing superset column per row —
    * profiled at ~6% of whole-crawl executor CPU (top JFR execution
    * frame) with postings padded 5 → ~21 columns. Three write jobs per
    * round instead of two — still amortized; the per-table job-tail
    * regime this design replaced was eleven. Attach observations
    * UPSTREAM (on the individual delta) — they ride whichever write
    * their table lands in.
    */
  def writeData(
      snap: Int,
      overwrite: Map[String, DataFrame],
      append: Map[String, DataFrame],
      rowHeavy: Set[String] = Set.empty,
      solo: Set[String] = Set.empty)
      : Map[String, Seq[String]] = {
    // a table in BOTH maps would silently clobber: the solo path would
    // aim two writeUnion overwrites at the same dir, and the union
    // paths' manifest bookkeeping assumes the overwrite dir supersedes —
    // there is no meaningful "overwrite AND append in one commit"
    require((overwrite.keySet intersect append.keySet).isEmpty,
      s"table(s) in both overwrite and append: " +
        (overwrite.keySet intersect append.keySet).mkString(", "))
    val prev: Map[String, Seq[String]] =
      latestSnapshot.map(readManifest).getOrElse(Map.empty)

    val entries = scala.collection.mutable.Map[String, Seq[String]](prev.toSeq: _*)

    // the WRITE half — thread-safe (no shared mutable state): may run
    // concurrently with the other unions' writes (see below)
    def writeUnion(rel: String, tables: Seq[(String, DataFrame)]): Unit = {
      if (tables.isEmpty) return
      val union = tables
        .map { case (t, df) =>
          df.withColumn("_t", org.apache.spark.sql.functions.lit(t))
        }
        .reduce(_.unionByName(_, allowMissingColumns = true))
      union.write.mode("overwrite").partitionBy("_t")
        .parquet(root.resolve(rel).toString)
    }

    // the BOOKKEEPING half — applied sequentially after the writes
    def recordUnion(rel: String, tables: Seq[(String, DataFrame)]): Unit =
      tables.foreach { case (t, df) =>
        val dir = s"$rel/_t=$t"
        entries(t) =
          if (overwrite.contains(t)) Seq(dir)
          else entries.getOrElse(t, Seq.empty) :+ dir
        entries(SchemaKey + t) = Seq(df.schema.toDDL)
      }

    val all = (overwrite.toSeq ++ append.toSeq).sortBy(_._1)
    val (soloTabs, all0) = all.partition { case (t, _) => solo(t) }
    val (heavy, rest) = all0.partition { case (t, _) => rowHeavy(t) }
    val unions: Seq[(String, Seq[(String, DataFrame)])] =
      (Seq(f"combined/delta-$snap%06d" -> rest,
        f"combined/rows-$snap%06d" -> heavy) ++
        soloTabs.map { case (t, df) =>
          f"combined/solo-$t-$snap%06d" -> Seq(t -> df)
        }).filter(_._2.nonEmpty)
    // the 2-3 per-snapshot write jobs are INDEPENDENT (disjoint tables,
    // disjoint output dirs) and each carries a low-parallelism tail —
    // submit them concurrently so the FIFO scheduler back-fills one
    // job's tail with the next job's tasks (optimization guide §2.6).
    // Failure rule: wait for EVERY submitted write to finish, then
    // rethrow the first failure (submission order) with the others
    // suppressed — no write job outlives the exception, so a caller's
    // retry of `snap` never races a stale write into the same dirs.
    // Manifest bookkeeping stays sequential below, and the manifest flip
    // (`commitManifest`) comes strictly after every write.
    if (unions.size <= 1) {
      unions.foreach { case (rel, tabs) => writeUnion(rel, tabs) }
    } else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = SnapshotStore.writeEc
      val fs = unions.map { case (rel, tabs) =>
        Future(writeUnion(rel, tabs))
      }
      val failures = fs.flatMap(f => Await.ready(f, Duration.Inf).value.get.failed.toOption)
      failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        throw e
      }
    }
    unions.foreach { case (rel, tabs) => recordUnion(rel, tabs) }
    entries.toMap
  }

  /** Flip snapshot `snap` live (atomic manifest + `_latest` rename). */
  def commitManifest(snap: Int, entries: Map[String, Seq[String]]): Unit = {
    val tmp = root.resolve(f"_snap-$snap%06d.json.tmp")
    Files.writeString(tmp, renderManifest(entries))
    Files.move(tmp, manifestPath(snap), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val tmpLatest = root.resolve("_latest.tmp")
    Files.writeString(tmpLatest, snap.toString)
    Files.move(tmpLatest, latestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def commit(
      snap: Int,
      overwrite: Map[String, DataFrame],
      append: Map[String, DataFrame],
      tags: Map[String, String] = Map.empty): Unit =
    commitManifest(snap, writeData(snap, overwrite, append) ++
      tags.map { case (k, v) => (TagKey + k, Seq(v)) })

  /** Tag value in the LATEST snapshot (None before any tagged commit).
    * Tags carry forward: `writeData` seeds entries from the previous
    * manifest, so a tag persists until a later commit overwrites it.
    */
  def latestTag(key: String): Option[String] =
    latestSnapshot.flatMap(s => readManifest(s).get(TagKey + key))
      .flatMap(_.headOption)

  def read(table: String): DataFrame =
    readAt(table, latestSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot committed under $rootDir")))

  def readAt(table: String, snap: Int): DataFrame = {
    val m = readManifest(snap)
    val dirs = m.getOrElse(table,
      throw new IllegalArgumentException(s"table $table absent in snapshot $snap"))
    // a combined delta only materializes _t= subdirs for non-empty tables;
    // skip absent ones (the recorded schema keeps empty reads typed)
    val present = dirs.map(d => root.resolve(d).toString)
      .filter(d => Files.exists(Paths.get(d)))
    m.get(SchemaKey + table).flatMap(_.headOption) match {
      case Some(ddl) =>
        val schema = StructType.fromDDL(ddl)
        if (present.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else if (m.contains(PrefixKey + table)) {
          // prefix-partitioned compact base + flat delta dirs cannot share
          // one multi-path read (inconsistent partition discovery): read
          // the groups separately, drop the discovered partition column,
          // union — logically identical to the flat layout
          val (base, flat) = present.partition(_.contains(s"/$table/compact-"))
          val parts = Seq(
            if (base.nonEmpty) Some(spark.read.schema(schema).parquet(base: _*)
              .drop(PrefixCol).select(schema.fieldNames.map(
                org.apache.spark.sql.functions.col): _*)) else None,
            if (flat.nonEmpty) Some(spark.read.schema(schema).parquet(flat: _*)) else None
          ).flatten
          parts.reduce(_ unionByName _)
        }
        // explicit schema: selects exactly the table's columns out of the
        // null-padded combined files, types pinned, no inference I/O
        else spark.read.schema(schema).parquet(present: _*)
      case None => // pre-batching manifest (plain per-table dirs only)
        spark.read.parquet(present: _*)
    }
  }

  /** (source column, prefix length) when `table`'s compact base is
    * hash-prefix partitioned in the LATEST snapshot.
    */
  def prefixInfo(table: String): Option[(String, Int)] =
    latestSnapshot.flatMap(s => readManifest(s).get(PrefixKey + table))
      .collect { case Seq(colName, len) => (colName, len.toInt) }

  /** Prefix-pruned point-lookup read (latest snapshot): rows of `table`
    * whose source-column prefix ∈ `prefixes` — reads ONLY those
    * `_pfx=` partition dirs of the compact base — plus ALL rows of the
    * un-compacted delta dirs (not prefix-laid-out, bounded by the
    * compaction cadence). EXACT for membership tests on those prefixes:
    * the base partitioning is total on the prefix, so every row with a
    * probed prefix is either in a selected dir or in a delta. None when
    * the table has no prefix layout (caller falls back to the full read).
    */
  def readPrefixPruned(table: String, prefixes: Seq[String]): Option[DataFrame] = {
    if (!latestSnapshot.exists(s => readManifest(s).contains(PrefixKey + table)))
      return None
    val snap = latestSnapshot.get
    val m = readManifest(snap)
    val schema = StructType.fromDDL(m(SchemaKey + table).head)
    val (baseDirs, flatDirs) = m(table).partition(_.startsWith(s"$table/compact-"))
    val leaves = for {
      d <- baseDirs
      p <- prefixes
      leaf = root.resolve(d).resolve(s"$PrefixCol=$p")
      if Files.exists(leaf)
    } yield leaf.toString
    val flats = flatDirs.map(d => root.resolve(d).toString)
      .filter(d => Files.exists(Paths.get(d)))
    // leaf dirs contain the logical columns only (partitionBy strips the
    // partition col from the files), so both groups read schema-identical
    val parts = Seq(
      if (leaves.nonEmpty) Some(spark.read.schema(schema).parquet(leaves: _*)) else None,
      if (flats.nonEmpty) Some(spark.read.schema(schema).parquet(flats: _*)) else None
    ).flatten
    Some(
      if (parts.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else parts.reduce(_ unionByName _))
  }

  def tablesAt(snap: Int): Set[String] =
    readManifest(snap).keySet
      .filterNot(k =>
        k.startsWith(SchemaKey) || k.startsWith(PrefixKey) || k.startsWith(TagKey))

  /** Bin-pack an append table's deltas into one directory sorted by
    * `sortCols` (keeps the 10^10-row `seen` anti-join input clustered by
    * fingerprint — SURVEY.md §5 physical layout). Commits snapshot `snap`.
    * `retain` (optional) filters rows while rewriting — the TTL/retention
    * delete path (rows failing the predicate are dropped from the new
    * snapshot; prior snapshots still see them — Iceberg rewrite+expiry).
    * `rewrite` (optional) transforms the surviving rows — e.g. collapsing
    * duplicate FTS postings — and runs AFTER `retain`; it must preserve
    * the table's schema.
    */
  /** `hashPrefix = Some((srcCol, len))` additionally lays the compacted
    * base out as `_pfx=<substring(srcCol, 1, len)>` partition dirs (hex
    * key ⇒ 16^len dirs) — the physical index behind [[readPrefixPruned]].
    * The range partitioning on `sortCols` keeps each write task's rows
    * contiguous in the key, so a task touches ~1 prefix dir and the file
    * count stays ≈ max(buckets, 16^len), not buckets × 16^len.
    */
  def compact(
      snap: Int,
      table: String,
      sortCols: Seq[String],
      buckets: Int,
      retain: Option[Column] = None,
      rewrite: Option[DataFrame => DataFrame] = None,
      hashPrefix: Option[(String, Int)] = None): Unit = {
    val df0 = read(table)
    val df1 = retain.map(df0.filter).getOrElse(df0)
    val df = rewrite.map(_.apply(df1)).getOrElse(df1)
    import org.apache.spark.sql.functions.{col, substring}
    val rel = f"$table/compact-$snap%06d"
    val laid = df.repartitionByRange(buckets, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    hashPrefix match {
      case Some((src, len)) =>
        laid.withColumn(PrefixCol, substring(col(src), 1, len))
          .write.mode("overwrite").partitionBy(PrefixCol)
          .parquet(root.resolve(rel).toString)
      case None =>
        laid.write.mode("overwrite").parquet(root.resolve(rel).toString)
    }
    val prev = latestSnapshot.map(readManifest).getOrElse(Map.empty)
    val entries0 = prev
      .updated(table, Seq(rel))
      .updated(SchemaKey + table, Seq(df.schema.toDDL))
    val entries = hashPrefix match {
      case Some((src, len)) => entries0.updated(PrefixKey + table, Seq(src, len.toString))
      case None             => entries0 - (PrefixKey + table)
    }
    commitManifest(snap, entries)
  }

  // --- tiny hand-rolled JSON (flat {str: [str]} shape only) ---

  private def renderManifest(m: Map[String, Seq[String]]): String =
    m.toSeq.sortBy(_._1).map { case (t, dirs) =>
      "\"" + t + "\": [" + dirs.map(d => "\"" + d + "\"").mkString(", ") + "]"
    }.mkString("{\n  ", ",\n  ", "\n}\n")

  private def parseManifest(txt: String): Map[String, Seq[String]] = {
    val entryRx = """"([^"]+)"\s*:\s*\[([^\]]*)\]""".r
    val strRx = """"([^"]+)"""".r
    entryRx.findAllMatchIn(txt).map { m =>
      m.group(1) -> strRx.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq
    }.toMap
  }
}

object SnapshotStore {

  /** Shared pool for the concurrent per-snapshot write jobs (guide
    * §2.6): 3 threads — at most delta + rows + one solo write are ever
    * in flight per commit, and FIFO scheduling back-fills tails. Daemon
    * threads so an exiting driver never hangs on the pool.
    */
  private[store] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-snapshot-write-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        }))

  /** The many-rows/few-columns crawl tables — routed to their own narrow
    * combined write (see [[SnapshotStore.writeData]] scaladoc).
    */
  val RowHeavyTables: Set[String] = Set(
    "seen", "pages", "pages_fts", "links", "media_refs", "emails",
    "btc_addresses", "ssh_fps", "open_ports", "crawl_log")

  /** Row-count-dominant tables written alone with their exact schema —
    * no superset null-padding (see [[SnapshotStore.writeData]]).
    */
  val SoloTables: Set[String] = Set("pages_fts")
}
