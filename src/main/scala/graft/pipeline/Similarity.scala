package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * (random-hyperplane) approximate variant as the scale path.
  *
  * The dot product / norms are `zip_with` + `aggregate` over the array —
  * stock Catalyst expressions, fully codegen'd, no UDF.
  */
object Similarity {

  /** Σ u[i]·v[i] in double precision — the fused codegen'd kernel
    * ([[graft.functions.DotProduct]], round 7); [[dotComposed]] is the
    * defining interpreted-HOF composition it is property-pinned against
    * (VecDotSpec), bit-identical including the left-fold accumulation
    * order and the null/length-mismatch semantics.
    */
  def dot(u: Column, v: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.graft.ColumnShim.expression(u),
        org.apache.spark.sql.graft.ColumnShim.expression(v)))

  /** the defining composition (see [[dot]]) — the executable spec. */
  private[graft] def dotComposed(u: Column, v: Column): Column =
    aggregate(zip_with(u, v, (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(u: Column): Column = sqrt(dot(u, u))

  def cosine(u: Column, v: Column): Column = dot(u, v) / (norm(u) * norm(v))

  /** Final per-query ranking shared by every ANN path — TWO-PHASE
    * SALTED top-k (the politeness-scheduler pattern): phase 1 ranks
    * within `(query_id, pmod(xxhash64(nn_id), S))` so no task ever holds
    * one query's full candidate set (a brute-force query against a
    * 10^10 corpus would otherwise funnel 10^10 scored rows into a
    * single window partition); phase 2 ranks the ≤ S·k survivors.
    * Result-identical to the single window: every global top-k row is
    * top-k within its salt bucket, and the (score DESC, nn_id ASC)
    * ordering is the same in both phases (ann01's exact oracle pins it).
    */
  private def topKPerQuery(scored: DataFrame, k: Int, saltBuckets: Int = 64): DataFrame = {
    val order = Seq(col("score").desc, col("nn_id").asc)
    val w1 = Window
      .partitionBy(col("query_id"), pmod(xxhash64(col("nn_id")), lit(saltBuckets)))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col("query_id")).orderBy(order: _*)
    scored
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), col("score"), col("rank"))
  }

  /** Exact top-k neighbors for each query vector (brute force).
    * O(|queries| × |corpus|) — correct baseline; queries side should be
    * small and is broadcast. Deterministic: ties broken by neighbor id
    * on the ROUNDED score (6 dp) so float-order noise can't flip ranks.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms are per-VECTOR, not per-pair: computed once on each side
    // BEFORE the crossJoin instead of twice per scored pair (round 7;
    // score values identical — same dot/(norm·norm) doubles in the same
    // order, ann01's exact oracle pins it)
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
      .withColumn("nn_norm", norm(col("nn_vec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("score", round(dot(col("q_vec"), col("nn_vec")) /
        (col("q_norm") * col("nn_norm")), 6))
    topKPerQuery(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim i): a seeded hash mapped to [-1, 1). No RNG state — pure
    * function, identical on every executor. Family-injectable
    * (HashFamily doc): xxhash64 default; Md5 maps its 48-bit h1 of
    * `md5(j:i)` to [-1, 1) with exact double arithmetic a DuckDB twin
    * reproduces bit-for-bit (CORRECTNESS dd06 / ann02).
    */
  private def planeComponent(j: Int, i: Column, family: HashFamily): Column =
    family match {
      case HashFamily.XxHash64 =>
        xxhash64(lit(j), i).cast("double") / lit(Long.MaxValue.toDouble)
      case HashFamily.Md5 =>
        family.hash(concat(lit(j.toString), lit(":"), i.cast("string")), 0)
          .cast("double") / lit(1.40737488355328e14) - lit(1.0)
    }

  /** Approximate top-k: bucket by hyperplane signature, rank within the
    * matched buckets only. Recall < 1 by construction (documented
    * tradeoff): per-table collision probability for angle θ is
    * (1 − θ/π)^nBits, so a SINGLE table retrieves ~1/2^nBits of the
    * corpus and on weakly-clustered embeddings recall@k is near chance
    * (measured 0.05 on the synthetic sf0.01 corpus — BENCH/BASELINE.md
    * round-6 recall table). `nTables` is the standard fix: independent
    * plane sets ([[bandSignature]]) union their candidates, lifting
    * recall to 1 − (1 − p)^nTables while the scanned fraction stays
    * ≤ nTables/2^nBits — the knob a production deployment tunes.
    *
    * Plan shape: signatures are computed in ONE corpus pass, the table
    * index rides a posexplode, and ONE equi-join on (table, bucket)
    * serves all tables; candidate pairs found by several tables are
    * deduped before scoring (identical vectors ⇒ identical score, so
    * the dedup is value-deterministic).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nBits: Int = 8,
      family: HashFamily = HashFamily.XxHash64,
      nTables: Int = 1): DataFrame = {
    // per-vector norms computed once per side, before the bucket join
    // (round 7 — the bruteForceTopK argument; values identical), and all
    // nTables signatures from ONE fused kernel pass instead of nTables
    // interpreted per-bit compositions (hyperplaneSigs; values pinned
    // fused ≡ composed in HyperplaneSpec, ann02/ann05 oracles exact)
    def sigTables(df: DataFrame, id: String, idAs: String, vecAs: String,
        normAs: String): DataFrame =
      df.select(col(id).as(idAs), col(vecCol).as(vecAs),
          posexplode(hyperplaneSigs(col(vecCol), nBits, nTables, family))
            .as(Seq("t", "bucket")))
        .withColumn(normAs, norm(col(vecAs)))
    val c = sigTables(corpus, idCol, "nn_id", "nn_vec", "nn_norm")
    val q = sigTables(queries, idCol, "query_id", "q_vec", "q_norm")
    val scored = c.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("nn_id"))
      .dropDuplicates("query_id", "nn_id")
      .withColumn("score", round(dot(col("q_vec"), col("nn_vec")) /
        (col("q_norm") * col("nn_norm")), 6))
    topKPerQuery(scored, k)
  }

  /** All `nTables` band signatures in ONE fused kernel pass
    * ([[graft.functions.HyperplaneSigs]], round 7): element t equals
    * `bandSignature(vec, nBits, t, family)` exactly (HyperplaneSpec
    * pins it, including the composition's null-swallowing-to-zero
    * semantics). The composition below stays as the executable spec.
    */
  def hyperplaneSigs(vec: Column, nBits: Int, nTables: Int,
      family: HashFamily): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.HyperplaneSigs(
        org.apache.spark.sql.graft.ColumnShim.expression(vec),
        nBits, nTables, family == HashFamily.Md5))

  /** nBits-bit signature for band `band` — independent plane sets per
    * band (seed folded into the plane index). The defining composition
    * (see [[hyperplaneSigs]], the fused production path).
    */
  def bandSignature(vec: Column, nBits: Int, band: Int,
      family: HashFamily = HashFamily.XxHash64): Column =
    (0 until nBits).map { j =>
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(band * 1024 + j, i, family)),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  /** Embedding near-duplicate pairs: hyperplane-bucketed candidates
    * verified by exact cosine ≥ tau (the embedding analogue of
    * MinHash-LSH for text). `bands` independent hash tables union their
    * candidates — the standard recall knob: per-band collision
    * probability is (1 - θ/π)^nBits, overall recall
    * 1 - (1 - p)^bands; exactness of emitted pairs is band-independent
    * (every candidate is verified).
    */
  def cosineNearDups(
      corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, nBits: Int = 8, bands: Int = 1,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    // per-vector norm once per corpus row (round 7), carried through the
    // candidate union so the verify never recomputes it per pair; all
    // band buckets from one fused hyperplaneSigs pass
    val hs = hyperplaneSigs(col(vecCol), nBits, bands, family)
    val sig = corpus.select(
      (Seq(col(idCol), col(vecCol), norm(col(vecCol)).as("vnorm")) ++
        (0 until bands).map(b =>
          element_at(hs, b + 1).as(s"bucket_$b"))): _*)
    val candidates = (0 until bands).map { b =>
      val a = sig.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
        col("vnorm").as("norm_a"), col(s"bucket_$b").as("bucket"))
      val bb = sig.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
        col("vnorm").as("norm_b"), col(s"bucket_$b").as("bucket"))
      a.join(bb, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "vec_a", "vec_b", "norm_a", "norm_b")
    }.reduce(_ unionByName _)
    candidates
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", round(dot(col("vec_a"), col("vec_b")) /
        (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Deterministic Lloyd k-means coarse quantizer for [[ivfTopK]]:
    * initial centroids are the `nClusters` vectors with the smallest
    * `xxhash64(id)` (a seeded, partitioning-free choice — no RNG state),
    * then `iters` assignment+mean rounds. Assignment is max-cosine with
    * (rounded-sim, cluster-id) tie-breaks; means are computed in exact
    * DECIMAL so the reduction order cannot perturb centroids — the whole
    * quantizer replays bit-identically under any partitioning (the
    * engine-wide determinism contract). Per iteration: one crossJoin
    * against the ≤nClusters broadcast centroids + two aggregations; only
    * the nClusters×dim centroid matrix ever reaches the driver.
    */
  def kmeansCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, iters: Int = 2,
      family: HashFamily = HashFamily.XxHash64): Seq[(Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // seeded, partitioning-free init choice; Md5 keys on the id's string
    // rendering so an external oracle can reproduce the pick
    val initKey = family match {
      case HashFamily.XxHash64 => xxhash64(col(idCol))
      case HashFamily.Md5      => family.hash(col(idCol).cast("string"), 0)
    }
    // per-component cluster mean, exactly reproducible under any
    // partitioning. XxHash64 (production): exact DECIMAL average — the
    // original contract. Md5 (oracle family): fixed-point micro-units —
    // sum of floor(x·10^6) longs divided as doubles — because DECIMAL
    // avg result types/rounding differ across engines, while integer
    // sums + one IEEE double division are bit-identical everywhere.
    def meanCol: Column = family match {
      case HashFamily.XxHash64 =>
        avg(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double")
      case HashFamily.Md5 =>
        sum(floor(col("x").cast("double") * lit(1000000.0)).cast("long"))
          .cast("double") / count(lit(1)).cast("double") / lit(1000000.0)
    }
    var centroids: Seq[(Int, Seq[Double])] = corpus
      .orderBy(initKey, col(idCol))
      .limit(nClusters)
      .select(col(vecCol).cast("array<double>"))
      .as[Seq[Double]].collect().toSeq.zipWithIndex
      .map { case (v, i) => (i, v) }
    for (_ <- 0 until iters) {
      val cdf = centroids.toDF("cluster_id", "cvec")
      val means = corpus
        .withColumn("v_norm", norm(col(vecCol)))
        .crossJoin(broadcast(cdf.withColumn("c_norm", norm(col("cvec")))))
        .withColumn("sim", round(dot(col(vecCol), col("cvec")) /
          (col("v_norm") * col("c_norm")), 9))
        .groupBy(col(idCol))
        .agg(
          min_by(col("cluster_id"),
            struct((lit(1.0) - col("sim")).as("d"), col("cluster_id"))).as("cluster_id"),
          first(col(vecCol)).as("v"))
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(meanCol.as("m"))
        .groupBy(col("cluster_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster_id"),
          transform(col("pm"), p => p.getField("m")).as("cvec"))
        .as[(Int, Seq[Double])].collect().toMap
      // empty clusters keep their previous centroid
      centroids = centroids.map { case (i, old) => (i, means.getOrElse(i, old)) }
    }
    centroids
  }

  /** IVF (inverted-file) approximate top-k — the classic
    * coarse-quantizer scale path alongside [[lshTopK]]: corpus vectors
    * are assigned to their max-cosine centroid ONCE (the inverted
    * lists); each query probes only its `nProbe` nearest centroids'
    * lists with exact cosine scoring. Cost per query falls from O(n) to
    * O(n·nProbe/nClusters) expected; recall < 1 when nProbe < nClusters
    * (the knob), and `nProbe == nClusters` degenerates to exactly
    * [[bruteForceTopK]] — the equality PipelineSpec pins. Same rounded
    * score + id tie-breaks as the exact baseline, so results are
    * deterministic under any partitioning.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nClusters: Int = 8, nProbe: Int = 2, iters: Int = 2,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cdf = kmeansCentroids(corpus, idCol, vecCol, nClusters, iters, family)
      .toDF("cluster_id", "cvec")
    probeIndex(assignToCentroids(corpus, cdf, idCol, vecCol), cdf,
      queries, idCol, vecCol, k, nProbe)
  }

  /** The IVF inverted lists: each corpus vector assigned ONCE to its
    * max-cosine centroid — `(nn_id, nn_vec, cluster_id)`. Pure function
    * of (corpus, centroids): the committed-index build, the incremental
    * append and the inline [[ivfTopK]] all share it, which is what makes
    * committed ≡ rebuilt an identity (PipelineSpec pins it).
    */
  def assignToCentroids(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    // vector norm once per corpus row (not once per centroid pair) and
    // centroid norms inside the tiny broadcast side (round 7; sim values
    // identical — ann03's exact oracle pins them)
    corpus
      .withColumn("v_norm", norm(col(vecCol)))
      .crossJoin(broadcast(centroids.withColumn("c_norm", norm(col("cvec")))))
      .withColumn("sim", round(dot(col(vecCol), col("cvec")) /
        (col("v_norm") * col("c_norm")), 9))
      .groupBy(col(idCol))
      .agg(
        min_by(col("cluster_id"),
          struct((lit(1.0) - col("sim")).as("d"), col("cluster_id"))).as("cluster_id"),
        first(col(vecCol)).as("nn_vec"))
      .select(col(idCol).as("nn_id"), col("nn_vec"), col("cluster_id"))

  /** Query-side half of an IVF probe: each query joined to its `nProbe`
    * max-cosine centroids — `(query_id, q_vec, cluster_id)`. Factored
    * out of [[probeIndex]] so a committed-index caller
    * ([[IvfIndex.probe]]) can learn WHICH clusters a query batch touches
    * BEFORE deciding how much of the index to read (the probed cluster
    * ids are ≤ nClusters distinct values — always driver-small, since
    * the centroid table itself is).
    */
  def probeAssignments(
      centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("cluster_id").asc)
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .crossJoin(broadcast(centroids.withColumn("c_norm", norm(col("cvec")))))
      .withColumn("psim", round(dot(col("q_vec"), col("cvec")) /
        (col("q_norm") * col("c_norm")), 9))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      // q_norm rides along so [[scoreProbed]] reuses it per scored pair
      .select(col("query_id"), col("q_vec"), col("q_norm"), col("cluster_id"))
  }

  /** Index-side half: score the probed lists, rank top-k. `index` may be
    * any superset of the probed clusters' rows (the equi join discards
    * the rest) — which is what lets [[IvfIndex.probe]] substitute a
    * cluster-pruned read without changing results.
    */
  def scoreProbed(index: DataFrame, qprobe: DataFrame, k: Int): DataFrame = {
    val scored = index
      .withColumn("nn_norm", norm(col("nn_vec")))
      .join(broadcast(qprobe), Seq("cluster_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("score", round(dot(col("q_vec"), col("nn_vec")) /
        (col("q_norm") * col("nn_norm")), 6))
    topKPerQuery(scored, k)
  }

  /** nProbe-list search over prebuilt inverted lists + centroids —
    * the query-time half of IVF, shared by [[ivfTopK]] (fresh index) and
    * [[IvfIndex.probe]] (committed index).
    */
  def probeIndex(
      index: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame =
    scoreProbed(index,
      probeAssignments(centroids, queries, idCol, vecCol, nProbe), k)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, published recipe):
    * cluster embeddings with the deterministic k-means quantizer, then
    * WITHIN each cluster drop every vector that has a smaller-id
    * neighbor with cosine ≥ tau — one deterministic representative per
    * near-duplicate neighborhood, O(Σ cluster²) not O(n²). Cross-cluster
    * near-dups are missed by construction — that is SemDeDup's
    * documented recall trade; raise nClusters for smaller clusters (and
    * cheaper pairs) at lower recall, or lower it for the opposite.
    * Returns every vector with its cluster and keep verdict.
    */
  def semDeDup(
      corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 8, tau: Double = 0.95, iters: Int = 2,
      family: HashFamily = HashFamily.XxHash64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(corpus, idCol, vecCol, nClusters, iters, family)
      .toDF("cluster_id", "cvec")
    val idx = assignToCentroids(corpus, cents, idCol, vecCol)
    val a = idx.select(col("cluster_id"), col("nn_id").as("id_a"), col("nn_vec").as("vec_a"))
      .withColumn("norm_a", norm(col("vec_a")))
    val b = idx.select(col("cluster_id"), col("nn_id").as("id_b"), col("nn_vec").as("vec_b"))
      .withColumn("norm_b", norm(col("vec_b")))
    val losers = a.join(b, Seq("cluster_id"))
      .filter(col("id_b") < col("id_a"))
      .filter(round(dot(col("vec_a"), col("vec_b")) /
        (col("norm_a") * col("norm_b")), 6) >= tau)
      .groupBy(col("id_a"))
      .agg(min(col("id_b")).as("dup_of"))
    idx.select(col("nn_id").as(idCol), col("cluster_id"))
      .join(losers.withColumnRenamed("id_a", idCol), Seq(idCol), "left")
      .withColumn("kept", col("dup_of").isNull)
  }

  /** EXACT near-duplicate pairs — the O(n²) verification baseline for
    * [[cosineNearDups]] (full oracle; run on samples/blocks at scale,
    * the LSH variant is the scale path). Filter on the raw cosine,
    * emit it rounded.
    */
  /** Per-vector affine int8 quantization — the storage/bandwidth
    * reduction step an embedding store runs before indexing (4× smaller
    * than float32; ANN rescoring dequantizes with the carried
    * (mn, scale)). Deterministic and cross-engine-exact: mn/mx are
    * exact float→double casts, `scale = (mx − mn)/255` and each code
    * `floor((x − mn)/scale + 0.5)` use only correctly-rounded IEEE ops
    * (the ta08 linear-idf argument), and a constant vector (scale 0)
    * quantizes to all-zero codes. Pure per-row codegen'd expressions —
    * zero shuffles, trivially 100-TB-parallel.
    *
    * Output: `(idCol, mn, mx, codes ARRAY<INT>)`.
    */
  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val mn = array_min(v).cast("double")
    val mx = array_max(v).cast("double")
    val scale = (mx - mn) / lit(255.0)
    val codes = when(mx === mn, transform(v, _ => lit(0)))
      .otherwise(transform(v,
        x => floor((x.cast("double") - mn) / scale + lit(0.5)).cast("int")))
    corpus.select(col(idCol), round(mn, 6).as("mn"), round(mx, 6).as("mx"),
      codes.as("codes"))
  }

  def exactCosinePairs(
      corpus: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    // per-vector norms once per side, not per pair (round 7; values
    // identical — dd07's exact oracle pins it)
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
      .withColumn("norm_a", norm(col("vec_a")))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
      .withColumn("norm_b", norm(col("vec_b")))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("c", dot(col("vec_a"), col("vec_b")) /
        (col("norm_a") * col("norm_b")))
      .filter(col("c") >= tau)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cos"))
  }
}
