package graft.queries

import graft.ops.VectorOps
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (array<float>, dim 64):
  * brute-force cosine top-k as the correctness baseline, random-hyperplane
  * LSH ANN as the scale path (recall pinned by ScalaTest, not by oracle —
  * bucket membership depends on engine-side float folds). */
object SimilarityQ {

  val queries: Map[String, Q] = Map(
    // -- brute-force top-5 cosine neighbors for query vectors vec_id < 20.
    "s01_knn_brute" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      // no trailing ORDER BY (r18, the d03 canon-sort precedent): the
      // range exchange's boundary sampling re-executed the window top-k
      // (a full sort of the scored relation) once more per run, to pick
      // split points for a ~100-row output
      VectorOps.knnBrute(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5)
    }),

    // -- LSH-bucketed ANN for the same queries (rows-only check).
    "s02_ann_lsh" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnLsh(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 5, tables = 8, bits = 10)
        .select("qid", "nid", "rk") // no tail sort: canon-sort precedent (r18)
    }),

    // -- IVF ANN for the same queries (rows-only check; recall pinned in
    //    OpsSpec against the brute-force baseline).
    "s04_ann_ivf" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnIvf(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 5, lists = 16, nprobe = 4)
        .select("qid", "nid", "rk") // no tail sort: canon-sort precedent (r18)
    }),

    // -- int8-quantized kNN for the same queries: 4× smaller vectors,
    //    integer dot products, no dequantization (cosine is
    //    scale-invariant). Candidate top-25 by int8 score, then the
    //    standard exact-cosine RERANK down to top-5 — candidate
    //    generation is impl-specific, the reranked top-5 is the exact
    //    relation (= s01's), so the driver's DuckDB oracle checks the
    //    whole compressed route end to end. Raw-variant recall vs s01 is
    //    still pinned in OpsSpec.
    "s05_ann_i8" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 20)
      VectorOps.rerankExact(
          VectorOps.knnQuantized(q, emb, "vec_id", "embedding", k = 25),
          q, emb, "vec_id", "embedding", k = 5)
      // no tail sort: canon-sort precedent (r18)
    }),

    // -- kNN in a 16-dim Rademacher projection of the 64-dim embeddings
    //    (hash-derived ±1 matrix, nothing stored or broadcast): the
    //    dimensionality-reduction compression path next to s05's int8
    //    quantization. Rows-only check — an exact-rerank oracle (the s05
    //    treatment) was MEASURED and rejected: this corpus is
    //    near-isotropic (max query cosine 0.37), so JL noise at outDim 16
    //    sinks true top-5 members to projected rank 405/500 (221/500 even
    //    at outDim 32 — S06Probe in REMOVED_PROBES.md), and no honest
    //    candidate
    //    margin covers that. Neighbor quality vs s01 is pinned in OpsSpec
    //    on clustered vectors, where the projection actually preserves
    //    structure.
    "s06_ann_project" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnProjected(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 5, outDim = 16)
        .orderBy("qid", "rk")
    }),

    // -- product-quantization ANN (VectorOps.knnPq): m=8 subspace
    //    codebooks trained with the distributed Lloyd trainer, 8-byte
    //    codes (32× compression — the third axis next to s05's int8 and
    //    s06's projection), asymmetric-distance scoring via one decode
    //    per base row, exact rerank to top-5. Rows-only driver check,
    //    the s06 call: this corpus is near-isotropic (max query cosine
    //    0.37), so 8-byte codes rank true top-5 members behind ~50
    //    reconstruction-ties (measured recall@5-from-50: 0.88/0.95/0.64
    //    across the three dirs — PqProbe in REMOVED_PROBES.md); no honest
    //    candidate margin covers that, while on CLUSTERED vectors (where
    //    PQ cells align with real structure) recall is 1.0, pinned in
    //    Round9OpsSpec.
    "s08_ann_pq" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnPq(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 5)
        .orderBy("qid", "rk")
    }),

    // -- k-means codebook training (rows-only: iterative training has no
    //    single SQL oracle; KMeansSpec pins planted-cluster recovery,
    //    determinism and the empty-cluster contract). Spherical variant —
    //    cosine assignment, the metric the IVF index retrieves by — with
    //    every Lloyd iteration ONE aggregation job over mergeable O(dim)
    //    VecSumD buffers; see graft.ops.KMeans.
    "s07_kmeans_codebook" -> ((s, d) =>
      graft.ops.KMeans.summary(
        T.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 3)),

    // -- the PERSISTED IVF route (ops/AnnIndex): the same retrieval task
    //    as s04 run through build-once/query-many state — trained
    //    codebook + list-partitioned assignments on disk, query scans
    //    ONLY its probed list partitions (static partition pruning,
    //    proven from the scan metric in AnnIndexSpec). Rows-only, the
    //    s04 rationale; the lifecycle (build/update/pruning/recall) is
    //    spec-pinned.
    "s09_ann_index" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val dir = s09IndexDir.getOrElseUpdate(d, {
        val out = java.nio.file.Files
          .createTempDirectory("graft_s09_index_").toString
        graft.ops.AnnIndex.build(emb, "vec_id", "embedding", out,
          lists = 16, iters = 3)
        out
      })
      graft.ops.AnnIndex.query(s, dir, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nprobe = 4)
        .select("qid", "nid", "rk")
        .orderBy("qid", "rk")
    }),

    // -- PLANTED-TWIN exactness slices (r16): each approximate route gets
    //    a deterministic regime where it MUST return the true answer —
    //    the 20 base vectors [100,120) re-presented as queries under
    //    fresh ids (+1e6, so the ops' self-exclusion doesn't fire). An
    //    identical vector collides in every LSH table, lands in its own
    //    IVF/index cell, projects onto itself, and dominates the PQ
    //    candidate margin (cos 1.0 vs the corpus max 0.37), so rank-1 is
    //    provably the twin; the rk=1 row is the hashed ledger output.
    //    The full top-k tails stay approximate by design (rows-only
    //    siblings s02/s04/s06/s08/s09 + OpsSpec recall pins).
    "s02b_lsh_planted" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnLsh(plantedQueries(emb), emb, "vec_id", "embedding",
          k = 5, tables = 8, bits = 10)
        .filter(col("rk") === 1)
        .select("qid", "nid", "rk")
        .orderBy("qid")
    }),

    "s04b_ivf_planted" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnIvf(plantedQueries(emb), emb, "vec_id", "embedding",
          k = 5, lists = 16, nprobe = 4)
        .filter(col("rk") === 1)
        .select("qid", "nid", "rk")
        .orderBy("qid")
    }),

    "s06b_proj_planted" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnProjected(plantedQueries(emb), emb, "vec_id", "embedding",
          k = 5, outDim = 16)
        .filter(col("rk") === 1)
        .select("qid", "nid", "rk")
        .orderBy("qid")
    }),

    "s08b_pq_planted" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      VectorOps.knnPq(plantedQueries(emb), emb, "vec_id", "embedding", k = 5)
        .filter(col("rk") === 1)
        .select("qid", "nid", "rk")
        .orderBy("qid")
    }),

    // -- PLANTED-CLUSTER k-means exactness slice (r17, the s02b–s09b
    //    pattern for the trainer): 4 well-separated synthetic clusters
    //    derived arithmetically from vec_id (dominant coordinate 8.0 on
    //    dim = vec_id%4, off-coordinates k/64 — dyadic rationals whose
    //    double sums are EXACT under any add order), warm-started from
    //    the basis vectors, so Lloyd provably converges in one pass to
    //    the per-cluster arithmetic means — which DuckDB computes as
    //    plain avg() over the same construction, bit-identically. The
    //    data-seeded variant stays rows-only (s07 — no SQL oracle for
    //    iterative training); this row hash-checks the assignment +
    //    mergeable-buffer update machinery end to end.
    "s07b_kmeans_planted" -> ((s, d) => {
      val emb = T.embeddings(s, d).filter(col("vec_id").isNotNull)
      val planted = emb.select(col("vec_id"),
        array((0 until 8).map(j =>
          when(col("vec_id") % 4 === j, lit(8.0))
            .otherwise(((col("vec_id") * (j + 1)) % 8).cast("double") / 64.0)): _*)
          .as("pv"))
      val basis = Array.tabulate(4, 8)((c, j) => if (j == c) 8.0 else 0.0)
      val cb = graft.ops.KMeans.fit(planted, "vec_id", "pv",
        k = 4, iters = 2, init = Some(basis))
      import s.implicits._
      cb.zipWithIndex.flatMap { case (cent, c) =>
        cent.zipWithIndex.map { case (v, j) => (c, j, v) } }.toSeq
        .toDF("cluster", "dim", "val").orderBy("cluster", "dim")
    }),

    "s09b_index_planted" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      val dir = s09IndexDir.getOrElseUpdate(d, {
        val out = java.nio.file.Files
          .createTempDirectory("graft_s09_index_").toString
        graft.ops.AnnIndex.build(emb, "vec_id", "embedding", out,
          lists = 16, iters = 3)
        out
      })
      graft.ops.AnnIndex.query(s, dir, plantedQueries(emb),
          "vec_id", "embedding", k = 5, nprobe = 4)
        .filter(col("rk") === 1)
        .select("qid", "nid", "rk")
        .orderBy("qid")
    }),

    // -- centroid similarity per label: average vector per label, then
    //    each vector's cosine to its own label centroid (exact decimal-free
    //    arithmetic is impossible here ⇒ aggregate stats only, rounded).
    "s03_centroid_stats" -> ((s, d) => {
      val emb = T.embeddings(s, d)
      emb.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(VectorOps.norm(col("embedding"))), 4).as("avg_norm"),
          round(min(VectorOps.norm(col("embedding"))), 4).as("min_norm"),
          round(max(VectorOps.norm(col("embedding"))), 4).as("max_norm"))
        .orderBy("label")
    })
  )

  private val s09IndexDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The planted-twin query set: base vectors [100,120) under fresh ids
    * (+1,000,000 — outside every SF's id range, so the ops' qid≠nid
    * exclusion keeps the twin eligible). */
  private def plantedQueries(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))

  val oracles: Map[String, String] = Map(
    "s01_knn_brute" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
        |p AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
        |             list_cosine_similarity(q.embedding, e.embedding) AS cos
        |      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
        |r AS (SELECT qid, nid,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rk
        |      FROM p)
        |SELECT qid, nid, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // s05 outputs the exact-reranked top-5 — identical relation to s01
    // computed through the int8-quantized candidate route (5× candidate
    // margin, int8 error ≪ neighbor gaps), so the brute-force SQL is its
    // oracle too: a genuine differential of the compression path against
    // exact search.
    "s05_ann_i8" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
        |p AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
        |             list_cosine_similarity(q.embedding, e.embedding) AS cos
        |      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
        |r AS (SELECT qid, nid,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rk
        |      FROM p)
        |SELECT qid, nid, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // s03 IS oracle-able: NormF32 sums float squares left-to-right in
    // DOUBLE, so the DuckDB twin must also widen each element to double
    // BEFORE squaring (list_transform + list_sum evaluates in list order
    // → bit-identical per-row norms; min/max exact, avg robust at 4dp).
    // A float32 list_dot_product would drift past the rounding instead.
    "s03_centroid_stats" ->
      """SELECT label, count(*) AS n_vecs,
        |  round(avg(sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm,
        |  round(min(sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS min_norm,
        |  round(max(sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS max_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    // s02/s04/s06/s08/s09 full top-k: no oracle — LSH/IVF candidate sets
    // are hash-impl-specific with no exactness guarantee at their pruning
    // strength, and the 16-dim projection measurably cannot cover the
    // exact top-5 on this isotropic corpus (S06Probe in
    // REMOVED_PROBES.md); recall/quality vs
    // s01 is pinned in OpsSpec instead. The r16 planted-twin slices below
    // ARE exact: an identical vector is guaranteed through every route.
    // s07b: the converged codebook equals the per-cluster means of the
    // planted construction — plain SQL avg() over the same arithmetic
    // (exact dyadic values ⇒ order-free sums ⇒ bit-identical doubles).
    "s07b_kmeans_planted" ->
      """WITH p AS (
        |  SELECT vec_id, CAST(vec_id % 4 AS INT) AS cluster
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |), dims AS (SELECT CAST(unnest(range(8)) AS INT) AS dim),
        |v AS (
        |  SELECT p.cluster, dims.dim,
        |         CASE WHEN dims.dim = p.cluster THEN CAST(8.0 AS DOUBLE)
        |              ELSE CAST((p.vec_id * (dims.dim + 1)) % 8 AS DOUBLE) / 64.0
        |         END AS x
        |  FROM p, dims)
        |SELECT cluster, dim, avg(x) AS val
        |FROM v GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin,

    "s02b_lsh_planted" -> plantedOracle,
    "s04b_ivf_planted" -> plantedOracle,
    "s06b_proj_planted" -> plantedOracle,
    "s08b_pq_planted" -> plantedOracle,
    "s09b_index_planted" -> plantedOracle
  )

  /** The planted-twin ground truth, computable from the same parquet:
    * rank-1 for a duplicated query IS its twin (cosine exactly 1 beats
    * the corpus max 0.37 — measured, S06Probe/PqProbe in
    * REMOVED_PROBES.md). */
  private lazy val plantedOracle: String =
    """SELECT vec_id + 1000000 AS qid, vec_id AS nid, CAST(1 AS INT) AS rk
      |FROM embeddings WHERE vec_id >= 100 AND vec_id < 120
      |ORDER BY qid""".stripMargin
}
