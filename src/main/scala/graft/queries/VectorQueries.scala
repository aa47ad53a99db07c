package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.VectorFunctions._
import graft.similarity.Ann
import Tables.t

/** Similarity-search surface over `embeddings` (SURVEY.md §2.4): vector
  * math via the codegen'd Catalyst expressions, exact brute-force top-k,
  * sign-LSH / IVF approximate variants, int8 quantization, the staged
  * retrievals (prefix-dim two-stage v08, quantized-coarse v09, their v10
  * composition, IVF×SQ v11), product quantization (v15, stored-codes
  * v16, IVF×PQ v17), semantic dedup (v12/v13) and the SQL function
  * surface (v14). EVERY query carries a computed DuckDB oracle — the
  * LSH/IVF/PQ ones replay bucket/cell/codeword assignment (±1 plane
  * matrix and codebooks re-derived from the same rules), candidate join,
  * and exact-cosine rank end-to-end; recall vs the exact baseline is
  * additionally bounded in LlmOpsSpec.
  *
  * Oracle parity note: DuckDB's list_cosine_similarity computes in float32,
  * so the oracles cast to DOUBLE[] first, and both sides RANK BY THE
  * ROUNDED similarity (5dp + epsilon) with id tiebreaks, so a 1-ulp
  * cross-engine difference cannot reorder the top-k.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------- vector stats
  private val v01: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .select(
        col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(vec_norm(col("embedding")) + 1e-9, 5).as("l2_norm"),
        round(vec_dot(col("embedding"), col("embedding")) + 1e-9, 5).as("self_dot"))

  private val v01Sql =
    """SELECT vec_id, label,
       CAST(len(embedding) AS INT) AS dim,
       round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) + 1e-9, 5)
         AS l2_norm,
       round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) + 1e-9, 5)
         AS self_dot
       FROM embeddings"""

  // ----------------------------------------------- exact cosine top-k (kNN)
  private val v02: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    // over-fetch (k=10), then re-rank by the ROUNDED similarity and cut to 5
    // so both engines order identically even on 5dp ties
    Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine") + 1e-9, 5).as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("corpus_id"))))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  private val v02Sql =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        sims AS (
          SELECT q.query_id, c.corpus_id,
                 round(list_cosine_similarity(c.cv, q.qv) + 1e-9, 5) AS cosine
          FROM c, q WHERE c.corpus_id <> q.query_id),
        ranked AS (
          SELECT query_id, corpus_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS rank
          FROM sims)
       SELECT query_id, rank, corpus_id, cosine FROM ranked WHERE rank <= 5"""

  // ------------------------------------------- centroid distance per label
  // Aggregate vector math: per-label centroid (element-wise mean via
  // posexplode → avg → collect back), then each vector's cosine to its own
  // label centroid — the classic "does the labeling cohere" check.
  private val v03: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val centroids = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("cx")).as("centroid"))
    emb.join(broadcast(centroids), "label")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg(vec_cosine(col("embedding"), col("centroid"))) + 1e-6, 4)
          .as("avg_cohesion"))
  }

  // Oracle: the same centroid/cosine pipeline in DuckDB list SQL. The
  // element-wise means and the cohesion average accumulate in
  // engine-specific order, but 4dp rounding with the 1e-6 nudge gives
  // ~11 orders of magnitude of margin over the 1-ulp differences
  // (verified cell-identical at sf0.01); ScalaTest keeps the independent
  // centroid bound.
  private val v03Sql =
    """WITH expl AS (
         SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
                unnest(CAST(embedding AS DOUBLE[])) AS x
         FROM embeddings),
       cent AS (
         SELECT label, pos, avg(x) AS cx FROM expl GROUP BY label, pos),
       cvec AS (
         SELECT label, list(cx ORDER BY pos) AS centroid FROM cent GROUP BY label),
       scored AS (
         SELECT e.label,
           list_sum(list_transform(generate_series(1, len(e.embedding)),
             i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]))
           / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x*x)))
              * sqrt(list_sum(list_transform(c.centroid, x -> x*x)))) AS cos
         FROM embeddings e JOIN cvec c USING (label))
       SELECT label, count(*) AS n_vectors,
              round(avg(cos) + 1e-6, 4) AS avg_cohesion
       FROM scored GROUP BY label"""

  // -------------------------------------------------- LSH approximate top-k
  // Deterministic end-to-end: splitmix-seeded planes, rank tiebreak on
  // corpus_id. Oracle = full DuckDB replay — the ±1 plane matrix is inlined
  // as SQL literals (same splitmix constants, generated at SQL-build time),
  // bucket assignment + bucket join + exact cosine rank all recomputed
  // independently. Over-fetch (k=10) then re-rank by the ROUNDED similarity
  // and cut to 5 (the v02 convention) so 5dp ties order identically in both
  // engines. Recall@5 vs the exact baseline stays asserted in LlmOpsSpec.
  private val v04: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    Ann.lshTopK(emb, queries, "vec_id", "embedding", k = 10,
      planes = 8, tables = 4)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine") + 1e-9, 5).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("corpus_id"))))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  /** The ±1 plane matrix as DuckDB VALUES rows — one row per (table,
    * plane), generated from the SAME [[Ann.planeSign]]/[[Ann.tableSeed]]
    * the Spark expression folds into its plan, so the oracle replays
    * bucket assignment from first principles rather than trusting Spark's
    * output. `bitval` carries the plane's bit so the code accumulates as a
    * plain SUM (DuckDB widens to HUGEINT; cast back — codes only join,
    * but keep types tame).
    */
  private def planeRows(planes: Int, tables: Int, seed: Long, dim: Int): String =
    (for { tb <- 0 until tables; p <- 0 until planes } yield {
      val s = Ann.tableSeed(seed, tb)
      val signs = (0 until dim)
        .map(d => if (Ann.planeSign(s, p, d) > 0) "1" else "-1").mkString(",")
      s"($tb,${1L << p},[$signs])"
    }).mkString(",\n         ")

  /** Shared replay CTEs: embeddings as DOUBLE lists, the plane matrix, and
    * per-(vector, table) bucket codes — bit p set iff dot(v, plane_p) >= 0,
    * exactly [[Ann.signBucket]]'s rule. Sign flips would need the two
    * engines' 64-term dot products to straddle 0 within ~1e-15 — the same
    * tolerance argument v02/v03 already rest on.
    */
  private def codesCtes(planes: Int, tables: Int, seed: Long, dim: Int): String =
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       planes(table_id, bitval, signs) AS (VALUES
         ${planeRows(planes, tables, seed, dim)}),
       codes AS (
         SELECT e.vec_id, p.table_id,
                CAST(sum(CASE WHEN list_sum(list_transform(
                         generate_series(1, $dim), i -> e.v[i] * p.signs[i])) >= 0
                     THEN p.bitval ELSE 0 END) AS BIGINT) AS code
         FROM emb e CROSS JOIN planes p
         GROUP BY e.vec_id, p.table_id)"""

  private val v04Sql =
    s"""WITH ${codesCtes(planes = 8, tables = 4, seed = 7L, dim = 64)},
        qc AS (SELECT vec_id, table_id, code FROM codes WHERE vec_id < 10),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
          FROM codes c JOIN qc q ON c.table_id = q.table_id AND c.code = q.code
          WHERE c.vec_id <> q.vec_id),
        sims AS (
          SELECT cand.query_id, cand.corpus_id,
                 round(list_cosine_similarity(ce.v, qe.v) + 1e-9, 5) AS cosine
          FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                    JOIN emb qe ON qe.vec_id = cand.query_id),
        ranked AS (
          SELECT query_id, corpus_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS rank
          FROM sims)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine
       FROM ranked WHERE rank <= 5"""

  // ------------------------------------------------- embedding near-dup pairs
  // Oracle = same full replay as v04 with this surface's parameters
  // (4 planes × 8 tables): codes → any-table collision pairs → exact
  // cosine, threshold applied to the UNROUNDED cosine exactly as
  // Dedup.embeddingPairs does (a cross-engine flip would need a cosine
  // within ~1e-15 of 0.4).
  private val v05: Q = (s, dir) =>
    Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, planes = 4, tables = 8)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
        round(col("cosine") + 1e-9, 5).as("cosine"))

  private val v05Sql =
    s"""WITH ${codesCtes(planes = 4, tables = 8, seed = 7L, dim = 64)},
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM codes a JOIN codes b ON a.table_id = b.table_id AND a.code = b.code
          WHERE a.vec_id < b.vec_id),
        scored AS (
          SELECT cand.vec_a, cand.vec_b,
                 list_cosine_similarity(ea.v, eb.v) AS raw
          FROM cand JOIN emb ea ON ea.vec_id = cand.vec_a
                    JOIN emb eb ON eb.vec_id = cand.vec_b)
       SELECT vec_a, vec_b, round(raw + 1e-9, 5) AS cosine
       FROM scored WHERE raw >= 0.4"""

  // ---------------------------------------------------- IVF approximate top-k
  // The inverted-file scale path (SURVEY.md §2.4): Voronoi cells over
  // deterministic centroids (the 16 lowest-id corpus vectors), nProbe
  // cells scanned per query. Oracle = full DuckDB replay of that rule —
  // centroid pick, per-vector argmax assignment, probe join, exact cosine —
  // with the v02/v04 over-fetch + rounded-rerank convention on both sides.
  private val v06: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    Ann.ivfTopK(emb, queries, "vec_id", "embedding", k = 10,
      nCentroids = 16, nProbe = 4)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine") + 1e-9, 5).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("corpus_id"))))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
  }

  // ----------------------------------------------- int8 quantization (v07)
  // Embedding compression for corpus-scale storage: unit-normalize, clamp
  // each component to int8 via floor(x*127 + 0.5) — spelled as floor(+0.5)
  // rather than round() because the two engines' round() disagree on ties
  // — then measure the L2 reconstruction error. Fully replayed by the
  // oracle; summaries (sum/min/max of the codes) keep the compare on
  // stable scalar columns.
  private val v07: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm",
        sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, b) => a + b)))
      .withColumn("q",
        transform(col("v"), x => floor(x / col("nrm") * 127 + 0.5).cast("int")))
      .select(
        col("vec_id"),
        aggregate(col("q"), lit(0L), (a, b) => a + b.cast("long")).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        round(sqrt(aggregate(
          zip_with(col("v"), col("q"),
            (x, qq) => (x / col("nrm") - qq.cast("double") / 127.0) *
              (x / col("nrm") - qq.cast("double") / 127.0)),
          lit(0.0), (a, b) => a + b)) + 1e-6, 4).as("recon_err"))

  private val v07Sql =
    """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT vec_id, v,
                sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM n),
        q AS (SELECT vec_id, v, nrm,
                list_transform(v, x -> CAST(floor(x/nrm*127 + 0.5) AS INT)) AS qv
              FROM m)
       SELECT vec_id,
         CAST(list_sum(qv) AS BIGINT) AS q_sum,
         list_min(qv) AS q_min,
         list_max(qv) AS q_max,
         round(sqrt(list_sum(list_transform(generate_series(1, len(v)),
             i -> (v[i]/nrm - qv[i]/127.0) * (v[i]/nrm - qv[i]/127.0)))) + 1e-6, 4)
           AS recon_err
       FROM q"""

  // ------------------------------ two-stage coarse→rerank retrieval (v08)
  // Matryoshka-style staged ANN (Ann.twoStageTopK): rank everything by
  // 16-dim prefix cosine, exact-rerank the top-50 at full 64 dims. Both
  // stages rank on the 5dp-rounded similarity (rankRoundDp) so the DuckDB
  // replay cuts the identical candidate set.
  private val v08: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Ann.twoStageTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, coarseDims = 16, nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("coarse_cos"))
  }

  private val v08Sql =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv, v[1:16] AS qpre
              FROM emb WHERE vec_id < 10),
        coarse AS (
          SELECT q.query_id, e.vec_id AS corpus_id,
                 round(list_cosine_similarity(e.v[1:16], q.qpre) + 1e-9, 5)
                   AS coarse_cos
          FROM emb e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        cand AS (
          SELECT query_id, corpus_id, coarse_cos FROM (
            SELECT query_id, corpus_id, coarse_cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY coarse_cos DESC, corpus_id) AS crank
            FROM coarse) WHERE crank <= 50),
        sims AS (
          SELECT cand.query_id, cand.corpus_id, cand.coarse_cos,
                 round(list_cosine_similarity(ce.v, qe.qv) + 1e-9, 5) AS cosine
          FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                    JOIN q qe ON qe.query_id = cand.query_id),
        ranked AS (
          SELECT query_id, corpus_id, coarse_cos, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS rank
          FROM sims)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine, coarse_cos
       FROM ranked WHERE rank <= 5"""

  // ------------------------ quantized coarse→exact rerank (v09)
  // Asymmetric scalar-quantized ANN (Ann.quantizedTopK): the corpus's
  // int8 codes (the v07 storage scheme) score against the float query,
  // top-50 rerank exactly. Same staging as v08 with bytes-per-element as
  // the savings axis; both cuts rank on the 5dp-rounded similarity so the
  // DuckDB replay is exact.
  private val v09: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Ann.quantizedTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("coarse_cos"))
  }

  private val v09Sql =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT vec_id, v,
                sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM emb),
        cq AS (SELECT vec_id AS corpus_id,
                 list_transform(v, x -> floor(x/nrm*127 + 0.5)) AS q
               FROM m),
        qs AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
        coarse AS (
          SELECT qs.query_id, cq.corpus_id,
                 round(list_cosine_similarity(cq.q, qs.qv) + 1e-9, 5)
                   AS coarse_cos
          FROM cq CROSS JOIN qs WHERE cq.corpus_id <> qs.query_id),
        cand AS (
          SELECT query_id, corpus_id, coarse_cos FROM (
            SELECT query_id, corpus_id, coarse_cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY coarse_cos DESC, corpus_id) AS crank
            FROM coarse) WHERE crank <= 50),
        sims AS (
          SELECT cand.query_id, cand.corpus_id, cand.coarse_cos,
                 round(list_cosine_similarity(ce.v, qe.qv) + 1e-9, 5) AS cosine
          FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                    JOIN qs qe ON qe.query_id = cand.query_id),
        ranked AS (
          SELECT query_id, corpus_id, coarse_cos, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS rank
          FROM sims)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine, coarse_cos
       FROM ranked WHERE rank <= 5"""

  // ------------------------ product-quantized retrieval (v15)
  // PQ ANN (Ann.pqTopK): dim-64 vectors split into 8 subspaces, each
  // encoded against a deterministic 16-codeword codebook (subvectors of
  // the 16 lowest-id normalized corpus vectors — the seedCentroids rule
  // per subspace), coarse ADC table-lookup scoring, top-50 exact rerank.
  // The oracle replays the WHOLE chain: normalization, codebooks, the
  // 5dp floor(+0.5) rounded L2² argmin with lowest-j ties, the ADC sum,
  // both rank cuts.
  private val v15: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Ann.pqTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("adc_dot"))
  }

  /** The PQ replay CTE chain shared by the v15/v16 oracles and the v17
    * IVF-PQ composition (ends with `codes` per corpus vector and `adc`
    * per (query, s, j); a consumer joins them into its coarse pass).
    */
  private val pqCtes =
    """emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
        nv AS (SELECT vec_id, v0,
                 list_transform(v0, x ->
                   x / sqrt(list_sum(list_transform(v0, y -> y*y)))) AS v
               FROM emb),
        seeds AS (SELECT j, v FROM (
                    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
                    FROM nv) WHERE j < 16),
        cw AS (SELECT s, j, v[s*8+1 : s*8+8] AS c
               FROM seeds, generate_series(0, 7) AS g(s)),
        subv AS (SELECT vec_id, s, v[s*8+1 : s*8+8] AS xs
                 FROM nv, generate_series(0, 7) AS g(s)),
        dist AS (SELECT vec_id, s, j,
                   floor((list_sum(list_transform(generate_series(1, 8),
                       i -> (xs[i]-c[i])*(xs[i]-c[i]))) + 1e-9)*100000 + 0.5)
                     /100000 AS d
                 FROM subv JOIN cw USING (s)),
        codes AS (SELECT vec_id, s, j AS code FROM (
                    SELECT vec_id, s, j, row_number() OVER (
                      PARTITION BY vec_id, s ORDER BY d, j) AS rn
                    FROM dist) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM nv WHERE vec_id < 10),
        qsub AS (SELECT query_id, s, qv[s*8+1 : s*8+8] AS qs
                 FROM q, generate_series(0, 7) AS g(s)),
        adc AS (SELECT query_id, s, j,
                  list_sum(list_transform(generate_series(1, 8),
                    i -> qs[i]*c[i])) AS dot
                FROM qsub JOIN cw USING (s))"""

  /** The ADC-rank tail shared by every PQ oracle (consumes `emb`, `codes`,
    * `adc` from the preceding CTE chain): coarse ADC sum + top-50 cut,
    * exact-cosine rerank, top-5.
    */
  private val pqRankSql =
    """coarse AS (SELECT a.query_id, co.vec_id AS corpus_id,
                     round(sum(a.dot) + 1e-9, 5) AS adc_dot
                   FROM codes co JOIN adc a ON a.s = co.s AND a.j = co.code
                   WHERE co.vec_id <> a.query_id
                   GROUP BY a.query_id, co.vec_id),
        cand AS (SELECT query_id, corpus_id, adc_dot FROM (
                   SELECT query_id, corpus_id, adc_dot,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dot DESC, corpus_id) AS crank
                   FROM coarse) WHERE crank <= 50),
        sims AS (SELECT cand.query_id, cand.corpus_id, cand.adc_dot,
                   round(list_cosine_similarity(ce.v0, qe0.v0) + 1e-9, 5)
                     AS cosine
                 FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                           JOIN emb qe0 ON qe0.vec_id = cand.query_id),
        ranked AS (SELECT query_id, corpus_id, adc_dot, cosine,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, corpus_id) AS rank
                   FROM sims)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine, adc_dot
       FROM ranked WHERE rank <= 5"""

  private val v15Sql = s"WITH $pqCtes,\n        $pqRankSql"

  // ------------------- stored-codes PQ retrieval (v16, production form)
  // v15 over a PERSISTED 8-bytes-per-vector codes column
  // (Ann.withPqCodes → Ann.pqTopKStored): the coarse pass scores stored
  // bytes by ADC lookup and never touches the vector column (plan-pinned
  // in LlmOpsSpec, with tag/geometry safety). Output is bit-identical to
  // inline v15 for codes stored from the same corpus and codebook — so
  // the oracle IS v15's replay, making the storage-form equivalence
  // itself oracle-checked.
  private val v16: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val codebook = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val stored = Ann.withPqCodes(emb, "embedding", codebook, m = 8, ksub = 16)
    Ann.pqTopKStored(stored, emb.where(col("vec_id") < 10), "vec_id", "embedding",
      "pq_codes", codebook, k = 5, m = 8, ksub = 16,
      nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("adc_dot"))
  }

  private val v16Sql = v15Sql

  // ------------------------ IVF × PQ composed retrieval (v17, FAISS IVF-PQ)
  // The flagship production shape: one layout carries the cell partition
  // key (v11's rule) AND the 8-byte PQ codes (v16's), so a probe reads
  // ~nProbe/nCells of the corpus at m bytes per row, ADC-scores, and
  // exact-reranks probed-cell survivors. Oracle composes v11's
  // assignment replay with the shared PQ CTEs — probe cells and codes
  // both re-derived from first principles.
  private val v17: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val codebook = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val stored = Ann.withPqCodes(
      Ann.withIvfQuantizedLayout(emb, "vec_id", "embedding", nCentroids = 16),
      "embedding", codebook, m = 8, ksub = 16)
    Ann.ivfPqTopK(stored,
      Ann.seedCentroids(emb, "vec_id", "embedding", nCentroids = 16),
      emb.where(col("vec_id") < 10), "vec_id", "embedding", "pq_codes",
      codebook, k = 5, m = 8, ksub = 16, nProbe = 4,
      nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("adc_dot"))
  }

  /** The IVF×PQ rank CTE chain shared by the v17/v19/v20 oracles
    * (consumes `emb`, `codes`, `adc`): seed-centroid cell assignment
    * (1 cell per corpus row, `nProbe` probes per query row matching
    * `queryPred`), cell-colocated ADC coarse join over corpus rows
    * matching `corpusPred`, top-`nCand` cut, exact rerank into `ranked`.
    * The caller appends its own k-cut tail.
    */
  private def pqIvfCtes(queryPred: String, nCand: Int,
      corpusPred: String = "TRUE", nProbe: Int = 4): String =
    s"""cent AS (SELECT vec_id AS cid, v0 AS cv FROM emb ORDER BY vec_id LIMIT 16),
        ascored AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v0, c.cv) DESC, c.cid)
                   AS crank
          FROM emb e CROSS JOIN cent c),
        cassign AS (SELECT vec_id, cid AS cluster_id FROM ascored WHERE crank = 1),
        qassign AS (SELECT vec_id, cid AS cluster_id FROM ascored
                    WHERE ($queryPred) AND crank <= $nProbe),
        coarse AS (SELECT a.query_id, co.vec_id AS corpus_id,
                     round(sum(a.dot) + 1e-9, 5) AS adc_dot
                   FROM codes co JOIN adc a ON a.s = co.s AND a.j = co.code
                        JOIN cassign ca ON ca.vec_id = co.vec_id
                        JOIN qassign qa ON qa.vec_id = a.query_id
                         AND qa.cluster_id = ca.cluster_id
                   WHERE co.vec_id <> a.query_id
                     AND co.vec_id IN (SELECT vec_id FROM emb WHERE $corpusPred)
                   GROUP BY a.query_id, co.vec_id),
        cand AS (SELECT query_id, corpus_id, adc_dot FROM (
                   SELECT query_id, corpus_id, adc_dot,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dot DESC, corpus_id) AS crank
                   FROM coarse) WHERE crank <= $nCand),
        sims AS (SELECT cand.query_id, cand.corpus_id, cand.adc_dot,
                   round(list_cosine_similarity(ce.v0, qe0.v0) + 1e-9, 5)
                     AS cosine
                 FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                           JOIN emb qe0 ON qe0.vec_id = cand.query_id),
        ranked AS (SELECT query_id, corpus_id, adc_dot, cosine,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, corpus_id) AS rank
                   FROM sims)"""

  private val pqIvfRankSql =
    s"""${pqIvfCtes("vec_id < 10", nCand = 50)}
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine, adc_dot
       FROM ranked WHERE rank <= 5"""

  private val v17Sql = s"WITH $pqCtes,\n        $pqIvfRankSql"

  // --------------- Lloyd-refined PQ codebook retrieval (v18, FAISS train())
  // v15 with the codebook REFINED by two Lloyd steps per subspace
  // (Ann.pqTrainedCodebook — the ivfCentroids rule at the PQ geometry):
  // each step re-assigns every subvector under PqEncode's 5dp
  // rounded-argmin rule and rebuilds codewords as 6dp-rounded
  // per-coordinate means, so the trained codebook is a portable decimal
  // literal and the oracle re-derives BOTH iterations from first
  // principles — seed, assignments, means, final codes, ADC, both rank
  // cuts. The one operator in the PQ family whose fit step is itself
  // oracle-checked.
  private val v18: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Ann.pqTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, nCandidates = 50, rankRoundDp = 5,
      lloydIters = 2)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("adc_dot"))
  }

  /** The Lloyd-refined PQ replay ([[pqCtes]] with `iters` refinement
    * rounds unrolled): iteration i re-assigns every subvector under
    * codebook cw(i-1) (the shared 5dp rounded-argmin, ties to lowest j)
    * and rebuilds cw(i) as 6dp-rounded per-coordinate means — the same
    * `floor((x + 1e-9)·10^dp + 0.5)/10^dp` engine-neutral spelling
    * `Ann.pqTrainedCodebook` applies, so each refined codebook is
    * literal-identical across engines. A codeword that loses all members
    * survives unchanged (the NOT EXISTS branch — pqTrainedCodebook keeps
    * the stale array slot the same way). Ends with `codes`/`adc` against
    * the final codebook, so [[pqRankSql]] applies unchanged.
    */
  private def pqRefinedCtes(iters: Int,
      queryPred: String = "vec_id < 10"): String = {
    val head =
      """emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
        nv AS (SELECT vec_id, v0,
                 list_transform(v0, x ->
                   x / sqrt(list_sum(list_transform(v0, y -> y*y)))) AS v
               FROM emb),
        seeds AS (SELECT j, v FROM (
                    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
                    FROM nv) WHERE j < 16),
        cw0 AS (SELECT s, j, v[s*8+1 : s*8+8] AS c
                FROM seeds, generate_series(0, 7) AS g(s)),
        subv AS (SELECT vec_id, s, v[s*8+1 : s*8+8] AS xs
                 FROM nv, generate_series(0, 7) AS g(s))"""
    val refine = (1 to iters).map { i =>
      val prev = s"cw${i - 1}"
      s"""d$i AS (SELECT vec_id, s, j,
                   floor((list_sum(list_transform(generate_series(1, 8),
                       i -> (xs[i]-c[i])*(xs[i]-c[i]))) + 1e-9)*100000 + 0.5)
                     /100000 AS d
                 FROM subv JOIN $prev USING (s)),
        a$i AS (SELECT vec_id, s, j AS code FROM (
                  SELECT vec_id, s, j, row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d, j) AS rn
                  FROM d$i) WHERE rn = 1),
        m$i AS (SELECT a.s, a.code AS j, g.i AS pos,
                  floor((avg(sv.xs[g.i]) + 1e-9)*1000000 + 0.5)/1000000 AS cx
                FROM a$i a JOIN subv sv ON sv.vec_id = a.vec_id AND sv.s = a.s,
                     generate_series(1, 8) AS g(i)
                GROUP BY a.s, a.code, g.i),
        cw$i AS (SELECT s, j, list(cx ORDER BY pos) AS c FROM m$i GROUP BY s, j
                 UNION ALL
                 SELECT p.s, p.j, p.c FROM $prev p
                 WHERE NOT EXISTS (SELECT 1 FROM m$i w
                                   WHERE w.s = p.s AND w.j = p.j))"""
    }.mkString(",\n        ")
    val fin = s"cw$iters"
    val tail =
      s"""dist AS (SELECT vec_id, s, j,
                   floor((list_sum(list_transform(generate_series(1, 8),
                       i -> (xs[i]-c[i])*(xs[i]-c[i]))) + 1e-9)*100000 + 0.5)
                     /100000 AS d
                 FROM subv JOIN $fin USING (s)),
        codes AS (SELECT vec_id, s, j AS code FROM (
                    SELECT vec_id, s, j, row_number() OVER (
                      PARTITION BY vec_id, s ORDER BY d, j) AS rn
                    FROM dist) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM nv WHERE $queryPred),
        qsub AS (SELECT query_id, s, qv[s*8+1 : s*8+8] AS qs
                 FROM q, generate_series(0, 7) AS g(s)),
        adc AS (SELECT query_id, s, j,
                  list_sum(list_transform(generate_series(1, 8),
                    i -> qs[i]*c[i])) AS dot
                FROM qsub JOIN $fin USING (s))"""
    s"$head,\n        $refine,\n        $tail"
  }

  private val v18Sql = s"WITH ${pqRefinedCtes(2)},\n        $pqRankSql"

  // --------- staged trained IVF×PQ retrieval (v19, the full FAISS pipeline)
  // The complete production retrieval lifecycle in one oracle-checked
  // query: TRAIN (v18's two-Lloyd-step codebook), ENCODE + LAY OUT (one
  // parquet layout carrying the cell partition key and the 8-byte codes,
  // plus centroids and the trained codebook persisted alongside — staged
  // ONCE per sf dir, off the timed path, exactly like v13's corpus
  // layout), then PROBE: the timed query reads ~nProbe/nCells of the
  // corpus at 8 bytes/row (PartitionFilters; the footer-surviving
  // provenance tag re-checks the geometry), ADC-scores, exact-reranks.
  // Oracle = the refined-codebook replay composed with the IVF tail —
  // training, encoding, cell assignment and both rank cuts all re-derived
  // from first principles against the UNSTAGED tables, so the staging
  // itself is oracle-proven equivalent.
  private[graft] def stagedV19Dir(s: SparkSession, dir: String): String =
    graft.Staged.once(("v19", dir)) {
      val out = graft.Staged.dir("graft_ivfpq_layout_")
      val emb = t(s, dir, "embeddings")
      val codebook =
        Ann.pqTrainedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16,
          iters = 2)
      Ann.withPqCodes(
          Ann.withIvfQuantizedLayout(emb, "vec_id", "embedding", nCentroids = 16),
          "embedding", codebook, m = 8, ksub = 16)
        .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$out/layout")
      Ann.seedCentroids(emb, "vec_id", "embedding", nCentroids = 16)
        .write.mode("overwrite").parquet(s"$out/centroids")
      // the codebook persists WITH the layout (pqSeedCodebook's doc): a
      // query session must never re-train against a corpus that may have
      // since grown
      s.createDataFrame(Seq(Tuple1(codebook.toSeq))).toDF("codebook")
        .write.mode("overwrite").parquet(s"$out/codebook")
      out
    }

  private val v19: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val staged = stagedV19Dir(s, dir)
    // no tagPqCodes: the provenance tag wrote with the layout and survives
    // the parquet footer (asserted in LlmOpsSpec) — an untagged or
    // wrong-geometry layout fails loudly here
    val stored = s.read.parquet(s"$staged/layout")
    val cent = s.read.parquet(s"$staged/centroids")
    val codebook =
      s.read.parquet(s"$staged/codebook").head.getSeq[Double](0).toArray
    Ann.ivfPqTopK(stored, cent, emb.where(col("vec_id") < 10),
      "vec_id", "embedding", "pq_codes", codebook,
      k = 5, m = 8, ksub = 16, nProbe = 4, nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("adc_dot"))
  }

  private val v19Sql = s"WITH ${pqRefinedCtes(2)},\n        $pqIvfRankSql"

  // ----------------------- hybrid lexical+vector retrieval via RRF (v20)
  // The production hybrid-search shape: BOTH legs serve from staged
  // layouts. Lexical = BM25 top-50 from the staged intersection index
  // (the t37 serving path); vector = IVF-PQ top-50 from the staged v19
  // layout (trained codebook + cell-partitioned 8-byte codes — the probe
  // reads ~nProbe/nCells of the corpus at 8 bytes/row, ADC-scores, and
  // exact-reranks, instead of the exact-cosine full scan this leg ran
  // through round 11). Fused by reciprocal-rank fusion, Σ 1/(60 + rank) —
  // appearing in one list still scores. Runs over the documents∩embeddings
  // id intersection so every candidate has both a text and a vector; every
  // 100th id is a query. The oracle re-derives the trained IVF-PQ pipeline
  // from first principles against the unstaged tables (the v19 replay with
  // v20's query/corpus predicates), so the approximate vector ranks — and
  // the fused reciprocal sums — are bit-identical across engines.
  private val v20: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val lexCorpus = docs.join(
      emb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
    // the lexical side serves from a STAGED index over the intersection
    // corpus (built once per sf dir — the t37 serving path, oracle-proven
    // ≡ inline): at sf1 the inline re-stage was the bulk of v20's cost
    val lexDir = TextQueries.bm25StagedDir(dir, "v20") { out =>
      graft.operators.Retrieval.stageBm25Index(lexCorpus, "doc_id", "text")
        .write(out)
    }
    val lex = graft.operators.Retrieval.bm25TopKStaged(
      graft.operators.Retrieval.StagedBm25Index.read(s, lexDir),
      lexCorpus.where(col("doc_id") % 100 === 0),
      "doc_id", "text", k = 50)
    // the vector side serves from the staged v19 IVF-PQ layout (built
    // over the full embeddings table), with probed corpus rows and the
    // query set both narrowed to the intersection ids
    val staged = stagedV19Dir(s, dir)
    val interIds = docs.select(col("doc_id").as("vec_id"))
    val stored = s.read.parquet(s"$staged/layout")
      .join(interIds, Seq("vec_id"), "left_semi")
    val cent = s.read.parquet(s"$staged/centroids")
    val codebook =
      s.read.parquet(s"$staged/codebook").head.getSeq[Double](0).toArray
    val vqueries = emb.where(col("vec_id") % 100 === 0)
      .join(interIds, Seq("vec_id"), "left_semi")
    val vec = Ann.ivfPqTopK(stored, cent, vqueries,
      "vec_id", "embedding", "pq_codes", codebook,
      k = 50, m = 8, ksub = 16, nProbe = 4, nCandidates = 60,
      rankRoundDp = 5)
    graft.operators.Retrieval.rrfFuse(lex, vec, k = 10)
  }

  private val v20Sql =
    s"""WITH corpus AS (
         SELECT doc_id, text FROM documents
         WHERE doc_id IN (SELECT vec_id FROM embeddings)),
       ${TextQueries.bm25Ctes},
       ${pqRefinedCtes(2,
          "vec_id % 100 = 0 AND vec_id IN (SELECT doc_id FROM documents)")},
       ${pqIvfCtes(
          "vec_id % 100 = 0 AND vec_id IN (SELECT doc_id FROM documents)",
          nCand = 60,
          corpusPred = "vec_id IN (SELECT doc_id FROM documents)")},
       lex50 AS (SELECT query_id, corpus_id, rank
                 FROM bm25_ranked WHERE rank <= 50),
       vec50 AS (SELECT query_id, corpus_id, rank
                 FROM ranked WHERE rank <= 50),
       fused AS (
         SELECT coalesce(l.query_id, v.query_id) AS query_id,
                coalesce(l.corpus_id, v.corpus_id) AS corpus_id,
                round(coalesce(1.0 / (60 + l.rank), 0)
                    + coalesce(1.0 / (60 + v.rank), 0), 6) AS rrf,
                l.rank AS rank_a, v.rank AS rank_b
         FROM lex50 l FULL OUTER JOIN vec50 v
           ON l.query_id = v.query_id AND l.corpus_id = v.corpus_id),
       fused_ranked AS (
         SELECT query_id, corpus_id, rrf, rank_a, rank_b,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf DESC, corpus_id) AS rank
         FROM fused)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, rrf,
              CAST(rank_a AS INT) AS rank_a, CAST(rank_b AS INT) AS rank_b
       FROM fused_ranked WHERE rank <= 10"""

  // ---------------- composed prefix-of-codes coarse retrieval (v10)
  // The v08×v09 composition over the persisted storage form
  // (Ann.twoStageQuantizedTopK): coarse stage reads only the first 16
  // BYTES of the stored int8 code column (substring of the BINARY —
  // coarseDims/dim of ¼ of the float bytes), exact float rerank. The
  // gate-scale query derives the codes inline (withRetrievalColumns);
  // production reads them from the persisted table (plan-pinned in
  // LlmOpsSpec). Oracle replays quantize → prefix → rank → rerank.
  private val v10: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val stored = Ann.withRetrievalColumns(emb, "embedding", coarseDims = 16)
    Ann.twoStageQuantizedTopK(stored, stored.where(col("vec_id") < 10),
      "vec_id", "embedding", "codes",
      k = 5, coarseDims = 16, nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("coarse_cos"))
  }

  private val v10Sql =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT vec_id, v,
                sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM emb),
        cq AS (SELECT vec_id AS corpus_id,
                 list_transform(v, x -> floor(x/nrm*127 + 0.5))[1:16] AS qpre
               FROM m),
        qs AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
        coarse AS (
          SELECT qs.query_id, cq.corpus_id,
                 round(list_cosine_similarity(cq.qpre, qs.qv[1:16]) + 1e-9, 5)
                   AS coarse_cos
          FROM cq CROSS JOIN qs WHERE cq.corpus_id <> qs.query_id),
        cand AS (
          SELECT query_id, corpus_id, coarse_cos FROM (
            SELECT query_id, corpus_id, coarse_cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY coarse_cos DESC, corpus_id) AS crank
            FROM coarse) WHERE crank <= 50),
        sims AS (
          SELECT cand.query_id, cand.corpus_id, cand.coarse_cos,
                 round(list_cosine_similarity(ce.v, qe.qv) + 1e-9, 5) AS cosine
          FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                    JOIN qs qe ON qe.query_id = cand.query_id),
        ranked AS (
          SELECT query_id, corpus_id, coarse_cos, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS rank
          FROM sims)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine, coarse_cos
       FROM ranked WHERE rank <= 5"""

  // -------------- IVF × quantized composed retrieval (v11, FAISS IVF-SQ)
  // The production ANN shape: corpus partitioned by its IVF cell AND
  // stored as int8 codes — a probe reads ~nProbe/nCentroids of the
  // corpus (PartitionFilters on the persisted layout, plan-pinned in
  // LlmOpsSpec) at one byte per element, exact float rerank on the
  // survivors. The gate-scale query derives the layout inline; the
  // oracle replays v06's assignment rule composed with v09's
  // quantization, both cuts on the 5dp-rounded similarity.
  private val v11: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val stored = Ann.withIvfQuantizedLayout(emb, "vec_id", "embedding",
      nCentroids = 16)
    Ann.ivfQuantizedTopK(stored,
      Ann.seedCentroids(emb, "vec_id", "embedding", nCentroids = 16),
      emb.where(col("vec_id") < 10), "vec_id", "embedding", "codes",
      k = 5, nProbe = 4, nCandidates = 50, rankRoundDp = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cosine"), col("coarse_cos"))
  }

  private val v11Sql =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
        scored AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS crank
          FROM emb e CROSS JOIN cent c),
        cassign AS (SELECT vec_id, cid AS cluster_id FROM scored WHERE crank = 1),
        qassign AS (SELECT vec_id, cid AS cluster_id FROM scored
                    WHERE vec_id < 10 AND crank <= 4),
        m AS (SELECT vec_id, v,
                sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM emb),
        cq AS (SELECT vec_id AS corpus_id,
                 list_transform(v, x -> floor(x/nrm*127 + 0.5)) AS q
               FROM m),
        qs AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
        coarse AS (
          SELECT qa.vec_id AS query_id, ca.vec_id AS corpus_id,
                 round(list_cosine_similarity(cq.q, qs.qv) + 1e-9, 5)
                   AS coarse_cos
          FROM cassign ca JOIN qassign qa USING (cluster_id)
               JOIN cq ON cq.corpus_id = ca.vec_id
               JOIN qs ON qs.query_id = qa.vec_id
          WHERE ca.vec_id <> qa.vec_id),
        cand AS (
          SELECT query_id, corpus_id, coarse_cos FROM (
            SELECT query_id, corpus_id, coarse_cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY coarse_cos DESC, corpus_id) AS crank
            FROM coarse) WHERE crank <= 50),
        sims AS (
          SELECT cand.query_id, cand.corpus_id, cand.coarse_cos,
                 round(list_cosine_similarity(ce.v, qe.qv) + 1e-9, 5) AS cosine
          FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                    JOIN qs qe ON qe.query_id = cand.query_id),
        ranked AS (
          SELECT query_id, corpus_id, coarse_cos, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS rank
          FROM sims)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine, coarse_cos
       FROM ranked WHERE rank <= 5"""

  // -------------------------------------------- semantic dedup (SemDeDup)
  // Dedup.semanticDedup: IVF-cell blocking (the v06 assignment rule) +
  // within-cell exact cosine pairs + transitive keep-one-per-group (the
  // t12 closure). One verdict row per embedding; the oracle replays
  // assignment, pair cut (5dp-rounded cosine), and the closure with a
  // recursive CTE.
  private val v12: Q = (s, dir) =>
    graft.dedup.Dedup.semanticDedup(t(s, dir, "embeddings"),
      "vec_id", "embedding", threshold = 0.4, nCentroids = 16, roundDp = 5)

  // ----------------------- incremental semantic dedup vs stored layout (v13)
  // The nightly curation shape for embedding space — the t28 move: the
  // corpus's IVF layout (id, vec, cluster_id — the v11 storage shape) and
  // its centroids persist ONCE per sf dir; the timed query assigns only
  // the batch (the last 100 vec_ids), prunes the stored corpus to the
  // batch's probed cells, and pairs within them. Verdicts ≡ the
  // full-corpus v12 run restricted to batch docs (the LlmOpsSpec
  // equivalence law); the oracle replays assignment under corpus-derived
  // centroids + the pair cut.

  /** The batch split shared by v13's staging and query: the last 100 ids
    * (a parquet-stats-cheap scalar driver read), the production
    * small-batch ratio at any corpus scale.
    */
  private[graft] def v13Split(emb: org.apache.spark.sql.DataFrame): Long =
    emb.agg(max(col("vec_id"))).head().getLong(0) - 99L

  /** v13's persisted corpus layout for `dir`, built once per JVM. */
  private[graft] def stagedV13Dir(s: SparkSession, dir: String): String =
    graft.Staged.once(("v13", dir)) {
      val out = graft.Staged.dir("graft_ivf_layout_")
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") < v13Split(emb))
      Ann.withIvfQuantizedLayout(corpus, "vec_id", "embedding", nCentroids = 16)
        .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$out/layout")
      Ann.seedCentroids(corpus, "vec_id", "embedding", nCentroids = 16)
        .write.mode("overwrite").parquet(s"$out/centroids")
      out
    }

  private val v13: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val split = v13Split(emb)
    val stagedDir = stagedV13Dir(s, dir)
    Dedup.semanticDedupIncremental(
      s.read.parquet(s"$stagedDir/layout"),
      s.read.parquet(s"$stagedDir/centroids"),
      emb.where(col("vec_id") >= split),
      "vec_id", "embedding", threshold = 0.4, roundDp = 5)
  }

  private[graft] val v13Sql =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        split AS (SELECT max(vec_id) - 99 AS s FROM embeddings),
        corpus AS (SELECT * FROM emb WHERE vec_id < (SELECT s FROM split)),
        cent AS (SELECT vec_id AS cid, v AS cv FROM corpus ORDER BY vec_id LIMIT 16),
        scored AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS crank
          FROM emb e CROSS JOIN cent c),
        assign AS (SELECT vec_id, cid AS cell_id FROM scored WHERE crank = 1),
        pairs AS (
          SELECT b.vec_id AS doc_id, s2.vec_id AS src
          FROM assign b JOIN assign s2 USING (cell_id)
          JOIN emb eb ON eb.vec_id = b.vec_id
          JOIN emb es ON es.vec_id = s2.vec_id
          WHERE b.vec_id >= (SELECT s FROM split)
            AND (s2.vec_id < (SELECT s FROM split) OR s2.vec_id < b.vec_id)
            AND round(list_cosine_similarity(eb.v, es.v) + 1e-9, 5) >= 0.4)
       SELECT b.vec_id AS doc_id,
              count(p.src) AS n_dup_sources,
              min(p.src) AS dup_of,
              count(p.src) > 0 AS is_dup
       FROM (SELECT vec_id FROM emb WHERE vec_id >= (SELECT s FROM split)) b
       LEFT JOIN pairs p ON p.doc_id = b.vec_id
       GROUP BY b.vec_id"""

  // ------------- compacted IVF layout serve (v21, round 16)
  // The vector LSM's compaction level, closed the t42/t43 way: the corpus
  // layout (vec_id < max-199, assigned under its own seed centroids) plus
  // one ingest delta (the fold of [max-199, max-99) assigned under the
  // SAME centroids — what s11 writes per tick) is COMPACTED
  // (Ann.compactIvfLayout) into one cluster-partitioned directory, and
  // v21 serves the last-100-id batch's incremental semantic dedup from
  // it. Assignments all derive from the corpus's centroids, so verdicts
  // equal a from-scratch dedup over corpus ∪ fold restricted to the
  // batch — the oracle replays exactly that, proving compaction changed
  // nothing.
  private def stagedV21Dir(s: SparkSession, dir: String): String =
    graft.Staged.once(("v21", dir)) {
      val out = graft.Staged.dir("graft_ivf_compact_")
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val corpus = emb.where(col("vec_id") < maxId - 199L)
      Ann.withIvfQuantizedLayout(corpus, "vec_id", "embedding", nCentroids = 16)
        .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$out/base")
      val cent = Ann.seedCentroids(corpus, "vec_id", "embedding", nCentroids = 16)
      cent.write.mode("overwrite").parquet(s"$out/centroids")
      // the fold tick: primary-cell assignment of the ingest window
      // under the LAYOUT's centroids — the exact frame s11 persists
      val fold = emb.where(col("vec_id") >= maxId - 199L &&
        col("vec_id") < maxId - 99L)
      graft.streaming.Streams.writeTick(
        Ann.assignCells(cent, fold, "vec_id", "embedding", "fold",
            keep = 1, nCells = 16)
          .select(col("cluster_id"), col("fold_id").as("vec_id"),
            col("fold_vec").as("embedding")),
        s"$out/overlay", 0L)
      Ann.compactIvfLayout(s, s"$out/base", s"$out/layout",
        Seq(s"$out/overlay"))
      out
    }

  private val v21: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val split = emb.agg(max(col("vec_id"))).head().getLong(0) - 99L
    val staged = stagedV21Dir(s, dir)
    Dedup.semanticDedupIncremental(
      s.read.parquet(s"$staged/layout"),
      s.read.parquet(s"$staged/centroids"),
      emb.where(col("vec_id") >= split),
      "vec_id", "embedding", threshold = 0.4, roundDp = 5, nCells = 16)
  }

  // DuckDB image: v13's replay with TWO boundaries — centroids seeded
  // from the CORPUS (vec_id < max-199), reference = everything below
  // max-99 (corpus + fold) or a lower-id batch doc; the batch is the
  // last 100 ids. All assignment under the corpus centroids, as in the
  // compacted layout.
  private[graft] val v21Sql =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s1 AS (SELECT max(vec_id) - 199 AS b FROM embeddings),
        s2 AS (SELECT max(vec_id) - 99 AS b FROM embeddings),
        corpus AS (SELECT * FROM emb WHERE vec_id < (SELECT b FROM s1)),
        cent AS (SELECT vec_id AS cid, v AS cv FROM corpus ORDER BY vec_id LIMIT 16),
        scored AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS crank
          FROM emb e CROSS JOIN cent c),
        assign AS (SELECT vec_id, cid AS cell_id FROM scored WHERE crank = 1),
        pairs AS (
          SELECT b.vec_id AS doc_id, x.vec_id AS src
          FROM assign b JOIN assign x USING (cell_id)
          JOIN emb eb ON eb.vec_id = b.vec_id
          JOIN emb es ON es.vec_id = x.vec_id
          WHERE b.vec_id >= (SELECT b FROM s2)
            AND (x.vec_id < (SELECT b FROM s2) OR x.vec_id < b.vec_id)
            AND round(list_cosine_similarity(eb.v, es.v) + 1e-9, 5) >= 0.4)
       SELECT b.vec_id AS doc_id,
              count(p.src) AS n_dup_sources,
              min(p.src) AS dup_of,
              count(p.src) > 0 AS is_dup
       FROM (SELECT vec_id FROM emb WHERE vec_id >= (SELECT b FROM s2)) b
       LEFT JOIN pairs p ON p.doc_id = b.vec_id
       GROUP BY b.vec_id"""

  // ------------------------- SQL-surface parity for the custom expressions
  // The same vector kernels, called from PURE SQL through the
  // GraftExtensions function catalog (the spark.sql.extensions /
  // register(spark) path) instead of the Column facade — proving a SQL-only
  // caller gets the identical codegen'd expressions. The fixed query vector
  // (lowest vec_id) exercises the binary kernels with two distinct columns;
  // the int8-code dot runs the BinaryType (byte-per-element) input path.
  private val v14: Q = (s, dir) => {
    graft.GraftExtensions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("graft_emb_v14")
    s.sql(
      """WITH q AS (SELECT embedding AS qv FROM graft_emb_v14
                    ORDER BY vec_id LIMIT 1)
         SELECT e.vec_id,
                round(vec_norm(e.embedding) + 1e-9, 5) AS l2_norm,
                round(vec_cosine(e.embedding, q.qv) + 1e-9, 5) AS cos_to_q0,
                round(vec_dot(vec_quantize_int8(e.embedding),
                              vec_quantize_int8(q.qv)) + 1e-9, 1) AS code_dot,
                graft_hash61(CAST(e.vec_id AS STRING)) AS h61
         FROM graft_emb_v14 e CROSS JOIN q""")
  }

  // DuckDB image: norms/cosines over DOUBLE[] as in v01/v02; the int8 codes
  // re-derived by the v07 quantization formula (floor(x/‖x‖·127 + 0.5) —
  // integer-exact in doubles, so the code dot matches bit-for-bit); hash61
  // re-derived as the base-131 byte polynomial over GF(2^61-1) in HUGEINT
  // (the t08/t10 replay — sub-2^61 products fit 128 bits).
  private val v14Sql = {
    val p = graft.functions.Mod61.P
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT vec_id, v,
                sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM emb),
        c AS (SELECT vec_id, v, nrm,
                list_transform(v, x -> floor(x/nrm*127 + 0.5)) AS qv FROM m),
        q AS (SELECT v AS query_v, qv AS query_qv FROM c
              ORDER BY vec_id LIMIT 1)
       SELECT c.vec_id,
              round(c.nrm + 1e-9, 5) AS l2_norm,
              round(list_cosine_similarity(c.v, q.query_v) + 1e-9, 5) AS cos_to_q0,
              round(list_sum(list_transform(generate_series(1, len(c.qv)),
                  i -> c.qv[i] * q.query_qv[i])) + 1e-9, 1) AS code_dot,
              CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     list_transform(generate_series(1, length(CAST(c.vec_id AS VARCHAR))),
                       i -> CAST(ascii(substr(CAST(c.vec_id AS VARCHAR), i, 1)) AS HUGEINT))),
                     (a, b) -> (a*131 + b) % $p) AS BIGINT) AS h61
       FROM c CROSS JOIN q"""
  }

  val queries: Map[String, Q] = Map(
    "v14_sql_function_surface" -> v14,
    "v01_vector_stats" -> v01,
    "v02_cosine_topk" -> v02,
    "v03_label_cohesion" -> v03,
    "v04_ann_lsh_topk" -> v04,
    "v05_embedding_neardup" -> v05,
    "v06_ivf_topk" -> v06,
    "v07_int8_quantize" -> v07,
    "v08_twostage_topk" -> v08,
    "v09_quantized_topk" -> v09,
    "v10_quantized_prefix_topk" -> v10,
    "v11_ivf_quantized_topk" -> v11,
    "v12_semantic_dedup" -> v12,
    "v13_incremental_semantic_dedup" -> v13,
    "v15_pq_topk" -> v15,
    "v16_pq_stored_topk" -> v16,
    "v17_ivf_pq_topk" -> v17,
    "v18_pq_trained_topk" -> v18,
    "v19_staged_ivfpq_topk" -> v19,
    "v20_hybrid_rrf_topk" -> v20,
    "v21_compacted_ivf_layout" -> v21)

  private val v12Sql =
    """WITH RECURSIVE
        emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
        scored AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS crank
          FROM emb e CROSS JOIN cent c),
        assign AS (SELECT vec_id, cid AS cell_id FROM scored WHERE crank = 1),
        pairs AS (
          SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
          FROM assign a JOIN assign b USING (cell_id)
          JOIN emb ea ON ea.vec_id = a.vec_id
          JOIN emb eb ON eb.vec_id = b.vec_id
          WHERE a.vec_id < b.vec_id
            AND round(list_cosine_similarity(ea.v, eb.v) + 1e-9, 5) >= 0.4),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        walk(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
        labels AS (SELECT a AS doc_id, least(min(b), a) AS group_rep
                   FROM walk GROUP BY a)
       SELECT ass.vec_id AS doc_id, ass.cell_id,
              coalesce(l.group_rep, ass.vec_id) AS group_rep,
              (coalesce(l.group_rep, ass.vec_id) = ass.vec_id) AS is_kept
       FROM assign ass LEFT JOIN labels l ON l.doc_id = ass.vec_id"""

  private val v06Sql =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
        scored AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS crank
          FROM emb e CROSS JOIN cent c),
        cassign AS (SELECT vec_id, cid AS cluster_id FROM scored WHERE crank = 1),
        qassign AS (SELECT vec_id, cid AS cluster_id FROM scored
                    WHERE vec_id < 10 AND crank <= 4),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
          FROM cassign c JOIN qassign q USING (cluster_id)
          WHERE c.vec_id <> q.vec_id),
        sims AS (
          SELECT cand.query_id, cand.corpus_id,
                 round(list_cosine_similarity(ce.v, qe.v) + 1e-9, 5) AS cosine
          FROM cand JOIN emb ce ON ce.vec_id = cand.corpus_id
                    JOIN emb qe ON qe.vec_id = cand.query_id),
        ranked AS (
          SELECT query_id, corpus_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS rank
          FROM sims)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine
       FROM ranked WHERE rank <= 5"""

  val oracles: Map[String, String] = Map(
    "v14_sql_function_surface" -> v14Sql,
    "v01_vector_stats" -> v01Sql,
    "v02_cosine_topk" -> v02Sql,
    "v03_label_cohesion" -> v03Sql,
    "v04_ann_lsh_topk" -> v04Sql,
    "v05_embedding_neardup" -> v05Sql,
    "v06_ivf_topk" -> v06Sql,
    "v07_int8_quantize" -> v07Sql,
    "v08_twostage_topk" -> v08Sql,
    "v09_quantized_topk" -> v09Sql,
    "v10_quantized_prefix_topk" -> v10Sql,
    "v11_ivf_quantized_topk" -> v11Sql,
    "v12_semantic_dedup" -> v12Sql,
    "v13_incremental_semantic_dedup" -> v13Sql,
    "v15_pq_topk" -> v15Sql,
    "v16_pq_stored_topk" -> v16Sql,
    "v17_ivf_pq_topk" -> v17Sql,
    "v18_pq_trained_topk" -> v18Sql,
    "v19_staged_ivfpq_topk" -> v19Sql,
    "v20_hybrid_rrf_topk" -> v20Sql,
    "v21_compacted_ivf_layout" -> v21Sql)
}
