package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.{Similarity, VectorCodec}

/** Embedding similarity + multimodal plumbing verification.
  *
  * Float caveat: DuckDB's `list_cosine_similarity` computes in float32
  * while our Catalyst expression accumulates in float64, so oracle
  * outputs are id-only and thresholds/top-k cuts were margin-checked
  * against the testdata (min |cos - 0.45| >= 1e-4, min rank-3/4 gap
  * >= 3.5e-4 at every SF — orders of magnitude above float32 error).
  */
object SimilarityQueries {

  /** Shared DuckDB CTE block for the PQ oracles (q75/q77): SQ8
    * quantization ranges -> quantized vectors -> md5-ranked sample
    * codebook -> per-subspace codes and query ADC lookup table. One
    * definition so the quantization grid and codebook ranking can
    * never drift between the flat-PQ and IVF-PQ oracles. */
  /** `artifactFilter` restricts the GRID and CODEBOOK sources (MM,
    * CENTS) — q107 pins both to the seed half while QV still encodes
    * the full corpus, mirroring the pinned-artifact streamed store. */
  /** Shared DuckDB CTE block for the auto-nProbe pair (q258/q259):
    * centroids -> all-pairs cell distances -> filtered (label=4)
    * corpus cells + per-cell counts -> each query's distance-ranked
    * cell list -> running prefix-before total -> the probed prefix
    * (cells kept while the 20-candidate floor is unmet). One
    * definition so the ranking query and its plan report can never
    * disagree on the probe sets. */
  private val autoProbeCtes: String = raw"""CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELLF AS (
          SELECT d.vec_id, d.cent_id AS cell FROM D d
          JOIN embeddings e ON e.vec_id = d.vec_id AND e.label = 4
          QUALIFY row_number() OVER (PARTITION BY d.vec_id ORDER BY d.l2, d.cent_id) = 1),
        CNT AS (SELECT cell, count(*) AS cell_n FROM CELLF GROUP BY 1),
        PR AS (
          SELECT vec_id, cent_id AS cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) AS r
          FROM D WHERE vec_id % 50 = 0),
        CUM AS (
          SELECT pr.vec_id, pr.cell, pr.r, COALESCE(c.cell_n, 0) AS cell_n,
                 COALESCE(SUM(COALESCE(c.cell_n, 0)) OVER (PARTITION BY pr.vec_id ORDER BY pr.r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
          FROM PR pr LEFT JOIN CNT c ON c.cell = pr.cell),
        PROBE AS (SELECT vec_id, cell, r, cell_n FROM CUM WHERE prev_cum < 20)"""

  /** Shared DuckDB CTE block for the STORE-served filtered pair
    * (q265/q266): centroids trained on the SEED half (vec_id even —
    * what seedIndex pinned), distances over the full admitted corpus,
    * the predicate-filtered cells + counts, each query's ranked cell
    * list, and the probed prefix under `probeCond` (a fixed rank cut
    * for q265, the 20-candidate floor for q266). */
  private def storeFilteredCtes(pred: String, probeCond: String): String =
    raw"""CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELLF AS (
          SELECT d.vec_id, d.cent_id AS cell FROM D d
          JOIN embeddings e ON e.vec_id = d.vec_id AND $pred
          QUALIFY row_number() OVER (PARTITION BY d.vec_id ORDER BY d.l2, d.cent_id) = 1),
        CNT AS (SELECT cell, count(*) AS cell_n FROM CELLF GROUP BY 1),
        PR AS (
          SELECT vec_id, cent_id AS cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) AS r
          FROM D WHERE vec_id % 50 = 0),
        CUM AS (
          SELECT pr.vec_id, pr.cell, pr.r, COALESCE(c.cell_n, 0) AS cell_n,
                 COALESCE(SUM(COALESCE(c.cell_n, 0)) OVER (PARTITION BY pr.vec_id ORDER BY pr.r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
          FROM PR pr LEFT JOIN CNT c ON c.cell = pr.cell),
        PROBE AS (SELECT vec_id, cell, r, cell_n FROM CUM WHERE $probeCond),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN PROBE pq ON pq.vec_id = q.vec_id
          JOIN CELLF cc ON cc.cell = pq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank"""

  private def pqCte(artifactFilter: String = ""): String = s"""MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings$artifactFilter)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        QV AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(embedding)+1)] AS qv
          FROM embeddings, MML),
        CENTS AS (
          SELECT vec_id,
                 row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
          FROM embeddings$artifactFilter
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        SUBC AS (
          SELECT c.j, s.s AS s,
                 q.qv[CAST(s.s*8+1 AS INTEGER):CAST(s.s*8+8 AS INTEGER)] AS sub
          FROM CENTS c JOIN QV q ON q.vec_id = c.vec_id, range(0, 8) s(s)),
        DSUB AS (
          SELECT q.vec_id, sc.s, sc.j,
                 list_sum([(q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           * (q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           for i in range(1, 9)]) AS d
          FROM QV q, SUBC sc),
        CODES AS (
          SELECT vec_id, s, j FROM DSUB
          QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1),
        LUT AS (
          SELECT qq.vec_id AS query_id, sc.s, sc.j,
                 list_sum([(qq.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           * (qq.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           for i in range(1, 9)]) AS d
          FROM QV qq, SUBC sc WHERE qq.vec_id % 50 = 0)"""

  /** The IVF-PQ top-3 oracle, shared VERBATIM by q77 (inline operator)
    * and q89 (probe of the written index): both must produce exactly
    * this ranking — that q89 does so while scanning only the stored
    * codes/cell=N dirs is the point of the query. */
  private val ivfPqOracle: String = """
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        """ + pqCte() + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          JOIN CELL ca ON ca.vec_id = l.query_id
          JOIN CELL cb ON cb.vec_id = c.vec_id AND cb.cell = ca.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        R AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank"""

  /** The PQ ADC-shortlist-then-exact-refine oracle, shared VERBATIM by
    * q114 (inline [[graft.similarity.Similarity.pqTopKRefined]]) and
    * q115 (the same ranking served from writePqRefineIndex's stored
    * artifacts): served == inline by construction, one definition so
    * the shortlist depth and refine ordering can never drift. */
  private val pqRefineOracle: String =
    "\n        WITH " + pqCte() + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        R AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC),
        SL AS (SELECT query_id, neighbor_id FROM R WHERE rank <= 10),
        EX AS (
          SELECT s.query_id, s.neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM SL s
          JOIN embeddings q ON q.vec_id = s.query_id
          JOIN embeddings c ON c.vec_id = s.neighbor_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        RR AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
               FROM EX)
        SELECT query_id, rank, neighbor_id FROM RR
        WHERE rank <= 3 ORDER BY query_id, rank"""

  /** Shared by q90 (inline multi-probe IVF-SQ8) and q100 (the same
    * ranking served from writeIvfIndex's stored SQ8 artifacts) — one
    * definition so the grid, probe list, and integer distance can never
    * drift between the inline and served forms. */
  private val ivfSq8MultiprobeOracle: String = """
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        QV AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(embedding)+1)] AS qv
          FROM embeddings, MML),
        P AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i])
                           for i in range(1, len(a.qv)+1)]) AS d
          FROM QV a
          JOIN PROBE pa ON pa.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = pa.cell
          JOIN QV b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id),
        R AS (SELECT query_id, neighbor_id, CAST(d AS BIGINT) AS dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY d, neighbor_id) AS rank
              FROM P)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank"""

  /** The deterministic IVF-Flat top-3 oracle, shared VERBATIM by q51
    * (inline operator) and q97 (probe of the written cell layout). */
  private val ivfFlatOracle: String = """
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN CELL cq ON cq.vec_id = q.vec_id
          JOIN CELL cc ON cc.cell = cq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank"""

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q24_embedding_near_dups",
      "Cosine near-dup pairs (>= 0.45) over embeddings; brute-force " +
        "ground truth. Threshold margins audited: min |cos - 0.45| = " +
        "1.1e-3 / 5.5e-4 / 1.06e-4 at sf0.001/0.01/0.1 — the 64-term " +
        "double dot product's summation-order error is ~1e-12, so no " +
        "ambient FP reordering can flip a pair (spec-pinned at " +
        "sf0.001).",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        Dedup.embeddingNearDups(e, "vec_id", "embedding", threshold = 0.45)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        ORDER BY id_a, id_b""")),

    GraftQuery(
      "q42_embedding_near_dups_bucketed",
      "The scale embedding near-dup path: sign-LSH buckets (deterministic " +
        "md5 planes) -> exact cosine verify inside buckets only; oracle " +
        "recomputes the buckets and restricts brute force to them. " +
        "Sign margins checked: min |dot| >= 1.1e-4 at every SF.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        Dedup.embeddingNearDupsBucketed(e, "vec_id", "embedding",
            threshold = 0.45, nBits = 4, dim = 64)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH P AS (
          SELECT b.b AS b, i.i AS i,
                 CASE WHEN substr(md5(b.b || ':' || i.i), 2, 1)
                      IN ('0','2','4','6','8','a','c','e')
                      THEN 1.0 ELSE -1.0 END AS s
          FROM range(0,4) AS b(b), range(0,64) AS i(i)),
        D AS (
          SELECT vec_id, P.b, SUM(P.s * embedding[P.i + 1]) AS dot
          FROM embeddings, P GROUP BY vec_id, P.b),
        BK AS (
          SELECT vec_id,
                 SUM(CASE WHEN dot >= 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS bucket
          FROM D GROUP BY vec_id)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        JOIN BK ba ON ba.vec_id = a.vec_id
        JOIN BK bb ON bb.vec_id = b.vec_id
        WHERE ba.bucket = bb.bucket
          AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        ORDER BY id_a, id_b""")),

    GraftQuery(
      "q25_ann_topk",
      "Brute-force cosine top-3 per query (vec_id % 50 = 0), broadcast queries.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH P AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(a.embedding, b.embedding) AS c
          FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
          FROM P)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q44_ann_lsh_topk",
      "The scale ANN path: sign-LSH bucketed top-3 (single probe) — each " +
        "query exact-cosine re-ranks only its own bucket; oracle recomputes " +
        "buckets and the bucket-restricted ranking. Min adjacent-rank " +
        "cosine gap >= 1.1e-4 at every SF.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.lshTopK(e, q, "vec_id", "embedding",
            k = 3, nBits = 4, dim = 64, nProbe = 1)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH P AS (
          SELECT b.b AS b, i.i AS i,
                 CASE WHEN substr(md5(b.b || ':' || i.i), 2, 1)
                      IN ('0','2','4','6','8','a','c','e')
                      THEN 1.0 ELSE -1.0 END AS s
          FROM range(0,4) AS b(b), range(0,64) AS i(i)),
        D AS (
          SELECT vec_id, P.b, SUM(P.s * embedding[P.i + 1]) AS dot
          FROM embeddings, P GROUP BY vec_id, P.b),
        BK AS (
          SELECT vec_id,
                 SUM(CASE WHEN dot >= 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS bucket
          FROM D GROUP BY vec_id),
        C AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding, c.embedding) AS cs
          FROM embeddings q
          JOIN BK bq ON bq.vec_id = q.vec_id
          JOIN BK bc ON bc.bucket = bq.bucket
          JOIN embeddings c ON c.vec_id = bc.vec_id AND c.vec_id <> q.vec_id
          WHERE q.vec_id % 50 = 0),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
          FROM C)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q46_ann_lsh_multiprobe",
      "Multi-probe sign-LSH ANN: each query also probes all Hamming-1 " +
        "neighbor buckets (the recall lever for near-boundary vectors); " +
        "oracle joins on bit_count(xor(buckets)) <= 1. Min adjacent-rank " +
        "gap >= 9e-5 at every SF.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.lshTopK(e, q, "vec_id", "embedding",
            k = 3, nBits = 4, dim = 64, nProbe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH P AS (
          SELECT b.b AS b, i.i AS i,
                 CASE WHEN substr(md5(b.b || ':' || i.i), 2, 1)
                      IN ('0','2','4','6','8','a','c','e')
                      THEN 1.0 ELSE -1.0 END AS s
          FROM range(0,4) AS b(b), range(0,64) AS i(i)),
        D AS (
          SELECT vec_id, P.b, SUM(P.s * embedding[P.i + 1]) AS dot
          FROM embeddings, P GROUP BY vec_id, P.b),
        BK AS (
          SELECT vec_id,
                 SUM(CASE WHEN dot >= 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS bucket
          FROM D GROUP BY vec_id),
        C AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding, c.embedding) AS cs
          FROM embeddings q
          JOIN BK bq ON bq.vec_id = q.vec_id
          JOIN BK bc ON bit_count(xor(bq.bucket, bc.bucket)) <= 1
          JOIN embeddings c ON c.vec_id = bc.vec_id AND c.vec_id <> q.vec_id
          WHERE q.vec_id % 50 = 0),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
          FROM C)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q51_ann_ivf_topk",
      "IVF-Flat ANN with a deterministic coarse quantizer: centroids = " +
        "the nLists corpus vectors with smallest md5(id), cell = argmin " +
        "exact squared-L2, exact cosine re-rank inside the query's cell. " +
        "Oracle recomputes assignment AND cosine in float64 (unnest-sum), " +
        "so the only cross-engine delta is summation order; argmin " +
        "margins >= 3.5e-5 and rank gaps >= 9.1e-6 at every SF.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfDeterministicTopK(e, q, "vec_id", "embedding",
            k = 3, nLists = 8)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfFlatOracle)),

    GraftQuery(
      "q97_ann_flat_from_index",
      "IVF-Flat served from a WRITTEN index (the uncompressed sibling " +
        "of q89): writeIvfIndex materializes full-precision vectors " +
        "one dir per coarse cell plus the stored centroids, then " +
        "ivfTopKFromIndex answers q51's exact ranking reading ONLY " +
        "the probed cell dirs (static partition pruning, plan-asserted " +
        "in spec) with exact in-cell cosine. Shares q51's oracle SQL " +
        "verbatim.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q97_index")
        graft.sinks.CorpusSink.writeIvfIndex(
          e, "vec_id", "embedding", idx, nLists = 8)
        Similarity.ivfTopKFromIndex(spark, idx, q, "vec_id", "embedding",
            k = 3, nProbe = 1)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfFlatOracle)),

    GraftQuery(
      "q88_ann_ivf_multiprobe",
      "Multi-probe IVF: each query probes its 2 nearest cells before " +
        "the exact cosine re-rank — the IVF recall lever (q46's " +
        "Hamming-1 expansion, for the cell layout). Probe list built " +
        "on the broadcast side; corpus touched once; a neighbor lives " +
        "in exactly one cell, so no dedup pass follows. Margins " +
        "checked like q51: float64 adjacent-rank cosine gaps >= " +
        "2.4e-7 and probe-2/3 cell-distance margins >= 4.0e-3 at " +
        "every SF — orders of magnitude above summation-order error.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfMultiProbeTopK(e, q, "vec_id", "embedding",
            k = 3, nLists = 8, nProbe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN PROBE pq ON pq.vec_id = q.vec_id
          JOIN CELL cc ON cc.cell = pq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q90_ann_ivf_sq8_multiprobe",
      "Multi-probe IVF-SQ8: q71's composed layout with q88's recall " +
        "lever — each query probes its 2 nearest cells, candidates " +
        "ranked by the 8-bit-quantized integer distance. The probe " +
        "list rides the broadcast side; the corpus is touched once; a " +
        "neighbor lives in one cell so no dedup follows. Probe-2/3 " +
        "cell-distance margins are q88's (>= 4.0e-3 at every SF, same " +
        "centroids/distances/query set); in-cell ranking is integer " +
        "(dist, id) — hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfSq8TopK(e, q, "vec_id", "embedding",
            k = 3, nLists = 8, nProbe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfSq8MultiprobeOracle)),

    GraftQuery(
      "q91_ann_ivf_pq_multiprobe",
      "Multi-probe IVF-PQ: q77's billion-scale composition with q88's " +
        "recall lever — the 2-cell probe list multiplies the broadcast " +
        "ADC LUT, never the codes scan; a neighbor's single cell " +
        "matches at most one probe row, so each LUT hit stays unique. " +
        "Probe margins are q88's; ADC distances integer — hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
            k = 3, nLists = 8, m = 8, dim = 64, kCent = 16, nProbe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        """ + pqCte() + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          JOIN PROBE pa ON pa.vec_id = l.query_id
          JOIN CELL cb ON cb.vec_id = c.vec_id AND cb.cell = pa.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        R AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q26_multimodal_features",
      "Binary media column + metadata struct + stub feature extraction.",
      (spark, dir) => {
        val d = Tables.table(spark, dir, "documents")
        val media = Multimodal.pack(d, "doc_id", "text", "image")
        Multimodal.decodeFeaturesExpr(media).orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
               CAST(640 + octet_length(CAST(text AS BLOB)) % 640 AS INTEGER) AS width,
               CAST(360 + octet_length(CAST(text AS BLOB)) % 360 AS INTEGER) AS height,
               md5(text) AS checksum
        FROM documents ORDER BY media_id""")),

    GraftQuery(
      "q122_multimodal_decode",
      "REAL image decode through the oracle gate (q26 exercises the " +
        "non-image stub path; this is the codec path): one synthetic " +
        "PNG per document is ENCODED in-engine at doc_id-derived " +
        "dimensions (JDK ImageIO writer, mapPartitions batch shape), " +
        "then decodeFeatures sniffs the PNG magic and DECODES it with " +
        "ImageIO — the reported width/height are the parsed raster's, " +
        "not metadata arithmetic — and the oracle recomputes the " +
        "expected dimensions from doc_id alone. Wrong sniff, wrong " +
        "decode, or a stub fallback on a valid PNG all hash-mismatch. " +
        "At 100 TB this is the decode stage's real shape: payload " +
        "bytes stay columnar, decode runs once per partition batch, " +
        "features land in their own narrow table.",
      (spark, dir) => {
        // every 5th document: the codec gate is per-row, so a sampled
        // fixture proves real decode identically while the in-engine
        // PNG-encode pass (the query's by-construction cost) stays small
        val d = Tables.table(spark, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
        val dims = d.select(col("doc_id"),
          (lit(1) + col("doc_id") % 31).cast("int").as("w"),
          (lit(1) + col("doc_id") % 17).cast("int").as("h"))
        val media = Multimodal.packImages(dims, "doc_id", "w", "h")
        Multimodal.decodeFeatures(media)
          .select(col("media_id"), col("width"), col("height"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               CAST(1 + doc_id % 31 AS INTEGER) AS width,
               CAST(1 + doc_id % 17 AS INTEGER) AS height
        FROM documents WHERE doc_id % 5 = 0 ORDER BY media_id""")),

    GraftQuery(
      "q145_image_near_dup",
      "IMAGE near-duplicate detection — the multimodal member of the " +
        "dedup family: one 8x8 synthetic PNG per document (tone = " +
        "doc_id mod 251, so distant ids repeat tones and true dups " +
        "exist), REALLY decoded with ImageIO, perceptually hashed " +
        "(8x8 average-hash: integer gray, mean threshold, 64 bits " +
        "packed as four 16-bit bands), then paired by banded LSH — " +
        "candidates share a band, verify is exact hamming <= 3, " +
        "COMPLETE by pigeonhole (3 flipped bits cannot touch all 4 " +
        "bands). The oracle knows the synthesizer's pixel formula and " +
        "re-derives every hash bit ARITHMETICALLY, so this gate " +
        "proves PNG encode->decode pixel fidelity end to end: one " +
        "channel value off anywhere flips a bit and the hash " +
        "mismatches. At 100 TB only the 32-byte hashes join; payload " +
        "bytes never shuffle.",
      (spark, dir) => {
        // every 5th document, q122's sampled-fixture rationale: the
        // decode+hash gate is per-row; the pair structure stays rich
        val dims = Tables.table(spark, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lit(8).as("w"), lit(8).as("h"))
        val media = Multimodal.packImages(dims, "doc_id", "w", "h")
        val hashes = Multimodal.perceptualHash8(media).toDF()
        Multimodal.perceptualNearDups(hashes, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH D AS (SELECT doc_id, doc_id % 251 AS tone FROM documents
                   WHERE doc_id % 5 = 0),
        PX AS (SELECT doc_id, x, y,
                      ((x * 31 + y * 17 + tone) & 16777215) AS v
               FROM D, range(8) t1(x), range(8) t2(y)),
        G AS (SELECT doc_id, (y * 8 + x) AS idx,
                     (((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255)) // 3 AS g
              FROM PX),
        M AS (SELECT doc_id, SUM(g) // 64 AS m FROM G GROUP BY doc_id),
        B AS (SELECT g.doc_id, idx // 16 AS band,
                     CAST(SUM(CASE WHEN g.g > m.m
                                   THEN 1 << (idx % 16) ELSE 0 END) AS BIGINT) AS bv
              FROM G g JOIN M m ON m.doc_id = g.doc_id
              GROUP BY g.doc_id, idx // 16),
        H AS (SELECT doc_id,
                     max(CASE WHEN band = 0 THEN bv END) AS b0,
                     max(CASE WHEN band = 1 THEN bv END) AS b1,
                     max(CASE WHEN band = 2 THEN bv END) AS b2,
                     max(CASE WHEN band = 3 THEN bv END) AS b3
              FROM B GROUP BY doc_id),
        C AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
              FROM B a JOIN B b
                ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
        P AS (SELECT c.ida AS id_a, c.idb AS id_b,
                     bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
                     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
                       AS hamming
              FROM C c JOIN H ha ON ha.doc_id = c.ida
                       JOIN H hb ON hb.doc_id = c.idb)
        SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        FROM P WHERE hamming <= 3 ORDER BY id_a, id_b""")),

    GraftQuery(
      "q65_ann_sq8_topk",
      "SQ8 compressed ANN: top-3 by 8-bit scalar-quantized L2 (global " +
        "per-dim min/max ranges, fused quantize+distance codegen " +
        "kernel). Integer distances with id tiebreak — hash-exact, no " +
        "float margins; the 4x-smaller-scan variant of q25.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.sq8TopK(e, q, "vec_id", "embedding", k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        Q AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(embedding)+1)] AS qv
          FROM embeddings, MML),
        P AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i])
                           for i in range(1, len(a.qv)+1)]) AS d
          FROM Q a JOIN Q b ON b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0),
        R AS (SELECT query_id, neighbor_id, CAST(d AS BIGINT) AS dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY d, neighbor_id) AS rank
              FROM P)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q71_ann_ivf_sq8_topk",
      "IVF-SQ8 composed ANN: q51's deterministic coarse quantizer " +
        "prunes to the query's cell, q65's 8-bit-quantized integer " +
        "distance ranks inside it — cell pruning and 4x code " +
        "compression multiply (the Faiss IVF,SQ8 recipe). In-cell " +
        "ranking is integer (dist, id): hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfSq8TopK(e, q, "vec_id", "embedding", k = 3, nLists = 8)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        QV AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(embedding)+1)] AS qv
          FROM embeddings, MML),
        P AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i])
                           for i in range(1, len(a.qv)+1)]) AS d
          FROM QV a
          JOIN CELL ca ON ca.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN QV b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0),
        R AS (SELECT query_id, neighbor_id, CAST(d AS BIGINT) AS dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY d, neighbor_id) AS rank
              FROM P)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q75_ann_pq_topk",
      "Product-quantization ANN: 8 subspaces x 16 md5-ranked sample " +
        "centroids, SQ8 integer sub-distances; corpus scanned as codes " +
        "only, each query precomputing its (subspace, centroid) " +
        "distance lookup table (the ADC recipe, 32x scan compression). " +
        "Integer (dist, id) ranking — hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.pqTopK(e, q, "vec_id", "embedding",
            k = 3, m = 8, dim = 64, kCent = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("\n        WITH " + pqCte() + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        R AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q77_ann_ivf_pq_topk",
      "IVF-PQ composed ANN (the Faiss billion-scale default): q51's " +
        "deterministic coarse quantizer prunes to the query's cell, " +
        "q75's PQ ADC lookup-table distance ranks inside it — cell " +
        "pruning x 32x code compression. The cell restriction rides on " +
        "the broadcast LUT; integer (dist, id) ranking, hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
            k = 3, nLists = 8, m = 8, dim = 64, kCent = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfPqOracle)),

    GraftQuery(
      "q95_ann_recall_report",
      "Per-query recall of single-probe IVF (q51) against exact brute " +
        "force (q25) — the evaluation report ANN parameters are tuned " +
        "on: n_exact / n_hit / recall per query from one (query, " +
        "neighbor) equi-join + per-query agg. Both rankings are " +
        "margin-established (q25/q51), counts integer, one double " +
        "division — hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.recallReport(
            Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3),
            Similarity.ivfDeterministicTopK(e, q, "vec_id", "embedding",
              k = 3, nLists = 8))
          .orderBy(col("query_id"))
      },
      Some("""
        WITH BP AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(a.embedding, b.embedding) AS c
          FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0),
        BR AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
          FROM BP),
        EX AS (SELECT query_id, neighbor_id FROM BR WHERE rank <= 3),
        CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN CELL cq ON cq.vec_id = q.vec_id
          JOIN CELL cc ON cc.cell = cq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        IR AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND),
        AP AS (SELECT query_id, neighbor_id FROM IR WHERE rank <= 3)
        SELECT e.query_id AS query_id,
               COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               CAST(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS recall
        FROM EX e LEFT JOIN AP a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id""")),

    GraftQuery(
      "q89_ann_from_index",
      "ANN served from a WRITTEN index: writeIvfIndex (PQ codec) materializes " +
        "codes (one dir per coarse cell) + centroids/codebook/ranges, " +
        "then ivfTopKFromIndex answers q77's exact ranking from the " +
        "stored artifacts alone — corpus vectors never re-read, probed " +
        "cell dirs pruned statically (plan-asserted in spec). Shares " +
        "q77's oracle SQL verbatim; integer (dist, id) ranking, " +
        "hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        // fixed scratch path: repeated verify/bench runs overwrite one
        // index instead of accumulating temp dirs
        val idx = QueryScratch.dir("graft_q89_index")
        graft.sinks.CorpusSink.writeIvfIndex(
          e, "vec_id", "embedding", idx, nLists = 8,
          codec = VectorCodec.Pq(m = 8, kCent = 16))
        Similarity.ivfTopKFromIndex(spark, idx, q, "vec_id", "embedding",
            k = 3, nProbe = 1)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfPqOracle)),

    GraftQuery(
      "q98_ann_index_recall",
      "Recall of the WRITTEN-index IVF-PQ probe at nProbe=2 against " +
        "exact brute force — the q95 evaluation loop running over the " +
        "stored artifacts (q89's layout), proving the serving path " +
        "participates in recall tuning: widen nProbe on the SAME index, " +
        "re-run this report, watch recall rise (monotonicity " +
        "spec-asserted in CorpusSinkSpec). The approx ranking is q91's " +
        "(integer ADC distances, hash-exact); brute force is q25's " +
        "(margin-established); counts integer, one double division.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q98_index")
        graft.sinks.CorpusSink.writeIvfIndex(
          e, "vec_id", "embedding", idx, nLists = 8,
          codec = VectorCodec.Pq(m = 8, kCent = 16))
        Similarity.recallReport(
            Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3),
            Similarity.ivfTopKFromIndex(spark, idx, q, "vec_id", "embedding",
              k = 3, nProbe = 2))
          .orderBy(col("query_id"))
      },
      Some("""
        WITH BP AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(a.embedding, b.embedding) AS c
          FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0),
        BR AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
          FROM BP),
        EX AS (SELECT query_id, neighbor_id FROM BR WHERE rank <= 3),
        CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        """ + pqCte() + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          JOIN PROBE pa ON pa.vec_id = l.query_id
          JOIN CELL cb ON cb.vec_id = c.vec_id AND cb.cell = pa.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        IR AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dist, neighbor_id) AS rank
               FROM ADC),
        AP AS (SELECT query_id, neighbor_id FROM IR WHERE rank <= 3)
        SELECT e.query_id AS query_id,
               COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               CAST(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS recall
        FROM EX e LEFT JOIN AP a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id""")),

    GraftQuery(
      "q99_semantic_dedup",
      "SemDeDup: deterministic IVF cells cluster the embedding space, " +
        "exact cosine >= 0.45 verifies near-dups INSIDE each cell only, " +
        "larger id of each verified pair drops; output is the surviving " +
        "id set. The cell restriction is q42's bucket restriction with " +
        "a data-dependent partitioner (q51's centroids — one clustering " +
        "artifact backs both the ANN index and the dedup pass). " +
        "Thresholds inherit q24's all-pairs margin (cell pairs are a " +
        "subset) and q51's argmin cell margins.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        Dedup.semanticDedup(e, "vec_id", "embedding",
            threshold = 0.45, nLists = 8)
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        DROPPED AS (
          SELECT DISTINCT b.vec_id AS did
          FROM embeddings a
          JOIN CELL ca ON ca.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45)
        SELECT e.vec_id AS vec_id FROM embeddings e
        LEFT JOIN DROPPED d ON d.did = e.vec_id
        WHERE d.did IS NULL
        ORDER BY vec_id""")),

    GraftQuery(
      "q100_ann_sq8_from_index",
      "IVF-SQ8 served from a WRITTEN index — the middle point of the " +
        "serving matrix (Flat q97 = exact vectors; SQ8 = 8-bit codes, " +
        "4x smaller scan; PQ q89 = m bytes): writeIvfIndex (SQ8 codec) stores " +
        "each vector quantized once under the global grid, one dir per " +
        "coarse cell; ivfTopKFromIndex quantizes the QUERY under the " +
        "stored grid and integer-L2 ranks only the probed cell dirs " +
        "(static partition pruning, plan-asserted in spec) at nProbe=2. " +
        "Shares q90's oracle SQL verbatim — served == inline by " +
        "construction; integer distances, hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q100_index")
        graft.sinks.CorpusSink.writeIvfIndex(
          e, "vec_id", "embedding", idx, nLists = 8,
          codec = VectorCodec.Sq8)
        Similarity.ivfTopKFromIndex(spark, idx, q, "vec_id", "embedding",
            k = 3, nProbe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfSq8MultiprobeOracle)),

    GraftQuery(
      "q101_ann_streamed_index",
      "Continuous ANN index maintenance (VectorIndexStream's batch-" +
        "backfill path, as q93 is for streaming near-dedup): the index " +
        "is SEEDED from the even-id half (centroids trained there, " +
        "fixed forever — Faiss's IVF append story), the odd-id half " +
        "arrives as an appended batch into its own cells/batch=0 " +
        "partition, and the probe answers over ALL admitted vectors " +
        "from the stored artifacts alone with exact in-cell cosine. " +
        "Oracle recomputes the even-half centroid pick + full-corpus " +
        "assignment in float64; stream==backfill parity, fences, " +
        "replay, and compaction are MemoryStream-spec'd.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q101_index")
        graft.streaming.VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
        graft.streaming.VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        graft.streaming.VectorIndexStream.topKFromIndex(
            spark, idx, e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN CELL cq ON cq.vec_id = q.vec_id
          JOIN CELL cc ON cc.cell = cq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q105_semantic_dedup_stream",
      "Streaming semantic dedup's batch-backfill path " +
        "(SemanticDedupStream, as q93 is for text near-dedup): the " +
        "VectorIndexStream store is seeded from the even-id half " +
        "(centroids pinned there), the odd-id half arrives as one " +
        "batch — within-batch in-cell cosine drops the larger id of " +
        "each verified pair, then survivors drop against ANY admitted " +
        "neighbor in their own (statically pruned) cells. Output is " +
        "the batch's surviving ids. Thresholds inherit q24's all-pairs " +
        "margin; cells are q101's even-half quantizer.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q105_index")
        graft.streaming.VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
        graft.streaming.SemanticDedupStream.dedupBatch(
            e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx,
            beforeBatch = 0, threshold = 0.45)
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        P AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a
          JOIN CELL ca ON ca.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45),
        B1 AS (SELECT DISTINCT id_b AS vid FROM P
               WHERE id_a % 2 = 1 AND id_b % 2 = 1),
        B2 AS (SELECT DISTINCT (CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END) AS vid
               FROM P WHERE (id_a % 2) + (id_b % 2) = 1)
        SELECT vec_id FROM embeddings
        WHERE vec_id % 2 = 1
          AND vec_id NOT IN (SELECT vid FROM B1)
          AND vec_id NOT IN (SELECT vid FROM B2)
        ORDER BY vec_id""")),

    GraftQuery(
      "q106_ann_streamed_sq8_index",
      "The QUANTIZED streamed vector store (q101's layout at 4x " +
        "smaller scan): centroids AND the SQ8 grid are trained on the " +
        "even-id seed half and pinned (stored codes are only " +
        "comparable under the grid that produced them), the odd half " +
        "appends as batch 0 with full-precision cell assignment but " +
        "quantized payload (out-of-range values clamp — standard SQ8 " +
        "saturation), and the probe quantizes the query under the " +
        "pinned grid and integer-L2 ranks its cell. Integer distances " +
        "— hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q106_index")
        graft.streaming.VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8,
          codec = VectorCodec.Sq8)
        graft.streaming.VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        graft.streaming.VectorIndexStream.topKFromIndex(
            spark, idx, e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings WHERE vec_id % 2 = 0)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        QV AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(embedding)+1)] AS qv
          FROM embeddings, MML),
        P AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i])
                           for i in range(1, len(a.qv)+1)]) AS d
          FROM QV a
          JOIN CELL ca ON ca.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN QV b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0),
        R AS (SELECT query_id, neighbor_id, CAST(d AS BIGINT) AS dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY d, neighbor_id) AS rank
              FROM P)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q107_ann_streamed_pq_index",
      "The PRODUCT-QUANTIZED streamed vector store — the last cell of " +
        "the serving matrix (Flat/SQ8/PQ x written/streamed): " +
        "centroids, the SQ8 grid, AND the PQ codebook are trained on " +
        "the even-id seed half and pinned (stored codes are only " +
        "decodable under the codebook that produced them), the odd " +
        "half appends as batch 0 storing m=8 code bytes per vector, " +
        "and the probe builds its ADC LUT under the pinned artifacts " +
        "over ONLY its cell's surviving batch partitions. Integer ADC " +
        "distances — hash-exact.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q107_index")
        graft.streaming.VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Pq(m = 8, kCent = 16))
        graft.streaming.VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        graft.streaming.VectorIndexStream.topKFromIndex(
            spark, idx, e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        """ + pqCte(" WHERE vec_id % 2 = 0") + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          JOIN CELL ca ON ca.vec_id = l.query_id
          JOIN CELL cb ON cb.vec_id = c.vec_id AND cb.cell = ca.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        R AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q109_ann_streamed_recall",
      "Recall tuning over the STREAMED store — q98's evaluation loop " +
        "run against VectorIndexStream instead of the written layout, " +
        "proving the streamed matrix participates in the same " +
        "widen-nProbe-watch-recall-rise workflow: seed the even half " +
        "(centroids pinned), append the odd half as batch 0, probe the " +
        "flat store at nProbe=2, and report per-query recall against " +
        "exact brute force. Monotone-in-nProbe and full-probe-" +
        "recall=1.0 are spec-asserted on all three payload variants " +
        "(flat/SQ8/PQ). Counts integer, one double division.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q109_index")
        graft.streaming.VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
        graft.streaming.VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        Similarity.recallReport(
            Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3),
            graft.streaming.VectorIndexStream.topKFromIndex(
              spark, idx, q, "vec_id", "embedding", k = 3, nProbe = 2))
          .orderBy(col("query_id"))
      },
      Some("""
        WITH BP AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(a.embedding, b.embedding) AS c
          FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          WHERE a.vec_id % 50 = 0),
        BR AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
          FROM BP),
        EX AS (SELECT query_id, neighbor_id FROM BR WHERE rank <= 3),
        CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN PROBE pq ON pq.vec_id = q.vec_id
          JOIN CELL cc ON cc.cell = pq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        IR AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND),
        AP AS (SELECT query_id, neighbor_id FROM IR WHERE rank <= 3)
        SELECT e.query_id AS query_id,
               COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               CAST(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS recall
        FROM EX e LEFT JOIN AP a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id""")),

    GraftQuery(
      "q110_semantic_keep_best",
      "Quality-aware SemDeDup: q99's verified semantic pairs become " +
        "edges, connected components (q72's label propagation) turn " +
        "pairwise evidence into whole duplicate groups, and the " +
        "best-TEXT-QUALITY member of each group survives (q73's keeper " +
        "policy on the embedding graph, scores joined over the shared " +
        "document id) — fixing pairwise drop-the-larger-id's transitive " +
        "over-drop and its inability to express quality preference. " +
        "One keeper row per component, singletons included.",
      (spark, dir) => {
        val d = Tables.table(spark, dir, "documents")
        val e = Tables.table(spark, dir, "embeddings")
        val quality = graft.functions.TextAnalysis
          .qualityByDoc(d, "doc_id", "text")
          .withColumnRenamed("doc_id", "vec_id")
        Dedup.semanticDedupKeepBest(
            e, "vec_id", "embedding", quality, "quality",
            threshold = 0.45, nLists = 8)
          .orderBy(col("vec_id"))
      },
      Some(raw"""
        WITH RECURSIVE CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        E AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a
          JOIN CELL ca ON ca.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45),
        SYM AS (SELECT id_a AS src, id_b AS dst FROM E
                UNION ALL SELECT id_b AS src, id_a AS dst FROM E),
        REACH AS (
          SELECT vec_id AS id, vec_id AS r FROM embeddings
          UNION
          SELECT sy.dst AS id, REACH.r AS r
          FROM SYM sy JOIN REACH ON REACH.id = sy.src),
        CC AS (SELECT id AS vec_id, min(r) AS cluster_id
               FROM REACH GROUP BY id),
        QW AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
               FROM documents),
        QS AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(w) AS DOUBLE) AS n_tokens,
                 CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
                 CAST(len(list_filter(w, x -> x = 'the')) + len(list_filter(w, x -> x = 'and')) + len(list_filter(w, x -> x = 'of')) AS DOUBLE) AS stop_hits
          FROM QW),
        Q AS (
          SELECT doc_id,
                 CAST(0.4 AS DOUBLE) * least(n_tokens / CAST(64.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 + CAST(0.3 AS DOUBLE) * (n_alpha / n_chars)
                 + CAST(0.3 AS DOUBLE) * least(stop_hits * CAST(8.0 AS DOUBLE) / n_tokens, CAST(1.0 AS DOUBLE)) AS quality
          FROM QS)
        SELECT CC.vec_id AS vec_id, CC.cluster_id AS cluster_id, Q.quality AS quality
        FROM CC JOIN Q ON CC.vec_id = Q.doc_id
        QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, CC.vec_id) = 1
        ORDER BY vec_id""")),

    GraftQuery(
      "q114_ann_pq_refined",
      "Two-stage PQ + exact refine (Faiss IndexRefineFlat): q75's " +
        "codes-only ADC scan shortlists 10 candidates per query, then " +
        "ONLY those rows are re-scored in full-precision cosine and " +
        "re-ranked to the final top-3 — the standard fix for PQ " +
        "quantization error, with the exact kernel touching a bounded " +
        "candidate set independent of corpus size (shortlist broadcast " +
        "into one (id, vec)-only corpus scan, no corpus shuffle). ADC " +
        "stage integer-exact; refine ordering inherits q25's " +
        "margin-established cosine.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.pqTopKRefined(e, q, "vec_id", "embedding",
            k = 3, rerankR = 10, m = 8, dim = 64, kCent = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(pqRefineOracle)),

    GraftQuery(
      "q115_ann_refined_from_index",
      "Served two-stage refine (writePqRefineIndex probed by " +
        "pqRefinedTopKFromIndex — Faiss IndexRefineFlat persisted): " +
        "the ADC shortlist runs over the stored codes under the stored " +
        "codebook/ranges, then the shortlist's ids are pushed as a " +
        "literal IN onto the id-sorted vecs flat store so the exact " +
        "refine reads only intersecting row groups (spec-asserted " +
        "PushedFilters; the corpus is never re-read). Shares q114's " +
        "oracle verbatim — served == inline by construction.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q115_index")
        graft.sinks.CorpusSink.writePqRefineIndex(
          e, "vec_id", "embedding", idx, m = 8, kCent = 16)
        Similarity.pqRefinedTopKFromIndex(spark, idx, q, "vec_id", "embedding",
            k = 3, rerankR = 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(pqRefineOracle)),

    GraftQuery(
      "q123_ann_streamed_refined",
      "Two-stage PQ + exact refine over STREAMED stores — the refine " +
        "cell of the streamed serving matrix (q101 flat / q106 SQ8 / " +
        "q107 PQ now composed, q114/q115's recipe against live " +
        "indexes): the even-id seed half pins centroids + grid + " +
        "codebook in a streamed PQ store AND seeds a flat " +
        "full-precision companion store; the odd half appends to BOTH " +
        "as batch 0; the probe shortlists rerankR=10 per query from " +
        "the PQ store's codes alone (probed-cell pruning, ADC " +
        "integer distances) and re-ranks ONLY those candidates in " +
        "exact cosine read id-pruned from the flat store (literal-IN " +
        "pushdown onto id-sorted cell files). One fence pins both " +
        "stores to the same admitted history. Stream==backfill parity " +
        "is spec-asserted (VectorIndexStreamSpec).",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val even = e.filter(col("vec_id") % 2 === 0)
        val odd = e.filter(col("vec_id") % 2 === 1)
        val pqIdx = QueryScratch.dir("graft_q123_pq_index")
        val vecsIdx = QueryScratch.dir("graft_q123_vecs_index")
        graft.streaming.VectorIndexStream.seedIndex(
          even, "vec_id", "embedding", pqIdx, nLists = 8,
          codec = VectorCodec.Pq(m = 8, kCent = 16))
        graft.streaming.VectorIndexStream.appendBatch(
          odd, "vec_id", "embedding", pqIdx, 0L)
        graft.streaming.VectorIndexStream.seedIndex(
          even, "vec_id", "embedding", vecsIdx, nLists = 8)
        graft.streaming.VectorIndexStream.appendBatch(
          odd, "vec_id", "embedding", vecsIdx, 0L)
        graft.streaming.VectorIndexStream.pqRefinedTopKFromIndex(
            spark, pqIdx, vecsIdx, q, "vec_id", "embedding",
            k = 3, rerankR = 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        """ + pqCte(" WHERE vec_id % 2 = 0") + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          JOIN CELL ca ON ca.vec_id = l.query_id
          JOIN CELL cb ON cb.vec_id = c.vec_id AND cb.cell = ca.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        R AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC),
        SL AS (SELECT query_id, neighbor_id FROM R WHERE rank <= 10),
        EX AS (
          SELECT s.query_id, s.neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM SL s
          JOIN embeddings q ON q.vec_id = s.query_id
          JOIN embeddings c ON c.vec_id = s.neighbor_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        RR AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
               FROM EX)
        SELECT query_id, rank, neighbor_id FROM RR
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q153_centroid_outliers",
      "Per-label centroid outliers (Similarity.labelCentroidOutliers) " +
        "— the embedding-space label-noise detector: the 10 vectors " +
        "farthest from their class centroid per label are the " +
        "mislabeled/ambiguous review candidates. Exactness without " +
        "floats: milli-unit quantization q=round(v*1000) (a float " +
        "mantissa times 1000 still fits double exactly), and ranking " +
        "on cnt^2*||v-c||^2 = sum(cnt*q - sum_q)^2 — cnt is constant " +
        "per label, so the ranking IS the centroid-distance ranking " +
        "in pure BIGINT arithmetic. Two bounded shuffles (label-dim " +
        "partials; per-vector regroup) + a broadcast centroid table; " +
        "top-k is one window pass.",
      (spark, dir) => {
        Similarity.labelCentroidOutliers(
            Tables.table(spark, dir, "embeddings"),
            "vec_id", "embedding", "label", topK = 10)
          .select(col("vid").as("vec_id"), col("lbl").as("label"),
            col("d2s").as("dist2_scaled"), col("rn"))
          .orderBy(col("label"), col("rn"))
      },
      Some("""
        WITH Q AS (SELECT vec_id, label, dim,
                          CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS q
                   FROM (SELECT vec_id, label, unnest(embedding) AS v,
                                unnest(range(1, len(embedding)+1)) AS dim
                         FROM embeddings)),
        C AS (SELECT label, dim, SUM(q) AS sumq, COUNT(*) AS cnt
              FROM Q GROUP BY label, dim),
        D AS (SELECT q.vec_id, q.label,
                     SUM(CAST((c.cnt * q.q - c.sumq) * (c.cnt * q.q - c.sumq)
                              AS BIGINT)) AS d2s
              FROM Q q JOIN C c ON q.label = c.label AND q.dim = c.dim
              GROUP BY q.vec_id, q.label),
        R AS (SELECT vec_id, label, CAST(d2s AS BIGINT) AS dist2_scaled,
                     CAST(row_number() OVER (PARTITION BY label
                                             ORDER BY d2s DESC, vec_id) AS INT) AS rn
              FROM D)
        SELECT vec_id, label, dist2_scaled, rn
        FROM R WHERE rn <= 10 ORDER BY label, rn""")),

    GraftQuery(
      "q157_audio_decode",
      "REAL audio decode through the oracle gate — the audio face of " +
        "q122: one deterministic 16-bit PCM mono WAV per sampled " +
        "document is synthesized in-engine (hand-rolled RIFF " +
        "container), then decodeAudioFeatures parses it with the " +
        "JDK's javax.sound.sampled AudioSystem — sample rate and " +
        "frame bytes come from the PARSED header, the stats from the " +
        "reassembled samples — and the oracle recomputes the expected " +
        "integer statistics from the synthesis formula alone " +
        "(sum-of-squares and peak over ((id*31 + i*7) mod 2001) - " +
        "1000). Wrong header math, wrong endianness, or a " +
        "metadata-only shortcut all hash-mismatch. Same 100 TB " +
        "posture as q122: payload bytes stay columnar, decode runs " +
        "once per partition batch, features land in a narrow table.",
      (spark, dir) => {
        val d = Tables.table(spark, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
        val media = Multimodal.packWavs(d, "doc_id")
        Multimodal.decodeAudioFeatures(media)
          .select(col("media_id"), col("sample_rate"), col("n_samples"),
            col("sum_sq"), col("max_abs"))
          .orderBy(col("media_id"))
      },
      Some("""
        WITH S AS (SELECT doc_id, unnest(range(0, 100 + doc_id % 50)) AS i
                   FROM documents WHERE doc_id % 5 = 0),
        V AS (SELECT doc_id, ((doc_id * 31 + i * 7) % 2001) - 1000 AS s FROM S)
        SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS BIGINT) AS max_abs
        FROM V GROUP BY doc_id ORDER BY media_id""")),

    GraftQuery(
      "q167_embedding_drift",
      "Per-label embedding drift monitor (Similarity.embeddingDrift): " +
        "squared distance between two corpus slices' per-label mean " +
        "embeddings (here the vec_id parity halves standing in for " +
        "two pipeline versions) — the signal that catches a broken " +
        "encoder or shifted input distribution before it poisons " +
        "training. Integer-exact end to end: milli-quantized " +
        "components SHIFT +4096 into the positive domain before the " +
        "mean's integer division (trunc == floor only on " +
        "non-negatives — the one place Spark div and SQL // disagree " +
        "is negative numerators; the shift cancels in the " +
        "difference), means as floored micro-units, drift² in " +
        "BIGINT. One posexplode + one (label,part,dim) agg; " +
        "everything after is labels-x-dims sized.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
          .withColumn("part", (col("vec_id") % 2).cast("int"))
        Similarity.embeddingDrift(e, "vec_id", "embedding", "label", "part")
          .select(col("lbl").as("label"), col("n_a"), col("n_b"),
            col("drift2_micro"))
          .orderBy(col("label"))
      },
      Some("""
        WITH Q AS (SELECT vec_id, label, vec_id % 2 AS par, dim,
                          CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)
                            + 4096 AS q
                   FROM (SELECT vec_id, label, unnest(embedding) AS v,
                                unnest(range(1, len(embedding)+1)) AS dim
                         FROM embeddings)),
        M AS (SELECT label, par, dim,
                     CAST((sum(q) * 1000) // count(*) AS BIGINT) AS m,
                     count(DISTINCT vec_id) AS c
              FROM Q GROUP BY label, par, dim),
        J AS (SELECT a.label, a.dim, a.c AS ca, b.c AS cb,
                     (a.m - b.m) * (a.m - b.m) AS d2
              FROM M a JOIN M b ON a.label = b.label AND a.dim = b.dim
              WHERE a.par = 0 AND b.par = 1)
        SELECT label, CAST(max(ca) AS BIGINT) AS n_a,
               CAST(max(cb) AS BIGINT) AS n_b,
               CAST(sum(d2) AS BIGINT) AS drift2_micro
        FROM J GROUP BY label ORDER BY label""")),

    GraftQuery(
      "q178_video_frames",
      "REAL video frame sampling through the oracle gate — the video " +
        "face completing q122 (image) and q157 (audio): one " +
        "deterministic GVID container per sampled document (hand-" +
        "rolled header + seekable frame index + concatenated REAL PNG " +
        "frames), then decodeVideoFrames parses the container " +
        "structure, SEEKS every 2nd frame through the index (never a " +
        "linear payload scan), decodes each sampled frame with " +
        "ImageIO, and emits per-frame integer pixel sums. The oracle " +
        "recomputes each sampled frame's sum_rgb from the synthesis " +
        "formula alone in closed form — wrong index math, a frame " +
        "decoded at the wrong offset, or any pixel infidelity " +
        "hash-mismatches. 100 TB posture: one media row fans out to " +
        "its sampled frames inside one mapPartitions pass, payload " +
        "bytes never shuffle, features land in a narrow frame table " +
        "keyed by (media_id, frame_idx).",
      (spark, dir) => {
        val d = Tables.table(spark, dir, "documents")
          .filter(col("doc_id") % 7 === 0)
        val media = Multimodal.packVideos(d, "doc_id")
        Multimodal.decodeVideoFrames(media, stride = 2)
          .select(col("media_id"), col("frame_idx"), col("width"),
            col("height"), col("sum_rgb"))
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""
        WITH D AS (SELECT doc_id, 4 + doc_id % 5 AS nf,
                          CAST(16 + doc_id % 8 AS BIGINT) AS w,
                          CAST(12 + doc_id % 6 AS BIGINT) AS h
                   FROM documents WHERE doc_id % 7 = 0),
        F AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM D)
        SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(31 * h * ((w - 1) * w // 2) + 17 * w * ((h - 1) * h // 2)
                    + ((doc_id * 7 + f * 13) % 251) * w * h AS BIGINT) AS sum_rgb
        FROM F WHERE f % 2 = 0 ORDER BY media_id, frame_idx""")),

    GraftQuery(
      "q182_centroid_pair_dist",
      "Label-taxonomy confusion matrix " +
        "(Similarity.centroidPairDistances): pairwise squared " +
        "distances between per-label mean embeddings — labels whose " +
        "centroids nearly coincide are merge/relabel candidates, the " +
        "between-class complement of q153's within-class outliers and " +
        "q167's between-slice drift. Integer-exact via the q167 " +
        "recipe (milli-quantize, +4096 shift so the mean's floor " +
        "division agrees across engines, micro-unit means; the shift " +
        "cancels in differences). One posexplode + one (label, dim) " +
        "aggregation over the corpus; the pair join touches only the " +
        "labels-x-dims centroid table.",
      (spark, dir) => {
        Similarity.centroidPairDistances(
            Tables.table(spark, dir, "embeddings"), "embedding", "label")
          .orderBy(col("label_a"), col("label_b"))
      },
      Some("""
        WITH Q AS (SELECT label, dim,
                          CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)
                            + 4096 AS q
                   FROM (SELECT label, unnest(embedding) AS v,
                                unnest(range(1, len(embedding)+1)) AS dim
                         FROM embeddings)),
        M AS (SELECT label, dim, (sum(q) * 1000) // count(*) AS m
              FROM Q GROUP BY label, dim)
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS d2_micro2
        FROM M a JOIN M b ON a.dim = b.dim AND a.label < b.label
        GROUP BY a.label, b.label ORDER BY label_a, label_b""")),

    GraftQuery(
      "q195_ivf_cell_balance",
      "IVF index balance monitor: per-cell occupancy of the q51 " +
        "deterministic quantizer plus each cell's load factor " +
        "relative to perfect balance (n*nLists*1e6/N micro-units — " +
        "1e6 = balanced). The serving-side complement of q185's " +
        "shuffle-salt planner: a cell far above 1e6 is an ANN " +
        "hot spot — its probes scan that multiple of the ideal cell " +
        "size, and at 100 TB it is the cell you split (re-quantize) " +
        "or cap. One broadcast-centroid assignment pass (the same " +
        "plan the index writers run) and an nLists-sized aggregate.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val n = e.count()
        Similarity.ivfAssignCells(e, "vec_id", "embedding", nLists = 8)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
          .select(col("cell"), col("n_vecs"),
            expr(s"n_vecs * 8 * 1000000 div ${n}L").as("load_micro"))
          .orderBy(col("cell"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        N AS (SELECT count(*) AS n FROM embeddings)
        SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(count(*) * 8 * 1000000 // max(N.n) AS BIGINT) AS load_micro
        FROM CELL, N GROUP BY cell ORDER BY cell""")),

    GraftQuery(
      "q246_ann_filtered_exact",
      "Metadata-FILTERED exact vector search — top-3 cosine " +
        "restricted to corpus rows with label IN (2,4,6), queries " +
        "unrestricted (how production vector serving is actually " +
        "queried: label/language/license predicates on every " +
        "request). PRE-FILTER strategy: the predicate cuts the " +
        "corpus before any distance work (pushed to the scan; a " +
        "partition filter under a label-partitioned layout), recall " +
        "exact by construction — the baseline q247's shared-index " +
        "post-filter path is measured against. Cosine in float64 on " +
        "both sides (dot/sqrt in SQL); min rank-3/4 gap 1.8e-5 at " +
        "every SF, orders above summation-order error; id-only " +
        "output.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.filteredTopK(e, q, "vec_id", "embedding",
            col("label").isin(2, 4, 6), k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN embeddings c ON c.vec_id <> q.vec_id AND c.label IN (2, 4, 6)
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q247_ann_ivf_filtered",
      "Filtered IVF multi-probe — ONE shared unfiltered index " +
        "serving the label IN (2,4,6) query: centroids and the " +
        "2-nearest-cell probe list come from the FULL corpus (the " +
        "same written cell layout serves every predicate), the " +
        "candidates are label-filtered inside the probed cells " +
        "before the exact re-rank. POST-FILTER strategy: cost stays " +
        "|corpus|*nProbe/nLists at any selectivity; recall vs q246 " +
        "degrades as the predicate sharpens (the documented " +
        "filtered-ANN trap — raise nProbe until recall holds). " +
        "Margins: min rank-3/4 cosine gap 4.2e-5, probe-2/3 cell " +
        "margin 4.6e-3, min 33 filtered candidates per query at " +
        "every SF.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfFilteredTopK(e, q, "vec_id", "embedding",
            col("label").isin(2, 4, 6), k = 3, nLists = 8, nProbe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT d.vec_id, d.cent_id AS cell FROM D d
          JOIN embeddings e ON e.vec_id = d.vec_id AND e.label IN (2, 4, 6)
          QUALIFY row_number() OVER (PARTITION BY d.vec_id ORDER BY d.l2, d.cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN PROBE pq ON pq.vec_id = q.vec_id
          JOIN CELL cc ON cc.cell = pq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q249_ann_store_deletes",
      "Vector-store DELETE path — the GDPR/takedown half of the " +
        "index lifecycle: seed the IVF-Flat store, tombstone the " +
        "vec_id % 10 = 3 ids as a delete batch (stored under the " +
        "same batch=N layout as the cells, stamped, so retention " +
        "and as-of fences compose), then probe with the resolved " +
        "dead-id set (re-appends revive latest-batch-wins; here " +
        "none, so it equals the raw set) subtracted BEFORE ranking " +
        "— a deleted top " +
        "hit is replaced by the next-best live vector, the top-3 " +
        "never silently shortens. The oracle is q51's cell-" +
        "restricted exact ranking over the surviving ids. Margins: " +
        "min post-delete rank-3/4 cosine gap 9.2e-6, min 52 live " +
        "candidates per probed cell at every SF.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q249_index")
        VectorIndexStream.seedIndex(e, "vec_id", "embedding", idx, nLists = 8)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 3).select(col("vec_id")),
          "vec_id", batchId = 0L)
        Similarity.ivfTopKFromIndex(spark, idx, q, "vec_id", "embedding",
            k = 3, nProbe = 1,
            excludeIds = Some(
              VectorIndexStream.deadIds(spark, idx, "vec_id")))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN CELL ca ON ca.vec_id = q.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN embeddings c ON c.vec_id = cb.vec_id AND c.vec_id <> q.vec_id
                           AND c.vec_id % 10 <> 3
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q250_filtered_ann_recall",
      "The filtered-ANN recall report — q247's shared-index post-" +
        "filter ranking measured per query against q246's exact pre-" +
        "filter baseline, the number an operator watches when " +
        "deciding whether nProbe holds under a new predicate (the " +
        "q109 tuning loop, for the filtered family). Both rankings " +
        "and the hit-join are exactly the q246/q247 oracle SQL " +
        "composed, so recall is a deterministic integer ratio — " +
        "n_hit/3 in halves — not a float comparison.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val pred = col("label").isin(2, 4, 6)
        Similarity.recallReport(
            Similarity.filteredTopK(e, q, "vec_id", "embedding", pred, k = 3),
            Similarity.ivfFilteredTopK(e, q, "vec_id", "embedding",
              pred, k = 3, nLists = 8, nProbe = 2))
          .orderBy(col("query_id"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT d.vec_id, d.cent_id AS cell FROM D d
          JOIN embeddings e ON e.vec_id = d.vec_id AND e.label IN (2, 4, 6)
          QUALIFY row_number() OVER (PARTITION BY d.vec_id ORDER BY d.l2, d.cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        EXC AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN embeddings c ON c.vec_id <> q.vec_id AND c.label IN (2, 4, 6)
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        EXACT AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
            FROM EXC) WHERE rank <= 3),
        APC AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN PROBE pq ON pq.vec_id = q.vec_id
          JOIN CELL cc ON cc.cell = pq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        APPROX AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
            FROM APC) WHERE rank <= 3)
        SELECT e.query_id, count(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
        FROM EXACT e LEFT JOIN APPROX a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id""")),

    GraftQuery(
      "q258_ann_auto_nprobe",
      "Filtered ANN with the nProbe CHOSEN PER QUERY — the close of " +
        "q250's recall-degradation loop, the skew toolkit's measure->" +
        "plan->apply shape applied to vector serving: each query " +
        "takes the shortest prefix of its distance-ranked cell list " +
        "whose EXACT label=4 candidate count reaches 20 (broadcast-" +
        "side running sum over the 8-row filtered cell-count table; " +
        "deterministic integers, no recall oracle at serve time), " +
        "then re-ranks exactly inside the probed cells. A sharp " +
        "predicate probes deep (nProbe up to 5 at small SFs) while " +
        "rich cells stay at 1-2 — cost follows selectivity per " +
        "query. Margins: min adjacent top-4 cosine gap 6.8e-4, min " +
        "adjacent cell-l2 gap 1.6e-4 at every SF.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfFilteredTopKAutoProbe(e, q, "vec_id", "embedding",
            col("label") === 4, k = 3, nLists = 8, minCandidates = 20L)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH $autoProbeCtes,
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN PROBE pq ON pq.vec_id = q.vec_id
          JOIN CELLF cc ON cc.cell = pq.cell
          JOIN embeddings c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q259_auto_nprobe_report",
      "The PLAN q258 executes, as an artifact: per query, the chosen " +
        "probe depth and the exact filtered-candidate total its " +
        "prefix holds — the integer-exact face of the auto-nProbe " +
        "choice (what an operator audits when a predicate sharpens: " +
        "n_probe rises, n_candidates stays at/above the floor " +
        "whenever the corpus can supply it). Pure integers, so the " +
        "gate is exact at every SF.",
      (spark, dir) => {
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        Similarity.autoProbeReport(e, q, "vec_id", "embedding",
            col("label") === 4, nLists = 8, minCandidates = 20L)
          .orderBy(col("query_id"))
      },
      Some(s"""
        WITH $autoProbeCtes
        SELECT vec_id AS query_id,
               CAST(max(r) AS BIGINT) AS n_probe,
               CAST(sum(cell_n) AS BIGINT) AS n_candidates
        FROM PROBE GROUP BY 1 ORDER BY 1""")),

    GraftQuery(
      "q265_ann_store_filtered",
      "Metadata-filtered vector search SERVED FROM THE STREAMED " +
        "STORE — q247's shared-index post-filter strategy composed " +
        "with the store lifecycle, the production serving shape (one " +
        "written index, a label predicate per request): seed the " +
        "even half (centroids pinned there), stream the odd half in " +
        "as batch 0, then probe 2 cells per query with candidates " +
        "restricted to label IN (2,4,6) ids AFTER latest-batch-wins " +
        "resolution and BEFORE ranking. The allowed-id set arrives " +
        "as a broadcast frame from the metadata dimension; the cell " +
        "scan stays pruned to the probed directories. Margins: min " +
        "adjacent top-4 cosine gap 9.0e-6, min adjacent cell-l2 gap " +
        "1.6e-4, min 31 allowed candidates per probe set at every SF.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q265_index")
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        VectorIndexStream.filteredTopKFromIndex(spark, idx, q,
            "vec_id", "embedding",
            allowedIds = e.filter(col("label").isin(2, 4, 6))
              .select(col("vec_id")),
            k = 3, nProbe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH ${storeFilteredCtes("e.label IN (2, 4, 6)", "r <= 2")}""")),

    GraftQuery(
      "q266_ann_store_filtered_auto",
      "q265 with the probe width CHOSEN PER QUERY from the STORE's " +
        "own cell statistics (q258's auto-nProbe, served): under the " +
        "sharp label = 4 predicate each query widens its ranked-cell " +
        "prefix until the exact allowed-candidate count in the " +
        "admitted store clears 20 — the count pass reads only the " +
        "store's (id, cell) columns (a deployment keeps these as " +
        "store stats). Deep probes at small SFs (nProbe 3-4), shallow " +
        "at sf0.1 where cells are rich — cost follows selectivity " +
        "per query against one shared index.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q266_index")
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        VectorIndexStream.filteredTopKFromIndex(spark, idx, q,
            "vec_id", "embedding",
            allowedIds = e.filter(col("label") === 4).select(col("vec_id")),
            k = 3, minCandidates = 20L)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH ${storeFilteredCtes("e.label = 4", "prev_cum < 20")}""")),

    GraftQuery(
      "q267_ann_store_filtered_deletes",
      "The FULL production serve in one plan — q265's store-served " +
        "metadata filter composed with q249's delete path: seed the " +
        "even half, stream the odd half as batch 0, tombstone the " +
        "vec_id % 10 = 3 ids as delete batch 1, then probe with BOTH " +
        "the label IN (2,4,6) allowed set AND the resolved dead-id " +
        "set subtracted after latest-batch-wins resolution, before " +
        "ranking. Every request a real deployment sends carries a " +
        "predicate and rides a store with a takedown history; this " +
        "gate pins that composition. Oracle: q265's SQL with the " +
        "deleted ids excluded from the candidate cells, scoring text " +
        "shared. Margins: min adjacent top-4 cosine gap 1.8e-5, min " +
        "28 servable candidates per query at every SF.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q267_index")
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 3).select(col("vec_id")),
          "vec_id", batchId = 1L)
        VectorIndexStream.filteredTopKFromIndex(spark, idx, q,
            "vec_id", "embedding",
            allowedIds = e.filter(col("label").isin(2, 4, 6))
              .select(col("vec_id")),
            k = 3, nProbe = 2,
            excludeIds = Some(VectorIndexStream.deadIds(spark, idx, "vec_id")))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH ${storeFilteredCtes(
          "e.label IN (2, 4, 6) AND e.vec_id % 10 <> 3", "r <= 2")}""")),

    GraftQuery(
      "q251_ann_store_purge",
      "The PHYSICAL half of q249's delete path: same store, same " +
        "vec_id % 10 = 3 tombstone batch — but purged " +
        "(purgeTombstones folds the cells into the seed minus the " +
        "tombstone set under compactIndex's crash-safe journal and " +
        "drops the tombstone store), then probed with NO exclude " +
        "list. The ranking must equal q249's serving-side " +
        "subtraction exactly (oracle SQL shared verbatim) while the " +
        "deleted ids' bytes are no longer on disk — takedown " +
        "complete, not merely masked.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q251_index")
        VectorIndexStream.seedIndex(e, "vec_id", "embedding", idx, nLists = 8)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 3).select(col("vec_id")),
          "vec_id", batchId = 0L)
        VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
        Similarity.ivfTopKFromIndex(spark, idx, q, "vec_id", "embedding",
            k = 3, nProbe = 1)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        CAND AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN CELL ca ON ca.vec_id = q.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN embeddings c ON c.vec_id = cb.vec_id AND c.vec_id <> q.vec_id
                           AND c.vec_id % 10 <> 3
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q271_semantic_dedup_deletes",
      "The delete path composed into SEMANTIC dedup admission (q105 " +
        "after a takedown, as q261/q262 are for exact fingerprints): " +
        "the store is seeded from the even-id half, the vec_id % 10 = " +
        "0 seeds are tombstoned as delete batch 0, then the odd half " +
        "backfills against the fence. A taken-down document is no " +
        "longer part of the corpus, so admission subtracts deadIds " +
        "from the history side exactly as the serving probes do — an " +
        "odd near-clone of a DELETED seed now ADMITS (1/1/3 revived " +
        "ids at sf0.001/0.01/0.1 — non-vacuous at every scale), while " +
        "clones of live seeds still drop. Oracle: q105's SQL verbatim " +
        "with cross-batch drops restricted to live (vec_id % 10 <> 0) " +
        "seed participants.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q271_index")
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 0).select(col("vec_id")),
          "vec_id", batchId = 0L)
        graft.streaming.SemanticDedupStream.dedupBatch(
            e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx,
            beforeBatch = 1, threshold = 0.45)
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        P AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a
          JOIN CELL ca ON ca.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = ca.cell
          JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45),
        B1 AS (SELECT DISTINCT id_b AS vid FROM P
               WHERE id_a % 2 = 1 AND id_b % 2 = 1),
        B2 AS (SELECT DISTINCT (CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END) AS vid
               FROM P WHERE (id_a % 2) + (id_b % 2) = 1
                 AND (CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) % 10 <> 0)
        SELECT vec_id FROM embeddings
        WHERE vec_id % 2 = 1
          AND vec_id NOT IN (SELECT vid FROM B1)
          AND vec_id NOT IN (SELECT vid FROM B2)
        ORDER BY vec_id""")),

    GraftQuery(
      "q272_ann_store_sq8_filtered_deletes",
      "q267's full production serve on the QUANTIZED store — the " +
        "label IN (2,4,6) predicate AND the resolved dead-id set " +
        "(vec_id % 10 = 3 tombstoned as delete batch 1) composed into " +
        "the SQ8 code scan: candidates are allowed-restricted and " +
        "takedown-subtracted after latest-batch-wins resolution, " +
        "BEFORE integer-L2 ranking under the pinned grid, so a " +
        "filtered-or-deleted top hit is replaced by the next-best " +
        "servable code, never a shortened top-k — and the scan stays " +
        "4x narrower than flat exactly where the predicate makes scan " +
        "width matter. Integer distances — hash-exact.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q272_index")
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Sq8)
        VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 3).select(col("vec_id")),
          "vec_id", batchId = 1L)
        VectorIndexStream.filteredTopKFromIndex(spark, idx,
            e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
            allowedIds = e.filter(col("label").isin(2, 4, 6))
              .select(col("vec_id")),
            k = 3, nProbe = 2,
            excludeIds = Some(VectorIndexStream.deadIds(spark, idx, "vec_id")))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELL AS (
          SELECT vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        PROBE AS (
          SELECT vec_id, cent_id AS cell FROM D
          WHERE vec_id % 50 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) <= 2),
        MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings WHERE vec_id % 2 = 0)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        QV AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(embedding)+1)] AS qv
          FROM embeddings, MML),
        P AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i])
                           for i in range(1, len(a.qv)+1)]) AS d
          FROM QV a
          JOIN PROBE pq ON pq.vec_id = a.vec_id
          JOIN CELL cb ON cb.cell = pq.cell
          JOIN QV b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
            AND eb.label IN (2, 4, 6) AND eb.vec_id % 10 <> 3),
        R AS (SELECT query_id, neighbor_id, CAST(d AS BIGINT) AS dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY d, neighbor_id) AS rank
              FROM P)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q273_ann_store_pq_filtered_auto",
      "q266's per-query AUTO probe depth on the PQ store — the " +
        "sharpest predicate (label = 4) served from m=8 code bytes " +
        "per candidate: each query's probe prefix widens until its " +
        "exact SERVABLE (predicate-filtered) candidate count clears " +
        "the 20 floor — the count pass reads only (id, cell), never " +
        "codes — then the ADC scan ranks only allowed candidates in " +
        "the probed cells under the pinned grid + codebook. Cost " +
        "follows selectivity per query while the scan stays " +
        "compressed. Integer ADC distances — hash-exact. Expected " +
        "scale exponent ~0.12 (0.116 pinned sf0.01->sf0.1): the run " +
        "is STORE-BUILD-dominated (seeding both quantized stores, " +
        "training grid + codebook) — fixed cost, not a data term; an " +
        "exponent drifting toward 0.3+ means the serve path grew a " +
        "corpus-proportional scan it should not have.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q273_index")
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Pq(m = 8, kCent = 16))
        VectorIndexStream.appendBatch(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
        VectorIndexStream.filteredTopKFromIndex(spark, idx,
            e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
            allowedIds = e.filter(col("label") === 4).select(col("vec_id")),
            k = 3, minCandidates = 20L)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          GROUP BY e.vec_id, c.cent_id),
        CELLF AS (
          SELECT d.vec_id, d.cent_id AS cell FROM D d
          JOIN embeddings e ON e.vec_id = d.vec_id AND e.label = 4
          QUALIFY row_number() OVER (PARTITION BY d.vec_id ORDER BY d.l2, d.cent_id) = 1),
        CNT AS (SELECT cell, count(*) AS cell_n FROM CELLF GROUP BY 1),
        PR AS (
          SELECT vec_id, cent_id AS cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) AS r
          FROM D WHERE vec_id % 50 = 0),
        CUM AS (
          SELECT pr.vec_id, pr.cell, pr.r, COALESCE(c.cell_n, 0) AS cell_n,
                 COALESCE(SUM(COALESCE(c.cell_n, 0)) OVER (PARTITION BY pr.vec_id ORDER BY pr.r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
          FROM PR pr LEFT JOIN CNT c ON c.cell = pr.cell),
        PROBE AS (SELECT vec_id, cell FROM CUM WHERE prev_cum < 20),
        """ + pqCte(" WHERE vec_id % 2 = 0") + """,
        ADC AS (
          SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES c JOIN LUT l ON l.s = c.s AND l.j = c.j
          JOIN PROBE p ON p.vec_id = l.query_id
          JOIN CELLF cb ON cb.vec_id = c.vec_id AND cb.cell = p.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        R AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC)
        SELECT query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q276_quantizer_drift",
      "Quantizer-drift gauge for the PINNED-artifact stores " +
        "(occupancyDriftReport): centroids are trained once at seed " +
        "time, so distribution drift concentrates new batches into " +
        "fewer cells — probe cost and in-cell variance rise with no " +
        "per-query symptom until recall is gone. The store seeds from " +
        "the even half, batch 0 appends the odd half in-distribution, " +
        "batch 1 appends a DRIFTED copy (coordinates folded positive " +
        "via abs — one orthant, cells collapse). The report reads " +
        "only (cell, batch), shares in exact integer millis: batch 0 " +
        "stays near the seed's max share, batch 1 exceeds 2x and " +
        "flags reseed_recommended. Assignment rank-gap margins " +
        ">= 3.6e-6 at every SF (vs ~1e-12 summation error); the " +
        "decision itself is pure integers — hash-exact.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q276_index")
        val pth = new org.apache.hadoop.fs.Path(idx)
        val fs = pth.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(pth)) fs.delete(pth, true)
        val odds = e.filter(col("vec_id") % 2 === 1)
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.appendBatch(
          odds.withColumn("embedding",
            transform(col("embedding"), x => abs(x))),
          "vec_id", "embedding", idx, 1L)
        VectorIndexStream.occupancyDriftReport(spark, idx)
          .orderBy(col("batch"), col("cell"))
      },
      Some("""
        WITH CENT AS (
          SELECT vec_id AS cent_id, embedding AS cent_vec
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        POP AS (
          SELECT -1 AS batch, vec_id, embedding AS v
          FROM embeddings WHERE vec_id % 2 = 0
          UNION ALL
          SELECT 0, vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
          UNION ALL
          SELECT 1, vec_id, [abs(x) for x in embedding]
          FROM embeddings WHERE vec_id % 2 = 1),
        D AS (
          SELECT p.batch, p.vec_id, c.cent_id,
                 SUM(POW(CAST(p.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM POP p, CENT c, range(1, 65) i(i)
          GROUP BY 1, 2, 3),
        CELL AS (
          SELECT batch, vec_id, cent_id AS cell FROM D
          QUALIFY row_number() OVER (PARTITION BY batch, vec_id
            ORDER BY l2, cent_id) = 1),
        OCC AS (SELECT batch, cell, count(*) AS n_vectors
                FROM CELL GROUP BY 1, 2),
        SH AS (
          SELECT batch, cell, n_vectors,
                 (n_vectors * 1000) // SUM(n_vectors)
                   OVER (PARTITION BY batch) AS cell_share_millis
          FROM OCC),
        MX AS (
          SELECT batch, cell, n_vectors, cell_share_millis,
                 max(cell_share_millis)
                   OVER (PARTITION BY batch) AS batch_max_share_millis
          FROM SH),
        SEED AS (SELECT max(cell_share_millis) AS seed_max_share_millis
                 FROM SH WHERE batch = -1)
        SELECT CAST(m.batch AS BIGINT) AS batch,
               CAST(m.cell AS BIGINT) AS cell,
               CAST(m.n_vectors AS BIGINT) AS n_vectors,
               CAST(m.cell_share_millis AS BIGINT) AS cell_share_millis,
               CAST(m.batch_max_share_millis AS BIGINT) AS batch_max_share_millis,
               CAST(s.seed_max_share_millis AS BIGINT) AS seed_max_share_millis,
               (m.batch <> -1 AND m.batch_max_share_millis * 1000
                  > s.seed_max_share_millis * 2000) AS reseed_recommended
        FROM MX m, SEED s
        ORDER BY batch, cell""")),

    GraftQuery(
      "q277_sq8_range_drift",
      "RANGE-drift gauge for the SQ8 store (sq8BoundaryReport) — " +
        "q276's complement: occupancy catches direction drift, this " +
        "catches magnitude drift. Values escaping the pinned " +
        "per-dimension ranges clamp to code 0/255; correct for " +
        "stragglers, silent recall loss when it becomes the norm. " +
        "The grid pins on the even half, batch 0 appends the odd " +
        "half in-range (boundary share stays at the seed's own " +
        "min/max-row baseline), batch 1 appends the same vectors " +
        "DOUBLED (x+x — exact in IEEE for both engines, no rounding " +
        "divergence) and half the coordinates escape: boundary share " +
        "jumps ~20-90x and regrid_recommended flags. Counts over " +
        "stored codes, integer decision — hash-exact.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q277_index")
        val pth = new org.apache.hadoop.fs.Path(idx)
        val fs = pth.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(pth)) fs.delete(pth, true)
        val odds = e.filter(col("vec_id") % 2 === 1)
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Sq8)
        VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.appendBatch(
          odds.withColumn("embedding",
            transform(col("embedding"), x => x + x)),
          "vec_id", "embedding", idx, 1L)
        VectorIndexStream.sq8BoundaryReport(spark, idx)
          .orderBy(col("batch"))
      },
      Some("""
        WITH MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings WHERE vec_id % 2 = 0)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        POP AS (
          SELECT -1 AS batch, vec_id, embedding AS v
          FROM embeddings WHERE vec_id % 2 = 0
          UNION ALL
          SELECT 0, vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
          UNION ALL
          SELECT 1, vec_id, [x + x for x in embedding]
          FROM embeddings WHERE vec_id % 2 = 1),
        QV AS (
          SELECT batch, vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(v)+1)] AS qv
          FROM POP, MML),
        C AS (
          SELECT batch, count(*) AS n_vectors, SUM(len(qv)) AS n_codes,
                 SUM(len([x for x in qv if x = 0])) AS n_floor,
                 SUM(len([x for x in qv if x = 255])) AS n_ceil
          FROM QV GROUP BY 1),
        SH AS (
          SELECT batch, n_vectors, n_codes, n_floor, n_ceil,
                 ((n_floor + n_ceil) * 1000) // n_codes AS boundary_share_millis
          FROM C),
        SEED AS (SELECT boundary_share_millis AS seed_share FROM SH
                 WHERE batch = -1)
        SELECT CAST(s.batch AS BIGINT) AS batch,
               CAST(s.n_vectors AS BIGINT) AS n_vectors,
               CAST(s.n_codes AS BIGINT) AS n_codes,
               CAST(s.n_floor AS BIGINT) AS n_floor,
               CAST(s.n_ceil AS BIGINT) AS n_ceil,
               CAST(s.boundary_share_millis AS BIGINT) AS boundary_share_millis,
               CAST(d.seed_share AS BIGINT) AS seed_boundary_share_millis,
               (s.batch <> -1 AND s.boundary_share_millis * 1000
                  > d.seed_share * 2000) AS regrid_recommended
        FROM SH s, SEED d
        ORDER BY batch""")),

    GraftQuery(
      "q278_quantizer_reseed",
      "The APPLY half of the drift loop (q276/q277 measure, this " +
        "acts): q276's drifted store — even-half seed, odd batch 0, " +
        "abs-folded odd batch 1 (latest-batch-wins: the drifted copy " +
        "IS each odd id's live vector) — plus a takedown batch, is " +
        "REBUILT into a fresh store with the quantizer retrained on " +
        "its own live corpus (tombstones subtracted, the vec_id % 10 " +
        "= 5 ids gone). Probes of the rebuilt store must equal the " +
        "inline deterministic IVF over exactly that live corpus under " +
        "the RETRAINED centroids. Margins: query-assignment gaps >= " +
        "2.5e-3, live-corpus assignment gaps >= 6.8e-7, top-5 rank " +
        "gaps >= 1.8e-4 at every SF (vs ~1e-12 summation error). " +
        "Expected scale exponent ~0.11 (0.113 pinned sf0.01->sf0.1): " +
        "the run is STORE-BUILD-dominated (a full rebuild IS the " +
        "operator's job — fresh seed + retrain, fixed overhead " +
        "dwarfing the data term at these SFs); drift toward 0.3+ " +
        "means the rebuild or serve grew a superlinear stage.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q278_index")
        val idx2 = QueryScratch.dir("graft_q278_rebuilt")
        Seq(idx, idx2).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
        }
        val odds = e.filter(col("vec_id") % 2 === 1)
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.appendBatch(
          odds.withColumn("embedding",
            transform(col("embedding"), x => abs(x))),
          "vec_id", "embedding", idx, 1L)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
          "vec_id", batchId = 2L)
        VectorIndexStream.rebuildIndex(
          spark, idx, idx2, "vec_id", "embedding", nLists = 8)
        VectorIndexStream.topKFromIndex(
            spark, idx2, e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH LIV AS (
          SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
          UNION ALL
          SELECT vec_id, [abs(x) for x in embedding] FROM embeddings
          WHERE vec_id % 2 = 1 AND vec_id % 10 <> 5),
        CENT AS (
          SELECT vec_id AS cent_id, v AS cent_vec FROM LIV
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        DQ AS (
          SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM embeddings e, CENT c, range(1, 65) i(i)
          WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        DL AS (
          SELECT l.vec_id, c.cent_id,
                 SUM(POW(CAST(l.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
          FROM LIV l, CENT c, range(1, 65) i(i)
          GROUP BY 1, 2),
        QCELL AS (
          SELECT vec_id, cent_id AS cell FROM DQ
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        LCELL AS (
          SELECT vec_id, cent_id AS cell FROM DL
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        CAND AS (
          SELECT q.vec_id AS query_id, l.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(l.v[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN QCELL cq ON cq.vec_id = q.vec_id
          JOIN LCELL cl ON cl.cell = cq.cell
          JOIN LIV l ON l.vec_id = cl.vec_id AND l.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2),
        R AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    GraftQuery(
      "q279_store_cutover",
      "Atomic serving CUTOVER through a store alias (StorePointer, " +
        "served via topKFromAlias — no call site holds a raw path) — " +
        "how a re-trained store goes live without a request seeing a " +
        "half-state: the incrementally-grown store (even seed, odd " +
        "batch 0 — q101's exact build, so its quantizer is pinned on " +
        "HALF the corpus it now serves) publishes as pointer v1, " +
        "rebuildIndex retrains on the full live corpus into a fresh " +
        "store that publishes as v2, and serving resolves by PATH — " +
        "the live read serves the retrained quantizer (q51's " +
        "full-corpus centroid set) while the PINNED v1 read, resolved " +
        "AFTER the cutover, still serves exactly what pre-cutover " +
        "requests saw. Output is both generations' top-3; each " +
        "generation's margins are the ones q101 and q51 already pin.",
      (spark, dir) => {
        import graft.streaming.{StorePointer, VectorIndexStream}
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q279_a")
        val idx2 = QueryScratch.dir("graft_q279_b")
        val alias = QueryScratch.dir("graft_q279_alias")
        Seq(idx, idx2, alias).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
        }
        val odds = e.filter(col("vec_id") % 2 === 1)
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
        StorePointer.publish(spark, alias, idx)
        VectorIndexStream.rebuildIndex(
          spark, idx, idx2, "vec_id", "embedding", nLists = 8)
        StorePointer.publish(spark, alias, idx2)
        // ALIAS-ROUTED serving: the call sites hold only the alias —
        // never a raw store path that could go stale across a cutover
        def serve(ver: Option[Long], tag: Long) =
          VectorIndexStream.topKFromAlias(
              spark, alias, q, "vec_id", "embedding", k = 3, version = ver)
            .withColumn("ptr_version", lit(tag))
        serve(Some(1L), 1L)
          .unionByName(serve(None, 2L))
          .select(col("ptr_version"), col("query_id"), col("rank"),
            col("neighbor_id"))
          .orderBy(col("ptr_version"), col("query_id"), col("rank"))
      },
      Some("""
        WITH L AS (
          SELECT vec_id, embedding AS v FROM embeddings),
        C1 AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings
               WHERE vec_id % 2 = 0
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        C2 AS (SELECT vec_id AS cent_id, v AS cent_vec FROM L
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        D1 AS (SELECT l.vec_id, c.cent_id,
                 SUM(POW(CAST(l.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM L l, C1 c, range(1,65) i(i) GROUP BY 1, 2),
        D2 AS (SELECT l.vec_id, c.cent_id,
                 SUM(POW(CAST(l.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM L l, C2 c, range(1,65) i(i) GROUP BY 1, 2),
        LC1 AS (SELECT vec_id, cent_id AS cell FROM D1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        LC2 AS (SELECT vec_id, cent_id AS cell FROM D2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        DQ1 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C1 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        DQ2 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C2 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        QC1 AS (SELECT vec_id, cent_id AS cell FROM DQ1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        QC2 AS (SELECT vec_id, cent_id AS cell FROM DQ2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        CAND AS (
          SELECT 1 AS ptr_version, q.vec_id AS query_id, l.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(l.v[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) AS nc
          FROM embeddings q
          JOIN QC1 cq ON cq.vec_id = q.vec_id
          JOIN LC1 cl ON cl.cell = cq.cell
          JOIN L l ON l.vec_id = cl.vec_id AND l.vec_id <> q.vec_id
          CROSS JOIN range(1,65) i(i)
          WHERE q.vec_id % 50 = 0 GROUP BY 1, 2, 3
          UNION ALL
          SELECT 2, q.vec_id, l.vec_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)),
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)),
                 SUM(CAST(l.v[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE))
          FROM embeddings q
          JOIN QC2 cq ON cq.vec_id = q.vec_id
          JOIN LC2 cl ON cl.cell = cq.cell
          JOIN L l ON l.vec_id = cl.vec_id AND l.vec_id <> q.vec_id
          CROSS JOIN range(1,65) i(i)
          WHERE q.vec_id % 50 = 0 GROUP BY 1, 2, 3),
        R AS (
          SELECT ptr_version, query_id, neighbor_id,
                 row_number() OVER (PARTITION BY ptr_version, query_id
                   ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rank
          FROM CAND)
        SELECT CAST(ptr_version AS BIGINT) AS ptr_version,
               query_id, rank, neighbor_id FROM R
        WHERE rank <= 3 ORDER BY ptr_version, query_id, rank""")),

    GraftQuery(
      "q280_sq8_regrid_rebuild",
      "CLOSES the quantized-store drift loop (q277 measures, this " +
        "acts): the drifted SQ8 store — grid pinned on the even half, " +
        "batch 0 appends the odd half DOUBLED (q277's escape fixture, " +
        "boundary share ~20-90x the seed's) plus a takedown batch — " +
        "is rebuilt via rebuildIndex from the source, which re-ingests the live " +
        "ids' FULL-PRECISION vectors from the SOURCE corpus (codes " +
        "cannot retrain their own grid; decode-re-encode would bake " +
        "the old grid's error in) and retrains centroids AND ranges " +
        "on that corpus. Re-encoding the same drifted distribution " +
        "as a fresh batch of the NEW store then reads at the " +
        "retrained grid's own baseline: identical counts to its seed, " +
        "regrid_recommended = false — the gauge that fired on the " +
        "old store is CLEARED, not silenced. Counts over stored " +
        "codes, integer decision — hash-exact. Expected scale exponent " +
        "~0.0 (0.002 pinned): two store builds, fixed cost dominates.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q280_index")
        val idx2 = QueryScratch.dir("graft_q280_rebuilt")
        Seq(idx, idx2).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
        }
        val doubled = e.filter(col("vec_id") % 2 === 1)
          .withColumn("embedding", transform(col("embedding"), x => x + x))
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Sq8)
        VectorIndexStream.appendBatch(doubled, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
          "vec_id", batchId = 1L)
        // the upstream truth: evens at their original values, odds at
        // their latest (doubled) values — the rebuild subtracts the
        // takedowns itself
        val source = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding"))
          .unionByName(doubled.select(col("vec_id"), col("embedding")))
        VectorIndexStream.rebuildIndex(
          spark, idx, idx2, "vec_id", "embedding", nLists = 8,
          sourceCorpus = Some(source))
        // the drifted distribution re-encoded under the retrained grid
        VectorIndexStream.appendBatch(
          source.filter(col("vec_id") % 10 =!= 5),
          "vec_id", "embedding", idx2, 0L)
        VectorIndexStream.sq8BoundaryReport(spark, idx2)
          .orderBy(col("batch"))
      },
      Some("""
        WITH LIV AS (
          SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
          UNION ALL
          SELECT vec_id, [x + x for x in embedding] FROM embeddings
          WHERE vec_id % 2 = 1 AND vec_id % 10 <> 5),
        MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(v) AS x, unnest(range(1, len(v)+1)) AS i
                FROM LIV)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        QV AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(v)+1)] AS qv
          FROM LIV, MML),
        C AS (
          SELECT count(*) AS n_vectors, SUM(len(qv)) AS n_codes,
                 SUM(len([x for x in qv if x = 0])) AS n_floor,
                 SUM(len([x for x in qv if x = 255])) AS n_ceil
          FROM QV),
        SH AS (SELECT *, ((n_floor + n_ceil) * 1000) // n_codes AS share
               FROM C)
        SELECT CAST(b.batch AS BIGINT) AS batch,
               CAST(s.n_vectors AS BIGINT) AS n_vectors,
               CAST(s.n_codes AS BIGINT) AS n_codes,
               CAST(s.n_floor AS BIGINT) AS n_floor,
               CAST(s.n_ceil AS BIGINT) AS n_ceil,
               CAST(s.share AS BIGINT) AS boundary_share_millis,
               CAST(s.share AS BIGINT) AS seed_boundary_share_millis,
               (b.batch <> -1 AND s.share * 1000 > s.share * 2000)
                 AS regrid_recommended
        FROM SH s, (VALUES (-1), (0)) b(batch)
        ORDER BY batch""")),

    GraftQuery(
      "q281_alias_served_sq8_rebuild",
      "The rebuild->cutover->serve flow END TO END through the alias " +
        "(q280's rebuild + q279's pointer, served by " +
        "topKFromAlias): the drifted SQ8 store (even-half grid, " +
        "doubled odd batch, %10=5 takedowns) publishes as pointer v1, " +
        "rebuildIndex re-ingests the source corpus into a fresh " +
        "store that publishes as v2, and BOTH generations serve " +
        "through the alias — the pinned v1 read still ranks the old " +
        "grid's saturated codes (takedowns un-excluded: plain serve), " +
        "the live read ranks the retrained grid over the live corpus. " +
        "No serving call site touches a raw store path. Integer code " +
        "distances; assignment margins >= 1.0e-4 (doubled odds under " +
        "the even centroids), >= 1.1e-5 (live corpus under its own), " +
        ">= 2.5e-3 (queries under the rebuilt centroids) at every SF. " +
        "Expected scale exponent ~0.0 (0.011 pinned): store-build " +
        "dominated.",
      (spark, dir) => {
        import graft.streaming.{StorePointer, VectorIndexStream}
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q281_a")
        val idx2 = QueryScratch.dir("graft_q281_b")
        val alias = QueryScratch.dir("graft_q281_alias")
        Seq(idx, idx2, alias).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
        }
        val doubled = e.filter(col("vec_id") % 2 === 1)
          .withColumn("embedding", transform(col("embedding"), x => x + x))
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Sq8)
        VectorIndexStream.appendBatch(doubled, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
          "vec_id", batchId = 1L)
        StorePointer.publish(spark, alias, idx)
        val source = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding"))
          .unionByName(doubled.select(col("vec_id"), col("embedding")))
        VectorIndexStream.rebuildIndex(
          spark, idx, idx2, "vec_id", "embedding", nLists = 8,
          sourceCorpus = Some(source))
        StorePointer.publish(spark, alias, idx2)
        def serve(ver: Option[Long], tag: Long) =
          VectorIndexStream.topKFromAlias(
              spark, alias, q, "vec_id", "embedding", k = 3, version = ver)
            .withColumn("ptr_version", lit(tag))
        serve(Some(1L), 1L).unionByName(serve(None, 2L))
          .select(col("ptr_version"), col("query_id"), col("rank"),
            col("neighbor_id"), col("dist"))
          .orderBy(col("ptr_version"), col("query_id"), col("rank"))
      },
      Some("""
        WITH O1 AS (
          SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
          UNION ALL
          SELECT vec_id, [x + x for x in embedding] FROM embeddings
          WHERE vec_id % 2 = 1),
        LIV AS (SELECT * FROM O1 WHERE vec_id % 10 <> 5),
        C1 AS (SELECT vec_id AS cent_id, embedding AS cent_vec
               FROM embeddings WHERE vec_id % 2 = 0
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        C2 AS (SELECT vec_id AS cent_id, v AS cent_vec FROM LIV
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        MM1 AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings WHERE vec_id % 2 = 0)
          GROUP BY i),
        ML1 AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM1),
        MM2 AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(v) AS x, unnest(range(1, len(v)+1)) AS i
                FROM LIV)
          GROUP BY i),
        ML2 AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM2),
        D1 AS (SELECT o.vec_id, c.cent_id,
                 SUM(POW(CAST(o.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM O1 o, C1 c, range(1,65) i(i) GROUP BY 1, 2),
        LC1 AS (SELECT vec_id, cent_id AS cell FROM D1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        D2 AS (SELECT l.vec_id, c.cent_id,
                 SUM(POW(CAST(l.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM LIV l, C2 c, range(1,65) i(i) GROUP BY 1, 2),
        LC2 AS (SELECT vec_id, cent_id AS cell FROM D2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        QV1 AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(v)+1)] AS qv
          FROM O1, ML1),
        QV2 AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(v)+1)] AS qv
          FROM LIV, ML2),
        QQ1 AS (
          SELECT e.vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(e.embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(e.embedding)+1)] AS qv
          FROM embeddings e, ML1 WHERE e.vec_id % 50 = 0),
        QQ2 AS (
          SELECT e.vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(e.embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(e.embedding)+1)] AS qv
          FROM embeddings e, ML2 WHERE e.vec_id % 50 = 0),
        DQ1 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C1 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        QC1 AS (SELECT vec_id, cent_id AS cell FROM DQ1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        DQ2 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C2 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        QC2 AS (SELECT vec_id, cent_id AS cell FROM DQ2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        P AS (
          SELECT 1 AS ptr_version, a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i])
                           for i in range(1, len(a.qv)+1)]) AS d
          FROM QQ1 a
          JOIN QC1 ca ON ca.vec_id = a.vec_id
          JOIN LC1 cb ON cb.cell = ca.cell
          JOIN QV1 b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id
          UNION ALL
          SELECT 2, a.vec_id, b.vec_id,
                 list_sum([(a.qv[i]-b.qv[i])*(a.qv[i]-b.qv[i])
                           for i in range(1, len(a.qv)+1)])
          FROM QQ2 a
          JOIN QC2 ca ON ca.vec_id = a.vec_id
          JOIN LC2 cb ON cb.cell = ca.cell
          JOIN QV2 b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id),
        R AS (SELECT ptr_version, query_id, neighbor_id,
                     CAST(d AS BIGINT) AS dist,
                     row_number() OVER (PARTITION BY ptr_version, query_id
                       ORDER BY d, neighbor_id) AS rank
              FROM P)
        SELECT CAST(ptr_version AS BIGINT) AS ptr_version,
               query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY ptr_version, query_id, rank""")),

    GraftQuery(
      "q284_alias_served_pq_rebuild",
      "q281 for the PRODUCT-QUANTIZED store — the rebuild loop now " +
        "covers the full compression matrix: the drifted PQ store " +
        "(grid + codebook + centroids all pinned on the even half, " +
        "doubled odd batch saturating the grid, %10=5 takedowns) " +
        "publishes as pointer v1; rebuildIndex re-ingests the " +
        "source corpus, retrains ALL THREE artifacts on the live " +
        "corpus, and publishes as v2; both generations serve through " +
        "topKFromAlias — m=8 code bytes per candidate either way, " +
        "but v2's codebook spans the distribution the store actually " +
        "holds. Integer ADC distances and integer code argmins (ties " +
        "to the lower codebook index) — hash-exact; cell-assignment " +
        "margins are q281's (>= 1.0e-4 / 1.1e-5 / 2.5e-3 at every SF). " +
        "Expected scale exponent ~0.0 (-0.003 pinned): two PQ store " +
        "builds (grid + codebook training twice) dominate — the " +
        "heaviest new query BY DESIGN.",
      (spark, dir) => {
        import graft.streaming.{StorePointer, VectorIndexStream}
        val e = Tables.table(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val idx = QueryScratch.dir("graft_q284_a")
        val idx2 = QueryScratch.dir("graft_q284_b")
        val alias = QueryScratch.dir("graft_q284_alias")
        Seq(idx, idx2, alias).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
        }
        val doubled = e.filter(col("vec_id") % 2 === 1)
          .withColumn("embedding", transform(col("embedding"), x => x + x))
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Pq(m = 8, kCent = 16))
        VectorIndexStream.appendBatch(doubled, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.deleteBatch(spark, idx,
          e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
          "vec_id", batchId = 1L)
        StorePointer.publish(spark, alias, idx)
        val source = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding"))
          .unionByName(doubled.select(col("vec_id"), col("embedding")))
        VectorIndexStream.rebuildIndex(
          spark, idx, idx2, "vec_id", "embedding", nLists = 8,
          sourceCorpus = Some(source))
        StorePointer.publish(spark, alias, idx2)
        def serve(ver: Option[Long], tag: Long) =
          VectorIndexStream.topKFromAlias(
              spark, alias, q, "vec_id", "embedding", k = 3, version = ver)
            .withColumn("ptr_version", lit(tag))
        serve(Some(1L), 1L).unionByName(serve(None, 2L))
          .select(col("ptr_version"), col("query_id"), col("rank"),
            col("neighbor_id"), col("dist"))
          .orderBy(col("ptr_version"), col("query_id"), col("rank"))
      },
      Some("""
        WITH O1 AS (
          SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
          UNION ALL
          SELECT vec_id, [x + x for x in embedding] FROM embeddings
          WHERE vec_id % 2 = 1),
        LIV AS (SELECT * FROM O1 WHERE vec_id % 10 <> 5),
        C1 AS (SELECT vec_id AS cent_id, embedding AS cent_vec
               FROM embeddings WHERE vec_id % 2 = 0
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        C2 AS (SELECT vec_id AS cent_id, v AS cent_vec FROM LIV
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        MM1 AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings WHERE vec_id % 2 = 0)
          GROUP BY i),
        ML1 AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM1),
        MM2 AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(v) AS x, unnest(range(1, len(v)+1)) AS i
                FROM LIV)
          GROUP BY i),
        ML2 AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM2),
        QV1 AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(v)+1)] AS qv
          FROM O1, ML1),
        QV2 AS (
          SELECT vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(v)+1)] AS qv
          FROM LIV, ML2),
        QQ1 AS (
          SELECT e.vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(e.embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(e.embedding)+1)] AS qv
          FROM embeddings e, ML1 WHERE e.vec_id % 50 = 0),
        QQ2 AS (
          SELECT e.vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(e.embedding[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(e.embedding)+1)] AS qv
          FROM embeddings e, ML2 WHERE e.vec_id % 50 = 0),
        CENTS1 AS (
          SELECT vec_id,
                 row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        CENTS2 AS (
          SELECT vec_id,
                 row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
          FROM LIV
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        SUBC1 AS (
          SELECT c.j, s.s AS s,
                 q.qv[CAST(s.s*8+1 AS INTEGER):CAST(s.s*8+8 AS INTEGER)] AS sub
          FROM CENTS1 c JOIN QV1 q ON q.vec_id = c.vec_id, range(0, 8) s(s)),
        SUBC2 AS (
          SELECT c.j, s.s AS s,
                 q.qv[CAST(s.s*8+1 AS INTEGER):CAST(s.s*8+8 AS INTEGER)] AS sub
          FROM CENTS2 c JOIN QV2 q ON q.vec_id = c.vec_id, range(0, 8) s(s)),
        CODES1 AS (
          SELECT vec_id, s, j FROM (
            SELECT q.vec_id, sc.s, sc.j,
                   list_sum([(q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                             * (q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                             for i in range(1, 9)]) AS d
            FROM QV1 q, SUBC1 sc)
          QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1),
        CODES2 AS (
          SELECT vec_id, s, j FROM (
            SELECT q.vec_id, sc.s, sc.j,
                   list_sum([(q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                             * (q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                             for i in range(1, 9)]) AS d
            FROM QV2 q, SUBC2 sc)
          QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1),
        LUT1 AS (
          SELECT qq.vec_id AS query_id, sc.s, sc.j,
                 list_sum([(qq.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           * (qq.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           for i in range(1, 9)]) AS d
          FROM QQ1 qq, SUBC1 sc),
        LUT2 AS (
          SELECT qq.vec_id AS query_id, sc.s, sc.j,
                 list_sum([(qq.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           * (qq.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                           for i in range(1, 9)]) AS d
          FROM QQ2 qq, SUBC2 sc),
        D1 AS (SELECT o.vec_id, c.cent_id,
                 SUM(POW(CAST(o.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM O1 o, C1 c, range(1,65) i(i) GROUP BY 1, 2),
        LC1 AS (SELECT vec_id, cent_id AS cell FROM D1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        D2 AS (SELECT l.vec_id, c.cent_id,
                 SUM(POW(CAST(l.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM LIV l, C2 c, range(1,65) i(i) GROUP BY 1, 2),
        LC2 AS (SELECT vec_id, cent_id AS cell FROM D2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        DQ1 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C1 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        QC1 AS (SELECT vec_id, cent_id AS cell FROM DQ1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        DQ2 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C2 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        QC2 AS (SELECT vec_id, cent_id AS cell FROM DQ2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        ADC AS (
          SELECT 1 AS ptr_version, l.query_id, c.vec_id AS neighbor_id,
                 CAST(SUM(l.d) AS BIGINT) AS dist
          FROM CODES1 c JOIN LUT1 l ON l.s = c.s AND l.j = c.j
          JOIN QC1 ca ON ca.vec_id = l.query_id
          JOIN LC1 cb ON cb.vec_id = c.vec_id AND cb.cell = ca.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2, 3
          UNION ALL
          SELECT 2, l.query_id, c.vec_id, CAST(SUM(l.d) AS BIGINT)
          FROM CODES2 c JOIN LUT2 l ON l.s = c.s AND l.j = c.j
          JOIN QC2 ca ON ca.vec_id = l.query_id
          JOIN LC2 cb ON cb.vec_id = c.vec_id AND cb.cell = ca.cell
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2, 3),
        R AS (SELECT ptr_version, query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY ptr_version, query_id
                       ORDER BY dist, neighbor_id) AS rank
              FROM ADC)
        SELECT CAST(ptr_version AS BIGINT) AS ptr_version,
               query_id, rank, neighbor_id, dist FROM R
        WHERE rank <= 3 ORDER BY ptr_version, query_id, rank""")),

    GraftQuery(
      "q287_generation_retirement",
      "The DISK-bound closing of the rebuild loop " +
        "(StorePointer.retireGenerations): every cutover strands the " +
        "previous generation, and N retrains without retirement leave " +
        "N full corpus copies on disk forever. Four pointer " +
        "generations land on one alias (three stores; the second is " +
        "REPUBLISHED as v4 — the newest pointer wins, the bytes " +
        "stay), then retirement to the newest two drops v1 and v2: " +
        "v1's stranded store is physically deleted under its own " +
        "maintenance lease (a live writer would refuse the retire " +
        "loudly before any pointer moves), v2's store survives " +
        "because the retained v4 still names it. Output is every " +
        "generation's fate plus the surviving stores' servable id " +
        "counts — recomputed by the oracle from the corpus splits.",
      (spark, dir) => {
        import graft.streaming.{StorePointer, VectorIndexStream}
        val e = Tables.table(spark, dir, "embeddings")
        val stores = Seq("graft_q287_a", "graft_q287_b", "graft_q287_c")
          .map(QueryScratch.dir)
        val alias = QueryScratch.dir("graft_q287_alias")
        (stores :+ alias).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
        }
        stores.zipWithIndex.foreach { case (s, m) =>
          VectorIndexStream.seedIndex(
            e.filter(col("vec_id") % 3 === m), "vec_id", "embedding", s,
            nLists = 8)
        }
        Seq(stores(0), stores(1), stores(2), stores(1))
          .foreach(s => StorePointer.publish(spark, alias, s))
        StorePointer.retireGenerations(spark, alias, keepLast = 2)
        val retained = StorePointer.history(spark, alias).toMap
        val fates = (1L to 4L).map { v =>
          val d = Seq(stores(0), stores(1), stores(2), stores(1))(v.toInt - 1)
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          val exists = fs.exists(p)
          val nIds =
            if (!exists) 0L
            else VectorIndexStream.readCells(spark, d)
              .select(col("vec_id")).distinct().count()
          (v, d.split('/').last, retained.contains(v), exists, nIds)
        }
        import spark.implicits._
        fates.toDF("version", "store", "retained", "dir_exists", "n_ids")
          .orderBy(col("version"))
      },
      Some("""
        WITH C AS (SELECT
          count(*) FILTER (vec_id % 3 = 1) AS nb,
          count(*) FILTER (vec_id % 3 = 2) AS nc FROM embeddings)
        SELECT CAST(v.version AS BIGINT) AS version, v.store, v.retained,
               v.dir_exists,
               CAST(CASE v.n WHEN 'b' THEN c.nb WHEN 'c' THEN c.nc
                    ELSE 0 END AS BIGINT) AS n_ids
        FROM C c, (VALUES
          (1, 'graft_q287_a', false, false, '0'),
          (2, 'graft_q287_b', false, true,  'b'),
          (3, 'graft_q287_c', true,  true,  'c'),
          (4, 'graft_q287_b', true,  true,  'b'))
          AS v(version, store, retained, dir_exists, n)
        ORDER BY version""")),

    GraftQuery(
      "q286_pq_code_drift",
      "CODE-usage drift gauge for the PQ store (pqCodeUsageReport) — " +
        "the last payload's measure, completing the matrix: occupancy " +
        "(q276) catches direction drift, SQ8 boundaries (q277) catch " +
        "magnitude drift, and this catches DISTRIBUTION COLLAPSE, the " +
        "failure where a degraded upstream encoder emits constant " +
        "vectors and every subvector snaps to one codebook entry — " +
        "ADC stops discriminating with no per-query symptom. Codebook " +
        "pinned on the even half; batch 0 appends the odd half " +
        "in-distribution (worst-subspace share stays at the seed's " +
        "206-288 millis), batch 1 appends ZERO vectors (exact in both " +
        "engines) and every subspace concentrates to share 1000 — " +
        "recode_recommended flags, and the remediation is q284's " +
        "rebuild + cutover. Counts over stored codes, ties to the " +
        "lower code index — hash-exact. Expected scale exponent ~0.0 " +
        "(0.005 pinned): PQ store build dominates.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q286_index")
        val pth = new org.apache.hadoop.fs.Path(idx)
        val fs = pth.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(pth)) fs.delete(pth, true)
        val odds = e.filter(col("vec_id") % 2 === 1)
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8, codec = VectorCodec.Pq(m = 8, kCent = 16))
        VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.appendBatch(
          odds.withColumn("embedding",
            transform(col("embedding"), _ => lit(0.0f))),
          "vec_id", "embedding", idx, 1L)
        VectorIndexStream.pqCodeUsageReport(spark, idx)
          .orderBy(col("batch"), col("s"))
      },
      Some("""
        WITH O1 AS (
          SELECT -1 AS batch, vec_id, embedding AS v FROM embeddings
          WHERE vec_id % 2 = 0
          UNION ALL
          SELECT 0, vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
          UNION ALL
          SELECT 1, vec_id, [CAST(0.0 AS FLOAT) for x in embedding]
          FROM embeddings WHERE vec_id % 2 = 1),
        MM AS (
          SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
          FROM (SELECT unnest(embedding) AS x,
                       unnest(range(1, len(embedding)+1)) AS i
                FROM embeddings WHERE vec_id % 2 = 0)
          GROUP BY i),
        MML AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM MM),
        QV AS (
          SELECT batch, vec_id,
                 [CAST(least(greatest(coalesce(
                      floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
                            / nullif(mxs[i] - mns[i], 0.0)), 0.0),
                      0.0), 255.0) AS BIGINT)
                  for i in range(1, len(v)+1)] AS qv
          FROM O1, MML),
        CENTS AS (
          SELECT vec_id,
                 row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
          FROM embeddings WHERE vec_id % 2 = 0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        SUBC AS (
          SELECT c.j, s.s AS s,
                 q.qv[CAST(s.s*8+1 AS INTEGER):CAST(s.s*8+8 AS INTEGER)] AS sub
          FROM CENTS c JOIN QV q ON q.vec_id = c.vec_id AND q.batch = -1,
               range(0, 8) s(s)),
        CODES AS (
          SELECT batch, vec_id, s, j FROM (
            SELECT q.batch, q.vec_id, sc.s, sc.j,
                   list_sum([(q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                             * (q.qv[CAST(sc.s*8+i AS INTEGER)] - sc.sub[i])
                             for i in range(1, 9)]) AS d
            FROM QV q, SUBC sc)
          QUALIFY row_number() OVER (PARTITION BY batch, vec_id, s
            ORDER BY d, j) = 1),
        USE AS (SELECT batch, s, j, count(*) AS n FROM CODES GROUP BY 1,2,3),
        TOP AS (
          SELECT batch, s, j AS top_code, n,
                 SUM(n) OVER (PARTITION BY batch, s) AS n_codes
          FROM USE
          QUALIFY row_number() OVER (PARTITION BY batch, s
            ORDER BY n DESC, j) = 1),
        SH AS (
          SELECT batch, s, n_codes, top_code,
                 (n * 1000) // n_codes AS top_share_millis
          FROM TOP),
        MX AS (
          SELECT *, max(top_share_millis) OVER (PARTITION BY batch)
                      AS batch_max_share_millis
          FROM SH),
        SEED AS (SELECT max(top_share_millis) AS seed_max FROM SH
                 WHERE batch = -1)
        SELECT CAST(m.batch AS BIGINT) AS batch, CAST(m.s AS BIGINT) AS s,
               CAST(m.n_codes AS BIGINT) AS n_codes,
               CAST(m.top_code AS BIGINT) AS top_code,
               CAST(m.top_share_millis AS BIGINT) AS top_share_millis,
               CAST(m.batch_max_share_millis AS BIGINT) AS batch_max_share_millis,
               CAST(d.seed_max AS BIGINT) AS seed_max_share_millis,
               (m.batch <> -1 AND m.batch_max_share_millis * 1000
                  > d.seed_max * 2000) AS recode_recommended
        FROM MX m, SEED d
        ORDER BY batch, s""")),

    GraftQuery(
      "q283_rebuild_recall_gain",
      "PROOF the retrain buys recall, not just parity: one corpus " +
        "(evens original + odd half abs-folded into one orthant), two " +
        "quantizers — the drifted store's centroids were pinned on " +
        "the even half before the fold, the rebuilt store's " +
        "(rebuildIndex) are retrained on the live corpus — probed at " +
        "EQUAL nProbe=1 against the same brute-force top-3, recall " +
        "summed as integers. The store contents are IDENTICAL, so the " +
        "hit-count gap isolates the quantizer: the rebuilt store is " +
        "strictly higher at every SF (9->11 / 12->14 / 33->34 hits of " +
        "30/30/120 exact). Rank gaps >= 1.8e-5, assignment gaps >= " +
        "6.8e-7 at every SF (vs ~1e-12 summation error); the compared " +
        "counts are integers. Expected scale exponent ~0.0 (0.017 " +
        "pinned): two store builds + one brute-force pass, " +
        "build-dominated.",
      (spark, dir) => {
        import graft.streaming.VectorIndexStream
        val e = Tables.table(spark, dir, "embeddings")
        val idx = QueryScratch.dir("graft_q283_index")
        val idx2 = QueryScratch.dir("graft_q283_rebuilt")
        Seq(idx, idx2).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) fs.delete(p, true)
        }
        val absOdds = e.filter(col("vec_id") % 2 === 1)
          .withColumn("embedding", transform(col("embedding"), x => abs(x)))
        VectorIndexStream.seedIndex(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
          nLists = 8)
        VectorIndexStream.appendBatch(absOdds, "vec_id", "embedding", idx, 0L)
        VectorIndexStream.rebuildIndex(
          spark, idx, idx2, "vec_id", "embedding", nLists = 8)
        val q = e.filter(col("vec_id") % 50 === 0)
        val live = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding"))
          .unionByName(absOdds.select(col("vec_id"), col("embedding")))
        val exact = Similarity.bruteForceTopK(
          live, q, "vec_id", "embedding", k = 3)
        def gain(store: String, tag: String) =
          Similarity.recallReport(exact,
              VectorIndexStream.topKFromIndex(
                spark, store, q, "vec_id", "embedding", k = 3))
            .agg(count(lit(1)).as("n_queries"),
              sum(col("n_exact")).cast("long").as("n_exact"),
              sum(col("n_hit")).cast("long").as("n_hit"))
            .withColumn("store", lit(tag))
        gain(idx, "1_drifted").unionByName(gain(idx2, "2_rebuilt"))
          .withColumn("recall",
            expr("CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)"))
          .select(col("store"), col("n_queries"), col("n_exact"),
            col("n_hit"), col("recall"))
          .orderBy(col("store"))
      },
      Some("""
        WITH L AS (
          SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
          UNION ALL
          SELECT vec_id, [abs(x) for x in embedding] FROM embeddings
          WHERE vec_id % 2 = 1),
        C1 AS (SELECT vec_id AS cent_id, embedding AS cent_vec
               FROM embeddings WHERE vec_id % 2 = 0
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        C2 AS (SELECT vec_id AS cent_id, v AS cent_vec FROM L
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        EXC AS (
          SELECT q.vec_id AS query_id, l.vec_id AS neighbor_id,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) AS dot,
                 SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nq,
                 SUM(CAST(l.v[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) AS nc
          FROM embeddings q JOIN L l ON l.vec_id <> q.vec_id
          CROSS JOIN range(1, 65) i(i)
          WHERE q.vec_id % 50 = 0 GROUP BY 1, 2),
        EXACT AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY dot / sqrt(nq * nc) DESC, neighbor_id) AS rk
            FROM EXC) WHERE rk <= 3),
        D1 AS (SELECT l.vec_id, c.cent_id,
                 SUM(POW(CAST(l.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM L l, C1 c, range(1,65) i(i) GROUP BY 1, 2),
        LC1 AS (SELECT vec_id, cent_id AS cell FROM D1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        D2 AS (SELECT l.vec_id, c.cent_id,
                 SUM(POW(CAST(l.v[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
               FROM L l, C2 c, range(1,65) i(i) GROUP BY 1, 2),
        LC2 AS (SELECT vec_id, cent_id AS cell FROM D2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        DQ1 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C1 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        QC1 AS (SELECT vec_id, cent_id AS cell FROM DQ1
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        DQ2 AS (SELECT e.vec_id, c.cent_id,
                 SUM(POW(CAST(e.embedding[i.i] AS DOUBLE) - CAST(c.cent_vec[i.i] AS DOUBLE), 2)) AS l2
                FROM embeddings e, C2 c, range(1,65) i(i)
                WHERE e.vec_id % 50 = 0 GROUP BY 1, 2),
        QC2 AS (SELECT vec_id, cent_id AS cell FROM DQ2
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY l2, cent_id) = 1),
        AP1 AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, l.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) /
                     sqrt(SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) *
                          SUM(CAST(l.v[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE))) DESC,
                     l.vec_id) AS rk
            FROM embeddings q
            JOIN QC1 cq ON cq.vec_id = q.vec_id
            JOIN LC1 cl ON cl.cell = cq.cell
            JOIN L l ON l.vec_id = cl.vec_id AND l.vec_id <> q.vec_id
            CROSS JOIN range(1,65) i(i)
            WHERE q.vec_id % 50 = 0 GROUP BY q.vec_id, l.vec_id)
          WHERE rk <= 3),
        AP2 AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, l.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)) /
                     sqrt(SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) *
                          SUM(CAST(l.v[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE))) DESC,
                     l.vec_id) AS rk
            FROM embeddings q
            JOIN QC2 cq ON cq.vec_id = q.vec_id
            JOIN LC2 cl ON cl.cell = cq.cell
            JOIN L l ON l.vec_id = cl.vec_id AND l.vec_id <> q.vec_id
            CROSS JOIN range(1,65) i(i)
            WHERE q.vec_id % 50 = 0 GROUP BY q.vec_id, l.vec_id)
          WHERE rk <= 3),
        G AS (
          SELECT '1_drifted' AS store,
                 count(DISTINCT e.query_id) AS n_queries,
                 count(*) AS n_exact,
                 CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_hit
          FROM EXACT e LEFT JOIN AP1 a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
          UNION ALL
          SELECT '2_rebuilt',
                 count(DISTINCT e.query_id), count(*),
                 CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT)
          FROM EXACT e LEFT JOIN AP2 a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
        SELECT store, CAST(n_queries AS BIGINT) AS n_queries,
               CAST(n_exact AS BIGINT) AS n_exact, n_hit,
               CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
        FROM G ORDER BY store"""))
  )
}
