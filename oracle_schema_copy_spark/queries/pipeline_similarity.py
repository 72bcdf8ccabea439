"""LLM-pipeline queries: similarity search / ANN serving paths
(brute-force, SQ8, IVF, PQ-ADC, IVF-PQ, banded LSH, recall contracts,
hard-negative mining). Split out of queries/pipeline.py in round 9
(VERDICT r8 #8); query names and implementations unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oracle_schema_copy_spark.functions import text as tf
from oracle_schema_copy_spark.operators import dedup, multimodal, similarity
from oracle_schema_copy_spark.queries import query
from oracle_schema_copy_spark.sources.tables import load_table
from oracle_schema_copy_spark.queries._fragments import (
    _SQL_SHINGLES,
    _sql_h,
    _SQL_BUCKET,
    _SQL_JACCARD_PAIRS,
    _SQL_JACCARD_PAIRS_CAPPED,
    _sql_dot,
    _STOP_EN,
)
from oracle_schema_copy_spark.queries.pipeline_dedup import (
    _banded_lsh_sql,
    _auto_lsh_r,
    _LSH_R_BY_DIR,
)



@query(
    "similarity_topk_bruteforce",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_sql_dot('e.embedding', 'q.qv')} AS score
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT * FROM ranked WHERE rank <= 10
    """,
    headline=True,
)
def q_similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors: broadcast query
    set, one corpus scan, window ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def _sql_int_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        "("
        + " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(1, dim + 1))
        + ")"
    )


# SQ8 quantization chain, mirrored between engines: exact floor(x+0.5)
# rounding, per-vector scale frozen to BIGINT micro-units (see
# operators/similarity.py sq8_quantize).
_SQ8_CTES = """
    base AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                   AS max_abs
        FROM embeddings),
    qz AS (
        SELECT vec_id, embedding,
               CAST(floor(max_abs * 1000000 + 0.5) AS BIGINT) AS su,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 127 / max_abs + 0.5)
                             AS BIGINT)) AS qv
        FROM base WHERE max_abs > 0)
"""


@query(
    "similarity_topk_sq8_rescore",
    f"""
    WITH {_SQ8_CTES},
    qs AS (SELECT vec_id AS query_id, qv AS qa FROM qz WHERE vec_id < 20),
    approx AS (
        SELECT qs.query_id, n.vec_id AS neighbor_id,
               {_sql_int_dot('n.qv', 'qs.qa')} * n.su AS approx_u
        FROM qz n CROSS JOIN qs WHERE n.vec_id <> qs.query_id),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY approx_u DESC, neighbor_id) AS r
            FROM approx) WHERE r <= 20),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               {_sql_dot('ne.embedding', 'qe.embedding')} AS score
        FROM short s
        JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ne ON ne.vec_id = s.neighbor_id)
    SELECT * FROM (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                   AS BIGINT) AS rank
        FROM rer) WHERE rank <= 5
    """,
)
def q_similarity_topk_sq8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization ANN serving path — completes the
    quantized-serving triad next to pure PQ-ADC and IVF-PQ + refine:
    rank by the exact-BIGINT surrogate int_dot(codes) * neighbor-scale
    (within one query's ranking the true dot is the surrogate times a
    per-query constant, so the quantized order is preserved with NO
    float anywhere), shortlist 20, exact re-rank of the shortlist
    against the raw vectors. At rest the codes are 4 bytes/dim smaller
    and the surrogate dot is integer SIMD; the raw corpus is touched
    only for shortlist rows. Every step mirrored in the twin (exact
    floor(x+0.5) rounding, micro-unit scale)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.sq8_rescore_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, shortlist_k=20
    )


@query(
    "sq8_recall_contract",
    f"""
    WITH {_SQ8_CTES},
    qs AS (SELECT vec_id AS query_id, qv AS qa FROM qz WHERE vec_id < 20),
    approx AS (
        SELECT qs.query_id, n.vec_id AS neighbor_id,
               {_sql_int_dot('n.qv', 'qs.qa')} * n.su AS approx_u
        FROM qz n CROSS JOIN qs WHERE n.vec_id <> qs.query_id),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY approx_u DESC, neighbor_id) AS r
            FROM approx) WHERE r <= 20),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               {_sql_dot('ne.embedding', 'qe.embedding')} AS score
        FROM short s
        JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ne ON ne.vec_id = s.neighbor_id),
    sq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                       AS rank
            FROM rer) WHERE rank <= 5),
    bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    bscored AS (
        SELECT bq.query_id, e.vec_id AS neighbor_id,
               {_sql_dot('e.embedding', 'bq.qv')} AS score
        FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5)
    SELECT b.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(l.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
    FROM brute b LEFT JOIN sq l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_sq8_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the SQ8 + exact-rescore path against brute force —
    completes the quality-contract family across all four ANN serving
    paths (LSH, IVF, IVF-PQ, now SQ8): an int8 rounding/scale regression
    that degrades the quantized shortlist turns this row red. SQ8 recall
    should sit near 1.0 (int8 is the gentlest quantizer; the shortlist
    is 4x the final k), and because both rankings are deterministic the
    recall itself is oracle-gated."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    sq = similarity.sq8_rescore_topk(emb, q, k=5, shortlist_k=20).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    brute = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        brute.join(sq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("long").alias("n_hits"),
            (F.count("__hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


@query(
    "similarity_topk_ivf_label",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label FROM embeddings WHERE vec_id < 20),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_sql_dot('e.embedding', 'q.qv')} AS score
        FROM embeddings e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def q_similarity_topk_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: search only the query's coarse cell (label column as
    the quantizer) — at scale this is partition pruning on the cell id."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_partitioned_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


# IVF coarse-quantizer CTE chain (train centroids -> route 20 queries to
# their top-2 cells -> exact-score cell members), shared by the
# similarity_topk_ivf_nprobe oracle and the ivf_recall_contract oracle.
_IVF_NPROBE_CTES = f"""cents AS (
        SELECT label, k - 1 AS pos,
               round(avg(CAST(embedding[k] AS DOUBLE)), 6) AS centroid
        FROM embeddings, unnest(generate_series(1, 64)) AS t(k)
        GROUP BY label, k),
    cvec AS (
        SELECT label, array_agg(centroid ORDER BY pos) AS cv
        FROM cents GROUP BY label),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    qcell AS (
        SELECT query_id, qv, label,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_sql_dot('qv', 'cv')} DESC, label) AS pr
        FROM q CROSS JOIN cvec),
    probed AS (SELECT query_id, qv, label FROM qcell WHERE pr <= 2),
    scored AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               {_sql_dot('e.embedding', 'p.qv')} AS score
        FROM embeddings e JOIN probed p
          ON e.label = p.label AND e.vec_id <> p.query_id)"""


@query(
    "similarity_topk_ivf_nprobe",
    f"""
    WITH {_IVF_NPROBE_CTES},
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def q_similarity_topk_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF: train the coarse quantizer (per-label centroids), route
    each of 20 queries to its top-2 centroid cells, search only those
    cells — the recall/cost dial of production IVF indexes (nprobe=1 is
    similarity_topk_ivf_label). Centroids broadcast; the corpus joins the
    probe list on the cell id, which at scale is partition pruning."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.group_centroids(emb, group_col="label", vec_col="embedding")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), cents, nprobe=2, k=5
    )


@query(
    "ivf_recall_contract",
    f"""
    WITH {_IVF_NPROBE_CTES},
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= 5),
    bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    bscored AS (
        SELECT bq.query_id, e.vec_id AS neighbor_id,
               {_sql_dot('e.embedding', 'bq.qv')} AS score
        FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5)
    SELECT b.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(l.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
    FROM brute b LEFT JOIN ivf l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_ivf_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF nprobe=2 path against the exact brute-force
    top-5, per query — the same in-engine quality contract
    ann_recall_contract pins for banded LSH, now covering the OTHER
    pruned ANN family: a quantizer/routing regression (centroid rounding,
    cell tie-break, probe count) that silently degrades IVF recall turns
    this row red rather than just returning different-but-plausible
    neighbors. Both rankings are deterministic (exact re-score,
    neighbor-id tie-break), so recall itself is oracle-gated."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    cents = similarity.group_centroids(emb, group_col="label", vec_col="embedding")
    ivf = similarity.ivf_topk(emb, q, cents, nprobe=2, k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    brute = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        brute.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("long").alias("n_hits"),
            (F.count("__hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


# Sequential-double dot of a subspace slice against a codebook entry:
# DuckDB list_sum runs the same left-to-right float64 loop as the Spark
# unrolled sum (0.0 seed is IEEE-exact), so both engines agree bit-for-bit.
def _sql_subspace_dot(vec: str, cv: str, sub: int = 8) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"j -> CAST({vec}[subspace * {sub} + j] AS DOUBLE) * CAST({cv}[j] AS DOUBLE)))"
    )


@query(
    "similarity_topk_pq_adc",
    f"""
    WITH pqc AS (
        SELECT ((label % 256) + 256) % 256 AS code, k - 1 AS pos,
               round(avg(CAST(embedding[k] AS DOUBLE)), 6) AS centroid
        FROM embeddings, unnest(generate_series(1, 64)) AS t(k)
        GROUP BY ((label % 256) + 256) % 256, k),
    cb AS (
        SELECT CAST(pos // 8 AS BIGINT) AS subspace, code,
               pos % 8 AS spos, centroid
        FROM pqc),
    cbv AS (
        SELECT subspace, code, array_agg(centroid ORDER BY spos) AS cv
        FROM cb GROUP BY subspace, code),
    esc AS (
        SELECT e.vec_id, c.subspace,
               CAST(round({_sql_subspace_dot('e.embedding', 'c.cv')} * 1000000)
                    AS BIGINT) * 512 + (511 - c.code) AS packed
        FROM embeddings e CROSS JOIN cbv c),
    codes AS (
        SELECT vec_id, subspace,
               511 - ((max(packed) % 512 + 512) % 512) AS code
        FROM esc GROUP BY vec_id, subspace),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    lut AS (
        SELECT q.query_id, c.subspace, c.code,
               CAST(round({_sql_subspace_dot('q.qv', 'c.cv')} * 1000000) AS BIGINT) AS term
        FROM q CROSS JOIN cbv c),
    scored AS (
        SELECT l.query_id, cd.vec_id AS neighbor_id,
               CAST(sum(l.term) AS BIGINT) AS score_micro
        FROM codes cd JOIN lut l ON l.subspace = cd.subspace AND l.code = cd.code
        WHERE cd.vec_id <> l.query_id
        GROUP BY l.query_id, cd.vec_id)
    SELECT query_id, neighbor_id, score_micro, rank FROM (
        SELECT query_id, neighbor_id, score_micro,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_micro DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored) WHERE rank <= 5
    """,
    changed_in=15,
)
def q_similarity_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011): the corpus is
    PQ-encoded to 8 subspace codes per vector (codebooks = subspace
    slices of the rounded group-mean centroids, groups folded to a fixed
    ks=256 like production PQ — injective renaming up to 256 labels, a
    real cap beyond), and each of the
    20 queries ranks the WHOLE corpus by asymmetric distance: one
    query x codebook lookup table, per-vector score = exact BIGINT sum of
    its 8 LUT terms in integer micro-units (order-independent, so Spark
    and DuckDB agree bit-for-bit with no float-summation tolerance).
    This is the memory-bound scale path the IVF/LSH queries don't cover:
    at 100 TB the scored corpus representation is 8 small ints per
    vector (~32x below the raw floats), vectors never move, LUT and
    codebook broadcast, and the per-(query, vector) sum combines
    map-side. Recall/precision tuning (more subspaces, residual
    codebooks, IVF-PQ composition) trades accuracy against the same
    plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    cbv = similarity.pq_codebooks(emb, group_col="label", vec_col="embedding")
    return similarity.pq_adc_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        cbv,
        k=5,
        queries_are_corpus_subset=True,
    )


@query(
    "pq_codes_vectorized",
    f"""
    WITH pqc AS (
        SELECT ((label % 256) + 256) % 256 AS code, k - 1 AS pos,
               round(avg(CAST(embedding[k] AS DOUBLE)), 6) AS centroid
        FROM embeddings, unnest(generate_series(1, 64)) AS t(k)
        GROUP BY ((label % 256) + 256) % 256, k),
    cb AS (
        SELECT CAST(pos // 8 AS BIGINT) AS subspace, code,
               pos % 8 AS spos, centroid
        FROM pqc),
    cbv AS (
        SELECT subspace, code, array_agg(centroid ORDER BY spos) AS cv
        FROM cb GROUP BY subspace, code),
    esc AS (
        SELECT e.vec_id, c.subspace,
               CAST(round({_sql_subspace_dot('e.embedding', 'c.cv')} * 1000000)
                    AS BIGINT) * 512 + (511 - c.code) AS packed
        FROM embeddings e CROSS JOIN cbv c)
    SELECT vec_id, subspace,
           CAST(511 - ((max(packed) % 512 + 512) % 512) AS BIGINT) AS code
    FROM esc GROUP BY vec_id, subspace
    """,
    changed_in=14,
)
def q_pq_codes_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ encode step on its own: codebooks collect once into
    per-subspace (sub x codes) matrices and one numpy matmul per Arrow
    batch encodes every subspace slice, micro-unit argmax in-kernel with
    the smallest-code tie-break. The oracle is the packed-max CTE chain
    of the SQL twins — a code that disagrees with the sequential
    micro-unit encode on ANY (vector, subspace) diverges."""
    emb = load_table(spark, sf_dir, "embeddings")
    cbv = similarity.pq_codebooks(emb, group_col="label", vec_col="embedding")
    return similarity.pq_encode(emb, cbv)


# Full IVF-PQ CTE chain (routing + codebooks + codes + LUT + ADC
# scores), shared by the similarity_topk_ivfpq oracle and the
# ivfpq_recall_contract oracle.
_IVFPQ_CTES = f"""{_IVF_NPROBE_CTES},
    pqc AS (
        SELECT ((label % 256) + 256) % 256 AS code, k - 1 AS pos,
               round(avg(CAST(embedding[k] AS DOUBLE)), 6) AS centroid
        FROM embeddings, unnest(generate_series(1, 64)) AS t(k)
        GROUP BY ((label % 256) + 256) % 256, k),
    cb AS (
        SELECT CAST(pos // 8 AS BIGINT) AS subspace, code,
               pos % 8 AS spos, centroid
        FROM pqc),
    cbv AS (
        SELECT subspace, code, array_agg(centroid ORDER BY spos) AS cv
        FROM cb GROUP BY subspace, code),
    esc AS (
        SELECT e.vec_id, c.subspace,
               CAST(round({_sql_subspace_dot('e.embedding', 'c.cv')} * 1000000)
                    AS BIGINT) * 512 + (511 - c.code) AS packed
        FROM embeddings e CROSS JOIN cbv c),
    codes AS (
        SELECT vec_id, subspace,
               511 - ((max(packed) % 512 + 512) % 512) AS code
        FROM esc GROUP BY vec_id, subspace),
    lut AS (
        SELECT q.query_id, c.subspace, c.code,
               CAST(round({_sql_subspace_dot('q.qv', 'c.cv')} * 1000000) AS BIGINT) AS term
        FROM q CROSS JOIN cbv c),
    cand AS (
        SELECT p.query_id, e.vec_id
        FROM embeddings e JOIN probed p ON e.label = p.label
        WHERE e.vec_id <> p.query_id),
    pscored AS (
        SELECT ca.query_id, ca.vec_id AS neighbor_id,
               CAST(sum(l.term) AS BIGINT) AS score_micro
        FROM cand ca
        JOIN codes cd ON cd.vec_id = ca.vec_id
        JOIN lut l ON l.query_id = ca.query_id
                  AND l.subspace = cd.subspace AND l.code = cd.code
        GROUP BY ca.query_id, ca.vec_id)"""


@query(
    "similarity_topk_ivfpq",
    f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, neighbor_id, score_micro, rank FROM (
        SELECT query_id, neighbor_id, score_micro,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_micro DESC, neighbor_id) AS BIGINT) AS rank
        FROM pscored) WHERE rank <= 5
    """,
    changed_in=15,
)
def q_similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 — the production billion-vector index layout (FAISS
    IndexIVFPQ), composed from the two separately-gated primitives: IVF
    routing prunes each query's search set to its nprobe=2 cells, PQ/ADC
    scores the candidates from their 8 codebook codes in integer
    micro-units. The oracle reuses the IVF routing CTEs verbatim (the
    unused exact-score CTE is dead in this plan) plus the PQ code/LUT
    CTEs, so the composition is gated end-to-end exactly like each half.
    At 100 TB: probe list, codebook and LUT broadcast; with the corpus
    bucketed by cell the candidate join is partition pruning; scoring
    reads codes only — the raw vectors never leave storage."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.group_centroids(emb, group_col="label", vec_col="embedding")
    cbv = similarity.pq_codebooks(emb, group_col="label", vec_col="embedding")
    return similarity.ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        cents,
        cbv,
        nprobe=2,
        k=5,
        queries_are_corpus_subset=True,
    )


# ADC shortlist size for the two-stage rerank path (mirrored constant).
_IVFPQ_SHORTLIST = 50


@query(
    "similarity_topk_ivfpq_rerank",
    f"""
    WITH {_IVFPQ_CTES},
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, neighbor_id) AS rk
            FROM pscored) WHERE rk <= {_IVFPQ_SHORTLIST}),
    rescored AS (
        SELECT s.query_id, s.neighbor_id,
               {_sql_dot('e.embedding', 'q.qv')} AS score
        FROM short s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id)
    SELECT query_id, neighbor_id, score, rank FROM (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM rescored) WHERE rank <= 5
    """,
    changed_in=15,
)
def q_similarity_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ: ADC shortlist (50 per query, codes only) +
    exact re-rank of the shortlist against raw vectors — the production
    serving pattern (FAISS refine) that restores recall to the routing
    ceiling while touching shortlist_k x |queries| vectors instead of
    the corpus. The quantization loss the ivfpq_recall_contract measures
    (0.30 routing ceiling -> 0.07 pure-ADC at sf0.01) is recovered by
    this plan: measured re-ranked recall@5 is 0.26 at sf0.01 — nearly
    the 0.30 ceiling, limited only by true neighbors that miss the
    shortlist. Oracle reuses the shared IVF-PQ CTE chain plus a two-CTE
    shortlist/rescore tail."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.group_centroids(emb, group_col="label", vec_col="embedding")
    cbv = similarity.pq_codebooks(emb, group_col="label", vec_col="embedding")
    return similarity.ivfpq_rerank_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        cents,
        cbv,
        nprobe=2,
        shortlist_k=_IVFPQ_SHORTLIST,
        k=5,
        queries_are_corpus_subset=True,
    )


@query(
    "ivfpq_recall_contract",
    f"""
    WITH {_IVFPQ_CTES},
    pq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, neighbor_id) AS rank
            FROM pscored) WHERE rank <= 5),
    bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    bscored AS (
        SELECT bq.query_id, e.vec_id AS neighbor_id,
               {_sql_dot('e.embedding', 'bq.qv')} AS score
        FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5)
    SELECT b.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(l.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
    FROM brute b LEFT JOIN pq l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
    changed_in=15,
)
def q_ivfpq_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the composed IVF-PQ path against the exact brute-force
    top-5 — completing the quality-contract triad (ann_recall_contract
    pins banded LSH, ivf_recall_contract pins IVF routing): this one also
    pins the PQ quantization loss on top of the routing loss, so a
    codebook/encode/LUT regression that silently degrades the composed
    index turns a correctness row red. Both rankings are deterministic
    (integer micro-unit ADC scores, neighbor-id tie-break), so the recall
    value itself is oracle-gated, not merely bounded. Measured
    decomposition at sf0.01: IVF routing alone caps recall at 0.30 (the
    ivf_recall_contract value — near-random synthetic embeddings cluster
    poorly), and the crude label-derived codebooks cut ADC ranking to
    0.07; on a real corpus the production remedy is an ADC shortlist +
    exact re-rank, whose exact-re-score stage is the already-gated
    brute_force_topk applied to the candidate set."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    cents = similarity.group_centroids(emb, group_col="label", vec_col="embedding")
    cbv = similarity.pq_codebooks(emb, group_col="label", vec_col="embedding")
    pq = similarity.ivfpq_topk(
        emb, q, cents, cbv, nprobe=2, k=5, queries_are_corpus_subset=True
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    brute = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        brute.join(pq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("long").alias("n_hits"),
            (F.count("__hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


@query(
    "similarity_topk_lsh_banded",
    f"""
    WITH {_banded_lsh_sql()},
    qb AS (SELECT vec_id AS query_id, band, key FROM buckets WHERE vec_id < 20),
    ok AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= 1000),
    cand AS (
        SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
        FROM buckets b JOIN ok USING (band, key)
        JOIN qb ON b.band = qb.band AND b.key = qb.key
         AND b.vec_id <> qb.query_id),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               {_sql_dot('n.embedding', 'q.embedding')} AS score
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT * FROM ranked WHERE rank <= 5
    """,
    headline=True,
)
def q_similarity_topk_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 for 20 query vectors through banded-LSH buckets + exact
    re-score — the pruned scale path for similarity_topk_bruteforce. The
    oracle mirrors the same plane grid, band packing, candidate join
    and max_bucket cap, so ranks agree exactly. planes_per_band is now
    ADAPTIVE (auto_planes_per_band from the corpus count, mirrored by the
    prm CTE in the SQL twin): the sf1 audit showed a fixed test-scale r=2
    drops 100% of signature rows at 20k vectors (every bucket over cap)
    and returns zero candidates; the wired rule keeps expected bucket
    load at max_bucket/4 as the corpus grows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_banded_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, bands=8,
        planes_per_band=_auto_lsh_r(emb, sf_dir), plane_stride=similarity.LSH_R_MAX,
        max_bucket=1000, queries_are_corpus_subset=True,
    )


# Hard-negative exclusion ceiling: the SAME threshold the embedding
# dedup pipeline flags near-duplicates at (dedup_embedding_lsh), so
# "negative" is defined consistently with "duplicate" across the engine.
_HARDNEG_MAX_SCORE = 0.45


@query(
    "mine_hard_negatives",
    f"""
    WITH {_banded_lsh_sql()},
    qb AS (SELECT vec_id AS query_id, band, key FROM buckets WHERE vec_id < 20),
    ok AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= 1000),
    cand AS (
        SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
        FROM buckets b JOIN ok USING (band, key)
        JOIN qb ON b.band = qb.band AND b.key = qb.key
         AND b.vec_id <> qb.query_id),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               {_sql_dot('n.embedding', 'q.embedding')} AS score
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id
        WHERE n.label <> q.label),
    eligible AS (
        SELECT query_id, neighbor_id, score FROM scored
        WHERE score < {_HARDNEG_MAX_SCORE}),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM eligible)
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def q_mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SBERT
    curation step): per anchor, the top-5 MOST similar candidates that
    are (a) not near-duplicates — score below the embedding-dedup
    threshold 0.45, the engine's own definition of duplicate — and
    (b) not likely-positives — the anchor's own cluster label is
    excluded. Candidates come from the same adaptive banded-LSH buckets
    as the gated ANN queries (never all-pairs), exclusions apply BEFORE
    ranking (top-k among eligible), and at sf0.01 the label exclusion
    alone changes 13% of the unfiltered top-5 rows, so both knobs are
    demonstrably active. Scale: identical to similarity_topk_lsh_banded
    plus one broadcastable attribute join per side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_banded_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, bands=8,
        planes_per_band=_auto_lsh_r(emb, sf_dir), plane_stride=similarity.LSH_R_MAX,
        max_bucket=1000, queries_are_corpus_subset=True,
        max_score=_HARDNEG_MAX_SCORE, exclude_same_col="label",
    )


@query(
    "similarity_topk_lsh_vectorized",
    f"""
    WITH {_banded_lsh_sql()},
    qb AS (SELECT vec_id AS query_id, band, key FROM buckets WHERE vec_id < 20),
    ok AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= 1000),
    cand AS (
        SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
        FROM buckets b JOIN ok USING (band, key)
        JOIN qb ON b.band = qb.band AND b.key = qb.key
         AND b.vec_id <> qb.query_id),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               round({_sql_dot('n.embedding', 'q.embedding')}, 6) AS score
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    SELECT * FROM ranked WHERE rank <= 5
    """,
    headline=True,
)
def q_similarity_topk_lsh_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-scorer twin of similarity_topk_lsh_banded: identical
    banded-LSH candidate generation (bit-exact buckets on both engines),
    but candidate scoring runs through ``dot_vectorized`` — Arrow-batched
    numpy, one ``einsum`` per batch instead of an interpreted per-row HOF
    loop. Scores are rounded to 6 decimals and ranked on the rounded
    value on BOTH sides, absorbing numpy's pairwise-vs-sequential
    last-ulp difference (|Δ| < 1e-12 ≪ 0.5e-6).

    Measured scorer-only comparison (400k 64-dim dots, one stage, sf0.1
    corpus × 200 queries, local[8]): HOF ``dot()`` 2.4-3.4s, Arrow
    ``dot_vectorized`` 1.1-1.2s steady — 2-3× here, Arrow-transfer-bound;
    the gap widens with vector width since einsum time is negligible. At
    THIS query's sf0.1 workload (20 queries, ~30k candidate dots) total
    runtime is fixed-job-overhead-bound, so the two bench entries sit
    within environment noise of each other — the scorer advantage is the
    per-dot number above, not the headline delta."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_banded_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, bands=8,
        planes_per_band=_auto_lsh_r(emb, sf_dir), plane_stride=similarity.LSH_R_MAX,
        max_bucket=1000, scorer="vectorized", queries_are_corpus_subset=True,
    )


@query(
    "ann_recall_contract",
    f"""
    WITH {_banded_lsh_sql()},
    qb AS (SELECT vec_id AS query_id, band, key FROM buckets WHERE vec_id < 20),
    ok AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= 1000),
    lcand AS (
        SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
        FROM buckets b JOIN ok USING (band, key)
        JOIN qb ON b.band = qb.band AND b.key = qb.key
         AND b.vec_id <> qb.query_id),
    lscored AS (
        SELECT c.query_id, c.neighbor_id,
               {_sql_dot('n.embedding', 'q.embedding')} AS score
        FROM lcand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM lscored) WHERE rank <= 5),
    bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    bscored AS (
        SELECT bq.query_id, e.vec_id AS neighbor_id,
               {_sql_dot('e.embedding', 'bq.qv')} AS score
        FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5)
    SELECT b.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(l.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
    FROM brute b LEFT JOIN lsh l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_ann_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the ADAPTIVE banded-LSH ANN path against the exact
    brute-force top-5, per query — the quality contract every production
    ANN deployment monitors, computed IN-ENGINE: both rankings are
    deterministic (exact re-score, neighbor-id tie-break, the same wired
    r on both engines), so recall itself is deterministic and
    oracle-gated — a plane-grid or count->r regression that silently
    degrades ANN quality turns this row red, not just slow. Cost: the
    brute side is |queries| x corpus (broadcast cross-score — the
    documented baseline shape); the LSH side is candidates-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    lsh = similarity.lsh_banded_topk(
        emb, q, k=5, bands=8,
        planes_per_band=_auto_lsh_r(emb, sf_dir), plane_stride=similarity.LSH_R_MAX,
        max_bucket=1000, queries_are_corpus_subset=True,
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    brute = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        brute.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("long").alias("n_hits"),
            (F.count("__hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


def _hyperplane_sql_literals(n_planes: int = 8, dim: int = 64) -> list[str]:
    planes = similarity.hyperplanes(n_planes, dim)
    return ["[" + ", ".join(f"{v:.1f}" for v in plane) + "]" for plane in planes]


@query(
    "similarity_lsh_bucket_histogram",
    f"""
    WITH b AS (
        SELECT vec_id,
               {' + '.join(f"(CASE WHEN {_sql_dot('embedding', _hyperplane_sql_literals()[p])} > 0 THEN {1 << p} ELSE 0 END)" for p in range(8))} AS bucket
        FROM embeddings)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_vectors
    FROM b GROUP BY bucket
    """,
)
def q_similarity_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (8 fixed md5-seeded planes): the
    bucket histogram. Same-bucket vectors are the ANN candidate set; at
    scale the corpus is written bucketed by this column."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.lsh_bucket(emb, n_planes=8)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


