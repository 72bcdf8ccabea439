"""LLM-pipeline queries: corpus statistics, quality screens (Gopher,
perplexity, DSIR), graph analytics over fixture-derived graphs, and
embedding diagnostics. Split out of queries/pipeline.py in round 9
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


_PAGERANK_EDGES_SQL = """SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
               't:' || event_type AS dst FROM events
        UNION
        SELECT DISTINCT 't:' || event_type AS src,
               'u:' || CAST(user_id AS VARCHAR) AS dst FROM events"""


def _pagerank_oracle() -> str:
    from oracle_schema_copy_spark.operators import graph

    return (
        graph.pagerank_sql(_PAGERANK_EDGES_SQL, iterations=3)
        + "\n    SELECT node, rank FROM r3"
    )


@query("graph_pagerank_user_type", _pagerank_oracle())
def q_graph_pagerank_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the bipartite user <-> event-type
    graph — the iterative-algorithm shape (driver loop, one shuffle per
    iteration, localCheckpoint lineage cuts). Ranks are exact BIGINT
    micro-units (integer floor division everywhere), so the unrolled-CTE
    oracle matches bit-for-bit with no float tolerance."""
    from oracle_schema_copy_spark.operators import graph

    ev = load_table(spark, sf_dir, "events")
    ue = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = ue.union(ue.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.pagerank(edges, iterations=3)


@query(
    "text_bigram_counts",
    """
    WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT t[i] || ' ' || t[i + 1] AS bigram
        FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i))
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q_text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams — the n-gram language-model counting step.
    Bigrams are generated per row with a codegen'd transform over index
    sequences (no self-join); one explode, one map-side-combined count.
    The empty-guard matters: Spark's sequence(1, 0) DESCENDS, so short
    docs must map to an empty array explicitly."""
    docs = load_table(spark, sf_dir, "documents")
    # bigram stream == 2-token shingle stream; the zip_with-over-slices
    # form evaluates the token split once per row (the old inline
    # element_at(split(...)) re-split per element — r13 HOF-trap fix)
    return (
        docs.select(F.split("text", " ").alias("__toks"))
        .select(
            F.explode(tf.shingle_stream_from_tokens(F.col("__toks"), 2)).alias(
                "bigram"
            )
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "embedding_dim_stats",
    """
    SELECT CAST(pos AS BIGINT) AS dim,
           round(avg(CAST(c AS DOUBLE)), 6) AS mean,
           CAST(min(c) AS DOUBLE) AS lo,
           CAST(max(c) AS DOUBLE) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(embedding) AS c,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY pos
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/min/max) — the feature-
    drift / normalization profile of an embedding column. posexplode then
    aggregate: the shuffle carries dim x 4 numbers per map partition
    (partial aggregation), never the vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "c"))
    return (
        ex.groupBy("pos")
        .agg(
            F.round(F.avg(F.col("c").cast("double")), 6).alias("mean"),
            F.min("c").cast("double").alias("lo"),
            F.max("c").cast("double").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .select((F.col("pos") + 1).cast("long").alias("dim"), "mean", "lo", "hi", "n")
    )


@query(
    "chunk_documents_overlap",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    ex AS (
        SELECT doc_id, len(t) AS n, s AS chunk_id,
               list_slice(t, s * 48 + 1, s * 48 + 64) AS toks
        FROM tok, unnest(generate_series(0, (len(t) - 1) // 48)) AS g(s))
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks) AS BIGINT) AS n_tok,
           md5(array_to_string(toks, ' ')) AS chunk_hash
    FROM ex
    WHERE chunk_id = 0 OR chunk_id * 48 + 16 < n
    """,
)
def q_chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token chunks at stride 48 (16-token overlap) per document —
    the chunking step ahead of embedding/retrieval indexing. Pure per-row
    index arithmetic + one explode (no shuffle); pure-overlap tail
    windows are dropped on both sides. Chunk content is compared via md5
    of the re-joined tokens, the hash both engines share."""
    from oracle_schema_copy_spark.operators import corpus

    return corpus.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@query(
    "udtf_token_runs",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
    g AS (
        SELECT doc_id, token, pos,
               pos - row_number() OVER (
                   PARTITION BY doc_id, token ORDER BY pos) AS grp
        FROM tok)
    SELECT doc_id, token, CAST(min(pos) - 1 AS BIGINT) AS run_start,
           CAST(count(*) AS BIGINT) AS run_len
    FROM g
    GROUP BY doc_id, token, grp
    HAVING count(*) >= 2
    """,
)
def q_udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 ``@udtf`` + ``LATERAL``): maximal
    consecutive-repeat token runs per document, one emitted row per run —
    the last Spark-4 Python extension point without an oracle-gated query
    (r4 VERDICT §missing #4; Variant / recursive CTE / Python Data Source
    landed in r4). The UDTF is a single forward pass per row and is
    embarrassingly parallel; the SQL twin proves the semantics via the
    gaps-and-islands window trick. See functions/udtfs.py for the scale
    posture (UDTFs are the slow path, reserved for non-explodable logic)."""
    from oracle_schema_copy_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, r.token, r.run_start, r.run_len
        FROM __udtf_docs d, LATERAL token_runs(d.text) r
        """
    )


@query(
    "mad_outlier_flags",
    """
    WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
    dev AS (SELECT e.event_type, e.event_id, e.value,
                   abs(e.value - m.med) AS deviation
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, median(deviation) AS mad FROM dev GROUP BY 1)
    SELECT d.event_type, CAST(d.event_id AS BIGINT) AS event_id, d.value,
           d.deviation,
           d.deviation > (CASE WHEN m.mad > 0 THEN 3.0 * m.mad ELSE 0.0 END)
               AS is_outlier
    FROM dev d JOIN mad m USING (event_type)
    """,
)
def q_mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier flags (|x - median| > 3 * MAD) via a
    grouped-map applyInPandas: ONE shuffle computes both order statistics
    and the flags numpy-side, where the SQL twin needs two aggregate+join
    rounds. Medians are order statistics — no float summation — so the
    two formulations agree bit-for-bit with no rounding."""
    from oracle_schema_copy_spark.operators import quality

    return quality.mad_outliers(load_table(spark, sf_dir, "events"))


def _bfs_oracle() -> str:
    from oracle_schema_copy_spark.operators import graph

    return graph.bfs_hops_sql(_PAGERANK_EDGES_SQL, "'u:0'", max_hops=4)


@query("graph_bfs_hops_user0", _bfs_oracle())
def q_graph_bfs_hops_user0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop counts from user 0 through the bipartite
    user <-> event-type graph — the iterative-traversal shape (frontier
    semi-join + visited anti-join per level, localCheckpoint lineage
    cuts). Hop levels are exact, so the unrolled-CTE oracle matches
    without tolerance."""
    from oracle_schema_copy_spark.operators import graph

    ev = load_table(spark, sf_dir, "events")
    ue = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = ue.union(ue.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.bfs_hops(edges, "u:0", max_hops=4)


@query(
    "text_unigram_logprob",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    freq AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY t),
    total AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM freq)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(sum(ln(freq.n / total.tot)) / count(*), 6) AS avg_logprob
    FROM tok JOIN freq USING (t) CROSS JOIN total
    GROUP BY tok.doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's own
    unigram LM — the classic perplexity-proxy quality filter (gibberish
    and boilerplate-free rare-token soup score low). The frequency table
    is corpus-derived and broadcast; one explode + one broadcast join +
    one aggregation. Every token occurs at least once (the LM is fit on
    the same corpus), so no smoothing branch is needed."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tf.tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("double").alias("tot"))
    return (
        tok.join(F.broadcast(freq), "t")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(
                F.sum(F.log(F.col("n") / F.col("tot"))) / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


@query(
    "quality_perplexity_buckets",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    freq AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY t),
    total AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM freq),
    lpu AS (SELECT freq.t,
                   CAST(round(ln(freq.n / total.tot) * 1000000) AS BIGINT) AS lp_u
            FROM freq CROSS JOIN total),
    lp AS (
        SELECT tok.doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(lpu.lp_u) AS BIGINT) AS sum_u
        FROM tok JOIN lpu USING (t)
        GROUP BY tok.doc_id)
    SELECT d.doc_id, d.lang,
           floor(lp.sum_u / lp.n_tok + 0.5) / 1000000.0 AS avg_logprob,
           CAST(ntile(3) OVER (
               PARTITION BY d.lang
               ORDER BY CAST(lp.sum_u AS DOUBLE) / lp.n_tok DESC, d.doc_id)
               AS INTEGER) AS ppl_bucket
    FROM documents d JOIN lp ON lp.doc_id = d.doc_id
    """,
)
def q_quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    LANGUAGE, rank every document by its LM quality score (the
    text_unigram_logprob perplexity proxy — higher avg logprob = more
    fluent) and cut the ranking into terciles; bucket 1 = head (kept for
    training), 2 = middle, 3 = tail (filtered or down-weighted). The
    per-language partition is what makes the filter fair across
    high/low-resource languages — a global cut would discard whole
    languages. Row-level gate at corpus cardinality: the bucket of EVERY
    document is pinned — the per-TOKEN log-prob is frozen to integer
    MICRO-UNITS first (the PQ/DSIR convention), so the per-document score
    is an exact BIGINT sum whose ordering cannot flip on float
    summation-order last-ulp differences (the ntile rank key is the
    deterministic double division of two exact integers, tie-broken by
    doc_id; Spark and DuckDB share the same first-buckets-get-extras
    ntile semantics).

    Scale: the LM table is corpus-derived and broadcast; one explode +
    broadcast join + per-doc aggregate, then one window over (lang)
    partitions — the only full shuffle carries (doc_id, lang, score)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tf.tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("double").alias("tot"))
    lpu = freq.join(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("n") / F.col("tot")) * 1_000_000)
        .cast("long")
        .alias("lp_u"),
    )
    lp = (
        tok.join(F.broadcast(lpu), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("lp_u").cast("long").alias("sum_u"),
        )
    )
    rank_key = (F.col("sum_u").cast("double") / F.col("n_tok")).desc()
    w = Window.partitionBy("lang").orderBy(rank_key, "doc_id")
    return (
        docs.select("doc_id", "lang")
        .join(lp, "doc_id")
        .select(
            "doc_id",
            "lang",
            # floor(x + 0.5) on the micro scale, NOT round(x, 6): round's
            # implementation differs between engines (BigDecimal HALF_UP
            # vs float-path) and diverged 1 micro at sf10's boundary
            # values; /, + and floor are IEEE-deterministic, so this is
            # bit-identical cross-engine (r12 sf10 widening catch)
            (
                F.floor(F.col("sum_u") / F.col("n_tok") + F.lit(0.5))
                / F.lit(1_000_000.0)
            ).alias("avg_logprob"),
            F.ntile(3).over(w).cast("int").alias("ppl_bucket"),
        )
    )


# Gopher-rule thresholds (Rae et al. 2021, Table A1 §A1.1), adapted to
# the synthetic corpus so every rule is ACTIVE (splits the fixture;
# probed at sf0.01: words 10-99, mean word length 3.7-5.3, max-word
# fraction 0.05-0.30, distinct stopwords 0-2). Real-corpus values noted
# inline. Mirrored constants — the SQL twin embeds the same numbers.
_GOPHER_MIN_WORDS = 25  # Gopher: 50
_GOPHER_MAX_WORDS = 90  # Gopher: 100_000
_GOPHER_MIN_MWL = 4  # Gopher: 3  (mean word length lower bound)
_GOPHER_MAX_MWL = 5  # Gopher: 10
_GOPHER_REP_DENOM = 8  # top word must be <= 1/8 of tokens (Gopher: top
# 2-gram <= 0.2; the fixture has no duplicate-line structure to test)
_GOPHER_MIN_STOPWORDS = 2  # Gopher: >= 2 of a fixed stop list
_GOPHER_STOPLIST = ("the", "a", "and", "of", "to", "in", "is")
_SQL_STOPLIST = ", ".join(f"'{w}'" for w in _GOPHER_STOPLIST)


@query(
    "quality_gopher_rules",
    f"""
    WITH w AS (
        SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY doc_id, word),
    per AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               CAST(sum(c * length(word)) AS BIGINT) AS n_word_chars,
               CAST(max(c) AS BIGINT) AS max_word_count,
               CAST(count(DISTINCT CASE WHEN word IN ({_SQL_STOPLIST})
                                        THEN word END) AS BIGINT)
                   AS n_stop_distinct
        FROM w GROUP BY doc_id)
    SELECT doc_id, n_words,
           n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
               AS ok_word_count,
           n_word_chars >= {_GOPHER_MIN_MWL} * n_words
               AND n_word_chars <= {_GOPHER_MAX_MWL} * n_words
               AS ok_mean_word_len,
           {_GOPHER_REP_DENOM} * max_word_count <= n_words AS ok_repetition,
           n_stop_distinct >= {_GOPHER_MIN_STOPWORDS} AS ok_stopwords,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
               AND n_word_chars >= {_GOPHER_MIN_MWL} * n_words
               AND n_word_chars <= {_GOPHER_MAX_MWL} * n_words
               AND {_GOPHER_REP_DENOM} * max_word_count <= n_words
               AND n_stop_distinct >= {_GOPHER_MIN_STOPWORDS}
               AS pass_gopher
    FROM per
    """,
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1) as
    one relational pass: per-document word count bounds, mean-word-length
    band, single-word repetition cap, and minimum distinct-stopword
    presence, each emitted as a flag plus the conjunction — the standard
    pre-dedup curation screen. Every comparison is INTEGER cross-
    multiplied (mean word length never materialized as a float), so the
    gate is exact, not tolerance-dependent. Scale: one shuffle on
    (doc_id, word) with map-side combine, one on doc_id; no UDFs, no
    corpus re-scan per rule — the five rules share the same aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stop = F.col("word").isin(*_GOPHER_STOPLIST)
    per = w.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.length("word")).cast("long").alias("n_word_chars"),
        F.max("c").cast("long").alias("max_word_count"),
        F.count_distinct(F.when(stop, F.col("word")))
        .cast("long")
        .alias("n_stop_distinct"),
    )
    nw, nc = F.col("n_words"), F.col("n_word_chars")
    ok_wc = nw.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ok_mwl = (nc >= _GOPHER_MIN_MWL * nw) & (nc <= _GOPHER_MAX_MWL * nw)
    ok_rep = _GOPHER_REP_DENOM * F.col("max_word_count") <= nw
    ok_stop = F.col("n_stop_distinct") >= _GOPHER_MIN_STOPWORDS
    return per.select(
        "doc_id",
        "n_words",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_rep.alias("ok_repetition"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_rep & ok_stop).alias("pass_gopher"),
    )


# DSIR feature space: hashed bigram buckets (Xie et al. 2023 use 10k
# buckets over hashed n-grams; 64 keeps the per-bucket counts dense on
# the 31-word fixture vocabulary). Mirrored constant.
_DSIR_BUCKETS = 64
_DSIR_TARGET_LANG = "en"


@query(
    "sample_dsir_importance",
    f"""
    WITH bg AS (
        SELECT doc_id, lang,
               {_sql_h("ws[i] || ' ' || ws[i+1]")} % {_DSIR_BUCKETS} AS b
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
              FROM documents) t,
             unnest(generate_series(1, len(ws) - 1)) AS s(i)),
    doc_b AS (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS c
              FROM bg GROUP BY doc_id, lang, b),
    raw AS (SELECT b, CAST(count(*) AS BIGINT) AS c_raw FROM bg GROUP BY b),
    tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS c_tgt FROM bg
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
    tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw FROM raw),
    tott AS (SELECT CAST(coalesce(sum(c_tgt), 0) AS BIGINT) AS n_tgt FROM tgt),
    lr AS (
        SELECT raw.b,
               CAST(round((ln(CAST(coalesce(tgt.c_tgt, 0) + 1 AS DOUBLE)
                              / (tott.n_tgt + {_DSIR_BUCKETS}))
                         - ln(CAST(raw.c_raw + 1 AS DOUBLE)
                              / (tot.n_raw + {_DSIR_BUCKETS}))) * 1000000)
                    AS BIGINT) AS lr_u
        FROM raw LEFT JOIN tgt ON tgt.b = raw.b
        CROSS JOIN tot CROSS JOIN tott),
    wts AS (
        SELECT doc_b.doc_id, doc_b.lang,
               CAST(sum(doc_b.c) AS BIGINT) AS n_bigrams,
               CAST(sum(doc_b.c * lr.lr_u) AS BIGINT) AS dsir_logw_micro
        FROM doc_b JOIN lr ON lr.b = doc_b.b
        GROUP BY doc_b.doc_id, doc_b.lang)
    SELECT d.doc_id, d.lang,
           CAST(coalesce(w.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(w.dsir_logw_micro, 0) AS BIGINT) AS dsir_logw_micro,
           coalesce(w.dsir_logw_micro, 0) > 0 AS selected
    FROM documents d LEFT JOIN wts w ON w.doc_id = d.doc_id
    """,
)
def q_sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023): score
    every document by how much its hashed-bigram profile leans toward a
    target distribution (here the 'en' slice standing in for the curated
    reference corpus) versus the raw corpus — log importance weight =
    sum over the doc's hashed-bigram buckets of
    count * (ln p_target(b) - ln p_raw(b)), add-one smoothed. The
    per-bucket log-ratio is frozen to integer MICRO-UNITS first, so the
    per-document sum is an exact BIGINT — no float summation-order
    tolerance between engines (the PQ/ADC micro-unit convention).
    selected = weight > 0 (more target-like than average). Scale: the
    bucket distributions aggregate to 64 rows and broadcast back; the
    corpus shuffles once on (doc_id, bucket) and once on doc_id — both
    with map-side combine; the estimator state (the bucket tables) is
    feature-space-sized, never corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("ws")
    ).select(
        "doc_id",
        "lang",
        F.explode(
            # size(ws) < 2 must yield ZERO bigrams: Spark's sequence()
            # auto-steps -1 when start > stop, so sequence(0, -1) would
            # emit [0, -1] and two NULL-bigram rows per 1-word doc; the
            # DuckDB twin's generate_series(1, len-1) is empty there.
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN"
                " transform(sequence(0, size(ws) - 2),"
                " i -> concat(ws[i], ' ', ws[i+1]))"
                " ELSE array() END"
            )
        ).alias("bgram"),
    ).select(
        "doc_id",
        "lang",
        (tf.token_hash(F.col("bgram"), 7) % _DSIR_BUCKETS).alias("b"),
    )
    doc_b = bg.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    raw = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        bg.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    tot = raw.agg(F.sum("c_raw").cast("long").alias("n_raw"))
    tott = tgt.agg(
        F.coalesce(F.sum("c_tgt"), F.lit(0)).cast("long").alias("n_tgt")
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tott))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (F.col("n_tgt") + _DSIR_BUCKETS)
                    )
                    - F.log(
                        (F.col("c_raw") + 1).cast("double")
                        / (F.col("n_raw") + _DSIR_BUCKETS)
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_u"),
        )
    )
    wts = (
        doc_b.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("lr_u"))
            .cast("long")
            .alias("dsir_logw_micro"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(wts.drop("lang"), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            F.coalesce(F.col("dsir_logw_micro"), F.lit(0))
            .cast("long")
            .alias("dsir_logw_micro"),
            (F.coalesce(F.col("dsir_logw_micro"), F.lit(0)) > 0).alias(
                "selected"
            ),
        )
    )


@query(
    "dedup_keep_best_per_cluster",
    f"""
    WITH RECURSIVE
    pairs AS MATERIALIZED ({_SQL_JACCARD_PAIRS_CAPPED}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs),
    reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT src AS id, dst AS r FROM edges
        UNION
        SELECT reach.id, e.dst AS r
        FROM reach JOIN edges e ON reach.r = e.src),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    everyone AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
        FROM documents d LEFT JOIN comp c USING (doc_id)),
    ranked AS (
        SELECT component, doc_id, n_chars,
               row_number() OVER (PARTITION BY component
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY component) AS nm
        FROM everyone)
    SELECT component, doc_id AS kept_doc, CAST(nm AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
    changed_in=14,
)
def q_dedup_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: near-dup clusters (connected components over the
    Jaccard pair graph) reduced to ONE survivor each — the longest member,
    ties to the smallest id; singleton docs survive as their own cluster.
    Composition of three operators (pair generation -> components ->
    windowed argmax) in one lineage; this is the row every curation
    pipeline actually keeps."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    comp = dedup.near_dup_components(pairs)
    everyone = docs.select("doc_id", "n_chars").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("component")
    return (
        everyone.withColumn("rn", F.row_number().over(w))
        .withColumn("nm", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc"),
            F.col("nm").cast("long").alias("n_members"),
        )
    )


@query(
    "embedding_int8_quantize_error",
    """
    WITH s AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                   AS max_abs
        FROM embeddings),
    q AS (
        SELECT e.vec_id, s.max_abs,
               list_sum(list_transform(e.embedding,
                   x -> abs(CAST(x AS DOUBLE)
                        - floor(CAST(x AS DOUBLE) * 127 / s.max_abs + 0.5)
                          * s.max_abs / 127))) AS err_sum
        FROM embeddings e JOIN s USING (vec_id)
        WHERE s.max_abs > 0)
    SELECT vec_id, round(max_abs, 6) AS max_abs,
           round(err_sum / 64, 8) AS mean_abs_err
    FROM q
    """,
)
def q_embedding_int8_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization profile: per-vector symmetric scale
    (max_abs/127), each component quantized with exact floor(x+0.5)
    rounding (identical on both engines, unlike round()'s half-up vs
    half-even ambiguity), and the mean absolute reconstruction error —
    the compression/recall dial every embedding store tunes. Per-row
    arithmetic only; no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = "CAST(x AS DOUBLE)"
    out = emb.selectExpr(
        "vec_id",
        f"array_max(transform(embedding, x -> abs({x}))) AS max_abs",
        f"""aggregate(transform(embedding,
            x -> abs({x} - floor({x} * 127 / array_max(transform(embedding, x -> abs({x}))) + 0.5D)
                 * array_max(transform(embedding, x -> abs({x}))) / 127)),
            0D, (acc, v) -> acc + v) AS err_sum""",
    ).filter("max_abs > 0")
    return out.selectExpr(
        "vec_id",
        "round(max_abs, 6) AS max_abs",
        "round(err_sum / 64, 8) AS mean_abs_err",
    )


@query(
    "dedup_rate_by_source",
    f"""
    WITH RECURSIVE
    pairs AS MATERIALIZED ({_SQL_JACCARD_PAIRS_CAPPED}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs),
    reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT src AS id, dst AS r FROM edges
        UNION
        SELECT reach.id, e.dst AS r
        FROM reach JOIN edges e ON reach.r = e.src),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    marked AS (
        SELECT d.source,
               CASE WHEN c.doc_id IS NOT NULL AND c.component <> d.doc_id
                    THEN 1 ELSE 0 END AS is_dup
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_dups,
           round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6) AS dup_rate
    FROM marked GROUP BY source
    """,
    changed_in=14,
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate per crawl source — the curation metric that
    decides which source gets down-weighted: a doc counts as a duplicate
    when it belongs to a near-dup cluster and is not the cluster's
    canonical (min-id) survivor. Components join back to the document
    dimension; one aggregate per source."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    comp = dedup.near_dup_components(pairs)
    marked = docs.select("doc_id", "source").join(comp, "doc_id", "left").select(
        "source",
        F.when(
            F.col("component").isNotNull()
            & (F.col("component") != F.col("doc_id")),
            1,
        )
        .otherwise(0)
        .alias("is_dup"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.round(F.sum("is_dup").cast("double") / F.count(F.lit(1)), 6).alias(
            "dup_rate"
        ),
    )


@query(
    "split_by_dedup_cluster",
    f"""
    WITH RECURSIVE
    pairs AS MATERIALIZED ({_SQL_JACCARD_PAIRS_CAPPED}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs),
    reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT src AS id, dst AS r FROM edges
        UNION
        SELECT reach.id, e.dst AS r
        FROM reach JOIN edges e ON reach.r = e.src),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    lab AS (SELECT d.doc_id,
                   CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
    SELECT doc_id, cluster,
           CASE WHEN CAST(('0x' || substr(md5('split'
                          || CAST(cluster AS VARCHAR)), 1, 7)) AS BIGINT)
                     % 10000 < 8000
                THEN 'train' ELSE 'test' END AS split
    FROM lab
    """,
    changed_in=14,
)
def q_split_by_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: hash-split on the NEAR-DUP CLUSTER
    key (connected component of the capped n-gram-Jaccard pair graph;
    singletons are their own cluster) instead of the document id, so two
    near-duplicate documents can never straddle the split — the leakage
    mode a plain per-id split (train_val_test_split) cannot prevent and a
    classic eval-contamination bug in LLM corpora ("dedup before you
    split"). Same md5-ring membership convention as every subset op;
    80/20. Row-level gate at corpus cardinality pins both the cluster
    assignment and the split label of every document.

    Scale: pair generation is the df-capped posting-list path, components
    are the gated large-star/small-star contraction, and the split
    itself is per-row hash arithmetic — no new shuffles
    beyond the already-gated pieces."""
    docs = load_table(spark, sf_dir, "documents")
    from oracle_schema_copy_spark.operators.sampling import hash_bucket

    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    comp = dedup.near_dup_components(pairs)
    lab = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("cluster"),
        )
    )
    return lab.select(
        "doc_id",
        "cluster",
        F.when(hash_bucket(F.col("cluster"), "split") < 8000, "train")
        .otherwise("test")
        .alias("split"),
    )


