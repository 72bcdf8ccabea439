"""Corpus-level text statistics: tf-idf keywords and vocabulary/OOV
analysis — the corpus-wide counterparts of the per-row scores in
``functions/text.py`` (which need no aggregation). A training-data
pipeline uses these for keyword extraction, vocabulary coverage checks
("how much of this shard is OOV for my tokenizer?"), and
frequency-based quality filters.

Scale shape (both operators):
- tokens explode map-side; every aggregation map-side combines before
  its shuffle (token counts, per-doc counts), so shuffles carry
  (token, count) / (doc, count) pairs — never text;
- the vocabulary is a top-V aggregate (V = thousands), broadcast back
  against the exploded stream: corpus-size-independent build side;
- no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_schema_copy_spark.functions.text import tokens
from oracle_schema_copy_spark.operators import spread


def tfidf_top_terms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` tf-idf terms per document: tf(d,t) * ln(N / df(t)),
    rounded to 6 decimals (ln is the one non-rational step; both engines
    evaluate IEEE-double ln, and the 6-dp rounding absorbs last-ulp
    dialect differences), ranked per document with a term-name tie-break.

    One explode + two map-side-combined aggregations (tf by (doc, term),
    df by term) + a broadcast-able join of the df table; the rank window
    shuffles only (doc, term, score) triples.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("__n").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def top_vocabulary(
    docs: DataFrame,
    *,
    text_col: str = "text",
    size: int = 1000,
) -> DataFrame:
    """The corpus's ``size`` most frequent tokens (count desc, token asc
    tie-break — fully deterministic): the stand-in for a tokenizer
    vocabulary in coverage analysis. One explode + one map-side-combined
    count + a global top-V (TakeOrderedAndProject — per-partition top-V,
    merged on the driver; never a full sort)."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(size)
        .select("term", F.col("n").cast("long").alias("n"))
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 against a literal term set — the
    keyword-retrieval half of hybrid search (and the lexical side of
    contamination / source-tracing lookups).

    Determinism engineering (the oracle must match exactly): tf is an
    integer count; doc length and the corpus (N, Σdl) are integer
    aggregates (one IEEE division each for avgdl and the norm); idf uses
    the Lucene ``ln(1 + (N - df + ½)/(df + ½))`` form. Per-term scores
    are pivoted to ONE column per query term and added in FIXED term
    order (a float sum over a groupBy would be order-nondeterministic),
    rounded to 6 dp, and RANKED ON THE ROUNDED score with an id
    tie-break. Only docs containing ≥1 query term appear.

    Shape: one explode filtered to the term list (a handful of tokens —
    the filter prunes the stream at the scan), two map-side-combined
    aggregations, broadcast joins of the df table and the 1-row corpus
    stats; the rank is a single TakeOrdered."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term").isin(list(terms)))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    dl = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("__sumdl"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("__n") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b)
                        * F.col("dl")
                        / (
                            F.col("__sumdl").cast("double")
                            / F.col("__n").cast("double")
                        )
                    )
                )
            ).alias("__s"),
        )
    )
    per_term = scored.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("__s"))).alias(f"__s{i}")
            for i, t in enumerate(terms)
        ]
    )
    total = None
    for i in range(len(terms)):
        c = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
        total = c if total is None else total + c
    return (
        per_term.select(F.col(id_col), F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def mixture_rates(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token mass and the sampling rate (basis points) that
    equalizes groups to the SMALLEST group's token count — the "mix
    domains to a target ratio" step of corpus curation, computed
    declaratively: one explode-free token count (``size(split(...))``),
    one map-side-combined aggregation to |groups| rows, one broadcast of
    the global minimum. ``rate_bp = floor(10000 * min_tokens /
    group_tokens)`` — exact integer arithmetic after one IEEE division,
    identical across engines."""
    per = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("long").alias("n_tokens"),
    )
    mn = per.agg(F.min("n_tokens").alias("__mn"))
    return (
        per.crossJoin(F.broadcast(mn))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            F.floor(
                F.lit(10000)
                * F.col("__mn").cast("double")
                / F.col("n_tokens").cast("double")
            )
            .cast("long")
            .alias("rate_bp"),
        )
    )


def sample_to_mixture(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Apply ``mixture_rates`` as a deterministic hash sample: every group
    downsampled toward the smallest group's token mass. Rates join back
    broadcast (|groups| rows); membership is the md5 ring of
    ``operators/sampling.py`` — reproducible on any engine/partitioning,
    and the whole pipeline (count → rate → filter) is one declarative
    plan with a single aggregation shuffle."""
    from oracle_schema_copy_spark.operators.sampling import hash_bucket

    rates = mixture_rates(docs, group_col=group_col, text_col=text_col)
    return (
        docs.join(F.broadcast(rates.select(group_col, "rate_bp")), group_col)
        .filter(hash_bucket(F.col(id_col), "mix") < F.col("rate_bp"))
        .select(id_col, group_col)
    )


def oov_rate(
    docs: DataFrame,
    vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary statistics against ``vocab`` (a
    one-column-or-more frame whose first column is the term): token
    count, OOV token count, and their exact-integer ratio (no
    transcendentals — the oracle matches bit-for-bit).

    The exploded token stream LEFT-ANTI-joins the broadcast vocabulary;
    per-doc counts map-side combine. Documents with zero tokens report
    rate 0.0."""
    v = F.broadcast(vocab.select(F.col(vocab.columns[0]).alias("term")).distinct())
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    oov = (
        tok.join(v, "term", "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    totals = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        docs.select(id_col)
        .join(totals, id_col, "left")
        .join(oov, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.coalesce("n_oov", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("oov_rate"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    chunking step ahead of embedding / retrieval indexing. Emits
    (doc_id, chunk_id, n_tok, chunk_hash): the md5 of the re-joined chunk
    stands in for the chunk text so the frame stays narrow (and the
    DuckDB twin can hash the identical string); swap the hash for the
    joined text itself when materializing real chunks.

    Per-row index arithmetic only (window starts = an index sequence at
    ``chunk_tokens - overlap`` stride, one slice per start), then one
    explode — no shuffle at all until whatever consumes the chunks. A
    100 TB corpus chunks embarrassingly parallel with the scan.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap {overlap} must be < chunk_tokens {chunk_tokens}")
    stride = chunk_tokens - overlap
    # starts: 0, stride, 2*stride, ... while start < n (last chunk may be
    # short); slice() is 1-based
    # staged __alltoks: the slice() inside the lambda otherwise
    # re-evaluates the inline split per chunk (per-element HOF trap, r13)
    chunks = (
        f"transform(sequence(0, (size(__alltoks) - 1) DIV {stride}), "
        f"s -> slice(__alltoks, s * {stride} + 1, {chunk_tokens}))"
    )
    ex = docs.select(
        F.col(id_col), F.split(text_col, " ").alias("__alltoks")
    ).select(
        F.col(id_col),
        F.size("__alltoks").alias("__n"),
        F.posexplode(F.expr(chunks)).alias("chunk_id", "__toks"),
    )
    # drop pure-overlap tails: when n is an exact multiple of the stride
    # the last window starts at n - overlap and repeats only tokens the
    # previous chunk already covered — it carries no new content
    keep = (F.col("chunk_id") == 0) | (
        F.col("chunk_id") * stride + overlap < F.col("__n")
    )
    return ex.filter(keep).select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("__toks").cast("long").alias("n_tok"),
        F.md5(F.array_join("__toks", " ")).alias("chunk_hash"),
    )


def repeated_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
) -> DataFrame:
    """Per-document duplicated-span profile — the exact-substring
    duplication signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): hash every length-L sliding token
    window, call a span DUPLICATED when its hash occurs more than once
    in the corpus (a second copy anywhere — another document or a repeat
    within the same one), and report per document how much of it is
    duplicated material. Docs shorter than L contribute no spans.

    Output: (id, n_spans, n_dup_spans, dup_fraction).

    Scale shape: window hashing is per-row expression work (no shuffle);
    the one shuffle carries (16-byte hash) keys — ~2 bytes per corpus
    token at L=16 after dictionary compression, vs the suffix-array
    construction the paper uses, which needs global sorts. For cheaper
    approximations raise the stride (hash every k-th window) — the
    fraction becomes a sample estimate; stride 1 here keeps the oracle
    exact. The count>1 histogram is also exactly the input a
    drop-duplicated-spans rewrite pass consumes.
    """
    # token split STAGED as a named column: the transform lambda's
    # slice(toks, s, L) re-evaluated an inline split(text) on every
    # window (same per-element HOF trap as shingle_stream, fixed r13 —
    # measured 13.5s -> ~1s of stage CPU for this query at sf0.1)
    spans = (
        f"transform(sequence(1, size(__toks) - {span_tokens - 1}), "
        f"s -> md5(array_join(slice(__toks, s, {span_tokens}), ' ')))"
    )
    # explode_outer, not explode: plain explode makes Catalyst infer a
    # size()>0 filter containing the whole window-hash expression and push
    # it below spread()'s exchange (see ngram_jaccard_pairs); the length
    # pre-filter already guarantees non-empty span arrays. localCheckpoint
    # because the hash stream feeds TWO consumers (the counts aggregate
    # and the join probe) — A/B'd at sf1 (r9): WITH checkpoint min 4.16s
    # steady; without it 4.3s best but 24-37s outliers (the join probe's
    # recompute path degrades). Note the OPPOSITE holds for
    # remove_repeated_spans below — each measured separately.
    ex = (
        spread(docs)
        .filter(F.size(F.split(F.col(text_col), " ")) >= span_tokens)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
        .select(F.col(id_col), F.explode_outer(F.expr(spans)).alias("__h"))
        .localCheckpoint()
    )
    counts = ex.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    dup = F.sum(F.when(F.col("__cnt") > 1, 1).otherwise(0))
    return (
        ex.join(counts, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            dup.cast("bigint").alias("n_dup_spans"),
            F.round(
                dup.cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_fraction"),
        )
    )


def remove_repeated_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
) -> DataFrame:
    """Exact-substring span REMOVAL — the rewrite pass of Lee et al. 2022
    (ExactSubstr): excise every length-L token window whose hash occurs
    more than once in the corpus (the signal :func:`repeated_spans`
    profiles) and keep the remainder of each document. Overlapping
    flagged windows merge naturally: a token is removed when ANY flagged
    window covers it, so the kept text is the complement of the union of
    flagged [s, s + L) intervals.

    Output: (id, n_tok, n_kept, n_removed, kept_text) — one row per input
    document, kept_text = '' when the whole document is duplicated
    material, untouched docs (and docs shorter than L) pass through.

    Scale shape: window hashing is per-row expression work; the shuffles
    carry (id, hash) pairs and (id, start-index) pairs — never text
    bodies. The flagged-start sets come back as one per-document array
    (bounded by doc length), and the excision itself is per-row array
    arithmetic (filter over token indices vs the merged interval union).
    Both copies of a duplicated span are removed, like the paper's
    conservative variant — dedup-then-keep-one needs a keeper rule, which
    :func:`paragraph_dedup_docs` demonstrates at paragraph granularity.
    """
    # No checkpoint (ADVICE r8 #3 measured, BENCH_NOTES_r09.md): the
    # exploded (id, start, hash) frame feeds two consumers, but eagerly
    # localCheckpoint-ing it — ~corpus x windows rows pinned to executor
    # memory/disk — was 6.7x SLOWER than recomputing the per-row hashing
    # for each consumer at sf1 (1.81s vs 0.27s min of 3; the hashing is
    # cheap codegen'd expression work, the materialization is not), on
    # top of the memory-footprint risk the checkpoint carries.
    ex = _span_starts(docs, id_col, text_col, span_tokens)
    counts = ex.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    flagged = (
        ex.join(counts.filter(F.col("__cnt") > 1), "__h")
        .groupBy(id_col)
        .agg(F.collect_set("__s").alias("__starts"))
    )
    return _excise_flagged_starts(docs, flagged, id_col, text_col, span_tokens)


def _span_starts(
    docs: DataFrame, id_col: str, text_col: str, span_tokens: int
) -> DataFrame:
    """(id, __s, __h): the 1-based start index and md5 of every length-L
    sliding token window. posexplode gives the 0-based window offset; +1
    makes it the 1-based token start index. Per-row expression work —
    the caller decides what (if anything) to shuffle."""
    # staged __toks: see repeated_spans — the inline split re-evaluated
    # per window inside the transform lambda
    spans = (
        f"transform(sequence(1, size(__toks) - {span_tokens - 1}), "
        f"s -> md5(array_join(slice(__toks, s, {span_tokens}), ' ')))"
    )
    return (
        spread(docs)
        .filter(F.size(F.split(F.col(text_col), " ")) >= span_tokens)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
        .select(F.col(id_col), F.posexplode_outer(F.expr(spans)).alias("__s0", "__h"))
        .select(F.col(id_col), (F.col("__s0") + 1).alias("__s"), "__h")
    )


def _excise_flagged_starts(
    docs: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int,
) -> DataFrame:
    """Remove from each document the union of [s, s + L) token intervals
    in ``flagged`` (one row per id: ``__starts`` array) and emit
    (id, n_tok, n_kept, n_removed, kept_text). Overlapping intervals
    merge by construction — a token goes when ANY flagged start covers
    it. Per-row array arithmetic after one left join."""
    joined = docs.select(F.col(id_col), F.col(text_col)).join(
        flagged, id_col, "left"
    )
    # keep token p (1-based) iff no flagged start s covers it:
    # NOT exists(starts, s -> s <= p AND p < s + L)
    kept = (
        "filter(transform(split({t}, ' '), (tok, i) -> struct(i + 1 AS p, tok)),"
        " x -> __starts IS NULL OR NOT exists(__starts,"
        " s -> s <= x.p AND x.p < s + {L}))"
    ).format(t=text_col, L=span_tokens)
    return joined.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tok"),
        F.expr(kept).alias("__kept"),
    ).select(
        F.col(id_col),
        "n_tok",
        F.size("__kept").cast("long").alias("n_kept"),
        (F.col("n_tok") - F.size("__kept")).cast("long").alias("n_removed"),
        F.array_join(F.expr("transform(__kept, x -> x.tok)"), " ").alias(
            "kept_text"
        ),
    )


def remove_contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
) -> DataFrame:
    """Span-level DECONTAMINATION — the surgical variant of the
    document-level contamination screen (operators/contamination.py):
    instead of dropping a whole training document that overlaps the
    held-out eval set, excise exactly the token windows that collide
    with any eval-set window and keep the remainder (the GPT-3/PaLM
    appendix-style n-gram scrub). Same interval-union excision as
    :func:`remove_repeated_spans`; the flagged set comes from a join
    against the DISTINCT eval window hashes instead of corpus-frequency
    counts.

    Output: one row per TRAINING document (eval docs are not rewritten),
    (id, n_tok, n_kept, n_removed, kept_text).

    Scale shape: the eval hash set is benchmark-sized (thousands of
    docs), aggregates to distinct hashes and broadcasts; training-side
    work is per-row window hashing plus one broadcast-join probe — the
    100 TB corpus never shuffles on anything wider than (id, start).
    """
    ev = (
        _span_starts(eval_docs, id_col, text_col, span_tokens)
        .select("__h")
        .distinct()
    )
    tr = _span_starts(docs, id_col, text_col, span_tokens)
    flagged = (
        tr.join(F.broadcast(ev), "__h")
        .groupBy(id_col)
        .agg(F.collect_set("__s").alias("__starts"))
    )
    return _excise_flagged_starts(docs, flagged, id_col, text_col, span_tokens)


def paragraph_dedup_docs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 5,
) -> DataFrame:
    """Paragraph-level dedup + document reconstruction — the CCNet /
    RefinedWeb shape: hash normalized paragraphs, keep only the
    corpus-wide FIRST occurrence of each paragraph (deterministic keeper:
    smallest (doc_id, paragraph-index)), and rebuild every document from
    its surviving paragraphs in original order.

    Real corpora split paragraphs on blank lines; the fixture's documents
    are single-line, so a paragraph here is a fixed ``para_tokens`` token
    chunk (the same stand-in :func:`chunk_documents` uses) — the dedup /
    keeper / reconstruction machinery is delimiter-agnostic.

    Output: (id, n_paras, n_kept, deduped_text) — one row per input
    document; a document whose every paragraph appeared earlier
    reconstructs to ''.

    Scale shape: one explode (paragraphs with their in-document index),
    one window argmin per paragraph hash (shuffle carries
    (hash, doc_id, idx) triples — text rides along only as the paragraph
    being kept), one re-aggregate by document ordered by the original
    index. No all-pairs anything; state per hash is one row.
    """
    toks = f"split({text_col}, ' ')"
    # fixed-size chunks, 1-based slice; last chunk may be short
    paras = (
        f"transform(sequence(0, (size({toks}) - 1) DIV {para_tokens}), "
        f"s -> array_join(slice({toks}, s * {para_tokens} + 1, {para_tokens}), ' '))"
    )
    ex = spread(docs).select(
        F.col(id_col),
        F.posexplode(F.expr(paras)).alias("__idx", "__para"),
    )
    # normalized hash key (fixture text is already lowercased; trim keeps
    # the normalization explicit and mirrors the SQL twin)
    keyed = ex.select(
        F.col(id_col),
        "__idx",
        "__para",
        F.md5(F.trim(F.lower(F.col("__para")))).alias("__h"),
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col), F.col("__idx"))
    survivors = keyed.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    rebuilt = survivors.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(__idx, __para))),"
                   " x -> x.__para)"),
            " ",
        ).alias("deduped_text"),
    )
    base = docs.select(
        F.col(id_col),
        (((F.size(F.split(F.col(text_col), " ")) - 1) / para_tokens).cast("long") + 1)
        .alias("n_paras"),
    )
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_paras").cast("long").alias("n_paras"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("deduped_text"), F.lit("")).alias("deduped_text"),
    )
