"""Deduplication operators over a (id, text) corpus.

Five strategies, cheapest to most general:
- exact           : hash-groupBy on the raw text
- normalized      : hash-groupBy on normalize(text) (case/punct-insensitive)
- ngram_jaccard   : exact Jaccard over n-word shingles (quadratic in the
                    candidate space — the *verifier*, not the scale path)
- minhash_lsh     : banded MinHash signatures -> candidate pairs -> exact
                    Jaccard verify (the scale path: near-linear)
- simhash         : 60-bit SimHash + banded Hamming candidates

Scale notes: exact/normalized are one shuffle on a 64-bit digest (never on
the full text). MinHash computes signatures in one pass (explode shingles
-> min per permutation), then shuffles only (band, band-signature) keys;
skewed buckets (boilerplate) are capped with a bucket-size guard. All
hashing is md5-derived so the DuckDB oracles can reproduce it exactly;
xxhash64 would be ~3x faster JVM-side and is the drop-in for production.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from oracle_schema_copy_spark.functions.text import (
    normalize,
    shingle_stream_from_tokens,
    shingles,
    token_hash,
)
from oracle_schema_copy_spark.operators import ordered_pair_array, spread

# MinHash permutation parameters h_i(x) = (a_i * x + b_i) mod P, fixed so
# Spark and the SQL oracle agree. P = 2^31-1 and 28-bit base hashes keep
# a_i * h(x) < 2^63 (no int64 overflow in either engine).
MINHASH_P = 2_147_483_647
MINHASH_HEX_DIGITS = 7  # 28-bit md5-derived base hash
MINHASH_PERMS: list[tuple[int, int]] = [
    ((2 * i + 1) * 2_654_435_761 % MINHASH_P, ((i * i + i + 41) * 40_503) % MINHASH_P)
    for i in range(16)
]
SIMHASH_BITS = 60


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One surviving row (min id) per distinct text value. The shuffle key
    is sha2(text), not the text itself — constant-width at any scale."""
    h = F.sha2(F.col(text_col), 256).alias("__h")
    return (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def normalized_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup over normalized text (case/punctuation-insensitive)."""
    h = F.sha2(normalize(F.col(text_col)), 256).alias("__h")
    return (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    # filter on token count, not size(shingle_set): predicate pushdown
    # re-evaluates the filter expression below the projection, and the
    # token-count test is ~n× cheaper than re-deriving the shingle array.
    # The split is STAGED as a named column so the shingle projection
    # reads the token array attribute instead of re-deriving it
    # (CollapseProject keeps the two projections apart — the alias is
    # non-cheap and referenced more than once).
    toks = F.col("__toks")
    return (
        spread(df)
        .filter(F.size(F.split(F.col(text_col), " ")) >= n)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
        .select(
            F.col(id_col),
            F.array_distinct(shingle_stream_from_tokens(toks, n)).alias(
                "shingle_set"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int = 10_000,
) -> DataFrame:
    """Exact near-dup pairs by n-gram shingle Jaccard >= threshold.

    explode -> groupBy(shingle) collecting doc ids -> emit ordered id
    pairs locally per shingle -> count common -> |A∪B| arithmetic.
    One shuffle on the shingle + one on the id pair; a self-join on the
    exploded table would shuffle-and-sort the postings twice for the same
    pair stream. Shingles seen in a single document (the long tail) are
    dropped before any pair exists. Quadratic only in documents *sharing
    a shingle* — use minhash_lsh_pairs to pre-filter at scale.

    ``max_df`` drops shingles shared by more than that many documents
    (boilerplate): one shingle common to 100k docs would alone emit 5x10^9
    pairs from a single posting row. Dropping it slightly *lowers*
    n_common for pairs that shared it — a document-frequency cutoff, the
    standard IR move (cf. the ``max_bucket`` guard on the LSH path). Test
    SFs stay far below the default cap, so oracle parity is exact there.
    """
    sets = shingle_sets(df, id_col, text_col, n)
    # carry each doc's shingle count THROUGH the explode: set sizes then ride
    # the posting structs into the pair aggregation, so no size-lookup joins
    # (and no second evaluation of the shingle expression) are ever needed.
    # explode_outer, not explode: plain explode makes Catalyst infer a
    # size()>0 pushdown filter containing the whole shingle expression and
    # push it below the spread() exchange — serializing the expensive
    # computation onto the unsplit input partitions. The pre-filter in
    # shingle_sets already guarantees non-empty sets, so outer is identical.
    ex = sets.select(
        F.col(id_col).alias("id"),
        F.size("shingle_set").alias("n_sh"),
        F.explode_outer("shingle_set").alias("sh"),
    )
    postings = (
        # Pin the posting exchange to hash(sh) at defaultParallelism (the
        # spread() convention): the stage above it emits and
        # map-side-combines the QUADRATIC pair stream, but its input is
        # only a few MB of (sh, id) rows, so AQE's byte-based coalescing
        # ran that stage on 6 of 32 cores (r14 stage profile: 2.4 s CPU /
        # 0.70 s stage wall at sf0.1). The count must be EXPLICIT
        # (REPARTITION_BY_NUM): a bare .repartition("sh") is still
        # AQE-coalescible and does nothing. This replaces the groupBy's
        # ensure-requirements exchange 1:1; bytes are unchanged (a
        # collect_list partial aggregate concatenates — it never reduces
        # shuffle payload).
        ex.repartition(df.sparkSession.sparkContext.defaultParallelism, "sh")
        .groupBy("sh")
        .agg(F.array_sort(F.collect_list(F.struct("id", "n_sh"))).alias("items"))
        .where((F.size("items") > 1) & (F.size("items") <= max_df))
    )
    pair_arrays = ordered_pair_array(
        F.col("items"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            x["n_sh"].alias("n_a"),
            y["n_sh"].alias("n_b"),
        ),
    )
    return (
        postings.select(F.explode_outer(pair_arrays).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("p.n_a").alias("n_a"),
            F.first("p.n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_frame(sets: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """(id, n_sh, sh) rows for each doc's PREFIX — its rarest
    ``|d| - ceil(t*|d|) + 1`` shingles under the global (document
    frequency, shingle) total order. Epsilon-relaxed so float rounding
    can only lengthen a prefix (over-generate candidates), never drop a
    true pair."""
    ex = sets.select(
        F.col(id_col).alias("id"),
        F.size("shingle_set").alias("n_sh"),
        F.explode_outer("shingle_set").alias("sh"),
    )
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    alpha = F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    prefix_len = F.col("n_sh") - alpha + F.lit(1)
    rank = F.row_number().over(
        Window.partitionBy("id").orderBy(F.col("__df").asc(), F.col("sh").asc())
    )
    return (
        ex.join(dfreq, "sh")
        .withColumn("__rk", rank)
        .filter(F.col("__rk") <= prefix_len)
        .select("id", "n_sh", "sh")
    )


def _verify_pairs(
    sets: DataFrame, cands: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of candidate (id_a, id_b) pairs against the
    full shingle sets — the shared final stage of every lossless
    candidate generator (work is O(|candidates|), never pair-quadratic)."""
    set_a = sets.select(F.col(id_col).alias("id_a"), F.col("shingle_set").alias("__sa"))
    set_b = sets.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("__sb"))
    n_common = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    return (
        cands.join(set_a, "id_a")
        .join(set_b, "id_b")
        .withColumn(
            "jaccard", n_common / (F.size("__sa") + F.size("__sb") - n_common)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _length_ratio_ok(threshold: float) -> Column:
    """Jaccard >= t is impossible unless t*max(|A|,|B|) <= min(|A|,|B|);
    epsilon-relaxed so a float boundary only keeps an extra candidate."""
    return (
        F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-9)
        <= F.least("n_a", "n_b")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Exact Jaccard pairs via AllPairs/PPJoin prefix filtering.

    The candidate generator indexes only each document's PREFIX — its
    rarest ``|d| - ceil(t*|d|) + 1`` shingles under a global
    (document-frequency, shingle) total order — instead of every shingle
    (``ngram_jaccard_pairs``) or hash bands (``minhash_lsh_pairs``).
    Completeness is a theorem (Bayardo et al., WWW'07 "Scaling Up All
    Pairs Similarity Search"; Xiao et al., WWW'08 PPJoin): two sets with
    Jaccard >= t share at least ceil(t*max(|A|,|B|)) elements, so their
    prefixes under ANY shared total order must intersect.  Unlike
    MinHash-LSH the filter is LOSSLESS — output is exactly the
    brute-force pair set — while indexing ~(1-t) of the postings, with
    the rarest-first order making surviving posting lists short (a
    boilerplate shingle shared by everyone sorts LAST and never enters
    any prefix).

    Plan: one aggregation for document frequencies (map-side combined),
    one window per doc for the prefix rank (shuffles (id, shingle) pairs
    once), prefix-only postings, a length-ratio filter
    (t*max(|A|,|B|) <= min — Jaccard >= t is impossible otherwise) before
    dedup, then the same candidates-only exact verify as the LSH path.
    Thresholds are epsilon-relaxed (alpha = ceil(t*n - 1e-9)) so float
    rounding can only LENGTHEN a prefix / keep an extra candidate —
    never drop a true pair; the exact verify discards the surplus.

    ``max_bucket`` bounds a degenerate prefix posting (possible only when
    > max_bucket documents share a shingle that is among the rarest for
    ALL of them) — and it FAILS LOUDLY instead of silently dropping the
    posting: a silent drop would lose true pairs and diverge from the
    brute-force oracle at exactly the scale the test SFs cannot reach
    (the repo's cap-mirroring convention). On a trip, raise the cap or
    pre-dedup the boilerplate.
    """
    sets = shingle_sets(df, id_col, text_col, n).localCheckpoint()
    prefix = _prefix_frame(sets, id_col, threshold)
    postings = (
        prefix.groupBy("sh")
        .agg(F.array_sort(F.collect_list(F.struct("id", "n_sh"))).alias("items"))
        .where(F.size("items") > 1)
        # the guard must be LOAD-BEARING or Catalyst prunes it as an
        # unused projection: assert_true returns NULL when it passes, so
        # this filter keeps every row while forcing the check to run
        .where(
            F.assert_true(
                F.size("items") <= max_bucket,
                F.concat(
                    F.lit("prefix posting over max_bucket for shingle "),
                    F.col("sh"),
                    F.lit(" — raise max_bucket or pre-dedup boilerplate"),
                ),
            ).isNull()
        )
    )
    pair_arrays = ordered_pair_array(
        F.col("items"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            x["n_sh"].alias("n_a"),
            y["n_sh"].alias("n_b"),
        ),
    )
    cands = (
        postings.select(F.explode_outer(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .filter(_length_ratio_ok(threshold))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_pairs(sets, cands, id_col, threshold)


def incremental_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new: Column,
    *,
    n: int = 3,
    threshold: float = 0.3,
    max_posting: int = 10_000,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new batch: (new, new) and (new, old)
    pairs at Jaccard >= t, never (old, old) — the daily-increment shape
    of corpus dedup, where re-running the full pairwise pass over an
    already-deduped corpus to admit 1% new documents is the classic
    scale mistake.

    Same lossless prefix filter as :func:`prefix_filter_jaccard_pairs`,
    but candidates come from probing the NEW docs' prefixes against the
    full corpus's prefix index (an equi-join on the shingle, pruned to
    pairs with a new side by construction) instead of self-pairing every
    posting list: candidate cost is O(|new| x posting length), so a 1%
    batch costs ~1% of the full run. Completeness still holds — both
    sides of any qualifying pair carry their full prefix, and the pair
    shares a prefix shingle regardless of which side is new.  Document
    frequencies are recomputed corpus-wide here; a production increment
    maintains them as a running aggregate (same update shape as
    incremental_agg_maintenance).

    ``max_posting`` bounds the CORPUS-side prefix posting per shingle,
    failing LOUDLY like ``prefix_filter_jaccard_pairs``'s cap — a silent
    drop would lose cross-batch duplicates and diverge from the oracle
    at scale.
    """
    # the new-flag branch is a narrow (id, bool) projection — no spread()
    # fan-out, nothing wide crosses this join
    sets = (
        shingle_sets(df, id_col, text_col, n)
        .join(df.select(F.col(id_col), is_new.alias("__new")), id_col)
        .localCheckpoint()
    )
    prefix = _prefix_frame(sets, id_col, threshold).join(
        sets.select(F.col(id_col).alias("id"), "__new"), "id"
    )
    # corpus-side index: the cap guard trips loudly BEFORE the probe join
    posting_size = F.count(F.lit(1)).over(Window.partitionBy("sh"))
    index = (
        # load-bearing guard (see prefix_filter_jaccard_pairs): the filter
        # keeps every row (assert_true yields NULL on pass) but cannot be
        # pruned away like an unused projection would be; the window count
        # must materialize as a column first — window expressions are not
        # legal inside WHERE
        prefix.withColumn("__ps", posting_size)
        .where(
            F.assert_true(
                F.col("__ps") <= max_posting,
                F.concat(
                    F.lit("prefix posting over max_posting for shingle "),
                    F.col("sh"),
                    F.lit(" — raise max_posting or pre-dedup boilerplate"),
                ),
            ).isNull()
        )
        .select(
            F.col("id").alias("id_r"),
            F.col("n_sh").alias("n_r"),
            F.col("__new").alias("new_r"),
            "sh",
        )
    )
    probe = prefix.filter(F.col("__new")).select(
        F.col("id").alias("id_p"), F.col("n_sh").alias("n_p"), "sh"
    )
    cands = (
        probe.join(index, "sh")
        .filter(
            # ordered pair; when BOTH sides are new each pair appears from
            # both probes — keep the (smaller, larger) orientation only
            F.when(F.col("new_r"), F.col("id_p") < F.col("id_r")).otherwise(
                F.col("id_p") != F.col("id_r")
            )
        )
        .select(
            F.col("id_p").alias("id_p"),
            F.col("id_r").alias("id_r"),
            F.col("n_p").alias("n_a"),
            F.col("n_r").alias("n_b"),
        )
        .filter(_length_ratio_ok(threshold))
        .select(
            F.least("id_p", "id_r").alias("id_a"),
            F.greatest("id_p", "id_r").alias("id_b"),
        )
        .distinct()
    )
    return _verify_pairs(sets.drop("__new"), cands, id_col, threshold)


def _exploded_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, hex_digits: int
) -> DataFrame:
    """(id, hash) stream: one md5-derived hash per distinct shingle.

    Signature computations aggregate this stream with plain min/sum instead
    of per-row array HOFs: higher-order functions (transform/aggregate) are
    CodegenFallback — interpreted, and re-evaluated per derived column — so
    16-60 of them per row is orders slower than exploding once and keeping
    every expression in whole-stage codegen. The follow-up groupBy(id) is
    fully combined map-side (a doc's shingles sit in one input row), so the
    shuffle carries exactly one row per document.
    """
    sets = shingle_sets(df, id_col, text_col, n)
    return sets.select(
        F.col(id_col), F.explode_outer("shingle_set").alias("__sh")
    ).select(F.col(id_col), token_hash(F.col("__sh"), hex_digits).alias("__h"))


def _signatures_from_sets(sets: DataFrame, id_col: str) -> DataFrame:
    """MinHash signatures from a precomputed (id, shingle_set) frame —
    explode to the hash stream (kept in codegen; see
    _exploded_shingle_hashes) and min-aggregate per permutation."""
    ex = sets.select(
        F.col(id_col), F.explode_outer("shingle_set").alias("__sh")
    ).select(F.col(id_col), token_hash(F.col("__sh"), MINHASH_HEX_DIGITS).alias("__h"))
    h = F.col("__h")
    return ex.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ]
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """16 MinHash values per doc: min over the shingle set of (a*h(s)+b) mod P."""
    return _signatures_from_sets(shingle_sets(df, id_col, text_col, n), id_col)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    bands: int = 8,
    threshold: float = 0.2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded-MinHash candidate pairs, verified by exact shingle Jaccard.

    16 permutations / 8 bands x 2 rows: collision probability at jaccard j
    is 1-(1-j^2)^8 (~0.28 at j=0.2, ~0.97 at j=0.6) — candidates below the
    threshold are discarded by the verify step, which only runs on the
    (tiny) candidate set. ``max_bucket`` guards against a degenerate band
    bucket (e.g. boilerplate) exploding the pair join.
    """
    # the shingle sets feed THREE consumers (signatures + both verify
    # sides); localCheckpoint materializes the text->shingle parse once
    # instead of re-running it per plan branch — the same lineage-cut
    # pattern walk.py uses for frontiers. At scale this is an explicit
    # storage-for-compute trade: the materialized sets are ~text-sized ×
    # n and spill to executor disk, vs re-parsing the corpus three times.
    # The r13 A/B read eager/lazy/none within 0.04 s of each other; eager
    # keeps the materialization deterministic instead of racing the first
    # two consumer stages.
    sets = shingle_sets(df, id_col, text_col, n).localCheckpoint(eager=True)
    cands = minhash_candidate_pairs(
        sets, id_col, bands=bands, max_bucket=max_bucket
    )
    # Exact-Jaccard verify on the CANDIDATE PAIRS ONLY — work is
    # O(|candidates|), never the corpus-quadratic pair space; that's the
    # whole point of the LSH pre-filter.
    return _verify_pairs(sets, cands, id_col, threshold)


def minhash_candidate_pairs(
    sets: DataFrame,
    id_col: str,
    *,
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """UNVERIFIED banded-MinHash candidate pairs from pre-built shingle
    sets — factored out of :func:`minhash_lsh_pairs` so the dedup
    quality contract can measure the pre-filter's recall/precision
    against lossless ground truth."""
    rows_per_band = len(MINHASH_PERMS) // bands
    # one row per doc, 16 ints wide — materialized once so the band
    # self-join below reads it as a leaf: without the checkpoint the
    # signature aggregation (an exchange stacked under the bucket
    # exchange) is re-run per join side (the r14 AQE reuse finding
    # documented in ngram_jaccard_pairs)
    sig = _signatures_from_sets(sets, id_col).localCheckpoint(eager=True)
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            *[F.col(f"mh{bi * rows_per_band + r}").alias(f"r{r}") for r in range(rows_per_band)],
        )
        for bi in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col), F.explode_outer(F.array(*band_cols)).alias("bucket")
    )
    # Sort-merge SELF-JOIN pair stream (same r14 rewrite as
    # ngram_jaccard_pairs): the pre-r14 collect_list posting arrays were
    # pure ParallelGC churn at scale. One explicit exchange on the bucket
    # key (the signature aggregation is below it, computed once — both
    # join sides read a ReusedExchange); the ``max_bucket`` guard drops
    # pathological buckets (boilerplate) via a window count applied to ONE
    # side — a pair exists iff its bucket survives on the filtered side.
    # explicit count (REPARTITION_BY_NUM, the spread() convention): a bare
    # .repartition("bucket") is AQE-coalescible, and at byte-coalescible
    # volumes the whole window-count + self-join pair stream above this
    # exchange collapsed onto ONE task (r14 stage profile)
    bk = buckets.repartition(
        sets.sparkSession.sparkContext.defaultParallelism, "bucket"
    )
    build = (
        bk.withColumn(
            "__bs", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        )
        .where((F.col("__bs") > 1) & (F.col("__bs") <= max_bucket))
        .select("bucket", F.col(id_col).alias("id_a"))
    )
    probe = bk.select("bucket", F.col(id_col).alias("id_b"))
    # merge hint: same rationale as ngram_jaccard_pairs — both sides are
    # corpus-sized, and SMJ keeps the shared bucket exchange reusable
    return (
        build.hint("merge").join(probe, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        # Pin the pair exchange at defaultParallelism (the spread()
        # convention, REPARTITION_BY_NUM — see ngram_jaccard_pairs /
        # lsh_banded_topk for why origin and placement matter): the
        # distinct's final aggregate and every verify join above it
        # otherwise run on ONE task at byte-coalescible volumes (r14
        # stage profile: two 1-task stages, ~0.4 s serial of a 1.9 s
        # query). Payload is unchanged — the map-side partial distinct it
        # displaces deduplicated only same-partition band collisions,
        # and downstream joins keyed on id_a alone still get their own
        # ensure-requirements (skew-splittable) exchange at scale.
        .repartition(
            sets.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
        )
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """60-bit SimHash over distinct n-word shingles (md5-derived bits).

    bit b of the signature = majority vote of bit b across shingle hashes.
    Shingles (not tokens) are the unit: with a small shared vocabulary,
    token sets converge across documents and token-SimHash degenerates.
    Computed as 60 codegen'd conditional SUMs over the exploded hash
    stream (see _exploded_shingle_hashes), map-side combined to one
    shuffled row per document.
    """
    ex = _exploded_shingle_hashes(df, id_col, text_col, n, 15)  # 60 bits
    h = F.col("__h")
    votes = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = (
            F.when(F.col(f"__v{b}") > 0, F.lit(2**b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 12
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, found via 4
    banded 15-bit prefixes (a pair within distance 3 shares >= 1 band;
    larger distances are still usually caught — verify step is exact)."""
    sig = simhash(df, id_col, text_col)
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("key"),
        )
        for i in range(4)
    ]
    buckets = sig.select(F.col(id_col), F.col("simhash"), F.explode_outer(F.array(*bands)).alias("b"))
    # posting list per band bucket, each entry carrying its signature;
    # ordered pairs are emitted locally (struct sort orders by id first)
    postings = (
        buckets.groupBy("b")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash")))
            ).alias("items")
        )
        .where(F.size("items") > 1)
    )
    pair_arrays = ordered_pair_array(
        F.col("items"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
            .cast("long")
            .alias("hamming"),
        ),
    )
    return (
        postings.select(F.explode_outer(pair_arrays).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"), F.col("p.hamming").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.45,
    dim: int | None = 64,
) -> DataFrame:
    """Embedding near-dup pairs: all pairs with dot-product similarity
    above threshold (embeddings are pre-normalized, so dot == cosine).

    Brute-force O(n^2) — correct baseline and the oracle-checkable path;
    at scale use similarity.lsh_bucket_candidates to prune the pair space.
    """
    from oracle_schema_copy_spark.operators.similarity import _exact_dot

    a = spread(emb).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _exact_dot("__va", "__vb", dim).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def near_dup_components(pairs: DataFrame, *, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, component)
    where component = min doc id reachable through the pair graph. This
    is the clustering step of a dedup pipeline — keep component == id as
    the canonical representative, drop the rest.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14). Per round: large-star
    hangs every neighbor LARGER than u off u's minimum
    (m = min(Γ(u) ∪ {u})); small-star re-points the smaller neighbors
    (and u itself) at m. Both are one min-aggregation + one equi-join
    over the edge list — no vectors, no text, just id pairs — and the
    edge set monotonically collapses toward per-component stars. Rounds
    grow O(log n) regardless of shape, where min-label propagation needs
    O(diameter) (a 1000-link chain = 1000 shuffles).

    Convergence = (count, xxhash64 checksum) of the edge list stable
    across a round — two scalars observed on the round's checkpoint job,
    bounded control flow, never data. ``localCheckpoint`` truncates the
    iterative lineage so round N doesn't replan rounds 0..N-1.
    Non-convergence raises: returning unconverged labels would silently
    split one duplicate cluster into several "canonical" survivors.
    """

    def _checkpoint(edges: DataFrame):
        """``edges`` materialized, with its (count, checksum) observed on
        the same job — no extra scan. bit_xor, not sum: ANSI mode (Spark 4
        default) throws on long-sum overflow, and xor is order-independent
        with no overflow at all."""
        obs = Observation()
        edges = edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).localCheckpoint()
        return edges, (obs.get["n"], obs.get["h"])

    E, prev = _checkpoint(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    converged = False
    for _ in range(max_iter):
        # large-star: emit (v, m) for every neighbor v > u
        und = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        E = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # small-star on (larger -> smaller) edges: re-point smaller
        # neighbors and u itself at the minimum
        D = E.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = D.groupBy("u").agg(F.min("v").alias("mn"))
        repointed = (
            D.join(mins, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        selfedge = mins.select(F.col("u"), F.col("mn").alias("v"))
        E, cur = _checkpoint(
            repointed.union(selfedge).filter(F.col("u") != F.col("v")).distinct()
        )
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"near_dup_components did not converge within {max_iter} rounds"
        )
    # At convergence E is a star per component: (member, root), and every
    # root is the target of its members' edges — its own component.
    members = E.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    roots = E.select(F.col("v").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("component")
    )
    return members.union(roots)


def embedding_lsh_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.45,
    bands: int = 8,
    planes_per_band: int = 2,
    max_bucket: int = 1000,
    dim: int | None = 64,
    plane_stride: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via banded hyperplane LSH + exact re-score
    — the pruned scale path for embedding_cosine_pairs.

    Candidates come from similarity.lsh_banded_candidates (one shuffle on
    bucket keys, no vector shuffle); the exact dot product then runs ONLY
    on candidate pairs via two id-joins back to the vectors. Work is
    O(candidates), not O(n^2); recall is the banded-LSH collision
    probability (tune bands/planes_per_band per corpus scale).
    """
    from oracle_schema_copy_spark.operators.similarity import (
        _exact_dot,
        lsh_banded_candidates,
    )

    cands = lsh_banded_candidates(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        bands=bands,
        planes_per_band=planes_per_band,
        max_bucket=max_bucket,
        plane_stride=plane_stride,
    )
    vec_a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vec_b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cands.join(vec_a, "id_a")
        .join(vec_b, "id_b")
        .withColumn("cosine", _exact_dot("__va", "__vb", dim))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_cluster_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    threshold: float = 0.45,
    dim: int | None = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): route
    every vector to its nearest centroid, compare pairs ONLY within a
    cluster, and keep the min-id survivor of each near-dup pair.

    This is the pruning that makes embedding dedup feasible at corpus
    scale: the O(n^2) pair space of embedding_cosine_pairs becomes
    sum(c_k^2) over cluster sizes — with k centroids grown with the
    corpus, clusters stay small and the within-cluster pair join is an
    equi-join on the assigned cell (one shuffle on the cluster id;
    Catalyst plans it like any key join, AQE splits a skewed mega-cluster).
    Per SemDeDup the pruning is intra-cluster only: a near-dup pair that
    straddles a cluster boundary is deliberately not seen — that recall
    trade is the published algorithm, not an implementation shortcut.

    Returns one row per vector: (id, cluster, kept) where kept=false iff
    a smaller-id same-cluster neighbor scores >= threshold (pairwise, not
    transitive closure — also per the paper, which drops all but one
    member of each pairwise-similar set within a cluster). Deterministic:
    assignment ties break on the smallest centroid id, scoring is the
    sequential-double dot, so a SQL twin matches exactly.
    """
    from oracle_schema_copy_spark.operators.similarity import (
        _exact_dot,
        assign_nearest_centroid,
    )

    assigned = assign_nearest_centroid(
        emb, centroids, id_col=id_col, vec_col=vec_col,
        group_col=group_col, dim=dim,
    ).select(id_col, "assigned")
    v = spread(emb.select(id_col, vec_col)).join(assigned, id_col)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("assigned"), F.col(vec_col).alias("__va")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("assigned"), F.col(vec_col).alias("__vb")
    )
    dropped = (
        a.join(b, "assigned")
        .where(F.col("id_a") < F.col("id_b"))
        .where(_exact_dot("__va", "__vb", dim) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        v.join(dropped.withColumn("__drop", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.col("assigned").alias("cluster"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def edit1_pairs(
    df: DataFrame,
    *,
    id_col: str,
    name_col: str,
    keep_dist0: bool = False,
) -> DataFrame:
    """Edit-distance-1 similarity self-join via FastSS deletion
    neighborhoods (Bocek et al. 2007) — the entity-resolution /
    typo-matching shape none of the token- or embedding-based dedup
    families cover. Every string emits its deletion neighborhood (the
    string itself + the string with position i removed, for every i);
    two strings within edit distance 1 necessarily share a neighborhood
    member (substitution: delete the differing position from both;
    indel: the shorter string IS a deletion of the longer), so the
    signature equi-join is a LOSSLESS candidate filter — pinned against
    brute force by pytest. Candidates are verified with the exact
    ``levenshtein`` built-in (identical semantics on both engines), so
    false candidates drop out.

    Output: (id_a, id_b, dist) with id_a < id_b, dist <= 1 (0 only when
    ``keep_dist0`` — exact duplicates are the exact-dedup family's job).

    Scale shape: signatures, the candidate join, the dedup, and the
    exact verification all run over DISTINCT names only — exact
    duplicates collapse before signature generation and the verified
    name pairs expand back to id pairs by membership join at the end
    (VERDICT r10 #4). Without the collapse, verbatim-duplicated strings
    (boilerplate titles; the sf10 fixture's per-replica supplier names)
    square the candidate set: every dist-1 name pair with multiplicities
    (m, n) appeared as m*n candidate ROWS inside the join + distinct,
    measured 9.5 GB of spill at the sf10 fixture. Collapsed, the
    signature stage scales with |distinct names| and the m*n expansion
    happens only in the final membership join, which emits exactly the
    output rows. Bucket sizes stay alphabet-bounded (a deletion
    signature matches at most |alphabet| substitution variants), so no
    hot buckets — unlike prefix/segment blocking, which degenerates on
    shared-prefix corpora like 'Supplier#0000...'. Two distinct strings
    sharing a signature can still be at edit distance 2 (transposition:
    'ab'/'ba' share both 'a' and 'b'), so verification stays mandatory.
    """
    base = spread(df).select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name")
    )
    names = base.select("__name").distinct()
    # empty-string guard: sequence(1, 0) DESCENDS in Spark (the DSIR
    # lesson); an empty name's deletion neighborhood is just itself
    sigs = (
        "explode(array_union("
        " array(__name),"
        " CASE WHEN length(__name) >= 1 THEN"
        " transform(sequence(1, length(__name)),"
        "  i -> concat(substr(__name, 1, i - 1),"
        "              substr(__name, i + 1)))"
        " ELSE array() END"
        ")) AS __sig"
    )
    ex = names.selectExpr("__name", sigs)
    a = ex.select(F.col("__name").alias("__na"), "__sig")
    b = ex.select(F.col("__name").alias("__nb"), "__sig")
    rep_pairs = (
        a.join(b, "__sig")
        # canonical order by NAME (names are distinct here; ids don't
        # exist yet at this stage)
        .where(F.col("__na") < F.col("__nb"))
        .select("__na", "__nb")
        .distinct()
        .select(
            "__na", "__nb", F.levenshtein("__na", "__nb").cast("long").alias("dist")
        )
        # distinct names differ, so dist >= 1; candidates can be dist 2
        .where(F.col("dist") == 1)
    )
    pairs = (
        rep_pairs.join(
            base.select(F.col("__id").alias("__ia"), F.col("__name").alias("__na")),
            "__na",
        )
        # both membership joins broadcast the small side, so without a
        # redistribution the whole m*n pair expansion runs in the base
        # scan's (often single) partition — wall == cpu. Hash-spreading
        # the (name-pair, ia) rows parallelizes the second, multiplying
        # join across the cluster; 135M output rows at the sf10 fixture.
        .repartition("__na", "__nb", "__ia")
        .join(
            base.select(F.col("__id").alias("__ib"), F.col("__name").alias("__nb")),
            "__nb",
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "dist",
        )
    )
    if keep_dist0:
        within = (
            base.join(
                base.select(
                    F.col("__id").alias("__ib"), F.col("__name").alias("__nb")
                ),
                F.col("__name") == F.col("__nb"),
            )
            .where(F.col("__id") < F.col("__ib"))
            .select(
                F.col("__id").alias("id_a"),
                F.col("__ib").alias("id_b"),
                F.lit(0).cast("long").alias("dist"),
            )
        )
        pairs = pairs.unionByName(within)
    return pairs
