"""Similarity search over an embedding column (array<float>).

Three strategies:
- brute_force_topk      : exact top-k, one corpus scan per query batch
                          (queries broadcast; baseline + oracle path)
- label_partitioned_topk: IVF-style coarse quantization — search only the
                          query's cell/bucket (here the ``label`` column
                          stands in for a kmeans cell id); at 100 TB this
                          is partition pruning on the coarse id
- lsh_bucket            : random-hyperplane (sign) LSH — hyperplanes are
                          fixed literals so the bucketing is deterministic
                          and SQL-mirrorable; candidates share a bucket

Exact scores run JVM-side in sequential double precision (see
functions/vectors.py) — bit-identical to the DuckDB oracles. The two
micro-unit argmax steps, quantizer assignment
(``assign_nearest_centroid_vectorized``) and PQ encoding (``pq_encode``),
run one numpy matmul per Arrow batch instead (``_micro_argmax``): they
keep only the HALF_UP-rounded integer micro-units, so the matmul's
last-ulp difference from the sequential dot matters only at a rounding
boundary. That parity is empirical: both names MATCH their oracles at
sf0.01 and sf0.1, and ``pq_codes_vectorized`` matched at sf10
(1,600,000 rows, CORRECTNESS_sf10.json).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_schema_copy_spark.functions.vectors import (
    dot,
    dot_unrolled,
    dot_vectorized,
    plane_dot_sql,
)
from oracle_schema_copy_spark.operators import ordered_pair_array, spread


def _exact_dot(a_col: str, b_col: str, dim: int | None):
    """Exact sequential-double dot for the scoring hot paths: codegen'd
    unrolled sum when the dimension is statically known (the common case —
    embedding width is a property of the model), interpreted HOF ``dot()``
    for ragged/unknown widths. Both are bit-identical to the SQL twin."""
    if dim is not None:
        return dot_unrolled(a_col, b_col, dim)
    return dot(F.col(a_col), F.col(b_col))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int | None = 64,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    The query set is broadcast; the corpus is scanned once; per-query
    ranking is a window over (query, score) — the shuffle carries only
    (query_id, candidate_id, score) triples, never the vectors.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    scored = spread(corpus).crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _exact_dot(vec_col, "__qvec", dim).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("score"), F.col("rank").cast("long").alias("rank"))
    )


def label_partitioned_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 5,
    dim: int | None = 64,
) -> DataFrame:
    """IVF-style search: candidates restricted to the query's coarse cell.

    The equi-join on the cell id replaces the cross join — at scale, with
    the corpus partitioned/bucketed by cell, this prunes both I/O and
    compute to the probed cells (nprobe=1 here)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col(cell_col).alias("__qcell"),
    )
    scored = spread(corpus).join(
        F.broadcast(q), (F.col(cell_col) == F.col("__qcell")) & (F.col(id_col) != F.col("query_id"))
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _exact_dot(vec_col, "__qvec", dim).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))
    )


def ivf_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    nprobe: int = 2,
    dim: int | None = 64,
) -> DataFrame:
    """IVF query routing: (query_id, __qv, __cell) — each query's
    ``nprobe`` highest-dot centroid cells (ties -> smallest cell id).
    The centroid table re-assembles to |cells| arrays and BROADCASTS
    against the (small) query set; the rank window runs over
    |queries| x |cells| rows, driver-free. Factored out of
    :func:`ivf_topk` so IVF-PQ composes the same routing."""
    cvecs = (
        centroids.groupBy(cell_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda s: s["centroid"],
            ).alias("__cvec")
        )
        .select(F.col(cell_col).alias("__cell"), "__cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    qscore = q.join(F.broadcast(cvecs)).select(
        "query_id", "__qv", "__cell", _exact_dot("__qv", "__cvec", dim).alias("__cd")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("__cd"), F.asc("__cell"))
    return (
        qscore.withColumn("__pr", F.row_number().over(wprobe))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", "__cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    nprobe: int = 2,
    k: int = 5,
    dim: int | None = 64,
) -> DataFrame:
    """True IVF search: route each query to its ``nprobe`` highest-dot
    centroids, then scan exactly those cells — the recall/cost dial
    ``label_partitioned_topk`` (nprobe=1) lacks. ``centroids`` is the
    (cell, pos, centroid) shape ``group_centroids`` emits.

    Plan shape: the centroid table re-assembles to |cells| arrays and
    BROADCASTS twice — once against the (small) query set to pick probe
    cells (rank window over |queries| × |cells| rows — driver-free), once
    never: the corpus joins the probe list (|queries| × nprobe rows,
    broadcast) on the cell id. At scale, with the corpus written
    partitioned/bucketed by cell, that equi-join prunes I/O to the probed
    cells; scoring touches only their rows. All dots are the
    sequential-double ``dot()`` — bit-identical to the SQL twin."""
    probed = ivf_probe_cells(
        queries, centroids, id_col=id_col, vec_col=vec_col,
        cell_col=cell_col, nprobe=nprobe, dim=dim,
    )
    scored = spread(corpus).join(
        F.broadcast(probed),
        (F.col(cell_col) == F.col("__cell")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _exact_dot(vec_col, "__qv", dim).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))
    )


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 bits (seeded, library-free,
    reproducible verbatim in the SQL oracle as literal arrays)."""
    planes: list[list[float]] = []
    for p in range(n_planes):
        bits: list[float] = []
        counter = 0
        while len(bits) < dim:
            h = hashlib.md5(f"plane-{p}-{counter}".encode()).digest()
            for byte in h:
                for k in range(8):
                    if len(bits) >= dim:
                        break
                    bits.append(1.0 if (byte >> k) & 1 else -1.0)
            counter += 1
        planes.append(bits)
    return planes


def lsh_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Adds a ``bucket`` column: the sign pattern of the vector against
    ``n_planes`` fixed hyperplanes, packed into an integer. Vectors in the
    same bucket are ANN candidates; at scale, repartition/bucket the
    corpus by this column so candidate generation is shuffle-free."""
    planes = hyperplanes(n_planes, dim)
    df = spread(df)
    # one parsed SQL expression for the whole signature: per-plane Column
    # operators cost hundreds of py4j round-trips per query build
    # (plane_dot_sql docstring / CLAUDE.md generated-expression lesson)
    sides = " + ".join(
        f"(CASE WHEN {plane_dot_sql(vec_col, plane)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return df.withColumn("bucket", F.expr(f"CAST({sides} AS LONG)"))


def group_centroids(
    df: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Element-wise mean vector per group — the centroid step of k-means /
    IVF coarse-quantizer training, and the cluster summary every
    embedding-curation pipeline reports.

    Shape: posexplode to (group, pos, component) and mean per (group,
    pos) — the explode is map-local, the aggregation map-side combines to
    one row per (group, dimension), so the shuffle carries |groups| × dim
    doubles regardless of corpus size. Output rows (group, pos, centroid)
    keep the result driver/oracle-hashable; re-assemble with
    ``array_agg ... order by pos`` when an array form is needed.
    """
    ex = spread(df).select(
        F.col(group_col), F.posexplode(vec_col).alias("pos", "__c")
    )
    return (
        ex.groupBy(group_col, "pos")
        .agg(
            F.round(F.avg(F.col("__c").cast("double")), round_digits).alias(
                "centroid"
            )
        )
        .select(group_col, F.col("pos").cast("long").alias("pos"), "centroid")
    )


def assign_nearest_centroid(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int | None = 64,
) -> DataFrame:
    """Assign each vector to its highest-dot-product centroid — the
    quantizer-assignment step that pairs with ``group_centroids`` (one
    Lloyd iteration = centroids + this; IVF cell routing = this alone).

    ``centroids`` is the (group, pos, centroid) shape ``group_centroids``
    emits; it is re-assembled into per-group arrays (tiny: groups × dim)
    and BROADCAST against a single corpus scan. Each vector scores k dot
    products locally and the argmax collapses the k scored rows to ONE
    row per vector before any shuffle. The dot is the sequential-double
    ``dot()``, bit-equal to the SQL twin; the argmax is min-of-struct
    over (-dot, group) — exact-double ordering, ties -> smallest group,
    ``dot`` rounded to 6 decimals.

    Struct aggregation is NOT HashAggregate-compatible, so Spark sorts
    the corpus x k expansion (SortAggregate); fine when k is a fixed
    design parameter (k-means k=8), pathological when k grows with the
    corpus (the sf10 fixture: 2,000 label centroids -> 400M-row sort).
    There, use :func:`assign_nearest_centroid_vectorized`, which never
    materializes the expansion.
    """
    cvecs = centroids.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("__cvec")
    ).select(F.col(group_col).alias("__grp"), "__cvec")
    # restrict to (id, vec) first: the corpus may itself carry group_col
    scored = spread(df.select(id_col, vec_col)).join(F.broadcast(cvecs)).select(
        F.col(id_col),
        F.col("__grp").alias("assigned"),
        _exact_dot(vec_col, "__cvec", dim).alias("__dot"),
    )
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("__dot")).alias("nd"),
                F.col("assigned").alias("assigned"),
                F.col("__dot").alias("dot"),
            )
        ).alias("__best")
    )
    return best.select(
        id_col,
        F.col("__best.assigned").alias("assigned"),
        F.round("__best.dot", 6).alias("dot"),
    )


def _micro_argmax(scores):
    """Per row of an (n, k) score matrix: the column of the highest score
    in integer micro-units, and those micro-units. Rounding is HALF_UP
    (copysign/floor; np.round is half-even) like the JVM ``F.round`` and
    DuckDB's ``round``; ties go to the first column. Parity with the
    sequential-double SQL twins is empirical at two points: numpy's
    pairwise matmul differs from the sequential dot in the last ulp
    (|diff| < 1e-12 for unit-norm 64-dim vectors), and the float add in
    |x| + 0.5 can carry for a value one ulp below a .5 boundary."""
    import numpy as np

    p = scores * 1e6
    dm = np.copysign(np.floor(np.abs(p) + 0.5), p).astype(np.int64)
    best = np.argmax(dm, axis=1)
    return best, dm[np.arange(len(dm)), best]


def _ids_and_vectors(batch, dim: int):
    """(int64 ids, (n, dim) float64 matrix) of an Arrow batch whose
    columns are (id, fixed-width vector); ``flatten()`` honors array
    offsets, so sliced batches stay correct."""
    import numpy as np

    ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    X = (
        batch.column(1)
        .flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(batch.num_rows, dim)
    )
    return ids, X


def assign_nearest_centroid_vectorized(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Quantizer assignment at integer micro-unit resolution — the scale
    path beside :func:`assign_nearest_centroid`'s exact-double argmax.

    The centroid frame is bounded (groups x dim) and is collected ONCE
    into a (k, dim) float64 matrix closed over by the Arrow kernel. Each
    Arrow batch of corpus vectors becomes one (batch x dim) matrix and
    ONE numpy matmul scores all k centroids; the argmax happens inside
    the kernel, so the stage emits one row per vector with ZERO shuffle,
    no corpus x k row expansion, no join, no aggregate.

    Scores round to integer micro-units (``_micro_argmax``), ties ->
    smallest group id (labels sorted ascending), ``dot = dm / 1e6``."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    rows = centroids.select(group_col, "pos", "centroid").collect()
    labels = sorted({r[0] for r in rows})
    lab_idx = {g: i for i, g in enumerate(labels)}
    C = np.zeros((len(labels), dim), dtype=np.float64)
    for g, pos, c in rows:
        C[lab_idx[g], int(pos)] = float(c)
    CT = np.ascontiguousarray(C.T)  # dim x k, one matmul per batch
    labs = np.asarray(labels, dtype=np.int64)

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("assigned", T.LongType()),
            T.StructField("dot", T.DoubleType()),
        ]
    )

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids, X = _ids_and_vectors(batch, dim)
            best, dm = _micro_argmax(X @ CT)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(labs[best], pa.int64()),
                    pa.array(dm / 1e6, pa.float64()),
                ],
                names=[id_col, "assigned", "dot"],
            )

    return df.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInArrow(run, out_schema)


def pq_codebooks(
    emb: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    dim: int = 64,
    n_codes: int = 256,
) -> DataFrame:
    """Product-quantization codebooks (Jegou et al. 2011) seeded from a
    coarse grouping column: the vector space is split into
    ``n_subspaces`` contiguous subspaces of ``dim / n_subspaces``
    dimensions, and codebook entry (subspace s, code g) is the subspace-s
    slice of group g's mean vector — the same deterministic
    centroids-as-codebook seeding the IVF queries use, so the whole
    codebook is a pure function of the corpus and SQL-mirrorable (one
    ``group_centroids`` pass, centroids rounded to 6 decimals BEFORE any
    use). Returns (subspace, code, cv) with cv assembled per subspace.

    ``n_codes`` caps the codebook at a FIXED size the way production PQ
    fixes ks=256 independent of corpus scale: the seeding group folds to
    ``group % n_codes`` before the centroid pass. Without the cap the
    encode argmax (corpus slices x codebook entries) grows as
    corpus x |groups| — measured 41x wall / 63 GB spill at the sf10
    fixture, whose label count grows with the corpus. The fold is
    injective whenever the corpus has <= n_codes distinct groups (all
    fixtures up to sf1), where it is a pure code renaming.

    Scale: the codebook is <= n_codes x n_subspaces rows — broadcast-
    sized by construction; encode cost is corpus x n_codes, linear in
    the corpus."""
    # the SQL twins pack (micro-dot, code) as dm * 512 + (511 - code); a
    # code >= 512 silently corrupts that ordering, so refuse to build a
    # codebook they cannot pack.
    if n_codes > 512:
        raise ValueError(
            f"pq_codebooks: n_codes={n_codes} exceeds 512, the packing "
            "modulus of the SQL twins' (micro-dot, code) argmax"
        )
    sub = dim // n_subspaces
    folded = emb.withColumn(group_col, F.pmod(F.col(group_col), F.lit(n_codes)))
    cents = group_centroids(folded, group_col=group_col, vec_col=vec_col)
    cb = cents.select(
        F.floor(F.col("pos") / sub).cast("long").alias("subspace"),
        F.col(group_col).alias("code"),
        (F.col("pos") % sub).cast("long").alias("spos"),
        "centroid",
    )
    return cb.groupBy("subspace", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("spos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("cv")
    )


def _subspace_slices(
    df: DataFrame, id_alias: str, *, id_col: str, vec_col: str,
    n_subspaces: int, sub: int,
) -> DataFrame:
    """(id, subspace, __sv): the vector cut into its n_subspaces
    contiguous slices — a single projection + posexplode, map-local."""
    return df.select(
        F.col(id_col).alias(id_alias),
        F.posexplode(
            F.array(*[F.slice(vec_col, s * sub + 1, sub) for s in range(n_subspaces)])
        ).alias("subspace", "__sv"),
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Encode each vector as ``n_subspaces`` codebook codes — per
    subspace, the code whose entry has the highest dot with the vector's
    slice in integer MICRO-UNITS (``_micro_argmax``: the same resolution
    the ADC lookup table scores at; micro-ties -> smallest code). Output
    (vec_id, subspace, code): the PQ-compressed corpus, n_subspaces small
    ints instead of dim floats — the ~32x memory cut that makes
    billion-vector ANN RAM-resident.

    The codebook frame is bounded (n_subspaces x n_codes entries) and
    collects once into one (sub x codes) float64 matrix per subspace,
    codes sorted ascending. Each Arrow batch slices its (batch x dim)
    matrix per subspace and ONE matmul scores every codebook entry; the
    argmax runs in-kernel. No corpus x codes row expansion, no join, no
    aggregate: the stage emits n_subspaces rows per vector with zero
    shuffle."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    sub = dim // n_subspaces
    per: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebooks.select("subspace", "code", "cv").collect():
        per.setdefault(int(r[0]), []).append((int(r[1]), list(r[2])))
    missing = [s for s in range(n_subspaces) if not per.get(s)]
    if missing:
        # fail loudly driver-side: an empty (sub, 0) matrix would make
        # np.argmax raise an opaque worker traceback inside the executor
        raise ValueError(
            f"pq_encode: codebook has no entries for subspace(s) {missing}; "
            f"expected all of 0..{n_subspaces - 1}"
        )
    mats, code_ids = [], []
    for s in range(n_subspaces):
        entries = sorted(per[s])
        code_ids.append(np.asarray([c for c, _ in entries], dtype=np.int64))
        mats.append(
            np.ascontiguousarray(
                np.asarray([cv for _, cv in entries], dtype=np.float64).T
            )
        )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("subspace", T.LongType()),
            T.StructField("code", T.LongType()),
        ]
    )

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids, X = _ids_and_vectors(batch, dim)
            codes = [
                code_ids[s][_micro_argmax(X[:, s * sub : (s + 1) * sub] @ m)[0]]
                for s, m in enumerate(mats)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(ids, n_subspaces), pa.int64()),
                    pa.array(np.repeat(np.arange(n_subspaces, dtype=np.int64), n), pa.int64()),
                    pa.array(np.concatenate(codes), pa.int64()),
                ],
                names=[id_col, "subspace", "code"],
            )

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInArrow(run, out_schema)


def _codebook_once(codebooks: DataFrame) -> DataFrame:
    """The codebook computed once per PQ composition: both
    :func:`pq_encode`'s collect and :func:`pq_lut`'s broadcast read this
    checkpoint, so the corpus-wide codebook aggregation runs once, not
    once per consumer. A checkpoint, not ``createDataFrame`` of the
    collected rows: that frame is a Python RDD, and each read of it
    starts Python workers (measured slower than the double aggregation
    at sf0.1)."""
    return codebooks.localCheckpoint(eager=True)


def pq_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ADC lookup table: (query_id, subspace, code, term) — each query's
    subspace slice dotted against every codebook entry ONCE, the term
    rounded to integer MICRO-UNITS (CAST(round(dot * 1e6) AS BIGINT)) so
    downstream per-vector sums are exact BIGINT arithmetic. Size is
    |queries| x |codebook| — broadcast-sized."""
    sub = dim // n_subspaces
    qsl = _subspace_slices(
        queries, "query_id", id_col=id_col, vec_col=vec_col,
        n_subspaces=n_subspaces, sub=sub,
    )
    return qsl.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "subspace",
        "code",
        F.round(_exact_dot("__sv", "cv", sub) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("term"),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    nprobe: int = 2,
    k: int = 5,
    n_subspaces: int = 8,
    dim: int = 64,
    queries_are_corpus_subset: bool = True,
) -> DataFrame:
    """IVF-PQ — the production billion-vector index layout (Jegou et al.
    2011; FAISS IndexIVFPQ): IVF routing prunes the SEARCH SET (each
    query scans only its nprobe cells), PQ codes shrink the SCORED
    REPRESENTATION (8 small ints per vector, ADC lookup-table scoring).
    Composes the two gated primitives unchanged: ivf_probe_cells picks
    cells, pq_encode/pq_lut score candidates in integer micro-units, so
    the composition matches its SQL twin exactly wherever each half does.

    Plan shape: centroids, probe list and LUT all broadcast; the corpus
    contributes one (cell-pruned id) join plus its code rows; the
    per-(query, vector) BIGINT sum combines map-side. At 100 TB with the
    corpus bucketed by cell the candidate join is partition pruning, and
    scoring reads codes only — vectors never leave storage."""
    probed = ivf_probe_cells(
        queries, centroids, id_col=id_col, vec_col=vec_col,
        cell_col=cell_col, nprobe=nprobe, dim=dim,
    ).select("query_id", "__cell")
    codebooks = _codebook_once(codebooks)
    codes = pq_encode(
        corpus, codebooks, id_col=id_col, vec_col=vec_col,
        n_subspaces=n_subspaces, dim=dim,
    )
    lut = pq_lut(
        queries, codebooks, id_col=id_col, vec_col=vec_col,
        n_subspaces=n_subspaces, dim=dim,
    )
    cand = corpus.select(id_col, cell_col).join(
        F.broadcast(probed), F.col(cell_col) == F.col("__cell")
    )
    if queries_are_corpus_subset:
        cand = cand.where(F.col(id_col) != F.col("query_id"))
    cand = cand.select("query_id", id_col)
    scored = cand.join(codes, id_col).join(
        F.broadcast(lut), ["query_id", "subspace", "code"]
    )
    agg = scored.groupBy("query_id", id_col).agg(
        F.sum("term").cast("long").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc(id_col)
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "score_micro",
            "rank",
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    dim: int = 64,
    queries_are_corpus_subset: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-encoded corpus: per
    query, dot each subspace slice against every codebook entry ONCE (the
    lookup table — |queries| x |codebook| rows), then every corpus
    vector's approximate score is the sum of its n_subspaces LUT hits.
    Scores are carried in integer MICRO-UNITS (each LUT term rounds to
    CAST(round(dot * 1e6) AS BIGINT)) so the n_subspaces-way sum is exact
    BIGINT arithmetic — order-independent, hence bit-identical between
    Spark and the SQL twin (the graph.pagerank trick; a double sum's
    addition order is engine-nondeterministic at equal-score boundaries).

    Scale: the LUT broadcasts (queries x codebook); the corpus side joins
    CODES, not vectors — n_subspaces ints per vector — and the per-(query,
    vector) sum combines map-side, so the shuffle carries one row per
    scored pair. Vectors themselves never move. Returns (query_id,
    neighbor_id, score_micro, rank), rank deterministic via the
    (score DESC, neighbor_id) tie-break."""
    codebooks = _codebook_once(codebooks)
    codes = pq_encode(
        emb, codebooks, id_col=id_col, vec_col=vec_col,
        n_subspaces=n_subspaces, dim=dim,
    )
    lut = pq_lut(
        queries, codebooks, id_col=id_col, vec_col=vec_col,
        n_subspaces=n_subspaces, dim=dim,
    )
    scored = codes.join(F.broadcast(lut), ["subspace", "code"])
    if queries_are_corpus_subset:
        scored = scored.where(F.col(id_col) != F.col("query_id"))
    agg = scored.groupBy("query_id", id_col).agg(
        F.sum("term").cast("long").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc(id_col)
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "score_micro",
            "rank",
        )
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    nprobe: int = 2,
    shortlist_k: int = 50,
    k: int = 5,
    n_subspaces: int = 8,
    dim: int = 64,
    queries_are_corpus_subset: bool = True,
) -> DataFrame:
    """Two-stage IVF-PQ retrieval — the production serving pattern (FAISS
    refine/RFlat): the composed IVF-PQ index produces a cheap ADC
    SHORTLIST of ``shortlist_k`` candidates per query from codes alone,
    then ONLY those (query, candidate) pairs are re-scored exactly
    against the raw vectors and the final top-``k`` taken. Recall is
    restored to the routing ceiling (quantization loss affects only
    which candidates make the shortlist, not their final order), while
    the exact-score stage touches shortlist_k x |queries| vectors
    instead of the whole corpus — at 100 TB the raw vectors are read
    through one semi-join-shaped probe, never scanned or shuffled in
    full. Deterministic end-to-end: integer micro-unit ADC shortlist,
    sequential-double exact re-score, neighbor-id tie-breaks."""
    short = ivfpq_topk(
        corpus, queries, centroids, codebooks,
        id_col=id_col, vec_col=vec_col, cell_col=cell_col,
        nprobe=nprobe, k=shortlist_k, n_subspaces=n_subspaces, dim=dim,
        queries_are_corpus_subset=queries_are_corpus_subset,
    ).select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nvec")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    rescored = (
        short.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _exact_dot("__nvec", "__qvec", dim).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _posting_pairs(postings: DataFrame, ids_col: str = "ids") -> DataFrame:
    """Ordered (id_a < id_b) pairs generated locally inside each posting
    row — no self-join, one pass over the posting lists."""
    pair_arrays = ordered_pair_array(F.col(ids_col))
    return postings.select(F.explode_outer(pair_arrays).alias("p")).select(
        F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
    )


def lsh_bucket_candidates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Candidate pairs sharing an LSH bucket (to be verified with exact
    scores by the caller): posting list per bucket, ordered pairs emitted
    locally — one shuffle on the bucket id, no self-join. ``max_bucket``
    drops degenerate buckets (a near-constant region of the embedding
    space) before any pair is generated."""
    b = lsh_bucket(df, vec_col=vec_col, n_planes=n_planes).select(id_col, "bucket")
    postings = (
        b.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    return _posting_pairs(postings)


# Plane-grid stride for the ADAPTIVE banded-LSH queries: plane (band b,
# slot j) is always hyperplanes(bands * LSH_R_MAX)[b * LSH_R_MAX + j],
# independent of the runtime planes_per_band — so the static SQL twin can
# embed the full grid once and gate slots on a runtime-computed r, while
# Spark only projects the r slots it needs. r_max=12 supports corpora up
# to (max_bucket/4) * 2^12 = ~1M vectors at max_bucket=1000; raise it (in
# BOTH engines) beyond that.
LSH_R_MAX = 12


def auto_planes_per_band(
    n_corpus: int, *, max_bucket: int = 1000, r_max: int = LSH_R_MAX
) -> int:
    """Integer-exact planes-per-band for a corpus of ``n_corpus`` vectors:
    the smallest r in [1, r_max] with ``(max_bucket // 4) * 2**r >=
    n_corpus`` (expected uniform bucket load <= max_bucket/4, the same
    25%-fill rule as :func:`recommended_planes_per_band` but in pure
    integer arithmetic so a SQL engine reproduces it bit-for-bit:
    ``min(r) FROM generate_series(1, r_max) WHERE target * (1 << r) >=
    count(*)``). This is the count->r map the registered banded-LSH
    queries wire in (sf1 scale-audit: the former fixed r=2 dropped 100%
    of signature rows at 20k vectors and returned zero candidates)."""
    target = max(1, max_bucket // 4)
    for r in range(1, r_max + 1):
        if target * (1 << r) >= n_corpus:
            return r
    return r_max


def recommended_planes_per_band(
    n_corpus: int, *, max_bucket: int = 1000, target_fill: float = 0.25
) -> int:
    """The banded-LSH scale knob, made first-class (sf1 scale-audit
    lesson): smallest r such that the EXPECTED uniform bucket load
    ``n_corpus / 2**r`` stays at or below ``target_fill * max_bucket``.

    At the sf1 audit (20k vectors, r=2 → 4 buckets/band) every one of the
    32 buckets blew past max_bucket=1000 and the degenerate-bucket guard
    dropped 100% of signature rows — correct (the SQL twin mirrors the
    cap) but useless. Bucket count must grow with the corpus: r=2 is a
    test-scale setting, and this function is the documented "tune r up as
    the corpus grows" rule as code. target_fill=0.25 leaves 4x headroom
    for non-uniform (clustered) density before the cap re-engages; truly
    degenerate regions (identical vectors) are exactly what the cap is
    FOR and still get dropped."""
    import math

    target = max(1.0, target_fill * max_bucket)
    return max(1, math.ceil(math.log2(max(2.0, n_corpus / target))))


def lsh_banded_candidates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    planes_per_band: int = 2,
    dim: int = 64,
    max_bucket: int = 1000,
    plane_stride: int | None = None,
) -> DataFrame:
    """Banded random-hyperplane LSH candidates — the ANN scale path.

    A pair collides if it agrees on ALL planes of ANY band: collision
    probability 1-(1-p^r)^B for per-plane agreement p = 1-θ/π. A single
    signature (lsh_bucket_candidates) needs agreement on every plane at
    once, which for moderate-angle near-dups has near-zero recall; banding
    trades a controlled candidate-set growth for recall, exactly like the
    MinHash band trick. Tune r (planes_per_band) up as the corpus grows to
    keep buckets small; ``max_bucket`` hard-caps degenerate buckets.

    Shuffle shape: one pass computes all B*r plane signs per vector
    (per-row projections), explode to (band, key) buckets, one shuffle on
    the bucket key, pairs emitted locally inside postings. The vectors
    themselves are never shuffled.
    """
    buckets = banded_bucket_keys(
        spread(df), id_col=id_col, vec_col=vec_col, bands=bands,
        planes_per_band=planes_per_band, dim=dim, plane_stride=plane_stride,
    )
    postings = (
        buckets.groupBy("bk")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    return _posting_pairs(postings).distinct()


def banded_bucket_keys(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    planes_per_band: int = 2,
    dim: int = 64,
    plane_stride: int | None = None,
) -> DataFrame:
    """(id, bk=(band, key)) rows: one banded-LSH bucket key per band per
    vector — the shared candidate-generation primitive for pair dedup and
    ANN search. Per-row projections then one explode; no shuffle.

    ``plane_stride``: spacing of each band's planes inside the md5-seeded
    plane sequence — plane (b, j) is ``hyperplanes(bands * stride)[b *
    stride + j]``. Default (None) packs bands contiguously
    (stride=planes_per_band); the adaptive queries pass
    ``stride=LSH_R_MAX`` so the plane assigned to slot (b, j) never moves
    when the corpus-derived r changes, letting a static SQL twin embed
    one grid for every runtime r.

    The B*r plane-sign bits are computed in a PROJECTION below the
    explode, one named column per plane: inlining all 16 unrolled plane
    sums into the generator expression itself exceeds janino's 64 KB
    method limit and silently drops the whole stage to interpreted mode
    (observed: ``CodeGenerator: failed to compile ... grows beyond 64
    KB``). As separate projection expressions they codegen-split per
    column and the stage stays compiled — UP TO ~16 planes. Beyond that
    (the adaptive grid at r >= 3 on 8 bands) even the split projection's
    whole-stage ``processNext()`` exceeds the method limit (observed at
    r=7: janino InternalCompilerException, stage interpreted — correct
    but the one fallback a 100 TB signature pass cannot afford), so
    large grids switch to the Arrow path: one pandas_udf computes all
    band keys per vector with numpy, accumulating dimensions
    SEQUENTIALLY in float64 (``acc += x[:, i] * w[i]`` for ascending i)
    — the exact left-to-right IEEE order of the unrolled SQL chain and
    of DuckDB's list_sum, so keys are bit-identical across all three
    implementations (parity-tested)."""
    stride = planes_per_band if plane_stride is None else plane_stride
    if stride < planes_per_band:
        raise ValueError(
            f"plane_stride {stride} < planes_per_band {planes_per_band}"
        )
    planes = hyperplanes(bands * stride, dim)
    if bands * planes_per_band > _CODEGEN_MAX_PLANES:
        return _banded_bucket_keys_arrow(
            df, id_col=id_col, vec_col=vec_col, bands=bands,
            planes_per_band=planes_per_band, dim=dim, planes=planes,
            stride=stride,
        )
    # two selectExpr calls — 2 py4j round-trips total; the same projection
    # built with Column operators measured ~1.4s of driver time per call
    # (3,500+ py4j round-trips; CLAUDE.md generated-expression lesson)
    bit_exprs = [
        f"(CASE WHEN {plane_dot_sql(vec_col, planes[b * stride + j])} > 0"
        f" THEN {1 << j} ELSE 0 END) AS __bit_{b}_{j}"
        for b in range(bands)
        for j in range(planes_per_band)
    ]
    staged = df.selectExpr(f"`{id_col}`", *bit_exprs)
    structs = ", ".join(
        "named_struct('band', {b}, 'key', CAST({key} AS LONG))".format(
            b=b, key=" + ".join(f"__bit_{b}_{j}" for j in range(planes_per_band))
        )
        for b in range(bands)
    )
    return staged.selectExpr(f"`{id_col}`", f"explode(array({structs})) AS bk")


# largest bands*planes_per_band whose bit projection is known to stay
# inside janino's 64 KB whole-stage method limit (16 compiled through
# r1-r5; 56 observed failing) — larger grids take the Arrow path
_CODEGEN_MAX_PLANES = 16


def _banded_bucket_keys_arrow(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    bands: int,
    planes_per_band: int,
    dim: int,
    planes: list[list[float]],
    stride: int,
) -> DataFrame:
    """Arrow twin of the codegen'd bit projection (see banded_bucket_keys
    docstring): all band keys in one numpy pass, dimension loop ascending
    so float64 accumulation order matches the unrolled SQL exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = np.asarray(
        [planes[b * stride + j] for b in range(bands) for j in range(planes_per_band)],
        dtype=np.float64,
    )  # (bands*r) x dim

    def _keys_np(v):
        X = np.asarray(v.tolist(), dtype=np.float64)  # float32 -> exact
        n = X.shape[0]
        if n == 0:
            return pd.Series([], dtype=object)
        acc = np.zeros((n, W.shape[0]))
        for i in range(dim):  # sequential over dims = SQL's + chain order
            acc += X[:, i, None] * W[:, i]
        bits = (acc > 0).astype(np.int64)
        keys = np.zeros((n, bands), dtype=np.int64)
        for b in range(bands):
            for j in range(planes_per_band):
                keys[:, b] += bits[:, b * planes_per_band + j] << j
        return pd.Series(list(keys))

    # real annotation objects (module uses postponed annotations — see
    # functions/vectors.py dot_vectorized)
    _keys_np.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _keys = pandas_udf(_keys_np, "array<long>")

    staged = df.select(F.col(id_col), _keys(F.col(vec_col)).alias("__keys"))
    return staged.select(
        F.col(id_col), F.posexplode("__keys").alias("band", "key")
    ).select(
        id_col,
        F.struct(
            F.col("band").cast("int").alias("band"),
            F.col("key").cast("long").alias("key"),
        ).alias("bk"),
    )


def lsh_banded_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bands: int = 8,
    planes_per_band: int = 2,
    dim: int = 64,
    max_bucket: int = 1000,
    scorer: str = "exact",
    queries_are_corpus_subset: bool = False,
    plane_stride: int | None = None,
    max_score: float | None = None,
    exclude_same_col: str | None = None,
) -> DataFrame:
    """ANN top-k: candidates share >= 1 banded-LSH bucket with the query,
    scored exactly, ranked per query — the pruned counterpart of
    brute_force_topk. At scale the corpus bucket table is precomputed and
    written bucketed by (band, key), so a query batch touches only its
    buckets; here both sides derive buckets inline and equi-join on the
    key (broadcast of the small query side chosen by the planner).
    ``max_bucket`` drops degenerate corpus buckets (a near-constant region
    of embedding space) before the candidate join — the same guard every
    sibling candidate generator applies; without it one hot bucket emits
    |bucket| rows per query per band.

    ``scorer``: ``"exact"`` scores with the sequential-double ``dot()``
    (bit-identical to the SQL twin — the oracle path);
    ``"vectorized"`` scores with the Arrow-batched numpy
    ``dot_vectorized`` — the PRODUCTION path (one numpy reduction per
    Arrow batch instead of an interpreted per-row loop). numpy's pairwise
    summation differs from sequential in the last ulp, so vectorized
    scores are rounded to 6 decimals and RANKED ON THE ROUNDED VALUE
    (neighbor-id tie-break) — |pairwise − sequential| < 1e-12 for 64-dim
    unit vectors, so the rounded score (and therefore the ranking) agrees
    with a 6-decimal-rounded sequential oracle.

    ``queries_are_corpus_subset``: when the query batch is a filtered view
    of the corpus (self-search — the dedup/recommendation case), the
    query-side bucket keys are a FILTER of the corpus bucket table rather
    than a second full set of plane projections — the (id, band, key)
    frame is materialized once (it is |corpus| x bands ids-and-ints,
    vectors excluded) and serves both sides, halving the projection
    compute and compile.

    R5 re-audit (negative result, kept deliberately): the residual
    bench median-over-min was suspected to be janino recompiles of the
    unrolled dot per rebuilt query. Measured via the CodegenMetrics
    compile counter: the codegen cache HITS across rebuilds in one JVM
    (compile count constant after the first execution — Spark keys the
    cache on generated source with comments stripped, and the source is
    exprId-stable). An interleaved A/B of three shapes at sf0.1
    (local[8], 3 reps each) gave end-to-end exec of ~1.1s for THIS shape
    (checkpoint + semi-join qb), ~1.8s checkpointing but projecting the
    query side directly, ~2.8s with no materialization at all — the
    ``localCheckpoint(eager=False)`` costs ~0.6s of driver-side physical
    planning per build but repays it >2x at execution even at 36k rows,
    because the bucket table computes once and AQE plans downstream
    stages against its known size. The r4 topology stands."""
    cb = banded_bucket_keys(
        spread(corpus), id_col=id_col, vec_col=vec_col, bands=bands,
        planes_per_band=planes_per_band, dim=dim, plane_stride=plane_stride,
    )
    if queries_are_corpus_subset:
        cb = cb.localCheckpoint(eager=False)
        # no .distinct() on the probe: a left-semi build side never
        # duplicates output rows, so the dedup bought nothing but an
        # exchange + two HashAggregates + a serial stage round before the
        # broadcast could build (r13 plan audit: Exchange 16 -> 14)
        qb = cb.join(
            queries.select(F.col(id_col)), id_col, "left_semi"
        ).select(F.col(id_col).alias("query_id"), F.col("bk").alias("qbk"))
    else:
        qb = banded_bucket_keys(
            queries, id_col=id_col, vec_col=vec_col, bands=bands,
            planes_per_band=planes_per_band, dim=dim, plane_stride=plane_stride,
        ).select(F.col(id_col).alias("query_id"), F.col("bk").alias("qbk"))
    postings = (
        cb.groupBy("bk")
        .agg(F.collect_list(id_col).alias("ids"))
        .where(F.size("ids") <= max_bucket)
    )
    cand = (
        postings.join(qb, postings["bk"] == qb["qbk"])
        .select("query_id", F.explode("ids").alias("neighbor_id"))
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    if scorer == "exact":
        # Pin the candidate exchange to hash(query_id) at
        # defaultParallelism (the spread() convention): everything
        # expensive (the distinct, the vector broadcast joins, the
        # 64-term dot, the rank) computes ABOVE this exchange, whose
        # payload is just (query_id, neighbor_id) id pairs — so AQE's
        # byte-based coalescing sees a few-hundred-KB exchange and folds
        # the whole rescore onto ONE task (measured: 582 ms CPU in 1 task
        # while 31 cores idle, r14 stage profile). Placement and count
        # both matter, per AB_SF01_r14_pinrepart{,2}.jsonl and the stage
        # profiles: a bare .repartition("query_id") is still
        # AQE-coalescible (a pure extra stage round), and pinning ABOVE
        # the distinct adds a third exchange because one hash(query_id)
        # exchange below it satisfies the distinct's
        # (query_id, neighbor_id) clustering (subset rule) AND the
        # window's — exactly what this pin provides. Skew is bounded
        # (<= bands*max_bucket rows/query) at any scale.
        #
        # Exact scorer ONLY: the codegen'd dot gains 17% (5-round
        # matched-probe A/B), but the Arrow scorer measured neutral-to-
        # worse over 12 alternating rounds (AB_SF01_r14_pinvec.jsonl) —
        # splitting its one big Arrow batch into per-core slivers trades
        # the serial numpy reduction for 32 Python-worker round-trips. At
        # production candidate volumes the exchange exceeds the coalesce
        # target and the unpinned path parallelizes by itself.
        cand = cand.repartition(
            corpus.sparkSession.sparkContext.defaultParallelism, "query_id"
        )
    cand = cand.distinct()
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    if scorer == "vectorized":
        score = F.round(dot_vectorized(F.col("__nv"), F.col("__qv")), 6)
    elif scorer == "exact":
        # codegen'd unrolled sum, bit-equal to the HOF dot at this dim
        score = _exact_dot("__nv", "__qv", dim)
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    scored = (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    # Pre-rank exclusions — the hard-negative mining knobs: a score
    # ceiling drops near-duplicates (pair the threshold with the dedup
    # pipeline's), and exclude_same_col drops likely-positives sharing
    # the anchor's attribute (label/cluster/source). Applied BEFORE the
    # window so top-k means "k best among eligible", not "eligible among
    # the k best".
    if max_score is not None:
        scored = scored.where(F.col("score") < F.lit(max_score))
    if exclude_same_col is not None:
        qa = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(exclude_same_col).alias("__qattr"),
        )
        na = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(exclude_same_col).alias("__nattr"),
        )
        scored = (
            scored.join(qa, "query_id")
            .join(na, "neighbor_id")
            # Plain != (null-dropping), NOT ~eqNullSafe: the SQL twin's
            # `n.label <> q.label` drops a pair when either side is NULL,
            # and the Spark side must mirror that exactly.
            .where(F.col("__qattr") != F.col("__nattr"))
            .drop("__qattr", "__nattr")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))
    )


def kmeans_iterations(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str = "label",
    iterations: int = 2,
    dim: int | None = 64,
) -> DataFrame:
    """Lloyd's k-means as a driver loop over the two existing primitives:
    ``group_centroids`` (update step) and ``assign_nearest_centroid``
    (assignment step), seeded from an existing coarse grouping column.
    This is the iterative-ML-training shape: per iteration, one
    posexplode aggregation (shuffle carries k x dim doubles) plus one
    broadcast-codebook scan (map-side argmax — ONE row per vector reaches
    the shuffle); assignments are localCheckpointed so the plan does not
    grow with the iteration count, exactly like graph.pagerank.

    Determinism contract: centroids are rounded to 6 decimals BEFORE the
    next assignment (the published group_centroids behavior), dots are
    sequential-double, assignment ties break on the smallest cluster id —
    so an unrolled-CTE SQL twin reproduces every iteration exactly.

    Returns the final codebook joined with its population:
    (cluster, pos, centroid, n_assigned)."""
    assigned = emb.select(
        F.col(id_col), F.col(vec_col), F.col(seed_col).alias("__cluster")
    )
    for _ in range(iterations):
        cents = group_centroids(
            assigned, group_col="__cluster", vec_col=vec_col
        )
        assigned = (
            assign_nearest_centroid(
                emb, cents, id_col=id_col, vec_col=vec_col,
                group_col="__cluster", dim=dim,
            )
            .select(id_col, F.col("assigned").alias("__cluster"))
            .join(emb.select(id_col, vec_col), id_col)
            .localCheckpoint(eager=False)
        )
    final_cents = group_centroids(assigned, group_col="__cluster", vec_col=vec_col)
    sizes = assigned.groupBy("__cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned")
    )
    return final_cents.join(sizes, "__cluster").select(
        F.col("__cluster").alias("cluster"), "pos", "centroid", "n_assigned"
    )


def _dist2_sql(qv_col: str, center: list[int]) -> str:
    """Exact-BIGINT squared distance between a quantized vector column and
    a literal center, as ONE generated SQL string (single py4j
    round-trip; the repo's generated-projection rule)."""
    terms = " + ".join(
        f"({qv_col}[{i}] - ({int(c)})) * ({qv_col}[{i}] - ({int(c)}))"
        for i, c in enumerate(center)
    )
    return f"CAST({terms} AS BIGINT)"


def kcenter_greedy(
    emb: DataFrame,
    *,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 10_000,
) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point) coreset selection — the
    diversity-maximizing data-selection step (pick points that COVER the
    embedding space, the complement of importance/stratified sampling).

    Algorithm: seed with the smallest id; each round pick the point
    farthest (max-min squared distance) from the selected set, ties to
    the smallest id. Greedy k-center is inherently k sequential corpus
    passes; each pass here is one scan of a localCheckpointed quantized
    column + a top-1 reduce (TakeOrdered — no full shuffle), and the
    running min-distance column is updated with ONE new distance term
    per round (the O(k) shape, not O(k^2) recompute). Distances are
    exact BIGINTs under the shared floor(x*scale) quantization, so the
    selection chain and the final assignment are engine-reproducible;
    the oracle unrolls the identical chain (running least, NOT-IN
    exclusion, (d2, round) assignment tie-break).

    Returns corpus-cardinality assignment: (id, center_id, d2_min) where
    center_id is the selected center attaining the min squared distance
    (ties to the earliest-selected round)."""
    q = emb.selectExpr(
        id_col,
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS __qv",
    ).localCheckpoint(eager=False)
    first = q.orderBy(F.asc(id_col)).limit(1).collect()[0]
    centers: list[tuple[int, list[int]]] = [
        (int(first[id_col]), [int(x) for x in first["__qv"]])
    ]
    cur = q.withColumn("__d", F.expr(_dist2_sql("__qv", centers[0][1])))
    for _ in range(1, k):
        nxt = (
            cur.where(~F.col(id_col).isin([cid for cid, _ in centers]))
            .orderBy(F.desc("__d"), F.asc(id_col))
            .limit(1)
            .collect()[0]
        )
        centers.append((int(nxt[id_col]), [int(x) for x in nxt["__qv"]]))
        cur = cur.withColumn(
            "__d",
            F.least(F.col("__d"), F.expr(_dist2_sql("__qv", centers[-1][1]))),
        ).localCheckpoint(eager=False)
    # final assignment: per-center distance columns stay OUT of one giant
    # expression (janino 64KB rule) — one named column per center, then a
    # struct-array sort picks (d2 asc, round asc).
    staged = q
    structs = []
    for rnd, (cid, cq) in enumerate(centers, start=1):
        staged = staged.withColumn(f"__d{rnd}", F.expr(_dist2_sql("__qv", cq)))
        structs.append(
            F.struct(
                F.col(f"__d{rnd}").alias("d2"),
                F.lit(rnd).alias("rnd"),
                F.lit(cid).alias("cid"),
            )
        )
    pick = F.array_sort(F.array(*structs))[0]
    return staged.select(
        F.col(id_col),
        pick["cid"].cast("long").alias("center_id"),
        pick["d2"].cast("long").alias("d2_min"),
    )


def sq8_quantize(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the SQ8 index of
    FAISS/embedding stores): codes = floor(x * 127 / max_abs + 0.5)
    (exact floor(x+0.5) rounding — identical on both engines, unlike
    round()'s half-up/half-even ambiguity; the embedding_int8_quantize_
    error convention) plus the per-vector scale FROZEN to integer
    micro-units so every downstream product is exact BIGINT. Vectors
    with max_abs == 0 carry no direction and are dropped, mirroring the
    quantize-error query's filter."""
    x = "CAST(x AS DOUBLE)"
    return (
        emb.selectExpr(
            id_col,
            vec_col,
            f"array_max(transform({vec_col}, x -> abs({x}))) AS __max_abs",
        )
        .filter("__max_abs > 0")
        .selectExpr(
            id_col,
            vec_col,
            "CAST(floor(__max_abs * 1000000 + 0.5) AS BIGINT) AS __su",
            f"transform({vec_col},"
            f" x -> CAST(floor({x} * 127 / __max_abs + 0.5) AS BIGINT)) AS __qv",
        )
    )


def sq8_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist_k: int = 20,
    dim: int | None = 64,
) -> DataFrame:
    """Scalar-quantization ANN serving path — the SQ sibling of
    ``ivfpq_rerank_topk``, completing the quantized-serving triad
    (PQ-ADC, IVF-PQ + refine, SQ8 + rescore): rank by the EXACT-BIGINT
    surrogate int_dot(qa, qb) * scale_b (per-query the true dot is
    ~ scale_a * scale_b * int_dot / 127², and scale_a/127² is constant
    within a query's ranking, so the surrogate preserves the quantized
    order without any float), take a ``shortlist_k`` shortlist, re-rank
    the shortlist with the exact sequential-double dot against the RAW
    vectors. Int8 codes are 4 bytes/dim smaller at rest and the
    surrogate dot is integer SIMD at scale; the raw corpus is touched
    only for shortlist_k rows per query.
    """
    qz = sq8_quantize(corpus, id_col=id_col, vec_col=vec_col)
    d = dim or 64
    int_dot = "(" + " + ".join(f"(__qa[{i}] * __qb[{i}])" for i in range(d)) + ")"
    qs = (
        qz.join(queries.select(id_col), id_col, "semi")
        .selectExpr(f"{id_col} AS query_id", "__qv AS __qa")
    )
    ns = qz.selectExpr(f"{id_col} AS neighbor_id", "__qv AS __qb", "__su AS __sbu")
    approx = (
        spread(ns)
        .crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr("query_id", "neighbor_id", f"{int_dot} * __sbu AS approx_u")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_u"), F.asc("neighbor_id")
    )
    short = (
        approx.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= shortlist_k)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        short.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _exact_dot("__ne", "__qe", dim).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )
