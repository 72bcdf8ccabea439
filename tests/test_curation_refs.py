"""Independent pure-Python references for the round-7 curation/graph
operators.

The oracle gate compares Spark against a DuckDB twin built from MIRRORED
logic — a bug copied into both twins would pass it. These tests compute
the same results a third way (plain Python over pandas/parquet, no
shared expressions) so a mirrored-logic bug in either engine pair turns
a test red instead of surviving the gate.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd

from tests.conftest import SF_DIR


def _docs() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


# --------------------------------------------------------------------------
# k-core peel vs a dict-based reference peel
# --------------------------------------------------------------------------


def _py_k_core(edges: list[tuple], k: int, rounds: int):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    labels: dict = {}
    alive = set(nodes)
    for r in range(1, rounds + 1):
        deg = Counter()
        for a, b in und:
            deg[a] += 1
            deg[b] += 1
        kept = {n for n in alive if deg[n] >= k}
        for n in alive - kept:
            labels[n] = r
        alive = kept
        und = {(a, b) for a, b in und if a in kept and b in kept}
    deg = Counter()
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    return {n: (labels.get(n), deg.get(n, 0)) for n in nodes}


def test_k_core_matches_python_reference_on_seeded_graph(spark):
    from oracle_schema_copy_spark.operators import graph

    # deterministic pseudo-random graph over 40 nodes (degrees 8-22, no
    # dense core — collapses under peeling) plus a planted 12-clique
    # (internal degree 11 — survives k=11 by construction), so both the
    # peel cascade and the surviving-core branch are exercised
    edges = []
    for i in range(400):
        h = hashlib.md5(f"e{i}".encode()).hexdigest()
        a, b = int(h[:4], 16) % 40, int(h[4:8], 16) % 40
        edges.append((f"n{a}", f"n{b}"))
    edges += [
        (f"c{i}", f"c{j}") for i in range(12) for j in range(i + 1, 12)
    ]
    want = _py_k_core(edges, k=11, rounds=10)
    got = {
        r.node: (r.peel_round, r.core_deg)
        for r in graph.k_core_peel(
            spark.createDataFrame(edges, ["src", "dst"]), k=11, rounds=10
        ).collect()
    }
    assert got == want
    # the seeded graph must exercise BOTH branches or the test is vacuous
    assert any(pr is not None for pr, _ in want.values())
    assert any(pr is None for pr, _ in want.values())


# --------------------------------------------------------------------------
# UniMax water-filling vs a loop-based reference
# --------------------------------------------------------------------------


def _py_unimax(counts: dict[str, int], num: int, den: int):
    budget = sum(counts.values()) * num // den
    order = sorted(counts, key=lambda lang: (counts[lang], lang))
    n = len(order)
    js, pfx_js, pfx = 0, 0, 0
    for j, lang in enumerate(order, start=1):
        pfx += counts[lang]
        if pfx + (n - j) * counts[lang] <= budget:
            js, pfx_js = j, pfx
    out = {}
    for j, lang in enumerate(order, start=1):
        if j <= js or js == n:
            out[lang] = (counts[lang], False)
        else:
            lvl = min(counts[lang], (budget - pfx_js) // (n - js))
            out[lang] = (lvl, lvl < counts[lang])
    return out


def test_unimax_matches_python_reference(spark):
    from oracle_schema_copy_spark.queries.pipeline import (
        _UNIMAX_BUDGET_DEN,
        _UNIMAX_BUDGET_NUM,
        q_corpus_unimax_budgets,
    )

    docs = _docs()
    counts = {
        lang: int(g["text"].str.split(" ").str.len().sum())
        for lang, g in docs.groupby("lang")
    }
    want = _py_unimax(counts, _UNIMAX_BUDGET_NUM, _UNIMAX_BUDGET_DEN)
    got = {
        r.lang: (r.alloc_tok, r.capped)
        for r in q_corpus_unimax_budgets(spark, SF_DIR).collect()
    }
    assert got == want
    assert any(c for _, c in want.values())  # head language capped
    assert any(not c for _, c in want.values())  # tail languages free


# --------------------------------------------------------------------------
# Gopher rules vs a per-document Python recompute
# --------------------------------------------------------------------------


def test_gopher_rules_match_python_reference(spark):
    from oracle_schema_copy_spark.queries.pipeline_stats import (
        _GOPHER_MAX_MWL,
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_MWL,
        _GOPHER_MIN_STOPWORDS,
        _GOPHER_MIN_WORDS,
        _GOPHER_REP_DENOM,
        _GOPHER_STOPLIST,
        q_quality_gopher_rules,
    )

    docs = _docs()
    want = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        ws = text.split(" ")
        nw, nc = len(ws), sum(len(w) for w in ws)
        mx = max(Counter(ws).values())
        nstop = len(set(ws) & set(_GOPHER_STOPLIST))
        flags = (
            _GOPHER_MIN_WORDS <= nw <= _GOPHER_MAX_WORDS,
            _GOPHER_MIN_MWL * nw <= nc <= _GOPHER_MAX_MWL * nw,
            _GOPHER_REP_DENOM * mx <= nw,
            nstop >= _GOPHER_MIN_STOPWORDS,
        )
        want[doc_id] = (*flags, all(flags))
    got = {
        r.doc_id: (
            r.ok_word_count,
            r.ok_mean_word_len,
            r.ok_repetition,
            r.ok_stopwords,
            r.pass_gopher,
        )
        for r in q_quality_gopher_rules(spark, SF_DIR).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# DSIR micro-unit weights vs a Counter-based reference
# --------------------------------------------------------------------------


def _h7(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def test_dsir_weights_match_python_reference(spark):
    import math

    from oracle_schema_copy_spark.queries.pipeline_stats import (
        _DSIR_BUCKETS,
        _DSIR_TARGET_LANG,
        q_sample_dsir_importance,
    )

    docs = _docs()
    doc_buckets: dict[int, Counter] = {}
    raw: Counter = Counter()
    tgt: Counter = Counter()
    for doc_id, lang, text in zip(docs["doc_id"], docs["lang"], docs["text"]):
        ws = text.split(" ")
        c = Counter(
            _h7(f"{ws[i]} {ws[i + 1]}") % _DSIR_BUCKETS
            for i in range(len(ws) - 1)
        )
        doc_buckets[doc_id] = c
        raw.update(c)
        if lang == _DSIR_TARGET_LANG:
            tgt.update(c)
    n_raw, n_tgt = sum(raw.values()), sum(tgt.values())
    lr = {
        b: round(
            (
                math.log((tgt.get(b, 0) + 1) / (n_tgt + _DSIR_BUCKETS))
                - math.log((raw[b] + 1) / (n_raw + _DSIR_BUCKETS))
            )
            * 1_000_000
        )
        for b in raw
    }
    want = {
        doc_id: sum(cnt * lr[b] for b, cnt in c.items())
        for doc_id, c in doc_buckets.items()
    }
    got = {
        r.doc_id: r.dsir_logw_micro
        for r in q_sample_dsir_importance(spark, SF_DIR).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# session-3 additions: NDCG contract, temperature budgets, stream left join
# --------------------------------------------------------------------------


def _seq_dot(a, b) -> float:
    """Sequential left-to-right float64 dot — the exact IEEE order both
    engines' unrolled/list_sum dots use."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def test_ivf_ndcg_matches_python_reference(spark):
    """Recompute the whole IVF-vs-brute NDCG@10 chain in plain Python
    (pandas + sequential-float dots + integer DCG) and compare against
    the gated Spark query."""
    import math

    from oracle_schema_copy_spark.queries.pipeline_linalg import (
        _NDCG_IDCG,
        _NDCG_K,
        _NDCG_W,
        q_ivf_ndcg_contract,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {int(r.vec_id): list(r.embedding) for r in emb.itertuples()}
    labels = {int(r.vec_id): int(r.label) for r in emb.itertuples()}
    # per-label centroids rounded to 6 decimals (group_centroids contract)
    cents: dict[int, list[float]] = {}
    for lab, grp in emb.groupby("label"):
        m = pd.DataFrame(list(grp["embedding"])).astype("float64").mean()
        cents[int(lab)] = [round(x, 6) for x in m]
    qids = sorted(v for v in vecs if v < 20)

    def topk(qid, cand_ids, k):
        scored = sorted(
            ((-_seq_dot(vecs[c], vecs[qid]), c) for c in cand_ids if c != qid)
        )
        return [c for _, c in scored[:k]]

    expect = {}
    for qid in qids:
        probed = sorted(
            cents, key=lambda lab: (-_seq_dot(vecs[qid], cents[lab]), lab)
        )[:2]
        cand = [v for v in vecs if labels[v] in probed]
        ivf = topk(qid, cand, _NDCG_K)
        brute = topk(qid, list(vecs), _NDCG_K)
        rel = {nid: _NDCG_K + 1 - (i + 1) for i, nid in enumerate(brute)}
        dcg = sum(rel.get(nid, 0) * _NDCG_W[i] for i, nid in enumerate(ivf))
        expect[qid] = (dcg, dcg * 1_000_000 // _NDCG_IDCG)

    got = {
        int(r["query_id"]): (int(r["dcg_q"]), int(r["ndcg_micro"]))
        for r in q_ivf_ndcg_contract(spark, SF_DIR).collect()
    }
    assert got == expect


def test_temperature_budgets_match_python_reference(spark):
    """Replay the alpha=0.5 temperature allocation in plain Python floats
    (sequential lang-order sqrt sum — the order the window forces) and
    compare the floored micro-shares and allocations."""
    import math

    from oracle_schema_copy_spark.queries.pipeline import (
        _UNIMAX_BUDGET_DEN,
        _UNIMAX_BUDGET_NUM,
    )
    from oracle_schema_copy_spark.queries.pipeline_linalg import (
        q_corpus_temperature_budgets,
    )

    docs = _docs()
    n_tok = (
        docs.assign(n=docs["text"].str.split(" ").str.len())
        .groupby("lang")["n"]
        .sum()
        .astype(int)
        .to_dict()
    )
    budget = sum(n_tok.values()) * _UNIMAX_BUDGET_NUM // _UNIMAX_BUDGET_DEN
    stot = 0.0
    for lang in sorted(n_tok):
        stot += math.sqrt(float(n_tok[lang]))
    expect = {}
    for lang, n in n_tok.items():
        s = math.sqrt(float(n))
        expect[lang] = (
            n,
            math.floor(1_000_000.0 * s / stot),
            math.floor(float(budget) * s / stot),
        )
    got = {
        r["lang"]: (int(r["n_tok"]), int(r["share_micro"]), int(r["alloc_tok"]))
        for r in q_corpus_temperature_budgets(spark, SF_DIR).collect()
    }
    assert got == expect


def test_stream_left_join_eligibility_matches_pandas(spark):
    """Replay the watermarked left-outer eligibility predicate in pandas
    (inner interval matches + unmatched views older than
    least(max view_ts, max click_ts) - delay - horizon) and compare the
    batch twin row set."""
    from oracle_schema_copy_spark.streaming import ops

    ev = ops.load_events(spark, SF_DIR).select(
        "user_id", "event_id", "event_type", "ts"
    ).toPandas()
    v = ev[ev.event_type == "view"]
    c = ev[ev.event_type == "click"]
    horizon = pd.Timedelta(hours=1)
    cutoff = min(v.ts.max(), c.ts.max()) - pd.Timedelta(hours=1) - horizon
    expect = set()
    for r in v.itertuples():
        m = c[
            (c.user_id == r.user_id)
            & (c.ts >= r.ts)
            & (c.ts <= r.ts + horizon)
        ]
        if len(m):
            for mm in m.itertuples():
                expect.add((r.user_id, r.event_id, mm.event_id))
        elif r.ts < cutoff:
            expect.add((r.user_id, r.event_id, None))
    got = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in ops.view_click_join(
            ops.load_events(spark, SF_DIR), "left"
        ).collect()
    }
    assert got == expect


def test_diversity_capstone_matches_python_reference(spark):
    """Replay the whole diversity capstone in plain numpy/Python ints —
    z-screen (integer identity + IEEE sqrt tail), greedy k-center with
    Python-int squared distances, sqrt-temperature allocation — and
    compare the gated query's 8 rows."""
    import math

    import numpy as np

    from oracle_schema_copy_spark.queries.pipeline_linalg import (
        q_curation_diversity_capstone,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").sort_values("vec_id")
    ids = emb["vec_id"].astype(int).to_list()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    q = np.floor(m * 10_000).astype(np.int64)
    n, dim = q.shape
    s = q.sum(axis=0)
    g = (q * q).sum(axis=0)
    # z-screen: keep vectors with no >=3-sigma dim
    keep = []
    for r in range(n):
        ok = True
        for i in range(dim):
            sd = math.sqrt(float(n * g[i] - s[i] * s[i]))
            zm = math.floor(1_000_000.0 * (float(n * q[r, i] - s[i]) / sd))
            if abs(zm) >= 3_000_000:
                ok = False
                break
        if ok:
            keep.append(r)
    surv_ids = [ids[r] for r in keep]
    sq = q[keep]
    # greedy k-center, Python ints, id tie-breaks
    order = np.argsort(surv_ids)
    centers = [int(order[0])]
    d = ((sq - sq[centers[0]]) ** 2).sum(axis=1)
    for _ in range(1, 8):
        best = max(
            range(len(surv_ids)),
            key=lambda r: (int(d[r]), -surv_ids[r]),
        )
        centers.append(best)
        d = np.minimum(d, ((sq - sq[best]) ** 2).sum(axis=1))
    # assignment: (d2, selection round) tie-break
    counts = {surv_ids[c]: 0 for c in centers}
    for r in range(len(surv_ids)):
        dists = [(int(((sq[r] - sq[c]) ** 2).sum()), rnd) for rnd, c in enumerate(centers)]
        _, rnd = min(dists)
        counts[surv_ids[centers[rnd]]] += 1
    budget = len(surv_ids) // 2
    stot = 0.0
    for cid in sorted(counts):
        stot += math.sqrt(float(counts[cid]))
    expect = {
        cid: (counts[cid], math.floor(float(budget) * math.sqrt(float(counts[cid])) / stot))
        for cid in counts
    }
    got = {
        int(r["center_id"]): (int(r["n_assigned"]), int(r["alloc_vecs"]))
        for r in q_curation_diversity_capstone(spark, SF_DIR).collect()
    }
    assert got == expect
