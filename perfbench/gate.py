"""Correctness gate: the reference golden, and top-k comparison of every
timed search against the naive scorer."""

from __future__ import annotations

SCORE_TOL = 1e-9

# the reference's 7-doc golden (test/search.jl): with doc-frequency
# pruning 1 < ndocs < 5, "la casa de la manzana verde" ranks docs 6, 2, 4
GOLDEN_CORPUS = [
    "la casa roja",
    "la casa verde",
    "la casa azul",
    "la manzana roja",
    "la pera verde esta rica",
    "la manzana verde esta rica",
    "la hoja verde",
]
GOLDEN_QUERY = "la casa de la manzana verde"
GOLDEN_IDS = [6, 2, 4]


def golden_ok(spark) -> bool:
    from textsearch_spark.config import TextConfig
    from textsearch_spark.operators.search import search_bm25_text
    from textsearch_spark.plans.build import build_bm25_index

    df = spark.createDataFrame([(i + 1, t) for i, t in enumerate(GOLDEN_CORPUS)],
                               "doc_id long, text string")
    idx = build_bm25_index(df, TextConfig(nlist=[1]), vocab_filter="ndocs > 1 AND ndocs < 5")
    rows = search_bm25_text(idx, GOLDEN_QUERY, k=3).orderBy("rank").collect()
    return [r.doc_id for r in rows] == GOLDEN_IDS


def ranked(rows) -> dict[int, list[tuple[int, float]]]:
    """Search output rows -> {query_id: [(doc_id, score), ...] by rank}."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(int(r.query_id), []).append((int(r.doc_id), float(r.score)))
    return out


def topk_matches(got: list[tuple[int, float]], expected: list[tuple[int, float]],
                 k: int) -> bool:
    """``got`` (rank order) against ``expected``, the naive ranking by
    score desc, doc id asc, taken deeper than k so ties at the cut are
    visible. Doc ids must be rank-identical and scores within
    SCORE_TOL; docs whose expected scores tie within SCORE_TOL may
    trade places."""
    if len(got) != min(k, len(expected)):
        return False
    if len({d for d, _ in got}) != len(got):
        return False
    for (doc, score), (exp_doc, exp_score) in zip(got, expected):
        if abs(score - exp_score) > SCORE_TOL:
            return False
        if doc != exp_doc and not any(
                d == doc and abs(s - exp_score) <= SCORE_TOL for d, s in expected):
            return False
    return True
