"""Seeded workload inputs, generated by the benchmark's own code.

Nothing here calls the engine, so no change to the program can alter a
workload. Each document's text is a pure function of its global id;
the seed picks which window of global ids a run indexes (and which
queries it asks), so the same seed always yields the same inputs.
Corpora are written to parquet once per (workload, seed, size) and
reused by later runs in the same checkout.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np

# -- dense source-code corpus: a tiny keyword set in every document, so
# every term is stop-word frequent and block-max pruning cannot fire
_KEYWORDS = {
    "py": ["def", "return", "import", "class", "if", "else", "for", "in", "None", "self"],
    "jl": ["function", "end", "return", "using", "struct", "for", "if", "else", "begin"],
    "c": ["int", "return", "void", "static", "struct", "for", "if", "else", "char"],
    "go": ["func", "return", "package", "import", "type", "for", "if", "else", "var"],
    "md": ["the", "a", "of", "to", "and", "in", "is", "for", "with", "this"],
}
_LANGS = sorted(_KEYWORDS)
_PARTS = [
    "get", "set", "run", "read", "write", "parse", "merge", "split", "index",
    "token", "block", "query", "score", "count", "batch", "shard", "hash",
    "node", "list", "tree", "map", "util", "core", "data", "file", "path",
]

# -- Zipf corpus: 50k-term vocabulary, s = 1.15 — a few stop-word heads
# and a long rare tail, the df shape on which block-max bounds skip
ZIPF_VOCAB = 50_000
ZIPF_S = 1.15
_DIGIT2ALPHA = str.maketrans("0123456789", "abcdefghij")

# a seed's window of global ids starts at (seed * 7919) mod WINDOW_SPAN;
# every window lies inside one pool of generated texts per corpus kind,
# so a new seed costs a slice, not a regeneration
WINDOW_SPAN = 8192


def code_text(gid: int) -> str:
    rng = np.random.default_rng(gid + 1_000_003)
    kw = _KEYWORDS[_LANGS[int(rng.integers(0, len(_LANGS)))]]
    per_line = rng.integers(3, 10, int(rng.integers(5, 40)))
    n = int(per_line.sum())
    r = rng.random(n)
    kwi = np.minimum(rng.zipf(1.6, n) - 1, len(kw) - 1)
    ab = rng.integers(0, len(_PARTS), (n, 2))
    num = rng.integers(0, 10000, n)
    ver = rng.integers(0, 99, (n, 2))
    toks = []
    for i in range(n):
        if r[i] < 0.45:
            toks.append(kw[kwi[i]])
        elif r[i] < 0.80:
            toks.append(f"{_PARTS[ab[i, 0]]}_{_PARTS[ab[i, 1]]}")
        elif r[i] < 0.90:
            toks.append(str(num[i]))
        elif r[i] < 0.95:
            toks.append(f"v{ver[i, 0] % 9}.{ver[i, 1]}")
        else:
            toks.append(f"https://example.org/{_PARTS[ab[i, 0]]}")
    ends = np.cumsum(per_line)
    return "\n".join(" ".join(toks[e - k:e]) for e, k in zip(ends, per_line))


def zipf_text(gid: int) -> str:
    rng = np.random.default_rng(gid + 7_000_003)
    n_tok = int(rng.integers(40, 121))
    ranks = np.minimum(rng.zipf(ZIPF_S, n_tok), ZIPF_VOCAB)
    # letters only: the default TextConfig groups digit runs, which
    # would collapse a "w123"-style vocabulary into one token
    toks = [f"w{str(r).translate(_DIGIT2ALPHA)}" for r in ranks]
    return "\n".join(" ".join(toks[i:i + 8]) for i in range(0, n_tok, 8))


TEXT_FNS = {"code": code_text, "zipf": zipf_text}


def window_start(seed: int) -> int:
    return (seed * 7919) % WINDOW_SPAN


def _write_parquet(path: str, columns: dict) -> None:
    """Publish a one-file parquet directory atomically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.table(columns), os.path.join(tmp, "part-0.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent run published it first
        shutil.rmtree(tmp, ignore_errors=True)


def _pool(work_dir: str, kind: str, n_docs: int) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = WINDOW_SPAN + n_docs
    path = os.path.join(work_dir, "data", f"pool-{kind}-{n}")
    if not os.path.isdir(path):
        fn = TEXT_FNS[kind]
        _write_parquet(path, {"text": pa.array([fn(g) for g in range(n)], pa.string())})
    return pq.read_table(path).column("text").to_pylist()


def corpus_path(work_dir: str, kind: str, seed: int, n_docs: int) -> str:
    """Parquet directory of (doc_id, text): dense doc ids 1..n_docs over
    the seed's window of global ids. Written once per (kind, seed, size)."""
    import pyarrow as pa

    path = os.path.join(work_dir, "data", f"{kind}-s{seed}-n{n_docs}")
    if not os.path.isdir(path):
        start = window_start(seed)
        texts = _pool(work_dir, kind, n_docs)[start:start + n_docs]
        _write_parquet(path, {
            "doc_id": pa.array(range(1, n_docs + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
        })
    return path


def read_texts(path: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["text"]).column("text").to_pylist()


def make_queries(texts: list[str], seed: int, n: int, salt: int) -> list[str]:
    """n query strings: 2-5 consecutive words of a randomly chosen
    document (so every query matches at least one document)."""
    rnd = random.Random(seed * 1_000_003 + salt)
    out = []
    for _ in range(n):
        words = rnd.choice(texts).split()
        start = rnd.randrange(max(1, len(words) - 6))
        out.append(" ".join(words[start:start + rnd.randint(2, 5)]))
    return out
