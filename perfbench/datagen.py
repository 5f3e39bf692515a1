"""Seeded synthetic inputs for the registry workloads.

Writes the parquet tables a workload's registry queries read, with the
column names, physical types and value domains of the engine's testdata
star schema, at ``sf`` times the sf1 row counts. Each table draws from
its own stream of the seed, so the same ``seed`` and ``sf`` give
byte-identical files whichever other tables a workload asks for.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
#: a vocabulary large enough that long documents pass the curation's
#: repetition filter and are cut into more than one chunk
VOCAB = WORDS + [f"w{k}" for k in range(200)]

#: sf1 row counts (documents/embeddings scale like the testdata's).
SF1_ROWS = {"supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000,
            "documents": 50_000, "embeddings": 50_000}
EMBED_DIM = 64


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pii(rng, kind: int) -> str:
    """One PII-like span of each kind the curation scrub redacts."""
    a, b, c = (int(x) for x in rng.integers(0, 10_000, 3))
    return [f"mail user{a}.{b}@example.org",
            f"host 10.{a % 256}.{b % 256}.{c % 256}",
            f"id {a % 900 + 100}-{b % 90 + 10}-{c:04d}",
            f"call +1 555-{a % 1000:03d}-{b:04d}"][kind]


def _documents(rng, n: int) -> pd.DataFrame:
    """Every seed gets the same length profile, the same number of near
    and exact duplicates (5% and 0.2%), of texts with PII spans (4%)
    and of capitalised texts (10%); only the words, the order and which
    documents repeat depend on the seed, so the curation work a seed
    causes stays the same."""
    n_near, n_exact = round(0.05 * n), round(0.002 * n)
    lengths = rng.permutation(np.linspace(10, 100, n).round().astype(int))
    # the first ten documents are originals, so every copy has a source
    kind = np.concatenate([np.zeros(10, int), rng.permutation(np.repeat(
        [0, 1, 2], [n - 10 - n_near - n_exact, n_near, n_exact]))])
    pii = rng.permutation(np.repeat([-1, 0, 1, 2, 3],
                                    [n - 4 * (n // 100)] + [n // 100] * 4))
    upper = rng.permutation(np.arange(n) < n // 10)
    texts: list[str] = []
    for i in range(n):
        if kind[i] == 1:             # near duplicate of an earlier doc
            text = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] == 2:           # exact duplicate
            text = texts[int(rng.integers(0, i))]
        else:
            text = " ".join(rng.choice(VOCAB, int(lengths[i])))
            if upper[i]:
                text = text[0].upper() + text[1:]
        if pii[i] >= 0:
            text += " " + _pii(rng, int(pii[i]))
        texts.append(text)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pd.DataFrame:
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centers[label] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(vec), "label": label})


def _lineitem(rng, n: dict) -> pd.DataFrame:
    nl = n["lineitem"]
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], nl).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})


#: table -> builder; each table draws from its own stream of the seed
BUILDERS = {
    "lineitem": _lineitem,
    "documents": lambda rng, n: _documents(rng, n["documents"]),
    "embeddings": lambda rng, n: _embeddings(rng, n["embeddings"]),
}


def write_tables(out_dir: str, seed: int, sf: float,
                 tables: tuple[str, ...]) -> str:
    """Write ``<out_dir>/<table>.parquet`` for each of ``tables``;
    returns ``out_dir`` (the ``sf_dir`` the registry queries take)."""
    n = {t: max(1, int(round(c * sf))) for t, c in SF1_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        rng = np.random.default_rng([seed, list(BUILDERS).index(t)])
        BUILDERS[t](rng, n).to_parquet(os.path.join(out_dir, f"{t}.parquet"),
                                       index=False)
    return out_dir
