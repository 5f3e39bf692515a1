"""Pure-Python reference for the curation pipeline's ``train_chunks``.

An independent re-statement of ``pipelines.curate_corpus`` (default
parameters) over the rows of the ``documents`` parquet file, sharing no
code with the engine: PII scrub, exact dedup (lowest id per text),
near-dup removal (word 5-gram Jaccard >= 0.5 against a lower id), the
md5 train/test split, decontamination against the test side, the
repetition filter and fixed-size chunking. Shingles are compared as
strings where the engine compares their 64-bit hashes, so the two agree
unless two distinct shingles collide in xxhash64.
"""

from __future__ import annotations

import hashlib
import re

#: the engine's PII patterns, applied in this order (ASCII semantics)
PII = [(re.compile(p, re.ASCII), tag) for p, tag in (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)]
_WS = re.compile(r"[ \t\n\x0b\f\r]+")

JACCARD = 0.5
REPETITION_MAX = 0.5
TEST_BUCKET, N_BUCKETS = 9, 10
GRAM_N = 5
CHUNK = 64
COLUMNS = ["doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text"]


def scrub(text: str) -> str:
    for pat, tag in PII:
        text = pat.sub(tag, text)
    return text


def tokens(text: str) -> list[str]:
    return _WS.split(text.strip(" "))


def grams(toks: list[str], n: int = GRAM_N) -> set[str]:
    """Distinct word n-grams; a document shorter than n is one gram."""
    return {" ".join(toks[i:i + n])
            for i in range(max(len(toks) - (n - 1), 1))}


def bucket(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:6], 16) % N_BUCKETS


def near_losers(docs: dict[int, str]) -> set[int]:
    """Ids with Jaccard >= JACCARD against some lower id (an inverted
    index over grams keeps this to the pairs that share one)."""
    sets = {i: grams(tokens(t)) for i, t in docs.items()}
    index: dict[str, list[int]] = {}
    for i in sorted(sets):
        for g in sets[i]:
            index.setdefault(g, []).append(i)
    losers = set()
    for i in sorted(sets):
        seen = set()
        for g in sets[i]:
            for j in index[g]:
                if j >= i:
                    break
                if j in seen:
                    continue
                seen.add(j)
                inter = len(sets[i] & sets[j])
                if inter / (len(sets[i]) + len(sets[j]) - inter) >= JACCARD:
                    losers.add(i)
    return losers


def train_chunks(doc_ids, texts) -> list[tuple]:
    """Rows ``(doc_id, chunk_idx, n_chunk_tokens, chunk_text)``."""
    scrubbed = {int(i): scrub(t) for i, t in zip(doc_ids, texts)
                if t is not None}
    first: dict[str, int] = {}
    for i, t in scrubbed.items():
        first[t] = min(i, first.get(t, i))
    kept = {i: scrubbed[i] for i in first.values()}
    for i in near_losers(kept):
        del kept[i]
    train = {i: t for i, t in kept.items() if bucket(t) != TEST_BUCKET}
    test_grams = set()
    for i, t in kept.items():
        if bucket(t) == TEST_BUCKET:
            test_grams |= grams(tokens(t.lower()))
    rows = []
    for i, t in sorted(train.items()):
        low = tokens(t.lower())
        if grams(low) & test_grams:
            continue                                  # contaminated
        if 1.0 - len(set(low)) / len(low) > REPETITION_MAX:
            continue
        toks = tokens(t)
        for k in range(-(-len(toks) // CHUNK)):
            chunk = toks[k * CHUNK:(k + 1) * CHUNK]
            rows.append((i, k, len(chunk), " ".join(chunk)))
    return rows
