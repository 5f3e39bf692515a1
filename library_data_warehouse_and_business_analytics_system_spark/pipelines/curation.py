"""End-to-end training-corpus curation: the composition a real user
runs, built entirely from the individually-gated operators.

    raw documents
      → PII scrub                 (functions/text.scrub_pii)
      → exact dedup               (operators/dedup.exact_dedup)
      → near-dup removal          (ngram_jaccard_pairs_prefix + keep_canonical)
      → held-out split            (functions/text.md5_bucket)
      → decontamination           (operators/decontaminate)
      → repetition filter         (distinct-token ratio)
      → fixed-size chunking       (sequence/slice over shared tokens)

Every stage is a pure DataFrame transform — the whole pipeline is ONE
lazy plan per output, Catalyst sees it end to end, and nothing leaves
the JVM. Stage order matters and is part of the contract:
scrub BEFORE hashing (two docs differing only in PII must dedup
together), dedup BEFORE splitting (an exact dup straddling the
train/test boundary would leak), decontaminate AFTER the split (the
test side must be final), chunk LAST (chunks inherit every upstream
filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup
from ..operators.decontaminate import ngram_contamination


def curate_corpus(docs: DataFrame, *, id_col: str = "doc_id",
                  jaccard_threshold: float = 0.5,
                  repetition_max: float = 0.5,
                  test_bucket: int = 9, n_buckets: int = 10,
                  contamination_n: int = 5,
                  chunk_size: int = 64) -> dict[str, DataFrame]:
    """Returns the intermediate frames keyed by stage name — callers
    materialize what they need (`train_chunks` is the product;
    `test`, `dropped_*` frames are the audit trail).

    The two reuse boundaries are eager ``localCheckpoint``s, for two
    reasons: (1) the scrub regex chain inlined into the pair
    machinery's shingle lambdas re-evaluates per reference — pair
    generation alone measured 27.2s lazy vs 7.3s materialized at 5k
    docs; (2) four downstream branches (train, test, and the
    contamination join's two gram sides) would each re-derive the
    dedup subtree. A lazy ``.cache()`` does NOT fix (1) — branches
    inside one action can't reuse a cache still being computed
    (measured 41.7s cached vs 32.3s uncached vs ~12s checkpointed
    end-to-end)."""
    scrubbed = docs.withColumn("text", TX.scrub_pii(F.col("text")))

    exact_kept = dedup.exact_dedup(scrubbed, "text", id_col).localCheckpoint()
    pairs = dedup.ngram_jaccard_pairs_prefix(
        exact_kept, "text", id_col, threshold=jaccard_threshold)
    near_kept = dedup.keep_canonical(exact_kept, pairs, id_col) \
        .localCheckpoint()

    bucket = TX.md5_bucket(F.col("text"), n_buckets)
    with_bucket = near_kept.withColumn("_bucket", bucket)
    test = with_bucket.where(F.col("_bucket") == test_bucket).drop("_bucket")
    train = with_bucket.where(F.col("_bucket") != test_bucket).drop("_bucket")

    decontaminated = _decontaminate(train, test, id_col, contamination_n)
    final_train = decontaminated.where(
        _repetition_ratio() <= repetition_max)
    train_chunks = _chunk(final_train, id_col, chunk_size)

    return {
        "scrubbed": scrubbed,
        "exact_kept": exact_kept,
        "near_kept": near_kept,
        "train": train,
        "test": test,
        "decontaminated": decontaminated,
        "final_train": final_train,
        "train_chunks": train_chunks,
    }


# ---------------------------------------------------------------------------
# Shared stage expressions (in-memory and durable variants must be the
# SAME plan per stage — resume ≡ from-scratch depends on it).


def _decontaminate(train: DataFrame, test: DataFrame, id_col: str,
                   contamination_n: int) -> DataFrame:
    contaminated = (ngram_contamination(train, test, id_col=id_col,
                                        n=contamination_n)
                    .select(F.col("train_doc_id").alias(id_col)))
    return train.join(contaminated, id_col, "left_anti")


def _repetition_ratio() -> Column:
    toks = TX.tokens(F.lower(F.col("text")))
    return (F.lit(1.0)
            - F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double"))


def _chunk(final_train: DataFrame, id_col: str,
           chunk_size: int) -> DataFrame:
    toked = final_train.select(id_col, TX.tokens(F.col("text")).alias("_t"))
    n_chunks = F.ceil(F.size("_t") / F.lit(float(chunk_size))).cast("int")
    exploded = toked.select(
        id_col, "_t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"))
    chunk = F.slice(F.col("_t"), F.col("chunk_idx") * chunk_size + 1,
                    chunk_size)
    return exploded.select(
        id_col, F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))


#: durable stage order — each entry is (table name, builder); a stage
#: reads only tables of EARLIER stages, so the prefix property holds:
#: any committed prefix + a restart = the same final output.
_DURABLE_STAGES = ("exact_kept", "near_kept", "train", "test",
                   "train_chunks")


def curate_corpus_durable(spark, docs: DataFrame, root: str, *,
                          id_col: str = "doc_id",
                          jaccard_threshold: float = 0.5,
                          repetition_max: float = 0.5,
                          test_bucket: int = 9, n_buckets: int = 10,
                          contamination_n: int = 5,
                          chunk_size: int = 64,
                          stop_after: str | None = None) -> dict[str, str]:
    """The 100 TB shape of :func:`curate_corpus`: every reuse boundary
    is a DURABLE txlog table under ``root`` instead of a
    ``localCheckpoint``, so a stage's output survives the driver.

    Restartability: each stage publishes atomically via ``tx_write``
    and is SKIPPED on re-run when its table already has a commit
    (``tx_exists``), so a driver that dies between any two stages
    resumes exactly where it stopped — a crashed stage leaves only an
    unpublished orphan dir and re-runs. Because every stage is
    deterministic (md5 hashes, no rand()), resume ≡ from-scratch
    bit-for-bit (pinned by tests/test_curation.py).

    ``stop_after`` runs the pipeline only through the named stage —
    the stage-wise-orchestration entry point (one Airflow task per
    stage) that doubles as the crash-injection hook for the resume
    test. Returns ``{stage: table_path}`` for the stages now
    committed.
    """
    from ..sources.txlog import tx_exists, tx_read, tx_write

    # Validate BEFORE any stage runs: deferring this into stop() let a
    # typo'd stop_after execute (and commit) the first stage — on a
    # 100 TB corpus an expensive pass — before the error surfaced
    # (ADVICE r6).
    if stop_after is not None and stop_after not in _DURABLE_STAGES:
        raise ValueError(
            f"unknown stage {stop_after!r}; expected one of "
            f"{_DURABLE_STAGES}")

    tables = {s: f"{root}/{s}" for s in _DURABLE_STAGES}
    done: dict[str, str] = {}

    def ensure(stage: str, build) -> DataFrame | None:
        """Publish `stage` if absent; return its committed frame."""
        t = tables[stage]
        if not tx_exists(t):
            tx_write(build(), t, mode="overwrite")
        done[stage] = t
        return tx_read(spark, t)

    def stop(stage: str) -> bool:
        return stop_after == stage

    exact_kept = ensure("exact_kept", lambda: dedup.exact_dedup(
        docs.withColumn("text", TX.scrub_pii(F.col("text"))),
        "text", id_col))
    if stop("exact_kept"):
        return done

    def build_near():
        pairs = dedup.ngram_jaccard_pairs_prefix(
            exact_kept, "text", id_col, threshold=jaccard_threshold)
        return dedup.keep_canonical(exact_kept, pairs, id_col)
    near_kept = ensure("near_kept", build_near)
    if stop("near_kept"):
        return done

    bucket = TX.md5_bucket(F.col("text"), n_buckets)
    with_bucket = near_kept.withColumn("_bucket", bucket)
    train = ensure("train", lambda: with_bucket
                   .where(F.col("_bucket") != test_bucket).drop("_bucket"))
    if stop("train"):
        return done
    test = ensure("test", lambda: with_bucket
                  .where(F.col("_bucket") == test_bucket).drop("_bucket"))
    if stop("test"):
        return done

    def build_chunks():
        final_train = _decontaminate(train, test, id_col,
                                     contamination_n).where(
            _repetition_ratio() <= repetition_max)
        return _chunk(final_train, id_col, chunk_size)
    ensure("train_chunks", build_chunks)
    return done
