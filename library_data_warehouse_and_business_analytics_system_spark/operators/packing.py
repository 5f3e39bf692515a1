"""Cross-document sequence packing: give every document its exact
span [start_tok, end_tok) in a deterministic global token stream, so
shard writers can slice fixed-length training sequences (seq_len
boundaries) without any coordination beyond this frame.

The hard part at scale is the GLOBAL cumulative token offset — a
naive ``Window.orderBy(...)`` is a single-partition sort of the whole
corpus. This uses the two-phase ordered scan (``operators/scan.py``):

1. ``repartitionByRange`` on the deterministic order key — a real
   range shuffle, parallel, and partition i holds strictly smaller
   keys than partition i+1;
2. per-partition token totals (one tiny collect: #partitions rows),
   cumulated driver-side into per-partition offsets;
3. a PER-PARTITION window adds the local running sum to the
   partition's offset — no global window anywhere.

Order is content-deterministic (md5 over salted text, doc id
tie-break), so the pack layout is reproducible across runs and
engines — the same property the hash split and stratified sample
guarantee, extended to sequence order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from .scan import running_total


def pack_sequences(docs: DataFrame, seq_len: int = 256,
                   id_col: str = "doc_id", text_col: str = "text",
                   n_partitions: int | None = None,
                   salt: str = "pack:") -> DataFrame:
    """Returns ``(id_col, n_tokens, start_tok, end_tok, first_seq,
    last_seq)`` — spans are gapless and non-overlapping over the
    corpus; ``first_seq``/``last_seq`` are the fixed-length sequence
    ids the document's tokens land in (inclusive)."""
    base = docs.select(
        F.col(id_col),
        F.md5(F.concat(F.lit(salt), F.col(text_col))).alias("_ok"),
        TX.token_count(F.col(text_col)).cast("long").alias("n_tokens"))
    # two-phase running token total in the deterministic order
    # (operators/scan.py): per-partition totals chained into offsets
    # on the driver, then a per-partition window — no global window
    cum, _ = running_total(base, "_cum", ["_ok", id_col],
                           measure=F.col("n_tokens"), parts=n_partitions)
    end = F.col("_cum")
    start = end - F.col("n_tokens")
    return (
        cum.select(
            id_col, "n_tokens",
            start.alias("start_tok"), end.alias("end_tok"),
            F.floor(start / seq_len).cast("long").alias("first_seq"),
            # last token index is end-1; empty docs stay in first_seq
            F.greatest(F.floor((end - 1) / seq_len),
                       F.floor(start / seq_len))
            .cast("long").alias("last_seq"))
    )
