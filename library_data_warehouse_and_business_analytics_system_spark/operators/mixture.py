"""Temperature-weighted data mixing: allocate a global token budget
across sources with sampling weights ∝ (source tokens)^alpha — the
standard multi-source training-data recipe (alpha < 1 flattens the
mixture, upsampling tail sources relative to their raw share), then
select documents per source in deterministic content-hash order until
each source's budget is spent.

Scale shape: the weight computation is one tiny per-source aggregate
(two-phase) crossed with a broadcast scalar denominator; document
selection uses the TWO-PHASE ordered scan from ``operators/scan.py``
(VERDICT r6) instead of a per-source window:
mixing jobs have FEW, HUGE sources by definition (that's why you
temperature-sample), so ``Window.partitionBy(source)`` would put the
dominant source's entire document set through one reducer. Here the
triples range-shuffle on (source, hash, id) across all partitions,
per-(partition, source) token totals cumulate driver-side into
offsets (#partitions × #sources tiny rows, broadcast back), and a
per-partition window adds the local running sum — no source ever
serializes.

Determinism: the selection order is a salted md5 over the document
id, so the sample is reproducible across runs, engines, and
partitionings (the same contract as stratified_doc_sample /
doc_hash_split); the per-source cumulative sums are identical to the
single-window formulation regardless of where the range boundaries
land, because the offsets are computed from the actual partitions.

alpha = 0.5 evaluates via IEEE sqrt (bit-identical across engines,
which the driver gate's DuckDB differential relies on); other alphas
go through pow, whose last-ulp behavior may differ between libm
implementations — fine for production sampling, not for a bit-exact
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from .scan import running_total


def temperature_mixture(docs: DataFrame, total_budget: int,
                        alpha: float = 0.5, text_col: str = "text",
                        id_col: str = "doc_id", source_col: str = "source",
                        salt: str = "mix:",
                        n_partitions: int | None = None) -> DataFrame:
    """Returns ``(id_col, source_col, n_tokens, src_budget, kept)``:
    every document annotated with its source's temperature-allocated
    token budget and whether it falls inside it."""
    toks = docs.select(
        F.col(id_col), F.col(source_col),
        TX.token_count(F.col(text_col)).cast("long").alias("n_tokens"))
    weight = (F.sqrt(F.col("src_tokens")) if alpha == 0.5
              else F.pow("src_tokens", F.lit(alpha)))
    src = (toks.groupBy(source_col)
           .agg(F.sum("n_tokens").alias("src_tokens"))
           .withColumn("w", weight))
    denom = src.agg(F.sum("w").alias("d"))
    budgets = (src.crossJoin(F.broadcast(denom))
               .select(source_col,
                       F.floor(F.lit(float(total_budget)) * F.col("w")
                               / F.col("d")).cast("bigint")
                       .alias("src_budget")))

    # Two-phase per-source running token total (operators/scan.py):
    # range-shuffle on (source, order key), so a source's rows span
    # MANY partitions in order — then offsets restore the per-source
    # global running sum.
    order_key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    cum, _ = running_total(toks.withColumn("_ok", order_key), "_cum",
                           ["_ok", id_col], [source_col],
                           measure=F.col("n_tokens"), parts=n_partitions)
    return (
        cum.join(F.broadcast(budgets), source_col)
        .select(id_col, source_col, "n_tokens", "src_budget",
                ((F.col("_cum") - F.col("n_tokens"))
                 < F.col("src_budget")).alias("kept"))
    )
