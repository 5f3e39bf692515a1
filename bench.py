"""Benchmark harness: times every registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the library ETL/report section and the
corpus-curation pipeline section, and prints ONE JSON line.

Sampling rule (:func:`sample`): headline items — the ``bench=True``
queries and the library and pipeline sections — always get ``RUNS``
timed calls, whatever the budget. Every other query is timed in up to
``RUNS`` passes over the registry while $SPARK_GRAFT_BENCH_BUDGET_SEC
(default 840 s, counted from start-up) lasts. An item's estimate is
the lower median of its samples (contention only ever adds time), and
a query the budget cut before its first sample is listed in
``skipped``. A budget of 0 times the headline items only.

A failing call never kills the run: its traceback tail lands in the
``errors`` map, and the samples of earlier calls still count.

The stdout line holds the headline timings only, so a tail-limited
capture cannot clip it. The complete per-query dict goes to
``BENCH_FULL.json`` next to this file (``BENCH_FULL_sf{N}.json`` for a
run at another scale). Both are scratch outputs that every run
overwrites, so they are gitignored; a change that quotes bench numbers
records them in CHANGES.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from library_data_warehouse_and_business_analytics_system_spark.plans import QUERIES
from library_data_warehouse_and_business_analytics_system_spark.session import get_spark

#: Timed calls per headline item, and passes over the other queries.
RUNS = 3

#: (name, call, headline): ``call()`` runs the item's work to completion.
Item = tuple[str, Callable[[], object], bool]


def lower_median(samples: list[float]) -> float:
    return sorted(samples)[(len(samples) - 1) // 2]


def sample(items: list[Item], budget: float,
           clock: Callable[[], float] = time.perf_counter,
           ) -> tuple[dict[str, list[float]], dict[str, str], list[str]]:
    """Time ``items`` under the sampling rule (module docstring) and
    return (samples per name, error per name, skipped names). A call
    that raises ends that item's sampling; its earlier samples stay."""
    t0 = clock()
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}

    def timed(name: str, call: Callable[[], object]) -> bool:
        start = clock()
        try:
            call()
        except Exception:
            errors.setdefault(name, traceback.format_exc(limit=2)[-400:])
            return False
        samples.setdefault(name, []).append(clock() - start)
        return True

    for name, call, headline in items:
        if headline:
            for _ in range(RUNS):
                if not timed(name, call):
                    break
    for _ in range(RUNS):
        for name, call, headline in items:
            if not headline and name not in errors and clock() - t0 < budget:
                timed(name, call)
    skipped = [name for name, _, _ in items
               if name not in samples and name not in errors]
    return samples, errors, skipped


def _host_speed() -> dict:
    """~1 s code-independent host-speed stamp, so a reader can tell a
    uniformly slower host from a slower program. Two axes: numpy
    matmul ≈ BLAS/SIMD throughput, a pure-Python loop ≈ interpreter
    speed + CPU steal. The matmul size is IN the key: single-thread
    GFLOPs depend on it (cache/BLAS kernel regime), so only same-size
    numbers compare."""
    out: dict[str, float] = {}
    try:
        import numpy as np
        a = np.ones((1024, 1024))
        a @ a  # warm the BLAS dispatch path
        t0 = time.perf_counter()
        for _ in range(4):
            a @ a
        dt = time.perf_counter() - t0
        out["numpy_matmul_gflops_1024"] = round(4 * 2 * 1024**3 / dt / 1e9,
                                                2)
    except Exception:  # pragma: no cover - numpy always present here
        pass
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    out["pyloop_5m_sec"] = round(time.perf_counter() - t0, 3)
    return out


def _load1() -> float | None:
    try:
        return os.getloadavg()[0]
    except OSError:  # pragma: no cover - non-POSIX
        return None


def _library_items(spark) -> list[Item]:
    """Library-domain section: fixture synthesis, the initial-load ETL
    and the LQY reports, at the reference's designed volumes
    (scale=1.0: 7.5k members / 200k borrows — BASELINE.md).
    ``library_generate`` is driver-side Python, ``library_etl`` the
    initial-load plan build + materialization; the reports run on the
    warehouse of the latest ETL call."""
    from concurrent.futures import ThreadPoolExecutor

    from library_data_warehouse_and_business_analytics_system_spark.generators.library_data import (  # noqa: E501
        AS_OF, generate,
    )
    from library_data_warehouse_and_business_analytics_system_spark.plans.library import (  # noqa: E501
        initial_load, query1, query2, query3,
    )
    state: dict = {}

    def gen() -> None:
        state["raw"] = generate(seed=42, scale=1.0)

    def etl() -> None:
        for df in state.pop("dw", {}).values():
            df.unpersist()
        dw = initial_load(spark, state["raw"].to_spark(spark), as_of=AS_OF)
        dw = {k: v.cache() for k, v in dw.items()}
        # The seven loads are independent jobs whose tail stages run on
        # few partitions, so they are submitted from a small pool. Dims
        # are listed first and win their cache blocks' locks, so
        # fact-side dim subtrees still reuse them.
        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(lambda df: df.count(), dw.values()))
        state["dw"] = dw

    def report(q) -> Callable[[], object]:
        return lambda: q(state["dw"], 2019, 2024).collect()

    return [("library_generate", gen, True), ("library_etl", etl, True),
            ("lqy_query1", report(query1), True),
            ("lqy_query2", report(query2), True),
            ("lqy_query3", report(query3), True)]


def _pipeline_items(spark, sf_dir: str, counts: dict) -> list[Item]:
    """Flagship composition: the corpus-curation pipeline (scrub →
    dedup → split → decontaminate → filter → chunk) as one
    materialization, its durable twin with every stage boundary a
    txlog table write (the delta between the two is the price of
    durability), sequence packing and int8 quantization."""
    import shutil
    import tempfile

    from library_data_warehouse_and_business_analytics_system_spark.operators.packing import (  # noqa: E501
        pack_sequences,
    )
    from library_data_warehouse_and_business_analytics_system_spark.operators.quantize import (  # noqa: E501
        quantize_int8,
    )
    from library_data_warehouse_and_business_analytics_system_spark.pipelines import (  # noqa: E501
        curate_corpus, curate_corpus_durable,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (  # noqa: E501
        load_table,
    )
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def curation() -> None:
        n_chunks = curate_corpus(docs)["train_chunks"].count()
        counts["corpus_curation_chunks"] = float(n_chunks)

    def durable() -> None:
        root = tempfile.mkdtemp(prefix="bench_curation_")
        try:
            curate_corpus_durable(spark, docs, root)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return [
        ("corpus_curation", curation, True),
        ("corpus_curation_durable", durable, True),
        ("sequence_packing", lambda: pack_sequences(docs, seq_len=256)
         .selectExpr("max(end_tok)").collect(), True),
        ("int8_quantize", lambda: quantize_int8(emb, "embedding")
         .selectExpr("sum(size(qvec))", "sum(scale)").collect(), True),
    ]


def spread(by_name: dict[str, list[float]]) -> dict[str, list[float]]:
    return {n: [round(min(v), 4), round(lower_median(v), 4),
                round(max(v), 4)] for n, v in by_name.items() if len(v) > 1}


def artifact(samples: dict[str, list[float]],
             section_samples: dict[str, list[float]], **run) -> dict:
    """The ``BENCH_FULL.json`` payload. Registry timings and spreads go
    under ``queries`` and ``stats``; the library and pipeline sections'
    go under ``sections``, because the library section's report names
    (``lqy_query1..3``) are registry names too. ``run`` adds the run's
    ``counts``, ``errors``, ``skipped``, ``shed``, ``host`` and ``sf``."""
    timings = {n: round(lower_median(v), 4) for n, v in samples.items()}
    extra = {n: round(lower_median(v), 4)
             for n, v in section_samples.items()}
    if "library_generate" in extra and "library_etl" in extra:
        extra["library_initial_load"] = round(
            extra["library_generate"] + extra["library_etl"], 4)
    return {
        "metric": "headline_queries_total",
        "value": round(sum(t for n, t in timings.items()
                           if QUERIES[n].bench), 4),
        "unit": "sec",
        "queries": timings,
        "stats": spread(samples),
        "sections": {"queries": extra, "stats": spread(section_samples)},
        "all_queries_total": round(sum(timings.values()), 4),
        "n_queries": len(timings),
        **run,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "840"))
    t_begin = time.perf_counter()
    load1_start = _load1()  # before our own JVM: the external contention
    speed = _host_speed()   # before the JVM: unpolluted by executors
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    counts: dict[str, float] = {}
    # The library section's report names are registry names too, so the
    # sections are sampled (and reported) apart from the registry.
    section_samples, section_errors, _ = sample(
        _library_items(spark) + _pipeline_items(spark, sf_dir, counts), 0.0)
    specs = sorted(QUERIES.values(), key=lambda s: not s.bench)
    samples, errors, skipped = sample(
        [(s.name, lambda s=s: s.fn(spark, sf_dir).collect(), s.bench)
         for s in specs],
        budget - (time.perf_counter() - t_begin))
    errors.update({f"section {n}": e for n, e in section_errors.items()})

    # Breadth passes the budget cut before every query had its sample.
    breadth = [s.name for s in specs
               if not s.bench and s.name not in errors]
    shed = [f"breadth_pass_{p}" for p in range(1, RUNS + 1)
            if any(len(samples.get(n, ())) < p for n in breadth)]

    host = {"cpus": os.cpu_count(), "load1_at_start": load1_start,
            "load1_at_exit": _load1(),
            "wall_sec": round(time.perf_counter() - t_begin, 1),
            **speed}
    full = artifact(samples, section_samples, counts=counts, errors=errors,
                    skipped=skipped, shed=shed, host=host, sf=float(sf))
    try:
        # A smoke run at another scale must not overwrite the sf0.1
        # artifact.
        name = ("BENCH_FULL.json" if "SPARK_GRAFT_SF_DIR" not in os.environ
                or sf_dir.rstrip("/").endswith("sf0.1")
                else f"BENCH_FULL_sf{sf}.json")
        out = Path(__file__).resolve().parent / name
        out.write_text(json.dumps(full, indent=1))
    except OSError:
        pass

    slim_queries = {**{n: t for n, t in full["queries"].items()
                       if QUERIES[n].bench},
                    **full["sections"]["queries"]}
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": full["value"],
        "unit": "sec",
        "queries": slim_queries,
        "all_queries_total": full["all_queries_total"],
        "n_queries": full["n_queries"],
        "n_skipped": len(skipped),
        "n_errors": len(errors),
        "shed": shed,
        "host": host,
        "sf": float(sf),
    }), flush=True)


if __name__ == "__main__":
    main()
