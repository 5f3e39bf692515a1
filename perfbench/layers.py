"""Per-layer metrics of a traced run.

Span metrics are self time (``_s``), Spark jobs (``.jobs``) and call
counts (``.calls``) of the named spans; jobs belong to the innermost
span open when they ran, so self numbers of all layers add up to the
ops' totals. The library's steps (initial load, publish, the daily
load, the warehouse read and the reports) are reported inclusive of the
layers below them. Op-time
layers are averaged per timed pass; set-up layers per set-up
repetition (``rep``, the ones ``setup_s`` takes: all but the first,
which launches the JVM) or per run (``run``). A layer the workload
never calls reads 0.
"""

from __future__ import annotations

from perfbench.trace import OPERATOR_MODULES

#: (metric, span name, field, scope, divisor)
SPAN_METRICS: list[tuple[str, str, str, str, str]] = [
    ("session.get_spark_s", "session.get_spark", "s", "setup", "rep"),
    ("generators.generate_s", "generators.generate", "s", "setup", "run"),
    ("generators.to_spark_s", "generators.to_spark", "s", "setup", "rep"),
    ("plans.library.initial_load_s", "plans.library.initial_load",
     "s_total", "setup", "run"),
    ("plans.library.initial_load_jobs", "plans.library.initial_load",
     "jobs_total", "setup", "run"),
    ("plans.library.publish_warehouse_s", "plans.library.publish_warehouse",
     "s_total", "setup", "run"),
    ("plans.library.publish_warehouse_jobs",
     "plans.library.publish_warehouse", "jobs_total", "setup", "run"),
]
for _f in ("calls", "jobs", "s"):
    SPAN_METRICS.append((f"sources.catalog.load_table.{_f}",
                         "sources.catalog.load_table", _f, "timed", "pass"))
for _name in ("plans.build", "plans.run"):
    SPAN_METRICS += [(f"{_name}.s", _name, "s", "timed", "pass"),
                     (f"{_name}.jobs", _name, "jobs", "timed", "pass")]
for _m in OPERATOR_MODULES:
    SPAN_METRICS += [(f"operators.{_m}.s", f"operators.{_m}", "s", "timed",
                      "pass"),
                     (f"operators.{_m}.jobs", f"operators.{_m}", "jobs",
                      "timed", "pass")]
SPAN_METRICS += [
    ("pipelines.curate_corpus.build_s", "pipelines.curate_corpus", "s",
     "timed", "pass"),
    ("pipelines.curate_corpus.jobs", "pipelines.curate_corpus", "jobs",
     "timed", "pass"),
]
# the daily cycle's steps, inclusive of the layers below them; a
# report's step is its whole op (construction and execution)
for _fn, _span in (("subsequent_load_durable",
                    "plans.library.subsequent_load_durable"),
                   ("read_warehouse", "plans.library.read_warehouse"),
                   ("query1", "op.query1"), ("query3", "op.query3")):
    SPAN_METRICS += [
        (f"plans.library.{_fn}_s", _span, "s_total", "timed", "pass"),
        (f"plans.library.{_fn}_jobs", _span, "jobs_total", "timed", "pass")]
for _fn in ("tx_write", "tx_merge_parts", "tx_read", "tx_read_parts"):
    for _f in ("calls", "s", "jobs"):
        SPAN_METRICS.append((f"sources.txlog.{_fn}.{_f}",
                             f"sources.txlog.{_fn}", _f, "timed", "pass"))
for _f in ("calls", "s", "jobs"):
    SPAN_METRICS.append((f"sources.txmulti.{_f}", "sources.txmulti", _f,
                         "timed", "pass"))

#: the tables a daily batch rewrites (its dims and the facts it merges)
WAREHOUSE_TABLES = ("dim_book", "dim_members", "dim_suppliers",
                    "fact_sales", "fact_borrowing")

SPARK_FIELDS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
                ("shuffle_read_bytes", "bytes"),
                ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))


UNITS = {"s": "s", "s_total": "s", "jobs": "count", "jobs_total": "count",
         "calls": "count"}


def metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = [(m, UNITS[f], "lower") for m, _, f, _, _ in SPAN_METRICS]
    out += [("sources.txlog.bytes_written", "bytes", "lower"),
            ("sources.txlog.files_written", "count", "lower")]
    for t in WAREHOUSE_TABLES:
        out += [(f"sources.txlog.{t}.bytes_written", "bytes", "lower"),
                (f"sources.txlog.{t}.files_written", "count", "lower")]
    out += [("sources.txlog.partitions_rewritten", "count", "lower"),
            ("sources.txlog.partitions_touched_by_delta", "count", "lower"),
            ("write_p50_s", "s", "lower"),
            ("read_p50_s", "s", "lower"),
            ("bytes_written_per_delta_row", "bytes", "lower")]
    out += [(f"spark.{f}", u, "lower") for f, u in SPARK_FIELDS]
    out += [("spark.result_rows", "count", "lower")]
    out += [(f"spark.catalyst.{p}_ms", "ms", "lower")
            for p in ("analysis", "optimization", "planning")]
    out += [("trace.ops_per_min", "1/min", "higher"),
            ("trace.overhead_ratio", "ratio", "lower"),
            ("trace.self_time_coverage", "ratio", "higher"),
            ("failed_ops_ratio", "ratio", "lower")]
    return out


def per_layer(h, groups: dict, failed_ratio: float, traced_opm: float,
              details: dict, setup_reps: int) -> dict[str, tuple[float, str]]:
    spans = h.tracer.spans
    res = h.results
    timed = [p for p in h.passes if p["timed"]]
    n_pass = len(timed)
    timed_ops = {i for p in timed for i in p["ops"]}
    scope = {"setup": [s for s in spans if s.op is None],
             "timed": [s for s in spans if s.op in timed_ops]}
    divisor = {"pass": n_pass, "rep": setup_reps, "run": 1}
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def jobs(s) -> int:
        return groups.get(s.group, {}).get("jobs", 0)

    def subtree_jobs(s) -> int:
        return jobs(s) + sum(subtree_jobs(c) for c in children.get(s.id, []))

    out: dict[str, tuple[float, str]] = {}
    for metric, name, field, sc, div in SPAN_METRICS:
        sel = [s for s in scope[sc] if s.name == name]
        # an inclusive figure counts only the outermost span of a name
        top = [s for s in sel if s.parent is None
               or spans[s.parent].name != name]
        v = {"calls": lambda: len(sel),
             "s": lambda: sum(s.self_s for s in sel),
             "jobs": lambda: sum(jobs(s) for s in sel),
             "s_total": lambda: sum(s.seconds for s in top),
             "jobs_total": lambda: sum(subtree_jobs(s) for s in top),
             }[field]()
        out[metric] = (float(v) / divisor[div], UNITS[field])

    writes = [res[i] for p in timed for i in p["ops"]
              if res[i].op.kind == "write" and "io" in res[i].info]
    n_writes = max(1, len(writes))
    tot = {"bytes": 0, "files": 0}
    per_t = {t: {"bytes": 0, "files": 0} for t in WAREHOUSE_TABLES}
    parts = touched = rows = 0
    for r in writes:
        for t, acc in r.info["io"].items():
            tot["bytes"] += acc["bytes"]
            tot["files"] += acc["files"]
            if t in per_t:
                per_t[t]["bytes"] += acc["bytes"]
                per_t[t]["files"] += acc["files"]
        parts += r.info["partitions_rewritten"]
        touched += r.info["partitions_touched_by_delta"]
        rows += r.op.delta_rows
    out["sources.txlog.bytes_written"] = (tot["bytes"] / n_writes, "bytes")
    out["sources.txlog.files_written"] = (tot["files"] / n_writes, "count")
    for t, acc in per_t.items():
        out[f"sources.txlog.{t}.bytes_written"] = (acc["bytes"] / n_writes,
                                                   "bytes")
        out[f"sources.txlog.{t}.files_written"] = (acc["files"] / n_writes,
                                                   "count")
    out["sources.txlog.partitions_rewritten"] = (parts / n_writes, "count")
    out["sources.txlog.partitions_touched_by_delta"] = (touched / n_writes,
                                                        "count")
    out["write_p50_s"] = (details["write_p50_s"] or 0.0, "s")
    out["read_p50_s"] = (details["read_p50_s"] or 0.0, "s")
    out["bytes_written_per_delta_row"] = (
        tot["bytes"] / rows if rows else 0.0, "bytes")

    spark = dict.fromkeys((f for f, _ in SPARK_FIELDS), 0.0)
    catalyst = dict.fromkeys(("analysis", "optimization", "planning"), 0)
    for s in scope["timed"]:
        for f in spark:
            spark[f] += groups.get(s.group, {}).get(f, 0)
        for k, v in s.info.get("catalyst", {}).items():
            catalyst[k] += v
    for f, u in SPARK_FIELDS:
        out[f"spark.{f}"] = (spark[f] / n_pass, u)
    out["spark.result_rows"] = (
        sum(res[i].rows for i in timed_ops) / n_pass, "count")
    for k, v in catalyst.items():
        out[f"spark.catalyst.{k}_ms"] = (v / n_pass, "ms")

    op_s = sum(res[i].seconds for i in timed_ops)
    op_self = sum(s.self_s for s in scope["timed"] if s.name.startswith("op."))
    out["trace.ops_per_min"] = (traced_opm, "1/min")
    out["trace.overhead_ratio"] = (op_s / (op_s - h.tracer.overhead_s),
                                   "ratio")
    out["trace.self_time_coverage"] = (1.0 - op_self / op_s, "ratio")
    out["failed_ops_ratio"] = (failed_ratio, "ratio")
    return out
