"""The benchmark's workloads: what is set up, which ops are timed, and
how each op's output is checked.

An op is one timed call into the engine. Ops run in passes; every timed
pass runs the same ops in the same order, so each pass does the same
work and per-pass counts repeat.

- :class:`Registry` runs named registry queries and the curation
  pipeline over seeded parquet inputs and checks each result against a
  reference that does not run the engine (the query's DuckDB oracle, or
  a pure-Python curation), computed once after the timed region.
- :class:`LibraryDaily` runs the library warehouse's daily cycle: one
  durable incremental load per daily batch, then a consistent warehouse
  read and the three LQY reports. After the timed region the durable
  warehouse is compared with the in-memory load chain on the same
  batches, and the last batch's reports with the reports' reference
  SQL run by DuckDB over the chain's tables.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from . import curate_ref, datagen
from .digest import digest, rows_close, spark_digest
from .trace import PKG, Tracer


@dataclass
class Op:
    """One timed call. ``run`` returns ``(columns, rows)`` of its
    output, which the harness digests after the clock stops, or
    ``None`` for an op whose output is checked at the end as a whole."""
    name: str
    kind: str                      # "read" | "write"
    run: Callable[[], tuple[list[str], list] | None]
    delta_rows: int = 0
    window: tuple[int, int] | None = None    # LQY report year window


@dataclass
class OpResult:
    op: Op
    pass_no: int
    seconds: float
    digest: str | None = None
    rows: int = 0
    error: str | None = None
    info: dict = field(default_factory=dict)


def _pkg(path: str):
    import importlib
    return importlib.import_module(f"{PKG}.{path}")


def stop_session() -> None:
    """Stop the active SparkContext, if any; the JVM stays up."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        from pyspark.sql import SparkSession
        SparkSession.builder.getOrCreate().stop()


def start_session():
    """A fresh session through the engine's own factory."""
    spark = _pkg("session").get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Registry:
    """Registry queries and the curation pipeline over seeded
    TPC-H-like parquet inputs."""

    #: row-count scale of the generated inputs (sf1 = 6M lineitem rows)
    SF = 0.01
    #: one untimed pass first: it pays the JVM's first-call costs. Op
    #: times keep falling over the next three passes while the JIT
    #: compiles the plan-construction code (curate_corpus: 1.84, 1.66,
    #: 1.46, 1.31, then 1.2-1.3 s), but two or three warm passes left
    #: the run-to-run spread as wide (the host's speed set it) and cost
    #: time the benchmark's budget does not have.
    WARM_PASSES = 1
    CURATE = "curate_corpus"

    def __init__(self, ops: tuple[str, ...], inputs: tuple[str, ...],
                 seed: int, work: Path, tracer: Tracer) -> None:
        self.names = ops
        self.inputs = inputs
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = str(work / "inputs")
        self.spark = None
        self.queries = _pkg("plans").QUERIES

    def generate(self) -> None:
        datagen.write_tables(self.sf_dir, self.seed, self.SF, self.inputs)

    def setup_rep(self) -> None:
        """Session bring-up plus opening the tables the ops read."""
        self.spark = start_session()
        load_table = _pkg("sources.catalog").load_table
        for t in self.inputs:
            load_table(self.spark, self.sf_dir, t)

    def prepare(self) -> None:
        pass

    def before_op(self, op: Op) -> None:
        pass

    def after_op(self, res: OpResult) -> None:
        pass

    def pass_ops(self, pass_no: int) -> list[Op]:
        # one fixed order: an op's latency depends on its place in the
        # pass (copurchase_triangles took 2.3 s in one place, 3.0 s in
        # another), so a seed-permuted order moved latencies by seed
        return [Op(n, "read", self._op(n)) for n in self.names]

    def _op(self, name: str):
        tr = self.tracer

        def run():
            with tr.span("plans.build"):
                df = self._build(name)
            with tr.span("plans.run") as sp:
                rows = df.collect()
                sp.info["df"] = df
            return df.columns, rows
        return run

    def _build(self, name: str):
        if name == self.CURATE:
            docs = _pkg("sources.catalog").load_table(
                self.spark, self.sf_dir, "documents")
            return _pkg("pipelines").curate_corpus(docs)["train_chunks"]
        return self.queries[name].fn(self.spark, self.sf_dir)

    def expected(self) -> dict[str, str]:
        """Reference digest per op name, computed outside the timed
        region and without Spark: the DuckDB oracle for registry
        queries, and the pure-Python restatement in :mod:`curate_ref`
        for the curation pipeline."""
        import duckdb
        import pandas as pd
        out: dict[str, str] = {}
        con = duckdb.connect()
        try:
            for t in self.inputs:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
            for n in self.names:
                if n == self.CURATE:
                    docs = pd.read_parquet(
                        os.path.join(self.sf_dir, "documents.parquet"))
                    rows = curate_ref.train_chunks(docs["doc_id"].tolist(),
                                                   docs["text"].tolist())
                    out[n] = digest(curate_ref.COLUMNS, rows)
                    continue
                cur = con.execute(self.queries[n].oracle)
                cols = [d[0] for d in cur.description]
                out[n] = digest(cols, cur.fetchall())
        finally:
            con.close()
        return out

    def final_checks(self, results: list[OpResult]) -> list[str]:
        want = self.expected()
        bad = []
        for r in results:
            if r.error is None and r.digest != want[r.op.name]:
                r.error = "output differs from the reference"
                bad.append(f"{r.op.name} (pass {r.pass_no})")
        return bad

    def cleanup(self) -> None:
        pass


def catalyst_ms(df) -> dict[str, int]:
    """Catalyst analysis/optimization/planning time of ``df``'s last
    execution, from its query-execution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k] = int(p.get().durationMs()) if p.isDefined() else 0
    return out


# ---------------------------------------------------------------------------
# Library warehouse daily cycle

#: date column that places a row on a day, per date-driven OLTP table
_DAY_COL = {"members": "registrationDate", "borrowed_books": "borrowDate",
            "purchase_orders": "purchaseDate", "book_orders": "salesDate"}
#: child table -> (parent table, foreign key column)
_CHILD = {"sales_details": ("book_orders", "orderId"),
          "purchase_details": ("purchase_orders", "purchaseOrderId")}
#: delta table -> column whose value groups its rows into one batch
#: unit: one day's borrows, one sales order's lines
_BATCH_UNIT = {"borrowed_books": "borrowDate", "sales_details": "orderId"}
#: delta table -> fact whose year partitions its rows land in
_FACT_OF = {"borrowed_books": "fact_borrowing", "sales_details": "fact_sales"}


def _col_index(table: str, col: str) -> int:
    schema = _pkg("schema").OLTP_SCHEMAS[table]
    return [f.name for f in schema.fields].index(col)


def split_batches(tables: dict[str, list[tuple]], cutoff: dt.date):
    """Rows dated before ``cutoff`` form the base OLTP. Later rows of the
    delta tables form daily batches of one shape: batch k holds the k-th
    day's borrows and the k-th sales order after the cutoff, each in
    date order, so every batch runs both fact merge paths. Returns
    ``(base, batches, years)`` where ``years[k]`` maps each fact to the
    year partition batch k touches."""
    day_of = {}                             # table -> primary key -> day
    for t, col in _DAY_COL.items():
        i = _col_index(t, col)
        day_of[t] = {r[0]: r[i] for r in tables[t]}
    base: dict[str, list[tuple]] = {}
    units: dict[str, dict] = {t: {} for t in _BATCH_UNIT}
    for t, rows in tables.items():
        if t in _DAY_COL:
            key, lookup = 0, day_of[t]
        elif t in _CHILD:
            parent, fk = _CHILD[t]
            key, lookup = _col_index(t, fk), day_of[parent]
        else:
            base[t] = rows
            continue
        base[t] = []
        unit = _col_index(t, _BATCH_UNIT[t]) if t in _BATCH_UNIT else None
        for r in rows:
            d = lookup[r[key]]
            if d < cutoff:
                base[t].append(r)
            elif unit is not None:
                units[t].setdefault(r[unit], (d, []))[1].append(r)
    ordered = {t: sorted(u.values(), key=lambda x: (x[0], x[1][0][0]))
               for t, u in units.items()}
    n = min(len(v) for v in ordered.values())
    batches = [{t: ordered[t][k][1] for t in ordered} for k in range(n)]
    years = [{f: ordered[t][k][0].year for t, f in _FACT_OF.items()}
             for k in range(n)]
    return base, batches, years


def lqy_sql(name: str, lo: int, hi: int) -> str:
    """The reference SQL of LQY report ``name`` over years ``lo..hi``,
    with the parameters the reports' defaults use (top 5 genres for all
    genders; all states at a 15% target)."""
    gate = _pkg("plans.library_gate")
    sql, params = {"query1": (gate.Q1_SQL, {"g": "ALL", "lim": 5}),
                   "query3": (gate.Q3_SQL, {"cov": 15, "sp": "1=1"})}[name]
    return sql.format(yf=lo, yt=hi, **params)


def _tree(root: Path) -> dict[str, int]:
    return {str(p.relative_to(root)): p.stat().st_size
            for p in root.rglob("*") if p.is_file()}


class LibraryDaily:
    """Durable daily loads beside consistent reads and LQY reports."""

    #: library OLTP scale (1.0 = 7.5k members, 200k borrows)
    SCALE = 0.05
    #: LQY reports run after each daily load, each over its own seeded
    #: year window. A timed day runs query3 over four windows, so the
    #: median op is one of its repeated samples (the first query3 of a
    #: day runs about a third slower than the others); the warm day
    #: needs each report once. query2, the costliest, is left out to
    #: keep a run inside the benchmark's time budget.
    REPORTS = ("query1", "query3", "query3", "query3", "query3")
    WARM_REPORTS = ("query1", "query3")
    #: the first daily batch runs untimed: the initial load does not
    #: reach the daily load's merge and part-merge code paths
    WARM_PASSES = 1
    TABLES = ("dim_date", "dim_book", "dim_members", "dim_suppliers",
              "fact_sales", "fact_borrowing", "fact_purchase")

    def __init__(self, seed: int, work: Path, tracer: Tracer) -> None:
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.work = work
        self.spark = None
        self.gen = _pkg("generators.library_data")
        # at this scale sales orders are about a month apart; a cutoff
        # in July-August 2023 leaves at least ten daily batches
        self.cutoff = dt.date(2023, 7, 1) + dt.timedelta(
            days=self.rng.randint(0, 59))
        self.root: Path | None = None
        self.applied: list[int] = []
        #: (result, output) of the last batch's report ops
        self.last_reports: list[tuple[OpResult, tuple]] = []

    def generate(self) -> None:
        data = self.gen.generate(seed=self.seed, scale=self.SCALE)
        self.full = data
        base, self.batches, self.years = split_batches(data.tables,
                                                       self.cutoff)
        self.base = self.gen.LibraryData(base)

    def setup_rep(self) -> None:
        """Session bring-up plus the pre-cutoff OLTP frames the initial
        load reads."""
        self.spark = start_session()
        self.oltp_base = self.base.to_spark(self.spark)

    def prepare(self) -> None:
        """EP2: initial load of the base, published to a fresh root; the
        full OLTP state is what the daily loads join against."""
        lib = _pkg("plans.library")
        durable = _pkg("plans.library.durable")
        self.oltp = self.full.to_spark(self.spark)
        dw = lib.initial_load(self.spark, self.oltp_base, self.gen.AS_OF)
        # cached so the final check's in-memory chain starts from the
        # same frames; publishing fills the cache
        self.dw = {k: v.cache() for k, v in dw.items()}
        self.root = self.work / "warehouse"
        durable.publish_warehouse(self.spark, self.dw, str(self.root))

    def _delta(self, k: int):
        schemas = _pkg("schema").OLTP_SCHEMAS
        return {t: self.spark.createDataFrame(rows, schemas[t])
                for t, rows in self.batches[k].items()}

    def pass_ops(self, pass_no: int) -> list[Op]:
        if pass_no >= len(self.batches):
            raise RuntimeError("library_daily ran out of daily batches "
                               f"after the cutoff {self.cutoff}")
        durable = _pkg("plans.library.durable")
        reports = _pkg("plans.library.reports")
        root = str(self.root)
        delta = self._delta(pass_no)
        n_rows = sum(len(v) for v in self.batches[pass_no].values())

        def write():
            durable.subsequent_load_durable(self.spark, root, self.oltp,
                                            delta, self.gen.AS_OF)
            self.applied.append(pass_no)
            return None

        def read():
            self.read_back = durable.read_warehouse(self.spark, root,
                                                    consistent=True)
            return None

        def report(name: str, lo: int, hi: int):
            def run():
                with self.tracer.span("plans.run") as sp:
                    df = getattr(reports, name)(self.read_back, lo, hi)
                    rows = df.collect()
                    sp.info["df"] = df
                self._out = (df.columns, rows)
                return self._out
            return run

        ops = [Op("subsequent_load_durable", "write", write,
                  delta_rows=n_rows),
               Op("read_warehouse", "read", read)]
        warm = pass_no < self.WARM_PASSES
        for q in self.WARM_REPORTS if warm else self.REPORTS:
            lo = self.rng.randint(2005, 2021)
            hi = lo + self.rng.randint(1, 3)
            ops.append(Op(q, "read", report(q, lo, hi), window=(lo, hi)))
        self._batch = pass_no
        self.last_reports = []
        return ops

    def before_op(self, op: Op) -> None:
        if op.kind == "write":
            self._before = _tree(self.root)

    def after_op(self, res: OpResult) -> None:
        """Bytes and files the write added, per table (untimed)."""
        if res.op.kind != "write":
            if res.op.window is not None:
                self.last_reports.append((res, self._out))
            return
        before, k = self._before, self._batch
        after = _tree(self.root)
        new = {p: s for p, s in after.items() if p not in before}
        per_table: dict[str, dict] = {}
        parts = set()
        for p, s in new.items():
            table = p.split("/", 1)[0]
            acc = per_table.setdefault(table, {"bytes": 0, "files": 0})
            acc["bytes"] += s
            acc["files"] += 1
            parent = p.rsplit("/", 1)[0]
            if "=" in parent.rsplit("/", 1)[-1]:   # a partition directory
                parts.add(parent)
        res.info["io"] = per_table
        res.info["partitions_rewritten"] = len(parts)
        res.info["partitions_touched_by_delta"] = len(self.years[k])

    def final_checks(self, results: list[OpResult]) -> list[str]:
        """The durable warehouse must equal the in-memory load chain
        over the same deltas, table by table, and the last day's LQY
        reports must match the reference SQL of the reports (DuckDB,
        over the chain's tables)."""
        import duckdb
        inc = _pkg("plans.library.incremental")
        mem = self.dw
        for k in self.applied:
            new = inc.subsequent_load(self.spark, mem, self.oltp,
                                      self._delta(k), self.gen.AS_OF)
            # cut the lineage of each table the day changed: unmaterialised,
            # the chain's plan grows with every day (six days took 70 s)
            mem = {t: v if v is mem[t] else v.localCheckpoint()
                   for t, v in new.items()}
        got = self.read_back     # read after the last batch's load
        bad = []
        for t in self.TABLES:
            cols = sorted(mem[t].columns)
            if spark_digest(got[t].select(cols)) != \
                    spark_digest(mem[t].select(cols)):
                bad.append(f"table {t}")
        if bad:   # the whole chain is suspect: fail every write op
            for r in results:
                if r.op.kind == "write" and r.error is None:
                    r.error = "warehouse differs from the in-memory chain"
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.register(f"{t}_pdf", mem[t].toPandas())
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_pdf")
            for res, (cols, rows) in self.last_reports:
                (lo, hi), name = res.op.window, res.op.name
                cur = con.execute(lqy_sql(name, lo, hi))
                want = [d[0] for d in cur.description], cur.fetchall()
                if not rows_close(cols, rows, *want):
                    bad.append(f"{name} {lo}-{hi}")
                    if res.error is None:
                        res.error = "report differs from the reference SQL"
        finally:
            con.close()
        return bad

    def cleanup(self) -> None:
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
