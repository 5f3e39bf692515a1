"""Benchmark for the library analytics engine: one workload, one seed.

Usage (from the repository root)::

    python3 perfbench/run.py --workload build_heavy --seed 1 --seconds 15

One client runs ops in a closed loop on ``local[<nproc>]``: each op
starts when the previous one has returned. A run is

1. set-up: generate the seeded inputs, then (after stopping the
   previous session, untimed) bring up a fresh session and open the
   inputs ``SETUP_REPS`` times (the first launches the
   JVM; ``setup_s`` is the median of the others), then the workload's
   one-off set-up (the library's initial load);
2. one untimed warm pass (for the library, its first daily batch);
3. timed passes for about ``--seconds`` (whole passes only, so every
   pass does the same work; the last one starts only if it ends nearer
   to ``--seconds`` than stopping before it);
4. output checks against references computed after the timed region
   (the memory high-water mark is read before them).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``perfbench: {...}``) holds the details: per-op latencies and
job counts, sample counts, the tail percentile, the checks and the
environment stamp. A traced run records layer spans in every timed
pass and reports the time its own bookkeeping took inside the ops.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PKG = "library_data_warehouse_and_business_analytics_system_spark"

#: build_heavy: the curation pipeline, whose time is mostly plan
#: construction with eager jobs (scrub, exact and near-dup dedup,
#: decontamination, chunking), beside registry queries on the graph
#: and similarity operators
BUILD_HEAVY = ("curate_corpus", "copurchase_triangles", "cosine_topk")
BUILD_HEAVY_INPUTS = ("documents", "lineitem", "embeddings")
WORKLOADS = ("build_heavy", "library_daily")

#: set-up repetitions; the first launches the JVM and is not in setup_s
SETUP_REPS = 3
#: a fixed heap (initial = maximum) and young generation: with a heap
#: that grows and shrinks with each run's GC history, op times and the
#: memory high-water mark swung by up to a fifth between runs
DRIVER_MEM = "3g"
YOUNG_GEN = "512m"
#: stop starting passes after this long, so a run ends inside 180 s
LAST_PASS_START_S = 120.0
HARD_LIMIT_S = 175


def pin_env(work: Path) -> dict:
    """Fix everything the run depends on from the environment, before
    the JVM starts; returns the stamp recorded in the output."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            f"--conf spark.sql.warehouse.dir={work / 'spark-warehouse'}",
            # keep every JVM file inside the work dir (no hsperfdata)
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}'",
            "pyspark-shell"]),
    })
    time.tzset()
    return {"cpus": cpus, "driver_mem": DRIVER_MEM, "young_gen": YOUNG_GEN,
            "loadavg_start": list(os.getloadavg()),
            "jiffies_start": cpu_jiffies()}


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def tail(xs: list[float]) -> dict:
    """Latency at the highest percentile with >= 10 samples beyond it."""
    n = len(xs)
    if n < 20:
        return {"n": n, "percentile": None, "seconds": None}
    q = 100.0 * (n - 10) / n
    return {"n": n, "percentile": round(q, 2), "seconds": percentile(xs, q)}


class Harness:
    def __init__(self, args, work: Path) -> None:
        from perfbench import workloads as W
        from perfbench.trace import Tracer, install_layers

        self.W = W
        self.args = args
        self.tracer = Tracer()
        if args.trace:
            install_layers(self.tracer)
        if args.workload == "library_daily":
            self.wl = W.LibraryDaily(args.seed, work, self.tracer)
        else:
            self.wl = W.Registry(BUILD_HEAVY, BUILD_HEAVY_INPUTS, args.seed,
                                 work, self.tracer)
        self.results: list = []      # OpResult, warm pass included
        self.passes: list[dict] = []

    def run_op(self, op, pass_no: int):
        tr = self.tracer
        tr.op = len(self.results)
        self.wl.before_op(op)
        error, out = None, None
        with tr.span(f"op.{op.name}", always=True) as sp:
            t = time.perf_counter()
            try:
                out = op.run()
            except Exception:   # an op failure is counted, not fatal
                error = traceback.format_exc()
            dt = time.perf_counter() - t
        res = self.W.OpResult(op, pass_no, dt, error=error)
        res.info["index"] = tr.op
        if out is not None:
            from perfbench.digest import digest
            res.digest = digest(*out)
            res.rows = len(out[1])
        self.results.append(res)
        if error is None:
            self.wl.after_op(res)
        tr.op = None
        return res

    def run_pass(self, pass_no: int, timed: bool) -> None:
        from perfbench.workloads import catalyst_ms
        tr = self.tracer
        tr.enabled = timed and bool(self.args.trace)
        first = len(self.results)
        t = time.perf_counter()
        for op in self.wl.pass_ops(pass_no):
            self.run_op(op, pass_no)
        elapsed = time.perf_counter() - t
        tr.enabled = False
        for sp in tr.spans[:]:   # outside the clock: catalyst phases
            df = sp.info.pop("df", None)
            if df is not None and timed:
                sp.info["catalyst"] = catalyst_ms(df)
        self.passes.append({"pass": pass_no, "timed": timed,
                            "seconds": elapsed,
                            "ops": list(range(first, len(self.results)))})

    def run(self) -> dict:
        args, wl, tr = self.args, self.wl, self.tracer
        phase: dict[str, float] = {}
        tr.enabled = bool(args.trace)      # set-up spans, traced runs only
        t = time.perf_counter()
        wl.generate()
        phase["generate_s"] = time.perf_counter() - t
        reps = []
        for i in range(SETUP_REPS):
            # stopping the previous session is not set-up: its time swung
            # between 0.04 and 0.5 s from one stop to the next
            self.W.stop_session()
            # set-up spans skip the first rep (the JVM launch), as setup_s does
            tr.enabled = bool(args.trace) and i > 0
            t = time.perf_counter()
            wl.setup_rep()
            reps.append(time.perf_counter() - t)
        tr.enabled = bool(args.trace)
        t = time.perf_counter()
        wl.prepare()
        phase["one_off_setup_s"] = time.perf_counter() - t
        tr.enabled = False
        t = time.perf_counter()
        for p in range(wl.WARM_PASSES):
            self.run_pass(p, timed=False)
        phase["warm_pass_s"] = time.perf_counter() - t
        phase["time_to_first_timed_op_s"] = time.perf_counter() - T0
        t_start = time.perf_counter()
        p = wl.WARM_PASSES
        while True:
            self.run_pass(p, timed=True)
            p += 1
            now = time.perf_counter()
            # no pass is cut short; start another only if it ends nearer
            # to --seconds than stopping now does
            typical = statistics.median(
                q["seconds"] for q in self.passes if q["timed"])
            if now - t_start + typical / 2 >= args.seconds or \
                    now - T0 > LAST_PASS_START_S:
                break
        phase["timed_s"] = time.perf_counter() - t_start
        # the memory high-water mark of the ops, before the references
        from pyspark import SparkContext
        hwm_kb = vm_hwm_kb(os.getpid()) + vm_hwm_kb(
            SparkContext._gateway.proc.pid)
        t = time.perf_counter()
        mismatches = wl.final_checks(self.results)
        phase["check_s"] = time.perf_counter() - t
        groups = tr.spark_by_group()
        return {"setup_reps_s": reps, "phase": phase, "hwm_kb": hwm_kb,
                "mismatches": mismatches, "groups": groups}


def op_jobs(h: Harness, groups: dict) -> dict[int, int]:
    """Spark jobs per op index: the op span's group plus every span
    opened inside the op."""
    by_op: dict[int, int] = {}
    for sp in h.tracer.spans:
        if sp.op is not None:
            by_op[sp.op] = by_op.get(sp.op, 0) + \
                groups.get(sp.group, {}).get("jobs", 0)
    return by_op


def summarize(h: Harness, run: dict, env: dict) -> tuple[dict, dict]:
    """(metrics, details) for the run."""
    from perfbench import layers
    res = h.results
    groups = run["groups"]
    jobs = op_jobs(h, groups)
    timed = [p for p in h.passes if p["timed"]]

    def ops_of(passes):
        return [res[i] for p in passes for i in p["ops"]]

    def opm(passes):
        """Ops per minute of the median pass: every pass runs the same
        ops, and the median leaves out a pass slowed by a burst of
        load on the host."""
        return 60.0 * len(passes[0]["ops"]) / statistics.median(
            p["seconds"] for p in passes)

    lat = [r.seconds for r in ops_of(timed)]
    writes = [r.seconds for r in ops_of(timed) if r.op.kind == "write"]
    reads = [r.seconds for r in ops_of(timed) if r.op.kind == "read"]
    failed = sum(1 for r in res if r.error is not None)
    per_op: dict[str, dict] = {}
    timed_ops = {i for p in timed for i in p["ops"]}
    for r in res:   # every pass, the warm pass included
        d = per_op.setdefault(r.op.name, {"seconds": [], "warm_seconds": [],
                                          "jobs": {}})
        key = "seconds" if r.info["index"] in timed_ops else "warm_seconds"
        d[key].append(round(r.seconds, 4))
        d["jobs"][r.pass_no] = jobs.get(r.info["index"], 0)
    timed_no = {p["pass"] for p in timed}

    def counts(d, in_timed: bool) -> set[int]:
        return {c for p, c in d["jobs"].items()
                if (p in timed_no) == in_timed}
    varying = sorted(n for n, d in per_op.items()
                     if len(counts(d, True)) > 1)
    warm_differs = sorted(n for n, d in per_op.items()
                          if counts(d, False) - counts(d, True))
    details = {
        "workload": h.args.workload, "seed": h.args.seed,
        "seconds": h.args.seconds, "trace": h.args.trace,
        "client": "closed loop, 1 client",
        "passes_timed": len(timed), "ops_timed": len(lat),
        "setup_reps_s": [round(x, 4) for x in run["setup_reps_s"]],
        "phases_s": {k: round(v, 4) for k, v in run["phase"].items()},
        "op_tail": tail(lat),
        "write_p50_s": statistics.median(writes) if writes else None,
        "read_p50_s": statistics.median(reads) if reads else None,
        "failed_ops_ratio": failed / len(res),
        "mismatches": run["mismatches"],
        "errors": {r.op.name: r.error[-600:] for r in res if r.error},
        "job_count_varies": varying,
        "job_count_warm_differs": warm_differs,
        "per_op": per_op,
        "env": env,
    }
    if h.args.trace:
        metrics = layers.per_layer(h, groups, failed / len(res),
                                   opm(timed), details, SETUP_REPS - 1)
    else:
        metrics = {
            "setup_s": (statistics.median(run["setup_reps_s"][1:]), "s"),
            "ops_per_min": (opm(timed), "1/min"),
            "op_p50_s": (statistics.median(lat), "s"),
            "peak_rss_mb": (run["hwm_kb"] / 1024.0, "MB"),
        }
    return metrics, details


def stop_spark() -> None:
    """Stop the SparkContext and wait for the JVM to exit."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    gw = sc._gateway if sc is not None else SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()    # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: engine package {PKG} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_LIMIT_S)
    h = None
    try:
        env = pin_env(work)
        h = Harness(args, work)
        run = h.run()
        metrics, details = summarize(h, run, env)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_spark()
        finally:
            if h is not None:
                h.wl.cleanup()
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):   # only if no other run uses it
                work.parent.rmdir()
            signal.alarm(0)
    env = details["env"]
    env["loadavg_end"] = list(os.getloadavg())
    total, steal = (b - a for a, b in zip(env.pop("jiffies_start"),
                                          cpu_jiffies()))
    # CPU time taken by the hypervisor from this machine during the run
    env["steal_share"] = steal / total if total else 0.0
    failed = sum(1 for r in h.results if r.error is not None)
    print("perfbench: " + json.dumps(details, default=str))
    print(json.dumps({
        "correct": failed == 0 and not details["mismatches"],
        "attempted": len(h.results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
