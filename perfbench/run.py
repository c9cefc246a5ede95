#!/usr/bin/env python3
"""End-to-end benchmark of the resumable extraction run.

    python3 perfbench/run.py --workload tiny_full --seed 1 --seconds 15 --trace 0

Times ``ragflow_spark.plans.checkpoint.run_resumable`` -- the call
``bin/run_extract.py`` makes, with its default config -- at
local[<cpus>] from one driver process, on pages generated from the
seed (``inputs.py``). Every run checks its output against the kernel
(``gate.py``) and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` (docs) and ``metrics``:

* ``--trace 0``: the end-to-end metrics (``setup_s``, ``wall_s``,
  ``docs_per_s``, ``mb_per_s``, ``out_bytes_per_in_byte``).
* ``--trace 1``: the same run with Spark's event log on, then one probe
  per layer; prints the per-layer metrics (``ledger.py``).

The line before the result is a record of the run: end-to-end metrics,
every rep's wall, the ambient bracket (``bench_ambient.py``: steal %
over the timed reps, spin calibration before them) and, when traced,
the ledger and the tracing overhead against the untraced runs recorded
under ``perfbench/.work/results``.

Workloads:

* ``tiny_full``: 4,000 pages of ~1.4 kB into a fresh ``out_dir``; the
  per-wave jobs, rescans, write and commit set the wall.
* ``kill_resume``: 2,000 pages of ~27 kB; a first run stops after 1 of
  4 waves through the public ``fail_after_waves`` (untimed), then the
  resuming call is timed. Kernels and Arrow transfer carry more of it.

``--scale toy`` shrinks both to 500 docs for ``selftest.py``. Exit
code 1 when any output fails the gate; 2 when the checkout does not
hold the program.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# bin/run_extract.py defaults, except 16-split waves (4 waves, not 8)
# so that a run, set-up included, stays near a minute on 4 cpus
CONFIG = dict(n_splits=64, salt_factor=8, wave_size=16, budget=256, hot_host_sample="auto")
KILL_AFTER_WAVES = 1  # the resume redoes 3 of 4 waves
WORKLOADS = {
    "tiny_full": dict(kind="tiny", n_docs=4000, text_tile=1, kill=False),
    "kill_resume": dict(kind="fat", n_docs=2000, text_tile=32, kill=True),
}
TOY_DOCS = 500
N_SETUPS = 3
KERNEL_SAMPLE = {"tiny": 400, "fat": 120}
SCALING_REPS = 2
MAX_TIMED_S = 100.0  # stop adding reps past this, to end well inside 180 s

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "mb_per_s": "MB/s",
    "out_bytes_per_in_byte": "ratio",
}


def _isolate_env() -> None:
    """Keep every temp file, Spark dir and the package zip in WORK; the
    JVM options also reach spark-submit's launcher JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def warm_workers(spark, cores: int) -> None:
    """Fork every Python worker and import the kernels in it."""
    import pandas as pd

    def touch(batches):
        from ragflow_spark.kernels.extract import extract_document  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    n = cores * 4
    spark.range(n).repartition(n).mapInPandas(touch, "n long").count()


def hot_hosts(pages) -> dict[str, int]:
    from ragflow_spark.plans.pipeline import compute_hot_hosts

    return compute_hot_hosts(
        pages, n_splits=CONFIG["n_splits"], sample=CONFIG["hot_host_sample"]
    )


def extract_job(pages, hot: dict[str, int]):
    """The run's extraction without the checkpoint loop, for a noop sink."""
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages

    staged = assign_splits(pages, CONFIG["n_splits"], CONFIG["salt_factor"], hot)
    return extract_pages(staged, budget=CONFIG["budget"])


def shutdown_jvm(spark) -> None:
    """Stop the session and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers, say) so that
    ``reap_children`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until no child is left; SIGKILL those alive after grace_s."""
    import signal

    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            me = str(os.getpid())
            for d in os.listdir("/proc"):
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = f.read().rsplit(")", 1)[1].split()[1]
                except (OSError, IndexError):
                    continue
                if ppid == me:
                    try:
                        os.kill(int(d), signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


class Bench:
    def __init__(self, args, cores: int):
        self.args = args
        self.cores = cores
        self.wl = dict(WORKLOADS[args.workload])
        if args.scale == "toy":
            self.wl["n_docs"] = TOY_DOCS
        self.spark = None
        self.out_dir = os.path.join(WORK, "out", "run")
        self.own_s = 0.0  # the benchmark's own work, not the program's set-up

    # ------------------------------------------------------------ set-up
    def start_session(self, extra_conf: dict | None = None) -> tuple[float, float]:
        from ragflow_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=extra_conf)
        t1 = time.perf_counter()
        warm_workers(self.spark, self.cores)
        return t1 - t0, time.perf_counter() - t1

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ------------------------------------------------------------ inputs
    def make_inputs(self) -> None:
        import inputs
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        import gate

        t0 = time.perf_counter()
        wl, seed = self.wl, self.args.seed
        self.input = inputs.materialize(WORK, wl["kind"], wl["n_docs"], wl["text_tile"], seed)
        t = pq.read_table(self.input, columns=["url", "html"])
        sizes = pc.binary_length(t.column("html")).to_pylist()
        self.html_bytes = dict(zip(t.column("url").to_pylist(), sizes))
        self.expected = gate.expected_outputs(self.input, CONFIG["budget"], self.cores)
        self.own_s += time.perf_counter() - t0

    # ------------------------------------------------------------ timed call
    def _run(self, out_dir: str, run_id: str, **kw) -> None:
        from ragflow_spark.plans.checkpoint import run_resumable

        pages = self.spark.read.parquet(self.input)
        run_resumable(self.spark, pages, out_dir, run_id=run_id, **{**CONFIG, **kw})

    def one_rep(self, out_dir: str) -> dict:
        """One timed call on a fresh out_dir, then the gate on its output."""
        from ragflow_spark.plans.checkpoint import snapshots

        shutil.rmtree(out_dir, ignore_errors=True)
        done_before: set[int] = set()
        if self.wl["kill"]:
            try:
                self._run(out_dir, "killed", fail_after_waves=KILL_AFTER_WAVES)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the injected failure did not fire")
            done_before = {s for snap in snapshots(out_dir) for s in snap["splits"]}
        n_snap = len(snapshots(out_dir))
        raised = None
        t0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            self._run(out_dir, "timed")
        except Exception as e:  # a run that raises fails all its docs
            raised = repr(e)
        wall = time.perf_counter() - t0
        t1_ms = time.time() * 1000.0
        rep = {"wall_s": wall, "t0_ms": t0_ms, "t1_ms": t1_ms}
        if raised:
            return {**rep, "raised": raised, "attempted": len(self.expected),
                    "failed": len(self.expected), "problems": [raised]}
        import gate
        import ledger

        g = gate.check_output(out_dir, self.expected)
        # docs and html bytes committed by the timed call
        urls = [u for u, split in g["split_of"].items() if split not in done_before]
        _files, out_bytes = ledger.dir_bytes(out_dir)
        rep.update(
            attempted=g["attempted"],
            failed=g["failed"],
            problems=g["problems"],
            digest=g["digest"],
            reference_digest=g["reference_digest"],
            docs=len(urls),
            mb=sum(self.html_bytes[u] for u in urls) / 1e6,
            out_bytes_per_in_byte=out_bytes / sum(self.html_bytes.values()),
            waves=len(snapshots(out_dir)) - n_snap,
        )
        return rep

    def timed_reps(self) -> list[dict]:
        """Reps while --seconds allows, at least one. The first call in the
        process pays first-use JIT and codegen, as every CLI run does. The
        last rep's out_dir is kept for the traced probes."""
        reps = []
        t0 = time.perf_counter()
        while True:
            reps.append(self.one_rep(self.out_dir))
            spent = time.perf_counter() - t0
            typical = statistics.median(r["wall_s"] for r in reps)
            if spent + typical > min(self.args.seconds, MAX_TIMED_S):
                return reps


def e2e_metrics(setups: list[float], reps: list[dict]) -> dict:
    ok = [r for r in reps if "raised" not in r]
    med = statistics.median
    m = {"setup_s": med(setups), "wall_s": med(r["wall_s"] for r in reps)}
    if ok:
        m["docs_per_s"] = med(r["docs"] / r["wall_s"] for r in ok)
        m["mb_per_s"] = med(r["mb"] / r["wall_s"] for r in ok)
        m["out_bytes_per_in_byte"] = med(r["out_bytes_per_in_byte"] for r in ok)
    return m


# ---------------------------------------------------------------- traced run


def scaling_probe(input_dir: str, cores: int) -> dict:
    """Noop-sink extract pinned at local[cores/2] vs local[cores], interleaved."""
    lo, hi = max(1, cores // 2), cores
    child = os.path.join(HERE, "scaling_child.py")
    procs = {}
    try:
        for n in (lo, hi):
            procs[n] = subprocess.Popen(
                ["taskset", "-c", f"0-{n - 1}", sys.executable, child,
                 "--cores", str(n), "--input", input_dir],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True,
            )
        for p in procs.values():
            for line in p.stdout:
                if line.strip() == "ready":
                    break
            else:
                raise RuntimeError("scaling child exited before it was ready")
        walls: dict[int, list[float]] = {lo: [], hi: []}
        for _ in range(SCALING_REPS):
            for n in (lo, hi):
                p = procs[n]
                p.stdin.write("run\n")
                p.stdin.flush()
                for line in p.stdout:
                    if line.startswith("{"):
                        walls[n].append(json.loads(line)["wall_s"])
                        break
        for p in procs.values():
            p.stdin.write("quit\n")
            p.stdin.flush()
    finally:
        for p in procs.values():
            try:
                p.stdin.close()
                p.wait(timeout=60)
            except (subprocess.TimeoutExpired, BrokenPipeError):
                p.kill()
                p.wait()
    t_lo, t_hi = min(walls[lo]), min(walls[hi])
    return {
        "pipeline.scaling_eff_2to4": (t_lo / t_hi) / (hi / lo),
        "pipeline.extract_noop_local2_s": t_lo,
        "pipeline.extract_noop_local4_s": t_hi,
    }


def trace_overhead(b: Bench, traced_wall: float) -> dict:
    """Traced wall_s minus the median untraced wall_s of the runs of this
    workload recorded in this checkout; None before any is recorded."""
    walls = [r["wall_s"] for r in read_records(b) if not r["trace"]]
    if not walls:
        return {"overhead_s": None, "basis": "no untraced run recorded yet"}
    return {
        "overhead_s": traced_wall - statistics.median(walls),
        "basis": f"median of {len(walls)} recorded untraced runs",
    }


def records_path(b: Bench) -> str:
    return os.path.join(WORK, "results", f"{b.args.workload}-{b.args.scale}.jsonl")


def read_records(b: Bench) -> list[dict]:
    try:
        with open(records_path(b)) as f:
            return [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []


def probe_layers(b: Bench, rep: dict, log_dir: str) -> dict:
    """Per-layer metrics of the traced rep, then one probe per layer."""
    import ledger
    from ragflow_spark.plans.checkpoint import completed_splits, record_snapshot

    spark, out = b.spark, b.out_dir
    med = statistics.median
    L: dict = {}

    def timed(fn, n=1):
        walls, res = [], None
        for _ in range(n):
            t = time.perf_counter()
            res = fn()
            walls.append(time.perf_counter() - t)
        return med(walls), res

    L["checkpoint.completed_splits_s"], _ = timed(lambda: completed_splits(spark, out), 3)
    probe = os.path.join(WORK, "out", "snapprobe")
    shutil.rmtree(probe, ignore_errors=True)
    shutil.copytree(os.path.join(out, "snapshots"), os.path.join(probe, "snapshots"))
    snap_s, _ = timed(lambda: record_snapshot(probe, "probe", 0, [0]), 3)
    L["checkpoint.snapshot_ms"] = snap_s * 1000.0
    shutil.rmtree(probe, ignore_errors=True)
    pages = spark.read.parquet(b.input)
    L["pipeline.hot_hosts_s"], hot = timed(lambda: hot_hosts(pages))
    L["pipeline.hot_hosts_n"] = len(hot)
    job = extract_job(pages, hot)
    L["pipeline.extract_noop_s"], _ = timed(
        lambda: job.write.format("noop").mode("overwrite").save()
    )
    L["scan.noop_s"], _ = timed(
        lambda: pages.select("url", "warc_ts", "html").write.format("noop").mode("overwrite").save()
    )
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    L["session.driver_peak_rss_mb"] = ledger.peak_rss_mb([os.getpid(), jvm_pid])
    b.stop_session()  # flushes and closes the event log

    ev = ledger.eventlog_layers(ledger.read_events(log_dir), rep["t0_ms"], rep["t1_ms"], b.cores)
    L.update({k: v for k, v in ev.items() if not k.startswith("_")})
    L["checkpoint.rows_scanned_per_input_row"] = ev["_input_records"] / len(b.expected)
    # docs extracted by the call minus docs in the splits it found unfinished
    L["checkpoint.reparsed_docs"] = ev["_udf_output_rows"] - rep["docs"]
    L["checkpoint.waves"] = rep["waves"]
    L["checkpoint.driver_gap_s"] = rep["wall_s"] - (
        ev["checkpoint.extract_write_s"] + ev["checkpoint.metrics_write_s"]
        + ev["checkpoint.other_sql_s"]
    )
    L["trace.wall_s"] = rep["wall_s"]
    L["pipeline.split_skew"] = ledger.split_skew(out)
    L.update(ledger.write_layout(out))
    L.update(ledger.kernel_sample(b.input, KERNEL_SAMPLE[b.wl["kind"]], b.args.seed, CONFIG["budget"]))
    L.update(scaling_probe(b.input, b.cores))
    return L


# ---------------------------------------------------------------- main


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="end-to-end benchmark of run_resumable")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ragflow_spark", "__init__.py")):
        print(f"no ragflow_spark package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    _isolate_env()
    sys.path[:0] = [HERE, ROOT]
    import bench_ambient
    import ledger

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    calib = bench_ambient.spin_calibration(cores)
    b = Bench(args, cores)
    b.own_s += time.perf_counter() - t
    b.make_inputs()
    conf, log_dir = {}, None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{os.getpid()}")
        conf = ledger.eventlog_conf(log_dir)

    phases = {"inputs_s": time.perf_counter() - T_START}
    setup_walls, get_spark_s, warm_s = [], [], []
    layers = {}
    try:
        for i in range(N_SETUPS):
            if i:
                b.stop_session()
            g, w = b.start_session(conf)
            get_spark_s.append(g)
            warm_s.append(w)
            setup_walls.append(g + w)
            if i == 0:
                cold = time.perf_counter() - T_START - b.own_s
        phases["setups_s"] = time.perf_counter() - T_START
        ticks0 = bench_ambient.read_cpu_ticks()
        reps = b.timed_reps()
        ticks1 = bench_ambient.read_cpu_ticks()
        phases["reps_s"] = time.perf_counter() - T_START
        e2e = e2e_metrics(setup_walls, reps)
        if args.trace and "raised" not in reps[-1]:
            layers = probe_layers(b, reps[-1], log_dir)
            layers["session.cold_setup_s"] = cold
            layers["session.get_spark_s"] = statistics.median(get_spark_s)
            layers["session.warm_workers_s"] = statistics.median(warm_s)
    finally:
        shutdown_jvm(b.spark)
        shutil.rmtree(b.out_dir, ignore_errors=True)
        if log_dir:
            shutil.rmtree(log_dir, ignore_errors=True)
    phases["end_s"] = time.perf_counter() - T_START

    attempted = sum(r["attempted"] for r in reps)
    failed = sum(r["failed"] for r in reps)
    problems = [p for r in reps for p in r["problems"]]
    correct = failed == 0 and not problems and len(e2e) == len(E2E_UNITS)
    if args.trace:
        correct = correct and bool(layers)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "cores": cores,
        "config": CONFIG,
        "reps": len(reps),
        "end_to_end": e2e,
        "wall_s": e2e["wall_s"],
        "setup_walls_s": setup_walls,
        "rep_walls_s": [r["wall_s"] for r in reps],
        "phases_since_start_s": phases,
        "digests": sorted({r.get("digest", "") for r in reps}),
        "reference_digest": reps[0].get("reference_digest"),
        "problems": problems[:20],
        "ambient": {
            "steal_pct": bench_ambient.steal_pct(ticks0, ticks1),
            "calibration": calib,
        },
    }
    if layers:
        record["ledger"] = layers
        record["trace_overhead"] = trace_overhead(b, layers["trace.wall_s"])
    if correct:
        os.makedirs(os.path.dirname(records_path(b)), exist_ok=True)
        with open(records_path(b), "a") as f:
            f.write(json.dumps(record) + "\n")
    print(json.dumps({"perfbench_record": record}), flush=True)
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_us", "us"), ("_s", "s"), ("_mb", "MB"),
                         ("_kb", "kB")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_share", "_eff_2to4", "_skew", "_per_input_row")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    become_subreaper()
    try:
        code = main()
    finally:
        reap_children()  # every path out waits for every process it started
    sys.exit(code)
