#!/usr/bin/env python3
"""Per-query timer for the operator registry (driver contract).

Times every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <headline sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1,
     "steal_pct": ..., "calib_efficiency": ..., "bracket_clean": bool}

Every run self-certifies its ambient bracket (bench_ambient.py):
/proc/stat steal percentage over the timed section, N-way spin
calibrations BEFORE AND AFTER (windows close mid-run on this VM with
zero steal accounting), and — when committed baselines apply — the
board-median ratio (no code change slows 50+ diverse plans uniformly;
a board-wide shift is the host). When any signal is dirty, >1.5x
baseline excursions are reported under `regressions_unattributable`
instead of `regressions` — raw walls are kept, attribution is
suppressed.

Extraction throughput, scaling and resume cost are measured on the
production path (``run_resumable``) by ``perfbench/run.py``.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))

# Headline registry queries (one per operator family). The JSON
# "value" field sums these; EVERY other registry query is also timed
# and reported in "queries" so per-query regressions are detectable
# against the table in BENCH/BASELINE.md (±30% ambient VM noise on
# this box — treat >1.5x as a real regression, see CLAUDE.md).
HEADLINE_QUERIES = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "dedup_minhash_lsh",
    "cosine_topk",
    "sessionize",
    "lang_id",
]


def _noop_write(df) -> None:
    """Fully materialize a DataFrame without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def load_baseline() -> dict[str, float]:
    """Per-query min-of-6 baselines from BENCH/BASELINE.md (the
    '## Per-query wall times' table), so each bench run can report its
    own ratio-vs-baseline and the 1.5x regression rule is evaluable
    per round without a separate analysis step. The parse stops at the
    next '## ' heading: later sections hold tables of other walls."""
    import re

    try:
        text = open(os.path.join(REPO, "BENCH", "BASELINE.md")).read()
    except OSError:
        return {}
    parts = text.split("## Per-query wall times", 1)
    if len(parts) < 2:
        return {}
    section = parts[1].split("\n## ", 1)[0]
    return {
        name: float(v)
        for name, v in re.findall(r"\| ([a-z0-9_]+) \| ([0-9.]+)", section)
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # per-query minimum over >=3 in-process repetitions: identical runs
    # vary +-30% from ambient VM load (BENCH/BASELINE.md), so a single
    # wall is not comparable to the committed min-of-6 baselines
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    from bench_ambient import (
        bracket_verdict,
        read_cpu_ticks,
        spin_calibration,
        steal_pct,
    )
    import ragflow_spark.operators as ops
    from ragflow_spark.session import get_spark

    # ambient bracket, part 1: spin calibration + steal sample BEFORE
    # any Spark work, so the JSON line carries host-contamination
    # evidence (this VM hits multi-hour hypervisor steal storms that
    # are otherwise indistinguishable from 4x code regressions —
    # BENCH/BASELINE.md ambient log, VERDICT r4 item 1)
    calib = spin_calibration(cores)
    ticks_start = read_cpu_ticks()

    spark = get_spark("bench", cores=cores)

    timings: dict[str, float] = {}
    rest = [q for q in sorted(ops.QUERIES) if q not in HEADLINE_QUERIES]
    for name in HEADLINE_QUERIES + rest:
        fn = ops.QUERIES[name]
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _noop_write(fn(spark, sf_dir))
            walls.append(time.perf_counter() - t0)
        timings[name] = round(min(walls), 3)

    # ambient bracket, part 2: steal over the whole timed section plus
    # a SECOND spin calibration — measured on this VM, a window that
    # was clean at start can close mid-run with zero steal accounting
    # (host oversubscription), so the verdict takes the worse of the
    # two calibrations
    ticks_end = read_cpu_ticks()
    run_steal = steal_pct(ticks_start, ticks_end)
    calib_after = spin_calibration(cores)
    calib_eff = min(calib["efficiency"], calib_after["efficiency"])
    clean = bracket_verdict(run_steal, calib_eff)

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": "headline_suite_wall",
        "value": round(sum(timings[k] for k in HEADLINE_QUERIES), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cores": cores,
    }
    result["reps"] = reps
    # ambient self-certification: a dirty bracket means walls in this
    # line measure the host's hour, not the code (see bench_ambient.py)
    result["steal_pct"] = run_steal
    result["calib_efficiency"] = calib_eff
    result["calib_before_after"] = [
        calib["efficiency"],
        calib_after["efficiency"],
    ]
    # the committed baselines are sf0.1/local[32]: ratios at any other
    # scale would compare fixed overhead, not engine speed
    baseline = load_baseline() if sf_val == 0.1 and cores == 32 else {}
    full = dict(result)
    if baseline:
        ratios = {
            k: round(v / baseline[k], 2)
            for k, v in timings.items()
            if k in baseline and baseline[k] > 0
        }
        # per-query ratios go to the file only: r3's stdout JSON grew
        # past the driver's tail-capture window and parsed as null —
        # stdout carries just the headline + the regression names
        full["baseline_ratios"] = ratios
        # third ambient signal: the BOARD ratio. A code change moves
        # specific queries; no single change slows 50+ diverse plans
        # uniformly — a board-wide shift vs the committed mins is the
        # host running in a slow mode the CPU probes missed (measured
        # here: a bracket that read clean at both ends while every
        # query ran ~1.4x). Attribution is suppressed in that state.
        board = (
            statistics.median(ratios.values()) if len(ratios) >= 10 else None
        )
        if board is not None:
            result["board_ratio_median"] = full["board_ratio_median"] = board
            clean = clean and board <= 1.3
        over = sorted(k for k, r in ratios.items() if r > 1.5)
        if clean:
            result["regressions"] = full["regressions"] = over
        else:
            # dirty bracket: raw walls and ratios stay (in the file),
            # but >1.5x excursions are NOT attributable to the code —
            # round 4's driver bench flagged 54 phantom regressions
            # from a steal storm
            result["regressions"] = full["regressions"] = []
            result["regressions_unattributable"] = over
            full["regressions_unattributable"] = over
    result["bracket_clean"] = full["bracket_clean"] = clean
    os.makedirs(os.path.join(REPO, ".bench"), exist_ok=True)
    with open(os.path.join(REPO, ".bench", "last_bench.json"), "w") as f:
        json.dump(full, f, indent=1)
    # stop BEFORE printing so no JVM shutdown chatter can land after
    # (or interleaved with) the contract line; JSON is the final line
    spark.stop()
    sys.stdout.flush()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
