#!/usr/bin/env python3
"""Two-parallelism scaling evidence for the OPERATOR plan shapes —
the north rule's N -> 4N criterion applied beyond the map-only
extraction stage (perfbench/run.py measures that as
``pipeline.scaling_eff_2to4``): a shuffle-heavy
banded dedup join, a two-stage aggregation (inverted index), a
broadcast semi-join with an exploded probe side (decontamination), and
a map-heavy single-pass scorer (filter agreement).

Protocol (CLAUDE.md sandbox gotchas): the two levels are
(max(1, n // 4), n) for the n CPUs in this process's affinity mask, so
4N never exceeds the CPUs that exist. Each level runs in a fresh JVM
pinned to the first N CPUs of that mask with ``taskset`` (unpinned
local[N] grabs ~2N cores via JVM + Python workers), Python workers are
pre-warmed before timing, levels INTERLEAVE so both see the same
ambient load, and efficiency is min-based across runs. Every child
samples the ambient bracket (bench_ambient.py) so a dirty window is
visible in the published block.

The corpus is amplified AMPLIFY-fold (tagged replicas) so per-task
work dominates fixed per-action costs: at raw sf0.1 the queries run
~0.5-3 s and planning/codegen/driver-collect latency — identical at
both levels — crushes the ratio (measured: 0.18-0.52 "efficiency" at
1x, pure floor artifact). Even amplified, any residual fixed cost
still UNDERSTATES efficiency, so the published numbers are floors,
not points.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_CPUS = sorted(os.sched_getaffinity(0))
LEVELS = (max(1, len(_CPUS) // 4), len(_CPUS))
RUNS = 3
# amplify the corpus so per-task work dominates fixed per-action costs
# (BENCH ambient note: after kernel speedups, keep the scaling workload
# big enough that per-task work dominates fixed overhead) — 8 replicas
# with a per-replica tag word so exact-dup buckets don't explode
AMPLIFY = int(os.environ.get("SPARK_GRAFT_SCALOPS_AMPLIFY", "32"))
QUERIES = (
    "dedup_minhash_lsh",
    "inverted_index_stats",
    "decontaminate_stats",
    "quality_filter_agreement",
)


def amplified_dir(spark) -> str:
    """Materialize (once) the AMPLIFY-replica documents table under
    .bench/scalops via the write-once cache protocol."""
    from pyspark.sql import functions as F

    from ragflow_spark.sources.cachefs import (
        atomic_materialize,
        stamped_cache_path,
    )

    path = stamped_cache_path(
        "SPARK_GRAFT_SCALOPS_DIR", "scalops", "amp", SF_DIR,
        extra_key=str(AMPLIFY),
    )

    def write(tmp: str) -> None:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n = docs.count()
        reps = [
            docs.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
                "lang",
                "source",
                (F.col("n_chars") + F.lit(5)).alias("n_chars"),
            )
            for i in range(AMPLIFY)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return atomic_materialize(path, write)


def warm_python_workers(spark, cores: int) -> None:
    """Untimed pre-warm of the Python worker pool.

    Each local[N] slot forks a python worker that imports
    pandas/pyarrow/our kernels on first use (~5-7 s wall for 32
    concurrent cold imports). On a real cluster executors live for the
    whole job, so steady-state scaling excludes that one-time cost;
    this pass pays it before the timer starts."""
    import pandas as pd

    def touch(batches):
        from ragflow_spark.kernels.extract import extract_document  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    (
        spark.range(cores * 4)
        .repartition(cores * 4)
        .mapInPandas(touch, "n long")
        .count()
    )


def child(cores: int) -> None:
    import time

    sys.path.insert(0, REPO)
    from bench_ambient import (  # noqa: E402
        read_cpu_ticks,
        spin_calibration,
        steal_pct,
    )
    from ragflow_spark.session import get_spark  # noqa: E402

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)

    spark = get_spark("scalops", cores=cores, shuffle_partitions=cores)
    sf = amplified_dir(spark)
    calib = spin_calibration(cores)
    t0 = read_cpu_ticks()
    warm_python_workers(spark, cores)
    qs = em.queries()
    walls = {}
    for name in QUERIES:
        qs[name](spark, sf).collect()  # warm: parse+codegen+caches
        best = None
        for _ in range(2):
            s = time.perf_counter()
            qs[name](spark, sf).collect()
            w = time.perf_counter() - s
            best = w if best is None else min(best, w)
        walls[name] = round(best, 3)
    t1 = read_cpu_ticks()
    print(
        "CHILD"
        + json.dumps(
            {
                "cores": cores,
                "walls": walls,
                "steal_pct": steal_pct(t0, t1),
                "calib_efficiency": calib["efficiency"],
            }
        )
    )


def run_level(cores: int) -> dict:
    out = subprocess.run(
        [
            "taskset",
            "-c",
            ",".join(map(str, _CPUS[:cores])),
            sys.executable,
            os.path.abspath(__file__),
            "--child",
            str(cores),
        ],
        capture_output=True,
        text=True,
        check=True,
        timeout=1800,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("CHILD")][-1]
    return json.loads(line[len("CHILD"):])


def main() -> None:
    results: dict[int, list[dict]] = {c: [] for c in LEVELS}
    for _ in range(RUNS):
        for cores in LEVELS:  # interleaved: same ambient for both levels
            results[cores].append(run_level(cores))

    mins = {
        c: {
            q: min(r["walls"][q] for r in results[c])
            for q in QUERIES
        }
        for c in LEVELS
    }
    brackets = {
        c: {
            "steal_pct": max(r["steal_pct"] for r in results[c]),
            "calib_efficiency": min(
                r["calib_efficiency"] for r in results[c]
            ),
        }
        for c in LEVELS
    }
    lo, hi = LEVELS
    eff = {
        q: round((mins[lo][q] / mins[hi][q]) / (hi / lo), 3) for q in QUERIES
    }
    block = [
        "",
        f"## Operator-shape scaling (pinned local[{lo}] vs local[{hi}], "
        "interleaved, min-based)",
        "",
        f"The north rule's N -> 4N criterion applied to the four main",
        f"operator plan shapes over an {AMPLIFY}x-amplified",
        f"{os.path.basename(os.path.normpath(SF_DIR))} corpus",
        f"({AMPLIFY} tagged replicas — sized so",
        "per-task work dominates fixed per-action planning/codegen",
        "costs; perfbench's `pipeline.scaling_eff_2to4` covers the",
        "map-only extraction stage).",
        "Residual fixed costs hit both levels equally, so each",
        "efficiency remains a floor, not a point estimate.",
        "",
        f"| query | T_{lo} min (s) | T_{hi} min (s) | efficiency |",
        "|---|---|---|---|",
    ]
    for q in QUERIES:
        block.append(
            f"| {q} | {mins[lo][q]} | {mins[hi][q]} | {eff[q]} |"
        )
    block += [
        "",
        f"Ambient bracket (worst child per level): local[{lo}] steal "
        f"{brackets[lo]['steal_pct']}% / calib "
        f"{brackets[lo]['calib_efficiency']}, local[{hi}] steal "
        f"{brackets[hi]['steal_pct']}% / calib "
        f"{brackets[hi]['calib_efficiency']}.",
        "",
    ]
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(path, "a") as f:
        f.write("\n".join(block))
    print(json.dumps({"mins": mins, "efficiency": eff, "brackets": brackets}))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
    else:
        main()
