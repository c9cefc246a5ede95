"""Per-layer ledger for a traced run, measured from outside the program.

Three sources, none of which needs hooks inside ``ragflow_spark``:

* Spark's own event log (``spark.eventLog.enabled``, uncompressed, not
  rolled): SQL executions, jobs, task metrics and the ``MapInPandas``
  SQL metrics, restricted to the wall-clock window of the timed call.
* A driver-side kernel sample: each public kernel function timed on a
  seeded sample of the workload's pages, one process.
* The on-disk layout of ``out_dir``.

The ledger adds up by construction: the root SQL executions inside the
window are attributed by plan (extract write, metrics write, other),
and ``checkpoint.driver_gap_s`` is the traced wall minus their sum.
A negative gap would mean executions overlapped or leaked out of the
window, so the self-test requires it to be non-negative.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",  # no zstandard module to read zstd
    "spark.eventLog.rolling.enabled": "false",
}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_UDF_METRICS = {
    "time to start Python workers": "udf.boot_ms",
    "time to initialize Python workers": "udf.init_ms",
    "time to run Python workers": "udf.run_ms",
    "data sent to Python workers": "udf.sent_mb",
    "data returned from Python workers": "udf.returned_mb",
}


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {**EVENTLOG_CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def read_events(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    newest = max(files, key=os.path.getmtime)
    with open(newest) as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_nodes(info: dict, out: list[dict]) -> list[dict]:
    out.append(info)
    for c in info.get("children", []):
        _plan_nodes(c, out)
    return out


def eventlog_layers(events: list[dict], t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Layer metrics from the events inside [t0_ms, t1_ms] (epoch ms)."""
    starts, ends, plans = {}, {}, {}
    udf_acc: dict[int, str] = {}
    rows_acc: set[int] = set()
    jobs = 0
    tasks = []
    for e in events:
        kind = e["Event"]
        if kind == _SQL_START:
            starts[e["executionId"]] = e
            plans[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif kind == _SQL_END:
            ends[e["executionId"]] = e["time"]
        elif kind == "SparkListenerJobStart":
            if t0_ms <= e["Submission Time"] <= t1_ms:
                jobs += 1
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if t0_ms <= info["Launch Time"] and info["Finish Time"] <= t1_ms:
                tasks.append(e)
        if kind in (_SQL_START, _SQL_AQE):
            for node in _plan_nodes(e["sparkPlanInfo"], []):
                if node["nodeName"] == "MapInPandas":
                    for m in node["metrics"]:
                        if m["name"] in _UDF_METRICS:
                            udf_acc[m["accumulatorId"]] = _UDF_METRICS[m["name"]]
                        elif m["name"] == "number of output rows":
                            rows_acc.add(m["accumulatorId"])

    by_kind = {"extract_write": 0.0, "metrics_write": 0.0, "other": 0.0}
    n_exec = 0
    for eid, s in starts.items():
        root = s.get("rootExecutionId", eid)
        if root not in (None, -1, eid) or eid not in ends:
            continue  # nested executions run inside their root's span
        if not (t0_ms <= s["time"] and ends[eid] <= t1_ms):
            continue
        n_exec += 1
        plan = plans[eid]
        dur = (ends[eid] - s["time"]) / 1000.0
        if "InsertIntoHadoopFsRelationCommand" in plan and "MapInPandas" in plan:
            by_kind["extract_write"] += dur
        elif "InsertIntoHadoopFsRelationCommand" in plan:
            by_kind["metrics_write"] += dur
        else:
            by_kind["other"] += dur

    udf = {v: 0.0 for v in _UDF_METRICS.values()}
    run_ms = gc_ms = in_rec = shuffle_w = udf_rows = 0
    for e in tasks:
        tm = e.get("Task Metrics") or {}
        run_ms += tm.get("Executor Run Time", 0)
        gc_ms += tm.get("JVM GC Time", 0)
        in_rec += (tm.get("Input Metrics") or {}).get("Records Read", 0)
        shuffle_w += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            aid = acc.get("ID")
            if aid in udf_acc:
                udf[udf_acc[aid]] += float(acc.get("Update", 0))
            elif aid in rows_acc:
                udf_rows += int(acc.get("Update", 0))
    for k in ("udf.sent_mb", "udf.returned_mb"):
        udf[k] /= 1e6
    wall = (t1_ms - t0_ms) / 1000.0
    return {
        **udf,
        "checkpoint.spark_jobs": jobs,
        "checkpoint.sql_executions": n_exec,
        "checkpoint.extract_write_s": by_kind["extract_write"],
        "checkpoint.metrics_write_s": by_kind["metrics_write"],
        "checkpoint.other_sql_s": by_kind["other"],
        "checkpoint.shuffle_write_mb": shuffle_w / 1e6,
        "spark.core_busy_share": run_ms / 1000.0 / (cores * wall),
        "spark.gc_s": gc_ms / 1000.0,
        "_input_records": in_rec,
        "_udf_output_rows": udf_rows,
    }


def kernel_sample(input_dir: str, n: int, seed: int, budget: int) -> dict:
    """µs/doc of each public kernel function over a seeded sample."""
    from ragflow_spark.kernels.chunk import choose_template, chunk_spans_with_counts
    from ragflow_spark.kernels.extract import extract_document
    from ragflow_spark.kernels.htmlx import html_extract, parse_dom, prune
    from ragflow_spark.kernels.pdfx import pdf_extract
    from ragflow_spark.kernels.sniff import CODE_OK, decode_payload, sniff_payload

    html = pq.read_table(input_dir, columns=["html"]).column("html")
    rng = np.random.default_rng(seed)
    pick = sorted(rng.choice(len(html), size=min(n, len(html)), replace=False))
    payloads = [html[int(i)].as_py() for i in pick]
    tot = dict.fromkeys(
        ["sniff", "decode", "parse", "prune", "html", "pdf", "chunk", "doc"], 0.0
    )
    sections_n = chunks_n = 0
    clock = time.perf_counter
    for p in payloads:
        t = clock()
        kind = sniff_payload(p)
        tot["sniff"] += clock() - t
        sections, code = [], CODE_OK
        if kind == "pdf":
            t = clock()
            sections, code = pdf_extract(p)
            tot["pdf"] += clock() - t
        elif kind != "empty":
            t = clock()
            text, _enc = decode_payload(bytes(p))
            tot["decode"] += clock() - t
            t = clock()
            root = parse_dom(text)
            tot["parse"] += clock() - t
            t = clock()
            prune(root)
            tot["prune"] += clock() - t
            t = clock()
            sections, code, _enc = html_extract(p)
            tot["html"] += clock() - t
        if kind != "empty" and code == CODE_OK:
            kinds = [k for k, _ in sections]
            texts = [x for _, x in sections]
            t = clock()
            spans = chunk_spans_with_counts(
                choose_template(kinds, texts), "\n".join(texts), kinds, texts, budget
            )
            tot["chunk"] += clock() - t
            sections_n += len(sections)
            chunks_n += len(spans)
        t = clock()
        extract_document(p, budget)
        tot["doc"] += clock() - t
    per = {k: v / len(payloads) * 1e6 for k, v in tot.items()}
    return {
        "kernels.sniff_payload_us": per["sniff"],
        "kernels.decode_payload_us": per["decode"],
        "kernels.parse_dom_us": per["parse"],
        "kernels.prune_us": per["prune"],
        "kernels.emit_us": max(0.0, per["html"] - per["decode"] - per["parse"] - per["prune"]),
        "kernels.pdf_extract_us": per["pdf"],
        "kernels.chunk_spans_us": per["chunk"],
        "kernels.extract_document_us": per["doc"],
        "kernels.sections_per_doc": sections_n / len(payloads),
        "kernels.chunks_per_doc": chunks_n / len(payloads),
    }


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under path."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def write_layout(out_dir: str) -> dict:
    files, size = dir_bytes(out_dir)
    return {
        "write.files": files,
        "write.mean_file_kb": size / max(files, 1) / 1024.0,
        "write.out_mb": size / 1e6,
    }


def split_skew(out_dir: str) -> float:
    n = pq.read_table(os.path.join(out_dir, "metrics"), columns=["n_docs"]).column("n_docs")
    docs = n.to_pylist()
    return max(docs) / statistics.median(docs)


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0
