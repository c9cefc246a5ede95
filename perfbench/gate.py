"""Correctness gate: every output row checked against the kernel.

The reference for each page is ``extract_document`` run in the driver
on the input bytes (spread over a small forked process pool: unlike
spawn, fork starts no resource-tracker process that outlives the
run), i.e. what an uninterrupted extraction of the same input yields. A doc fails when it
is missing from the output, differs from the reference in
``extracted_text``, ``parse_code``, ``content_type`` or its chunk
spans/counts/templates/texts, carries ``CODE_INTERNAL``, or sits in a
split whose manifest row or snapshot coverage is wrong. Empty-by-design
pages (``CODE_EMPTY_PAYLOAD``) are correct outputs.
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
from collections import Counter

import pyarrow.dataset as ds
import pyarrow.parquet as pq


def _expect(args: tuple[list[bytes], int]) -> list[tuple]:
    from ragflow_spark.kernels.extract import extract_document

    payloads, budget = args
    out = []
    for p in payloads:
        r = extract_document(p, budget)
        out.append(
            (
                r.content_type,
                r.extracted_text,
                r.parse_code,
                list(zip(r.chunk_templates, r.chunk_starts, r.chunk_ends, r.chunk_tokens)),
            )
        )
    return out


def expected_outputs(input_dir: str, budget: int, procs: int) -> dict[str, tuple]:
    t = pq.read_table(input_dir, columns=["url", "html"])
    urls = t.column("url").to_pylist()
    html = t.column("html").to_pylist()
    n_parts = procs * 4
    step = -(-len(html) // n_parts) or 1
    parts = [(html[i : i + step], budget) for i in range(0, len(html), step)]
    pool = mp.get_context("fork").Pool(procs)
    try:
        res = [r for chunk in pool.map(_expect, parts) for r in chunk]
    finally:
        pool.close()
        pool.join()
    return dict(zip(urls, res))


def _row_key(content_type, text, code, chunks) -> tuple:
    return (content_type, text, code, [tuple(c) for c in chunks])


def digest(items) -> str:
    """Order-free digest of (url, content_type, text, code, chunks)."""
    h = hashlib.sha256()
    for url, key in sorted(items, key=lambda item: item[0]):
        h.update(repr((url, key)).encode())
    return h.hexdigest()


def check_output(out_dir: str, expected: dict[str, tuple]) -> dict:
    """Compare out_dir with the reference; returns counts and digests."""
    from ragflow_spark.kernels.sniff import CODE_INTERNAL
    from ragflow_spark.plans.checkpoint import snapshots

    ex = ds.dataset(
        os.path.join(out_dir, "extracted"), format="parquet", partitioning="hive"
    ).to_table(
        columns=["url", "content_type", "extracted_text", "parse_code", "chunks", "split_id"]
    )
    rows = ex.to_pylist()
    metrics = pq.read_table(
        os.path.join(out_dir, "metrics"), columns=["split_id", "n_docs"]
    ).to_pylist()

    problems: list[str] = []
    failed: set[str] = set()
    url_count = Counter(r["url"] for r in rows)
    dup = {u for u, c in url_count.items() if c > 1}
    if dup:
        problems.append(f"{len(dup)} urls written more than once")
        failed |= dup
    missing = set(expected) - set(url_count)
    if missing:
        problems.append(f"{len(missing)} docs missing from the output")
        failed |= missing
    extra = set(url_count) - set(expected)
    if extra:
        problems.append(f"{len(extra)} output urls not in the input")

    docs_in_split: dict[int, list[str]] = {}
    got = []
    mismatched = internal = 0
    for r in rows:
        u = r["url"]
        docs_in_split.setdefault(r["split_id"], []).append(u)
        chunks = r["chunks"] or []
        key = _row_key(
            r["content_type"],
            r["extracted_text"],
            r["parse_code"],
            [(c["template"], c["char_start"], c["char_end"], c["token_count"]) for c in chunks],
        )
        got.append((u, key))
        text = r["extracted_text"] or ""
        ok = key == _row_key(*expected[u]) if u in expected else False
        ok = ok and all(
            c["chunk_id"] == i and c["chunk_text"] == text[c["char_start"] : c["char_end"]]
            for i, c in enumerate(chunks)
        )
        if r["parse_code"] == CODE_INTERNAL:
            internal += 1
            ok = False
        if not ok:
            mismatched += 1
            failed.add(u)
    if mismatched:
        problems.append(f"{mismatched} docs differ from the reference ({internal} CODE_INTERNAL)")

    # manifest: one metrics row per written split, n_docs = docs in it
    m_count = Counter(m["split_id"] for m in metrics)
    m_docs = {m["split_id"]: m["n_docs"] for m in metrics}
    covered = {s for snap in snapshots(out_dir) for s in snap["splits"]}
    ids = [snap["snapshot_id"] for snap in snapshots(out_dir)]
    if ids != list(range(1, len(ids) + 1)):
        problems.append(f"snapshot ids not a 1..n chain: {ids}")
    for split, urls in docs_in_split.items():
        why = None
        if m_count.get(split, 0) != 1:
            why = f"split {split} has {m_count.get(split, 0)} metrics rows"
        elif m_docs[split] != len(urls):
            why = f"split {split} n_docs {m_docs[split]} != {len(urls)} rows"
        elif split not in covered:
            why = f"split {split} not covered by any snapshot"
        if why:
            problems.append(why)
            failed |= set(urls)
    orphan_metrics = set(m_count) - set(docs_in_split)
    if orphan_metrics:
        problems.append(f"metrics rows for {len(orphan_metrics)} splits with no output")
    if sum(m_docs.values()) != len(expected):
        problems.append(f"metrics n_docs sum {sum(m_docs.values())} != {len(expected)} input rows")

    out_digest = digest(got)
    ref_digest = digest((u, _row_key(*v)) for u, v in expected.items())
    if out_digest != ref_digest and not problems:
        problems.append("output digest differs from the uninterrupted reference")
    n_failed = len(failed & set(expected))
    if problems and not n_failed:
        n_failed = len(expected)  # a fault no single doc explains fails the run
    return {
        "attempted": len(expected),
        "failed": n_failed,
        "problems": problems[:20],
        "digest": out_digest,
        "reference_digest": ref_digest,
        "split_of": {r["url"]: r["split_id"] for r in rows},
    }
