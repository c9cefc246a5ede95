"""Seeded benchmark inputs: a documents table rendered into pages.

The documents mimic the project's ``documents.parquet`` test table (a
30-word vocabulary, five languages, ~55 words per doc) but are drawn
from ``numpy.random.default_rng(seed)``, so the benchmark needs no data
outside its checkout. Pages come from
``ragflow_spark.sources.pages.render_pages_pdf``, the pure renderer
that ``synthesize_pages`` maps over Spark partitions.

The seed draws each doc's text and language; doc ids, and with them
urls, page templates, hosts and splits, are the same under every seed.
So each seed pairs new texts with the 20 templates and the 50 hosts,
while the html bytes that land in each split stay close across seeds.
Shifting the ids instead moved ~20% of the bytes in the splits a resume
redoes from seed to seed, because one host holds every ``t10`` page
(40 copies of its text), and that drowned the timing in the spread of
``mb_per_s``. Word counts span 30-80 rather than the table's 8-100 for
the same reason.

Inputs are cached as parquet under ``perfbench/.work/inputs`` keyed by
(kind, seed); only the newest few are kept.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_FILES = 16  # a crawl arrives as many files; one file would be one task
KEEP_CACHED = 3

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def documents(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed % 2**64)
    n_words = rng.integers(30, 81, n)
    langs = rng.choice(LANGS, n, p=LANG_P)
    idx = rng.integers(0, len(WORDS), int(n_words.sum()))
    texts, o = [], 0
    for k in n_words:
        texts.append(" ".join(WORDS[i] for i in idx[o : o + k]))
        o += k
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": langs,
        }
    )


def pages_table(n: int, text_tile: int, seed: int) -> pa.Table:
    from ragflow_spark.sources.pages import render_pages_pdf

    pdf = render_pages_pdf(documents(n, seed), text_tile)
    return pa.Table.from_pandas(pdf, schema=PAGES_ARROW_SCHEMA, preserve_index=False)


def materialize(work: str, kind: str, n: int, text_tile: int, seed: int) -> str:
    """Directory of N_FILES parquet files for (kind, seed); cached."""
    root = os.path.join(work, "inputs")
    path = os.path.join(root, f"{kind}-n{n}-t{text_tile}-s{seed}")
    if not os.path.isdir(path):
        table = pages_table(n, text_tile, seed)
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        step = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            part = table.slice(i * step, step)
            if part.num_rows:
                pq.write_table(
                    part, os.path.join(tmp, f"part-{i:03d}.parquet"),
                    compression="zstd",
                )
        os.replace(tmp, path)
    _evict(root, keep=path)
    return path


def _evict(root: str, keep: str) -> None:
    dirs = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if os.path.join(root, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CACHED - 1 :]:
        shutil.rmtree(d, ignore_errors=True)
