"""spread() gating (round-2 advice): repartition only when the input
is BOTH few-files and few-bytes; large splittable files and already-
parallel non-file plans must pass through shuffle-free."""

from __future__ import annotations

import ragflow_spark.operators.registry as reg


def _has_exchange(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def test_spread_repartitions_tiny_single_file(spark, sf_dir):
    df = reg.spread(reg.table(spark, sf_dir, "documents"))
    assert _has_exchange(df), "tiny 1-file scan must spread"


def test_spread_passes_large_single_file(spark, sf_dir, monkeypatch):
    """A single SPLITTABLE multi-GB parquet yields many scan
    partitions via maxPartitionBytes — spread must NOT add a
    shuffle on top (file count alone is not underprovisioning)."""
    monkeypatch.setattr(reg, "_local_size", lambda uri: 64 << 30)
    df = reg.spread(reg.table(spark, sf_dir, "documents"))
    assert not _has_exchange(df)


def test_spread_unstatable_store_passes_through(spark, sf_dir, monkeypatch):
    def boom(uri):
        raise OSError("no local stat for object store")

    monkeypatch.setattr(reg, "_local_size", boom)
    df = reg.spread(reg.table(spark, sf_dir, "documents"))
    assert not _has_exchange(df)


def test_spread_nonfile_plan_uses_partition_count(spark):
    many = spark.range(0, 1000, 1, 16)  # already spans the cluster
    assert not _has_exchange(reg.spread(many))
    few = spark.range(0, 1000, 1, 1)
    assert _has_exchange(reg.spread(few))


def test_bench_baseline_table_parses():
    """bench.py's regression reporting depends on parsing the
    committed per-query table — format drift must fail here, not
    silently disable the ratio output."""
    import sys

    sys.path.insert(0, "/root/repo")
    from bench import load_baseline

    base = load_baseline()
    assert len(base) >= 50
    assert "extract" in base and base["extract"] > 1.0
    assert all(v > 0 for v in base.values())
    # the operator-shape scaling block further down lists 8-22 s walls
    # under the same query names; they must not override the mins
    assert base["dedup_minhash_lsh"] < 5.0


def test_media_cache_key_distinguishes_same_basename(tmp_path, monkeypatch):
    """Two corpora whose directories share a basename must never share
    a media-payload cache entry (round-2 advice), and regenerating a
    corpus in place must invalidate its entry."""
    import os
    import shutil

    from ragflow_spark.sources import media_store

    a = tmp_path / "a" / "sf0.1"
    b = tmp_path / "b" / "sf0.1"
    for d in (a, b):
        d.mkdir(parents=True)
        shutil.copy(
            "/root/testdata/sf0.001/documents.parquet",
            d / "documents.parquet",
        )
    monkeypatch.setenv(media_store.CACHE_ENV, str(tmp_path / "cache"))
    pa, pb = media_store.cache_path(str(a)), media_store.cache_path(str(b))
    assert pa != pb
    # regeneration in place (mtime/size change) rotates the key
    os.utime(a / "documents.parquet", (1, 1))
    assert media_store.cache_path(str(a)) != pa
