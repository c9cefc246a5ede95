"""Property tests for the north rule's resilience clauses:
kill-resume equivalence and salt invariance (SURVEY.md §5.3.3-5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    from ragflow_spark.sources.pages import synthesize_pages

    return synthesize_pages(spark, sf_dir)


def _text_map(extracted) -> dict:
    return {
        r["url"]: (r["extracted_text"], r["parse_code"])
        for r in extracted.select("url", "extracted_text", "parse_code").collect()
    }


def test_salt_invariance(spark, pages):
    """Output must be bit-identical for any salt factor (SURVEY.md
    §7.3.5): salting only moves rows between splits."""
    from ragflow_spark.plans.pipeline import assign_splits, extract_pages
    from ragflow_spark.sources.pages import SKEWED_HOST

    maps = []
    for salt in (2, 8):
        staged = assign_splits(pages, n_splits=16, hot_hosts={SKEWED_HOST: salt})
        maps.append(_text_map(extract_pages(staged)))
    assert maps[0] == maps[1]


def test_salting_spreads_hot_host(spark, pages):
    """The skewed host (~30% of pages) must land in > 1 split when
    salted, and in exactly 1 split when not."""
    from ragflow_spark.plans.pipeline import assign_splits, host_of
    from ragflow_spark.sources.pages import SKEWED_HOST

    def n_splits_of_hot(hot_hosts):
        staged = assign_splits(pages, n_splits=16, hot_hosts=hot_hosts)
        return (
            staged.filter(host_of(F.col("url")) == SKEWED_HOST)
            .select("split_id")
            .distinct()
            .count()
        )

    assert n_splits_of_hot(None) == 1
    assert n_splits_of_hot({SKEWED_HOST: 8}) > 1


def test_salt_map_matches_when_chain(spark, pages):
    """The literal host -> factor map must assign every url the split
    a per-host when-chain gives, at 40 hot hosts (every host in the
    corpus plus absent ones, each with its own factor)."""
    from ragflow_spark.plans.pipeline import assign_splits, host_of

    hosts = [
        r[0] for r in pages.select(host_of(F.col("url"))).distinct().collect()
    ]
    hosts += [f"absent{i}.example.org" for i in range(40 - len(hosts))]
    factors = {h: 2 + i % 7 for i, h in enumerate(sorted(hosts))}
    assert len(factors) == 40

    host = host_of(F.col("url"))
    salt_n = F.lit(1)
    for h, f in sorted(factors.items()):
        salt_n = F.when(host == h, F.lit(f)).otherwise(salt_n)
    keyed = F.xxhash64(host) + F.pmod(F.xxhash64(F.col("url")), salt_n)
    want = pages.select(
        "url", F.pmod(keyed, F.lit(16)).cast("int").alias("split_id")
    )
    got = assign_splits(pages, n_splits=16, hot_hosts=factors)
    assert dict(got.select("url", "split_id").collect()) == dict(want.collect())


def test_kill_resume_byte_identical(spark, pages, tmp_path):
    """Run killed mid-way, then resumed, must equal a single-shot run
    byte-for-byte; the resume must not redo completed waves."""
    from ragflow_spark.plans.checkpoint import (
        completed_splits,
        read_outputs,
        run_resumable,
    )

    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")

    run_resumable(spark, pages, single, run_id="s", n_splits=16, wave_size=4)

    with pytest.raises(RuntimeError, match="injected"):
        run_resumable(
            spark, pages, resumed, run_id="k", n_splits=16, wave_size=4,
            fail_after_waves=2,
        )
    done_before = completed_splits(spark, resumed)
    assert 0 < len(done_before) < 16
    run_resumable(spark, pages, resumed, run_id="r", n_splits=16, wave_size=4)

    ex_s, m_s = read_outputs(spark, single)
    ex_r, m_r = read_outputs(spark, resumed)
    assert _text_map(ex_s) == _text_map(ex_r)

    # completed waves were NOT re-run: their metrics rows still carry
    # the killed run's id
    owners = {
        r["split_id"]: r["run_id"]
        for r in m_r.select("split_id", "run_id").collect()
    }
    assert {owners[s] for s in done_before} == {"k"}
    assert set(owners) - done_before and all(
        owners[s] == "r" for s in set(owners) - done_before
    )

    # lineage completeness (FIXTURES.md §2 metrics invariants)
    n_pages = pages.count()
    assert m_r.agg(F.sum("n_docs")).collect()[0][0] == n_pages
    assert m_r.groupBy("split_id").count().filter("count > 1").count() == 0


@pytest.fixture(scope="module")
def sparse_run(spark, pages, tmp_path_factory):
    """13 pages over 32 splits in 4-split waves: most splits hold no
    page, some waves mix empty and written splits, and some waves
    are wholly empty. Returns (pages, out_dir, written split ids)."""
    import os

    from ragflow_spark.plans.checkpoint import run_resumable

    urls = sorted(r["url"] for r in pages.select("url").collect())[::40][:13]
    few = pages.filter(F.col("url").isin(urls))
    out = str(tmp_path_factory.mktemp("sparse") / "out")
    run_resumable(spark, few, out, run_id="a", n_splits=32, wave_size=4)
    written = {
        int(n.split("=")[1])
        for n in os.listdir(os.path.join(out, "extracted"))
        if n.startswith("split_id=")
    }
    return few, out, written


def test_metrics_rows_across_waves(spark, sparse_run):
    """One metrics row per written split, with n_docs equal to that
    split's extracted rows; no row for an empty split, even in a wave
    that wrote nothing; the n_docs sum is the page count."""
    from ragflow_spark.plans.checkpoint import read_outputs, snapshots

    few, out, written = sparse_run
    waves = [set(s["splits"]) for s in snapshots(out)]
    assert set().union(*waves) == set(range(32))
    assert any(w - written and w & written for w in waves)
    assert any(not w & written for w in waves)

    ex, m = read_outputs(spark, out)
    per_split = dict(ex.groupBy("split_id").count().collect())
    assert set(per_split) == written
    rows = m.select("split_id", "n_docs").collect()
    assert len(rows) == len(written)
    assert dict(rows) == per_split
    assert sum(r["n_docs"] for r in rows) == few.count()


def test_rerun_with_empty_splits_adds_nothing(spark, sparse_run):
    """A split with no pages has no metrics row, but the snapshot of
    its wave marks it done: rerunning a finished out_dir must redo no
    split, so it adds no snapshot and no metrics file."""
    import os

    from ragflow_spark.plans.checkpoint import run_resumable, snapshots

    few, out, written = sparse_run
    assert written < set(range(32))
    mpath = os.path.join(out, "metrics")
    snaps, parts = snapshots(out), sorted(os.listdir(mpath))
    run_resumable(spark, few, out, run_id="b", n_splits=32, wave_size=4)
    assert snapshots(out) == snaps
    assert sorted(os.listdir(mpath)) == parts


def test_hot_host_sampling_finds_same_hosts(spark, pages):
    """The seeded-sample pre-pass must find the same hot-host SET as
    the exact two-pass mode (the skewed host owns ~30% of pages, far
    above the noise floor of a 50% sample on this corpus), with a
    size-proportional factor within one step of exact."""
    from ragflow_spark.plans.pipeline import compute_hot_hosts

    exact = compute_hot_hosts(pages, n_splits=16)
    sampled = compute_hot_hosts(pages, n_splits=16, sample=0.5)
    assert set(sampled) == set(exact)
    for h, f in exact.items():
        assert abs(sampled[h] - f) <= 1, (h, f, sampled[h])
    # determinism: same seed -> same estimate
    assert sampled == compute_hot_hosts(pages, n_splits=16, sample=0.5)


def test_hot_host_auto_sample_resolution(spark, pages, monkeypatch):
    """'auto' must take the sampled path when the optimizer's input
    size estimate exceeds the threshold and the exact path below it
    (crawl inputs sample by default; test inputs stay exact)."""
    from ragflow_spark.plans import pipeline
    from ragflow_spark.plans.pipeline import (
        HOT_HOST_SAMPLE_RATE,
        resolve_hot_host_sample,
    )

    # tiny input, default (1 GiB) threshold -> exact
    assert resolve_hot_host_sample(pages, "auto") is None
    # same input with a toy threshold models a crawl-sized estimate
    monkeypatch.setattr(pipeline, "HOT_HOST_AUTO_THRESHOLD_BYTES", 10)
    assert resolve_hot_host_sample(pages, "auto") == HOT_HOST_SAMPLE_RATE
    # explicit values pass through untouched
    assert resolve_hot_host_sample(pages, None) is None
    assert resolve_hot_host_sample(pages, 0.25) == 0.25


def test_snapshot_time_travel(spark, pages, tmp_path):
    """Iceberg-semantics evidence (parquet stand-in): every committed
    wave appends a run_id-stamped snapshot; reading AS OF snapshot k
    shows exactly the splits committed by snapshots <= k, the latest
    snapshot shows the full table, and a killed+resumed run CONTINUES
    the same snapshot chain (checkpoint.py module docstring documents
    the Iceberg conf this maps onto)."""
    from ragflow_spark.plans.checkpoint import (
        read_extracted_asof,
        read_outputs,
        run_resumable,
        snapshots,
    )

    out = str(tmp_path / "tt")
    run_resumable(spark, pages, out, run_id="r1", n_splits=8, wave_size=3)
    snaps = snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3]  # ceil(8/3)
    assert all(s["run_id"] == "r1" for s in snaps)

    full, _m = read_outputs(spark, out)
    total = full.count()
    seen = set()
    prev = 0
    for k, s in enumerate(snaps, start=1):
        seen.update(s["splits"])
        asof = read_extracted_asof(spark, out, k)
        want = full.filter(F.col("split_id").isin(sorted(seen))).count()
        got = asof.count()
        assert got == want
        assert got >= prev  # snapshots only append
        prev = got
    assert prev == total  # latest snapshot == current table

    # the as-of filter must prune at the partition level (split_id is
    # the partition column — Iceberg would prune via manifests)
    plan = (
        read_extracted_asof(spark, out, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "split_id" in plan

    # kill after wave 1, resume under a new run_id: chain continues
    out2 = str(tmp_path / "tt2")
    with pytest.raises(RuntimeError):
        run_resumable(
            spark, pages, out2, run_id="r1", n_splits=8, wave_size=3,
            fail_after_waves=1,
        )
    run_resumable(spark, pages, out2, run_id="r2", n_splits=8, wave_size=3)
    snaps2 = snapshots(out2)
    assert [s["snapshot_id"] for s in snaps2] == [1, 2, 3]
    assert snaps2[0]["run_id"] == "r1"
    assert {s["run_id"] for s in snaps2[1:]} == {"r2"}
    ex2, _ = read_outputs(spark, out2)
    assert read_extracted_asof(spark, out2, 3).count() == ex2.count()


def test_snapshot_reconcile_after_partial_commit(spark, pages, tmp_path):
    """Crash between the metrics append and record_snapshot (the two
    non-atomic wave-commit steps) must not permanently hide committed
    splits from as-of reads: the next run_resumable reconciles the
    chain with a snapshot covering metrics-complete-but-unsnapshotted
    splits (ADVICE r3 medium)."""
    import os

    from ragflow_spark.plans.checkpoint import (
        read_extracted_asof,
        read_outputs,
        run_resumable,
        snapshots,
    )

    out = str(tmp_path / "rec")
    run_resumable(spark, pages, out, run_id="r1", n_splits=8, wave_size=3)
    snaps = snapshots(out)
    assert len(snaps) == 3
    # simulate the crash: metrics committed (untouched) but the last
    # wave's snapshot never landed
    last = sorted(
        n
        for n in os.listdir(os.path.join(out, "snapshots"))
        if n.startswith("snap-")
    )[-1]
    lost_splits = set(snaps[-1]["splits"])
    os.remove(os.path.join(out, "snapshots", last))
    full, _m = read_outputs(spark, out)
    hidden = read_extracted_asof(spark, out, 2)
    assert hidden.count() < full.count()  # the divergence being fixed

    run_resumable(spark, pages, out, run_id="r2", n_splits=8, wave_size=3)
    snaps2 = snapshots(out)
    # no new extraction work (all splits metrics-complete): exactly one
    # reconciliation snapshot was appended, re-covering the lost splits
    assert len(snaps2) == 3
    assert snaps2[-1]["note"] == "metrics-snapshot reconcile"
    assert set(snaps2[-1]["splits"]) == lost_splits
    assert (
        read_extracted_asof(spark, out, snaps2[-1]["snapshot_id"]).count()
        == full.count()
    )


def test_snapshot_stale_writer_never_overwrites(tmp_path, monkeypatch):
    """A writer whose snapshot listing is stale (or that races another
    writer) picks a taken id: the exclusive publish must move it to
    the next id instead of replacing snap-000001, so the chain stays
    1..n with every committed record intact."""
    import os

    from ragflow_spark.plans import checkpoint

    out = str(tmp_path / "snap")
    assert checkpoint.record_snapshot(out, "a", 0, [0, 1]) == 1
    first = os.path.join(out, "snapshots", "snap-000001.json")
    before = open(first).read()

    listed = checkpoint.snapshots(out)
    monkeypatch.setattr(checkpoint, "snapshots", lambda _d: [])
    assert checkpoint.record_snapshot(out, "b", 0, [2]) == 2
    monkeypatch.undo()

    assert open(first).read() == before
    snaps = checkpoint.snapshots(out)
    assert snaps[0] == listed[0]
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert [s["run_id"] for s in snaps] == ["a", "b"]
    # no writer-unique tmp file is left behind
    assert sorted(os.listdir(os.path.join(out, "snapshots"))) == [
        "snap-000001.json",
        "snap-000002.json",
    ]


def test_snapshots_absent_vs_unlistable(tmp_path):
    """A missing snapshots dir means no snapshots; a snapshots path
    that cannot be listed must raise, or resume would re-reconcile
    every finished split."""
    from ragflow_spark.plans.checkpoint import snapshots

    assert snapshots(str(tmp_path / "missing")) == []
    out = tmp_path / "blocked"
    out.mkdir()
    (out / "snapshots").write_text("not a directory")
    with pytest.raises(NotADirectoryError):
        snapshots(str(out))


def test_metrics_rows_exact(spark):
    """The manifest's per-split counts, bytes and failure taxonomy, on
    hand-built extracted rows: failure_codes counts each nonzero
    parse_code and is NULL for a split with no failures."""
    from ragflow_spark.plans.pipeline import metrics_for

    rows = [
        (0, 0, "ok", 10, 1.0),
        (0, 0, "ok", 20, 1.0),
        (0, 12, "failed", 30, 1.0),
        (0, 12, "failed", 40, 1.0),
        (0, 99, "failed", 50, 1.0),
        (1, 0, "ok", 7, 1.0),
        (1, 0, "ok", 8, 1.0),
    ]
    extracted = spark.createDataFrame(
        rows,
        "split_id int, parse_code int, parse_status string, "
        "bytes_in bigint, extract_ms double",
    )
    m = metrics_for(extracted, "r")
    assert m.schema.simpleString() == (
        "struct<split_id:int,partition_id:int,salt:int,input_split:string,"
        "n_docs:bigint,n_ok:bigint,n_failed:bigint,"
        "failure_codes:map<int,bigint>,bytes_in:bigint,wall_ms:double,"
        "run_id:string,completed_at:timestamp>"
    )
    assert not m.schema["n_docs"].nullable
    got = {
        r["split_id"]: r.asDict()
        for r in m.drop("completed_at").collect()
    }
    assert got == {
        0: dict(
            split_id=0, partition_id=0, salt=None, input_split="split-0",
            n_docs=5, n_ok=2, n_failed=3, failure_codes={12: 2, 99: 1},
            bytes_in=150, wall_ms=5.0, run_id="r",
        ),
        1: dict(
            split_id=1, partition_id=1, salt=None, input_split="split-1",
            n_docs=2, n_ok=2, n_failed=0, failure_codes=None,
            bytes_in=15, wall_ms=2.0, run_id="r",
        ),
    }


def test_completed_splits_absent_vs_unreadable(spark, tmp_path):
    """An absent metrics table, or one holding only the _temporary/
    left by a crash inside its first append, means nothing is done;
    a table whose committed part file is truncated must raise instead
    of silently re-parsing the whole input."""
    import os

    from ragflow_spark.plans.checkpoint import completed_splits

    assert completed_splits(spark, str(tmp_path / "missing")) == set()

    tmp_only = tmp_path / "tmp_only"
    (tmp_only / "metrics" / "_temporary" / "0").mkdir(parents=True)
    assert completed_splits(spark, str(tmp_only)) == set()

    out = tmp_path / "truncated"
    mpath = str(out / "metrics")
    spark.range(3).withColumnRenamed("id", "split_id").coalesce(1).write.parquet(
        mpath
    )
    assert completed_splits(spark, str(out)) == {0, 1, 2}
    (part,) = [n for n in os.listdir(mpath) if n.startswith("part-")]
    path = os.path.join(mpath, part)
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    with pytest.raises(Exception):
        completed_splits(spark, str(out))
