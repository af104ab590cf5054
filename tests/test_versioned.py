"""Versioned-table layer: snapshot isolation and time travel over plain
parquet with an atomic pointer file."""

from __future__ import annotations

import pytest

from mapreduce_stockheadlines_spark.sources.versioned import (
    read_table,
    write_table_version,
)


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x int")


def test_write_read_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    assert write_table_version(_df(spark, [1, 2]), t) == 1
    assert write_table_version(_df(spark, [3]), t) == 2
    assert sorted(r.x for r in read_table(spark, t).collect()) == [3]
    assert sorted(r.x for r in read_table(spark, t, version=1).collect()) == [1, 2]
    # an orphan above the pointer (a crashed write's data dir) is
    # overwritten by the next commit, never published as it stands
    _df(spark, [99]).write.parquet(f"{t}/v=3")
    assert write_table_version(_df(spark, [9]), t) == 3
    assert sorted(r.x for r in read_table(spark, t).collect()) == [9]
    with pytest.raises(FileNotFoundError):
        read_table(spark, str(tmp_path / "missing"))


def test_reader_snapshot_survives_new_commits(spark, tmp_path):
    """A DataFrame resolved before a new commit keeps reading ITS
    snapshot — the isolation plain overwrite-in-place parquet lacks."""
    t = str(tmp_path / "t")
    write_table_version(_df(spark, [1, 2]), t)
    pinned = read_table(spark, t)
    write_table_version(_df(spark, [7, 8, 9]), t)
    assert sorted(r.x for r in pinned.collect()) == [1, 2]
    assert sorted(r.x for r in read_table(spark, t).collect()) == [7, 8, 9]


def test_pointer_invisible_to_parquet_discovery(spark, tmp_path):
    t = str(tmp_path / "t")
    write_table_version(_df(spark, [1]), t)
    # reading the snapshot dir directly works; _LATEST does not pollute
    got = spark.read.parquet(f"{t}/v=1").collect()
    assert [r.x for r in got] == [1]


def test_concurrent_writer_claim_conflict(spark, tmp_path):
    """Two writers that both observed pointer N race to claim N+1:
    exactly one wins, the loser fails loudly BEFORE touching data."""
    from mapreduce_stockheadlines_spark.sources.versioned import (
        _fs,
    )

    t = str(tmp_path / "t")
    write_table_version(_df(spark, [1]), t)
    # simulate a concurrent writer having claimed v2 already
    fs, jvm = _fs(spark, t)
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{t}/_claim_v2"), False).close()
    with pytest.raises(IOError, match="claimed"):
        write_table_version(_df(spark, [2]), t)
    # the losing writer wrote nothing: committed table unchanged
    assert [r.x for r in read_table(spark, t).collect()] == [1]


def test_stale_claim_reclaim(spark, tmp_path):
    """A writer that crashed BETWEEN claiming _claim_vN and publishing
    the pointer leaves an orphaned claim. With reclaim enabled and the
    claim past the grace period, the next write clears it and commits;
    without opt-in it still fails loudly (the conservative default)."""
    from mapreduce_stockheadlines_spark.sources.versioned import _fs

    t = str(tmp_path / "t")
    write_table_version(_df(spark, [1]), t)
    # simulate the crash: claim exists, pointer still at 1
    fs, jvm = _fs(spark, t)
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{t}/_claim_v2"), False).close()
    # default: blocked forever (loud, not silent)
    with pytest.raises(IOError, match="claimed"):
        write_table_version(_df(spark, [2]), t)
    # grace period not yet elapsed: still blocked (live-writer safety)
    with pytest.raises(IOError, match="claimed"):
        write_table_version(_df(spark, [2]), t, reclaim_stale_after_s=3600)
    # single-writer assertion (grace 0): reclaim and commit
    v = write_table_version(_df(spark, [2]), t, reclaim_stale_after_s=0.0)
    assert v == 2
    assert [r.x for r in read_table(spark, t).collect()] == [2]


def test_reclaim_refuses_committed_version(spark, tmp_path):
    """Reclaim must never clobber a version another writer COMMITTED:
    if the pointer has reached the claimed version, the conflict is
    real regardless of claim age."""
    from mapreduce_stockheadlines_spark.sources.versioned import (
        _reclaim_stale_claim,
        _fs,
    )

    t = str(tmp_path / "t")
    write_table_version(_df(spark, [1]), t)
    write_table_version(_df(spark, [2]), t)  # pointer now 2
    fs, jvm = _fs(spark, t)
    claim = jvm.org.apache.hadoop.fs.Path(f"{t}/_claim_v2")
    assert not _reclaim_stale_claim(spark, fs, claim, t, 2, 0.0)
