"""vacuum_orphans: concurrent-safe orphan GC — crash debris removed
after the mtime grace, referenced files (full snapshot history, all
refs) and recent in-flight files untouched."""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pytest

from neosync_spark.lakehouse import SnapshotTable
from neosync_spark.schema import KEY_COLS, transcript_schema


def _mk(spark, path, n_buckets=4):
    return SnapshotTable.create(
        spark, str(path), transcript_schema(), key_cols=KEY_COLS,
        n_buckets=n_buckets,
    )


def _batch(spark, rows):
    cols = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(pdf)


def _all_parquet(table_path):
    return set(
        glob.glob(os.path.join(str(table_path), "data", "*", "*", "*.parquet"))
    )


def test_vacuum_removes_crashed_prepare_keeps_everything_else(
    spark, tmp_path
):
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
        (2, "insert", "c2", 0, "user", "b", None, "2024-01-01 00:00:02"),
    ]), applied_range=(0, 10))
    t.merge_cdc(_batch(spark, [
        (11, "update", "c1", 0, "user", "a2", None, "2024-01-01 00:00:11"),
    ]), applied_range=(10, 20))
    before = _all_parquet(tmp_path / "t")

    # a prepare_delta whose commit_delta never runs == a crashed writer
    t.prepare_delta(_batch(spark, [
        (21, "insert", "c3", 0, "user", "never-lands", None,
         "2024-01-01 00:00:21"),
    ]))
    orphaned = _all_parquet(tmp_path / "t") - before
    assert orphaned, "prepare_delta should have written uncommitted files"

    # within the grace the debris is indistinguishable from an
    # in-flight prepare — kept
    res_young = t.vacuum_orphans(grace_seconds=3600)
    assert res_young["removed_files"] == 0
    assert res_young["kept_recent"] >= len(orphaned)
    assert orphaned <= _all_parquet(tmp_path / "t")

    # past the grace it is debris — removed; every referenced file of
    # EVERY snapshot survives (vacuum never expires history)
    res = t.vacuum_orphans(grace_seconds=0)
    assert res["removed_files"] == len(orphaned)
    after = _all_parquet(tmp_path / "t")
    assert after == before
    # both snapshots still read (time travel intact)
    assert t.read().count() == 2
    ids = sorted(
        int(f[len("snap-"):-len(".json")])
        for f in os.listdir(os.path.join(str(tmp_path / "t"), "metadata"))
        if f.startswith("snap-") and f.endswith(".json")
    )
    assert len(ids) >= 2
    assert t.read(snapshot_id=ids[-2]).count() == 2

    # idempotent
    assert t.vacuum_orphans(grace_seconds=0)["removed_files"] == 0


def test_vacuum_then_commit_contract(spark, tmp_path):
    """The grace is the writer's protection: a prepare younger than
    the grace commits fine after a vacuum ran concurrently."""
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
    ]), applied_range=(0, 10))
    written, n_src, token = t.prepare_delta(_batch(spark, [
        (11, "insert", "c2", 0, "user", "in-flight", None,
         "2024-01-01 00:00:11"),
    ]))
    t.vacuum_orphans(grace_seconds=3600)  # concurrent vacuum, young files
    t.commit_delta(written, (10, 20), n_src, token, lineage=False)
    assert t.read().count() == 2


def test_vacuum_orphan_bloom_sidecar(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
    ]), applied_range=(0, 10))
    bloom_root = os.path.join(str(tmp_path / "t"), "blooms")
    os.makedirs(bloom_root, exist_ok=True)
    junk = os.path.join(bloom_root, "deadbeef.parquet")
    with open(junk, "wb") as f:
        f.write(b"not a real sidecar")
    res = t.vacuum_orphans(grace_seconds=0)
    assert res["removed_bloom_sidecars"] == 1
    assert not os.path.exists(junk)


@pytest.mark.parametrize("gc", ["expire_snapshots", "vacuum_orphans"])
def test_gc_collects_any_depth_and_steps_over_strays(spark, tmp_path, gc):
    """Both GC routines share one data-file walk: it reaches the old
    three-level ``expire_rows`` straddler layout
    (``data/retain-<id>/g<n>/_bucket=<k>/``) and skips a stray file
    directly under ``data/``."""
    path = tmp_path / "t"
    t = _mk(spark, path)
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
        (2, "insert", "c2", 0, "user", "b", None, "2024-01-01 00:00:02"),
    ]), applied_range=(0, 10))
    live = _all_parquet(path)
    deep = path / "data" / "retain-0123456789ab" / "g0" / "_bucket=1"
    deep.mkdir(parents=True)
    debris = deep / "part-00000-retained.parquet"
    shutil.copy(sorted(live)[0], debris)
    stray = path / "data" / "notes.txt"
    stray.write_text("not table data")

    if gc == "expire_snapshots":
        res = t.expire_snapshots(keep_last=10)
    else:
        res = t.vacuum_orphans(grace_seconds=0)

    assert res["removed_files"] == 1
    assert not debris.exists() and not deep.exists()
    assert stray.exists()
    assert _all_parquet(path) == live
    assert t.read().count() == 2
