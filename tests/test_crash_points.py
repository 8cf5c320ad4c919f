"""Crash points: every writer is killed after its data write and before
its manifest.

All snapshots commit through ``SnapshotTable._commit_child`` →
``_commit_manifest``, whose one-shot ``_pre_commit_hook`` runs after
the writer's data files (and bloom sidecar) are on disk and before the
manifest is written. A hook that raises stands in for a crash there.
For each writer the table must be untouched (same head snapshot, same
``read()``), the debris must be exactly what ``vacuum_orphans`` removes,
and re-running the writer must reach the state a clean run reaches.
"""
from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neosync_spark.lakehouse import SnapshotTable
from neosync_spark.schema import KEY_COLS, transcript_schema


def _events(spark, lo, hi):
    rows = [
        (f"c-{i % 7}", i % 5, "user", f"txt-{i}", None, float(1000 + i), i,
         "insert")
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts double, lsn long, op string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _table(spark, path):
    """Four buckets: a COW base (lsn 0-39, ts 1000-1039 s) under MoR
    deltas (lsn 40-59), bloom sidecars on conv_id."""
    t = SnapshotTable.create(
        spark, str(path), transcript_schema(), key_cols=KEY_COLS,
        n_buckets=4, bloom_cols=["conv_id"],
    )
    t.merge_cdc(_events(spark, 0, 40), applied_range=(0, 39), source_is_raw=True)
    t.merge_cdc(
        _events(spark, 40, 60), applied_range=(40, 59), source_is_raw=True,
        mode="mor",
    )
    return t


def _expire_rows(t):
    # the cutoff splits every base file's ts range: straddlers rewrite
    cutoff = datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=1030)
    report = t.expire_rows(cutoff)
    assert report["files_rewritten"] > 0
    return report


WRITERS = {
    "merge_cow": lambda t: t.merge_cdc(
        _events(t.spark, 60, 80), applied_range=(60, 79), source_is_raw=True
    ),
    "commit_delta": lambda t: t.merge_cdc(
        _events(t.spark, 60, 80), applied_range=(60, 79), source_is_raw=True,
        mode="mor",
    ),
    "compact": lambda t: t.compact(),
    "purge_keys": lambda t: t.purge_keys(["c-3"], expire=False),
    "repair_buckets": lambda t: t.repair_buckets(_events(t.spark, 0, 60), [0, 1]),
    "rescale_buckets": lambda t: t.rescale_buckets(8),
    "expire_rows": _expire_rows,
    "alter_schema": lambda t: t.alter_schema(
        T.StructType(
            transcript_schema().fields + [T.StructField("extra", T.StringType())]
        )
    ),
}


def _state(t):
    return sorted(tuple(r) for r in t.read().collect())


def _unreferenced(t) -> set[str]:
    """Data files and bloom sidecars no snapshot on disk references."""
    meta = os.path.join(t.path, "metadata")
    keep: set[str] = set()
    for f in os.listdir(meta):
        if f.startswith("snap-") and f.endswith(".json"):
            sid = int(f[len("snap-"):-len(".json")])
            for ents in t.manifest(sid)["files"].values():
                keep.update(e["path"] for e in ents)
                keep.update(
                    os.path.join(t.path, e["bloom"]) for e in ents if e.get("bloom")
                )
    found = set()
    for root in ("data", "blooms"):
        for d, _, files in os.walk(os.path.join(t.path, root)):
            found.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return found - keep


@pytest.mark.parametrize("writer", list(WRITERS))
def test_crash_before_manifest(spark, tmp_path, writer):
    op = WRITERS[writer]
    clean = _table(spark, tmp_path / "clean")
    op(clean)

    t = _table(spark, tmp_path / "crashed")
    head, before = t.manifest(refresh=True)["snapshot_id"], _state(t)

    def crash():
        raise RuntimeError("killed before the manifest")

    t._pre_commit_hook = crash
    with pytest.raises(RuntimeError, match="killed before the manifest"):
        op(t)
    assert t.manifest(refresh=True)["snapshot_id"] == head
    assert _state(t) == before

    # the kill point sits after the data write: every writer but the
    # metadata-only ALTER leaves files, and vacuum removes exactly them
    orphans = _unreferenced(t)
    assert bool(orphans) == (writer != "alter_schema")
    gc = t.vacuum_orphans(grace_seconds=0)
    assert gc["removed_files"] + gc["removed_bloom_sidecars"] == len(orphans)
    assert not _unreferenced(t)

    op(t)  # the hook is one-shot
    assert _state(t) == _state(clean)
