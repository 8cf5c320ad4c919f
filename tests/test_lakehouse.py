"""SnapshotTable: COW merge, tombstones, exactly-once ledger, time travel."""

from __future__ import annotations

import pandas as pd
import pytest

from neosync_spark.lakehouse import SnapshotTable
from neosync_spark.schema import KEY_COLS, transcript_schema

from .conftest import assert_pdf_equal


def _mk(spark, path):
    return SnapshotTable.create(
        spark,
        str(path),
        transcript_schema(),
        key_cols=KEY_COLS,
        order_cols=["ts"],
        n_buckets=4,
    )


def _batch(spark, rows):
    cols = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(pdf)


def test_create_empty_read(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    assert t.read().count() == 0
    assert [f.name for f in t.read().schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]


def test_merge_insert_update_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    b1 = _batch(spark, [
        (1, "insert", "c1", 0, "user", "hello", None, "2024-01-01 00:00:01"),
        (2, "insert", "c1", 1, "assistant", "hi", None, "2024-01-01 00:00:02"),
        (3, "insert", "c2", 0, "user", "yo", None, "2024-01-01 00:00:03"),
    ])
    info1 = t.merge_cdc(b1, applied_range=(0, 10))
    assert info1.rows_written == 3

    b2 = _batch(spark, [
        (11, "update", "c1", 1, "assistant", "hi there", None, "2024-01-01 00:00:11"),
        (12, "delete", "c2", 0, None, None, None, "2024-01-01 00:00:12"),
        (13, "insert", "c3", 5, "user", "new conv", None, "2024-01-01 00:00:13"),
    ])
    t.merge_cdc(b2, applied_range=(10, 20))

    got = t.read().toPandas()
    exp = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c3"],
            "turn_idx": [0, 1, 5],
            "role": ["user", "assistant", "user"],
            "text": ["hello", "hi there", "new conv"],
            "tool": [None, None, None],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:11", "2024-01-01 00:00:13"]
            ),
        }
    )
    assert_pdf_equal(got, exp, ["conv_id", "turn_idx"])


def test_late_event_cannot_resurrect_deleted_key(spark, tmp_path):
    """delete(ts=5) applied in batch 1; insert(ts=1) arrives in batch 2
    (late delivery) — global LWW says the key stays deleted."""
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (100, "delete", "c1", 0, None, None, None, "2024-01-01 00:00:05"),
    ]), applied_range=(0, 200))
    t.merge_cdc(_batch(spark, [
        (250, "insert", "c1", 0, "user", "late", None, "2024-01-01 00:00:01"),
    ]), applied_range=(200, 400))
    assert t.read().count() == 0


def test_late_update_loses_to_newer_row(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "newer", None, "2024-01-01 00:00:09"),
    ]), applied_range=(0, 100))
    t.merge_cdc(_batch(spark, [
        (150, "update", "c1", 0, "user", "older", None, "2024-01-01 00:00:02"),
    ]), applied_range=(100, 200))
    got = t.read().toPandas()
    assert got["text"].tolist() == ["newer"]


def test_exactly_once_ledger(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    b = _batch(spark, [
        (1, "insert", "c1", 0, "user", "v1", None, "2024-01-01 00:00:01"),
    ])
    info1 = t.merge_cdc(b, applied_range=(0, 10))
    sid = t.manifest(refresh=True)["snapshot_id"]
    # replaying the exact committed range is a no-op: no new snapshot
    info2 = t.merge_cdc(b, applied_range=(0, 10))
    assert info2.rows_written == 0
    assert t.manifest(refresh=True)["snapshot_id"] == sid
    assert t.is_applied(0, 10)
    assert not t.is_applied(10, 20)
    assert t.last_applied_lsn() == 10
    assert info1.snapshot_id == sid


def test_bucket_pruned_rewrite(spark, tmp_path):
    """A merge touching one conversation must not rewrite every bucket."""
    t = _mk(spark, tmp_path / "t")
    rows = [
        (i, "insert", f"c{i}", 0, "user", f"t{i}", None, "2024-01-01 00:00:01")
        for i in range(32)
    ]
    t.merge_cdc(_batch(spark, rows), applied_range=(0, 100))
    m1 = t.manifest(refresh=True)
    info = t.merge_cdc(_batch(spark, [
        (200, "update", "c3", 0, "user", "patched", None, "2024-01-01 00:01:00"),
    ]), applied_range=(100, 300))
    assert info.buckets_rewritten == 1
    m2 = t.manifest(refresh=True)
    changed = [
        b for b in m1["files"]
        if m1["files"][b] != m2["files"].get(b)
    ]
    assert len(changed) == 1
    got = t.read().toPandas()
    assert got.loc[got.conv_id == "c3", "text"].tolist() == ["patched"]
    assert len(got) == 32


def test_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "v1", None, "2024-01-01 00:00:01"),
    ]), applied_range=(0, 10))
    sid1 = t.manifest(refresh=True)["snapshot_id"]
    t.merge_cdc(_batch(spark, [
        (11, "update", "c1", 0, "user", "v2", None, "2024-01-01 00:00:11"),
    ]), applied_range=(10, 20))
    assert t.read().toPandas()["text"].tolist() == ["v2"]
    assert t.read(snapshot_id=sid1).toPandas()["text"].tolist() == ["v1"]
    hist = t.history()
    assert [h["summary"].get("operation") for h in hist][-1] == "create"


def test_lineage_rows(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
        (2, "insert", "c2", 0, "user", "b", None, "2024-01-01 00:00:02"),
    ]), applied_range=(0, 10))
    lin = t.lineage().toPandas()
    assert set(lin.columns) == {"bucket", "rows_applied", "snapshot_id", "lsn_lo", "lsn_hi"}
    assert lin["rows_applied"].sum() == 2
    assert (lin["lsn_lo"] == 0).all() and (lin["lsn_hi"] == 10).all()


def test_alter_schema_rejects_illegal(spark, tmp_path):
    import pyspark.sql.types as T

    t = _mk(spark, tmp_path / "t")
    # dropping payload columns is legal since round 2 — but key/order
    # columns and type narrowings stay illegal
    bad_key = T.StructType(
        [f for f in transcript_schema().fields if f.name != "conv_id"]
    )
    with pytest.raises(ValueError, match="key/order"):
        t.alter_schema(bad_key)
    narrowed = T.StructType(
        [
            f if f.name != "turn_idx" else T.StructField("turn_idx", T.ShortType(), True)
            for f in transcript_schema().fields
        ]
    )
    with pytest.raises(ValueError, match="illegal type change"):
        t.alter_schema(narrowed)


def test_expire_snapshots_gc(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    for i in range(5):
        t.merge_cdc(_batch(spark, [
            (i, "insert", f"c{i}", 0, "user", f"v{i}", None, "2024-01-01 00:00:01"),
        ]), applied_range=(i * 10, (i + 1) * 10))
    before = t.read().toPandas()
    res = t.expire_snapshots(keep_last=2)
    assert res["removed_manifests"] > 0
    assert res["removed_files"] > 0
    # current state intact, ledger intact, old snapshots gone
    after = t.read().toPandas()
    assert sorted(after["text"]) == sorted(before["text"])
    assert len(t.applied_ranges()) == 5
    assert len(t.history()) <= 2
    # idempotent re-run
    t.expire_snapshots(keep_last=2)
    assert t.read().count() == 5


def test_commit_conflict_detected(spark, tmp_path):
    from neosync_spark.lakehouse import CommitConflictError, SnapshotTable

    path = str(tmp_path / "t")
    t1 = _mk(spark, path)
    t2 = SnapshotTable.load(spark, path)
    t1.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
    ]), applied_range=(0, 10))
    # t2 plans against the stale snapshot 0 via its cached manifest —
    # simulate by loading the old manifest state then committing
    import json, os
    stale = t2.manifest(0)
    stale_child = {**stale, "snapshot_id": 99, "parent": 0}
    with pytest.raises(CommitConflictError):
        t2._write_manifest(stale_child)


def test_merge_rejects_malformed_batch(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    bad = spark.createDataFrame([(1, "x")], ["lsn", "text"])
    with pytest.raises(ValueError, match="missing required columns"):
        t.merge_cdc(bad, applied_range=(0, 10))


def test_merge_debug_assert_unique(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    b = _batch(spark, [
        (1, "insert", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
        (2, "insert", "c1", 0, "user", "b", None, "2024-01-01 00:00:02"),
    ])
    with pytest.raises(ValueError, match="key-unique"):
        t.merge_cdc(b, applied_range=(0, 4), source_is_raw=False,
                    debug_assert_unique=True)
    with pytest.raises(ValueError, match="merge mode"):
        t.merge_cdc(b, applied_range=(0, 4), mode="upsert")


# ----------------------------------------------------- snapshot diff

def test_snapshot_diff_insert_update_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "hello", None, "2024-01-01 00:00:01"),
        (2, "insert", "c1", 1, "assistant", "hi", None, "2024-01-01 00:00:02"),
        (3, "insert", "c2", 0, "user", "yo", None, "2024-01-01 00:00:03"),
        (4, "insert", "c4", 2, "user", "stays", None, "2024-01-01 00:00:04"),
    ]), applied_range=(0, 10))
    s1 = t.manifest(refresh=True)["snapshot_id"]
    t.merge_cdc(_batch(spark, [
        (11, "update", "c1", 1, "assistant", "hi there", None, "2024-01-01 00:00:11"),
        (12, "delete", "c2", 0, None, None, None, "2024-01-01 00:00:12"),
        (13, "insert", "c3", 5, "user", "new conv", None, "2024-01-01 00:00:13"),
    ]), applied_range=(10, 20))
    s2 = t.manifest(refresh=True)["snapshot_id"]

    diff = t.snapshot_diff(s1, s2).toPandas()
    got = {
        (r.change_type, r.conv_id, r.turn_idx): r.text
        for r in diff.itertuples()
    }
    assert got == {
        ("update_postimage", "c1", 1): "hi there",
        ("delete", "c2", 0): "yo",
        ("insert", "c3", 5): "new conv",
    }
    # unchanged row (c4) and unchanged c1/0 are absent; diff of a
    # snapshot with itself is empty
    assert t.snapshot_diff(s2, s2).count() == 0

    # CDF with before-images: updates emit BOTH sides (Delta CDF
    # contract); inserts/deletes are unchanged
    cdf = t.snapshot_diff(s1, s2, include_preimages=True).toPandas()
    got_pre = {
        (r.change_type, r.conv_id, r.turn_idx): r.text
        for r in cdf.itertuples()
    }
    assert got_pre == {
        ("update_preimage", "c1", 1): "hi",
        ("update_postimage", "c1", 1): "hi there",
        ("delete", "c2", 0): "yo",
        ("insert", "c3", 5): "new conv",
    }
    assert t.snapshot_diff(s2, s2, include_preimages=True).count() == 0


def test_snapshot_diff_prunes_unchanged_buckets(spark, tmp_path):
    """Only buckets whose file lists changed participate in the join:
    diff sees a change confined to one conversation even when other
    buckets hold data."""
    t = _mk(spark, tmp_path / "t")
    rows = [
        (i, "insert", f"c{i}", 0, "user", f"t{i}", None,
         f"2024-01-01 00:00:{i:02d}")
        for i in range(1, 9)
    ]
    t.merge_cdc(_batch(spark, rows), applied_range=(0, 100))
    s1 = t.manifest(refresh=True)["snapshot_id"]
    t.merge_cdc(_batch(spark, [
        (200, "update", "c1", 0, "user", "changed", None, "2024-01-01 00:01:00"),
    ]), applied_range=(100, 300))
    s2 = t.manifest(refresh=True)["snapshot_id"]

    m1, m2 = t.manifest(s1), t.manifest(s2)
    changed = [
        b for b in set(m1["files"]) | set(m2["files"])
        if [e["path"] for e in m1["files"].get(b, [])]
        != [e["path"] for e in m2["files"].get(b, [])]
    ]
    assert len(changed) < t.manifest()["bucket_count"]  # pruning is real

    diff = t.snapshot_diff(s1, s2).toPandas()
    assert len(diff) == 1
    assert diff.iloc[0]["change_type"] == "update_postimage"
    assert diff.iloc[0]["text"] == "changed"


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """Column added between the two snapshots: old side reads NULL for
    it; rows differing only in the new column flag as updates."""
    from pyspark.sql import types as T

    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "hello", None, "2024-01-01 00:00:01"),
    ]), applied_range=(0, 10))
    s1 = t.manifest(refresh=True)["snapshot_id"]

    new_schema = T.StructType(
        t.current_schema().fields + [T.StructField("extra", T.StringType())]
    )
    t.alter_schema(new_schema)
    b = _batch(spark, [
        (11, "update", "c1", 0, "user", "hello", None, "2024-01-01 00:00:11"),
    ]).withColumn("extra", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("x"))
    t.merge_cdc(b, applied_range=(10, 20))
    s2 = t.manifest(refresh=True)["snapshot_id"]

    diff = t.snapshot_diff(s1, s2).toPandas()
    assert list(diff["change_type"]) == ["update_postimage"]
    assert diff.iloc[0]["extra"] == "x"


def test_snapshot_diff_replays_as_change_feed(spark, tmp_path):
    """Chaining invariant: state(s1) + diff(s1,s2) applied as CDC
    events == state(s2) — the diff is a correct change feed for a
    downstream table, not just a report."""
    from pyspark.sql import functions as F

    src = _mk(spark, tmp_path / "src")
    src.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "hello", None, "2024-01-01 00:00:01"),
        (2, "insert", "c1", 1, "assistant", "hi", None, "2024-01-01 00:00:02"),
        (3, "insert", "c2", 0, "user", "yo", None, "2024-01-01 00:00:03"),
        (4, "insert", "c3", 0, "user", "stays", None, "2024-01-01 00:00:04"),
    ]), applied_range=(0, 10))
    s1 = src.manifest(refresh=True)["snapshot_id"]
    src.merge_cdc(_batch(spark, [
        (11, "update", "c1", 1, "user", "hi there", None, "2024-01-01 00:00:11"),
        (12, "delete", "c2", 0, None, None, None, "2024-01-01 00:00:12"),
        (13, "insert", "c4", 7, "user", "new", None, "2024-01-01 00:00:13"),
    ]), applied_range=(10, 20))
    s2 = src.manifest(refresh=True)["snapshot_id"]

    # downstream table: seed with state(s1), then apply the diff as events
    dst = _mk(spark, tmp_path / "dst")
    seed = src.read(snapshot_id=s1).withColumns(
        {"op": F.lit("insert"), "lsn": F.lit(0).cast("long")}
    )
    dst.merge_cdc(seed, applied_range=(0, 1))
    feed = src.snapshot_diff(s1, s2).withColumns(
        {
            "op": F.when(
                F.col("change_type") == "delete", F.lit("delete")
            ).otherwise(F.lit("update")),
            "lsn": F.lit(1).cast("long"),
        }
    ).drop("change_type")
    dst.merge_cdc(feed, applied_range=(1, 2))

    from .conftest import assert_pdf_equal

    assert_pdf_equal(
        dst.read().toPandas(),
        src.read(snapshot_id=s2).toPandas(),
        ["conv_id", "turn_idx"],
        "diff-as-change-feed must reproduce state(s2)",
    )


def test_rollback_reverts_state_and_ledger(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    b1 = _batch(spark, [
        (1, "insert", "c1", 0, "user", "good", None, "2024-01-01 00:00:01"),
    ])
    t.merge_cdc(b1, applied_range=(0, 10))
    s1 = t.manifest(refresh=True)["snapshot_id"]
    bad = _batch(spark, [
        (11, "update", "c1", 0, "user", "BAD DEPLOY", None, "2024-01-01 00:00:11"),
        (12, "insert", "c9", 0, "user", "also bad", None, "2024-01-01 00:00:12"),
    ])
    t.merge_cdc(bad, applied_range=(10, 20))

    new_sid = t.rollback(s1)
    assert new_sid > s1
    assert t.read().toPandas()["text"].tolist() == ["good"]
    # ledger reverted: the bad range is no longer applied -> replayable
    assert t.is_applied(0, 10)
    assert not t.is_applied(10, 20)
    fixed = _batch(spark, [
        (11, "update", "c1", 0, "user", "fixed", None, "2024-01-01 00:00:11"),
    ])
    t.merge_cdc(fixed, applied_range=(10, 20))
    assert sorted(t.read().toPandas()["text"]) == ["fixed"]
    # rollback appears in history as its own snapshot
    ops = [h["summary"].get("operation") for h in t.history()]
    assert "rollback" in ops
    # rolling back to the current snapshot is a no-op
    cur = t.manifest(refresh=True)["snapshot_id"]
    assert t.rollback(cur) == cur


def test_snapshot_as_of_timestamp(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "v1", None, "2024-01-01 00:00:01"),
    ]), applied_range=(0, 10))
    mid_ts = _time.time()
    s1 = t.manifest(refresh=True)["snapshot_id"]
    _time.sleep(0.05)
    t.merge_cdc(_batch(spark, [
        (11, "update", "c1", 0, "user", "v2", None, "2024-01-01 00:00:11"),
    ]), applied_range=(10, 20))

    assert t.snapshot_as_of(mid_ts) == s1
    assert t.read(snapshot_id=t.snapshot_as_of(mid_ts)).toPandas()["text"].tolist() == ["v1"]
    assert t.snapshot_as_of(_time.time()) == t.manifest(refresh=True)["snapshot_id"]
    with pytest.raises(ValueError, match="no snapshot"):
        t.snapshot_as_of(0.0)


def test_snapshot_diff_across_rollback_reverted_rename(spark, tmp_path):
    """Regression (code review): diffing from a renamed snapshot to a
    rollback that REVERTED the rename must not flag unchanged rows as
    updates — the old side aligns through the FROM-manifest's chain."""
    import pyspark.sql.types as T

    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "same text", None, "2024-01-01 00:00:01"),
        (2, "insert", "c2", 0, "user", "other text", None, "2024-01-01 00:00:02"),
    ]), applied_range=(0, 10))
    s1 = t.manifest(refresh=True)["snapshot_id"]

    renamed = T.StructType([
        f if f.name != "text" else T.StructField("body", f.dataType, True)
        for f in t.current_schema().fields
    ])
    t.alter_schema(renamed, renames={"body": "text"})
    s2 = t.manifest(refresh=True)["snapshot_id"]

    t.rollback(s1)  # schema back to 'text', rename chain gone
    s3 = t.manifest(refresh=True)["snapshot_id"]

    diff = t.snapshot_diff(s2, s3).toPandas()
    assert len(diff) == 0, f"reverted rename produced spurious diffs: {diff}"


def test_rescale_buckets_preserves_state_and_ledger(spark, tmp_path):
    """Bucket-count evolution: same rows, same ledger, subsequent
    merges bucket/prune under the new count; in-flight deltas prepared
    under the old layout are rejected at commit."""
    t = _mk(spark, tmp_path / "t")  # 4 buckets
    rows = [(i, "insert", f"c{i % 20}", i // 20, "user", f"v{i}", None,
             "2026-01-01") for i in range(100)]
    t.merge_cdc(_batch(spark, rows), applied_range=(0, 100), mode="mor")
    before = t.read().orderBy("conv_id", "turn_idx").toPandas()

    info = t.rescale_buckets(16)
    m = t.manifest(refresh=True)
    assert m["bucket_count"] == 16 and m["snapshot_id"] == info.snapshot_id
    after = t.read().orderBy("conv_id", "turn_idx").toPandas()
    assert before.equals(after)
    # ledger intact: the replay of the applied range is still a no-op
    assert t.merge_cdc(
        _batch(spark, rows[:1]), applied_range=(0, 100)
    ).rows_written == 0
    # deltas folded into base files during the rewrite
    assert t.delta_file_counts() == {}
    # a following merge works and buckets land in the new keyspace
    t.merge_cdc(
        _batch(spark, [(200, "insert", "zz", 0, "user", "new", None,
                        "2026-02-01")]),
        applied_range=(200, 201),
    )
    assert t.read().count() == len(after) + 1
    assert all(0 <= int(b) < 16 for b in t.manifest(refresh=True)["files"])
    # same-count rescale is a no-op commit
    sid = t.manifest(refresh=True)["snapshot_id"]
    assert t.rescale_buckets(16).snapshot_id == sid


def test_rescale_conflicts_inflight_delta(spark, tmp_path):
    import pytest

    from neosync_spark.lakehouse import CommitConflictError

    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(
        _batch(spark, [(1, "insert", "a", 0, "user", "x", None, "2026-01-01")]),
        applied_range=(0, 10),
    )
    written, n_src, token = t.prepare_delta(
        _batch(spark, [(11, "insert", "b", 0, "user", "y", None, "2026-01-02")])
    )
    t.rescale_buckets(8)
    with pytest.raises(CommitConflictError, match="rescaled"):
        t.commit_delta(written, (10, 20), n_src, token)


def test_metadata_tables_and_export(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "hello", None, "2024-01-01 00:00:01"),
        (2, "insert", "c2", 0, "user", "yo", None, "2024-01-01 00:00:02"),
    ]), applied_range=(0, 10))
    t.merge_cdc(_batch(spark, [
        (11, "update", "c1", 0, "user", "hi", None, "2024-01-01 00:00:11"),
    ]), applied_range=(10, 20), mode="mor")

    files = t.files().collect()
    m = t.manifest(refresh=True)
    assert len(files) == sum(len(v) for v in m["files"].values())
    assert {r["kind"] for r in files} == {"base", "delta"}
    assert all(r["stats_json"] for r in files)

    snaps = {r["snapshot_id"]: r for r in t.snapshots().collect()}
    assert set(snaps) == {0, 1, 2}
    assert snaps[2]["parent"] == 1 and snaps[0]["operation"] == "create"
    assert snaps[2]["n_applied_ranges"] == 2
    assert snaps[2]["committed_at"] is not None

    out = str(tmp_path / "export")
    n = t.export_snapshot(out)
    got = spark.read.parquet(out)
    assert n == got.count() == 2
    assert set(got.columns) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    # historical snapshot export
    out1 = str(tmp_path / "export1")
    assert t.export_snapshot(out1, snapshot_id=1) == 2
    assert {r["text"] for r in spark.read.parquet(out1).collect()} == {"hello", "yo"}


def test_dml_update_delete_where(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "keep me", None, "2024-01-01 00:00:01"),
        (2, "insert", "c1", 1, "system", "secret prompt", None, "2024-01-01 00:00:02"),
        (3, "insert", "c2", 0, "assistant", "drop me", None, "2024-01-01 00:00:03"),
    ]), applied_range=(0, 10))
    t.update_where("role = 'system'", {"text": F.lit("[gone]")})
    t.delete_where(F.col("role") == "assistant")
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
        for r in t.read().collect()
    }
    assert got == {
        ("c1", 0): ("user", "keep me"),
        ("c1", 1): ("system", "[gone]"),
    }
    # DML loses to a genuinely newer event (higher ts) but beats a
    # duplicate delivery of the exact original event
    t.merge_cdc(_batch(spark, [
        (2, "insert", "c1", 1, "system", "secret prompt", None, "2024-01-01 00:00:02"),
        (50, "update", "c2", 0, "assistant", "resurrected", None, "2024-01-01 00:01:00"),
    ]), applied_range=(10, 60))
    got2 = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    assert got2[("c1", 1)] == "[gone]"          # duplicate lost to DML
    assert got2[("c2", 0)] == "resurrected"     # newer ts wins over DML
    # guards
    import pytest

    with pytest.raises(ValueError, match="SET"):
        t.update_where("role = 'user'", {})
    with pytest.raises(ValueError, match="key/order"):
        t.update_where("role = 'user'", {"conv_id": F.lit("x")})


def test_replace_where_atomic_backfill(spark, tmp_path):
    """replace_where: one commit after which the live state is
    (non-matching rows) ∪ new_rows — re-inserted keys rewritten,
    vanished matching keys tombstoned, fresh keys inserted, keys
    outside the region untouched; and the backfill wins LWW even over
    a live row whose key it steals from OUTSIDE the region."""
    import pytest
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "outside", None, "2024-01-01 00:00:01"),
        (2, "insert", "c1", 1, "tool", "stale-a", None, "2024-01-01 00:00:02"),
        (3, "insert", "c2", 0, "tool", "stale-b", None, "2024-01-01 00:00:03"),
        (4, "insert", "c2", 1, "user", "stolen", None, "2024-01-01 00:00:09"),
    ]), applied_range=(0, 10))

    new_rows = _batch(spark, [
        # re-inserted key (c1,1): rewritten; ts OLDER than the live row —
        # must still win (ordered at the replaced row's ts)
        (0, "x", "c1", 1, "tool", "fixed-a", None, "2024-01-01 00:00:01"),
        # fresh key
        (0, "x", "c9", 0, "tool", "fresh", None, "2024-01-01 00:00:05"),
        # key collision with a live row OUTSIDE the region (c2,1 is
        # role='user'): the new image must beat it, not silently lose
        (0, "x", "c2", 1, "tool", "took-over", None, "2024-01-01 00:00:04"),
    ]).drop("lsn", "op")
    # (c2,0) matches the predicate and is NOT re-inserted → tombstoned
    info = t.replace_where("role = 'tool'", new_rows)
    assert info.rows_written > 0
    # the (c2,1) takeover is a contract widening vs Delta replaceWhere
    # (non-matching rows overwritten) — it must be reported, not silent
    assert info.keys_stolen_outside_region == 1

    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
        for r in t.read().collect()
    }
    assert got == {
        ("c1", 0): ("user", "outside"),
        ("c1", 1): ("tool", "fixed-a"),
        ("c9", 0): ("tool", "fresh"),
        ("c2", 1): ("tool", "took-over"),
    }
    # a duplicate delivery of the original (c1,1) event must lose to
    # the backfill; a genuinely newer event must win over it
    t.merge_cdc(_batch(spark, [
        (2, "insert", "c1", 1, "tool", "stale-a", None, "2024-01-01 00:00:02"),
        (50, "update", "c9", 0, "tool", "newer", None, "2024-01-01 00:01:00"),
    ]), applied_range=(10, 60))
    got2 = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    assert got2[("c1", 1)] == "fixed-a"
    assert got2[("c9", 0)] == "newer"

    # guards: new rows escaping the region; missing columns
    with pytest.raises(ValueError, match="satisfy the predicate"):
        t.replace_where(
            "role = 'tool'",
            _batch(spark, [
                (0, "x", "c5", 0, "user", "escapee", None,
                 "2024-01-01 00:00:07"),
            ]).drop("lsn", "op"),
        )
    with pytest.raises(ValueError, match="missing table columns"):
        t.replace_where("role = 'tool'", new_rows.drop("tool"))


def test_replace_where_empty_new_rows_deletes_region(spark, tmp_path):
    """replace_where with an empty new-rows frame == delete_where:
    the whole region is tombstoned in one commit."""
    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "c1", 0, "user", "keep", None, "2024-01-01 00:00:01"),
        (2, "insert", "c1", 1, "tool", "zap", None, "2024-01-01 00:00:02"),
    ]), applied_range=(0, 10))
    empty = _batch(spark, [
        (0, "x", "c0", 0, "tool", "t", None, "2024-01-01 00:00:01"),
    ]).drop("lsn", "op").limit(0)
    t.replace_where("role = 'tool'", empty)
    got = [(r["conv_id"], r["turn_idx"]) for r in t.read().collect()]
    assert got == [("c1", 0)]


def test_bucket_local_merge_equals_default(spark, tmp_path):
    """bucket_local_merge aligns the merge shuffle with the table's
    bucket layout — final state must be identical to the default
    key-hash merge, the plan must contain exactly ONE exchange (the
    bucket repartition satisfies the aggregate's required distribution
    via its grouping prefix), and the per-bucket file layout holds."""
    from neosync_spark.engine import EngineConfig, ReplayEngine
    from neosync_spark.schema import KEY_COLS, transcript_schema
    from neosync_spark.sources.changelog import ChangeLogSource
    from neosync_spark.synth import SynthConfig, generate_pandas

    log = generate_pandas(SynthConfig(n_events=6000, n_convs=120))
    sdf = spark.createDataFrame(log)
    log_dir = str(tmp_path / "log")
    sdf.write.parquet(log_dir)

    outs = {}
    for flag in (False, True):
        t = SnapshotTable.create(
            spark, str(tmp_path / f"t{flag}"), transcript_schema(),
            key_cols=KEY_COLS, n_buckets=8,
        )
        eng = ReplayEngine(
            spark, t,
            config=EngineConfig(
                batch_lsn_size=2500, lineage=False,
                bucket_local_merge=flag,
            ),
        )
        eng.replay(ChangeLogSource(spark, log_dir))
        outs[flag] = sorted(
            tuple(r) for r in t.read().select(
                "conv_id", "turn_idx", "role", "text", "tool"
            ).collect()
        )
        if flag:
            # every bucket dir holds files; bucket pruning still works
            got = t.read(key_equals={"conv_id": log["conv_id"].iloc[0]})
            assert got.count() >= 1
    assert outs[False] == outs[True]


def test_bucket_local_merge_single_exchange_plan(spark, tmp_path):
    """The merge's winner computation plans ONE Exchange when grouped
    (bucket, key...) on a bucket-repartitioned union — the physical
    contract bucket_local_merge relies on."""
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import bucket_expr
    from neosync_spark.operators.dedup import lww_dedup

    df = spark.createDataFrame(
        [(f"c{i%7}", i % 3, i, float(i)) for i in range(100)],
        "conv_id string, turn_idx int, lsn long, v double",
    ).withColumn("_b", bucket_expr("conv_id", 8))
    pre = df.repartition(8, F.col("_b"))
    won = lww_dedup(pre, ["_b", "conv_id", "turn_idx"], ["lsn"])
    plan = won._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_distributed_footer_reads_match_threadpool(spark, tmp_path):
    """Commits over _FOOTER_DISTRIBUTE_OVER files read footers in a
    Spark job; same result as the driver thread pool (num_rows, stats,
    schema columns), so the manifest entries built from them (zone
    maps, counts, patch detection) are identical either way."""
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(),
        key_cols=KEY_COLS, n_buckets=4,
    )
    t.merge_cdc(
        spark.range(200).select(
            F.concat(F.lit("c"), F.col("id") % 40).alias("conv_id"),
            (F.col("id") % 5).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(F.lit("t"), F.col("id")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
            F.col("id").alias("lsn"),
            F.lit("insert").alias("op"),
        ),
        applied_range=(0, 200),
    )
    m = t.manifest(refresh=True)
    written = {
        int(b): [e["path"] for e in ents] for b, ents in m["files"].items()
    }
    pool = SnapshotTable._read_footers(written)  # threadpool path
    pool_entries = t._file_entries(m, 99, written, 0)
    old = SnapshotTable._FOOTER_DISTRIBUTE_OVER
    SnapshotTable._FOOTER_DISTRIBUTE_OVER = 1
    try:
        dist = SnapshotTable._read_footers(written, spark)  # job path
        dist_entries = t._file_entries(m, 99, written, 0)
    finally:
        SnapshotTable._FOOTER_DISTRIBUTE_OVER = old
    assert set(pool) == set(dist) and len(pool) >= 4
    cols = t._stats_cols(m)
    assert SnapshotTable._collect_file_stats(written, cols, pool) == \
           SnapshotTable._collect_file_stats(written, cols, dist)
    assert pool_entries == dist_entries
    # the committed entries came from the same footers
    assert pool_entries == {
        b: sorted(ents, key=lambda e: e["path"])
        for b, ents in m["files"].items()
    }
