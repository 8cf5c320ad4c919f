"""Per-file key bloom sidecars: point-lookup file skipping that is
per-file sound in MoR buckets for key columns (bloom.py), equals the
plain filtered read exactly, never false-negatives on present keys,
and whose sidecars are GC'd with the snapshots that reference them."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from neosync_spark.bloom import bloom_positions, might_contain
from neosync_spark.lakehouse import SnapshotTable
from neosync_spark.schema import KEY_COLS, transcript_schema

from .test_lakehouse import _batch


def _mk_bloom(spark, path, n_buckets=4):
    return SnapshotTable.create(
        spark,
        str(path),
        transcript_schema(),
        key_cols=KEY_COLS,
        order_cols=["ts"],
        n_buckets=n_buckets,
        bloom_cols=["conv_id"],
    )


def _fill(spark, t, epochs=4, convs=8):
    lsn = 0
    for e in range(epochs):
        rows = []
        for i in range(convs):
            # each epoch touches a distinct conv slice -> distinct
            # key sets per delta file (what blooms discriminate)
            cid = f"c{e}_{i}"
            rows.append(
                (lsn, "insert", cid, 0, "user", f"text {e} {i}", None,
                 f"2026-01-0{e + 1} 00:00:01")
            )
            lsn += 1
        t.merge_cdc(
            _batch(spark, rows),
            applied_range=(lsn - convs, lsn),
            mode="mor",
        )
    return t


def test_unit_no_false_negative_and_some_negative():
    m, k = 1 << 12, 7
    import numpy as np

    bits = np.zeros(m, dtype=bool)
    present = [f"key-{i}" for i in range(200)]
    for v in present:
        for p in bloom_positions(v, m, k):
            bits[p] = True
    packed = np.packbits(bits).tobytes()
    assert all(might_contain(packed, m, k, v) for v in present)
    absent_hits = sum(
        might_contain(packed, m, k, f"other-{i}") for i in range(500)
    )
    assert absent_hits < 25  # ~1% fpp design point, generous bound


def test_point_lookup_prunes_mor_delta_chain(spark, tmp_path):
    t = _fill(spark, _mk_bloom(spark, tmp_path / "t"))
    full = t.scan_stats()
    pruned = t.scan_stats(key_equals={"conv_id": "c2_3"})
    assert pruned["files_total"] == full["files_total"]
    # the key lives in exactly one epoch's delta -> most files skipped
    assert pruned["files_kept"] <= full["files_kept"] / 2
    got = t.read(key_equals={"conv_id": "c2_3"})
    want = t.read().filter(F.col("conv_id") == "c2_3")
    assert got.count() == want.count() == 1
    assert got.collect()[0]["text"] == "text 2 3"


def test_lookup_equals_filter_for_every_key(spark, tmp_path):
    """No false negatives end-to-end: every present key point-looks-up
    to exactly its filtered rows, across COW + MoR + update history."""
    t = _fill(spark, _mk_bloom(spark, tmp_path / "t"), epochs=3, convs=5)
    # updates via COW so some buckets are pure-base, some hold deltas
    rows = [
        (100 + i, "update", f"c1_{i}", 0, "user", f"upd {i}", None,
         "2026-02-01 00:00:01")
        for i in range(5)
    ]
    t.merge_cdc(_batch(spark, rows), applied_range=(100, 106), mode="cow")
    keys = [r["conv_id"] for r in t.read().select("conv_id").collect()]
    assert len(keys) == 15
    for cid in keys:
        got = t.read(key_equals={"conv_id": cid}).collect()
        assert len(got) == 1 and got[0]["conv_id"] == cid
    # multi-value lookup
    got = t.read(key_equals={"conv_id": ["c0_0", "c2_4", "nope"]})
    assert got.count() == 2


def test_absent_key_opens_few_files(spark, tmp_path):
    t = _fill(spark, _mk_bloom(spark, tmp_path / "t"))
    pruned = t.scan_stats(key_equals={"conv_id": "never-written"})
    # everything bloom-covered is skipped (fpp aside)
    assert pruned["files_kept"] <= 2
    assert t.read(key_equals={"conv_id": "never-written"}).count() == 0


def test_compact_rebuilds_blooms_and_gc_drops_old_sidecars(spark, tmp_path):
    t = _fill(spark, _mk_bloom(spark, tmp_path / "t"))
    t.compact()
    m = t.manifest(refresh=True)
    assert all(
        e.get("bloom") for es in m["files"].values() for e in es
    ), "compacted files should carry fresh bloom pointers"
    got = t.read(key_equals={"conv_id": "c3_1"})
    assert got.count() == 1
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_bloom_sidecars"] >= 1
    live = {
        e["bloom"]
        for es in t.manifest(refresh=True)["files"].values()
        for e in es
    }
    on_disk = {
        os.path.join("blooms", f)
        for f in os.listdir(os.path.join(t.path, "blooms"))
    }
    assert on_disk == live
    # reads still exact after GC
    assert t.read(key_equals={"conv_id": "c3_1"}).count() == 1


def test_purge_then_lookup_is_empty_and_sidecars_rewritten(spark, tmp_path):
    t = _fill(spark, _mk_bloom(spark, tmp_path / "t"))
    t.purge_keys(["c1_2"], keep_last=1)
    assert t.read(key_equals={"conv_id": "c1_2"}).count() == 0
    # no retained sidecar row references a deleted data file
    m = t.manifest(refresh=True)
    paths = {e["path"] for es in m["files"].values() for e in es}
    assert all(os.path.exists(p) for p in paths)


def test_bloomless_table_unaffected(spark, tmp_path):
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(),
        key_cols=KEY_COLS, order_cols=["ts"], n_buckets=4,
    )
    _fill(spark, t, epochs=2, convs=3)
    s = t.scan_stats(key_equals={"conv_id": "c0_0"})
    # no blooms -> no file skipped; bucket pruning still applies in read
    assert s["files_kept"] == s["files_total"]
    assert t.read(key_equals={"conv_id": "c0_0"}).count() == 1


def test_bloom_survives_column_rename(spark, tmp_path):
    """bloom_cols are creation-time names; after alter_schema renames
    the (non-key) column, new commits must still build sidecars —
    resolved through the rename chain — and lookups on the CURRENT
    name must keep pruning COW files."""
    from pyspark.sql import types as T

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(),
        key_cols=KEY_COLS, order_cols=["ts"], n_buckets=4,
        bloom_cols=["tool"],
    )
    rows = [
        (i, "insert", f"c{i}", 0, "user", f"t{i}", f"tool_{i}",
         "2026-01-01 00:00:01")
        for i in range(8)
    ]
    t.merge_cdc(_batch(spark, rows), applied_range=(0, 8), mode="cow")
    renamed = T.StructType(
        [
            f if f.name != "tool"
            else T.StructField("tool_name", f.dataType, f.nullable)
            for f in transcript_schema().fields
        ]
    )
    t.alter_schema(renamed, renames={"tool_name": "tool"})
    # post-rename commit carries the NEW column name
    import pandas as pd

    pdf = pd.DataFrame(
        [(100 + i, "insert", f"n{i}", 0, "user", "post", f"newtool_{i}",
          "2026-03-01 00:00:01") for i in range(8)],
        columns=["lsn", "op", "conv_id", "turn_idx", "role", "text",
                 "tool_name", "ts"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    t.merge_cdc(spark.createDataFrame(pdf), applied_range=(100, 110), mode="cow")
    m = t.manifest(refresh=True)
    # every file (pre- and post-rename) carries a bloom pointer
    assert all(e.get("bloom") for es in m["files"].values() for e in es)
    got = t.read(key_equals={"tool_name": "newtool_3"})
    assert got.count() == 1 and got.collect()[0]["conv_id"] == "n3"
    # old data found through the rename chain too
    got_old = t.read(key_equals={"tool_name": "tool_5"})
    assert got_old.count() == 1 and got_old.collect()[0]["conv_id"] == "c5"
    pruned = t.scan_stats(key_equals={"tool_name": "newtool_3"})
    full = t.scan_stats()
    assert pruned["files_kept"] < full["files_kept"]


def test_build_ships_no_bitsets_through_driver(spark, tmp_path, monkeypatch):
    """The sidecar build is fully distributed (VERDICT r3 #5): footer
    row counts are read executor-side, partial bitsets OR-merge in a
    grouped applyInPandas, and the sidecar file is written by a Spark
    task. Poisoning DataFrame.collect proves no bitset row — indeed no
    DataFrame row at all — reaches the driver during the build."""
    from pyspark.sql import DataFrame

    t = _mk_bloom(spark, tmp_path / "t", n_buckets=4)
    real_collect = DataFrame.collect

    def _poisoned(self):
        raise AssertionError("DataFrame.collect on the driver during bloom build")

    # many files: each epoch writes one delta file per touched bucket
    lsn = 0
    for e in range(3):
        rows = []
        for i in range(10):
            rows.append(
                (lsn, "insert", f"c{e}_{i}", 0, "user", f"t {e} {i}", None,
                 f"2026-01-0{e + 1} 00:00:01")
            )
            lsn += 1
        batch = _batch(spark, rows)
        monkeypatch.setattr(DataFrame, "collect", _poisoned)
        try:
            t.merge_cdc(batch, applied_range=(lsn - 10, lsn), mode="mor")
        finally:
            monkeypatch.setattr(DataFrame, "collect", real_collect)
    # blooms still prune and never false-negative
    got = t.read(key_equals={"conv_id": "c1_3"}).collect()
    assert len(got) == 1 and got[0]["conv_id"] == "c1_3"
    full = t.scan_stats()
    pruned = t.scan_stats(key_equals={"conv_id": "c1_3"})
    assert pruned["files_kept"] < full["files_kept"]


def test_size_bits_capped(spark):
    from neosync_spark.bloom import MAX_BITS, _size_bits

    assert _size_bits(10) == 1024
    assert _size_bits(10**9) == MAX_BITS


def _two_day_rows(lsn0, text):
    # even convs on Jan 1, odd on Jan 3: every file straddles Jan 2
    return [
        (lsn0 + i, "insert", f"c{i}", 0, "user", f"{text} {i}", None,
         f"2026-01-0{1 + 2 * (i % 2)} 00:00:01")
        for i in range(8)
    ]


@pytest.mark.parametrize("writer", [
    "merge_cow", "merge_mor", "commit_delta", "compact", "purge_keys",
    "rescale_buckets", "repair_buckets", "expire_rows",
])
def test_every_writer_records_rows_stats_and_bloom(spark, tmp_path, writer):
    """Every path that writes data files gives each new manifest entry
    its record count, zone maps and bloom sidecar — a writer that skips
    one silently loses metadata counts or pruning on its files."""
    t = _mk_bloom(spark, tmp_path / "t", n_buckets=2)
    log = _batch(spark, _two_day_rows(0, "a"))
    t.merge_cdc(
        log, applied_range=(0, 7), mode="mor" if writer == "compact" else "cow"
    )
    before = {e["path"] for ents in t.manifest()["files"].values() for e in ents}
    again = _batch(spark, _two_day_rows(8, "b"))
    if writer == "merge_cow":
        t.merge_cdc(again, applied_range=(8, 15))
    elif writer == "merge_mor":
        t.merge_cdc(again, applied_range=(8, 15), mode="mor")
    elif writer == "commit_delta":
        written, n_src, schema_id = t.prepare_delta(again)
        t.commit_delta(written, (8, 15), n_src, schema_id)
    elif writer == "compact":
        assert t.compact() is not None
    elif writer == "purge_keys":
        assert t.purge_keys(["c0"])["purged_rows"] == 1
    elif writer == "rescale_buckets":
        t.rescale_buckets(3)
    elif writer == "repair_buckets":
        t.repair_buckets(log, [0, 1])
    else:
        rep = t.expire_rows(datetime.datetime(2026, 1, 2))
        assert rep["files_rewritten"] >= 1
    new = [
        e for ents in t.manifest(refresh=True)["files"].values()
        for e in ents if e["path"] not in before
    ]
    assert new
    for e in new:
        assert {"rows", "stats", "bloom"} <= set(e), (writer, e)
