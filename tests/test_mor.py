"""Merge-on-read mode: delta commits + read-time LWW + compaction must
produce exactly the COW final state (and the oracle's)."""

from __future__ import annotations

import pytest

from neosync_spark.engine import EngineConfig, ReplayEngine
from neosync_spark.lakehouse import SnapshotTable
from neosync_spark.schema import KEY_COLS, transcript_schema
from neosync_spark.sources.changelog import ChangeLogSource
from neosync_spark.synth import SynthConfig, expected_final_state, generate_pandas

from .conftest import assert_pdf_equal

CFG = SynthConfig(n_events=8_000, n_convs=300)
BATCH = 2_000


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("log") / "changelog")
    spark.createDataFrame(generate_pandas(CFG)).write.parquet(p)
    return p


def _run(spark, tmp_path, log_path, mode, compact_over=None):
    t = SnapshotTable.create(
        spark, str(tmp_path), transcript_schema(), key_cols=KEY_COLS, n_buckets=8
    )
    eng = ReplayEngine(
        spark,
        t,
        config=EngineConfig(
            batch_lsn_size=BATCH, merge_mode=mode, compact_deltas_over=compact_over
        ),
    )
    eng.replay(ChangeLogSource(spark, log_path))
    return t


def test_mor_matches_oracle_and_cow(spark, tmp_path, log_path):
    exp = expected_final_state(generate_pandas(CFG))

    mor = _run(spark, tmp_path / "mor", log_path, "mor", compact_over=None)
    assert_pdf_equal(mor.read().toPandas(), exp, ["conv_id", "turn_idx"])
    # deltas actually accumulated (no compaction)
    assert sum(mor.delta_file_counts().values()) > 0

    cow = _run(spark, tmp_path / "cow", log_path, "cow")
    assert_pdf_equal(
        mor.read().toPandas(), cow.read().toPandas(), ["conv_id", "turn_idx"]
    )


def test_mor_compaction_preserves_state(spark, tmp_path, log_path):
    t = _run(spark, tmp_path / "t", log_path, "mor", compact_over=None)
    before = t.read().toPandas()
    info = t.compact()
    assert info is not None
    assert t.delta_file_counts() == {}
    after = t.read().toPandas()
    assert_pdf_equal(before, after, ["conv_id", "turn_idx"])
    # ledger survives compaction
    assert len(t.applied_ranges()) == 4


def test_mor_auto_compaction(spark, tmp_path, log_path):
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), key_cols=KEY_COLS, n_buckets=4
    )
    eng = ReplayEngine(
        spark,
        t,
        config=EngineConfig(batch_lsn_size=BATCH, merge_mode="mor", compact_deltas_over=2),
    )
    eng.replay(ChangeLogSource(spark, log_path))
    # pressure kept at/below the threshold by auto-compaction
    assert all(n <= 2 for n in t.delta_file_counts().values())
    exp = expected_final_state(generate_pandas(CFG))
    assert_pdf_equal(t.read().toPandas(), exp, ["conv_id", "turn_idx"])


def test_mor_exactly_once(spark, tmp_path, log_path):
    t = _run(spark, tmp_path / "t", log_path, "mor")
    sid = t.manifest(refresh=True)["snapshot_id"]
    eng = ReplayEngine(
        spark, t, config=EngineConfig(batch_lsn_size=BATCH, merge_mode="mor")
    )
    s = eng.replay(ChangeLogSource(spark, log_path))
    assert s.batches_applied == 0 and s.batches_skipped == 4
    assert t.manifest(refresh=True)["snapshot_id"] == sid


def test_pipelined_mor_replay_matches_oracle(spark, tmp_path):
    """Serial and pipelined MoR replay are one write path: for a
    full-image log and a partial-image (patch_ops) log, both reach the
    same final state with the engine's df-level hook applied, the same
    ledger source-row count per range and the same per-bucket delta
    entries. Pipelined replay matches the oracle; resume is a no-op."""
    from pyspark.sql import functions as F

    log = generate_pandas(CFG)
    # every other update becomes a partial image: role/tool unchanged
    patch_log = log.copy()
    partial = (patch_log["op"] == "update") & (patch_log["lsn"] % 2 == 0)
    patch_log.loc[partial, "op"] = "patch"
    patch_log.loc[partial, ["role", "tool"]] = None

    def upper_text(df, only_where=None):
        mapped = F.upper("text")
        if only_where is not None:
            mapped = F.when(only_where, mapped).otherwise(F.col("text"))
        return df.withColumn("text", mapped)

    def replay(name, pdf, pipeline_batches, patch_ops):
        sdf = spark.createDataFrame(pdf)
        t = SnapshotTable.create(
            spark, str(tmp_path / name), transcript_schema(),
            key_cols=KEY_COLS, n_buckets=8,
        )
        eng = ReplayEngine(
            spark, t, df_transform=upper_text,
            config=EngineConfig(
                batch_lsn_size=BATCH, merge_mode="mor",
                compact_deltas_over=None, patch_ops=patch_ops,
            ),
        )

        def slicer(lo, hi):
            return sdf.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

        stats = eng.replay(
            slicer, lsn_lo=0, lsn_hi=7_999, pipeline_batches=pipeline_batches
        )
        assert stats.batches_applied == 4
        return t, eng, slicer

    def shape(t):
        m = t.manifest(refresh=True)
        n_src = {(r[0], r[1]): r[3] for r in m["checkpoint"]["applied"]}
        entries = {
            b: sorted((e["rows"], e.get("kind")) for e in es)
            for b, es in m["files"].items()
        }
        return n_src, entries

    for name, pdf, patch_ops in (("full", log, False), ("patch", patch_log, True)):
        serial, _, _ = replay(f"{name}_serial", pdf, 1, patch_ops)
        t, eng, slicer = replay(f"{name}_pipelined", pdf, 4, patch_ops)
        assert_pdf_equal(
            t.read().toPandas(), serial.read().toPandas(),
            ["conv_id", "turn_idx"], msg=f"{name}: pipelined vs serial",
        )
        assert shape(t) == shape(serial), name
        assert len(shape(t)[0]) == 4
        if not patch_ops:
            exp = expected_final_state(log)
            exp["text"] = exp["text"].str.upper()
            assert_pdf_equal(t.read().toPandas(), exp, ["conv_id", "turn_idx"])
    # resume: everything already applied
    stats2 = eng.replay(slicer, lsn_lo=0, lsn_hi=7_999, pipeline_batches=4)
    assert stats2.batches_applied == 0 and stats2.batches_skipped == 4
    # guard: pipelining requires mor
    eng_cow = ReplayEngine(
        spark, t, config=EngineConfig(batch_lsn_size=BATCH, merge_mode="cow")
    )
    with pytest.raises(ValueError, match="mor"):
        eng_cow.replay(slicer, lsn_lo=0, lsn_hi=7_999, pipeline_batches=4)


def test_commit_delta_rejects_stale_schema(spark, tmp_path):
    """A delta prepared under an old schema must not commit after an
    evolution (the pipelined-path analog of the COW conflict guard)."""
    from pyspark.sql import types as T

    from neosync_spark.lakehouse import CommitConflictError, SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), key_cols=KEY_COLS, n_buckets=4
    )
    import pandas as pd

    pdf = pd.DataFrame(
        [[1, "insert", "c1", 0, "user", "x", None, pd.Timestamp("2024-01-01")]],
        columns=["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    batch = spark.createDataFrame(pdf)
    written, n_src, sid = t.prepare_delta(batch)
    # schema evolves while the delta is in flight
    cur = t.current_schema()
    t.alter_schema(
        T.StructType(list(cur.fields) + [T.StructField("extra", T.StringType(), True)])
    )
    import pytest as _pytest

    with _pytest.raises(CommitConflictError, match="schema advanced"):
        t.commit_delta(written, (0, 2), n_src, sid)


def test_pipelined_replay_applies_pending_rename(spark, tmp_path):
    """A rename pending at v_hi must reach the pipelined pre-flight
    ensure_table_schema as a rename (not drop+add), so pre-rename data
    keeps its column history."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from neosync_spark.schema_registry import SchemaRegistry, SchemaVersion

    v1 = transcript_schema()
    v2 = T.StructType(
        [
            f if f.name != "text" else T.StructField("content", f.dataType, True)
            for f in v1.fields
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), v1, key_cols=KEY_COLS, n_buckets=4
    )
    # seed a row under v1 — its text must survive the rename
    seed = pd.DataFrame(
        [[10_000, "insert", "seed", 0, "user", "seedval", None,
          pd.Timestamp("2024-01-01")]],
        columns=["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    seed["turn_idx"] = seed["turn_idx"].astype("int32")
    t.merge_cdc(spark.createDataFrame(seed), applied_range=(10_000, 10_001))

    log = generate_pandas(SynthConfig(n_events=4_000, n_convs=150))
    sdf = spark.createDataFrame(log).withColumnRenamed("text", "content")
    reg = SchemaRegistry(
        versions=[
            SchemaVersion(1, v1, 0),
            SchemaVersion(2, v2, 0, renames=(("content", "text"),)),
        ]
    )
    eng = ReplayEngine(
        spark, t, registry=reg,
        config=EngineConfig(
            batch_lsn_size=2_000, merge_mode="mor", prune_buckets=False,
            compact_deltas_over=None,
        ),
    )
    eng.replay(
        lambda lo, hi: sdf.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
        lsn_lo=0, lsn_hi=3_999, pipeline_batches=2,
    )
    out = t.read()
    assert "content" in out.columns and "text" not in out.columns
    got = out.filter(F.col("conv_id") == "seed").select("content").collect()
    assert [r[0] for r in got] == ["seedval"]


def test_compact_sort_by_key_clusters_files(spark, tmp_path):
    """sort_by_key compaction: identical data, but each bucket file is
    key-sorted so row-group stats line up with the key. Adversarial
    settings (AQE off, several shuffle partitions, scrambled insert
    order) so incidental ordering can't mask a sort that the
    partitionBy writer optimized away; the sort_by_key=False control
    must come out UNsorted under the same settings."""
    import pandas as pd
    import pyarrow.parquet as pq

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema

    def build(path, sort_flag):
        t = SnapshotTable.create(
            spark, str(path), transcript_schema(),
            key_cols=KEY_COLS, order_cols=["ts"], n_buckets=2,
        )
        rows = []
        for i in range(2000):
            j = (i * 613) % 2000  # scrambled key order
            rows.append((i, "insert", f"c{j % 97}", j % 7, "user", f"m{j}",
                         None,
                         pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i)))
        pdf = pd.DataFrame(rows, columns=[
            "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        t.merge_cdc(spark.createDataFrame(pdf).repartition(8),
                    applied_range=(0, 5000), mode="mor")
        t.compact(sort_by_key=sort_flag)
        return t

    def files_sorted(t):
        out = []
        m = t.manifest(refresh=True)
        for entries in m["files"].values():
            for e in entries:
                df = pq.read_table(
                    e["path"], columns=["conv_id", "turn_idx"]
                ).to_pandas()
                out.append(
                    df.sort_values(["conv_id", "turn_idx"], kind="mergesort")
                    .reset_index(drop=True)
                    .equals(df.reset_index(drop=True))
                )
        return out

    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t_sorted = build(tmp_path / "sorted", True)
        t_plain = build(tmp_path / "plain", False)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    assert all(files_sorted(t_sorted)), "sort_by_key files must be key-sorted"
    # identical data either way
    from .conftest import assert_pdf_equal

    assert_pdf_equal(
        t_sorted.read().toPandas(), t_plain.read().toPandas(),
        ["conv_id", "turn_idx"],
    )
    # negative control: without the flag the scrambled order survives —
    # if this starts passing sorted, the positive assertion is vacuous
    assert not all(files_sorted(t_plain)), (
        "control files came out sorted; the fixture no longer "
        "discriminates and the positive assertion proves nothing"
    )


def test_plan_compaction_policy_and_auto_cli(spark, tmp_path, log_path):
    """plan_compaction picks buckets by delta pressure, bounded by
    max_buckets; CLI compact --auto folds exactly the planned buckets
    and preserves state."""
    import json as _json

    from neosync_spark import cli

    t = _run(spark, tmp_path / "t", log_path, "mor", compact_over=None)
    counts = t.delta_file_counts()
    assert counts  # 4 batches x 8 buckets => deltas everywhere

    # threshold below the per-bucket count selects all; above selects none
    n_min = min(counts.values())
    full = t.plan_compaction(min_deltas=1)
    assert {b for b, _n, _sz in full} == set(counts)
    assert all(sz > 0 for _b, _n, sz in full)
    # sorted by pressure: n_deltas desc, then bytes desc
    assert [n for _b, n, _sz in full] == sorted(
        (n for n in counts.values()), reverse=True
    )
    assert t.plan_compaction(min_deltas=max(counts.values()) + 1) == []
    # byte threshold alone can also trigger
    assert t.plan_compaction(
        min_deltas=10**9, min_delta_bytes=1
    ) == full

    # bounded maintenance window: only the K worst buckets
    k = 3
    windowed = t.plan_compaction(min_deltas=n_min, max_buckets=k)
    assert windowed == full[:k]

    before = t.read().toPandas()
    rc = cli.main([
        "--master", "local[4]",
        "compact", "--table", str(tmp_path / "t"),
        "--auto", "--min-deltas", str(n_min), "--max-buckets", str(k),
    ])
    assert rc == 0
    remaining = t.delta_file_counts()
    assert set(remaining) == set(counts) - {b for b, _n, _sz in windowed}
    assert_pdf_equal(t.read().toPandas(), before, ["conv_id", "turn_idx"])

    # nothing above threshold => explicit no-op, no new snapshot
    sid = t.manifest(refresh=True)["snapshot_id"]
    rc = cli.main([
        "--master", "local[4]",
        "compact", "--table", str(tmp_path / "t"),
        "--auto", "--min-deltas", "1000000",
    ])
    assert rc == 0
    assert t.manifest(refresh=True)["snapshot_id"] == sid


def test_retention_expire_rows(spark, tmp_path):
    """compact(expire_rows_before=...): live rows AND tombstones older
    than the cutoff physically vanish; the retained window is exact and
    the files on disk hold nothing older."""
    import datetime

    from .test_lakehouse import _batch, _mk

    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path / "t")
    t.merge_cdc(_batch(spark, [
        (1, "insert", "old", 0, "user", "ancient", None, "2025-01-01 00:00:01"),
        (2, "insert", "new", 0, "user", "recent", None, "2026-06-01 00:00:01"),
        (3, "insert", "gone", 0, "user", "x", None, "2025-02-01 00:00:01"),
        (4, "delete", "gone", 0, None, None, None, "2025-02-02 00:00:01"),
    ]), applied_range=(0, 10), mode="mor")
    cutoff = datetime.datetime(2026, 1, 1)
    info = t.compact(expire_rows_before=cutoff)
    assert info is not None
    rows = t.read().collect()
    assert [(r["conv_id"], r["text"]) for r in rows] == [("new", "recent")]
    # nothing older survives on disk (tombstones included)
    m = t.manifest(refresh=True)
    paths = [e["path"] for es in m["files"].values() for e in es]
    raw = spark.read.parquet(*paths)
    assert raw.filter(F.col("ts") < F.lit(cutoff)).count() == 0
    # ledger untouched: the applied range still no-ops
    again = t.merge_cdc(_batch(spark, [
        (1, "insert", "old", 0, "user", "ancient", None, "2025-01-01 00:00:01"),
    ]), applied_range=(0, 10), mode="mor")
    assert again.rows_written == 0
    assert t.read().count() == 1
