"""Storage audit (verify_files) + targeted bucket repair from the
archived change log (repair_buckets).

The disaster-recovery contract: losing any subset of buckets is
survivable as long as the log archive is intact — and the repair
replays ONLY the damaged buckets' slice of the log (the bucket-hash
predicate is evaluated in the log scan), never the whole 10^10-event
history. Reference analog: the CLI's replay-from-archive input
(cli/internal/cmds/neosync/sync/sync.go — `neosync_connection_data`),
narrowed from whole-table to per-bucket granularity.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from neosync_spark.engine import EngineConfig, ReplayEngine
from neosync_spark.lakehouse import SnapshotTable, bucket_expr
from neosync_spark.schema import KEY_COLS, transcript_schema
from neosync_spark.sources.changelog import ChangeLogSource
from neosync_spark.synth import SynthConfig, generate_pandas

from .conftest import assert_pdf_equal

CFG = SynthConfig(n_events=6_000, n_convs=200)
NB = 8


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("log") / "changelog")
    spark.createDataFrame(generate_pandas(CFG)).write.parquet(p)
    return p


def _build(spark, path, log_path, mode="cow"):
    t = SnapshotTable.create(
        spark, str(path), transcript_schema(), key_cols=KEY_COLS, n_buckets=NB
    )
    eng = ReplayEngine(
        spark, t, config=EngineConfig(batch_lsn_size=2_000, merge_mode=mode)
    )
    eng.replay(ChangeLogSource(spark, log_path))
    return t


def _bucket_files(t, bucket):
    m = t.manifest(refresh=True)
    return [e["path"] for e in m["files"].get(str(bucket), [])]


def _damage(t, bucket, how="delete"):
    """Simulate storage loss for one bucket's files."""
    paths = _bucket_files(t, bucket)
    assert paths, f"bucket {bucket} has no files to damage"
    for p in paths:
        if how == "delete":
            os.remove(p)
        else:  # truncate: footer unreadable
            with open(p, "r+b") as f:
                f.truncate(max(1, os.path.getsize(p) // 3))
    return paths


def test_verify_files_clean(spark, tmp_path, log_path):
    t = _build(spark, tmp_path / "t", log_path)
    rep = t.verify_files()
    assert rep["files_checked"] > 0
    assert rep["damaged"] == []
    assert rep["damaged_buckets"] == []


def test_verify_detects_missing_truncated_and_swapped(spark, tmp_path, log_path):
    t = _build(spark, tmp_path / "t", log_path)
    _damage(t, 2, how="delete")
    _damage(t, 5, how="truncate")
    # bucket 1: swap a file for a DIFFERENT valid parquet file (footer
    # parses; only the zone-map stats comparison can notice)
    victim = _bucket_files(t, 1)[0]
    donor_rows = spark.createDataFrame(
        [("zzz-swapped", 999)], "conv_id string, turn_idx int"
    )
    tmp_dir = str(tmp_path / "donor")
    donor_rows.coalesce(1).write.parquet(tmp_dir)
    donor = glob.glob(os.path.join(tmp_dir, "*.parquet"))[0]
    os.remove(victim)
    os.link(donor, victim)

    rep = t.verify_files()
    reasons = {d["bucket"]: d["reason"] for d in rep["damaged"]}
    assert rep["damaged_buckets"] == [1, 2, 5]
    assert reasons[2] == "missing"
    assert reasons[5] == "unreadable_footer"
    assert reasons[1].startswith(("stats_mismatch", "stats_missing"))
    # shallow mode still catches the physical failures
    shallow = t.verify_files(deep=False)
    assert set(shallow["damaged_buckets"]) >= {2, 5}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_repair_restores_exact_state(spark, tmp_path, log_path, mode):
    t = _build(spark, tmp_path / f"t_{mode}", log_path, mode=mode)
    expected = t.read().toPandas()
    ranges_before = t.applied_ranges()
    m_before = t.manifest(refresh=True)
    damaged = [2, 5]
    for b in damaged:
        _damage(t, b)

    assert sorted(t.verify_files(deep=False)["damaged_buckets"]) == damaged

    log = spark.read.parquet(log_path)
    info = t.repair_buckets(log, damaged)
    assert info.buckets_rewritten == len(damaged)

    assert_pdf_equal(
        t.read().toPandas(), expected, ["conv_id", "turn_idx"], "repaired state"
    )
    assert t.verify_files()["damaged"] == []
    # ledger untouched; undamaged buckets carried by reference
    assert t.applied_ranges() == ranges_before
    m_after = t.manifest(refresh=True)
    assert m_after["summary"]["operation"] == "repair"
    for b, entries in m_before["files"].items():
        if int(b) not in damaged:
            assert [e["path"] for e in m_after["files"][b]] == [
                e["path"] for e in entries
            ]


def test_repair_ignores_unapplied_tail(spark, tmp_path, log_path):
    """Events beyond the ledger's applied ranges (a torn tail, a crash
    before commit) must NOT leak into the repaired bucket."""
    t = _build(spark, tmp_path / "t", log_path)
    expected = t.read().toPandas()
    hi = int(spark.read.parquet(log_path).agg(F.max("lsn")).collect()[0][0])
    # unapplied tail: a later upsert for every key in bucket 3
    tail = (
        spark.read.parquet(log_path)
        .filter(bucket_expr("conv_id", NB) == 3)
        .withColumn("lsn", F.col("lsn") + F.lit(hi + 1_000))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
        .withColumn("op", F.lit("insert"))
        .withColumn("text", F.lit("FROM-THE-FUTURE"))
    )
    full_log = spark.read.parquet(log_path).unionByName(tail)

    _damage(t, 3)
    t.repair_buckets(full_log, [3])
    got = t.read().toPandas()
    assert (got["text"] == "FROM-THE-FUTURE").sum() == 0
    assert_pdf_equal(got, expected, ["conv_id", "turn_idx"], "tail excluded")


def test_repair_reapplies_transform(spark, tmp_path, log_path):
    """Anonymization is part of the stored state — repair re-applies
    the same per-row mapping the original merges did."""

    def xform(df, only_where=None):
        mapped = F.upper(F.coalesce(F.col("text"), F.lit("")))
        if only_where is not None:
            mapped = F.when(only_where, mapped).otherwise(F.col("text"))
        return df.withColumn("text", mapped)

    t = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        transcript_schema(),
        key_cols=KEY_COLS,
        n_buckets=NB,
    )
    log = spark.read.parquet(log_path)
    hi = int(log.agg(F.max("lsn")).collect()[0][0])
    mid = hi // 2
    t.merge_cdc(
        log.filter(F.col("lsn") <= mid),
        applied_range=(0, mid),
        source_is_raw=True,
        transform=xform,
    )
    t.merge_cdc(
        log.filter(F.col("lsn") > mid),
        applied_range=(mid + 1, hi),
        source_is_raw=True,
        transform=xform,
    )
    expected = t.read().toPandas()
    _damage(t, 4)
    t.repair_buckets(spark.read.parquet(log_path), [4], transform=xform)
    assert_pdf_equal(
        t.read().toPandas(), expected, ["conv_id", "turn_idx"], "transformed"
    )


def test_repair_respects_exclude_keys(spark, tmp_path, log_path):
    """Purged subjects stay gone: the log archive still holds them, so
    the operator re-asserts the purge during repair."""
    t = _build(spark, tmp_path / "t", log_path, mode="mor")
    state = t.read()
    subject = (
        state.withColumn("_b", bucket_expr("conv_id", NB))
        .filter(F.col("_b") == 6)
        .select("conv_id")
        .orderBy("conv_id")
        .limit(1)
        .collect()[0][0]
    )
    t.purge_keys([subject])
    expected = t.read().toPandas()
    assert (expected["conv_id"] == subject).sum() == 0

    _damage(t, 6)
    t.repair_buckets(spark.read.parquet(log_path), [6], exclude_keys=[subject])
    got = t.read().toPandas()
    assert (got["conv_id"] == subject).sum() == 0
    assert_pdf_equal(got, expected, ["conv_id", "turn_idx"], "purge upheld")


def test_repair_pushes_bucket_filter_into_log_scan(spark, tmp_path, log_path):
    """Scale contract: the repair job's log scan carries the bucket-hash
    + lsn predicates as JVM filters directly above (and partially into)
    the scan — the log is read once, nothing else shuffles in."""
    t = _build(spark, tmp_path / "t", log_path)
    _damage(t, 2)
    log = spark.read.parquet(log_path)

    captured = {}
    orig = SnapshotTable._finalize_rows

    def spy(won, cur, key_cols, include_patch=False):
        out = orig(won, cur, key_cols, include_patch=include_patch)
        captured["plan"] = out._jdf.queryExecution().executedPlan().toString()
        return out

    SnapshotTable._finalize_rows = staticmethod(spy)
    try:
        t.repair_buckets(log, [2])
    finally:
        SnapshotTable._finalize_rows = staticmethod(orig)

    plan = captured["plan"]
    assert "xxhash64" in plan.lower(), plan  # bucket predicate in the scan stage
    assert "lsn" in plan.lower(), plan
    # one fold over the filtered slice: no join against the table side
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_repair_bucket_to_empty(spark, tmp_path, log_path):
    """A damaged bucket whose keys were all deleted (or that never had
    rows) repairs to tombstones-only / absent — not an error."""
    t = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        transcript_schema(),
        key_cols=KEY_COLS,
        n_buckets=64,
    )
    pdf = generate_pandas(SynthConfig(n_events=500, n_convs=10))
    log = spark.createDataFrame(pdf)
    t.merge_cdc(log, applied_range=(0, int(pdf["lsn"].max())), source_is_raw=True)
    expected = t.read().toPandas()
    m = t.manifest(refresh=True)
    populated = {int(b) for b in m["files"]}
    empty_bucket = next(b for b in range(64) if b not in populated)
    target = next(iter(populated))
    _damage(t, target)
    info = t.repair_buckets(log, [target, empty_bucket])
    assert info.buckets_rewritten == 2
    assert_pdf_equal(
        t.read().toPandas(), expected, ["conv_id", "turn_idx"], "state"
    )
