"""Concurrent-writer commits: optimistic rebase / retry / no-op.

The reference is single-writer per table (one Temporal workflow owns a
sync — worker/pkg/workflows/datasync/workflow/workflow.go serializes
activities per destination table); the lakehouse generalizes that to
the Iceberg optimistic-concurrency model so independent loaders,
tailers and maintenance jobs can share a table:

- MoR delta appends always rebase across data-plane commits (read-time
  LWW orders by (ts, lsn), not commit order).
- COW rewrites rebase while every file they consumed is still live at
  the new head; concurrent deltas survive ON TOP of the rewrite; two
  base generations in an empty-at-parent bucket are merged by demoting
  the rebasing side to delta entries (fold at read == sequential LWW).
- A rewrite whose consumed files were replaced, or any concurrent
  structural commit (purge/rescale/alter/rollback/repair), refuses the
  rebase; on_conflict='retry' then recomputes from the new head.
- Exactly-once survives the race: a duplicate applied_range becomes a
  no-op with the loser's files orphaned (GC-able).

Races are made deterministic with the `_pre_commit_hook` test seam —
the second writer's commit runs at the exact point the first writer is
about to write its manifest.
"""
from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from neosync_spark.lakehouse import (
    CommitConflictError,
    RewriteConflictError,
    SnapshotTable,
)
from neosync_spark.schema import KEY_COLS, transcript_schema


def _events(spark, lo, hi, pfx):
    rows = [
        (f"{pfx}-{i % 7}", i % 5, "user", f"txt-{i}", None,
         float(1000 + i), i, "insert")
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts double, lsn long, op string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _state(t):
    return sorted(
        tuple(r)
        for r in t.read().select("conv_id", "turn_idx", "text").collect()
    )


def _fresh(spark, n_buckets=4):
    path = tempfile.mkdtemp(prefix="ns_conc_")
    t = SnapshotTable.create(
        spark, path, transcript_schema(), key_cols=KEY_COLS,
        n_buckets=n_buckets,
    )
    return path, t


def _sequential(spark, batches, n_buckets=4):
    _, tc = _fresh(spark, n_buckets)
    for df, rng in batches:
        tc.merge_cdc(df, applied_range=rng, source_is_raw=True)
    return _state(tc)


class TestCowRebase:
    def test_disjoint_key_writers_rebase(self, spark):
        path, t1 = _fresh(spark, n_buckets=16)
        t2 = SnapshotTable.load(spark, path)
        a = _events(spark, 0, 40, "convA")
        b = _events(spark, 100, 140, "convB")
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            a, applied_range=(0, 40), source_is_raw=True
        )
        t2.merge_cdc(
            b, applied_range=(100, 140), source_is_raw=True,
            on_conflict="rebase",
        )
        assert _state(t2) == _sequential(
            spark, [(a, (0, 40)), (b, (100, 140))], n_buckets=16
        )
        m = t2.manifest(refresh=True)
        assert m["summary"]["rebased_onto"] == 1
        assert len(m["checkpoint"]["applied"]) == 2  # both ledger rows

    def test_same_keys_empty_parent_demotes_to_delta(self, spark):
        # both writers COW-merge the SAME keys into buckets that were
        # empty at the shared parent: the rebase demotes the rebasing
        # side's base files to delta entries so read() LWW-folds the
        # two generations — final state == sequential merge
        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        xa = _events(spark, 0, 40, "convA")
        xb = _events(spark, 200, 240, "convA")  # higher (ts, lsn): wins
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            xa, applied_range=(0, 40), source_is_raw=True
        )
        t2.merge_cdc(
            xb, applied_range=(200, 240), source_is_raw=True,
            on_conflict="rebase",
        )
        assert _state(t2) == _sequential(
            spark, [(xa, (0, 40)), (xb, (200, 240))]
        )
        m = t2.manifest(refresh=True)
        assert any(
            e.get("kind") == "delta"
            for es in m["files"].values()
            for e in es
        ), "rebase over a concurrent base generation must demote to delta"

    def test_consumed_files_replaced_refuses(self, spark):
        path, t0 = _fresh(spark)
        t0.merge_cdc(
            _events(spark, 0, 40, "convA"), applied_range=(0, 40),
            source_is_raw=True,
        )
        t1 = SnapshotTable.load(spark, path)
        t2 = SnapshotTable.load(spark, path)
        a1 = _events(spark, 40, 80, "convA")
        b2 = _events(spark, 200, 240, "convA")  # same buckets
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            a1, applied_range=(40, 80), source_is_raw=True
        )
        with pytest.raises(RewriteConflictError):
            t2.merge_cdc(
                b2, applied_range=(200, 240), source_is_raw=True,
                on_conflict="rebase",
            )

    def test_retry_recomputes_from_new_head(self, spark):
        path, t0 = _fresh(spark)
        a = _events(spark, 0, 40, "convA")
        t0.merge_cdc(a, applied_range=(0, 40), source_is_raw=True)
        t1 = SnapshotTable.load(spark, path)
        t2 = SnapshotTable.load(spark, path)
        a1 = _events(spark, 40, 80, "convA")
        b2 = _events(spark, 200, 240, "convA")
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            a1, applied_range=(40, 80), source_is_raw=True
        )
        ci = t2.merge_cdc(
            b2, applied_range=(200, 240), source_is_raw=True,
            on_conflict="retry",
        )
        assert ci.rows_written == 40
        assert _state(t2) == _sequential(
            spark, [(a, (0, 40)), (a1, (40, 80)), (b2, (200, 240))]
        )
        ranges = {(r[0], r[1]) for r in
                  t2.manifest(refresh=True)["checkpoint"]["applied"]}
        assert ranges == {(0, 40), (40, 80), (200, 240)}

    def test_fail_default_still_raises(self, spark):
        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        a = _events(spark, 0, 40, "convA")
        b = _events(spark, 100, 140, "convB")
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            a, applied_range=(0, 40), source_is_raw=True
        )
        with pytest.raises(CommitConflictError):
            t2.merge_cdc(b, applied_range=(100, 140), source_is_raw=True)


class TestMorRebase:
    def test_same_bucket_appends_rebase(self, spark):
        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        a = _events(spark, 0, 40, "convA")
        b = _events(spark, 400, 440, "convA")  # same keys, later wins
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            a, applied_range=(0, 40), source_is_raw=True, mode="mor"
        )
        t2.merge_cdc(
            b, applied_range=(400, 440), source_is_raw=True, mode="mor",
            on_conflict="rebase",
        )
        _, tc = _fresh(spark)
        tc.merge_cdc(a, applied_range=(0, 40), source_is_raw=True, mode="mor")
        tc.merge_cdc(b, applied_range=(400, 440), source_is_raw=True, mode="mor")
        assert _state(t2) == _state(tc)

    def test_duplicate_range_race_is_noop(self, spark):
        # two tailers replay the same slice concurrently: the loser's
        # rebase finds the range in the head's ledger and no-ops
        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        a = _events(spark, 0, 40, "convA")
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            a, applied_range=(0, 40), source_is_raw=True
        )
        ci = t2.merge_cdc(
            a, applied_range=(0, 40), source_is_raw=True,
            on_conflict="rebase",
        )
        assert ci.rows_written == 0
        m = t2.manifest(refresh=True)
        assert len(m["checkpoint"]["applied"]) == 1
        assert _state(t2) == _sequential(spark, [(a, (0, 40))])

    def test_pipelined_commit_delta_rebases(self, spark):
        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        a = _events(spark, 0, 40, "convA")
        b = _events(spark, 400, 440, "convB")
        w_b, n_b, sig_b = t2.prepare_delta(b)
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            a, applied_range=(0, 40), source_is_raw=True, mode="mor"
        )
        ci = t2.commit_delta(
            w_b, (400, 440), n_b, sig_b, on_conflict="rebase"
        )
        assert ci.rows_written == n_b
        _, tc = _fresh(spark)
        tc.merge_cdc(a, applied_range=(0, 40), source_is_raw=True, mode="mor")
        tc.merge_cdc(b, applied_range=(400, 440), source_is_raw=True, mode="mor")
        assert _state(t2) == _state(tc)


class TestStructuralConflicts:
    def test_concurrent_purge_refuses_rebase(self, spark):
        path, t0 = _fresh(spark)
        t0.merge_cdc(
            _events(spark, 0, 40, "convA"), applied_range=(0, 40),
            source_is_raw=True,
        )
        t1 = SnapshotTable.load(spark, path)
        t2 = SnapshotTable.load(spark, path)
        b = _events(spark, 500, 540, "convB")
        t2._pre_commit_hook = lambda: t1.purge_keys(["convA-0"], expire=False)
        with pytest.raises(CommitConflictError, match="structural"):
            t2.merge_cdc(
                b, applied_range=(500, 540), source_is_raw=True, mode="mor",
                on_conflict="rebase",
            )

    def test_concurrent_schema_change_refuses_rebase(self, spark):
        import pyspark.sql.types as T

        path, t0 = _fresh(spark)
        t0.merge_cdc(
            _events(spark, 0, 40, "convA"), applied_range=(0, 40),
            source_is_raw=True,
        )
        t1 = SnapshotTable.load(spark, path)
        t2 = SnapshotTable.load(spark, path)
        wider = T.StructType(
            list(transcript_schema().fields)
            + [T.StructField("extra", T.StringType(), True)]
        )
        b = _events(spark, 500, 540, "convB")
        t2._pre_commit_hook = lambda: t1.alter_schema(wider)
        with pytest.raises(CommitConflictError):
            t2.merge_cdc(
                b, applied_range=(500, 540), source_is_raw=True, mode="mor",
                on_conflict="rebase",
            )

    def test_mor_retry_reprepares_after_schema_change(self, spark):
        # the delta was prepared under the old schema; 'retry' writes it
        # again under the new one instead of raising
        import pyspark.sql.types as T

        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        wider = T.StructType(
            list(transcript_schema().fields)
            + [T.StructField("extra", T.StringType(), True)]
        )
        b = _events(spark, 500, 540, "convB")
        t2._pre_commit_hook = lambda: t1.alter_schema(wider)
        ci = t2.merge_cdc(
            b, applied_range=(500, 540), source_is_raw=True, mode="mor",
            on_conflict="retry",
        )
        assert ci.rows_written == 40
        m = t2.manifest(refresh=True)
        assert m["summary"]["operation"] == "merge_mor"
        assert "extra" in t2.read().columns
        assert {e["schema_id"] for es in m["files"].values() for e in es} == {
            m["schema_id"]
        }
        assert _state(t2) == _sequential(spark, [(b, (500, 540))])


class TestCompactRebase:
    def test_compact_keeps_concurrent_delta(self, spark):
        path, t0 = _fresh(spark)
        a = _events(spark, 0, 40, "convA")
        b = _events(spark, 40, 80, "convA")
        d = _events(spark, 600, 640, "convA")
        t0.merge_cdc(a, applied_range=(0, 40), source_is_raw=True, mode="mor")
        t0.merge_cdc(b, applied_range=(40, 80), source_is_raw=True, mode="mor")
        t1 = SnapshotTable.load(spark, path)
        t2 = SnapshotTable.load(spark, path)
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            d, applied_range=(600, 640), source_is_raw=True, mode="mor"
        )
        t2.compact(on_conflict="rebase")
        _, tc = _fresh(spark)
        tc.merge_cdc(a, applied_range=(0, 40), source_is_raw=True, mode="mor")
        tc.merge_cdc(b, applied_range=(40, 80), source_is_raw=True, mode="mor")
        tc.merge_cdc(d, applied_range=(600, 640), source_is_raw=True, mode="mor")
        assert _state(t2) == _state(tc)
        m = t2.manifest(refresh=True)
        deltas = sum(
            1 for es in m["files"].values() for e in es
            if e.get("kind") == "delta"
        )
        assert deltas > 0, "concurrent delta must survive the compaction rebase"

    def test_compact_retry_when_files_replaced(self, spark):
        # a concurrent COMPACT replaced the very files this compaction
        # consumed -> rebase impossible -> retry recomputes
        path, t0 = _fresh(spark)
        a = _events(spark, 0, 40, "convA")
        b = _events(spark, 40, 80, "convA")
        t0.merge_cdc(a, applied_range=(0, 40), source_is_raw=True, mode="mor")
        t0.merge_cdc(b, applied_range=(40, 80), source_is_raw=True, mode="mor")
        t1 = SnapshotTable.load(spark, path)
        t2 = SnapshotTable.load(spark, path)
        t2._pre_commit_hook = lambda: t1.compact()
        ci = t2.compact(on_conflict="retry")
        assert ci is not None
        _, tc = _fresh(spark)
        tc.merge_cdc(a, applied_range=(0, 40), source_is_raw=True, mode="mor")
        tc.merge_cdc(b, applied_range=(40, 80), source_is_raw=True, mode="mor")
        tc.compact()
        assert _state(t2) == _state(tc)


class TestEngineConcurrentTailers:
    def test_two_engines_share_table(self, spark):
        # two ReplayEngines (different log ranges, e.g. a backfill and a
        # live tail) share one table under EngineConfig.on_conflict
        from neosync_spark.engine import EngineConfig, ReplayEngine

        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        a = _events(spark, 0, 60, "convA")
        b = _events(spark, 100, 160, "convB")
        cfg = lambda: EngineConfig(  # noqa: E731
            batch_lsn_size=200, lineage=False, merge_mode="mor",
            on_conflict="rebase",
        )
        e1 = ReplayEngine(spark, t1, config=cfg())
        e2 = ReplayEngine(spark, t2, config=cfg())

        def slicer_a(lo, hi):
            return a.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

        def slicer_b(lo, hi):
            return b.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

        t2._pre_commit_hook = lambda: e1.replay(slicer_a, lsn_lo=0, lsn_hi=59)
        e2.replay(slicer_b, lsn_lo=100, lsn_hi=159)
        _, tc = _fresh(spark)
        tc.merge_cdc(a, applied_range=(0, 60), source_is_raw=True, mode="mor")
        tc.merge_cdc(b, applied_range=(100, 160), source_is_raw=True, mode="mor")
        assert _state(t2) == _state(tc)
        assert len(t2.manifest(refresh=True)["checkpoint"]["applied"]) == 2


class TestRebasedTableKeepsWorking:
    def test_followup_merge_compact_read(self, spark):
        # after a demotion rebase the table must stay a normal table:
        # later merges, compaction and point reads all behave
        path, t1 = _fresh(spark)
        t2 = SnapshotTable.load(spark, path)
        xa = _events(spark, 0, 40, "convA")
        xb = _events(spark, 200, 240, "convA")
        t2._pre_commit_hook = lambda: t1.merge_cdc(
            xa, applied_range=(0, 40), source_is_raw=True
        )
        t2.merge_cdc(
            xb, applied_range=(200, 240), source_is_raw=True,
            on_conflict="rebase",
        )
        c = _events(spark, 300, 340, "convC")
        t2.merge_cdc(c, applied_range=(300, 340), source_is_raw=True)
        t2.compact()
        m = t2.manifest(refresh=True)
        assert not any(
            e.get("kind") == "delta"
            for es in m["files"].values()
            for e in es
        ), "compaction folds the demoted generation back to base"
        assert _state(t2) == _sequential(
            spark, [(xa, (0, 40)), (xb, (200, 240)), (c, (300, 340))]
        )
