"""Engine behavior under a FOREIGN SparkSession (one the engine did
not build).

The driver / an embedding application supplies its own session, whose
Spark defaults differ from ``session.get_spark``: parquet timestamps
are written as legacy INT96 (no footer min/max stats — every zone-map
consumer silently degrades to full scans) and Arrow may be off (the
pandas-UDF transformer stage falls back to per-row pickle). Round-4
verdict root-caused the only red driver row (``cdc_retention_expiry``)
to exactly this: the conf was pinned only in ``get_spark``.

The fix under test: ``pin_engine_confs`` runs in
``SnapshotTable.__init__``, so ANY construction path restores the
engine-critical runtime confs regardless of what the caller session
had. These tests simulate the foreign session by forcing the hostile
conf values on the shared session, then assert the engine (a) flips
them back at the table boundary and (b) the zone-map layer works:
manifest entries carry ts stats and ``expire_rows`` drops files
metadata-only.
"""
from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F

from neosync_spark.lakehouse import SnapshotTable, pin_engine_confs
from neosync_spark.schema import KEY_COLS, transcript_schema

CUTOFF = datetime.datetime(1970, 1, 3)

_TS_CONF = "spark.sql.parquet.outputTimestampType"
_ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"
_LIST_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@pytest.fixture()
def foreign_session(spark):
    """The shared session with Spark-default (hostile) conf values —
    INT96 parquet timestamps, Arrow off, a distributed listing job for
    reads of more than 32 files — restored afterwards."""
    saved = {k: spark.conf.get(k) for k in (_TS_CONF, _ARROW_CONF, _LIST_CONF)}
    spark.conf.set(_TS_CONF, "INT96")
    spark.conf.set(_ARROW_CONF, "false")
    spark.conf.set(_LIST_CONF, "32")
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


def _events(spark, lo, hi, day, op="insert"):
    rows = [
        ("c-%d" % i, 0, "user", "t-%d" % i, None,
         float(day * 86400 + (i % 1000)), i, op)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts double, lsn long, op string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _mk(spark):
    path = tempfile.mkdtemp(prefix="ns_foreign_")
    return SnapshotTable.create(
        spark, path, transcript_schema(), key_cols=KEY_COLS, n_buckets=4,
    )


class TestConfPinnedAtTableBoundary:
    def test_create_restores_pinned_confs(self, foreign_session):
        assert foreign_session.conf.get(_TS_CONF) == "INT96"
        _mk(foreign_session)
        assert foreign_session.conf.get(_TS_CONF) == "TIMESTAMP_MICROS"
        assert foreign_session.conf.get(_ARROW_CONF) == "true"
        assert foreign_session.conf.get(_LIST_CONF) == "8192"

    def test_pin_restores_driver_side_listing(self, foreign_session):
        assert foreign_session.conf.get(_LIST_CONF) == "32"
        pin_engine_confs(foreign_session)
        assert foreign_session.conf.get(_LIST_CONF) == "8192"

    def test_load_restores_pinned_confs(self, foreign_session):
        t = _mk(foreign_session)  # create pins; re-break, then load
        foreign_session.conf.set(_TS_CONF, "INT96")
        SnapshotTable.load(foreign_session, t.path)
        assert foreign_session.conf.get(_TS_CONF) == "TIMESTAMP_MICROS"

    def test_commit_under_foreign_session_writes_ts_stats(
        self, foreign_session
    ):
        t = _mk(foreign_session)
        t.merge_cdc(_events(foreign_session, 0, 50, 1),
                    applied_range=(0, 50), source_is_raw=True, mode="mor")
        files = [e for fs in t.manifest()["files"].values() for e in fs]
        assert files, "commit produced no files"
        missing = [e["path"] for e in files
                   if "ts" not in (e.get("stats") or {})]
        assert not missing, (
            "files with no ts zone-map stats under foreign session: "
            f"{missing}"
        )

    def test_retention_drops_metadata_only_under_foreign_session(
        self, foreign_session
    ):
        # the exact CORRECTNESS_r04 red-row scenario: driver-owned
        # session, zone-map retention must still be metadata-only
        t = _mk(foreign_session)
        for lo, hi, day in [(0, 50, 1), (100, 150, 2), (200, 250, 3)]:
            t.merge_cdc(_events(foreign_session, lo, hi, day),
                        applied_range=(lo, hi), source_is_raw=True,
                        mode="mor")
        rep = t.expire_rows(CUTOFF)
        assert rep["files_dropped_meta"] > 0, (
            "retention degraded to rewrite: zone-map stats missing "
            f"under foreign session (report: {rep})"
        )
        assert rep["buckets_rewritten"] == 0
        assert t.read().count() == 100
        assert t.read().agg(F.min("ts")).collect()[0][0] >= CUTOFF

    def test_flagship_replay_under_foreign_session(self, foreign_session):
        # correctness of the core merge path is session-independent:
        # inserts then LWW update/delete converge to the oracle state
        t = _mk(foreign_session)
        t.merge_cdc(_events(foreign_session, 0, 100, 1),
                    applied_range=(0, 100), source_is_raw=True)
        upd = _events(foreign_session, 0, 10, 5, op="update") \
            .withColumn("lsn", F.col("lsn") + 1000)
        t.merge_cdc(upd, applied_range=(1000, 1010), source_is_raw=True)
        dele = _events(foreign_session, 90, 100, 6, op="delete") \
            .withColumn("lsn", F.col("lsn") + 2000)
        t.merge_cdc(dele, applied_range=(2090, 2100), source_is_raw=True)
        out = t.read()
        assert out.count() == 90
        day5 = out.filter(F.col("conv_id") == "c-5").collect()
        assert len(day5) == 1 and day5[0]["ts"].day == 6  # day-5 epoch

    def test_pin_is_idempotent(self, spark):
        pin_engine_confs(spark)
        before = spark.conf.get(_TS_CONF)
        pin_engine_confs(spark)
        assert spark.conf.get(_TS_CONF) == before == "TIMESTAMP_MICROS"

    def test_stats_pruned_read_prunes_under_foreign_session(
        self, foreign_session
    ):
        # the other zone-map consumer the conf pin re-arms: a
        # ts-bounded read must SKIP time-disjoint files (not just
        # return correct values) even when the caller session would
        # have written stats-less INT96 files
        t = _mk(foreign_session)
        for lo, hi, day in [(0, 50, 1), (100, 150, 2), (200, 250, 3)]:
            t.merge_cdc(_events(foreign_session, lo, hi, day),
                        applied_range=(lo, hi), source_is_raw=True,
                        mode="mor")
        files_all = sum(
            len(v) for v in t.manifest(refresh=True)["files"].values()
        )
        pruned = t.read(stats_filter={"ts": (CUTOFF, None)})
        assert pruned.count() == 100  # days 2 and 3
        opened = [
            f for f in pruned.inputFiles()
        ]
        assert 0 < len(opened) < files_all, (
            f"stats filter opened {len(opened)} of {files_all} files — "
            "zone maps missing under foreign session"
        )

    def test_retention_cutoff_is_an_instant_under_foreign_tz(self, spark):
        # a naive-datetime cutoff must mean the same INSTANT in the
        # zone-map comparison (UTC epoch micros) and in the straddler
        # rewrite filter (F.lit(datetime) is session-TZ-interpreted —
        # under PST it would shift the filter by 8h relative to the
        # zone map). Build ONE file straddling the cutoff so the
        # per-file filter actually runs, under a PST session.
        tz_saved = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            t = _mk(spark)
            # single commit, single bucket-file span: hours 0..47 on
            # one conv -> every file straddles the day-1 cutoff
            rows = [
                ("c-0", i, "user", f"t-{i}", None, float(i * 3600),
                 i, "insert")
                for i in range(48)
            ]
            ev = spark.createDataFrame(
                rows,
                "conv_id string, turn_idx int, role string, text string,"
                " tool string, ts double, lsn long, op string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            t.merge_cdc(ev, applied_range=(0, 48), source_is_raw=True,
                        mode="mor")
            rep = t.expire_rows(datetime.datetime(1970, 1, 2))  # epoch +24h
            assert rep["files_rewritten"] > 0, rep
            out = t.read()
            # exactly hours 24..47 survive — a TZ-shifted filter would
            # keep 16 or 32 instead
            assert out.count() == 24
            mn = out.agg(
                F.min(F.unix_timestamp("ts"))
            ).collect()[0][0]
            assert mn == 24 * 3600
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz_saved)
