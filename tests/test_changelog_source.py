"""ChangeLogSource's driver-side planning: the log schema cached by
listing, per-bucket slice counts and lsn bounds from the segment
footers. Each must equal what Spark computes, or fall back to it."""

from __future__ import annotations

import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import neosync_spark.sources.changelog as changelog
from neosync_spark.lakehouse import bucket_expr
from neosync_spark.sources.changelog import ChangeLogSource

from .test_plans import _jobs_run

MODS = (7, 64, 8192)
_CHARS = ["a", "Z", "0", " ", "é", "ß", "日", "本", "😀", "𝄞"]  # 1-4 B


def _string_keys(rnd: random.Random, n: int) -> list:
    fixed = ["", None, "a", "conv-42", "é", "日本語", "😀", "x" * 32, "é" * 20]
    return [
        rnd.choice(fixed) if rnd.random() < 0.3
        else "".join(rnd.choice(_CHARS) for _ in range(rnd.randint(0, 40)))
        for _ in range(n)
    ]


def _int_keys(rnd: random.Random, n: int, bits: int) -> list:
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    fixed = [0, 1, -1, 42, lo, hi, None]
    return [
        rnd.choice(fixed) if rnd.random() < 0.3 else rnd.randint(lo, hi)
        for _ in range(n)
    ]


def _write_log(path: str, keys: list, key_type: pa.DataType) -> None:
    """Four segments of 300 rows: two with several row groups, one
    without statistics, and one whose lsn range overlaps the others
    (an out-of-order WAL file)."""
    os.makedirs(path)
    n = len(keys)
    lsn = list(range(n))
    lsn[900:1200] = [300 + 2 * i for i in range(300)]  # interleaves segments 1-2
    for i, lo in enumerate(range(0, n, 300)):
        t = pa.table({
            "k": pa.array(keys[lo:lo + 300], key_type),
            "lsn": pa.array(lsn[lo:lo + 300], pa.int64()),
            "v": pa.array(range(300), pa.int32()),
        })
        pq.write_table(
            t, os.path.join(path, f"seg-{i:03d}.parquet"),
            row_group_size=100 if i < 2 else 300, write_statistics=i != 2,
        )


SLICES = [
    (0, 1200),     # the whole log
    (50, 250),     # inside one segment
    (250, 650),    # straddles segments 0-2
    (580, 620),    # straddles the stats-less segment
    (1000, 1000),  # empty range
    (5000, 6000),  # past the log
    (299, 301),    # one row group edge
]


def _assert_counts_match_spark(spark, path: str) -> None:
    src = ChangeLogSource(spark, path)
    rows = src.full().select(
        "lsn", *[bucket_expr("k", n).alias(f"b{n}") for n in MODS]
    ).collect()
    for lo, hi in SLICES:
        for n in MODS:
            want = Counter(r[f"b{n}"] for r in rows if lo <= r.lsn < hi)
            assert src.bucket_counts(lo, hi, "k", n) == dict(want), (lo, hi, n)
    # and literally the merge pre-pass job, on a straddling slice
    lo, hi = SLICES[2]
    job = {
        int(r[0]): int(r[1])
        for r in src.slice(lo, hi).groupBy(bucket_expr("k", 64)).count().collect()
    }
    assert src.bucket_counts(lo, hi, "k", 64) == job


@pytest.mark.parametrize(
    "kind", ["string", "int", "long"],
)
def test_bucket_counts_equal_spark_groupby(spark, tmp_path, kind):
    rnd = random.Random(11)
    keys, ktype = {
        "string": (_string_keys(rnd, 1200), pa.string()),
        "int": (_int_keys(rnd, 1200, 32), pa.int32()),
        "long": (_int_keys(rnd, 1200, 64), pa.int64()),
    }[kind]
    path = str(tmp_path / "log")
    _write_log(path, keys, ktype)
    _assert_counts_match_spark(spark, path)


def test_bucket_counts_on_a_spark_written_log(spark, tmp_path):
    path = str(tmp_path / "log")
    spark.range(0, 3000, numPartitions=3).select(
        F.when(F.col("id") % 17 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("ü-"), (F.col("id") % 97).cast("string")))
        .alias("k"),
        F.col("id").alias("lsn"),
    ).write.parquet(path)
    src = ChangeLogSource(spark, path)
    for lo, hi in ((0, 3000), (900, 2100), (10, 10)):
        for n in MODS:
            want = {
                int(r[0]): int(r[1])
                for r in src.slice(lo, hi).groupBy(bucket_expr("k", n)).count().collect()
            }
            assert src.bucket_counts(lo, hi, "k", n) == want


def test_bucket_counts_fall_back(spark, tmp_path, monkeypatch):
    """None (the pre-pass job decides) for a key type the driver does
    not hash, a segment storing the key as another type, and a slice
    over the row limit."""
    path = str(tmp_path / "log")
    os.makedirs(path)
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int32()), "d": [1.5, 2.5],
                  "lsn": pa.array([0, 1], pa.int64())}),
        os.path.join(path, "a.parquet"),
    )
    src = ChangeLogSource(spark, path)
    assert src.bucket_counts(0, 2, "k", 8) == {
        int(r[0]): int(r[1])
        for r in src.slice(0, 2).groupBy(bucket_expr("k", 8)).count().collect()
    }
    assert src.bucket_counts(0, 2, "d", 8) is None  # double key
    monkeypatch.setattr(changelog, "_DRIVER_SLICE_ROWS", 1)
    assert src.bucket_counts(0, 2, "k", 8) is None
    monkeypatch.undo()
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()), "d": [3.5],
                  "lsn": pa.array([2], pa.int64())}),
        os.path.join(path, "b.parquet"),
    )
    assert src.bucket_counts(0, 2, "k", 8) is not None  # b.parquet not read
    assert src.bucket_counts(0, 3, "k", 8) is None  # int64 file, int key


def test_schema_cache_follows_the_listing(spark, tmp_path):
    path = str(tmp_path / "log")
    os.makedirs(path)
    pq.write_table(
        pa.table({"k": ["a"], "lsn": pa.array([0], pa.int64())}),
        os.path.join(path, "seg-1.parquet"),
    )
    open(os.path.join(path, "_SUCCESS"), "w").close()
    open(os.path.join(path, ".seg-1.parquet.crc"), "w").close()
    open(os.path.join(path, "seg-9.parquet._COPYING_"), "w").close()
    src = ChangeLogSource(spark, path)
    assert src.full().schema == spark.read.parquet(path).schema
    _, jobs = _jobs_run(spark, lambda: src.full().schema)
    assert jobs == 0  # same listing: no inference
    # a segment with a new column replaces the old one: inferred again
    pq.write_table(
        pa.table({"k": ["b"], "lsn": pa.array([1], pa.int64()), "tool": ["t"]}),
        os.path.join(path, "seg-2.parquet"),
    )
    assert src.full().schema == spark.read.parquet(path).schema
    os.remove(os.path.join(path, "seg-1.parquet"))
    schema = src.full().schema
    assert schema == spark.read.parquet(path).schema
    assert "tool" in schema.names
    assert [r.tool for r in src.full().collect()] == ["t"]


@pytest.mark.parametrize("layout", ["nested", "summary", "file"])
def test_layouts_the_cache_cannot_reason_about_take_the_spark_path(
    spark, tmp_path, layout
):
    path = str(tmp_path / "log")
    t = pa.table({"k": ["a", "b"], "lsn": pa.array([0, 1], pa.int64())})
    if layout == "nested":  # partition discovery adds column p
        os.makedirs(os.path.join(path, "p=1"))
        pq.write_table(t, os.path.join(path, "p=1", "a.parquet"))
    elif layout == "summary":
        os.makedirs(path)
        pq.write_table(t, os.path.join(path, "a.parquet"))
        pq.write_metadata(t.schema, os.path.join(path, "_metadata"))
    else:
        path += ".parquet"
        pq.write_table(t, path)
    src = ChangeLogSource(spark, path)
    assert src.full().schema == spark.read.parquet(path).schema
    assert src._schema is None  # never cached
    assert src.bucket_counts(0, 2, "k", 8) is None
    assert src.lsn_bounds() == (0, 1)


def _aggregate_bounds(spark, path):
    r = spark.read.parquet(path).agg(F.min("lsn"), F.max("lsn")).collect()[0]
    return (r[0], r[1]) if r[0] is not None else None


def test_lsn_bounds_from_footers(spark, tmp_path):
    spark_log = str(tmp_path / "spark")
    spark.range(5, 4000, numPartitions=4).select(
        F.col("id").alias("lsn"), F.lit("x").alias("k")
    ).write.parquet(spark_log)
    arrow_log = str(tmp_path / "arrow")
    _write_log(arrow_log, [str(i) for i in range(1200)], pa.string())
    os.remove(os.path.join(arrow_log, "seg-002.parquet"))  # the stats-less one
    for path in (spark_log, arrow_log):
        src = ChangeLogSource(spark, path)
        bounds, jobs = _jobs_run(spark, src.lsn_bounds)
        assert bounds == _aggregate_bounds(spark, path)
        assert jobs == 0


def test_lsn_bounds_fall_back_on_a_stats_less_row_group(spark, tmp_path):
    path = str(tmp_path / "log")
    os.makedirs(path)
    pq.write_table(
        pa.table({"k": ["a", "b"], "lsn": pa.array([3, 9], pa.int64())}),
        os.path.join(path, "a.parquet"),
    )
    pq.write_table(
        pa.table({"k": ["c"], "lsn": pa.array([None], pa.int64())}),
        os.path.join(path, "b.parquet"),
    )
    src = ChangeLogSource(spark, path)
    bounds, jobs = _jobs_run(spark, src.lsn_bounds)
    assert bounds == (3, 9) == _aggregate_bounds(spark, path)
    assert jobs >= 1  # the all-NULL row group has no min/max: aggregate job


def test_driver_counts_give_the_job_paths_lineage(spark, tmp_path):
    """Replay (driver pre-pass) and apply_batch without counts (the
    groupBy job) write identical lineage rows and source_rows."""
    from neosync_spark.engine import EngineConfig, ReplayEngine
    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema
    from neosync_spark.synth import SynthConfig, generate_pandas

    log = str(tmp_path / "log")
    os.makedirs(log)
    events = pa.Table.from_pandas(
        generate_pandas(SynthConfig(n_events=2000, n_convs=120)),
        preserve_index=False,
    )
    for lo in range(0, 2000, 700):
        pq.write_table(events.slice(lo, 700), os.path.join(log, f"seg-{lo:05d}.parquet"))
    src = ChangeLogSource(spark, log)
    out = []
    for name in ("driver", "job"):
        t = SnapshotTable.create(
            spark, str(tmp_path / name), transcript_schema(), key_cols=KEY_COLS,
            n_buckets=16,
        )
        eng = ReplayEngine(spark, t, config=EngineConfig(batch_lsn_size=500))
        for lo in range(0, 2000, 500):
            if name == "driver":
                eng.replay(src, lsn_lo=lo, lsn_hi=lo + 499)
            else:
                eng.apply_batch(src.slice(lo, lo + 500), (lo, lo + 500))
        lineage = pq.read_table(os.path.join(t.path, "metadata", "lineage"))
        out.append((
            sorted(lineage.to_pylist(), key=lambda r: (r["snapshot_id"], r["bucket"])),
            [s["summary"].get("source_rows") for s in t.history()],
        ))
    assert out[0] == out[1]
    assert sum(r["rows_applied"] for r in out[0][0]) == events.num_rows
