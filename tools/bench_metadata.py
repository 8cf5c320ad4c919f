"""Metadata-scaling micro-benchmark: manifest + ledger growth per commit.

At 10^5+ micro-batch commits the table's DATA plane is O(new bytes) per
commit, but two metadata costs grow with table size / history unless
bounded:

  1. the snapshot manifest's file list — re-serialized in full per
     commit without segmentation (O(total files));
  2. the exactly-once ledger — one row per commit forever without
     compaction (O(history)).

This tool runs N key-local MoR micro-commits (each touches ~1 bucket)
and reports, for the shipped engine:
  * bytes of NEW metadata written per commit (snap file + any new
    segments) vs the counterfactual inline serialization of the full
    file list — the segmentation win;
  * ledger rows at end with the engine's auto-bound vs without — the
    compaction win;
  * first-10 vs last-10 commit metadata bytes — flatness is the claim.

Usage: python3 tools/bench_metadata.py [n_commits] [n_buckets]
Prints one JSON line.
"""
from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema
    from neosync_spark.session import get_spark

    spark = get_spark("ns_bench_meta", master="local[8]", shuffle_partitions=8)
    path = tempfile.mkdtemp(prefix="ns_meta_bench_")
    t = SnapshotTable.create(
        spark, path, transcript_schema(), key_cols=KEY_COLS,
        n_buckets=n_buckets,
    )
    meta = os.path.join(path, "metadata")

    def meta_bytes() -> dict[str, int]:
        return {
            os.path.basename(p): os.path.getsize(p)
            for p in glob.glob(os.path.join(meta, "*.json"))
        }

    def batch(i: int):
        # key-local: every event of commit i lands in one conversation
        # → ~1 bucket touched, the design-center tail shape
        return (
            spark.range(16)
            .select(
                F.lit(f"conv-{i:05d}").alias("conv_id"),
                F.col("id").cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                F.concat(F.lit("t"), F.col("id") + i * 100).alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
                (F.lit(i) * 100 + F.col("id")).alias("lsn"),
                F.lit("insert").alias("op"),
            )
        )

    def wide_batch(i: int):
        # populate phase: spread keys over every bucket so each bucket
        # accumulates file entries — the 100 TB steady state, where a
        # bucket's file list is large and mostly static per commit
        return (
            spark.range(64)
            .select(
                F.concat(F.lit("conv-w"), F.col("id")).alias("conv_id"),
                F.lit(i).cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                F.concat(F.lit("w"), F.col("id") + i * 100).alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
                (F.lit(i) * 100 + F.col("id")).alias("lsn"),
                F.lit("insert").alias("op"),
            )
        )

    n_pop = max(20, n_commits // 4)
    for i in range(n_pop):
        t.merge_cdc(
            wide_batch(i), applied_range=(i * 100, i * 100 + 100),
            mode="mor", lineage=False,
        )

    per_commit_new = []
    per_commit_inline = []
    ledger_rows_series = []
    before = meta_bytes()
    for j in range(n_commits):
        i = n_pop + j
        t.merge_cdc(
            batch(i), applied_range=(i * 100, i * 100 + 100), mode="mor",
            lineage=False,
        )
        # auto ledger bound, as the engine hook applies it
        if len(t.applied_ranges()) > 2 * 32:
            t.compact_ledger(keep_last=32)
        after = meta_bytes()
        new = sum(sz for n, sz in after.items() if n not in before)
        per_commit_new.append(new)
        per_commit_inline.append(
            len(json.dumps(t.manifest(refresh=True)["files"]))
        )
        ledger_rows_series.append(len(t.applied_ranges()))
        before = after

    head10 = sum(per_commit_new[:10]) / 10
    tail10 = sum(per_commit_new[-10:]) / 10
    inline_tail10 = sum(per_commit_inline[-10:]) / 10
    out = {
        "metric": "metadata bytes written per commit (MoR key-local tail)",
        "n_commits": n_commits,
        "n_buckets": n_buckets,
        "new_meta_bytes_per_commit_first10": round(head10),
        "new_meta_bytes_per_commit_last10": round(tail10),
        "counterfactual_inline_filelist_bytes_last10": round(inline_tail10),
        "segmentation_win_x": round(inline_tail10 / max(tail10, 1), 1),
        "growth_tail_over_head": round(tail10 / max(head10, 1), 2),
        "ledger_rows_end": ledger_rows_series[-1],
        "ledger_rows_max": max(ledger_rows_series),
        "ledger_rows_unbounded_counterfactual": n_commits,
        "total_live_file_entries": sum(
            len(v) for v in t.manifest(refresh=True)["files"].values()
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
