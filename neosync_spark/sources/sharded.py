"""Sharded change feed — a partitioned log with NO global LSN.

Real 10^10-event feeds arrive partitioned (a Kafka-carried binlog topic
has per-partition offsets; the public Debezium envelope ships no global
sequence), while the engine's exactly-once machinery — range slicing,
the applied-range ledger, checkpoint resume — speaks one scalar lsn.
The reference never faces this either: its cursors read one table at a
time (/root/reference/worker/pkg/benthos/sql/input_sql_raw.go).

The adapter is a bijective, per-shard-order-preserving flattening::

    lsn  =  seq * n_shards + shard          (seq = the shard's offset)

Each shard's events keep their relative order in the virtual sequence,
so per-KEY ordering survives whenever the feed is key-partitioned (the
producer contract: one key never spans shards — exactly what keyed
Kafka topics guarantee). Everything downstream — micro-batch planning,
LWW, the ledger, resume — then works UNCHANGED on the virtual lsn, and
a scalar checkpoint maps back to the per-shard offset vector exactly
(:meth:`ShardedLogSource.vector_checkpoint`).

Scale shape: a virtual-lsn range [lo, hi) is per shard a CONTIGUOUS seq
range, and the slice pushes the enclosing raw ``seq`` bounds into the
parquet scan (zone-map/row-group pruning keeps working); the exact
virtual predicate filters the remainder JVM-side. No shuffle, no
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ShardedLogSource:
    """Duck-typed like ChangeLogSource (full / slice / lsn_bounds), so
    ``ReplayEngine.replay(source)`` consumes it directly.

    The parquet at ``path`` must carry ``shard_col`` (0..n_shards-1)
    and ``seq_col`` (the shard's contiguous offset, from 0)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_shards: int,
        shard_col: str = "shard",
        seq_col: str = "seq",
    ):
        self.spark = spark
        self.path = path
        self.n = int(n_shards)
        self.shard_col = shard_col
        self.seq_col = seq_col

    # ---------- the flattening ----------

    def _virtual(self) -> F.Column:
        return (
            F.col(self.seq_col).cast("long") * self.n
            + F.col(self.shard_col).cast("long")
        ).alias("lsn")

    def full(self) -> DataFrame:
        df = self.spark.read.parquet(self.path)
        return df.withColumn("lsn", self._virtual())

    def slice(self, lsn_lo: int, lsn_hi: int) -> DataFrame:
        """Events with virtual lsn in [lsn_lo, lsn_hi). The enclosing
        RAW seq bounds are plain column predicates — they reach the
        parquet scan and prune row groups; the exact virtual predicate
        trims the ≤1-seq overshoot per shard JVM-side."""
        # tight enclosing bounds: seq >= ceil((lo-(n-1))/n) == lo//n,
        # seq < floor((hi-1)/n)+1 == (hi+n-1)//n
        seq_lo = max(0, lsn_lo // self.n)
        seq_hi = (lsn_hi + self.n - 1) // self.n  # exclusive
        df = self.spark.read.parquet(self.path).filter(
            (F.col(self.seq_col) >= F.lit(seq_lo))
            & (F.col(self.seq_col) < F.lit(seq_hi))
        )
        df = df.withColumn("lsn", self._virtual())
        return df.filter(
            (F.col("lsn") >= F.lit(lsn_lo)) & (F.col("lsn") < F.lit(lsn_hi))
        )

    def lsn_bounds(self) -> tuple[int, int] | None:
        row = (
            self.full()
            .agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi"))
            .collect()[0]
        )
        if row["lo"] is None:
            return None
        return int(row["lo"]), int(row["hi"])

    # ---------- checkpoint translation ----------

    def vector_checkpoint(self, watermark: int) -> dict[int, int]:
        """The scalar ledger watermark (everything below ``watermark``
        applied) as the equivalent per-shard offset vector: shard s has
        consumed offsets 0..v[s] inclusive (-1 = nothing). This is what
        gets committed back to the broker's offset store."""
        return {
            s: (watermark - 1 - s) // self.n for s in range(self.n)
        }
