"""SnapshotTable — a snapshot-versioned, bucket-partitioned lakehouse
table over parquet, built from scratch (no Iceberg/Delta jars in this
environment), with the pieces the CDC engine needs:

* atomic commits: every snapshot after ``create`` commits through one
  routine, ``SnapshotTable._commit_child`` → ``_commit_manifest`` →
  ``_write_manifest``, in one phase order: data files (bucket-routed,
  ``_write_buckets``) → manifest entries (``_file_entries``) →
  ``_pre_commit_hook`` → manifest json (exclusive create) → atomic
  version-hint swap (``os.replace``), so readers always see a complete
  snapshot and a crash before the swap leaves only orphan files
  (``vacuum_orphans``);
* copy-on-write MERGE keyed by (conv_id, turn_idx): only the buckets a
  batch touches are rewritten, untouched buckets' files are carried
  into the new manifest by reference (Iceberg-style COW);
* an exactly-once ledger INSIDE the manifest: the set of applied
  (lsn_lo, lsn_hi) ranges commits atomically with the data they
  produced — the analog of the reference's retry ⇒ ON CONFLICT DO
  NOTHING idempotence (/root/reference/worker/pkg/benthos/sql/
  output_sql_insert.go:189-191) and continuation token
  (/root/reference/internal/continuation-token/continuation-token.go:27-52);
* schema evolution: each snapshot pins a schema_id; data files remember
  the schema they were written under, reads align every file group to
  the current schema (add-null / widen-cast) — the analog of the
  reference's schema-diff → ordered DDL
  (/root/reference/internal/schema-manager/mysql/mysql.go:220-351);
* per-partition lineage rows (batch, bucket, rows applied, snapshot).

Scale notes (designed for 1000-executor / 100 TB operation):
- bucket_count is the pruning unit: a merge reads ONLY the buckets the
  batch touches; size it so bucket ≈ a few GB at target scale (2^13+).
- cross-batch LWW is ts-aware: the table stores ``_lsn`` (last applied
  log sequence number) per row, and merge keeps max(ts, _lsn) between
  target and source — so out-of-order delivery ACROSS micro-batches
  still converges to the oracle state.
- the merge plan is union + partial-agg LWW (map-side combine), not a
  window — hot keys collapse before the shuffle.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.dedup import lww_dedup, patch_fold
from .util import literal_frame

_LSN_COL = "_lsn"
_BUCKET_COL = "_bucket"
_DELETED_COL = "_deleted"
_PATCH_COL = "_patch"

#: Synthetic exactly-once identities (streaming file-set epochs,
#: incremental-snapshot chunks) live at or above this bit — outside any
#: real WAL lsn space. They participate in ``is_applied`` probes like
#: any ledger row, but are EXCLUDED from lsn-position reasoning:
#: resume fast-forward (``last_applied_lsn``), consistent-read
#: alignment (``checkpoint_boundaries``), and lsn time travel
#: (``snapshot_at_lsn``) — a fingerprint is an identity, not a log
#: position.
SYNTHETIC_LSN_BASE = 1 << 62

#: Runtime-settable SQL confs the engine's correctness/scale layers
#: depend on, pinned at the SnapshotTable boundary so they hold under
#: ANY caller-supplied SparkSession (not just ``session.get_spark``).
#: - outputTimestampType: Spark's default INT96 parquet timestamps
#:   carry NO footer min/max stats, so under a foreign session every
#:   zone-map consumer (stats-pruned reads, metadata-only retention /
#:   count, footer freshness) silently degrades to full-table scans.
#: - arrow.pyspark.enabled: the pandas-UDF transformer stage falls
#:   back to per-row pickle serialization (10-100x slower) when a
#:   foreign session leaves Arrow off.
#: - parallelPartitionDiscovery.threshold: ``spark.read.parquet(*paths)``
#:   over more than 32 paths (Spark's default) runs a distributed
#:   listing job just to stat files the manifest already names — every
#:   read of more than 32 files (scans, COW target reads, the bloom
#:   sidecar build, count and retention scans) paid it. Explicit file
#:   paths on a 4-vCPU host, median of 5, default vs pinned:
#:   16 files 51 vs 30 ms, 64 files 608 vs 48 ms, 256 files 1,419 vs
#:   83 ms, 1,024 files 4,534 vs 228 ms. Pinned to 8192 = the 2^13
#:   bucket count the scale notes target.
_PINNED_SQL_CONFS = {
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "8192",
}


def pin_engine_confs(spark: SparkSession) -> None:
    """Force the engine-critical runtime SQL confs on ``spark``.

    Idempotent and cheap (conf reads are driver-local); called from
    ``SnapshotTable.__init__`` so every construction path — create,
    load, or direct — is covered."""
    for k, v in _PINNED_SQL_CONFS.items():
        try:
            cur = spark.conf.get(k, None)
        except Exception:
            cur = None
        if cur != v:
            spark.conf.set(k, v)


def _ts_instant_lit(dt):
    """Timestamp literal pinned to an INSTANT. ``F.lit(datetime)``
    re-interprets a naive datetime in the SESSION timezone, so under a
    non-UTC caller session the rewrite filters would use a different
    instant than the zone-map comparisons (``_norm_stat`` normalizes
    to UTC epoch micros). Naive datetimes are UTC by engine contract;
    aware ones convert."""
    import datetime as _dt

    if isinstance(dt, _dt.datetime):
        if dt.tzinfo is not None:
            dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        micros = int(
            (dt - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
        return F.timestamp_micros(F.lit(micros))
    return F.lit(dt)


def observation_metrics(observation, timeout_s: float = 5.0) -> dict | None:
    """Read ``observe()`` metrics without risking a driver hang.

    Inside a Structured Streaming foreachBatch the micro-batch
    DataFrame is bound to a CLONED SparkSession, and pyspark's blocking
    ``Observation.get`` can wait forever there even after the observed
    action finished (the streaming tail would hang the whole query).
    Poll the non-blocking JVM accessor up to ``timeout_s`` instead; on
    the normal batch path the metric is already set when this is
    called, so the first poll returns immediately. ``None`` = metric
    unavailable — the caller recomputes (one extra job over a
    micro-batch-sized input)."""
    jo = getattr(observation, "_jo", None)
    if jo is None:  # never registered on a DataFrame
        return None
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            if not jo.getOrEmpty().isEmpty():
                # the metrics future is completed: the blocking
                # accessor now returns instantly
                return dict(jo.getAsJava())
        except Exception:
            # the streaming progress reporter can complete the future
            # with a schema-less row, which NPEs inside the JVM
            # accessors (observed on Spark 4.1) — same remedy as a
            # missing metric: recompute
            return None
        if time.monotonic() >= deadline:
            return None
        time.sleep(0.05)


def observed_metric(observation, name: str, recompute) -> int:
    """The ``observe()`` metric ``name`` (NULL reads as 0), or
    ``recompute()`` — one extra job over the observed input — when
    ``observation_metrics`` cannot read it."""
    got = observation_metrics(observation)
    if not got:
        return int(recompute())
    return int(got.get(name) or 0)


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic bucket id for a key (xxhash64 — stable across runs,
    sessions and cluster sizes, unlike hash partitioner internals)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _mmh3_int(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32 — Spark's ``hash()`` for IntegerType
    and therefore the function behind shuffle HashPartitioning
    (``pmod(hash(expr), n)``). Re-derived from the public MurmurHash3
    algorithm so ``bucket_routed`` can compute partition preimages on
    the driver without a Spark job; ``test_plans.py`` pins it against
    ``F.hash`` so a Spark-side change would fail loudly."""
    m = 0xFFFFFFFF
    k = (x & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = (k * 0x1B873593) & m
    h = (seed ^ k) & m
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # total bytes hashed
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


_M64 = (1 << 64) - 1
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _XP2) & _M64, 31) * _XP1 & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed long — Spark's ``xxhash64`` (seed
    42) over the bytes it hashes for one value. Re-derived from the
    public XXH64 algorithm so ``_key_buckets`` can hash lookup keys on
    the driver without a Spark job; ``test_plans.py`` pins it against
    ``F.xxhash64``."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _XP1 + _XP2) & _M64,
            (seed + _XP2) & _M64,
            seed & _M64,
            (seed - _XP1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i : i + 8], "little")
                v[j] = _xxh64_round(v[j], lane)
                i += 8
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for acc in v:
            h = ((h ^ _xxh64_round(0, acc)) * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _XP1 & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _XP5 & _M64), 11) * _XP1 & _M64
    h = (h ^ (h >> 33)) * _XP2 & _M64
    h = (h ^ (h >> 29)) * _XP3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _xxh64_input(v, dt: T.DataType) -> bytes | None:
    """The bytes Spark's ``xxhash64`` reads for ``v`` as a ``dt``
    literal: UTF-8 for a string, 4 / 8 little-endian bytes for an int /
    long. None when only Spark can say (other types, NULL, values a
    cast would change)."""
    if isinstance(dt, T.StringType) and isinstance(v, str):
        try:
            return v.encode("utf-8")
        except UnicodeEncodeError:  # lone surrogates
            return None
    if isinstance(v, int):
        width = {T.IntegerType: 4, T.LongType: 8}.get(type(dt))
        if width and -(1 << (8 * width - 1)) <= v < 1 << (8 * width - 1):
            return v.to_bytes(width, "little", signed=True)
    return None


def _key_buckets(
    spark: SparkSession, field: T.StructField, values, n_buckets: int
) -> set[int]:
    """The buckets ``bucket_expr`` puts ``values`` of key column
    ``field`` in. String, int and long keys hash on the driver
    (``_xxh64``; Python ``%`` by a positive modulus is ``pmod``); any
    other key type, or a value Spark would have to cast, runs one tiny
    local job through ``bucket_expr`` itself."""
    data = [_xxh64_input(v, field.dataType) for v in values]
    if all(d is not None for d in data):
        return {_xxh64(d) % n_buckets for d in data}
    vdf = literal_frame(spark, [(v,) for v in values], T.StructType([field]))
    return {
        int(r[0])
        for r in vdf.select(bucket_expr(field.name, n_buckets)).collect()
    }


_ROUTE_PREIMAGES: dict[int, list[int]] = {}


def _partition_preimages(n_parts: int) -> list[int]:
    """For each pid in [0, n_parts): the smallest x ≥ 0 with
    ``pmod(hash(x), n_parts) == pid``. Memoized; the search touches
    ~n·ln(n) candidates (coupon collector), microseconds for any
    realistic partition count."""
    got = _ROUTE_PREIMAGES.get(n_parts)
    if got is not None:
        return got
    out: list[int | None] = [None] * n_parts
    need, x = n_parts, 0
    while need:
        pid = _mmh3_int(x) % n_parts  # Python % is non-negative == pmod
        if out[pid] is None:
            out[pid] = x
            need -= 1
        x += 1
    _ROUTE_PREIMAGES[n_parts] = out  # type: ignore[assignment]
    return out  # type: ignore[return-value]


def bucket_routed(
    df: DataFrame, buckets, n_parts: int, bucket_col: str = "_bucket"
) -> DataFrame:
    """Exact bucket→partition routing for the bucket-file write shuffle.

    ``repartition(n, bucket)`` hash-partitions the nb distinct bucket
    ids into n slots: ~1/e of the slots come up EMPTY and the busiest
    slot carries 2-4 buckets (multinomial collisions), so the write
    wave runs at a 2-4× straggler tail while a third of the cluster's
    write slots idle. This instead routes bucket rank r to partition
    r % n_parts exactly — zero empty partitions, max load
    ceil(len(buckets)/n_parts) — by mapping each bucket id to a
    driver-computed murmur3 preimage of its target partition (the
    shuffle hash is ``_mmh3_int``; dense bucket sets use an O(1) array
    lookup, sparse sets a literal map).

    Use ONLY when the shuffle feeds a write/sink directly: the routing
    expression hides the bucket attribute from Catalyst, so an
    aggregation or join above it would insert its own exchange."""
    bl = sorted(int(b) for b in buckets)
    if not bl:
        return df.repartition(1)
    n_parts = max(1, min(int(n_parts), len(bl)))
    pre = _partition_preimages(n_parts)
    col = F.col(bucket_col).cast("int")
    if bl == list(range(len(bl))):  # dense 0..nb-1: O(1) array index
        arr = F.array(*[F.lit(pre[r % n_parts]) for r in range(len(bl))])
        route = F.element_at(arr, col + F.lit(1))
    else:  # sparse (pruned commit): literal-map lookup
        pairs: list = []
        for rank, b in enumerate(bl):
            pairs += [F.lit(b), F.lit(pre[rank % n_parts])]
        route = F.element_at(F.create_map(*pairs), col)
    # a bucket outside `buckets` (shouldn't happen — callers pass the
    # exact bucket set of df) degrades to hash placement, never NULL
    return df.repartition(n_parts, F.coalesce(route, col))


class CommitConflictError(RuntimeError):
    """Another writer committed since this commit planned its snapshot.

    Default behavior (``on_conflict='fail'``) turns the race into a
    loud failure instead of a lost update — the reference is
    single-writer per table (one stream owns it). Commit methods also
    accept ``on_conflict='rebase'`` (metadata-level rebase onto the new
    head when provably safe — the Iceberg optimistic-retry model) and
    ``on_conflict='retry'`` (rebase, else recompute the whole operation
    from the new head, bounded attempts).
    """


class RewriteConflictError(CommitConflictError):
    """A rebase found that files this rewrite consumed were replaced by
    a concurrent commit — the rewrite's output is stale and must be
    recomputed from the new head (metadata alone can't fix it)."""


class BranchAuditError(RuntimeError):
    """A write-audit-publish audit found violations in the staged
    branch state; the publish was aborted and main is untouched."""


# Concurrent commits with these operations are data-plane only (their
# whole effect is the per-bucket file-entry lists + ledger), so a
# conflicting commit can rebase across them by merging entry lists —
# any same-file contention is caught by the rebase's entry validation.
# Retention qualifies: a rewrite that consumed since-dropped files
# conflicts on the missing entries, and a delta append of rows older
# than the cutoff is the documented out-of-orderness contract, not a
# rebase artifact. Anything else (purge: erasure a rebase could
# resurrect; rescale: bucket ids remapped; alter_schema: files written
# under a stale schema_id; rollback/repair: history surgery) is
# structural — rebase refuses and the caller must recompute from the
# new head.
# "merge_mor_pipelined" names MoR commits in older table histories.
_REBASE_SAFE_OPS = {
    "merge_cow", "merge_mor", "merge_mor_pipelined", "compact", "retention",
}


def _coalesce_spans(ranges) -> list[tuple[int, int]]:
    """Merge [lo, hi) intervals that overlap or touch; the covered
    union is preserved exactly (gaps stay gaps)."""
    out: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [tuple(s) for s in out]


def _min_tv(entries) -> int:
    """Transform-version floor of a set of consumed file entries: the
    highest anonymization-policy version GUARANTEED applied to every
    row they hold (an entry without the attr predates versioning ->
    0). Rewrites that move old rows without re-transforming them
    (compact, rescale, purge, retention) must carry this floor onto
    the files they produce, or a crashed transform_backfill could
    mark un-transformed rows done."""
    return min((int(e.get("tv", 0)) for e in entries), default=0)


def _bucket_rows(entries: dict[str, list[dict]]) -> dict[int, int]:
    """Rows per bucket from new file entries' footer counts — lineage
    rows_applied when no pre-pass counted the source per bucket."""
    return {
        int(b): sum(e["rows"] for e in ents)
        for b, ents in entries.items()
        if ents
    }


@dataclass
class CommitInfo:
    snapshot_id: int
    rows_written: int
    buckets_rewritten: int
    applied_range: tuple[int, int] | None
    # populated when merge_cdc(chain_state=True): the persisted
    # post-commit table state (storage cols + _bucket), identical to
    # the files just written — usable as the next merge's target_df
    state: "DataFrame | None" = None
    # replace_where only: count of new rows whose key collided with a
    # live row OUTSIDE the predicate region (the backfill deliberately
    # wins LWW against those too — a widening of Delta replaceWhere's
    # contract that callers must be able to detect)
    keys_stolen_outside_region: int = 0


class SnapshotTable:
    """A single logical table rooted at ``path``.

    Layout::

        path/metadata/version-hint.txt     -> current snapshot id
        path/metadata/snap-<id>.json       -> manifest
        path/metadata/lineage/             -> lineage parquet (append)
        path/data/commit-<id>-<uuid>/_bucket=<k>/part-*.parquet
        path/data/{delta,retain}-<uuid>/_bucket=<k>/part-*.parquet
    """

    def __init__(self, spark: SparkSession, path: str, ref: str = "main"):
        pin_engine_confs(spark)
        self.spark = spark
        self.path = path
        self.ref = ref
        self._manifest: dict | None = None
        # sidecar rel-path -> {(data_path, col): (m, k, bits)}; blooms
        # are immutable once written, so the cache never invalidates
        self._bloom_cache: dict[str, dict] = {}
        # segment name -> raw JSON body; segments are content-addressed
        # and immutable, so the cache never invalidates (parsed fresh
        # per manifest() call to keep json.load's no-aliasing contract)
        self._seg_cache: dict[str, str] = {}
        # segment name -> parsed entries, used ONLY for write-side
        # equality probes (never handed to callers — no aliasing)
        self._seg_parsed: dict[str, list] = {}
        # test seam for commit races: called once, right before this
        # writer's first manifest-write attempt — a test installs a
        # second writer's commit here to create a deterministic
        # conflict (threads + barriers would be flaky under Spark)
        self._pre_commit_hook = None

    # ---------- lifecycle ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: Sequence[str],
        order_cols: Sequence[str] = ("ts",),
        n_buckets: int = 64,
        bloom_cols: Sequence[str] | None = None,
    ) -> "SnapshotTable":
        """Create an empty table at snapshot 0.

        ``bloom_cols`` opts into per-file bloom sidecars for those
        columns (see ``bloom.py``), built for every data file a commit
        writes — merges, compaction, purge, rescale, repair and
        retention rewrites alike; point lookups via
        ``read(key_equals=...)`` then skip files that definitely don't
        contain the key — the Iceberg-puffin / Delta-bloom-index analog."""
        os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        manifest = {
            "snapshot_id": 0,
            "parent": None,
            "key_cols": list(key_cols),
            "order_cols": list(order_cols),
            "bucket_count": n_buckets,
            "schema_id": 0,
            "schemas": {"0": schema.jsonValue()},
            "files": {},  # bucket(str) -> [{"path":..., "schema_id":..., "stats": {col: [min,max]}}]
            "checkpoint": {"applied": []},  # [lsn_lo, lsn_hi, snapshot_id, rows]
            # zone-map columns: per-file min/max recorded at commit time
            # (parquet footers, driver-side) for scan pruning
            "stats_cols": [list(key_cols)[0], *order_cols, _LSN_COL],
            # bloom-filter columns: per-file bloom sidecars written at
            # commit time for point-lookup file skipping (bloom.py)
            "bloom_cols": list(bloom_cols or []),
            "summary": {"operation": "create"},
        }
        t = cls(spark, path)
        t._write_manifest(manifest)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SnapshotTable":
        t = cls(spark, path)
        t.manifest()  # raises if missing
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", "version-hint.txt"))

    # ---------- manifest plumbing ----------

    def _hint_path(self, ref: str | None = None) -> str:
        """Current-snapshot pointer for a ref. ``main`` is the published
        table (``version-hint.txt``, what every reader sees by default);
        other refs are branch heads (``ref-<name>.txt``) advanced only
        by writers holding a branch view."""
        ref = self.ref if ref is None else ref
        if ref == "main":
            return os.path.join(self.path, "metadata", "version-hint.txt")
        return os.path.join(self.path, "metadata", f"ref-{ref}.txt")

    def _next_snapshot_id(self) -> int:
        """Globally-unique snapshot id: 1 + max over ALL manifests on
        disk (not head+1 — two refs advancing concurrently must never
        collide on snap-<id>.json). Ids stay monotonic per ref because
        every commit's id exceeds every id that existed when it ran."""
        meta = os.path.join(self.path, "metadata")
        mx = -1
        for f in os.listdir(meta):
            if f.startswith("snap-") and f.endswith(".json"):
                try:
                    mx = max(mx, int(f[len("snap-"):-len(".json")]))
                except ValueError:
                    continue
        return mx + 1

    def manifest(self, snapshot_id: int | None = None, refresh: bool = False) -> dict:
        if snapshot_id is None:
            if self._manifest is not None and not refresh:
                return self._manifest
            with open(self._hint_path()) as f:
                snapshot_id = int(f.read().strip())
        with open(
            os.path.join(self.path, "metadata", f"snap-{snapshot_id}.json")
        ) as f:
            m = json.load(f)
        m["files"] = self._resolve_files(m.get("files", {}))
        if snapshot_id == self._current_id_on_disk():
            self._manifest = m
        return m

    # Buckets with at least this many file entries are stored as
    # shared content-addressed segment files (metadata/seg-<hash>.json)
    # referenced from the snapshot manifest by {"@seg": name}; smaller
    # buckets stay inline. A commit touching k of B buckets then writes
    # O(k · files-per-bucket) metadata bytes instead of re-serializing
    # the whole table's file list — the Iceberg manifest-list analog.
    # At 10^5 commits over 10^6 files this is the difference between
    # TBs and GBs of cumulative manifest I/O.
    _SEG_MIN_ENTRIES = 8

    def _resolve_files(self, files: dict) -> dict:
        """Expand {"@seg": name} bucket pointers into plain entry
        lists; inline lists pass through. Every consumer of
        manifest()["files"] sees the resolved form."""
        out: dict = {}
        for b, v in files.items():
            if isinstance(v, dict) and "@seg" in v:
                name = v["@seg"]
                body = self._seg_cache.get(name)
                if body is None:
                    with open(
                        os.path.join(self.path, "metadata", name)
                    ) as f:
                        body = f.read()
                    self._seg_cache[name] = body
                out[b] = json.loads(body)
            else:
                out[b] = v
        return out

    def _raw_seg_pointers(self, snapshot_id) -> dict:
        """{bucket: segment name} from a snapshot's ON-DISK manifest
        (no resolution) — O(buckets) read, used by the write path's
        unchanged-bucket probe and by segment GC."""
        try:
            with open(
                os.path.join(
                    self.path, "metadata", f"snap-{snapshot_id}.json"
                )
            ) as f:
                raw = json.load(f)
        except (FileNotFoundError, TypeError):
            return {}
        return {
            b: v["@seg"]
            for b, v in raw.get("files", {}).items()
            if isinstance(v, dict) and "@seg" in v
        }

    def _seg_entries_for_probe(self, name: str) -> list | None:
        """Parsed entries of a segment for equality probes only."""
        got = self._seg_parsed.get(name)
        if got is None:
            body = self._seg_cache.get(name)
            if body is None:
                try:
                    with open(
                        os.path.join(self.path, "metadata", name)
                    ) as f:
                        body = f.read()
                except FileNotFoundError:
                    return None
                self._seg_cache[name] = body
            got = json.loads(body)
            self._seg_parsed[name] = got
        return got

    def _pointerize_files(self, files: dict, parent=None) -> dict:
        """Write-side inverse of _resolve_files: spill large bucket
        entry lists to content-addressed segment files and reference
        them by name. A bucket whose entries equal the parent
        snapshot's are re-pointed at the parent's segment without
        serializing or hashing anything (one C-level list equality);
        a changed bucket hashes its content, and racing writers
        producing the same content converge on one file (atomic
        replace, identical bytes). Segments are GC'd by
        expire_snapshots."""
        meta = os.path.join(self.path, "metadata")
        parent_ptr = self._raw_seg_pointers(parent) if parent is not None else {}
        out: dict = {}
        for b, entries in files.items():
            if not isinstance(entries, list) or (
                len(entries) < self._SEG_MIN_ENTRIES
            ):
                out[b] = entries
                continue
            pname = parent_ptr.get(b)
            if pname is not None and self._seg_entries_for_probe(pname) == entries:
                out[b] = {"@seg": pname}
                continue
            body = json.dumps(entries, sort_keys=True, separators=(",", ":"))
            name = (
                "seg-"
                + hashlib.sha1(body.encode("utf-8")).hexdigest()[:20]
                + ".json"
            )
            p = os.path.join(meta, name)
            if name not in self._seg_cache and not os.path.exists(p):
                tmp = p + f".tmp-{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    f.write(body)
                os.replace(tmp, p)
            self._seg_cache[name] = body
            out[b] = {"@seg": name}
        return out

    def _current_id_on_disk(self) -> int:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _write_manifest(self, manifest: dict) -> None:
        """Manifest file first, then atomic hint swap — a crash between
        the two leaves the previous snapshot current (orphan data files
        are harmless and GC-able). Optimistic-concurrency guard: the
        on-disk current snapshot must still be this manifest's parent."""
        current = self._current_id_on_disk()
        parent = manifest.get("parent")
        if parent is not None and current != parent:
            raise CommitConflictError(
                f"table advanced to snapshot {current} while committing "
                f"child of {parent} — concurrent writer detected"
            )
        manifest["committed_at"] = time.time()
        sid = manifest["snapshot_id"]
        mpath = os.path.join(self.path, "metadata", f"snap-{sid}.json")
        # spill large bucket file lists to shared content-addressed
        # segments BEFORE claiming the snapshot file: per-commit
        # manifest bytes are O(changed buckets), not O(table files)
        disk = dict(manifest)
        disk["files"] = self._pointerize_files(
            manifest.get("files", {}), parent=parent
        )
        try:
            # exclusive create: two refs racing to the same id (both
            # listed metadata/ before either wrote) must fail loudly,
            # not silently overwrite the other's manifest
            with open(mpath, "x") as f:
                json.dump(disk, f, indent=1)
        except FileExistsError:
            raise CommitConflictError(
                f"snapshot id {sid} was claimed by a concurrent writer on "
                f"another ref while this commit ran — re-run the commit "
                "(data files are orphaned, GC-able)"
            ) from None
        tmp = self._hint_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._hint_path())
        self._manifest = manifest

    def _commit_manifest(
        self,
        new_m: dict,
        *,
        on_conflict: str = "fail",
        kind: str = "rewrite",
        own_entries: dict | None = None,
        replaced_paths: dict | None = None,
        ledger_row: list | None = None,
        max_retries: int = 5,
    ) -> tuple[dict, bool]:
        """Commit ``new_m``; on a concurrent-writer conflict with
        ``on_conflict='rebase'`` (or ``'retry'``, which is a rebase at
        this level — recomputing is the writer's own loop), rebase the
        commit onto the new head (see ``_rebase_manifest``) and retry —
        the Iceberg optimistic-concurrency loop. The one-shot
        ``_pre_commit_hook`` test seam runs first, so every writer has
        a kill point after its data write and before its manifest.
        Returns ``(manifest, noop)``;
        ``noop=True`` means a concurrent writer already applied this
        commit's exactly-once range, so nothing was written (this
        commit's data files are orphans, GC-able by expire_snapshots).

        ``kind='append'``: this commit only ADDS ``own_entries`` (MoR
        delta files) — always metadata-rebaseable across data-plane
        commits, because read-time LWW folds deltas by (ts, lsn)
        regardless of which commit registered them first.
        ``kind='rewrite'``: this commit replaced ``replaced_paths`` with
        ``own_entries`` per bucket — rebaseable only while every
        consumed file is still live at the new head (concurrent appends
        to the same bucket survive ON TOP of the rewrite; a concurrent
        rewrite of the same files raises RewriteConflictError)."""
        if on_conflict not in ("fail", "rebase", "retry"):
            raise ValueError(
                f"on_conflict={on_conflict!r}; use 'fail', 'rebase' or 'retry'"
            )
        if self._pre_commit_hook is not None:
            hook, self._pre_commit_hook = self._pre_commit_hook, None
            hook()
        attempt = 0
        while True:
            try:
                self._write_manifest(new_m)
                return new_m, False
            except CommitConflictError:
                if on_conflict == "fail" or attempt >= max_retries:
                    raise
                attempt += 1
                reb = self._rebase_manifest(
                    new_m, kind, own_entries, replaced_paths, ledger_row
                )
                if reb is None:
                    return self.manifest(refresh=True), True
                new_m = reb

    def _commit_child(
        self,
        m: dict,
        summary: dict,
        *,
        sid: int | None = None,
        parent: int | None = None,
        applied_range: tuple[int, int] | None = None,
        n_src: int = 0,
        on_conflict: str = "fail",
        kind: str = "rewrite",
        own_entries: dict | None = None,
        replaced_paths: dict | None = None,
        **fields,
    ) -> tuple[dict, bool]:
        """Commit the child of snapshot ``m`` — every snapshot after
        ``create`` is built here. ``fields`` are the table-level fields
        the commit changes (``files``, ``bucket_count``, ``stats_cols``,
        ``schema_id``/``schemas``, ``transform_version``,
        ``checkpoint`` …); ``applied_range`` appends the exactly-once
        ledger row ``[lo, hi, sid, n_src]``. ``sid`` is the id the
        commit's data files and bloom sidecar were named after
        (default: the next free id); ``parent`` defaults to ``m``
        itself (a rollback restores an older ``m`` on top of the head).
        Conflict policy and rebase inputs go to ``_commit_manifest``;
        returns its ``(manifest, noop)``."""
        sid = self._next_snapshot_id() if sid is None else sid
        ledger_row = None
        if applied_range is not None:
            ledger_row = [int(applied_range[0]), int(applied_range[1]), sid, n_src]
            fields["checkpoint"] = {
                **m["checkpoint"],
                "applied": [*m["checkpoint"]["applied"], ledger_row],
            }
        child = {
            **m,
            **fields,
            "snapshot_id": sid,
            "parent": m["snapshot_id"] if parent is None else parent,
            "summary": summary,
        }
        return self._commit_manifest(
            child,
            on_conflict=on_conflict,
            kind=kind,
            own_entries=own_entries,
            replaced_paths=replaced_paths,
            ledger_row=ledger_row,
        )

    def _write_buckets(
        self, out: DataFrame, prefix: str, max_records_per_file: int | None = None
    ) -> dict[int, list[str]]:
        """Write bucket-routed rows (``_BUCKET_COL`` included) to a
        fresh ``data/<prefix>-<uuid>/_bucket=<k>/`` directory and list
        the files per bucket. Callers route (``bucket_routed``) and may
        sort or persist first; this is the only data write."""
        commit_dir = os.path.join(
            self.path, "data", f"{prefix}-{uuid.uuid4().hex[:12]}"
        )
        writer = out.write
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.partitionBy(_BUCKET_COL).parquet(commit_dir)
        found: dict[int, list[str]] = {}
        for entry in os.listdir(commit_dir):
            if not entry.startswith(f"{_BUCKET_COL}="):
                continue
            d = os.path.join(commit_dir, entry)
            files = [
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
            ]
            if files:
                found[int(entry.split("=", 1)[1])] = files
        return found

    def _replace_buckets(
        self,
        m: dict,
        sid: int,
        entries: dict[str, list[dict]],
        buckets,
        summary: dict,
        **commit,
    ) -> tuple[dict, bool]:
        """Commit ``entries`` (bucket → new file entries, from
        ``_file_entries``) as the whole file lists of ``buckets``: every
        entry those buckets held in ``m`` is replaced (deltas fold into
        the rewrite) and a bucket left without entries drops out. The
        replaced paths and the new entries are what a conflict rebase
        re-applies on a newer head (``kind='rewrite'``). ``commit``
        passes through to ``_commit_child`` (ledger range, conflict
        policy, changed table fields)."""
        own = {**{str(b): [] for b in buckets}, **entries}
        replaced = {
            str(b): {e["path"] for e in m["files"].get(str(b), [])}
            for b in buckets
        }
        files = {b: v for b, v in m["files"].items() if b not in replaced}
        files.update((b, v) for b, v in own.items() if v)
        return self._commit_child(
            m, summary, sid=sid, files=files, kind="rewrite",
            own_entries=own, replaced_paths=replaced, **commit,
        )

    def _rebase_manifest(
        self,
        new_m: dict,
        kind: str,
        own_entries: dict | None,
        replaced_paths: dict | None,
        ledger_row: list | None,
    ) -> dict | None:
        """Re-express a conflicted commit against the CURRENT head:
        walk head → this commit's planned parent, verify every
        intervening commit is data-plane (``_REBASE_SAFE_OPS``) under
        the same schema and bucket layout, then splice this commit's
        per-bucket entry changes into the head's file lists. Metadata
        only — no data file is touched or re-read. Returns the rebased
        manifest, or None when the head's ledger already contains this
        commit's applied range (a concurrent writer won the
        exactly-once race; the correct outcome is a no-op).

        Raises CommitConflictError when the rebase is unsound:
        structural intervening commit, schema/bucket-layout change, or
        (rewrites only, as RewriteConflictError) a consumed file no
        longer live at the head."""
        head = self.manifest(refresh=True)
        planned_parent = new_m["parent"]
        chain: list[dict] = []
        cur = head
        while cur["snapshot_id"] != planned_parent:
            chain.append(cur)
            p = cur.get("parent")
            if p is None:
                raise CommitConflictError(
                    f"head snapshot {head['snapshot_id']} does not descend "
                    f"from this commit's parent {planned_parent} (rollback "
                    "or unrelated history) — recompute from the new head"
                )
            try:
                cur = self.manifest(p)
            except FileNotFoundError:
                raise CommitConflictError(
                    f"ancestry of head {head['snapshot_id']} below snapshot "
                    f"{cur['snapshot_id']} was expired while rebasing — "
                    "recompute from the new head"
                ) from None
        for c in chain:
            op = (c.get("summary") or {}).get("operation")
            if op not in _REBASE_SAFE_OPS:
                raise CommitConflictError(
                    f"concurrent {op!r} commit (snapshot {c['snapshot_id']}) "
                    "is structural — rebase refused; recompute from the new "
                    "head"
                )
        if head["schema_id"] != new_m["schema_id"]:
            raise CommitConflictError(
                f"schema advanced ({new_m['schema_id']} -> "
                f"{head['schema_id']}) while committing — recompute under "
                "the current schema"
            )
        if head["bucket_count"] != new_m["bucket_count"]:
            raise CommitConflictError(
                "bucket layout rescaled while committing — files are "
                "bucketed under the old layout; recompute"
            )

        files = {b: list(v) for b, v in head["files"].items()}
        own_entries = own_entries or {}
        if kind == "append":
            for b, ents in own_entries.items():
                files[b] = files.get(b, []) + list(ents)
        else:
            replaced_paths = replaced_paths or {}
            for b in sorted(set(own_entries) | set(replaced_paths)):
                hlist = files.get(b, [])
                hpaths = {e["path"] for e in hlist}
                need = set(replaced_paths.get(b, ()))
                missing = need - hpaths
                if missing:
                    raise RewriteConflictError(
                        f"bucket {b}: {len(missing)} file(s) this rewrite "
                        "consumed were replaced by a concurrent commit — "
                        "its output is stale; recompute from the new head"
                    )
                # our rewrite output + anything a concurrent commit
                # added AFTER our planned parent. Surviving DELTA
                # entries are fold-safe as-is (read-time LWW orders by
                # (ts, lsn)). A surviving BASE entry means a concurrent
                # writer rewrote into a bucket that was EMPTY at the
                # shared parent (no commit adds base files without
                # replacing — so both outputs merged disjoint inputs,
                # no shared parent row): two base generations may hold
                # the same key, and read() only LWW-folds buckets with
                # delta entries — so demote OUR generation to 'delta'.
                # The fold then reproduces the sequential merge exactly
                # (LWW is associative; both generations carry (ts,
                # _lsn) and tombstone rows).
                survivors = [e for e in hlist if e["path"] not in need]
                own = list(own_entries.get(b, ()))
                if own and any(e.get("kind") != "delta" for e in survivors):
                    own = [{**e, "kind": "delta"} for e in own]
                merged = own + survivors
                if merged:
                    files[b] = merged
                else:
                    files.pop(b, None)

        ledger = [list(r) for r in head["checkpoint"]["applied"]]
        spans = head["checkpoint"].get("compacted", [])
        sid = self._next_snapshot_id()
        if ledger_row is not None:
            lo, hi = int(ledger_row[0]), int(ledger_row[1])
            if any(r[0] == lo and r[1] == hi for r in ledger) or any(
                int(s[0]) <= lo and hi <= int(s[1]) for s in spans
            ):
                return None  # concurrent writer already applied this range
            ledger.append([lo, hi, sid, int(ledger_row[3])])
        reb = {
            **head,  # head's newer table-level fields win (identity seeds…)
            "snapshot_id": sid,
            "parent": head["snapshot_id"],
            "files": files,
            "checkpoint": {**head["checkpoint"], "applied": ledger},
            "summary": {
                **(new_m.get("summary") or {}),
                "rebased_onto": head["snapshot_id"],
                "planned_parent": planned_parent,
            },
        }
        # stats_cols only ever grows (compact --zorder adds clustered
        # columns); union keeps both sides' zone-map coverage
        reb["stats_cols"] = sorted(
            set(head.get("stats_cols", [])) | set(new_m.get("stats_cols", []))
        )
        return reb

    # ---------- schema ----------

    def current_schema(self, manifest: dict | None = None) -> T.StructType:
        m = manifest or self.manifest()
        return T.StructType.fromJson(m["schemas"][str(m["schema_id"])])

    def _storage_schema(self, schema_json: dict) -> T.StructType:
        """Schema as written to data files: payload + _lsn + _deleted.

        Deleted keys are kept as TOMBSTONE rows (key + ts + _lsn,
        payload nulled, _deleted=true) so that a late-arriving older
        event in a later batch cannot resurrect a deleted row — the
        cross-batch LWW stays exactly the oracle's global LWW. A
        compaction pass may expire tombstones older than the maximum
        late-arrival watermark.
        """
        s = T.StructType.fromJson(schema_json)
        return T.StructType(
            list(s.fields)
            + [
                T.StructField(_LSN_COL, T.LongType(), True),
                T.StructField(_DELETED_COL, T.BooleanType(), True),
            ]
        )

    # ---------- read ----------

    def read(
        self,
        snapshot_id: int | None = None,
        buckets: Sequence[int] | None = None,
        internal: bool = False,
        stats_filter: dict | None = None,
        key_equals: dict | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot, optionally pruned to a bucket
        subset (the COW-merge fast path). File groups written under old
        schema ids are aligned to the current schema (missing columns →
        null, widened types → cast).

        ``stats_filter={col: (lo, hi)}`` (inclusive bounds; None = open
        end) returns exactly ``read().filter(lo <= col <= hi)`` but
        opens only files whose zone-map [min,max] intersects the range
        (bucket-granular over MoR buckets — see _prune_by_stats).

        ``key_equals={col: value | [values]}`` is the point-lookup fast
        path: returns exactly ``read().filter(col IN values)`` but (a)
        prunes to the values' hash buckets when ``col`` is the bucket
        key, and (b) skips files whose bloom sidecar proves the values
        absent (per-file sound in MoR for key columns — see
        ``_prune_by_bloom``). At 100 TB this turns "fetch one
        conversation" from a bucket scan over the whole delta chain
        into opening ~one file.

        Building the frame runs no Spark job: the manifest names every
        file (``_PINNED_SQL_CONFS`` keeps their listing on the driver),
        and string, int and long lookup keys hash to their buckets on
        the driver (``_key_buckets``; other key types run one tiny
        local job)."""
        m = self.manifest(snapshot_id)
        cur = self.current_schema(m)
        key_equals = self._norm_key_equals(key_equals)
        want = set(int(b) for b in buckets) if buckets is not None else None
        if key_equals and m["key_cols"][0] in key_equals and want is None:
            # bucket pruning off the lookup values themselves
            kc = m["key_cols"][0]
            want = _key_buckets(
                self.spark, cur[kc], key_equals[kc], m["bucket_count"]
            )
        vis_files, _, _ = self._prune_by_stats(m, stats_filter)
        vis_files, _, _ = self._prune_by_bloom(m, vis_files, key_equals)

        # buckets holding delta (merge-on-read) files need LWW at read
        # time over base ∪ deltas; pure-base buckets read directly
        delta_buckets = {
            int(b)
            for b, entries in m["files"].items()
            if any(e.get("kind") == "delta" for e in entries)
        }

        def _collect(filter_delta: bool) -> dict[tuple[str, bool], list[str]]:
            groups: dict[tuple[str, bool], list[str]] = {}
            for b, entries in vis_files.items():
                if want is not None and int(b) not in want:
                    continue
                if (int(b) in delta_buckets) != filter_delta:
                    continue
                for e in entries:
                    key = (str(e["schema_id"]), bool(e.get("patches")))
                    groups.setdefault(key, []).append(e["path"])
            return groups

        renames = m.get("renames", {})

        def _resolve_name(name: str, have: set[str]) -> str | None:
            return self._walk_renames(name, have, renames)

        def _union(
            groups: dict[tuple[str, bool], list[str]], with_patch: bool
        ) -> DataFrame | None:
            parts: list[DataFrame] = []
            for (sid, patched), paths in groups.items():
                file_schema = self._storage_schema(m["schemas"][sid])
                if patched:
                    file_schema = T.StructType(
                        list(file_schema.fields)
                        + [T.StructField(_PATCH_COL, T.BooleanType(), True)]
                    )
                df = self.spark.read.schema(file_schema).parquet(*paths)
                have = {f.name: f for f in file_schema.fields}
                cols = []
                for f_ in cur.fields:
                    src = _resolve_name(f_.name, set(have))
                    if src is not None:
                        cols.append(F.col(src).cast(f_.dataType).alias(f_.name))
                    else:
                        cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
                cols.append(F.col(_LSN_COL))
                cols.append(F.col(_DELETED_COL))
                if with_patch:
                    cols.append(
                        F.coalesce(F.col(_PATCH_COL), F.lit(False)).alias(
                            _PATCH_COL
                        )
                        if patched
                        else F.lit(False).alias(_PATCH_COL)
                    )
                parts.append(df.select(*cols))
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        mor_groups = _collect(filter_delta=True)
        has_patches = any(patched for (_sid, patched) in mor_groups)
        base_part = _union(_collect(filter_delta=False), with_patch=False)
        mor_part = _union(mor_groups, with_patch=has_patches)
        if mor_part is not None:
            if has_patches:
                # raw patch deltas in the visible set: fold full images
                # ∪ patches per key (same single-shuffle aggregate shape
                # as LWW — operators/dedup.patch_fold); orphan patches
                # (no full image anywhere) vanish here and at compaction
                value_cols = [
                    f.name
                    for f in cur.fields
                    if f.name not in m["key_cols"] and f.name != "ts"
                ]
                mor_part = patch_fold(
                    mor_part,
                    m["key_cols"],
                    ["ts", _LSN_COL],
                    value_cols,
                    patch_col=_PATCH_COL,
                    del_col=_DELETED_COL,
                )
            else:
                mor_part = lww_dedup(mor_part, m["key_cols"], ["ts", _LSN_COL])

        if base_part is not None and mor_part is not None:
            out = base_part.unionByName(mor_part)
        elif base_part is not None:
            out = base_part
        elif mor_part is not None:
            out = mor_part
        else:
            empty = self._storage_schema(m["schemas"][str(m["schema_id"])])
            out = literal_frame(self.spark, [], empty)
        if stats_filter:
            # re-apply as a row predicate: file pruning is a superset
            # guarantee, the filter is the exact semantics
            for col, (lo, hi) in stats_filter.items():
                if lo is not None:
                    out = out.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    out = out.filter(F.col(col) <= F.lit(hi))
        if key_equals:
            for col, vals in key_equals.items():
                out = out.filter(F.col(col).isin(vals))
        if not internal:
            out = out.filter(~F.coalesce(F.col(_DELETED_COL), F.lit(False))).drop(
                _LSN_COL, _DELETED_COL
            )
        return out

    @staticmethod
    def _walk_renames(name: str, have: set[str], renames: dict) -> str | None:
        """Walk the rename chain current→historical until a name the
        file/snapshot actually has (or None → column added later)."""
        seen: set[str] = set()
        while name not in have:
            if name in seen or name not in renames:
                return None
            seen.add(name)
            name = renames[name]
        return name

    def snapshot_as_of(self, ts: float) -> int:
        """Newest snapshot committed at or before epoch-seconds ``ts``
        (timestamp time travel: ``read(snapshot_id=t.snapshot_as_of(ts))``).
        Walks the parent chain; raises if the table didn't exist yet or
        the chain predates committed_at stamping."""
        m = self.manifest(refresh=True)
        while True:
            at = m.get("committed_at")
            if at is not None and at <= ts:
                return int(m["snapshot_id"])
            parent = m.get("parent")
            if parent is None:
                raise ValueError(
                    f"no snapshot committed at or before {ts}"
                )
            try:
                m = self.manifest(parent)
            except FileNotFoundError:
                # parent expired by expire_snapshots — nothing retained
                # is old enough
                raise ValueError(
                    f"no retained snapshot committed at or before {ts} "
                    f"(older snapshots were expired)"
                ) from None

    def checkpoint_boundaries(self) -> list[int]:
        """Sorted EXCLUSIVE upper bounds of the ledger's applied lsn
        ranges — the lsn points at which this table's state is exactly
        'every event with lsn < boundary applied, none beyond'. The
        alignment vocabulary for cross-table consistent reads
        (plans/consistent.py). Metadata-only."""
        return sorted({
            int(hi)
            for (lo, hi, _sid, _n) in self.applied_ranges()
            if int(lo) < SYNTHETIC_LSN_BASE
        })

    def snapshot_at_lsn(self, lsn: int, strict: bool = True) -> int:
        """Newest snapshot whose ledger high-water is <= ``lsn`` — lsn
        time travel: ``read(snapshot_id=t.snapshot_at_lsn(W))`` is the
        table as of source position W (events with lsn < W applied).

        With ``strict=True`` (default) ``lsn`` must be one of
        :meth:`checkpoint_boundaries` — at a non-boundary W the events
        in (high-water, W) were never applied alone, so no snapshot
        represents W exactly and silently returning the older one
        would fake consistency. Walks the parent chain; raises if the
        covering snapshot was expired (consistent reads reach only as
        far back as the retention window)."""
        if strict and int(lsn) not in set(self.checkpoint_boundaries()):
            raise ValueError(
                f"lsn {lsn} is not a checkpoint boundary of this table; "
                "align on checkpoint_boundaries() (or consistent_watermark "
                "across tables), or pass strict=False for the newest "
                "state at-or-before it"
            )
        m = self.manifest(refresh=True)
        while True:
            his = [
                hi
                for (lo, hi, _sid, _n) in self._ledger_rows(m)
                if int(lo) < SYNTHETIC_LSN_BASE
            ]
            hw = max(his) if his else 0
            if hw <= int(lsn):
                return int(m["snapshot_id"])
            parent = m.get("parent")
            if parent is None:
                raise ValueError(f"no snapshot at or before lsn {lsn}")
            try:
                m = self.manifest(parent)
            except FileNotFoundError:
                raise ValueError(
                    f"the snapshot covering lsn {lsn} was expired by "
                    "snapshot GC — consistent reads are bounded by the "
                    "retention window"
                ) from None

    def rollback(self, snapshot_id: int) -> int:
        """Restore the table to a previous snapshot (the Iceberg
        rollback analog): commits a NEW snapshot whose file set, schema
        history, AND checkpoint ledger are the target's. Reverting the
        ledger is the point — lsn ranges applied after the target stop
        being 'applied', so the standard resume path replays them (bad
        deploy → rollback → fixed replay, exactly-once preserved).
        History is never rewritten; the rollback is itself a snapshot.
        Returns the new snapshot id."""
        target = self.manifest(snapshot_id)
        cur = self.manifest(refresh=True)
        if snapshot_id == cur["snapshot_id"]:
            return int(cur["snapshot_id"])
        committed, _ = self._commit_child(
            target, {"operation": "rollback", "to": int(snapshot_id)},
            parent=cur["snapshot_id"],
        )
        return int(committed["snapshot_id"])

    def identity_high_water(self, col: str) -> int | None:
        """Max of ``col`` over the CURRENT snapshot — the post-sync
        sequence-reset analog (reference resets identities after sync,
        worker/pkg/workflows/datasync/activities/post-table-sync/
        activity.go): after a rollback or replay, pass this as
        ``scramble_identity(..., floor=...)`` so freshly generated ids
        can never collide with surviving rows."""
        v = self.stats_high_water(col)
        return int(v) if v is not None else None

    def metadata_count(self, snapshot_id: int | None = None) -> dict:
        """``count(*)`` of live rows without scanning the table (the
        Iceberg manifest ``record_count`` trick, adapted to this
        engine's tombstone-retaining layout). Three tiers, cheapest
        first:

        - buckets whose every visible file is a COW base with a
          footer-proven ``live_rows`` label sum straight from the
          manifest — zero I/O;
        - pure-base buckets holding UNLABELED files (a mixed
          live/tombstone row group, or a pre-label manifest) scan ONLY
          those files' ``_deleted`` boolean column (~1 bit/row,
          column-pruned) — labeled files in the same bucket still count
          from metadata;
        - buckets holding MoR delta or patch files need the LWW fold —
          they go through the ordinary pruned ``read``.

        At 10^10 rows a compacted table (or any table after
        ``expire_tombstones``) answers from tier 1 alone; a table with
        live MoR pressure pays exactly its delta buckets. Returns
        ``{"rows", "rows_metadata", "files_metadata", "files_scanned",
        "buckets_lww"}``."""
        m = self.manifest(snapshot_id)
        meta_rows = 0
        files_meta = 0
        flag_scan_paths: list[str] = []
        lww_buckets: list[int] = []
        for b, entries in m["files"].items():
            if not entries:
                continue
            if any(
                e.get("kind") == "delta" or e.get("patches")
                for e in entries
            ):
                lww_buckets.append(int(b))
                continue
            for e in entries:
                if "live_rows" in e:
                    meta_rows += int(e["live_rows"])
                    files_meta += 1
                else:
                    flag_scan_paths.append(e["path"])
        scanned = 0
        if flag_scan_paths:
            scanned += (
                self.spark.read.parquet(*flag_scan_paths)
                .filter(~F.coalesce(F.col(_DELETED_COL), F.lit(False)))
                .count()
            )
        if lww_buckets:
            scanned += self.read(snapshot_id, buckets=sorted(lww_buckets)).count()
        return {
            "rows": meta_rows + scanned,
            "rows_metadata": meta_rows,
            "files_metadata": files_meta,
            "files_scanned": len(flag_scan_paths),
            "buckets_lww": len(lww_buckets),
        }

    def stats_high_water(self, col: str):
        """Max of ``col`` over the CURRENT snapshot, raw-typed.

        Metadata-only when every visible file carries zone-map stats
        for ``col`` (max of per-file maxes — may over-count values held
        by MoR-deleted rows, which is SAFE for the floor/freshness uses
        this serves: deleted ids stay reserved like a database
        sequence, and a deleted event's ts was still APPLIED); falls
        back to one agg over the live read otherwise. None = empty
        table / no values."""
        m = self.manifest(refresh=True)
        renames = m.get("renames", {})
        maxes: list = []
        complete = True
        for entries in m["files"].values():
            for e in entries:
                st = e.get("stats") or {}
                src = self._walk_renames(col, set(st), renames) or col
                rng = st.get(src)
                if rng is None:
                    complete = False
                    break
                maxes.append(rng[1])
            if not complete:
                break
        if complete:
            return max(maxes) if maxes else None
        row = self.read().agg(F.max(F.col(col))).collect()[0]
        return row[0]

    # ---------- branches (write-audit-publish) ----------
    #
    # The Iceberg branch / WAP analog (the reference has no staging
    # concept — its sync writes land directly). A branch is a named ref
    # (metadata/ref-<name>.txt) whose head advances through the SAME
    # commit path as main; readers of the published table never see
    # staged snapshots until publish_branch() fast-forwards main's
    # pointer. Because the checkpoint ledger lives inside the manifest,
    # publishing also publishes the staged lsn ranges atomically —
    # exactly-once survives the indirection (a re-replay of a published
    # range is a no-op on main, exactly as if it had been applied there).

    @staticmethod
    def _check_ref_name(name: str) -> None:
        import re

        if name == "main" or not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(
                f"invalid branch name {name!r} (1-64 chars of [A-Za-z0-9._-], "
                "not 'main')"
            )

    def create_branch(self, name: str, from_snapshot_id: int | None = None) -> int:
        """Create branch ``name`` at ``from_snapshot_id`` (default: this
        view's current head). Returns the branch head id."""
        self._check_ref_name(name)
        rp = self._hint_path(name)
        if os.path.exists(rp):
            raise ValueError(f"branch {name!r} already exists")
        head = (
            int(from_snapshot_id)
            if from_snapshot_id is not None
            else self.manifest(refresh=True)["snapshot_id"]
        )
        self.manifest(head)  # must resolve to a real manifest
        tmp = rp + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(head))
        os.replace(tmp, rp)
        return head

    def branch(self, name: str) -> "SnapshotTable":
        """A writable view of branch ``name`` (same table path, own
        head pointer). All reads/commits through the view stay on the
        branch."""
        if name != "main":
            self._check_ref_name(name)
            if not os.path.exists(self._hint_path(name)):
                raise ValueError(f"branch {name!r} does not exist")
        return SnapshotTable(self.spark, self.path, ref=name)

    def list_branches(self) -> dict[str, int]:
        """All refs -> head snapshot id (including main)."""
        meta = os.path.join(self.path, "metadata")
        out = {"main": self._read_ref("main")}
        for f in os.listdir(meta):
            if f.startswith("ref-") and f.endswith(".txt"):
                out[f[len("ref-"):-len(".txt")]] = self._read_ref(
                    f[len("ref-"):-len(".txt")]
                )
        return out

    def _read_ref(self, ref: str) -> int:
        with open(self._hint_path(ref)) as f:
            return int(f.read().strip())

    def drop_branch(self, name: str) -> None:
        self._check_ref_name(name)
        try:
            os.remove(self._hint_path(name))
        except FileNotFoundError:
            pass

    def _is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        sid: int | None = descendant_id
        while sid is not None:
            if sid == ancestor_id:
                return True
            try:
                sid = self.manifest(sid)["parent"]
            except FileNotFoundError:
                return False
        return False

    def publish_branch(
        self, name: str, audit=None, drop_after: bool = True
    ) -> int:
        """Fast-forward main to branch ``name``'s head (the Iceberg
        ``fast_forward`` / WAP publish). Requires main's current head to
        be an ancestor of the branch head — if main advanced since the
        fork, the staged commits were planned against a stale base and
        publishing would silently drop main's rows, so this raises
        CommitConflictError (re-stage on a fresh branch instead).

        ``audit``: optional callable ``DataFrame -> int`` run over the
        BRANCH head's table state before the pointer moves; a non-zero
        return aborts the publish (BranchAuditError) and main is
        untouched — the Audit in write-audit-publish. Returns the new
        main head id."""
        self._check_ref_name(name)
        bhead = self._read_ref(name)
        main_cur = self._read_ref("main")
        if bhead != main_cur:
            if not self._is_ancestor(main_cur, bhead):
                raise CommitConflictError(
                    f"main advanced to snapshot {main_cur}, which is not an "
                    f"ancestor of branch {name!r} head {bhead} — re-stage the "
                    "branch from the current main before publishing"
                )
            if audit is not None:
                staged = SnapshotTable(self.spark, self.path, ref=name)
                n_bad = int(audit(staged.read()))
                if n_bad:
                    raise BranchAuditError(
                        f"audit failed for branch {name!r} at snapshot "
                        f"{bhead}: {n_bad} violation(s); main stays at "
                        f"{main_cur}"
                    )
            # optimistic re-check at swap time: the audit may have run
            # for minutes — a main commit that landed meanwhile must
            # conflict here exactly as it would in _write_manifest,
            # never be silently discarded by the pointer swap
            if self._read_ref("main") != main_cur:
                raise CommitConflictError(
                    f"main advanced past snapshot {main_cur} while the "
                    f"audit of branch {name!r} ran — re-stage and retry"
                )
            tmp = self._hint_path("main") + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(str(bhead))
            os.replace(tmp, self._hint_path("main"))
            if self.ref == "main":
                self._manifest = None  # head moved under this view
        if drop_after:
            self.drop_branch(name)
        return bhead

    def snapshot_diff(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Incremental read (CDC *out* of the table): net row-level
        changes between two committed snapshots — the Iceberg
        changelog-scan analog (the reference has no table-side change
        feed at all; its replay source is the upstream log).

        Scale shape: the two manifests are compared file-list-by-bucket
        FIRST, and both snapshot reads are pruned to buckets whose data
        files actually differ — an untouched bucket cannot hold a
        changed row (COW rewrites whole bucket files; MoR appends delta
        files under the bucket). The diff itself is one full-outer join
        on the key columns over that pruned subset, comparing every
        value column null-safely — no collect, no Python.

        Returns rows ``(change_type, <table columns>)`` with
        ``change_type`` ∈ {'insert','update_postimage','delete'}:
        post-image values for insert/update, pre-image for delete.
        With ``include_preimages=True`` every update additionally emits
        an ``update_preimage`` row carrying the OLD values (the Delta
        change-data-feed contract) — downstream consumers that maintain
        aggregates or search indexes need the before-image to retract
        the old contribution. Same single full-outer join: the update
        branch just emits both sides of the already-joined row (a
        partition-local explode of 2, no second pass over the table).
        Renames between the snapshots are resolved through the manifest
        rename chain, added columns read as NULL on the old side.
        """
        m_from = self.manifest(from_snapshot_id)
        m_to = self.manifest(to_snapshot_id)
        fb, tb = m_from["files"], m_to["files"]
        changed = sorted(
            int(b)
            for b in set(fb) | set(tb)
            if [e["path"] for e in fb.get(b, [])]
            != [e["path"] for e in tb.get(b, [])]
        )
        new_schema = self.current_schema(m_to)
        keys = list(m_to["key_cols"])
        old_df = self.read(from_snapshot_id, buckets=changed)
        new_df = self.read(to_snapshot_id, buckets=changed)

        # align the old side to the to-snapshot schema (rename-chain
        # aware — the same walk read() applies per file). A rollback can
        # REVERT a rename, leaving the to-manifest chain without the
        # entry (to-name 'text', old column 'body'): fall back to the
        # FROM-manifest's chain — if walking an old column's history
        # reaches the new name, that column is the match (without this,
        # every unchanged row of a reverted rename diffs as an update).
        renames = m_to.get("renames", {})
        renames_from = m_from.get("renames", {})
        have = set(old_df.columns)
        aligned = []
        for f_ in new_schema.fields:
            src_name = self._walk_renames(f_.name, have, renames)
            if src_name is None:
                for oc in old_df.columns:
                    chain, n = {oc}, oc
                    while n in renames_from and renames_from[n] not in chain:
                        n = renames_from[n]
                        chain.add(n)
                    if f_.name in chain:
                        src_name = oc
                        break
            if src_name is not None:
                aligned.append(F.col(src_name).cast(f_.dataType).alias(f_.name))
            else:
                aligned.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        old_df = old_df.select(*aligned)

        value_cols = [f.name for f in new_schema.fields if f.name not in keys]
        o = old_df.withColumn("_present", F.lit(True)).alias("o")
        n = new_df.withColumn("_present", F.lit(True)).alias("n")
        joined = o.join(
            n,
            on=[
                F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys
            ],
            how="full_outer",
        )
        same = F.lit(True)
        for c in value_cols:
            same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        change = (
            F.when(~F.coalesce(F.col("o._present"), F.lit(False)), F.lit("insert"))
            .when(~F.coalesce(F.col("n._present"), F.lit(False)), F.lit("delete"))
            .when(~same, F.lit("update_postimage"))
        )
        if not include_preimages:
            out_cols = [
                F.when(
                    F.col("_change_type") == "delete", F.col(f"o.{f_.name}")
                )
                .otherwise(F.col(f"n.{f_.name}"))
                .alias(f_.name)
                for f_ in new_schema.fields
            ]
            return (
                joined.withColumn("_change_type", change)
                .filter(F.col("_change_type").isNotNull())
                .select(F.col("_change_type").alias("change_type"), *out_cols)
            )
        old_img = F.struct(
            *[F.col(f"o.{f_.name}").alias(f_.name) for f_ in new_schema.fields]
        )
        new_img = F.struct(
            *[F.col(f"n.{f_.name}").alias(f_.name) for f_ in new_schema.fields]
        )

        def _ev(tag: str, img):
            return F.struct(F.lit(tag).alias("change_type"), img.alias("img"))

        events = (
            F.when(F.col("_change_type") == "insert", F.array(_ev("insert", new_img)))
            .when(F.col("_change_type") == "delete", F.array(_ev("delete", old_img)))
            .otherwise(
                F.array(
                    _ev("update_preimage", old_img),
                    _ev("update_postimage", new_img),
                )
            )
        )
        return (
            joined.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(F.explode(events).alias("_e"))
            .select(
                F.col("_e.change_type").alias("change_type"),
                *[
                    F.col(f"_e.img.{f_.name}").alias(f_.name)
                    for f_ in new_schema.fields
                ],
            )
        )

    # ---------- merge (the sink) ----------

    def merge_cdc(
        self,
        batch: DataFrame,
        applied_range: tuple[int, int] | None = None,
        lineage: bool = True,
        mode: str = "cow",
        transform=None,
        source_is_raw: bool = False,
        prune_buckets: bool = True,
        target_df: DataFrame | None = None,
        chain_state: bool = False,
        debug_assert_unique: bool = False,
        patch_ops: bool = False,
        bucket_local_merge: bool = False,
        on_conflict: str = "fail",
        _retry_budget: int = 2,
        _src_buckets=None,
    ) -> CommitInfo:
        """Apply a key-unique CDC batch (cols: op + payload + ts + lsn).

        Semantics == ``MERGE INTO t USING s ON t.key = s.key
        WHEN MATCHED AND s.op='delete' AND (s.ts,s.lsn)>=(t.ts,t._lsn) THEN DELETE
        WHEN MATCHED AND (s.ts,s.lsn)>=(t.ts,t._lsn) THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op!='delete' THEN INSERT *``
        — i.e. ts-aware LWW across batches.

        ``mode='cow'`` (default, the north-rule commit style): union +
        partial-agg LWW + rewrite of affected buckets only.
        ``mode='mor'`` (merge-on-read): write the batch as per-bucket
        DELTA files — no target read, O(batch) write amplification —
        with LWW resolved at read time / by compact(). The right mode
        for high-frequency tailing at 10^10 events; equivalent final
        state (tests assert it). It runs ``prepare_delta`` +
        ``commit_delta``, like pipelined replay; ``prune_buckets``,
        ``bucket_local_merge``, ``target_df`` and ``chain_state`` are
        COW-only.

        If ``applied_range`` is already in the ledger this is a NO-OP
        (exactly-once replay; reference analog retry⇒DO NOTHING).

        With ``debug_assert_unique=True`` a non-key-unique batch under
        ``source_is_raw=False`` fails loudly instead of silently keeping
        an arbitrary row (the MERGE-cardinality-violation guard,
        SURVEY §7.3; the reference's MERGE would crash).

        ``patch_ops=True`` accepts PARTIAL row images: events with
        ``op='patch'`` set only their non-NULL payload columns (the
        MySQL minimal-row-image / partial-Debezium-envelope case).
        Needs source_is_raw=True. Under COW the fold happens at write —
        target + full images + patches in the same single key-shuffle
        aggregate (``operators.dedup.patch_fold``); correct under
        per-key in-order delivery across batches (what a binlog LSN
        guarantees). Under MoR the batch is written RAW with a
        ``_patch`` marker and folded at read/compaction — O(batch)
        write amplification AND correct under arbitrary cross-batch ts
        disorder, the mode to tail a partial-image binlog at 10^10
        events. With ``transform``, each raw source event is
        transformed independently BEFORE the fold (both modes) — never
        the folded row, whose target-derived columns were transformed
        at a prior commit and must not be transformed twice; the
        transformers must be NULL-preserving (a patch's NULL means
        "unchanged"), which every column mapping in
        ``functions/transformers.py`` is.

        ``bucket_local_merge=True`` aligns the merge shuffle with the
        TABLE'S OWN bucket layout: one explicit hash exchange on the
        bucket column feeds both the LWW aggregate (grouping gains the
        bucket column — a function of the first key, so groups are
        unchanged — and the exchange's prefix satisfies the aggregate's
        required distribution) and the per-bucket file write, replacing
        the default's key-hash exchange + near-empty partial-agg pass +
        second bucket exchange. The rationale is CLUSTER network volume
        when in-batch duplicate density per partition is LOW (at 10^10
        events over 10^9 keys a map-side combine reduces ~0%, so the
        default pays a full-size key exchange AND a second winner-set
        exchange over the wire). It is not the default because it
        loses on the local benchmark (4 alternating pairs, 4 vCPUs): a
        600k-event commit into 8 buckets went from 3.66 to 3.97 s
        median (events/s -7.6%), and key-local 2k-event commits into 64
        buckets went from 1.05 to 0.97 s but retained memory from 728
        to 911 MB (+25%). Keep the default for skewed/hot-key sources,
        where the combine collapses duplicates before the wire and hot
        buckets would serialize into single partitions. COW only.
        Final state is identical either way (tests assert it).

        ``source_is_raw=True`` is the engine fast path: the batch may
        hold many events per key and is not yet anonymized — the stats
        pre-pass then runs on the cheap raw scan (no UDFs), in-batch
        dedup folds into the merge's single LWW shuffle, and
        ``transform`` is applied ONLY to the winning source rows,
        inside the key-partitioned merge stage. Its contract is
        ``transform(df, only_where=None) -> df``: under COW with a
        non-empty target the merge passes ``only_where`` (the winning
        source rows) and every other row must come back unchanged, in
        one pass over the LWW aggregate (``ReplayEngine.
        effective_transform`` and ``transform_batch`` honour it). The
        MoR, patch and repair paths call ``transform(df)``. With the default
        (False) the caller provides a key-unique, already-transformed
        batch, which COW persists to avoid recomputing it twice.

        With ``prune_buckets`` (the default) a COW merge first needs the
        batch's rows per bucket: they pick the buckets to rewrite and
        give the lineage rows and ``source_rows``. The private
        ``_src_buckets(key, n)`` may supply them from the batch's source
        on the driver (``ReplayEngine.replay`` passes
        ``ChangeLogSource.bucket_counts`` for an unmodified slice); when
        it is absent or returns None, one ``groupBy(bucket).count()``
        job over the batch counts them.

        ``on_conflict`` governs concurrent writers (the Iceberg
        optimistic-concurrency model): ``'fail'`` (default) raises
        CommitConflictError; ``'rebase'`` re-expresses the commit
        against the new head when provably safe — MoR delta appends
        always, COW rewrites while every consumed file is still live —
        and raises otherwise; ``'retry'`` additionally RECOMPUTES the
        whole merge from the new head when a rebase is unsound (same-
        bucket COW overlap, concurrent structural commit), bounded
        attempts. Exactly-once survives the race: if a concurrent
        writer applied this commit's ``applied_range`` first, the
        rebase detects it in the head's ledger and this call becomes a
        no-op (orphaned files are GC-able). If a rebase kept
        concurrently-added entries, the returned ``state`` is None even
        under ``chain_state=True`` — the chained frame would miss them.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}; use 'cow' or 'mor'")
        m = self.manifest(refresh=True)
        if applied_range is not None and self.is_applied(*applied_range):
            return CommitInfo(m["snapshot_id"], 0, 0, applied_range)
        key_cols = m["key_cols"]
        self._check_cdc_batch(batch, key_cols, source_is_raw, patch_ops)
        if debug_assert_unique and not source_is_raw:
            dup = (
                batch.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).collect()
            )
            if dup:
                raise ValueError(
                    f"merge source is not key-unique (e.g. {tuple(dup[0])[:-1]}); "
                    "LWW-dedup the batch or pass source_is_raw=True"
                )
        if mode == "mor":
            # under 'retry' a conflict re-prepares (this attempt's
            # files are orphans, GC-able)
            while True:
                written, n_src, token = self.prepare_delta(
                    batch, transform, source_is_raw, patch_ops
                )
                try:
                    return self.commit_delta(
                        written, applied_range, n_src, token,
                        lineage=lineage, on_conflict=on_conflict,
                    )
                except CommitConflictError:
                    if on_conflict != "retry" or _retry_budget <= 0:
                        raise
                    _retry_budget -= 1

        if target_df is not None and prune_buckets:
            # a chained state must cover the WHOLE table: with pruning on,
            # untouched buckets' file lists would be replaced by the
            # (source-only) merge output, silently dropping committed rows
            raise ValueError(
                "target_df (chained state) requires prune_buckets=False — "
                "the supplied state must cover every bucket"
            )
        nb = m["bucket_count"]
        cur = self.current_schema(m)
        payload_cols = [f.name for f in cur.fields]
        src = batch.withColumn(_BUCKET_COL, bucket_expr(key_cols[0], nb))
        persisted = not source_is_raw
        if persisted:
            src = src.persist()
        observation = None
        try:
            if prune_buckets:
                # affected buckets + row counts (lineage) + total: from
                # the source on the driver when it can count the batch,
                # else ONE action — on the raw path a plain scan + tiny
                # agg (no UDFs have been attached yet)
                bucket_counts = (
                    _src_buckets(key_cols[0], nb) if _src_buckets else None
                )
                if bucket_counts is None:
                    bucket_counts = {
                        int(r[0]): int(r[1])
                        for r in src.groupBy(_BUCKET_COL).count().collect()
                    }
                affected = sorted(bucket_counts)
                n_src = sum(bucket_counts.values())
            else:
                # no pre-pass: source row count rides the write job as an
                # observe() metric; buckets + lineage come from the
                # written files afterwards
                from pyspark.sql import Observation

                observation = Observation()
                src = src.observe(observation, F.count(F.lit(1)).alias("n_src"))
                bucket_counts = None
                affected = None
                n_src = None

            s_side = self._source_side(src, cur, patch_ops=patch_ops)

            # COW: read current rows of affected buckets and resolve
            # LWW now — ONE shuffle covers in-batch dedup AND the
            # target merge. Target rows keep their tombstone state;
            # _src breaks exact (ts,_lsn) ties in favor of the
            # incoming row (idempotent: identical payload).
            if target_df is not None:
                # chained state from the previous commit (identical
                # to the written files; avoids re-scanning parquet)
                target = target_df
            else:
                target = self.read(buckets=affected, internal=True).withColumn(
                    _BUCKET_COL, bucket_expr(key_cols[0], nb)
                )
            t_side = target.select(
                *payload_cols,
                F.col(_LSN_COL),
                F.col(_DELETED_COL).alias("_del"),
                F.lit(0).alias("_src"),
                F.col(_BUCKET_COL),
            )
            if patch_ops:
                # target rows are full images by construction
                t_side = t_side.withColumn("_patch", F.lit(False))
                if transform is not None:
                    # transform RAW source events BEFORE the fold
                    # (per event, like the MoR path): the fold's
                    # winner row mixes target-derived columns —
                    # already transformed at a prior commit — with
                    # source values, so a post-fold whole-row
                    # transform would double-transform the
                    # untouched columns (f(f(x)) != f(x)). NULL
                    # patch columns must stay NULL through the
                    # transform (NULL = unchanged) — the engine's
                    # column mappings are NULL-preserving.
                    s_side = transform(s_side)
            unioned = t_side.unionByName(s_side)
            if bucket_local_merge and not patch_ops:
                nop = (
                    max(1, min(len(affected), 256))
                    if affected is not None
                    else max(1, min(nb, 256))
                )
                unioned = unioned.repartition(nop, F.col(_BUCKET_COL))
            if patch_ops:
                value_cols = [
                    c for c in payload_cols
                    if c not in key_cols and c != "ts"
                ]
                won = patch_fold(
                    unioned, key_cols, ["ts", _LSN_COL, "_src"], value_cols
                )
            elif bucket_local_merge:
                won = lww_dedup(
                    unioned, [_BUCKET_COL, *key_cols], ["ts", _LSN_COL, "_src"]
                )
            else:
                won = lww_dedup(unioned, key_cols, ["ts", _LSN_COL, "_src"])
            if transform is not None and not patch_ops:
                # anonymize ONLY the winning source rows (target rows
                # were transformed when first applied): one conditional
                # projection over the agg output, so the LWW
                # aggregation runs once. If the target contributed
                # nothing (bootstrap / bulk load into empty buckets,
                # known metadata-only) every winner is a source row and
                # the transform applies unconditionally.
                target_empty = target_df is None and not any(
                    m["files"].get(str(b))
                    for b in (affected if affected is not None
                              else range(nb))
                )
                if target_empty:
                    won = transform(won)
                else:
                    won = transform(won, only_where=F.col("_src") == 1)

            out = self._finalize_rows(won, cur, key_cols)

            new_sid = self._next_snapshot_id()
            if not (bucket_local_merge and not patch_ops):
                # exact bucket→partition routing (no multinomial
                # collisions / empty write slots — see bucket_routed);
                # the bucket-local plan is bucket-partitioned already
                w_buckets = affected if affected is not None else range(nb)
                out = bucket_routed(
                    out, w_buckets, 256, bucket_col=_BUCKET_COL
                )
            if chain_state:
                out = out.persist()
            written = self._write_buckets(out, f"commit-{new_sid}")
            # fresh data is written by the CURRENT anonymization policy
            # (the engine's transforms run inside this merge)
            own_entries = self._file_entries(
                m, new_sid, written, int(m.get("transform_version", 0))
            )
            if affected is None:  # no-prepass mode: stats post-hoc
                affected = sorted(written)
                n_src = observed_metric(observation, "n_src", src.count)
                bucket_counts = _bucket_rows(own_entries)
            try:
                committed, noop = self._replace_buckets(
                    m, new_sid, own_entries,
                    affected if prune_buckets else list(m["files"]),
                    {"operation": "merge_cow", "source_rows": n_src,
                     "buckets_rewritten": len(affected)},
                    applied_range=applied_range, n_src=n_src,
                    on_conflict=on_conflict,
                )
            except CommitConflictError:
                if on_conflict != "retry" or _retry_budget <= 0:
                    raise
                # recompute the whole merge from the new head (this
                # attempt's files are orphans, GC-able)
                if chain_state:
                    out.unpersist()
                if persisted:
                    src.unpersist()
                    persisted = False
                return self.merge_cdc(
                    batch,
                    applied_range=applied_range,
                    lineage=lineage,
                    transform=transform,
                    source_is_raw=source_is_raw,
                    prune_buckets=prune_buckets,
                    target_df=None,  # stale by definition after a conflict
                    chain_state=chain_state,
                    debug_assert_unique=debug_assert_unique,
                    patch_ops=patch_ops,
                    bucket_local_merge=bucket_local_merge,
                    on_conflict="retry",
                    _retry_budget=_retry_budget - 1,
                    _src_buckets=_src_buckets,
                )
            rebased = committed["snapshot_id"] != new_sid
            if chain_state and (noop or rebased):
                out.unpersist()  # chained state is stale after a rebase
            if noop:
                return CommitInfo(committed["snapshot_id"], 0, 0, applied_range)
            final_sid = committed["snapshot_id"]
            if lineage:
                self._write_lineage(bucket_counts, final_sid, applied_range)
            return CommitInfo(
                final_sid,
                n_src,
                len(affected),
                applied_range,
                state=out if chain_state and not rebased else None,
            )
        finally:
            if persisted:
                src.unpersist()

    @staticmethod
    def _source_side(
        src: DataFrame, cur: T.StructType, patch_ops: bool = False
    ) -> DataFrame:
        """CDC batch → storage projection (payload aligned to the
        current schema + _lsn/_del/_src/_bucket [+ _patch])."""
        s_cols = []
        for f_ in cur.fields:
            if f_.name in src.columns:
                s_cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
            else:
                s_cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        extra = (
            [(F.col("op") == "patch").alias("_patch")] if patch_ops else []
        )
        return src.select(
            *s_cols,
            F.col("lsn").cast("long").alias(_LSN_COL),
            (F.col("op") == "delete").alias("_del"),
            F.lit(1).alias("_src"),
            F.col(_BUCKET_COL),
            *extra,
        )

    @staticmethod
    def _finalize_rows(
        won: DataFrame,
        cur: T.StructType,
        key_cols: Sequence[str],
        include_patch: bool = False,
    ) -> DataFrame:
        """Winners → written rows: deleted rows stay as tombstones
        (payload nulled, key + (ts, _lsn) retained for future LWW).
        ``include_patch`` additionally stores the partial-image marker
        (MoR patch deltas: raw patch events are written as-is and
        folded at read/compaction — see merge_cdc patch_ops)."""
        null_if_del = [
            F.when(F.col("_del"), F.lit(None).cast(f_.dataType))
            .otherwise(F.col(f_.name))
            .alias(f_.name)
            for f_ in cur.fields
            if f_.name not in key_cols and f_.name != "ts"
        ]
        extra = (
            [F.coalesce(F.col(_PATCH_COL), F.lit(False)).alias(_PATCH_COL)]
            if include_patch
            else []
        )
        return won.select(
            *key_cols,
            *null_if_del,
            F.col("ts"),
            F.col(_LSN_COL),
            F.col("_del").alias(_DELETED_COL),
            *extra,
            F.col(_BUCKET_COL),
        )

    @staticmethod
    def _check_cdc_batch(batch, key_cols, source_is_raw, patch_ops) -> None:
        """Reject a batch no merge can apply: missing op/lsn/ts/key
        columns, or partial images without the raw event history."""
        if patch_ops and not source_is_raw:
            # the batch must be the raw event history — a pre-deduped
            # "key-unique" batch has already destroyed the patches it
            # contained
            raise ValueError("patch_ops requires source_is_raw=True")
        missing = {"op", "lsn", "ts", *key_cols} - set(batch.columns)
        if missing:
            raise ValueError(
                f"CDC batch is missing required columns {sorted(missing)}; "
                f"need op/lsn/ts + key columns {list(key_cols)}"
            )

    # ---------- MoR delta commits ----------

    def prepare_delta(
        self,
        batch: DataFrame,
        transform=None,
        source_is_raw: bool = True,
        patch_ops: bool = False,
    ) -> tuple[dict[int, list[str]], int, tuple[int, int]]:
        """Data-plane of a MoR delta commit WITHOUT the manifest write:
        in-batch LWW dedup + transform + bucket-partitioned delta file
        write to a fresh directory. Touches no shared table state, so
        disjoint lsn ranges can run CONCURRENTLY (pipelined commits);
        ``commit_delta`` serializes the metadata afterwards. Returns
        (written files per bucket, source row count, (schema_id,
        bucket_count) the files were written under)."""
        from pyspark.sql import Observation

        m = self.manifest(refresh=True)
        key_cols = m["key_cols"]
        self._check_cdc_batch(batch, key_cols, source_is_raw, patch_ops)
        nb = m["bucket_count"]
        cur = self.current_schema(m)

        src = batch.withColumn(_BUCKET_COL, bucket_expr(key_cols[0], nb))
        obs = Observation()
        src = src.observe(obs, F.count(F.lit(1)).alias("n_src"))
        won = self._source_side(src, cur, patch_ops=patch_ops)
        if source_is_raw and not patch_ops:
            # dedup keeps delta volume O(keys). Patch batches stay RAW:
            # folding a patch into a same-batch full image would stop a
            # LATER-batch but OLDER-ts full image from reclaiming its
            # columns; the read-time fold over raw events is correct
            # under any cross-batch ts disorder (COW folds at write and
            # needs per-key in-order delivery).
            won = lww_dedup(won, key_cols, ["ts", _LSN_COL])
        if transform is not None:
            won = transform(won)
        out = self._finalize_rows(won, cur, key_cols, include_patch=patch_ops)
        written = self._write_buckets(
            bucket_routed(out, range(nb), 256, bucket_col=_BUCKET_COL), "delta"
        )
        n_src = observed_metric(obs, "n_src", src.count)
        return written, n_src, (m["schema_id"], nb)

    def commit_delta(
        self,
        written: dict[int, list[str]],
        applied_range: tuple[int, int] | None,
        n_src: int,
        token: tuple[int, int],
        lineage: bool = True,
        on_conflict: str = "fail",
    ) -> CommitInfo:
        """Metadata half of a MoR delta commit: register the delta
        files + ledger range atomically. With the default
        ``on_conflict='fail'`` it must be called in lsn order (single
        writer); ``'rebase'`` lets concurrent pipelined writers land in
        any order — a pure delta append is always metadata-rebaseable
        across data-plane commits (read-time LWW orders by (ts, lsn),
        not by commit order), and a duplicate applied_range becomes a
        no-op. A crash before this point leaves orphan files only — the
        range is not in the ledger, so replay re-does it. ``token`` is
        the (schema_id, bucket_count) ``prepare_delta`` wrote under."""
        m = self.manifest(refresh=True)
        if applied_range is not None and self.is_applied(*applied_range):
            return CommitInfo(m["snapshot_id"], 0, 0, applied_range)
        schema_id, bucket_count = token
        if schema_id != m["schema_id"]:
            raise CommitConflictError(
                f"schema advanced ({schema_id} -> {m['schema_id']}) while the "
                "delta was in flight — re-prepare under the current schema"
            )
        if bucket_count != m["bucket_count"]:
            raise CommitConflictError(
                f"bucket count rescaled ({bucket_count} -> "
                f"{m['bucket_count']}) while the delta was in flight — "
                "the files are bucketed under the old layout; re-prepare"
            )
        new_sid = self._next_snapshot_id()
        # bloom build launches one Spark job inside the serialized
        # metadata step; with pipelined commits prefer building it in
        # the data plane if it ever dominates — gated on bloom_cols
        own_entries = self._file_entries(
            m, new_sid, written, int(m.get("transform_version", 0)),
            kind="delta",
        )
        new_files = {b: list(v) for b, v in m["files"].items()}
        for b, ents in own_entries.items():
            new_files.setdefault(b, []).extend(ents)
        committed, noop = self._commit_child(
            m,
            {"operation": "merge_mor", "source_rows": n_src,
             "buckets_rewritten": len(written)},
            sid=new_sid, files=new_files,
            applied_range=applied_range, n_src=n_src,
            on_conflict=on_conflict, kind="append", own_entries=own_entries,
        )
        if noop:
            return CommitInfo(committed["snapshot_id"], 0, 0, applied_range)
        if lineage:
            self._write_lineage(
                _bucket_rows(own_entries), committed["snapshot_id"],
                applied_range,
            )
        return CommitInfo(
            committed["snapshot_id"], n_src, len(written), applied_range
        )

    def _stats_cols(self, m: dict) -> list[str]:
        return m.get(
            "stats_cols", [m["key_cols"][0], *m.get("order_cols", []), _LSN_COL]
        )

    @staticmethod
    def _norm_stat(v):
        """Normalize a footer min/max to a JSON-comparable primitive
        (timestamps → epoch micros, bytes → str)."""
        import datetime

        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return int(
                (v - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000
            )
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        return v

    @classmethod
    def _footer_fields(cls, md, cols: list[str]) -> dict:
        """The manifest-entry fields one parquet footer proves, in one
        pass over it (driver-side, no job):

        - ``rows``: the Iceberg ``record_count`` analog;
        - ``live_rows`` (rows whose tombstone flag is false), only when
          every row group's ``_deleted`` boolean stats are homogeneous
          (all-false -> all live, all-true -> zero live; parquet
          booleans carry min/max only, so a mixed row group is
          unprovable and the file stays unlabeled — ``metadata_count``
          then scans just that file's tombstone column). Delete-free
          files — the overwhelming majority of a bulk-loaded or
          tombstone-expired table — always label;
        - ``stats``: per-column [min, max] of ``cols`` (the Iceberg
          manifest-stats analog); a column without stats in some row
          group is omitted (read keeps the file);
        - ``patches``: the file carries the partial-image marker column
          (a raw MoR patch delta), so read() folds with patch semantics
          and stats pruning stays conservative."""
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        groups = [md.row_group(rg) for rg in range(md.num_row_groups)]

        def _rg_stats(col: str) -> list | None:
            sts = [g.column(idx[col]).statistics for g in groups]
            if any(st is None or not st.has_min_max for st in sts):
                return None
            return sts

        out: dict = {"rows": md.num_rows}
        dels = _rg_stats(_DELETED_COL) if _DELETED_COL in idx else None
        if dels is not None and all(
            not st.null_count and (st.max is False or st.min is True)
            for st in dels
        ):
            out["live_rows"] = sum(
                g.num_rows for g, st in zip(groups, dels) if st.max is False
            )
        stats: dict[str, list] = {}
        for col in cols:
            sts = _rg_stats(col) if col in idx else None
            if sts:
                stats[col] = [
                    cls._norm_stat(min(st.min for st in sts)),
                    cls._norm_stat(max(st.max for st in sts)),
                ]
        if stats:
            out["stats"] = stats
        if _PATCH_COL in idx:
            out["patches"] = True
        return out

    @classmethod
    def _collect_file_stats(
        cls,
        written: dict[int, list[str]],
        cols: list[str],
        footers: dict[str, object] | None = None,
    ) -> dict[str, dict]:
        """path → column [min, max] from parquet footers (see
        ``_footer_fields``); files with no stats for any of ``cols``
        are left out."""
        if footers is None:
            footers = cls._read_footers(written)
        out: dict[str, dict] = {}
        for paths in written.values():
            for p in paths:
                stats = cls._footer_fields(footers[p], cols).get("stats")
                if stats:
                    out[p] = stats
        return out

    def _file_entries(
        self,
        m: dict,
        new_sid: int,
        written: dict[int, list[str]],
        tv: "int | dict[str, list[dict]]",
        kind: str | None = None,
        schema_id: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict[str, list[dict]]:
        """Manifest entries for a commit's freshly written data files,
        bucket(str) → entries in path order. Every writer builds its
        entries here: each footer is read once (``_read_footers``) and
        yields rows / live_rows / stats / patches (``_footer_fields``),
        and the table's bloom sidecar covers the files
        (``_annotate_blooms``, named after ``new_sid``).

        ``tv`` is the transform-version floor: an int for every file
        (data written by that policy), or the entries a rewrite
        consumed per bucket (``m["files"]``-shaped), whose ``_min_tv``
        floors that bucket's new files. ``schema_id`` and
        ``stats_cols`` default to the manifest's."""
        footers = self._read_footers(written, self.spark)
        bmap = self._annotate_blooms(m, new_sid, written)
        cols = stats_cols or self._stats_cols(m)
        sid = m["schema_id"] if schema_id is None else schema_id
        out: dict[str, list[dict]] = {}
        for b, paths in written.items():
            tv_b = tv if isinstance(tv, int) else _min_tv(tv.get(str(b), []))
            ents = []
            for p in sorted(paths):
                e = {"path": p, "schema_id": sid,
                     **self._footer_fields(footers[p], cols)}
                if tv_b:
                    e["tv"] = tv_b
                if kind:
                    e["kind"] = kind
                if p in bmap:
                    e["bloom"] = bmap[p]
                ents.append(e)
            out[str(b)] = ents
        return out

    def _prune_by_stats(
        self, m: dict, stats_filter: dict | None
    ) -> tuple[dict, int, int]:
        """Zone-map scan pruning: drop file entries whose recorded
        [min,max] is disjoint from every filter range. SOUNDNESS: in a
        COW bucket every key appears exactly once table-wide, so
        dropping a non-matching file never hides a newer version; in a
        bucket holding MoR delta files a key's winner may sit in a
        different file, so pruning there is BUCKET-granular (all files
        kept unless none matches). Files without stats are kept.
        Returns (pruned files-dict, files_total, files_kept)."""
        files = m["files"]
        total = sum(len(v) for v in files.values())
        if not stats_filter:
            return files, total, total
        norm_filter = {
            c: (self._norm_stat(lo), self._norm_stat(hi))
            for c, (lo, hi) in stats_filter.items()
        }
        renames = m.get("renames", {})

        def _entry_matches(e: dict) -> bool:
            st = e.get("stats")
            if not st:
                return True
            for col, (lo, hi) in norm_filter.items():
                src = self._walk_renames(col, set(st), renames) or col
                rng = st.get(src)
                if not rng:
                    continue
                mn, mx = rng
                try:
                    if (hi is not None and mn > hi) or (
                        lo is not None and mx < lo
                    ):
                        return False
                except TypeError:  # incomparable types: keep the file
                    continue
            return True

        # In a MoR bucket, per-file pruning is additionally sound for
        # the LOWER bound of the PRIMARY LWW order column (order_cols[0],
        # typically ts): a file wholly below ``lo`` holds only rows that
        # either lose LWW to a newer row in a kept file or fail the row
        # predicate themselves — and it cannot promote a stale winner,
        # because any surviving version of the same key is ordered below
        # the dropped winner on that column too, hence also below ``lo``
        # and dropped by the re-applied predicate. The argument is FALSE
        # for tie-breaker columns like _lsn: a late-arriving event can
        # carry (low ts, high lsn), so a file wholly below an _lsn bound
        # may hold the true (high-ts) winner while a high-lsn LOSER
        # survives elsewhere and passes the predicate — those columns
        # stay bucket-granular. (Upper bounds stay bucket-granular
        # always: dropping newer files would turn "current rows with
        # col <= hi" into an as-of read.) This is the tail-read fast
        # path: "rows touched since time T" skips every old delta file.
        oc = m.get("order_cols", [])
        order_cols = {oc[0]} if oc else set()

        def _below_lower_bound(e: dict) -> bool:
            st = e.get("stats")
            if not st:
                return False
            for col, (lo, _hi) in norm_filter.items():
                if col not in order_cols or lo is None:
                    continue
                src = self._walk_renames(col, set(st), renames) or col
                rng = st.get(src)
                if not rng:
                    continue
                try:
                    if rng[1] < lo:
                        return True
                except TypeError:
                    continue
            return False

        out: dict[str, list] = {}
        for b, entries in files.items():
            has_delta = any(e.get("kind") == "delta" for e in entries)
            if has_delta:
                if any(_entry_matches(e) for e in entries):
                    # raw patch deltas void the lower-bound refinement:
                    # a patch file wholly below ``lo`` can still OWN a
                    # column of a winner whose fold ts is above it (the
                    # winner's other columns come from later events), so
                    # dropping it would null that column — patch buckets
                    # stay fully bucket-granular
                    if any(e.get("patches") for e in entries):
                        out[b] = list(entries)
                    else:
                        kept = [
                            e for e in entries if not _below_lower_bound(e)
                        ]
                        if kept:
                            out[b] = kept
            else:
                kept = [e for e in entries if _entry_matches(e)]
                if kept:
                    out[b] = kept
        kept_n = sum(len(v) for v in out.values())
        return out, total, kept_n

    def scan_stats(
        self,
        stats_filter: dict | None = None,
        snapshot_id: int | None = None,
        key_equals: dict | None = None,
    ) -> dict:
        """Pruning diagnostics: how many files a stats/bloom-filtered
        read would open."""
        m = self.manifest(snapshot_id)
        files, total, _ = self._prune_by_stats(m, stats_filter)
        files, _, kept = self._prune_by_bloom(
            m, files, self._norm_key_equals(key_equals), total
        )
        return {"files_total": total, "files_kept": kept}

    # ---------- bloom sidecars (point-lookup file skipping) ----------

    def _annotate_blooms(
        self, m: dict, new_sid: int, written: dict[int, list[str]]
    ) -> dict[str, str]:
        """Build the per-commit bloom sidecar for the freshly written
        files (ONE distributed pass over the batch's files only — never
        the table) and return {data_path: sidecar rel path} for the
        manifest entries. No-op unless the table opted into
        ``bloom_cols``. Every writer builds one through
        ``_file_entries``; a file the sidecar does not cover only loses
        pruning, never correctness — the probe keeps bloom-less files."""
        cols = self._current_bloom_cols(m)
        if not cols or not written:
            return {}
        from . import bloom as _bloom

        rel = os.path.join(
            "blooms", f"bloom-{new_sid}-{uuid.uuid4().hex[:8]}.parquet"
        )
        covered = _bloom.build_sidecar(
            self.spark, written, cols, os.path.join(self.path, rel)
        )
        return {p: rel for p in covered}

    def _current_bloom_cols(self, m: dict) -> list[str]:
        """bloom_cols are recorded with their CREATION-time names; after
        a rename, freshly written files carry the new name — resolve
        each configured name to its current schema name by walking the
        rename chains, so sidecar building survives evolution (the
        probe side already walks per file)."""
        cols = m.get("bloom_cols") or []
        if not cols:
            return []
        renames = m.get("renames", {})
        cur_names = [f.name for f in self.current_schema(m).fields]
        out = []
        for c in cols:
            if c in cur_names:
                out.append(c)
                continue
            for n in cur_names:
                chain, x = {n}, n
                while x in renames and renames[x] not in chain:
                    x = renames[x]
                    chain.add(x)
                if c in chain:
                    out.append(n)
                    break
        return out

    @staticmethod
    def _norm_key_equals(key_equals: dict | None) -> dict | None:
        if not key_equals:
            return None
        return {
            c: list(v) if isinstance(v, (list, tuple, set)) else [v]
            for c, v in key_equals.items()
        }

    def _bloom_entry(self, m: dict, e: dict, col: str):
        rel = e.get("bloom")
        if not rel:
            return None
        sc = self._bloom_cache.get(rel)
        if sc is None:
            from . import bloom as _bloom

            full = os.path.join(self.path, rel)
            sc = _bloom.load_sidecar(full) if os.path.exists(full) else {}
            self._bloom_cache[rel] = sc
        per_file = sc.get(e["path"])
        if not per_file:
            return None
        src = (
            self._walk_renames(col, set(per_file), m.get("renames", {}))
            or col
        )
        return per_file.get(src)

    def _prune_by_bloom(
        self,
        m: dict,
        files: dict,
        key_equals: dict | None,
        total: int | None = None,
    ) -> tuple[dict, int, int]:
        """Bloom scan pruning: drop file entries whose bloom says every
        looked-up value is DEFINITELY absent. SOUNDNESS: for key-column
        equality this is per-file sound even in MoR buckets — LWW
        groups by key, so a file without the key contributes nothing to
        that key's winner. For non-key columns MoR buckets stay
        bucket-granular (a dropped file could hide the true winner and
        let a stale row pass the re-applied predicate); COW buckets are
        per-file (each key appears exactly once table-wide). Files
        without a bloom entry are kept."""
        from . import bloom as _bloom

        passed = sum(len(v) for v in files.values())
        if total is None:
            total = passed
        if not key_equals or not m.get("bloom_cols"):
            # no bloom filtering: kept = whatever upstream pruning left
            return files, total, passed

        def _matches(e: dict) -> bool:
            for col, vals in key_equals.items():
                ent = self._bloom_entry(m, e, col)
                if ent is None:
                    continue
                bm, bk, bits = ent
                if not any(
                    _bloom.might_contain(bits, bm, bk, v) for v in vals
                ):
                    return False
            return True

        keyed = set(key_equals) <= set(m["key_cols"])
        out: dict[str, list] = {}
        for b, entries in files.items():
            has_delta = any(e.get("kind") == "delta" for e in entries)
            if has_delta and not keyed:
                if any(_matches(e) for e in entries):
                    out[b] = list(entries)
            else:
                kept = [e for e in entries if _matches(e)]
                if kept:
                    out[b] = kept
        kept_n = sum(len(v) for v in out.values())
        return out, total, kept_n

    # commits writing at least this many files read their footers in a
    # Spark job instead of the driver thread pool: a 2^13-bucket bulk
    # load writes thousands of files, and serial-ish driver opens
    # against object storage would add seconds-to-minutes per commit.
    # FileMetaData pickles (~1.6 KB/file), so only footers — never
    # data — travel to the driver either way.
    _FOOTER_DISTRIBUTE_OVER = 256

    @classmethod
    def _read_footers(
        cls, written: dict[int, list[str]], spark: SparkSession | None = None
    ) -> dict[str, object]:
        """path → parquet footer metadata, read ONCE per file — on a
        thread pool (I/O-bound; pyarrow releases the GIL) for small
        commits, executor-side for commits over
        ``_FOOTER_DISTRIBUTE_OVER`` files when a session is passed. A
        commit pays one round of footer opens instead of 2× serial
        opens (stats + counts)."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        paths = [p for ps in written.values() for p in ps]
        if not paths:
            return {}
        if spark is not None and len(paths) >= cls._FOOTER_DISTRIBUTE_OVER:
            sc = spark.sparkContext

            def _grab(it):
                import pyarrow.parquet as _pq

                for p in it:
                    yield (p, _pq.ParquetFile(p).metadata)

            n = max(1, min(len(paths), sc.defaultParallelism * 2))
            return dict(sc.parallelize(paths, n).mapPartitions(_grab).collect())
        if len(paths) == 1:
            return {paths[0]: pq.ParquetFile(paths[0]).metadata}
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return dict(
                ex.map(lambda p: (p, pq.ParquetFile(p).metadata), paths)
            )

    def _write_lineage(
        self,
        bucket_counts: dict[int, int],
        snapshot_id: int,
        applied_range: tuple[int, int] | None,
    ) -> None:
        """One row per (commit, bucket): offset range, rows applied,
        snapshot — the reference's per-table OTel counters
        (/root/reference/backend/pkg/metrics/labels.go:8-27) as data.
        Counts come from the merge's own stats pass, so this is a pure
        driver-side parquet append (no extra Spark job)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        lo, hi = applied_range if applied_range else (None, None)
        buckets = sorted(bucket_counts)
        tbl = pa.table(
            {
                "bucket": pa.array(buckets, type=pa.int32()),
                "rows_applied": pa.array(
                    [bucket_counts[b] for b in buckets], type=pa.int64()
                ),
                "snapshot_id": pa.array([snapshot_id] * len(buckets), type=pa.int64()),
                "lsn_lo": pa.array([lo] * len(buckets), type=pa.int64()),
                "lsn_hi": pa.array([hi] * len(buckets), type=pa.int64()),
            }
        )
        d = os.path.join(self.path, "metadata", "lineage")
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, f"lineage-{snapshot_id}.parquet"))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "metadata", "lineage"))

    def delta_file_counts(self) -> dict[int, int]:
        """bucket → number of delta files (compaction pressure)."""
        m = self.manifest(refresh=True)
        return {
            int(b): sum(1 for e in entries if e.get("kind") == "delta")
            for b, entries in m["files"].items()
            if any(e.get("kind") == "delta" for e in entries)
        }

    def plan_compaction(
        self,
        min_deltas: int = 4,
        min_delta_bytes: int | None = None,
        max_buckets: int | None = None,
    ) -> list[tuple[int, int, int]]:
        """Maintenance-window scheduler: pick the buckets whose MoR
        delta pressure warrants folding, worst first. Returns
        ``(bucket, n_delta_files, delta_bytes)`` for buckets with
        ``n_delta_files >= min_deltas`` OR (when given)
        ``delta_bytes >= min_delta_bytes``, capped at ``max_buckets``.

        ``max_buckets`` is the knob that bounds a maintenance window at
        design scale: compact the K worst buckets per run and let the
        cadence amortize — read amplification stays bounded at
        ~min_deltas deltas/bucket without ever rewriting the whole
        table in one job. Sizes come from driver-side stat calls on the
        delta files only (the set the policy is bounding); entries
        whose file has vanished count zero bytes rather than failing
        the plan."""
        m = self.manifest(refresh=True)
        plan: list[tuple[int, int, int]] = []
        for b, entries in m["files"].items():
            deltas = [e for e in entries if e.get("kind") == "delta"]
            if not deltas:
                continue
            nbytes = 0
            for e in deltas:
                try:
                    nbytes += os.path.getsize(e["path"])
                except OSError:
                    pass
            if len(deltas) >= min_deltas or (
                min_delta_bytes is not None and nbytes >= min_delta_bytes
            ):
                plan.append((int(b), len(deltas), nbytes))
        plan.sort(key=lambda t: (-t[1], -t[2], t[0]))
        return plan[:max_buckets] if max_buckets is not None else plan

    def compact(
        self,
        buckets: Sequence[int] | None = None,
        expire_tombstones_before=None,
        expire_rows_before=None,
        sort_by_key: bool = False,
        max_records_per_file: int | None = None,
        zorder_cols: Sequence[str] | None = None,
        zorder_bits: int = 4,
        on_conflict: str = "fail",
        transform=None,
        tag_transform_version: int | None = None,
        _retry_budget: int = 2,
    ) -> CommitInfo | None:
        """Fold delta files into base files (LWW resolved once, at
        write). Optionally expire tombstones with ts older than the
        late-arrival watermark — after which a same-key event older
        than the watermark could in principle resurrect, so pick the
        watermark from the source's max out-of-orderness.

        ``expire_rows_before`` is the data-RETENTION pass (drop every
        row, live or tombstone, older than the cutoff — "keep 90 days
        of transcripts"); with no explicit bucket list it targets the
        whole table, since age is uncorrelated with the key hash.

        ``sort_by_key=True`` clusters rows by the key columns WITHIN
        each bucket file (sortWithinPartitions — no extra shuffle):
        parquet row-group min/max stats then line up with the key, so
        point/range reads of a conversation skip most row groups — the
        Z-order-lite file-clustering step a 100 TB table runs during
        its maintenance window. With ``max_records_per_file`` the
        writer splits each bucket into several files along that sort
        order — each file then covers a contiguous key range, so the
        manifest's per-FILE zone maps (not just row groups) prune point
        lookups down to ~one file per bucket.

        ``zorder_cols`` clusters by the Morton interleave of those
        columns instead (Delta OPTIMIZE ZORDER analog, see
        ``operators/zorder.py``): with ``max_records_per_file`` each
        file covers a small z-cell, so zone maps prune scans filtered
        on ANY clustered column, not just the sort leader. The
        clustered columns are added to the manifest's ``stats_cols``
        so this and every future commit records their per-file
        min/max. Mutually exclusive with ``sort_by_key``.

        ``transform`` (``DataFrame -> DataFrame``, column set
        preserved; key/order columns must pass through untouched) is
        applied to the folded rows before the rewrite —
        ``transform_backfill`` uses this to re-anonymize in place.
        ``tag_transform_version`` stamps the produced file entries
        with that policy version; without it entries inherit the
        per-bucket MINIMUM of the versions they consumed (a plain
        compaction moves old rows, it doesn't upgrade them)."""
        if zorder_cols and sort_by_key:
            raise ValueError(
                "compact: sort_by_key and zorder_cols are exclusive — "
                "a file has one physical order"
            )
        m = self.manifest(refresh=True)
        if buckets is None:
            if (
                sort_by_key
                or zorder_cols
                or expire_rows_before is not None
                or expire_tombstones_before is not None
            ):
                # an explicit clustering or expiry request targets the
                # whole table — a fully-COW table has no deltas to fold
                # but still wants the rewrite (silent no-op surprise
                # otherwise; tombstones live in COW base files too)
                buckets = sorted(int(b) for b in m["files"])
            else:
                buckets = sorted(self.delta_file_counts())
        buckets = [int(b) for b in buckets]
        if not buckets:
            return None
        rows = self.read(buckets=buckets, internal=True)  # LWW applied
        if expire_tombstones_before is not None:
            rows = rows.filter(
                ~F.col(_DELETED_COL)
                | (F.col("ts") >= _ts_instant_lit(expire_tombstones_before))
            )
        if expire_rows_before is not None:
            # retention policy: physically drop EVERYTHING (live rows
            # and tombstones) whose LWW-winning ts is older than the
            # cutoff — the data-retention maintenance pass. Same
            # trade-off as tombstone expiry: a same-key event older
            # than the cutoff arriving later could re-insert; pick the
            # cutoff beyond the source's max out-of-orderness (and the
            # ledger still no-ops already-applied ranges).
            rows = rows.filter(F.col("ts") >= _ts_instant_lit(expire_rows_before))
        if transform is not None:
            before_cols = rows.columns
            rows = transform(rows)
            if rows.columns != before_cols:
                raise ValueError(
                    "compact(transform=...) must preserve the column "
                    f"set: {before_cols} -> {rows.columns}"
                )
        out = rows.withColumn(
            _BUCKET_COL, bucket_expr(m["key_cols"][0], m["bucket_count"])
        )
        new_sid = self._next_snapshot_id()
        out = bucket_routed(out, buckets, 256, bucket_col=_BUCKET_COL)
        persisted = None
        stats_cols = self._stats_cols(m)
        if zorder_cols:
            stats_cols = sorted(set(stats_cols) | set(zorder_cols))
        try:
            if sort_by_key:
                # the partitionBy writer REQUIRES an ordering on the
                # partition column and plans its own Sort(_bucket) on top,
                # which would eliminate a bare key sort (files would come
                # out in scan order — a silent no-op). Leading with the
                # bucket column satisfies the writer's requirement, so THIS
                # sort is the one that survives and files come out
                # key-clustered.
                out = out.sortWithinPartitions(_BUCKET_COL, *m["key_cols"])
            elif zorder_cols:
                # sort on the z EXPRESSION directly (no helper column: it
                # would land in the data files and change the schema);
                # same leading-bucket trick as above. The input is
                # persisted first: the quantile job AND the write would
                # otherwise each re-run the (possibly MoR-LWW) read.
                from .operators.zorder import zorder_sort_key

                persisted = out = out.persist()
                z = zorder_sort_key(out, list(zorder_cols), zorder_bits)
                out = out.sortWithinPartitions(F.col(_BUCKET_COL), z)
            written = self._write_buckets(
                out, f"commit-{new_sid}", max_records_per_file
            )
        finally:
            # release even when the sort-key build or write throws (a
            # string --zorder column, a full disk): the cached read is
            # the whole targeted bucket set
            if persisted is not None:
                persisted.unpersist()
        entries = self._file_entries(
            m, new_sid, written,
            m["files"] if tag_transform_version is None
            else int(tag_transform_version),
            stats_cols=stats_cols,
        )
        try:
            # the fold consumed every entry of the targeted buckets at
            # this snapshot — a rebase must see them all still live
            committed, _ = self._replace_buckets(
                m, new_sid, entries, buckets,
                {"operation": "compact", "buckets": len(buckets)},
                stats_cols=stats_cols, on_conflict=on_conflict,
            )
        except CommitConflictError:
            if on_conflict != "retry" or _retry_budget <= 0:
                raise
            # a concurrent commit replaced files this fold consumed —
            # re-run the compaction from the new head (this attempt's
            # files are orphans, GC-able)
            return self.compact(
                buckets=buckets,
                expire_tombstones_before=expire_tombstones_before,
                expire_rows_before=expire_rows_before,
                sort_by_key=sort_by_key,
                max_records_per_file=max_records_per_file,
                zorder_cols=zorder_cols,
                zorder_bits=zorder_bits,
                on_conflict="retry",
                transform=transform,
                tag_transform_version=tag_transform_version,
                _retry_budget=_retry_budget - 1,
            )
        return CommitInfo(committed["snapshot_id"], 0, len(buckets), None)

    # -- transform-version backfill (re-anonymization without a full
    # rewrite): the lakehouse analog of "my masking policy changed" --

    def set_transform_version(self, version: int) -> int:
        """Declare the anonymization-policy version the WRITER now
        applies at ingest (a metadata-only commit, like the
        reference's job-mapping update: `worker/pkg/workflows/datasync`
        re-runs with new transformers; here the bump + the new engine
        transforms deploy together). From this commit on, files
        written by merges/repairs are stamped ``tv=version``; files
        from before carry a lower floor and are exactly the
        ``transform_backfill`` work list. Returns the new snapshot id.
        Monotonic: lowering the version would mark un-transformed
        files done, so it raises."""
        m = self.manifest(refresh=True)
        cur = int(m.get("transform_version", 0))
        if int(version) < cur:
            raise ValueError(
                f"transform_version is monotonic ({cur} -> {version})"
            )
        if int(version) == cur:
            return m["snapshot_id"]
        committed, _ = self._commit_child(
            m,
            {"operation": "set_transform_version",
             "transform_version": int(version)},
            transform_version=int(version),
        )
        return committed["snapshot_id"]

    def pending_transform_buckets(self, version: int | None = None) -> list[int]:
        """Buckets holding at least one file whose transform-version
        floor is below ``version`` (default: the manifest's declared
        version) — the remaining backfill work list. Metadata-only:
        answered from the manifest, no data I/O, so resuming a crashed
        backfill costs one manifest read."""
        m = self.manifest(refresh=True)
        v = int(m.get("transform_version", 0) if version is None else version)
        if v <= 0:
            return []
        return sorted(
            int(b)
            for b, ents in m["files"].items()
            if any(int(e.get("tv", 0)) < v for e in ents)
        )

    def transform_backfill(
        self,
        transform,
        version: int | None = None,
        group_size: int = 64,
        max_records_per_file: int | None = None,
        on_conflict: str = "fail",
    ) -> dict:
        """Apply an upgraded anonymization policy to the rows already
        in the table — IN PLACE, resumably, without replaying the log
        or rewriting already-upgraded data. ``transform`` is the same
        ``DataFrame -> DataFrame`` shape the engine applies at ingest
        (column set preserved; key/order columns untouched).

        Mechanics: buckets whose files sit below ``version`` are
        rewritten through ``compact(transform=..., tag_transform_
        version=version)`` in groups of ``group_size`` buckets — each
        group is ONE atomic commit, so a crash loses at most the
        in-flight group and ``pending_transform_buckets`` resumes from
        the manifest (files already stamped ``version`` are never
        re-read). New data arriving concurrently is stamped at write
        by the bumped writer, so the work list only shrinks. At 100 TB
        this is O(un-upgraded bytes) total I/O with commit granularity
        tunable against metadata churn — the same maintenance-window
        shape as compaction, because it IS compaction with a transform.

        Returns ``{"version", "buckets", "commits", "snapshot_ids"}``.
        """
        m = self.manifest(refresh=True)
        v = int(m.get("transform_version", 0) if version is None else version)
        if v <= 0:
            raise ValueError(
                "transform_backfill needs a positive target version — "
                "set_transform_version first or pass version="
            )
        done: list[int] = []
        sids: list[int] = []
        while True:
            pending = self.pending_transform_buckets(v)
            pending = [b for b in pending if b not in done]
            if not pending:
                break
            group = pending[: max(1, int(group_size))]
            ci = self.compact(
                buckets=group,
                transform=transform,
                tag_transform_version=v,
                max_records_per_file=max_records_per_file,
                on_conflict=on_conflict,
            )
            if ci is not None:
                sids.append(ci.snapshot_id)
            done.extend(group)
        return {
            "version": v,
            "buckets": len(done),
            "commits": len(sids),
            "snapshot_ids": sids,
        }

    def purge_keys(
        self,
        values: Sequence,
        expire: bool = True,
        keep_last: int = 1,
        scrub_quarantine: bool = True,
        force: bool = False,
    ) -> dict:
        """Right-to-be-forgotten erasure of entire top-level keys
        (e.g. every turn of a set of conversations): physically rewrite
        the buckets holding the subjects' rows with every trace removed
        — live rows AND tombstones (a tombstone still carries the key
        value) — as ONE atomic snapshot, then expire prior snapshots so
        no retained manifest references a file containing the data.
        The Iceberg delete-and-expire compliance recipe; the reference
        anonymizes PII in flight, this erases it at rest.

        Documented semantics (none silent):

        - The exactly-once ledger is untouched: already-applied lsn
          ranges stay no-ops, so crash-recovery replays cannot
          resurrect the subject. A genuinely NEW change event (future
          range) re-inserts the key — correct CDC behavior; purge again
          after, or mask at ingest.
        - Tombstone removal trades late-arrival protection for erasure:
          an out-of-order event older than the purged delete would
          resurrect the key on a future merge. Erasure wins here.
        - Branch heads retain their full ancestry through GC, so purge
          REFUSES to run while branches other than main exist (their
          snapshots keep the data alive) unless ``force=True``; the
          returned ``refs_remaining`` lists what still pins history.
        - ``expire=False`` skips the GC (e.g. batching several purges);
          until ``expire_snapshots`` runs, prior snapshots still hold
          the data and the purge is NOT complete.
        - Quarantine sidecars (metadata/quarantine*) are scrubbed too
          unless ``scrub_quarantine=False``.

        At scale this touches only the |values| buckets the subjects
        hash into — one bounded rewrite job, not a table scan."""
        values = list(values)
        if not values:
            raise ValueError("purge_keys needs at least one key value")
        m = self.manifest(refresh=True)
        refs = self.list_branches()
        other_refs = sorted(set(refs) - {"main"})
        if other_refs and not force:
            raise ValueError(
                f"branches {other_refs} pin snapshot history containing "
                "the subject; publish/drop them first or pass force=True "
                "(the purge then reports them in refs_remaining)"
            )
        key_col = m["key_cols"][0]
        nb = m["bucket_count"]
        cur = self.current_schema(m)
        affected = sorted(_key_buckets(self.spark, cur[key_col], values, nb))
        present = {int(b) for b in m["files"]}
        affected = [b for b in affected if b in present]

        purged_rows = 0
        info = None
        if affected:
            from pyspark.sql import Observation

            rows = self.read(buckets=affected, internal=True)
            obs = Observation()
            rows = rows.observe(obs, F.count(F.lit(1)).alias("n_before"))
            out = rows.filter(~F.col(key_col).isin(values)).withColumn(
                _BUCKET_COL, bucket_expr(key_col, nb)
            )
            new_sid = self._next_snapshot_id()
            written = self._write_buckets(
                bucket_routed(out, affected, 256, bucket_col=_BUCKET_COL),
                f"commit-{new_sid}",
            )
            # fresh blooms for the rewritten files: the subjects' keys
            # are gone from the data, so they're absent from the new
            # bits too; the old sidecars die with expire_snapshots' GC
            entries = self._file_entries(m, new_sid, written, m["files"])
            # kept rows = the new files' footer counts (exact)
            purged_rows = observed_metric(
                obs, "n_before",
                lambda: self.read(buckets=affected, internal=True).count(),
            ) - sum(_bucket_rows(entries).values())
            committed, _ = self._replace_buckets(
                m, new_sid, entries, affected,
                {"operation": "purge", "buckets": len(affected),
                 "purged_rows": purged_rows},
            )
            info = CommitInfo(committed["snapshot_id"], 0, len(affected), None)

        scrubbed = 0
        if scrub_quarantine:
            scrubbed = self._scrub_sidecars(key_col, values)
        gc: dict = {}
        if expire:
            gc = self.expire_snapshots(keep_last=keep_last)
        return {
            "snapshot": info.snapshot_id if info else m["snapshot_id"],
            "buckets_rewritten": len(affected),
            "purged_rows": purged_rows,
            "quarantine_rows_scrubbed": scrubbed,
            "expired": gc,
            "refs_remaining": other_refs,
        }

    def _scrub_sidecars(self, key_col: str, values: list) -> int:
        """Remove the subjects' rows from quarantine sidecar datasets
        (each range=... dir is one small parquet dataset: rewrite it
        filtered via a temp dir + atomic rename, or drop it if empty)."""
        import shutil

        scrubbed = 0
        for side in ("quarantine", "quarantine_fk"):
            root = os.path.join(self.path, "metadata", side)
            if not os.path.isdir(root):
                continue
            for entry in sorted(os.listdir(root)):
                d = os.path.join(root, entry)
                if not os.path.isdir(d) or not any(
                    f.endswith(".parquet") for f in os.listdir(d)
                ):
                    continue
                df = self.spark.read.parquet(d)
                if key_col not in df.columns:
                    continue
                hit = df.filter(F.col(key_col).isin(values)).count()
                if not hit:
                    continue
                scrubbed += hit
                kept = df.filter(~F.col(key_col).isin(values))
                if kept.isEmpty():
                    shutil.rmtree(d, ignore_errors=True)
                    continue
                tmp = d + f".scrub-{uuid.uuid4().hex[:8]}"
                kept.write.parquet(tmp)
                old = d + f".old-{uuid.uuid4().hex[:8]}"
                os.rename(d, old)
                os.rename(tmp, d)
                shutil.rmtree(old, ignore_errors=True)
        return scrubbed

    def rescale_buckets(
        self, new_bucket_count: int, max_records_per_file: int | None = None
    ) -> CommitInfo:
        """Bucket-count evolution (the Iceberg partition-evolution
        analog): rewrite the table under a new bucket count — the
        maintenance operation for data that outgrew its create-time
        bucketing (bucket ≈ a few GB is the merge/prune sweet spot; at
        100× growth a 2^6-bucket table wants 2^13). One atomic
        snapshot: readers see the old or the new layout, never a mix;
        the exactly-once ledger, schema history and branch ancestry all
        carry over, and subsequent merges prune under the new count.
        MoR delta files are folded (LWW resolved once) during the
        rewrite, like compact(). ``snapshot_diff`` across a rescale
        stays correct but unpruned (every bucket's file list differs).
        """
        if new_bucket_count < 1:
            raise ValueError("bucket count must be >= 1")
        m = self.manifest(refresh=True)
        if new_bucket_count == m["bucket_count"]:
            return CommitInfo(m["snapshot_id"], 0, 0, None)
        rows = self.read(internal=True)  # LWW resolved, tombstones kept
        out = rows.withColumn(
            _BUCKET_COL, bucket_expr(m["key_cols"][0], new_bucket_count)
        )
        new_sid = self._next_snapshot_id()
        written = self._write_buckets(
            bucket_routed(
                out, range(new_bucket_count), 256, bucket_col=_BUCKET_COL
            ),
            f"commit-{new_sid}",
            max_records_per_file,
        )
        # rows changed buckets: the only sound per-file floor is the
        # min over EVERYTHING the rescale consumed
        entries = self._file_entries(
            m, new_sid, written,
            _min_tv([e for ents in m["files"].values() for e in ents]),
        )
        committed, _ = self._replace_buckets(
            m, new_sid, entries, list(m["files"]),
            {"operation": "rescale", "from_buckets": m["bucket_count"],
             "to_buckets": int(new_bucket_count)},
            bucket_count=int(new_bucket_count),
        )
        return CommitInfo(committed["snapshot_id"], 0, len(entries), None)

    def verify_files(self, deep: bool = True) -> dict:
        """Distributed storage audit — the ``fsck`` of the table.

        Every data-file entry of the current snapshot is checked
        EXECUTOR-side (existence, parquet footer readability, and with
        ``deep=True`` that the footer's recomputed zone-map min/max
        still equal the stats the manifest recorded at commit time —
        bit-rot / file-swap detection without touching data pages).
        Only failures travel to the driver, so a 100 TB table with
        millions of files returns a handful of rows, not a file list.

        Returns ``{"files_checked", "damaged": [{"bucket","path",
        "reason"}...], "damaged_buckets": [...]}`` — feed
        ``damaged_buckets`` to :meth:`repair_buckets`.

        Reference analog: the post-sync row-count/constraint
        verification the CLI offers (cli/internal/cmds/neosync/sync);
        here the subject is the table's own storage integrity.
        """
        # metadata pre-check: a dangling file-list segment pointer
        # would crash manifest resolution — report it as damage
        # instead (recovery: rollback to a snapshot whose segments
        # survive, then re-replay the tail from the log)
        meta = os.path.join(self.path, "metadata")
        dangling = [
            (b, name)
            for b, name in self._raw_seg_pointers(
                self._current_id_on_disk()
            ).items()
            if not os.path.exists(os.path.join(meta, name))
        ]
        if dangling:
            damaged = [
                {
                    "bucket": int(b),
                    "path": os.path.join("metadata", name),
                    "reason": "missing manifest segment",
                }
                for b, name in dangling
            ]
            return {
                "files_checked": 0,
                "damaged": damaged,
                "damaged_buckets": sorted({d["bucket"] for d in damaged}),
                "metadata_damage": True,
            }
        m = self.manifest(refresh=True)
        rows = [
            (
                int(b),
                e["path"],
                json.dumps(e["stats"]) if (deep and e.get("stats")) else None,
            )
            for b, entries in m["files"].items()
            for e in entries
        ]
        if not rows:
            return {"files_checked": 0, "damaged": [], "damaged_buckets": []}

        norm = self._norm_stat

        def _check(batches):
            import pandas as pd
            import pyarrow.parquet as pq

            for pdf in batches:
                out = []
                for b, path, stats_json in zip(
                    pdf["bucket"], pdf["path"], pdf["stats_json"]
                ):
                    if not os.path.exists(path):
                        out.append((int(b), path, "missing"))
                        continue
                    try:
                        md = pq.ParquetFile(path).metadata
                    except Exception:
                        out.append((int(b), path, "unreadable_footer"))
                        continue
                    if stats_json is None:
                        continue
                    expected = json.loads(stats_json)
                    idx = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }
                    for col, (lo, hi) in expected.items():
                        if col not in idx:
                            out.append((int(b), path, f"stats_missing:{col}"))
                            break
                        mins, maxs, ok = [], [], True
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(idx[col]).statistics
                            if st is None or not st.has_min_max:
                                ok = False
                                break
                            mins.append(st.min)
                            maxs.append(st.max)
                        if not ok or not mins:
                            out.append((int(b), path, f"stats_missing:{col}"))
                            break
                        got = json.loads(
                            json.dumps([norm(min(mins)), norm(max(maxs))])
                        )
                        if got != [lo, hi]:
                            out.append((int(b), path, f"stats_mismatch:{col}"))
                            break
                yield pd.DataFrame(
                    out, columns=["bucket", "path", "reason"]
                )

        files_df = literal_frame(
            self.spark, rows, "bucket int, path string, stats_json string"
        )
        n_part = max(1, min(len(rows), self.spark.sparkContext.defaultParallelism))
        damaged_rows = (
            files_df.repartition(n_part)
            .mapInPandas(_check, "bucket int, path string, reason string")
            .collect()
        )
        damaged = [
            {"bucket": r["bucket"], "path": r["path"], "reason": r["reason"]}
            for r in damaged_rows
        ]
        return {
            "files_checked": len(rows),
            "damaged": damaged,
            "damaged_buckets": sorted({d["bucket"] for d in damaged}),
        }

    def repair_buckets(
        self,
        log_df: DataFrame,
        buckets: Sequence[int],
        transform=None,
        patch_source: bool = False,
        exclude_keys: Sequence | None = None,
    ) -> CommitInfo:
        """Re-derive DAMAGED buckets from the archived change log.

        The disaster-recovery path: when storage loses or corrupts the
        files of specific buckets (found by :meth:`verify_files`), the
        table is re-derivable from the log — but replaying all 10^10
        events to fix one bucket of 2^13 is not an option at scale.
        This replays ONLY the damaged buckets' slice of the log:

        - a ``pmod(xxhash64(key), n_buckets) IN (...)`` filter selects
          the events whose keys hash into the damaged buckets — a
          narrow JVM predicate evaluated in the log scan, so the log
          is touched once and (if the archive is itself bucketed by
          the same function) prunes to the damaged shards' files;
        - an lsn predicate rebuilt from the exactly-once ledger keeps
          ONLY events the table had actually applied — an unapplied
          tail (a torn transaction held back, a crash before commit)
          must not leak into the repaired bucket ahead of the others;
        - the same LWW fold / transform / tombstone finalization the
          merge path uses reproduces byte-identical visible state, and
          the commit swaps in exactly the damaged buckets' file lists
          (operation ``repair``; ledger untouched, every other
          bucket's files carried by reference).

        Semantics notes (none silent):

        - ``transform`` must be the same deterministic per-row mapping
          the original merges applied (anonymization is part of the
          stored state; repair re-applies it to the winning events).
        - ``patch_source=True``: the log carries partial images
          (op='patch'); the fold is ``patch_fold`` over the full
          replayed history, which is exactly the read-time MoR fold.
        - Purge interplay: :meth:`purge_keys` erases subjects from the
          TABLE; the archived log still holds them, so a repair would
          resurrect purged keys. Pass ``exclude_keys`` (the purged key
          values) to withhold them — the residual obligation is the
          log archive's own retention, outside this table's scope.
        - Repair folds the bucket to full images (base files only) —
          valid beside other buckets' MoR deltas, since the read path
          resolves each bucket independently.
        - Tombstones the log still proves are re-materialized even if
          a prior compaction had expired them elsewhere; visible state
          (``read()``) is identical either way.
        """
        m = self.manifest(refresh=True)
        buckets = sorted({int(b) for b in buckets})
        if not buckets:
            raise ValueError("repair_buckets needs at least one bucket id")
        nb = m["bucket_count"]
        bad = [b for b in buckets if not (0 <= b < nb)]
        if bad:
            raise ValueError(f"bucket ids {bad} out of range [0, {nb})")
        key_cols = m["key_cols"]
        cur = self.current_schema(m)
        ranges = [(lo, hi) for (lo, hi, _sid, _n) in self.applied_ranges()]
        new_sid = self._next_snapshot_id()

        entries: dict[str, list[dict]] = {}
        if ranges:
            src = log_df.filter(
                bucket_expr(key_cols[0], nb).isin([int(b) for b in buckets])
            )
            if len(ranges) <= 512:
                applied_pred = None
                for lo, hi in ranges:
                    arm = (F.col("lsn") >= int(lo)) & (F.col("lsn") <= int(hi))
                    applied_pred = arm if applied_pred is None else (applied_pred | arm)
                src = src.filter(applied_pred)
            else:
                rng = literal_frame(
                    self.spark,
                    [(int(lo), int(hi)) for lo, hi in ranges],
                    "_lo long, _hi long",
                )
                src = src.join(
                    F.broadcast(rng),
                    (F.col("lsn") >= F.col("_lo")) & (F.col("lsn") <= F.col("_hi")),
                ).drop("_lo", "_hi")
            if exclude_keys:
                src = src.filter(~F.col(key_cols[0]).isin(list(exclude_keys)))
            src = src.withColumn(_BUCKET_COL, bucket_expr(key_cols[0], nb))
            s_side = self._source_side(src, cur, patch_ops=patch_source)
            if patch_source:
                if transform is not None:
                    # per raw event, BEFORE the fold — mirrors merge_cdc's
                    # patch path (a post-fold transform would re-transform
                    # columns a patch left untouched)
                    s_side = transform(s_side)
                value_cols = [
                    c for c in (f.name for f in cur.fields)
                    if c not in key_cols and c != "ts"
                ]
                won = patch_fold(
                    s_side, key_cols, ["ts", _LSN_COL], value_cols
                )
            else:
                won = lww_dedup(s_side, key_cols, ["ts", _LSN_COL])
                if transform is not None:
                    won = transform(won)
            out = self._finalize_rows(won, cur, key_cols)
            written = self._write_buckets(
                bucket_routed(out, buckets, 256, bucket_col=_BUCKET_COL),
                f"commit-{new_sid}",
            )
            # rebuilt from the log through the CURRENT transform
            entries = self._file_entries(
                m, new_sid, written, int(m.get("transform_version", 0))
            )
        bucket_counts = _bucket_rows(entries)
        n_out = sum(bucket_counts.values())
        committed, _ = self._replace_buckets(
            m, new_sid, entries, buckets,
            {"operation": "repair", "buckets": len(buckets),
             "rows_rederived": n_out},
        )
        if bucket_counts:
            self._write_lineage(bucket_counts, committed["snapshot_id"], None)
        return CommitInfo(committed["snapshot_id"], n_out, len(buckets), None)

    def expire_rows(
        self,
        before,
        on_conflict: str = "fail",
    ) -> dict:
        """Data retention at 100 TB: drop every row whose ts is older
        than ``before`` — METADATA-ONLY wherever the zone maps allow.

        Per bucket, each file entry is classified by its recorded
        [min, max] of the primary LWW order column (``order_cols[0]``,
        typically ts):

        - wholly old (max < cutoff) → dropped from the manifest; no
          byte is read. Sound in COW (keys unique table-wide) AND in
          MoR buckets: a dropped file's row either loses LWW to a row
          in a kept file (whose ts ≥ cutoff) or is itself the winner
          with ts < cutoff — exactly what retention removes (same
          argument as the read path's lower-bound prune,
          ``_prune_by_stats``);
        - wholly new (min ≥ cutoff) → untouched;
        - straddling / stats-less → that FILE alone is rewritten with a
          raw row filter ``ts >= cutoff`` (kind preserved, no fold —
          "keep every row above the cutoff" IS retention under LWW:
          winners below die, winners above survive, kept losers still
          lose at read time);
        - any raw-PATCH delta in the bucket (a patch below the cutoff
          can own a COLUMN of a winner folded above it) → the whole
          bucket falls back to the fold-and-filter rewrite via
          ``compact(expire_rows_before=…)``.

        Cluster the table by time first (``compact(zorder_cols=['ts'],
        max_records_per_file=…)`` or natural arrival order in MoR
        deltas) and the overwhelming majority of expired data drops
        without reading a byte — the Iceberg drop-partition analog for
        a table bucketed by key, powered by per-file zone maps instead
        of a time partition column.

        Same contract as ``compact(expire_rows_before)``: pick a cutoff
        older than the source's max out-of-orderness (an expired
        tombstone can no longer suppress a same-key event older than
        the cutoff), and run ``expire_snapshots`` to physically delete
        the dropped files. Returns a report dict; commits up to two
        snapshots (operation ``retention`` for the metadata drop, plus
        the rewrite's ``compact``)."""
        m = self.manifest(refresh=True)
        ts_col = m["order_cols"][0]
        nb = m["bucket_count"]
        cutoff = self._norm_stat(before)

        drop_entries: dict[str, list[dict]] = {}     # metadata-only
        straddlers: dict[str, list[dict]] = {}       # per-FILE row filter
        fallback_buckets: list[int] = []             # patch fold needed
        for b, entries in m["files"].items():
            has_patch = any(e.get("patches") for e in entries)
            old, straddle = [], []
            for e in entries:
                rng = (e.get("stats") or {}).get(ts_col)
                if not rng:
                    straddle.append(e)
                    continue
                try:
                    if rng[1] < cutoff:
                        old.append(e)
                    elif rng[0] >= cutoff:
                        continue  # wholly new: untouched
                    else:
                        straddle.append(e)
                except TypeError:
                    straddle.append(e)
            if not old and not straddle:
                continue  # nothing in this bucket predates the cutoff
            if has_patch:
                # a sub-cutoff patch can own a COLUMN of a winner folded
                # above the cutoff: only the full fold knows what dies
                fallback_buckets.append(int(b))
            else:
                if old:
                    drop_entries[b] = old
                if straddle:
                    straddlers[b] = straddle

        report = {
            "cutoff": cutoff,
            "files_dropped_meta": sum(len(v) for v in drop_entries.values()),
            "files_rewritten": sum(len(v) for v in straddlers.values()),
            "buckets_rewritten": len(fallback_buckets),
            "snapshot_ids": [],
        }

        # per-file straddler rewrite: RAW row filter (no fold, kind
        # preserved). "Keep every row with ts >= cutoff" IS retention
        # under LWW: a winner below the cutoff dies, a winner above
        # survives, and a kept loser still loses at read time — so
        # filtering file-locally equals fold-then-filter. One write job
        # per storage-schema/kind group, never the whole bucket.
        rewritten_entries: dict[str, list[dict]] = {}
        new_sid = self._next_snapshot_id()
        groups: dict[tuple, dict[str, list[str]]] = {}
        for b, ents in straddlers.items():
            for e in ents:
                k = (e.get("schema_id", m["schema_id"]), e.get("kind"))
                groups.setdefault(k, {}).setdefault(b, []).append(e["path"])
        for (schema_id, kind), by_bucket in sorted(
            groups.items(), key=lambda kv: (kv[0][0], kv[0][1] or "")
        ):
            paths = [p for ps in by_bucket.values() for p in ps]
            df = (
                self.spark.read.schema(
                    self._storage_schema(m["schemas"][str(schema_id)])
                )
                .parquet(*paths)
                .filter(F.col(ts_col) >= _ts_instant_lit(before))
                .withColumn(_BUCKET_COL, bucket_expr(m["key_cols"][0], nb))
            )
            written = self._write_buckets(
                bucket_routed(df, by_bucket, 256, bucket_col=_BUCKET_COL),
                "retain",
            )
            for b, ents in self._file_entries(
                m, new_sid, written, straddlers, kind=kind, schema_id=schema_id,
            ).items():
                rewritten_entries.setdefault(b, []).extend(ents)

        if drop_entries or straddlers:
            # each touched bucket's new list: the entries neither
            # dropped nor rewritten, then the rewritten files
            own_entries: dict[str, list[dict]] = {}
            for b in sorted(set(drop_entries) | set(straddlers)):
                gone = {e["path"] for e in drop_entries.get(b, ())}
                gone |= {e["path"] for e in straddlers.get(b, ())}
                own_entries[b] = [
                    e for e in m["files"][b] if e["path"] not in gone
                ] + rewritten_entries.get(b, [])
            committed, _ = self._replace_buckets(
                m, new_sid, own_entries, list(own_entries),
                {"operation": "retention",
                 "files_dropped": report["files_dropped_meta"],
                 "files_rewritten": report["files_rewritten"]},
                on_conflict=on_conflict,
            )
            report["snapshot_ids"].append(committed["snapshot_id"])
        if fallback_buckets:
            ci = self.compact(
                buckets=fallback_buckets,
                expire_rows_before=before,
                on_conflict=on_conflict,
            )
            if ci is not None:
                report["snapshot_ids"].append(ci.snapshot_id)
        return report

    def _data_files(self):
        """Every ``.parquet`` path under ``data/``, at any depth — the
        one walk ``expire_snapshots`` and ``vacuum_orphans`` collect
        from. Writers put files at ``data/<prefix>-<id>/_bucket=<k>/``;
        older tables also hold ``expire_rows`` straddler rewrites one
        level deeper (``data/retain-<id>/g<n>/_bucket=<k>/``). Stray
        non-parquet entries, at any level, are skipped."""
        for root, _dirs, files in os.walk(os.path.join(self.path, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    yield os.path.join(root, f)

    @staticmethod
    def _remove_data_file(p: str) -> None:
        """Delete a GC'd data file, and its directory once empty."""
        os.remove(p)
        d = os.path.dirname(p)
        if not os.listdir(d):
            os.rmdir(d)

    def expire_snapshots(self, keep_last: int = 3) -> dict:
        """GC: drop manifests older than the last ``keep_last``
        snapshots and delete data files referenced by NO retained
        snapshot (plus orphans from crashed commits). Time travel
        remains available within the retained window; the ledger lives
        in the current manifest and is unaffected."""
        retained_ids: list[int] = []
        # main anchors a keep_last window; every BRANCH head retains its
        # ENTIRE ancestry chain down to an already-retained snapshot —
        # publish_branch's ancestry walk needs each intermediate
        # manifest, so a keep_last-bounded branch walk would make staged
        # work unpublishable after routine GC
        refs = self.list_branches()
        sid: int | None = refs.pop("main")
        kept = 0
        while sid is not None and kept < keep_last:
            if sid not in retained_ids:
                retained_ids.append(sid)
            kept += 1
            try:
                sid = self.manifest(sid)["parent"]
            except FileNotFoundError:
                break
        for head in refs.values():
            sid = head
            while sid is not None and sid not in retained_ids:
                retained_ids.append(sid)
                try:
                    sid = self.manifest(sid)["parent"]
                except FileNotFoundError:
                    break

        keep_files: set[str] = set()
        keep_sidecars: set[str] = set()
        for rid in retained_ids:
            for entries in self.manifest(rid)["files"].values():
                keep_files.update(e["path"] for e in entries)
                keep_sidecars.update(
                    e["bloom"] for e in entries if e.get("bloom")
                )

        removed_files = 0
        for p in self._data_files():
            if p not in keep_files:
                self._remove_data_file(p)
                removed_files += 1

        # bloom sidecars referenced by no retained snapshot: after a
        # purge this also erases the bits derived from the subjects'
        # keys (a bloom holds md5-derived positions of key values —
        # derived data the erasure should cover)
        removed_sidecars = 0
        bloom_root = os.path.join(self.path, "blooms")
        if os.path.isdir(bloom_root):
            for f in list(os.listdir(bloom_root)):
                rel = os.path.join("blooms", f)
                if f.endswith(".parquet") and rel not in keep_sidecars:
                    os.remove(os.path.join(bloom_root, f))
                    self._bloom_cache.pop(rel, None)
                    removed_sidecars += 1

        removed_manifests = 0
        meta = os.path.join(self.path, "metadata")
        for f in list(os.listdir(meta)):
            if f.startswith("snap-") and f.endswith(".json"):
                mid = int(f[len("snap-"):-len(".json")])
                if mid not in retained_ids:
                    os.remove(os.path.join(meta, f))
                    removed_manifests += 1

        # file-list segments referenced by no retained manifest (raw
        # read: the pointer names, not the resolved lists). Like data-
        # file GC above, assumes no commit is in flight — expiry is a
        # maintenance-window operation.
        keep_segs: set[str] = set()
        for rid in retained_ids:
            keep_segs.update(self._raw_seg_pointers(rid).values())
        removed_segs = 0
        for f in list(os.listdir(meta)):
            if f.startswith("seg-") and f.endswith(".json") and f not in keep_segs:
                os.remove(os.path.join(meta, f))
                self._seg_cache.pop(f, None)
                self._seg_parsed.pop(f, None)
                removed_segs += 1
        return {
            "retained_snapshots": retained_ids,
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
            "removed_bloom_sidecars": removed_sidecars,
            "removed_segments": removed_segs,
        }

    def vacuum_orphans(self, grace_seconds: float = 86400.0) -> dict:
        """Orphan-file GC that is SAFE to run alongside live writers
        (Iceberg ``remove_orphan_files`` / Delta ``VACUUM`` analog):
        delete data files and bloom sidecars referenced by NO snapshot
        currently on disk (any ref, full history — nothing is expired)
        AND whose mtime is older than ``grace_seconds``. The debris it
        collects: a COW merge that crashed between the file write and
        the manifest commit, a ``prepare_delta`` whose ``commit_delta``
        never ran, failed compaction / rescale / purge attempts, and
        files a rebase orphaned.

        ``expire_snapshots`` already removes unreferenced files, but it
        is a maintenance-window operation — it assumes no commit is in
        flight, because a concurrently-prepared (not yet committed)
        delta is indistinguishable from crash debris by reference alone.
        The mtime grace is what makes this variant concurrent-safe:
        an in-flight prepare's files are younger than the grace, and
        ``grace_seconds`` must exceed the writer's maximum
        prepare→commit latency (the same contract as Iceberg's
        ``older_than``, default 1 day). Never expires snapshots, never
        touches the ledger, never removes a referenced file — time
        travel over the full retained history is unaffected.
        """
        import time as _time

        cutoff = _time.time() - float(grace_seconds)
        meta = os.path.join(self.path, "metadata")
        keep_files: set[str] = set()
        keep_sidecars: set[str] = set()
        for f in os.listdir(meta):
            if f.startswith("snap-") and f.endswith(".json"):
                sid = int(f[len("snap-"):-len(".json")])
                for entries in self.manifest(sid)["files"].values():
                    keep_files.update(e["path"] for e in entries)
                    keep_sidecars.update(
                        e["bloom"] for e in entries if e.get("bloom")
                    )

        removed_files = 0
        kept_recent = 0
        for p in self._data_files():
            if p in keep_files:
                continue
            if os.path.getmtime(p) >= cutoff:
                kept_recent += 1
                continue
            self._remove_data_file(p)
            removed_files += 1

        removed_sidecars = 0
        bloom_root = os.path.join(self.path, "blooms")
        if os.path.isdir(bloom_root):
            for f in list(os.listdir(bloom_root)):
                rel = os.path.join("blooms", f)
                p = os.path.join(bloom_root, f)
                if not f.endswith(".parquet") or rel in keep_sidecars:
                    continue
                if os.path.getmtime(p) >= cutoff:
                    kept_recent += 1
                    continue
                os.remove(p)
                self._bloom_cache.pop(rel, None)
                removed_sidecars += 1
        return {
            "removed_files": removed_files,
            "removed_bloom_sidecars": removed_sidecars,
            "kept_recent": kept_recent,
            "referenced_files": len(keep_files),
        }

    # ---------- exactly-once ledger ----------

    @staticmethod
    def _ledger_rows(m: dict) -> list:
        """Compacted spans + live exact rows — the full applied
        history in one uniform [lo, hi, sid, rows] shape."""
        cp = m["checkpoint"]
        return list(cp.get("compacted", [])) + list(cp["applied"])

    def applied_ranges(self) -> list[tuple[int, int, int, int]]:
        return [
            tuple(r) for r in self._ledger_rows(self.manifest(refresh=True))
        ]

    def is_applied(self, lo: int, hi: int) -> bool:
        """Exactly-once probe. EXACT row match against the live ledger
        — never containment: a range is only 'applied' if this exact
        batch committed. Containment is used ONLY over explicitly
        compacted spans (``compact_ledger``), which are built solely
        from non-overlapping rows of a dense sliced history, where
        every event inside the span union provably applied. Ranges
        that are min/max summaries of interleaved batches (the
        streaming file tail) never reach a span — compaction refuses
        overlapping rows — so a small range inside an earlier
        summary's bounds can never be falsely skipped."""
        if lo == hi:
            return True
        cp = self.manifest(refresh=True)["checkpoint"]
        if any(int(r[0]) == lo and int(r[1]) == hi for r in cp["applied"]):
            return True
        return any(
            int(s[0]) <= lo and hi <= int(s[1])
            for s in cp.get("compacted", [])
        )

    def last_applied_lsn(self) -> int | None:
        """High-water of applied REAL-lsn ranges. Synthetic identities
        (file-set epochs, snapshot chunks — lo >= SYNTHETIC_LSN_BASE)
        are not log positions: including them would make a batch
        replay after a streaming-tail epoch fast-forward past the
        whole log."""
        ranges = self.applied_ranges()
        return max(
            (r[1] for r in ranges if int(r[0]) < SYNTHETIC_LSN_BASE),
            default=None,
        )

    def sync_ordinal(self) -> int:
        """A per-table ordinal for derived-table syncs (index epochs,
        multi-table waves): strictly greater than any ordinal a prior
        COMMITTED sync used, stable across crash-replay (an unapplied
        attempt recomputes the same value), and — unlike a ledger-row
        count — immune to ledger compaction and rollback (it is the
        next globally-unique snapshot id). For a fresh table with n
        ledgered commits it equals len(applied_ranges()) + 1, so
        existing tables keep their ordinal sequence."""
        return self._next_snapshot_id()

    def compact_ledger(self, keep_last: int = 512) -> dict:
        """Bound the exactly-once ledger: coalesce every row OLDER than
        the newest ``keep_last`` into touching-merge [lo, hi) spans
        stored under ``checkpoint.compacted`` (the covered union is
        IDENTICAL, so ``is_applied`` answers and repair's applied-lsn
        predicates are unchanged). Refuses — returning ``skipped`` —
        when rows properly overlap (interleaved-batch summaries; see
        the safety gate below). At 10^5+ micro-batch commits the ledger list is
        the one piece of metadata that grows per COMMIT rather than
        per byte of data; without compaction every manifest rewrite
        is O(history). Recent rows keep their exact boundaries — the
        commit grid ``consistent_watermark`` / strict
        ``snapshot_at_lsn`` pin against — bounded by the same
        retention window that already bounds time travel. Metadata-
        only commit (operation ``ledger_compact``, structural: a
        concurrent rebase refuses and recomputes)."""
        m = self.manifest(refresh=True)
        cp = m["checkpoint"]
        prior = [list(r) for r in cp.get("compacted", [])]
        applied = [list(r) for r in cp["applied"]]
        total = len(prior) + len(applied)
        if len(applied) <= keep_last:
            return {"rows_before": total, "rows_after": total,
                    "snapshot_id": m["snapshot_id"]}
        old, recent = applied[:-keep_last], applied[-keep_last:]
        # SAFETY GATE: spans answer is_applied by CONTAINMENT, which is
        # sound only for a dense sliced history (every event inside the
        # union provably applied). Rows that properly overlap — min/max
        # summaries of lsn-interleaved batches, e.g. an unordered
        # streaming file tail — must stay exact forever: containment
        # over their union would falsely skip never-applied events.
        cand = sorted(
            [(int(r[0]), int(r[1])) for r in old + prior]
        )
        for (a_lo, a_hi), (b_lo, b_hi) in zip(cand, cand[1:]):
            if b_lo < a_hi and (b_lo, b_hi) != (a_lo, a_hi):
                return {"rows_before": total, "rows_after": total,
                        "snapshot_id": m["snapshot_id"],
                        "skipped": "ledger ranges overlap (interleaved "
                                   "summaries) — exact rows retained"}
        pool = prior + old
        spans = _coalesce_spans((int(r[0]), int(r[1])) for r in pool)
        rows_sum: dict[tuple[int, int], int] = {}
        sid_max: dict[tuple[int, int], int] = {}
        for lo, hi, sid, n in pool:
            for s in spans:
                if s[0] <= lo and hi <= s[1]:
                    rows_sum[s] = rows_sum.get(s, 0) + int(n)
                    sid_max[s] = max(sid_max.get(s, 0), int(sid))
                    break
        squashed = [
            [s[0], s[1], sid_max[s], rows_sum[s]] for s in spans
        ]
        rows_after = len(squashed) + len(recent)
        committed, _ = self._commit_child(
            m,
            {"operation": "ledger_compact", "rows_before": total,
             "rows_after": rows_after},
            checkpoint={"compacted": squashed, "applied": recent},
        )
        return {"rows_before": total, "rows_after": rows_after,
                "snapshot_id": committed["snapshot_id"]}

    # ---------- schema evolution ----------

    def alter_schema(
        self,
        new_schema: T.StructType,
        renames: dict[str, str] | None = None,
    ) -> int:
        """Metadata-only ALTER: add nullable columns, widen int→long /
        float→double, DROP non-key columns, RENAME columns
        (``renames`` maps new_name → old_name). Existing files stay;
        reads align (missing → null, widened → cast, renamed → aliased
        through the rename chain). The reference's analog is the ordered
        DDL diff incl. drops/renames
        (internal/schema-manager/mysql/mysql.go:220-351).

        Without Iceberg field-ids, re-adding a previously dropped or
        renamed-away column name would resurrect stale file data — such
        names are permanently retired (loud error).
        Returns the new snapshot id."""
        m = self.manifest(refresh=True)
        cur = self.current_schema(m)
        renames = dict(renames or {})
        protected = set(m["key_cols"]) | {"ts"}
        retired = set(m.get("retired_cols", []))
        _validate_evolution(cur, new_schema, renames, protected, retired)
        new_schema_id = max(int(k) for k in m["schemas"]) + 1
        cur_names = {f.name for f in cur.fields}
        new_names = {f.name for f in new_schema.fields}
        dropped = cur_names - new_names - set(renames.values())
        committed, _ = self._commit_child(
            m,
            {"operation": "alter_schema"},
            schema_id=new_schema_id,
            schemas={**m["schemas"], str(new_schema_id): new_schema.jsonValue()},
            # cumulative rename chain: current name -> name at write time
            renames={**m.get("renames", {}), **renames},
            retired_cols=sorted(retired | dropped | set(renames.values())),
        )
        return committed["snapshot_id"]

    def delete_where(self, condition) -> CommitInfo:
        """Predicate DML (Delta ``DELETE FROM t WHERE ...`` analog):
        tombstone every live row matching ``condition`` (a Column or
        SQL string over the table's columns) through the SAME merge
        path — one bucket-pruned scan for the matching keys, delete
        events minted at (row ts, row _lsn + 1) so they win LWW over
        exactly the row they saw (a concurrent newer event still wins,
        as it should). Not ledgered: DML is a one-shot command, not a
        replayed log range."""
        return self._dml(condition, None)

    def update_where(self, condition, set_exprs: dict) -> CommitInfo:
        """Predicate DML (Delta ``UPDATE t SET ... WHERE ...`` analog):
        rewrite matching live rows with ``set_exprs`` ({col: Column or
        SQL string}) applied; unset columns keep their values. Same
        merge path and LWW minting as ``delete_where``."""
        if not set_exprs:
            raise ValueError("update_where needs at least one SET column")
        return self._dml(condition, set_exprs)

    def replace_where(self, condition, new_rows: DataFrame) -> CommitInfo:
        """Atomic predicate overwrite (Delta ``replaceWhere`` /
        ``INSERT OVERWRITE`` analog; the reference has no in-place
        backfill — it re-syncs whole tables): ONE commit after which
        the live state is (rows NOT matching ``condition``) ∪
        ``new_rows``. The backfill pattern — reload a corrupted or
        re-derived slice from the source of truth with no window where
        readers see neither old nor new data, and no partial state on
        crash (the manifest commit is the only publish point).

        ``new_rows`` carries the table's full payload columns (keys +
        ``ts`` included). Like Delta, every new row must itself satisfy
        ``condition`` — a row escaping the replaced region would
        silently widen the overwrite; violators raise. LWW continuity:
        keys being replaced re-mint at (old ts ∨ new ts, old _lsn + 2),
        one past the tombstone minted for vanished keys at
        (old ts, old _lsn + 1), so the new image wins over exactly the
        state this command saw while a concurrent genuinely-newer
        event still wins (the ``update_where`` contract). A new image
        whose own ts predates the row it replaces is ordered at the
        replaced row's ts — LWW lakes order by (ts, lsn), so that is
        the only ordering under which the backfill can win; fresh keys
        insert at their own ts. Not ledgered: DML is a one-shot
        command, not a replayed log range."""
        m = self.manifest(refresh=True)
        cur = self.current_schema(m)
        key_cols = m["key_cols"]
        cond = F.expr(condition) if isinstance(condition, str) else condition
        payload = [f.name for f in cur.fields]
        missing = set(payload) - set(new_rows.columns)
        if missing:
            raise ValueError(
                f"replace_where new_rows is missing table columns "
                f"{sorted(missing)}"
            )
        escaped = (
            new_rows.filter(~F.coalesce(cond, F.lit(False))).limit(1).collect()
        )
        if escaped:
            raise ValueError(
                "replace_where: every new row must satisfy the predicate "
                f"(violating row e.g. {tuple(escaped[0])[:4]}); widen the "
                "predicate or drop the row"
            )
        live = self.read(internal=True).filter(
            ~F.coalesce(F.col(_DELETED_COL), F.lit(False))
        )
        # LWW minting joins against ALL live keys (not just matching
        # ones): a new row may share a key with a live row outside the
        # region — the backfill must still beat that image, not
        # silently lose LWW to it
        old_all = live.select(
            *key_cols,
            F.col("ts").alias("_old_ts"),
            F.col(_LSN_COL).alias("_old_lsn"),
        )
        new = new_rows.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in cur.fields]
        )
        upserts = new.join(old_all, on=key_cols, how="left").select(
            *key_cols,
            *[F.col(c) for c in payload if c not in key_cols and c != "ts"],
            F.lit("update").alias("op"),
            F.coalesce(F.col("_old_lsn") + F.lit(2), F.lit(0)).alias("lsn"),
            F.greatest(F.col("_old_ts"), F.col("ts")).alias("ts"),
        )
        # surface the contract widening: new keys colliding with live
        # rows OUTSIDE the region still overwrite (the mint above joins
        # all live keys) — count them so callers can detect it. Counted
        # pre-commit; one semi-join over key columns only.
        stolen = (
            new.select(*key_cols)
            .join(
                live.filter(~F.coalesce(cond, F.lit(False)))
                .select(*key_cols),
                on=key_cols,
                how="left_semi",
            )
            .count()
        )
        deletes = (
            live.filter(cond)
            .select(
                *key_cols,
                F.col("ts").alias("_old_ts"),
                F.col(_LSN_COL).alias("_old_lsn"),
            )
            .join(new.select(*key_cols), on=key_cols, how="left_anti")
            .select(
                *key_cols,
                *[
                    F.lit(None).cast(cur[c].dataType).alias(c)
                    for c in payload
                    if c not in key_cols and c != "ts"
                ],
                F.lit("delete").alias("op"),
                (F.col("_old_lsn") + F.lit(1)).alias("lsn"),
                F.col("_old_ts").alias("ts"),
            )
        )
        info = self.merge_cdc(
            upserts.unionByName(deletes),
            applied_range=None,
            lineage=False,
            debug_assert_unique=True,
        )
        info.keys_stolen_outside_region = stolen
        return info

    def _dml(self, condition, set_exprs: dict | None) -> CommitInfo:
        m = self.manifest(refresh=True)
        cur = self.current_schema(m)
        key_cols = m["key_cols"]
        cond = F.expr(condition) if isinstance(condition, str) else condition
        rows = self.read(internal=True).filter(
            ~F.coalesce(F.col(_DELETED_COL), F.lit(False))
        ).filter(cond)
        payload = [f.name for f in cur.fields if f.name != "ts"]
        if set_exprs is None:
            cols = [
                F.lit(None).cast(cur[c].dataType).alias(c)
                for c in payload
                if c not in key_cols
            ]
            op = F.lit("delete")
        else:
            illegal = set(set_exprs) & {*key_cols, "ts"}
            if illegal:
                raise ValueError(
                    f"update_where cannot SET key/order columns {sorted(illegal)}"
                )
            cols = []
            for c in payload:
                if c in key_cols:
                    continue
                if c in set_exprs:
                    e = set_exprs[c]
                    e = F.expr(e) if isinstance(e, str) else e
                    cols.append(e.cast(cur[c].dataType).alias(c))
                else:
                    cols.append(F.col(c))
            op = F.lit("update")
        batch = rows.select(
            *key_cols,
            *cols,
            op.alias("op"),
            (F.col(_LSN_COL) + F.lit(1)).alias("lsn"),
            F.col("ts"),
        )
        return self.merge_cdc(batch, applied_range=None, lineage=False)

    def files(self, snapshot_id: int | None = None) -> DataFrame:
        """Metadata table (Iceberg ``table.files`` analog): one row per
        data file in the snapshot — bucket, path, kind, schema id,
        patch/bloom flags and recorded zone-map stats as JSON. Driver-
        built from the manifest (no data scan), queryable with the full
        DataFrame API."""
        m = self.manifest(snapshot_id)
        rows = [
            (
                int(b),
                e["path"],
                e.get("kind", "base"),
                int(e["schema_id"]),
                bool(e.get("patches")),
                e.get("bloom"),
                json.dumps(e.get("stats")) if e.get("stats") else None,
            )
            for b, entries in m["files"].items()
            for e in entries
        ]
        schema = (
            "bucket int, path string, kind string, schema_id int, "
            "patches boolean, bloom_sidecar string, stats_json string"
        )
        return literal_frame(self.spark, rows, schema)

    def snapshots(self) -> DataFrame:
        """Metadata table (Iceberg ``table.snapshots`` analog): one row
        per retained snapshot — id, parent, operation, committed_at,
        file/ledger counts. Manifest walk only, no data scan."""
        rows = []
        sid: int | None = self.manifest(refresh=True)["snapshot_id"]
        while sid is not None:
            try:
                m = self.manifest(sid)
            except FileNotFoundError:  # expired beyond retention
                break
            rows.append(
                (
                    int(m["snapshot_id"]),
                    m.get("parent"),
                    (m.get("summary") or {}).get("operation"),
                    float(m["committed_at"]) if m.get("committed_at") else None,
                    sum(len(v) for v in m["files"].values()),
                    len(self._ledger_rows(m)),
                )
            )
            sid = m["parent"]
        return literal_frame(
            self.spark,
            rows,
            "snapshot_id long, parent long, operation string, "
            "committed_at double, n_files long, n_applied_ranges long",
        )

    def export_snapshot(
        self, out_path: str, snapshot_id: int | None = None
    ) -> int:
        """Materialize a snapshot's LIVE rows as a plain parquet
        directory (backup / hand-off to a non-lakehouse consumer).
        Returns the row count written (one extra count job)."""
        df = self.read(snapshot_id)
        df.write.mode("error").parquet(out_path)
        return self.spark.read.parquet(out_path).count()

    def history(self) -> list[dict]:
        out = []
        sid = self.manifest(refresh=True)["snapshot_id"]
        while sid is not None:
            try:
                m = self.manifest(sid)
            except FileNotFoundError:  # expired beyond retention
                break
            out.append(
                {"snapshot_id": m["snapshot_id"], "summary": m.get("summary", {})}
            )
            sid = m["parent"]
        return out


_WIDENINGS = {
    ("integer", "long"),
    ("integer", "double"),
    ("float", "double"),
    ("short", "integer"),
    ("short", "long"),
}


def _validate_evolution(
    cur: T.StructType,
    new: T.StructType,
    renames: dict[str, str] | None = None,
    protected: set[str] | None = None,
    retired: set[str] | None = None,
) -> None:
    renames = renames or {}
    protected = protected or set()
    retired = retired or set()
    cur_by_name = {f.name: f for f in cur.fields}
    new_names = {f.name for f in new.fields}
    for new_name, old_name in renames.items():
        if old_name not in cur_by_name:
            raise ValueError(f"rename source column {old_name!r} does not exist")
        if new_name not in new_names:
            raise ValueError(f"rename target {new_name!r} missing from new schema")
        if old_name in protected:
            raise ValueError(f"cannot rename key/order column {old_name!r}")
        if new_name in retired:
            # A rename target that reuses a dropped/retired name would make
            # _resolve_name read the stale physical column from pre-drop files
            # — same resurrection hazard as re-adding the column directly.
            raise ValueError(
                f"rename target {new_name!r} was dropped/renamed away and is "
                "retired (no Iceberg field-ids: reusing the name would "
                "resurrect stale file data)"
            )
    for f_ in new.fields:
        old = cur_by_name.get(renames.get(f_.name, f_.name))
        if old is None:
            if f_.name in retired:
                raise ValueError(
                    f"column name {f_.name!r} was dropped/renamed away and is "
                    "retired (no Iceberg field-ids: re-adding would resurrect "
                    "stale file data)"
                )
            if not f_.nullable:
                raise ValueError(f"new column {f_.name} must be nullable")
            continue
        if old.dataType == f_.dataType:
            continue
        pair = (old.dataType.typeName(), f_.dataType.typeName())
        if pair not in _WIDENINGS:
            raise ValueError(
                f"illegal type change for {f_.name}: {pair[0]} -> {pair[1]}"
            )
    dropped = set(cur_by_name) - new_names - set(renames.values())
    bad = dropped & protected
    if bad:
        raise ValueError(f"cannot drop key/order columns: {sorted(bad)}")
