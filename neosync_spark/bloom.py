"""Per-file key bloom filters — point-lookup file skipping.

Zone maps (``lakehouse._prune_by_stats``) prune *range* scans, but a
point lookup on a high-cardinality key (``conv_id = 'c-123'``) gets no
help from min/max: random string keys span nearly the full range in
every file. The fix every production table format ships (Iceberg puffin
blooms, Delta bloom indexes, parquet column blooms) is a per-file bloom
filter: "this file definitely does not contain the key" skips the file.

Where this matters at 100 TB: a MoR bucket accumulates a chain of delta
files between compactions. A point lookup must otherwise read *every*
delta in the bucket to resolve LWW; with blooms it opens only the files
that ever touched the key — usually one or two. Crucially this pruning
is **per-file sound even under MoR** when the filtered column is a key
column: LWW groups rows *by key*, so a file that does not contain the
key contributes nothing to that key's winner (unlike value-column
predicates, where a dropped file could hide the true winner and let a
stale row pass the filter — see ``_prune_by_stats``'s soundness note).

Design:
- built at commit time by ONE distributed pass over the *batch's new
  files only* (never the table): group by ``input_file_name`` →
  a numpy bitset per (file, column) in an Arrow-batched
  ``applyInPandas``; only (path, col, m, k, bits) rows — a few KB per
  file — reach the driver.
- stored as one parquet *sidecar per commit* (the puffin analog) under
  ``<table>/blooms/``; the manifest file entry carries only the sidecar
  pointer, so manifests stay small.
- hashing is double-hashing (Kirsch–Mitzenmacher) off two md5 digests
  of the *normalized string* value — pure Python on both the build
  (pandas) and probe (driver) sides, so no JVM-hash parity is needed.
- every writer of data files builds one (``SnapshotTable._file_entries``);
  a file without a bloom entry is simply never pruned, which degrades
  pruning, never correctness.

Reference analog: the reference engine has no table-side file skipping
at all (its reads are SQL pushed to the source database, e.g. keyset
WHERE clauses in worker/pkg/query-builder); this is the lakehouse-side
equivalent a Spark-native engine needs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

BITS_PER_KEY = 10  # ~1% fpp at k=7
NUM_HASHES = 7
MIN_BITS = 1024
# cap per-(file,col) bitsets at 2^27 bits (16 MiB packed): fpp degrades
# gracefully past ~13M distinct keys per file instead of the bitset
# growing without bound — a file that big should be split anyway
MAX_BITS = 1 << 27

SIDECAR_SCHEMA = "path string, col string, m long, k int, bits binary"


def normalize_value(v) -> str:
    """One canonical string per logical value — identical on the build
    (pandas) and probe (driver) sides. Floats are excluded by callers
    (bloom columns are key/string/int columns)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def _base_hashes(s: str) -> tuple[int, int]:
    b = s.encode("utf-8", "replace")
    d1 = int.from_bytes(hashlib.md5(b"bloom1:" + b).digest()[:8], "big")
    d2 = int.from_bytes(hashlib.md5(b"bloom2:" + b).digest()[:8], "big") | 1
    return d1, d2


def bloom_positions(value, m: int, k: int) -> list[int]:
    d1, d2 = _base_hashes(normalize_value(value))
    return [(d1 + i * d2) % m for i in range(k)]


def _size_bits(n_distinct: int) -> int:
    m = MIN_BITS
    target = min(MAX_BITS, max(MIN_BITS, BITS_PER_KEY * max(1, n_distinct)))
    while m < target:
        m <<= 1
    return m


def might_contain(bits: bytes, m: int, k: int, value) -> bool:
    """Probe: False == DEFINITELY absent (the sound prune direction).
    O(k) byte-indexed bit tests — never unpacks the bitset."""
    d1, d2 = _base_hashes(normalize_value(value))
    for i in range(k):
        p = (d1 + i * d2) % m
        if not (bits[p >> 3] & (0x80 >> (p & 7))):
            return False
    return True


def _strip_uri(p: str) -> str:
    from urllib.parse import unquote, urlparse

    if "://" in p or p.startswith("file:"):
        u = urlparse(p)
        return unquote(u.path)
    return p


# adaptive small-commit fast path: below these bounds the sidecar is
# built driver-local with pyarrow (zero Spark jobs, ~ms) — a steady
# micro-batch cadence commits a handful of small files per epoch and
# must not pay a full distributed job's fixed cost each time. Above
# them the distributed path runs (a bulk commit's thousands of files /
# millions of rows must never funnel through the driver).
SMALL_COMMIT_FILES = 16
SMALL_COMMIT_ROWS = 200_000


def _build_sidecar_local(
    metas: list, cols: list[str], sidecar_path: str
) -> set[str]:
    """Driver-local build for a small commit: same hashes, same bitset
    sizing, same parquet sidecar format as the distributed path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows: list[tuple[str, str, int, int, bytes]] = []
    covered: set[str] = set()
    for path, pf in metas:
        n = pf.metadata.num_rows
        if n == 0:
            continue  # distributed path never sees the file either
        names = set(pf.schema_arrow.names)
        have = [c for c in cols if c in names]
        if not have:
            continue
        m = _size_bits(n)
        tbl = pf.read(columns=have)
        for c in have:
            bits = np.zeros(m, dtype=bool)
            vals = tbl.column(c).drop_null().unique().to_pylist()
            for v in vals:
                d1, d2 = _base_hashes(normalize_value(v))
                for i in range(NUM_HASHES):
                    bits[(d1 + i * d2) % m] = True
            rows.append((path, c, m, NUM_HASHES, np.packbits(bits).tobytes()))
        covered.add(path)
    if not rows:
        return set()
    os.makedirs(os.path.dirname(sidecar_path), exist_ok=True)
    table = pa.table(
        {
            "path": [r[0] for r in rows],
            "col": [r[1] for r in rows],
            "m": pa.array([r[2] for r in rows], pa.int64()),
            "k": pa.array([r[3] for r in rows], pa.int32()),
            "bits": pa.array([r[4] for r in rows], pa.binary()),
        }
    )
    tmp = sidecar_path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, sidecar_path)
    return covered


def build_sidecar(
    spark, written: dict[int, list[str]], cols: list[str], sidecar_path: str
) -> set[str]:
    """One distributed pass over the freshly written files → a bloom
    sidecar parquet. Returns the set of data-file paths covered.

    Memory shape: a ``mapInPandas`` pass ACCUMULATES one bitset per
    (file, col) across its task's Arrow batches — executor memory is
    bounded by the bitsets of the files the task reads (a few MB,
    capped at MAX_BITS each), never by a whole file's column values;
    bitsets are sized from the file's footer row count (≥ distinct
    count ⇒ fpp only improves), so partial bitsets from a file split
    across tasks OR-merge exactly. NOTHING row-sized touches the
    driver: footer row counts are read executor-side, partials
    OR-merge in a grouped ``applyInPandas``, and the sidecar itself is
    written by a Spark task — the driver only renames the finished
    file into place (a commit writing thousands of files ships zero
    bitset bytes through the driver)."""
    from pyspark.sql import functions as F

    paths = sorted(p for ps in written.values() for p in ps)
    if not paths:
        return set()
    import pyarrow.parquet as pq

    if len(paths) <= SMALL_COMMIT_FILES:
        # small commit: footer row counts decide; if every file opens
        # and the total stays small, build driver-local (zero jobs)
        metas, total = [], 0
        for p in paths:
            try:
                pf = pq.ParquetFile(p)
            except Exception:
                metas = None
                break
            total += pf.metadata.num_rows
            metas.append((p, pf))
        if metas is not None and total <= SMALL_COMMIT_ROWS:
            return _build_sidecar_local(metas, cols, sidecar_path)

    df = spark.read.parquet(*paths)
    have = [c for c in cols if c in df.columns]
    if not have:
        return set()
    src = df.select(*have).withColumn("_bloom_file", F.input_file_name())

    def gen(batches):
        import pandas as pd
        import pyarrow.parquet as _pq

        # bitset size from the file's FOOTER row count, read executor-
        # side on first sight — deterministic across tasks, so partial
        # bitsets from a file split across tasks OR-merge exactly
        m_cache: dict[str, int] = {}

        def _m_for(path: str) -> int:
            m = m_cache.get(path)
            if m is None:
                try:
                    n = _pq.ParquetFile(path).metadata.num_rows
                except Exception:
                    n = MIN_BITS // BITS_PER_KEY
                m = m_cache[path] = _size_bits(n)
            return m

        acc: dict[tuple[str, str], np.ndarray] = {}
        for pdf in batches:
            for fname, grp in pdf.groupby("_bloom_file"):
                path = _strip_uri(fname)
                m = _m_for(path)
                for col in have:
                    key = (path, col)
                    bits = acc.get(key)
                    if bits is None:
                        bits = acc[key] = np.zeros(m, dtype=bool)
                    for v in grp[col].dropna().unique():
                        d1, d2 = _base_hashes(normalize_value(v))
                        for i in range(NUM_HASHES):
                            bits[(d1 + i * d2) % len(bits)] = True
        if acc:
            yield pd.DataFrame(
                {
                    "path": [p for (p, _c) in acc],
                    "col": [c for (_p, c) in acc],
                    "m": [len(b) for b in acc.values()],
                    "k": [NUM_HASHES] * len(acc),
                    "bits": [np.packbits(b).tobytes() for b in acc.values()],
                }
            )

    # OR-merge partials from tasks that split a file — grouped
    # executor-side, never on the driver
    def _or_merge(pdf):
        import pandas as pd

        acc = None
        for b in pdf["bits"]:
            arr = np.frombuffer(bytes(b), dtype=np.uint8)
            acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
        return pd.DataFrame(
            {
                "path": [pdf["path"].iloc[0]],
                "col": [pdf["col"].iloc[0]],
                "m": [int(pdf["m"].iloc[0])],
                "k": [int(pdf["k"].iloc[0])],
                "bits": [acc.tobytes()],
            }
        )

    merged = (
        src.mapInPandas(gen, schema=SIDECAR_SCHEMA)
        .groupBy("path", "col")
        .applyInPandas(_or_merge, schema=SIDECAR_SCHEMA)
    )
    # single-file sidecar written BY A TASK (repartition(1) keeps the
    # merge parallel and funnels only finished bitsets to the writer);
    # the driver just renames the part file into place
    os.makedirs(os.path.dirname(sidecar_path), exist_ok=True)
    tmp_dir = sidecar_path + ".tmpdir"
    merged.repartition(1).write.mode("overwrite").parquet(tmp_dir)
    import shutil

    part = next(
        (
            f
            for f in os.listdir(tmp_dir)
            if f.endswith(".parquet") and f.startswith("part-")
        ),
        None,
    )
    if part is None:  # no bloomable rows at all
        shutil.rmtree(tmp_dir, ignore_errors=True)
        return set()
    os.replace(os.path.join(tmp_dir, part), sidecar_path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    covered = pq.read_table(sidecar_path, columns=["path"])
    return set(covered["path"].to_pylist())


def load_sidecar(sidecar_path: str) -> dict[str, dict[str, tuple[int, int, bytes]]]:
    """data_path -> {col -> (m, k, bits)}. Driver-side, cached by the
    caller; nested so a per-file probe is a dict hit, not a scan."""
    import pyarrow.parquet as pq

    t = pq.read_table(sidecar_path)
    out: dict[str, dict[str, tuple[int, int, bytes]]] = {}
    for path, col, m, k, bits in zip(
        t["path"].to_pylist(),
        t["col"].to_pylist(),
        t["m"].to_pylist(),
        t["k"].to_pylist(),
        t["bits"].to_pylist(),
    ):
        out.setdefault(path, {})[col] = (int(m), int(k), bits)
    return out
