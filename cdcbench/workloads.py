"""The three CDC workloads, their inputs, oracle checks and metrics.

Every workload is a closed loop in one process: the next operation
starts when the previous one has returned. All of them drive the engine
through its public API only (``ChangeLogSource``, ``ReplayEngine.replay``,
``SnapshotTable.read``) with the semantic ``EngineConfig`` fields set and
every plan knob left at the engine's default, so a change in how the
engine picks its plan shows up here instead of being pinned by the
benchmark.

- ``tail_uniform``: small CoW micro-batches whose keys are uniform, so
  every commit rewrites every bucket. Per-commit fixed cost dominates.
  Not listed in BENCHMARK.json, whose run budget fits two workloads of
  this length; run it by name for A/B comparisons.
- ``bulk_catchup``: one large CoW commit into an empty table, repeated on
  fresh tables. The table has few buckets for its size, so per-event
  data-plane work dominates; a change that only trims per-commit cost
  should barely move it.
- ``tail_keylocal_rw``: key-local CoW commits into a preloaded table,
  each followed by point reads of the conversations it changed and one
  full scan. Exercises bucket pruning on writes and bloom/zone-map
  pruning on reads, so a write-side gain that costs readers shows.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from neosync_spark.engine import EngineConfig, ReplayEngine
from neosync_spark.functions import transformers as X
from neosync_spark.lakehouse import SnapshotTable, bucket_expr
from neosync_spark.schema import KEY_COLS, transcript_schema
from neosync_spark.sources.changelog import ChangeLogSource
from neosync_spark.synth import (
    SynthConfig,
    events_for_indices,
    expected_final_state,
    generate_pandas,
)

from .stats import STEAL_MAX, highest_supported_percentile, least_disturbed
from .trace import (
    Tracer,
    cpu_ticks,
    dir_bytes,
    dir_files,
    event_log_by_group,
    live_memory_bytes,
    steal_share,
)

N_BUCKETS = 64
# the bulk table's buckets: each task of a commit pays a fixed Python
# worker and file cost, about 3.4 s a commit at 64 buckets against 1.4 s
# at 8 on 4 cores, so at 64 the per-event work would dominate only at
# several million events, more than a run can generate and check
BULK_BUCKETS = 8
CORES = 4
TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# key-local batches give each commit its own turn range above every
# preloaded turn, so a batch appends turns to its active conversations
TURN_STRIDE = SynthConfig.max_turns
LOG_FILE_ROWS = 32_768


@dataclass(frozen=True)
class Scale:
    uniform_events_per_commit: int
    uniform_convs: int
    bulk_events: int
    bulk_convs: int
    keylocal_preload_events: int
    keylocal_convs: int
    keylocal_events_per_commit: int
    keylocal_window_convs: int
    # most buckets one key-local commit may touch (of N_BUCKETS)
    keylocal_bucket_cap: int
    lookups_per_commit: int
    warmup_commits: int
    # reads after each bulk commit, and after the uniform write loop
    read_lookups: int
    read_scans: int


SCALES = {
    "full": Scale(
        uniform_events_per_commit=5_000,
        uniform_convs=20_000,
        bulk_events=600_000,
        bulk_convs=40_000,
        keylocal_preload_events=100_000,
        keylocal_convs=3_000,
        keylocal_events_per_commit=2_000,
        keylocal_window_convs=16,
        keylocal_bucket_cap=4,
        lookups_per_commit=8,
        warmup_commits=2,
        read_lookups=24,
        read_scans=5,
    ),
    # smoke-test size: every code path, seconds of work
    "tiny": Scale(
        uniform_events_per_commit=1_000,
        uniform_convs=2_000,
        bulk_events=5_000,
        bulk_convs=200,
        keylocal_preload_events=5_000,
        keylocal_convs=600,
        keylocal_events_per_commit=200,
        keylocal_window_convs=8,
        keylocal_bucket_cap=4,
        lookups_per_commit=3,
        warmup_commits=1,
        read_lookups=4,
        read_scans=2,
    ),
}


def bench_transforms():
    """The anonymizer mapping of the repository's headline replay."""
    return {
        "text": X.transform_pii_text(seed=42),
        "tool": X.transform_character_scramble(
            seed=42, user_provided_regex='"q":"[^"]*"'
        ),
    }


# ---------------------------------------------------------------- inputs


def conv_buckets(spark, conv_ids, n_buckets: int = N_BUCKETS) -> dict[int, list[str]]:
    """Conversation ids grouped by the table bucket they hash to, using
    the table's own bucket function."""
    df = spark.createDataFrame([(c,) for c in conv_ids], "conv_id string")
    pools: dict[int, list[str]] = {}
    for conv, b in df.select("conv_id", bucket_expr("conv_id", n_buckets)).collect():
        pools.setdefault(int(b), []).append(conv)
    return {b: sorted(v) for b, v in pools.items()}


@dataclass(frozen=True)
class KeyLocalPlan:
    """Key-local change stream: commit ``k`` holds new turns for the
    conversations ``windows[k]``, all of which hash to at most ``cap``
    buckets. Events are a pure function of the log index, like the
    synthetic generator they are built from."""

    lsn0: int
    events_per_commit: int
    windows: np.ndarray  # [commits, window] conversation ids
    seed: int

    @property
    def n_commits(self) -> int:
        return self.windows.shape[0]

    def commit_range(self, k: int) -> tuple[int, int]:
        lo = self.lsn0 + k * self.events_per_commit
        return lo, lo + self.events_per_commit

    def events(self, idx) -> pd.DataFrame:
        idx = np.asarray(idx, dtype=np.int64)
        k = (idx - self.lsn0) // self.events_per_commit
        cfg = SynthConfig(
            n_events=self.lsn0 + self.n_commits * self.events_per_commit,
            n_convs=self.windows.shape[1],
            seed=self.seed,
        )
        ev = events_for_indices(idx, cfg)
        slot = ev["conv_id"].str.slice(5).astype(np.int64).to_numpy()
        ev["conv_id"] = self.windows[k, slot]
        ev["turn_idx"] = (ev["turn_idx"].to_numpy() + TURN_STRIDE * (k + 1)).astype(
            np.int32
        )
        return ev


def keylocal_plan(
    pools: dict[int, list[str]],
    n_commits: int,
    window: int,
    cap: int,
    lsn0: int,
    events_per_commit: int,
    seed: int,
    n_buckets: int = N_BUCKETS,
) -> KeyLocalPlan:
    """Commit ``k`` takes ``window / cap`` conversations from each of
    ``cap`` consecutive buckets; the bucket run rotates by ``cap`` per
    commit from a seeded start, so successive commits cover the table."""
    if window % cap:
        raise ValueError("window must be a multiple of the bucket cap")
    rng = np.random.default_rng(seed)
    start = int(rng.integers(n_buckets))
    windows = np.empty((n_commits, window), dtype=object)
    for k in range(n_commits):
        for j in range(cap):
            pool = pools[(start + k * cap + j) % n_buckets]
            windows[k, j::cap] = rng.choice(pool, size=window // cap, replace=False)
    # its own event stream, not a replay of the preload's (same seed)
    return KeyLocalPlan(lsn0, events_per_commit, windows, seed + 1)


def write_log(events: pd.DataFrame, path: str, name: str) -> None:
    """Write change events as log segment files of ``LOG_FILE_ROWS``
    rows each, in log order, like a WAL: a scan splits into one task per
    file, and a small lsn slice opens only the segments it overlaps.
    Timestamps are stored as UTC instants, which Spark reads back as
    ``timestamp``."""
    table = pa.Table.from_pandas(events, preserve_index=False)
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", table.column(ts).cast(pa.timestamp("us", tz="UTC")))
    os.makedirs(path, exist_ok=True)
    for i, lo in enumerate(range(0, table.num_rows, LOG_FILE_ROWS)):
        pq.write_table(table.slice(lo, LOG_FILE_ROWS),
                       os.path.join(path, f"{name}-{i:05d}.parquet"))


# ---------------------------------------------------------------- oracle


def frames_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> bool:
    def norm(df):
        df = df[TABLE_COLS].copy()
        df["turn_idx"] = df["turn_idx"].astype("int64")
        df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[ns]")
        return df.sort_values(KEY_COLS, kind="mergesort").reset_index(drop=True)

    actual, expected = norm(actual), norm(expected)
    if actual.equals(expected):  # fast, but strict on dtypes
        return True
    try:
        pd.testing.assert_frame_equal(actual, expected, check_dtype=False)
    except AssertionError:
        return False
    return True


class Oracle:
    """Expected table state as the applied lsn high-water advances,
    maintained incrementally: only keys with new events are re-resolved
    (LWW over their whole history, then the same transforms in pandas)."""

    def __init__(self, events: pd.DataFrame, transform):
        self.events = events
        self.transform = transform
        self.hi = 0
        self.state = pd.DataFrame(columns=TABLE_COLS)
        self._rows_of: dict | None = None  # conv_id -> row positions
        self._text_chars: int | None = None

    def advance(self, hi: int) -> None:
        lsn = self.events["lsn"]
        new = self.events[(lsn >= self.hi) & (lsn < hi)]
        first, self.hi = self.hi == 0, hi
        if new.empty:
            return
        self._rows_of = self._text_chars = None
        if first:  # every key is new: no history to join, nothing kept
            self.state = expected_final_state(new, transform=self.transform)
            return
        keys = new[KEY_COLS].drop_duplicates()
        hist = self.events[lsn < hi].merge(keys, on=KEY_COLS)
        alive = expected_final_state(hist, transform=self.transform)
        kept = self.state.merge(keys, on=KEY_COLS, how="left", indicator=True)
        kept = kept[kept["_merge"] == "left_only"].drop(columns="_merge")
        parts = [f for f in (kept, alive) if not f.empty]
        self.state = (pd.concat(parts, ignore_index=True) if parts
                      else pd.DataFrame(columns=TABLE_COLS))

    def rows(self, convs) -> pd.DataFrame:
        if self._rows_of is None:
            self._rows_of = self.state.groupby("conv_id").indices
        pos = [self._rows_of[c] for c in convs if c in self._rows_of]
        return self.state.iloc[np.sort(np.concatenate(pos)) if pos else []]

    def text_chars(self) -> int:
        if self._text_chars is None:
            self._text_chars = int(self.state["text"].str.len().sum())
        return self._text_chars


# ---------------------------------------------------------------- the run


class Run:
    """One workload run: its operations, their timings and failures."""

    def __init__(self, session, traced: bool, work: str, seed: int, scale: Scale,
                 seconds: float, sampler):
        # the session starts in the background while inputs are generated
        self._session = session
        self._spark = None
        self.tracer: Tracer | None = None
        self.traced = traced
        self.sampler = sampler
        self.measure_start: float | None = None
        self.work = work
        self.seed = seed
        self.scale = scale
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.setup: dict[str, float] = {}
        self.commits: list[dict] = []
        self.lookups: list[dict] = []
        self.scans: list[dict] = []
        self.raised = 0  # operations that raised
        self.mismatched = 0  # reads that disagreed with the oracle
        self.shape_errors: list[str] = []
        self.cache_mem_bytes = 0
        self.live_mem_bytes = 0
        self.steal_frac = 0.0  # of CPU time during the measured loop
        self.check_s = 0.0  # the untimed oracle check
        self.probe_spans: dict[str, dict] = {}

    # -- set-up

    @property
    def spark(self):
        if self._spark is None:
            self._spark, self.setup["session.start_s"] = self._session.result()
            self.tracer = Tracer(self._spark, self.traced, self.sampler)
        return self._spark

    def timed_setup(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0
        return out

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def new_table(self, name: str, n_buckets: int = N_BUCKETS) -> SnapshotTable:
        return SnapshotTable.create(
            self.spark, self.path("tables", name), transcript_schema(),
            key_cols=KEY_COLS, n_buckets=n_buckets,
        )

    def engine(self, table: SnapshotTable, batch: int) -> ReplayEngine:
        return ReplayEngine(
            self.spark, table, transforms=bench_transforms(),
            config=EngineConfig(batch_lsn_size=batch, merge_mode="cow", lineage=True),
        )

    # -- timed operations

    def commit(self, eng: ReplayEngine, src, lo: int, hi: int, index: int):
        """One CoW commit of log range [lo, hi). Traced runs tag every
        other commit, the rest measure the tracing overhead."""
        hooked = self.traced and index % 2 == 0
        table = eng.table
        before = self._table_files(table) if hooked else None
        size0 = dir_bytes(table.path)
        rec = {"lo": lo, "hi": hi, "hooked": hooked}
        try:
            with self.tracer.span("merge", hooks=hooked) as span:
                stats = eng.replay(src, lsn_lo=lo, lsn_hi=hi - 1)
        except Exception:
            traceback.print_exc()
            self.raised += 1
            return None
        rec.update(wall_s=span["wall_s"], span=span, batches=stats.batches_applied,
                   buckets_rewritten=sum(c.buckets_rewritten for c in stats.commits),
                   bytes_added=dir_bytes(table.path) - size0)
        if hooked:
            after = self._table_files(table)
            new_data = after["data"] - before["data"]
            rec["files"] = len(new_data)
            rec["output_bytes"] = sum(os.path.getsize(f) for f in new_data)
            rec["metadata_bytes"] = after["metadata_bytes"] - before["metadata_bytes"]
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            self.cache_mem_bytes = max(
                self.cache_mem_bytes, sum(int(i.memSize()) for i in infos)
            )
        self.commits.append(rec)
        return rec

    @staticmethod
    def _table_files(table: SnapshotTable) -> dict:
        return {
            "data": dir_files(os.path.join(table.path, "data"), ".parquet"),
            "metadata_bytes": dir_bytes(os.path.join(table.path, "metadata")),
        }

    def _read(self, layer: str, reads: list, lsn_hi: int, body, fields) -> None:
        """Time one read: ``body()`` returns its frame and collected
        result, ``fields`` turns that result into the record's fields. A
        read the host disturbed (see ``least_disturbed``) is re-taken
        once; both attempts are kept and checked."""
        for _attempt in range(2):
            ticks0 = cpu_ticks()
            try:
                with self.tracer.span(layer) as span:
                    df, out = body()
            except Exception:
                traceback.print_exc()
                self.raised += 1
                return
            rec = {"wall_s": span["wall_s"], "steal": steal_share(ticks0, cpu_ticks()),
                   "span": span, "lsn_hi": lsn_hi, **fields(out)}
            if self.traced:
                rec["files"] = len(df.inputFiles())
            reads.append(rec)
            if rec["steal"] <= STEAL_MAX:
                return

    def lookup(self, table: SnapshotTable, conv: str, lsn_hi: int) -> None:
        def body():
            df = table.read(key_equals={"conv_id": [conv]})
            return df, df.collect()

        self._read("lookup", self.lookups, lsn_hi, body,
                   lambda rows: {"conv": conv, "rows": [r.asDict() for r in rows]})

    def scan(self, table: SnapshotTable, lsn_hi: int) -> None:
        def body():
            df = table.read()
            return df, df.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.length("text")).alias("text_chars"),
            ).collect()[0]

        self._read("scan", self.scans, lsn_hi, body,
                   lambda row: {"rows": int(row["rows"]),
                                "text_chars": int(row["text_chars"] or 0)})

    def warm_reads(self, table: SnapshotTable, convs) -> None:
        """Untimed reads during set-up, so the read path is not cold
        on its first measured call."""
        for conv in convs[:3]:
            table.read(key_equals={"conv_id": [str(conv)]}).collect()
        table.read().agg(F.count(F.lit(1))).collect()

    def read_phase(self, table: SnapshotTable, lsn_hi: int, convs) -> None:
        """Point reads and scans of random conversations, for the
        workloads whose commits do not choose what to read."""
        for conv in self.rng.choice(convs, size=self.scale.read_lookups, replace=False):
            self.lookup(table, str(conv), lsn_hi)
        for _ in range(self.scale.read_scans):
            self.scan(table, lsn_hi)

    def probes(self, eng: ReplayEngine, src, lo: int, hi: int) -> None:
        """Isolated layer probes into the no-op sink, each including the
        layers below it: source scan, + in-batch LWW, + transforms."""
        batch = src.slice(lo, hi)
        stages = {
            "source": lambda: batch,
            "lww": lambda: eng.dedup_batch(batch),
            "transform": lambda: eng.transform_batch(eng.dedup_batch(batch)),
        }
        for name, build in stages.items():
            with self.tracer.span(f"probe.{name}") as span:
                build().write.format("noop").mode("overwrite").save()
            self.probe_spans[name] = span

    def deadline(self) -> float:
        """Start the measured loop: set-up ends here."""
        self.measure_start = time.perf_counter()
        self._ticks0 = cpu_ticks()
        return self.measure_start + self.seconds

    def end_measure(self) -> None:
        """After the measured loop: the host's CPU steal during it, and
        the memory the engine retains."""
        self.steal_frac = steal_share(self._ticks0, cpu_ticks())
        self.live_mem_bytes = live_memory_bytes(
            self.spark, os.environ["NEOSYNC_SPARK_LOCAL_DIR"])


# ---------------------------------------------------------------- workloads


def gen_log(cfg: SynthConfig, path: str) -> pd.DataFrame:
    """The synthetic log for ``cfg``, written once for the engine and
    kept in memory for the oracle (the pandas generator is bit-identical
    to the distributed one)."""
    events = generate_pandas(cfg)
    write_log(events, path, "synth")
    return events


def tail_uniform(run: Run) -> tuple[SnapshotTable, Oracle, int]:
    s = run.scale
    b = s.uniform_events_per_commit
    # room for commits 4x faster than 1/s; the loop ends early otherwise
    n_commits = s.warmup_commits + math.ceil(4 * run.seconds) + 1
    cfg = SynthConfig(n_events=b * n_commits, n_convs=s.uniform_convs, seed=run.seed)
    log = run.path("log")
    events = run.timed_setup("synth.gen_s", lambda: gen_log(cfg, log))
    table = run.new_table("t")
    eng = run.engine(table, b)
    src = ChangeLogSource(run.spark, log)

    def warm():
        for k in range(s.warmup_commits):
            eng.replay(src, lsn_lo=k * b, lsn_hi=(k + 1) * b - 1)
        run.warm_reads(table, events["conv_id"].unique())

    run.timed_setup("warmup_s", warm)
    k, end = s.warmup_commits, run.deadline()
    # at least two commits: a traced run compares a hooked with an unhooked one
    while k < n_commits and (time.perf_counter() < end or len(run.commits) < 2):
        if run.commit(eng, src, k * b, (k + 1) * b, len(run.commits)) is None:
            break
        k += 1
    run.end_measure()
    hi = k * b
    for c in run.commits:
        if c["buckets_rewritten"] != N_BUCKETS:
            run.shape_errors.append(
                f"uniform commit [{c['lo']},{c['hi']}) rewrote "
                f"{c['buckets_rewritten']} of {N_BUCKETS} buckets")
    run.read_phase(table, hi, [f"conv-{i:06d}" for i in range(s.uniform_convs)])
    if run.traced:
        run.probes(eng, src, (k - 1) * b, k * b)
    return table, Oracle(events, eng.pandas_transform), hi


def bulk_catchup(run: Run) -> tuple[SnapshotTable, Oracle, int]:
    s = run.scale
    n = s.bulk_events
    cfg = SynthConfig(n_events=n, n_convs=s.bulk_convs, seed=run.seed)
    log = run.path("log")
    events = run.timed_setup("synth.gen_s", lambda: gen_log(cfg, log))
    src = ChangeLogSource(run.spark, log)

    def warm():
        # a full-size commit: after a smaller one the first measured
        # commit still runs ~1.5x slower than the next
        w = run.engine(run.new_table("warm", BULK_BUCKETS), n)
        w.replay(src, lsn_lo=0, lsn_hi=n - 1)
        run.warm_reads(w.table, events["conv_id"].unique())
        shutil.rmtree(w.table.path)

    run.timed_setup("warmup_s", warm)
    convs = [f"conv-{i:06d}" for i in range(s.bulk_convs)]
    end, table, eng = run.deadline(), None, None
    # at least two commits, so commit_p50_s is not one sample; reads
    # follow each commit, so a short host stall hits few of them
    while time.perf_counter() < end or len(run.commits) < 2:
        if table is not None:
            shutil.rmtree(table.path)
        table = run.new_table(f"bulk{len(run.commits)}", BULK_BUCKETS)
        eng = run.engine(table, n)
        rec = run.commit(eng, src, 0, n, len(run.commits))
        if rec is None:
            break
        if rec["batches"] != 1:
            run.shape_errors.append(f"bulk catch-up made {rec['batches']} commits, not 1")
        run.read_phase(table, n, convs)
    run.end_measure()
    if run.traced:
        run.probes(eng, src, 0, n)
    return table, Oracle(events, eng.pandas_transform), n


def tail_keylocal_rw(run: Run) -> tuple[SnapshotTable, Oracle, int]:
    s = run.scale
    p = s.keylocal_preload_events
    cfg = SynthConfig(n_events=p, n_convs=s.keylocal_convs, seed=run.seed)
    n_commits = s.warmup_commits + math.ceil(4 * run.seconds) + 1
    log = run.path("log")

    preload = run.timed_setup("synth.gen_s", lambda: gen_log(cfg, log))
    convs = [f"conv-{i:06d}" for i in range(s.keylocal_convs)]
    spark = run.spark  # the bucket pools need the session

    def gen_tail():
        plan = keylocal_plan(
            conv_buckets(spark, convs), n_commits, s.keylocal_window_convs,
            s.keylocal_bucket_cap, lsn0=p,
            events_per_commit=s.keylocal_events_per_commit, seed=run.seed,
        )
        tail = plan.events(np.arange(p, plan.commit_range(n_commits - 1)[1]))
        write_log(tail, log, "keylocal")
        return plan, pd.concat([preload, tail], ignore_index=True)

    plan, events = run.timed_setup("synth.gen_s", gen_tail)
    table = run.new_table("t")
    src = ChangeLogSource(run.spark, log)
    run.timed_setup("preload_s", lambda: run.engine(table, p).replay(
        src, lsn_lo=0, lsn_hi=p - 1))
    eng = run.engine(table, s.keylocal_events_per_commit)

    def warm():
        for k in range(s.warmup_commits):
            lo, hi = plan.commit_range(k)
            eng.replay(src, lsn_lo=lo, lsn_hi=hi - 1)
        run.warm_reads(table, plan.windows[0])

    run.timed_setup("warmup_s", warm)
    k, end = s.warmup_commits, run.deadline()
    hi = plan.commit_range(k)[0]
    # at least four commits, so a slow host does not also cut the
    # number of samples each median is taken over
    while k < plan.n_commits and (time.perf_counter() < end or len(run.commits) < 4):
        lo, next_hi = plan.commit_range(k)
        if run.commit(eng, src, lo, next_hi, len(run.commits)) is None:
            break
        hi = next_hi
        for conv in run.rng.choice(plan.windows[k], size=s.lookups_per_commit, replace=False):
            run.lookup(table, str(conv), hi)
        run.scan(table, hi)
        k += 1
    run.end_measure()
    for c in run.commits:
        if c["buckets_rewritten"] > s.keylocal_bucket_cap:
            run.shape_errors.append(
                f"key-local commit [{c['lo']},{c['hi']}) rewrote "
                f"{c['buckets_rewritten']} buckets, over the cap of {s.keylocal_bucket_cap}")
    if run.traced:
        run.probes(eng, src, *plan.commit_range(k - 1))
    return table, Oracle(events, eng.pandas_transform), hi


WORKLOADS = {
    "tail_uniform": tail_uniform,
    "bulk_catchup": bulk_catchup,
    "tail_keylocal_rw": tail_keylocal_rw,
}


# ---------------------------------------------------------------- checks


def check(run: Run, table: SnapshotTable, oracle: Oracle, final_hi: int) -> bool:
    """Untimed: every read against the oracle state at its high-water,
    then the final table. A mismatching read counts as a failed op.
    Also counts each commit's events from the oracle's copy of the log."""
    lsn = oracle.events["lsn"].to_numpy()
    for c in run.commits:
        c["events"] = int(((lsn >= c["lo"]) & (lsn < c["hi"])).sum())
    reads = sorted(run.lookups + run.scans, key=lambda r: r["lsn_hi"])
    for r in reads:
        oracle.advance(r["lsn_hi"])
        if "conv" in r:
            got = pd.DataFrame.from_records(r["rows"], columns=TABLE_COLS)
            ok = frames_equal(got, oracle.rows([r["conv"]]))
        else:
            ok = r["rows"] == len(oracle.state) and r["text_chars"] == oracle.text_chars()
        if not ok:
            print(f"oracle mismatch on read at lsn {r['lsn_hi']}: {r.get('conv', 'scan')}",
                  file=sys.stderr)
            run.mismatched += 1
    oracle.advance(final_hi)
    final_ok = frames_equal(table.read().toPandas(), oracle.state)
    if not final_ok:
        print("oracle mismatch on the final table", file=sys.stderr)
    for e in run.shape_errors:
        print(f"workload shape: {e}", file=sys.stderr)
    return final_ok and not run.shape_errors


# ---------------------------------------------------------------- metrics


def attempted(run: Run) -> int:
    return len(run.commits) + len(run.lookups) + len(run.scans) + run.raised


def failed(run: Run) -> int:
    return run.raised + run.mismatched


def undisturbed(reads: list[dict]) -> list[float]:
    """Latencies of the reads the host did not disturb (see
    ``least_disturbed``). Commits are not filtered: they run seconds on
    every core, so steal slows them only in proportion and averages out."""
    return least_disturbed([r["wall_s"] for r in reads], [r["steal"] for r in reads])


def end_to_end(run: Run, setup_s: float) -> dict[str, tuple[float, str]]:
    walls = [c["wall_s"] for c in run.commits]
    events = sum(c["events"] for c in run.commits)
    look = undisturbed(run.lookups)
    return {
        "events_per_s": (events / sum(walls), "1/s"),
        "commit_p50_s": (np.median(walls), "s"),
        "lookup_p50_s": (np.median(look), "s"),
        "lookup_p90_s": (np.percentile(look, 90), "s"),
        "scan_p50_s": (np.median(undisturbed(run.scans)), "s"),
        # the first two measured commits (every workload makes at least
        # two): under CoW later commits rewrite a larger table, so an
        # average over all would depend on how many ran
        "bytes_written_per_event": (
            sum(c["bytes_added"] for c in run.commits[:2])
            / sum(c["events"] for c in run.commits[:2]), "B"),
        "mem_retained_mb": (run.live_mem_bytes / 2**20, "MB"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(run: Run, log_dir: str, peak_pss_bytes: int) -> dict[str, tuple[float, str]]:
    groups = event_log_by_group(log_dir)
    empty = {"jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0, "gc_s": 0.0,
             "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0,
             "shuffle_write_bytes": 0, "python_bytes": 0, "jobs_covered_s": 0.0}

    def ev(span: dict) -> dict:
        return groups.get(span.get("group"), empty)

    hooked = [c for c in run.commits if c["hooked"]]
    plain = [c for c in run.commits if not c["hooked"]]

    def per_commit(fn) -> float:
        return np.median([fn(c) for c in hooked])

    def per_read(reads, fn) -> float:
        return np.median([fn(r) for r in reads]) if reads else 0.0

    probe = {k: (v, ev(v)) for k, v in run.probe_spans.items()}
    return {
        "session.start_s": (run.setup.get("session.start_s", 0.0), "s"),
        "synth.gen_s": (run.setup.get("synth.gen_s", 0.0), "s"),
        "preload_s": (run.setup.get("preload_s", 0.0), "s"),
        "warmup_s": (run.setup.get("warmup_s", 0.0), "s"),
        "merge.wall_s": (per_commit(lambda c: c["wall_s"]), "s"),
        "merge.driver_cpu_s": (per_commit(lambda c: c["span"]["driver_cpu_s"]), "s"),
        "merge.py4j_calls": (per_commit(lambda c: c["span"]["py4j_calls"]), "count"),
        "merge.jobs": (per_commit(lambda c: ev(c["span"])["jobs"]), "count"),
        "merge.stages": (per_commit(lambda c: ev(c["span"])["stages"]), "count"),
        "merge.tasks": (per_commit(lambda c: ev(c["span"])["tasks"]), "count"),
        "merge.job_gap_s": (
            per_commit(lambda c: c["wall_s"] - ev(c["span"])["jobs_covered_s"]), "s"),
        "merge.task_busy_s": (per_commit(lambda c: ev(c["span"])["task_busy_s"]), "s"),
        "merge.gc_s": (per_commit(lambda c: ev(c["span"])["gc_s"]), "s"),
        "merge.spill_bytes": (per_commit(lambda c: ev(c["span"])["spill_bytes"]), "B"),
        "source.scan_s": (probe["source"][0]["wall_s"], "s"),
        "source.input_bytes": (probe["source"][1]["input_bytes"], "B"),
        "lww.probe_s": (probe["lww"][0]["wall_s"], "s"),
        "lww.shuffle_write_bytes": (probe["lww"][1]["shuffle_write_bytes"], "B"),
        "transform.probe_s": (probe["transform"][0]["wall_s"], "s"),
        "transform.arrow_bytes": (probe["transform"][1]["python_bytes"], "B"),
        "write.output_bytes": (per_commit(lambda c: c["output_bytes"]), "B"),
        "write.files": (per_commit(lambda c: c["files"]), "count"),
        "write.buckets_rewritten": (per_commit(lambda c: c["buckets_rewritten"]), "count"),
        "commit.metadata_bytes": (per_commit(lambda c: c["metadata_bytes"]), "B"),
        "read.lookup_files": (per_read(run.lookups, lambda r: r["files"]), "count"),
        "read.lookup_jobs": (per_read(run.lookups, lambda r: ev(r["span"])["jobs"]), "count"),
        "read.lookup_py4j_calls": (
            per_read(run.lookups, lambda r: r["span"]["py4j_calls"]), "count"),
        "read.scan_files": (per_read(run.scans, lambda r: r["files"]), "count"),
        "read.scan_task_busy_s": (
            per_read(run.scans, lambda r: ev(r["span"])["task_busy_s"]), "s"),
        "cache.mem_bytes": (run.cache_mem_bytes, "B"),
        "mem.peak_pss_mb": (peak_pss_bytes / 2**20, "MB"),
        # hooked minus unhooked commits of this run: the cost of the job
        # groups, py4j counting and memory sampling; the event log is on
        # for both, so its cost is not in this figure
        "trace.overhead_s": (
            np.median([c["wall_s"] for c in hooked]) - np.median([c["wall_s"] for c in plain]),
            "s"),
    }


def summary(run: Run, correct: bool) -> str:
    """One human-readable line: sample counts, failure share, verdict,
    and the host's CPU steal, which slows every timing when it is high."""
    n_look = len(run.lookups)
    tail = highest_supported_percentile(len(undisturbed(run.lookups)))
    setup = " ".join(f"{k}={v:.2f}" for k, v in run.setup.items())
    calm = sum(r["steal"] <= STEAL_MAX for r in run.lookups + run.scans)
    return (
        f"# {setup} check_s={run.check_s:.2f} commits={len(run.commits)} lookups={n_look} scans={len(run.scans)} "
        f"reads_undisturbed={calm} "
        f"failed={failed(run)} failed_ops_frac={failed(run) / attempted(run):.4f} "
        f"lookup_tail_percentile_supported={tail} host_steal={run.steal_frac:.3f} "
        f"oracle={'pass' if correct else 'FAIL'}"
    )
