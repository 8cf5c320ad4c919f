"""ReplayEngine — the micro-batch driver loop.

The Spark-first re-conception of the reference's table-sync workflow
(/root/reference/worker/pkg/workflows/tablesync/workflow/workflow.go:67-111:
activity loop over continuation tokens): each iteration reads one lsn
slice of the change log, LWW-dedups it (partial-agg, skew-proof),
anonymizes payload columns with the vectorized transformer UDFs, and
MERGEs it into the SnapshotTable; the applied range + snapshot id
commit atomically in the manifest ledger, so a crash/restart resumes
exactly-once (reference analog: continuation-token.go:27-52 resume +
retry⇒DO-NOTHING idempotence, output_sql_insert.go:189-191).

Batch ranges are fixed-size lsn windows anchored at the log's min lsn —
deterministic across restarts, so the ledger's exact range matching is
sound. Events inside a batch need no ordering (LWW is order-free) and
batches may arrive with late timestamps (tombstones make cross-batch
LWW globally correct).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.transformers import TransformFn, as_udf, key_col
from .lakehouse import CommitInfo, SnapshotTable
from .operators.dedup import lww_dedup
from .operators.skew import salted_repartition
from .operators.txn import txn_safe_boundary
from .schema import KEY_COLS
from .schema_registry import SchemaRegistry, ensure_table_schema
from .sources.changelog import ChangeLogSource


@dataclass
class EngineConfig:
    batch_lsn_size: int = 500_000
    salt_partitions: int | None = None  # pre-transform fan-out; None = skip
    salt_buckets: int = 8
    lineage: bool = True
    # 'cow' = north-rule copy-on-write MERGE commits;
    # 'mor' = merge-on-read delta commits (O(batch) write amplification,
    # LWW at read/compaction) for high-frequency tailing
    merge_mode: str = "cow"
    # under 'mor': compact buckets whose delta-file count exceeds this
    # (checked after each batch); None disables auto-compaction
    compact_deltas_over: int | None = 8
    # False: skip the per-batch bucket-stats pre-pass (one fewer scan) —
    # right when batch keys hit most buckets anyway (uniform keys);
    # keep True for key-local update streams so merges stay bucket-pruned.
    # COW only: MoR never runs the pre-pass
    prune_buckets: bool = True
    # quarantine poison rows (bad op / null key / null lsn) to
    # <table>/metadata/quarantine instead of failing the batch — the
    # analog of the reference's row-by-row retry skipping violations
    # (output_sql_insert.go:310-348) and error-output escape hatch
    quarantine: bool = False
    # chain the persisted post-commit state into the next merge as its
    # target (skips re-scanning the table's parquet every micro-batch).
    # Requires cow + prune_buckets=False (the chained state must cover
    # the whole table); invalidated automatically on schema evolution.
    # Memory: holds one table-copy in executor cache — right when the
    # hot working set fits (or spills) per executor.
    chain_state: bool = False
    # row-level FK-violation skip (skip_foreign_key_violations,
    # output_sql_insert.go:310-348): rows whose FK tuple misses the
    # parent key set are quarantined to <table>/metadata/quarantine_fk
    # and counted; the rest of the batch applies normally
    fk_check: "FkCheck | None" = None
    # partial row images: op='patch' sets only non-NULL columns (see
    # merge_cdc patch_ops — COW folds at write, MoR stores raw + folds
    # at read); requires the source slices to be raw event history
    patch_ops: bool = False
    # COW only: align the merge shuffle with the table's bucket layout —
    # ONE exchange on the bucket column serves both the LWW aggregate
    # and the per-bucket write (see merge_cdc bucket_local_merge for
    # the cluster-network rationale). Not the default: in 4 paired local
    # runs it made a 600k-event commit 8% slower and raised key-local
    # tail memory 25%. Keep False for skewed/hot-key sources (the
    # combine collapses duplicates before the wire there)
    bucket_local_merge: bool = False
    # (txn_id_col, txn_total_col): source-transaction-atomic apply for
    # commit-contiguous logs — every micro-batch end is snapped DOWN to
    # a transaction boundary (operators/txn.txn_safe_boundary) so no
    # published snapshot ever contains half a source transaction; a
    # torn transaction at the log tail stays unapplied until its
    # remaining events arrive (ReplayStats.lsn_held_from reports the
    # holdback point). The two columns are stripped before the merge.
    txn_cols: tuple[str, str] | None = None
    # automatic exactly-once-ledger bound: after a batch commits, if
    # the ledger holds more than 2× this many rows, rows older than the
    # newest ``ledger_keep`` coalesce into covered-union-identical spans
    # (SnapshotTable.compact_ledger). Hysteresis makes the amortized
    # cost O(1) per batch; None disables. At 10^10-event micro-batch
    # cadence the ledger is the one metadata piece that grows per
    # COMMIT — without this, every manifest write is O(history).
    ledger_keep: int | None = 4096
    # concurrent-writer policy handed to every commit this engine makes
    # (merge_cdc / commit_delta / auto-compaction): 'fail' = this engine
    # owns the table (single-writer, the reference's model); 'rebase' /
    # 'retry' = share the table with other loaders and maintenance jobs
    # under optimistic concurrency (lakehouse._rebase_manifest). The
    # exactly-once ledger stays correct under races either way — a
    # duplicate applied_range from a concurrent tailer becomes a no-op.
    on_conflict: str = "fail"


@dataclass
class FkCheck:
    """Declarative FK constraint for the engine's skip-violators path.
    ``parent`` holds the valid key set (broadcast by default — pass
    broadcast=None/False for a huge parent, see semijoin_subset)."""

    parent: "DataFrame"
    fk_col: str | tuple[str, ...]
    pk_col: str | tuple[str, ...]
    broadcast: bool | None = True


@dataclass
class ReplayStats:
    batches_applied: int = 0
    batches_skipped: int = 0
    rows_applied: int = 0
    rows_skipped_fk: int = 0
    commits: list[CommitInfo] = field(default_factory=list)
    schema_ops: list[dict] = field(default_factory=list)
    # txn-atomic replay: first LSN of a torn transaction held back at
    # the log tail (None = the log ended on a transaction boundary)
    lsn_held_from: int | None = None


class ReplayEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        transforms: dict[str, TransformFn] | None = None,
        registry: SchemaRegistry | None = None,
        config: EngineConfig | None = None,
        df_transform=None,
        transform_where: dict[str, object] | None = None,
    ):
        self.spark = spark
        self.table = table
        self.transforms = transforms or {}
        # row-scoped transforms (masking-policy analog): column → row
        # predicate (SQL string or Column); the column's transform
        # applies ONLY where the predicate holds, as a single-pass
        # when(pred, mapped).otherwise(col) — e.g. redact user turns
        # while assistant/tool turns pass through. SQL strings keep the
        # pandas oracle path usable (it re-evaluates them via DuckDB).
        self.transform_where = transform_where or {}
        # df-level hook ``(df, only_where=None) -> DataFrame`` applied
        # AFTER the per-column transforms — for transforms that need
        # row context beyond one column (e.g. per-subject crypto-shred
        # encryption joins the key store on conv_id). Must be row-local
        # per key, like column transforms, so merge semantics are
        # unchanged, and leave rows outside ``only_where`` untouched
        # (see effective_transform).
        self.df_transform = df_transform
        self.registry = registry
        self.config = config or EngineConfig()
        self._chained_state: DataFrame | None = None
        self._last_fk_skipped = 0
        self._fk_parent_keys: DataFrame | None = None

    # ---------- stages ----------

    def dedup_batch(self, batch: DataFrame) -> DataFrame:
        """In-batch LWW: one event per (conv_id, turn_idx), max (ts, lsn).
        Partial-agg plan — hot keys collapse map-side (no salting needed
        for the key-grouped stage; see operators/dedup.py)."""
        return lww_dedup(batch, KEY_COLS, ["ts", "lsn"])

    def transform_batch(self, batch: DataFrame, only_where=None) -> DataFrame:
        """Apply the anonymization transforms to payload columns.

        Transformers carrying a ``column_expr`` (deterministic regex /
        string ops) run as JVM Column expressions inside whole-stage
        codegen; only seeded-random transformers pay the Arrow
        round-trip into a pandas UDF. Row-local → safe to
        salt-repartition on conv_id for hot-conversation splitting
        before the (Python-bound) UDF stage.

        ``only_where`` (a boolean Column) asks for a SINGLE-PASS
        conditional apply: ``when(cond, mapped).otherwise(col)``. The
        merge uses it to anonymize only winning source rows without
        splitting the LWW aggregate into two consumers (a split reuses
        the shuffle but re-runs the aggregation per branch — a full
        second pass over the merge state). Codegen short-circuits the
        ``when`` for deterministic JVM exprs, so target rows never pay
        the regex chain. Python-UDF transformers cannot short-circuit
        (``ArrowEvalPython`` is extracted below the projection and
        evaluated eagerly on every row regardless of ``when``) — they
        instead get a NULL-MASKED input: the UDF sees
        ``when(cond, col)`` (NULL where the transform must not run; the
        engine's transformers are NULL-preserving by contract, the same
        property the patch path relies on) and the projection restores
        the original value where ``cond`` is false. The Arrow round
        trip then carries null bitmap entries instead of payloads for
        masked rows, and the LWW aggregate runs once."""
        if not self.transforms:
            return batch
        out = batch
        if self.config.salt_partitions:
            out = salted_repartition(
                out,
                "conv_id",
                self.config.salt_partitions,
                self.config.salt_buckets,
            )
        k = key_col(*KEY_COLS)
        for col, fn in self.transforms.items():
            if col in out.columns:
                expr = getattr(fn, "column_expr", None)
                if expr is not None:
                    mapped = expr(F.col(col))
                elif only_where is not None:
                    # NULL-masked input (see docstring): the eager UDF
                    # runs over every row, but masked rows cross the
                    # Arrow boundary as nulls and come back null; the
                    # only_where projection below restores their value
                    mapped = as_udf(fn)(F.when(only_where, F.col(col)), k)
                else:
                    mapped = as_udf(fn)(F.col(col), k)
                scope = self.transform_where.get(col)
                if scope is not None:
                    pred = F.expr(scope) if isinstance(scope, str) else scope
                    mapped = F.when(
                        F.coalesce(pred, F.lit(False)), mapped
                    ).otherwise(F.col(col))
                if only_where is not None:
                    mapped = F.when(only_where, mapped).otherwise(F.col(col))
                out = out.withColumn(col, mapped)
        return out

    def effective_transform(self, batch: DataFrame, only_where=None) -> DataFrame:
        """Column transforms + the df-level hook, under one
        conditional-apply contract: with ``only_where`` (a boolean
        Column) only the rows where it holds are transformed, in one
        pass, and every other row passes through unchanged — so the
        df-level hook is called as ``df_transform(df, only_where=...)``
        and must honour it (``operators.crypto_shred.encrypt_columns``
        does)."""
        out = self.transform_batch(batch, only_where)
        if self.df_transform is not None:
            out = self.df_transform(out, only_where=only_where)
        return out

    @property
    def _merge_transform(self):
        """What the merge applies to source rows: the column transforms
        plus the df-level hook, or None when neither is set."""
        if self.transforms or self.df_transform:
            return self.effective_transform
        return None

    def pandas_transform(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """The SAME transforms applied in pandas — the oracle path."""
        if not self.transforms:
            return pdf
        out = pdf.copy()
        keys = (
            out["conv_id"].astype(str) + "|" + out["turn_idx"].astype(str)
        )
        for col, fn in self.transforms.items():
            if col in out.columns:
                mapped = fn(out[col], keys)
                scope = self.transform_where.get(col)
                if scope is not None:
                    if not isinstance(scope, str):
                        raise ValueError(
                            "pandas oracle path needs SQL-string "
                            "transform_where predicates"
                        )
                    import duckdb

                    # explicit row-id ordering: a bare SELECT only
                    # preserves frame order under DuckDB's
                    # preserve_insertion_order default — pin alignment
                    # instead of relying on it
                    probe = out.assign(__rid=range(len(out)))
                    mask = (
                        duckdb.query_df(
                            probe, "t",
                            f"SELECT coalesce(({scope}), FALSE) AS m "
                            "FROM t ORDER BY __rid",
                        )
                        .df()["m"]
                        .to_numpy()
                    )
                    mapped = out[col].where(~mask, mapped)
                out[col] = mapped
        return out

    # ---------- driver loop ----------

    def plan_ranges(
        self, lsn_lo: int, lsn_hi: int
    ) -> list[tuple[int, int]]:
        """Fixed-size ranges anchored at lsn_lo (inclusive→exclusive).

        NOTE the windows are NOT clamped to lsn_hi: the last range is
        ``(lo, lo + batch_lsn_size)`` even where that extends past the
        replay bound — range endpoints are LEDGER IDENTITY, and a
        resumed replay must re-derive byte-identical ranges from the
        same (lsn_lo, batch_lsn_size) regardless of how far the log
        had grown when the first attempt ran. Callers doing a partial
        replay (e.g. "first half of the log") must therefore size
        batch_lsn_size to the span they mean to apply, or bound the
        slicer itself — a size larger than the span will pull in
        events past lsn_hi (this bit three gate queries; see
        __spark_entry__._q_debezium_roundtrip)."""
        size = self.config.batch_lsn_size
        out = []
        lo = lsn_lo
        while lo <= lsn_hi:
            out.append((lo, lo + size))
            lo += size
        return out

    def apply_batch(
        self, batch: DataFrame, applied_range: tuple[int, int],
        _src_buckets=None,
    ) -> CommitInfo:
        """Fast path: hand the RAW slice to the merge — in-batch dedup
        folds into the merge's single LWW shuffle and the anonymizers
        run inside it, on winning source rows only. ``_src_buckets`` is
        ``merge_cdc``'s, counting ``batch`` as given; it is dropped when
        quarantine or ``fk_check`` filter the batch."""
        obs = None
        original = batch
        valid = None
        if self.config.quarantine:
            from pyspark.sql import Observation

            # coalesce to False: a NULL op makes isin() three-valued NULL,
            # which both filter(valid) and filter(~valid) would drop —
            # the poison row must land in exactly one side
            ops = ["insert", "update", "delete"]
            if self.config.patch_ops:
                ops.append("patch")  # partial images are valid events here
            cond = F.col("op").isin(ops) & F.col("lsn").isNotNull()
            # key columns come from the table, not the transcript
            # schema — quarantine must work for any destination shape
            for k in self.table.manifest()["key_cols"]:
                cond = cond & F.col(k).isNotNull()
            valid = F.coalesce(cond, F.lit(False))
            obs = Observation()
            batch = batch.observe(
                obs, F.sum((~valid).cast("long")).alias("n_bad")
            ).filter(valid)
        self._last_fk_skipped = 0
        if self.config.fk_check is not None:
            import os as _os

            from .operators.subset import fk_violation_split

            fkc = self.config.fk_check
            if self._fk_parent_keys is None:
                # the parent key set is re-joined every batch: project +
                # distinct + persist it ONCE per replay instead of
                # re-scanning the parent per batch (O(batches) redundant
                # reads). Snapshot semantics: parents appearing MID-
                # replay are not seen until the next replay() call
                # (which re-snapshots; see the unpersist in replay()).
                from .operators.subset import _cols

                self._fk_parent_keys = (
                    fkc.parent.select(*_cols(fkc.pk_col)).distinct().persist()
                )
            batch, skipped = fk_violation_split(
                batch, self._fk_parent_keys, fkc.fk_col, fkc.pk_col,
                fkc.broadcast,
            )
            skipped = skipped.persist()
            n_skip = skipped.count()
            qdir = _os.path.join(
                self.table.path, "metadata", "quarantine_fk",
                f"range={applied_range[0]}_{applied_range[1]}",
            )
            if n_skip:
                # range-keyed OVERWRITE, not append: a crash between
                # this write and the batch commit replays the batch on
                # resume — an append would double-count the violators.
                # (Layout note: tables quarantined by the pre-range
                # flat-append layout need their old part files moved
                # into a range=legacy/ subdir before mixing layouts.)
                (
                    skipped
                    .withColumn("_quarantined_range", F.lit(str(applied_range)))
                    .write.mode("overwrite")
                    .parquet(qdir)
                )
            elif _os.path.isdir(qdir):
                # zero violators on a re-run (e.g. the parent gained the
                # keys between crash and resume): stale rows from the
                # earlier attempt must not survive
                import shutil as _shutil

                _shutil.rmtree(qdir, ignore_errors=True)
            skipped.unpersist()
            self._last_fk_skipped = n_skip
        chaining = (
            self.config.chain_state
            and self.config.merge_mode == "cow"
            and not self.config.prune_buckets
        )
        info = self.table.merge_cdc(
            batch,
            applied_range=applied_range,
            lineage=self.config.lineage,
            mode=self.config.merge_mode,
            transform=self._merge_transform,
            source_is_raw=True,
            prune_buckets=self.config.prune_buckets,
            target_df=self._chained_state if chaining else None,
            chain_state=chaining,
            patch_ops=self.config.patch_ops,
            bucket_local_merge=self.config.bucket_local_merge,
            on_conflict=self.config.on_conflict,
            # counts of the slice as given: quarantine and fk_check filter it
            _src_buckets=_src_buckets if batch is original else None,
        )
        if chaining:
            prev = self._chained_state
            self._chained_state = info.state
            if prev is not None:
                prev.unpersist()
        n_bad = 0
        if obs is not None:
            from .lakehouse import observed_metric

            n_bad = observed_metric(
                obs, "n_bad",
                lambda: original.agg(
                    F.sum((~valid).cast("long"))
                ).collect()[0][0] or 0,
            )
        if obs is not None and n_bad > 0:
            # rare path: persist the poison rows for inspection instead
            # of failing the batch (reference: row-by-row retry skipping
            # violations + error output)
            import os as _os

            # range-keyed overwrite: idempotent under crash-resume
            # replays of the same batch (append would duplicate rows)
            (
                original.filter(~valid)
                .withColumn("_quarantined_range", F.lit(str(applied_range)))
                .write.mode("overwrite")
                .parquet(_os.path.join(
                    self.table.path, "metadata", "quarantine",
                    f"range={applied_range[0]}_{applied_range[1]}",
                ))
            )
        elif obs is not None:
            import os as _os
            import shutil as _shutil

            stale = _os.path.join(
                self.table.path, "metadata", "quarantine",
                f"range={applied_range[0]}_{applied_range[1]}",
            )
            if _os.path.isdir(stale):
                _shutil.rmtree(stale, ignore_errors=True)
        self._maybe_compact_deltas()
        self._maybe_compact_ledger()
        return info

    def _maybe_compact_deltas(self) -> None:
        """MoR auto-compaction: fold every bucket holding more than
        ``compact_deltas_over`` delta files."""
        over = self.config.compact_deltas_over
        if self.config.merge_mode != "mor" or over is None:
            return
        hot = [b for b, n in self.table.delta_file_counts().items() if n > over]
        if hot:
            self.table.compact(buckets=hot, on_conflict=self.config.on_conflict)

    def _maybe_compact_ledger(self) -> None:
        """Amortized ledger bound: compact only past 2× the keep window
        (each compaction roughly halves the row count, so this fires
        once per ~ledger_keep batches — O(1) per batch). A refusal
        (overlapping interleaved-summary ranges, which must stay exact)
        is remembered so an uncompactable ledger isn't rescanned every
        batch."""
        keep = self.config.ledger_keep
        if keep is None or getattr(self, "_ledger_compact_refused", False):
            return
        if len(self.table.applied_ranges()) > 2 * keep:
            out = self.table.compact_ledger(keep_last=keep)
            if out.get("skipped"):
                self._ledger_compact_refused = True

    def replay(
        self,
        source: ChangeLogSource | Callable[[int, int], DataFrame],
        lsn_lo: int | None = None,
        lsn_hi: int | None = None,
        stop_after_batches: int | None = None,
        pipeline_batches: int = 1,
    ) -> ReplayStats:
        """Replay the change log into the table, resuming from the
        ledger. ``stop_after_batches`` models a crash for the resume
        tests (reference: ContinueAsNew after 100 pages,
        worker/internal/cmds/worker/serve/serve.go:385).

        ``pipeline_batches > 1`` (MoR mode only) overlaps the
        data-plane of up to that many micro-batches: delta writes are
        independent across disjoint lsn ranges, so they run as
        concurrent Spark jobs while manifest commits stay strictly
        lsn-ordered — checkpoint cadence at near-bulk throughput."""
        if hasattr(source, "lsn_bounds") and hasattr(source, "slice"):
            # ChangeLogSource or any duck-typed log (e.g. DebeziumLogSource)
            if lsn_lo is None or lsn_hi is None:
                bounds = source.lsn_bounds()
                if bounds is None:
                    return ReplayStats()
                lsn_lo = bounds[0] if lsn_lo is None else lsn_lo
                lsn_hi = bounds[1] if lsn_hi is None else lsn_hi
            slicer = source.slice
            counts = getattr(source, "bucket_counts", None)
        else:
            counts = None
            assert lsn_lo is not None and lsn_hi is not None
            slicer = source

        stats = ReplayStats()
        if self.config.txn_cols is not None:
            if pipeline_batches > 1:
                raise ValueError(
                    "txn-atomic replay plans ranges sequentially "
                    "(boundaries are data-dependent) — pipeline_batches "
                    "must be 1"
                )
            return self._replay_txn_atomic(
                slicer, lsn_lo, lsn_hi, stats, stop_after_batches
            )
        if pipeline_batches > 1:
            return self._replay_pipelined(
                slicer, lsn_lo, lsn_hi, pipeline_batches, stats
            )
        if self._fk_parent_keys is not None:
            # fresh snapshot of the parent key set per replay() call
            self._fk_parent_keys.unpersist()
            self._fk_parent_keys = None
        for lo, hi in self.plan_ranges(lsn_lo, lsn_hi):
            if self.table.is_applied(lo, hi):
                stats.batches_skipped += 1
                continue
            self._ensure_declared_schema(hi - 1, stats)
            info = self.apply_batch(
                slicer(lo, hi), (lo, hi),
                partial(counts, lo, hi) if counts else None,
            )
            stats.batches_applied += 1
            stats.rows_applied += info.rows_written
            stats.rows_skipped_fk += self._last_fk_skipped
            stats.commits.append(info)
            if (
                stop_after_batches is not None
                and stats.batches_applied >= stop_after_batches
            ):
                break
        return stats

    def _ensure_declared_schema(self, lsn: int, stats: ReplayStats) -> None:
        """Evolve the table to the registry version declared for
        ``lsn`` (no-op without a registry), recording the schema ops."""
        if self.registry is None or not self.registry.versions:
            return
        declared = self.registry.version_for_lsn(lsn)
        ops = ensure_table_schema(
            self.table,
            declared.schema,
            self.registry.policy,
            renames=getattr(declared, "rename_map", None),
        )
        stats.schema_ops.extend(ops)
        if ops and self._chained_state is not None:
            # schema changed: the cached state has stale columns
            self._chained_state.unpersist()
            self._chained_state = None

    def _replay_txn_atomic(
        self,
        slicer: Callable[[int, int], DataFrame],
        lsn_lo: int,
        lsn_hi: int,
        stats: ReplayStats,
        stop_after_batches: int | None,
    ) -> ReplayStats:
        """Serial replay whose micro-batch ends snap DOWN to source-
        transaction boundaries (config.txn_cols): no commit ever
        publishes half a transaction. A transaction wider than the
        batch window widens the window by doubling (O(log) probe
        jobs); a torn transaction at the LOG TAIL is held back —
        ``stats.lsn_held_from`` records where — and a later replay()
        picks it up once the log has grown past its commit.

        Ranges are data-dependent but deterministic, so a resumed
        replay re-derives the identical ranges; the ledger fast-forward
        (last_applied_lsn) skips the already-applied prefix without
        re-probing it.
        """
        txn_col, total_col = self.config.txn_cols
        size = self.config.batch_lsn_size
        if self._fk_parent_keys is not None:
            self._fk_parent_keys.unpersist()
            self._fk_parent_keys = None
        lo = lsn_lo
        last = self.table.last_applied_lsn()
        if last is not None and last > lo:
            lo = last
            stats.batches_skipped += 1
        while lo <= lsn_hi:
            hi = lo + size
            batch = slicer(lo, hi)
            safe = txn_safe_boundary(batch, txn_col, total_col)
            while safe is not None and safe <= lo and hi <= lsn_hi:
                # one transaction spans the whole window — widen until
                # its commit fits or the log runs out
                hi = lo + 2 * (hi - lo)
                batch = slicer(lo, hi)
                safe = txn_safe_boundary(batch, txn_col, total_col)
            if safe is not None and safe <= lo:
                # the log ends mid-transaction: hold the tail
                stats.lsn_held_from = safe
                break
            if safe is not None:
                hi = safe
                batch = slicer(lo, hi)  # lsn < safe pushed to the scan
            if self.table.is_applied(lo, hi):
                stats.batches_skipped += 1
                lo = hi
                continue
            self._ensure_declared_schema(hi - 1, stats)
            info = self.apply_batch(batch.drop(txn_col, total_col), (lo, hi))
            stats.batches_applied += 1
            stats.rows_applied += info.rows_written
            stats.rows_skipped_fk += self._last_fk_skipped
            stats.commits.append(info)
            lo = hi
            if (
                stop_after_batches is not None
                and stats.batches_applied >= stop_after_batches
            ):
                break
        return stats

    def _replay_pipelined(
        self,
        slicer: Callable[[int, int], DataFrame],
        lsn_lo: int,
        lsn_hi: int,
        max_inflight: int,
        stats: ReplayStats,
    ) -> ReplayStats:
        """Overlapped MoR replay: up to ``max_inflight`` delta writes in
        flight (concurrent Spark jobs from driver threads), manifests
        committed strictly in lsn order. Crash safety matches the serial
        path: a prepared-but-uncommitted range leaves orphan files and
        is replayed on resume."""
        from concurrent.futures import ThreadPoolExecutor

        if self.config.merge_mode != "mor":
            raise ValueError("pipeline_batches > 1 requires merge_mode='mor'")
        if self.config.quarantine:
            raise ValueError("pipelined replay does not support quarantine yet")
        if self.config.fk_check is not None:
            raise ValueError("pipelined replay does not support fk_check yet")
        if self.registry is not None and self.registry.versions:
            v_lo = self.registry.version_for_lsn(lsn_lo)
            v_hi = self.registry.version_for_lsn(lsn_hi)
            if v_lo.version != v_hi.version:
                raise ValueError(
                    "schema evolves inside the pipelined range — replay "
                    "serially across the evolution point"
                )
            self._ensure_declared_schema(lsn_hi, stats)

        ranges = [
            r for r in self.plan_ranges(lsn_lo, lsn_hi)
            if not self.table.is_applied(*r)
        ]
        stats.batches_skipped = len(self.plan_ranges(lsn_lo, lsn_hi)) - len(ranges)
        merge_transform = self._merge_transform
        transform = None
        if merge_transform is not None:
            # plans are built on the worker threads, and a df-level hook
            # may act while building (crypto-shred mints missing subject
            # keys, a check-then-write on the key store): one at a time
            lock = threading.Lock()

            def transform(df):
                with lock:
                    return merge_transform(df)

        with ThreadPoolExecutor(max_workers=max_inflight) as ex:
            futures = [
                ex.submit(
                    self.table.prepare_delta,
                    slicer(lo, hi),
                    transform,
                    True,
                    self.config.patch_ops,
                )
                for lo, hi in ranges
            ]
            for (lo, hi), fut in zip(ranges, futures):
                written, n_src, schema_token = fut.result()
                info = self.table.commit_delta(
                    written, (lo, hi), n_src, schema_token,
                    lineage=self.config.lineage,
                    on_conflict=self.config.on_conflict,
                )
                stats.batches_applied += 1
                stats.rows_applied += info.rows_written
                stats.commits.append(info)
        self._maybe_compact_deltas()
        self._maybe_compact_ledger()
        return stats

    def requeue_fk_quarantine(self) -> dict:
        """Re-apply rows quarantined by the FK row-skip once the parent
        side has caught up — the deferred half of
        ``skip_foreign_key_violations`` (the reference can only skip;
        a lakehouse can heal).

        Reads every quarantined range (mergeSchema across epochs,
        rename-chain column alignment, exact-duplicate drop — crash
        recovery may leave the same row in two dirs), re-validates
        against the CURRENT parent key set (``config.fk_check``,
        snapshotted+persisted once; no check configured ⇒ all rows are
        taken), merges the now-valid rows through the normal
        transform+LWW path WITHOUT a ledger range (their original
        ranges are already applied; re-applying an identical row is an
        LWW no-op), and leaves only the still-violating rows behind.

        Crash ordering: the surviving backlog is renamed INTO the
        quarantine under a fresh ``range=backlog-*`` name BEFORE the
        merge and before the old dirs are removed — at every
        interruption point each quarantined row exists in at least one
        readable dir, and re-reading it twice is harmless (duplicates
        dropped, merge idempotent). A zero-heal requeue performs no
        merge commit. Invalidates any chained COW state (the cached
        target would be missing the healed rows).
        Returns {"requeued": n, "still_skipped": n}.
        """
        import glob
        import os
        import shutil
        import uuid as _uuid

        from .operators.subset import _cols, fk_violation_split

        qroot = os.path.join(self.table.path, "metadata", "quarantine_fk")
        range_dirs = sorted(glob.glob(os.path.join(qroot, "range=*")))
        # a crash between backlog-write and rename strands rows in the
        # tmp dir — recover them too
        stranded = os.path.join(qroot, "_backlog_tmp")
        if os.path.isdir(stranded):
            range_dirs.append(stranded)
        if not range_dirs:
            return {"requeued": 0, "still_skipped": 0}
        rows = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*range_dirs)
            .drop("_quarantined_range")
            .dropDuplicates()
        )
        # quarantine files carry the column names of their batch's
        # schema epoch — walk the rename chain to the current names
        m = self.table.manifest(refresh=True)
        renames = m.get("renames", {})
        have = set(rows.columns)
        for f_ in self.table.current_schema(m).fields:
            if f_.name not in have:
                src = SnapshotTable._walk_renames(f_.name, have, renames)
                if src is not None:
                    rows = rows.withColumnRenamed(src, f_.name)

        fkc = self.config.fk_check
        keys = None
        try:
            if fkc is not None:
                # snapshot + persist the parent key set once (same
                # rationale as apply_batch): several actions below
                # would otherwise re-scan + re-distinct the parent,
                # and a parent changing on disk mid-requeue could
                # classify a row differently between backlog and merge
                keys = (
                    fkc.parent.select(*_cols(fkc.pk_col)).distinct().persist()
                )
                ok, still = fk_violation_split(
                    rows, keys, fkc.fk_col, fkc.pk_col, fkc.broadcast
                )
            else:
                ok, still = rows, rows.limit(0)
            still = still.persist()
            n_still = still.count()
            n_total = rows.count()

            # survivors become a NEW backlog dir inside the quarantine
            # BEFORE anything is deleted or merged
            if n_still:
                tmp = os.path.join(qroot, "_backlog_tmp")
                still.withColumn(
                    "_quarantined_range", F.lit("requeue_backlog")
                ).write.mode("overwrite").parquet(tmp)
                os.replace(
                    tmp,
                    os.path.join(qroot, f"range=backlog-{_uuid.uuid4().hex[:8]}"),
                )
            still.unpersist()

            n_ok = n_total - n_still
            if n_ok:
                self.table.merge_cdc(
                    ok,
                    applied_range=None,
                    lineage=self.config.lineage,
                    mode=self.config.merge_mode,
                    transform=self._merge_transform,
                    source_is_raw=True,
                    prune_buckets=self.config.prune_buckets,
                    patch_ops=self.config.patch_ops,
                    bucket_local_merge=self.config.bucket_local_merge,
                    on_conflict=self.config.on_conflict,
                )
                if self._chained_state is not None:
                    # the cached COW target predates the healed rows
                    self._chained_state.unpersist()
                    self._chained_state = None
        finally:
            if keys is not None:
                keys.unpersist()
        for d in range_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return {"requeued": n_ok, "still_skipped": n_still}
