"""Declarative job spec → compiled engine run — the benthos-builder
analog.

The reference compiles a protobuf Job (source/destination connections +
JobMappings of (schema, table, column, transformer)) into per-table
stream configs (/root/reference/internal/benthos/benthos-builder/
benthos-builder.go:72-155; mappings → mutation processors
builders/processors.go:341-400, transformer dispatch
computeMutationFunction :528-838). Here a JobSpec compiles into a
ReplayEngine: transformer names resolve against the REGISTRY exactly
like user-defined transformer configs dereferenced at plan time
(builders/processors.go:505-526).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from ..engine import EngineConfig, FkCheck, ReplayEngine, ReplayStats
from ..functions.transformers import REGISTRY, TransformFn
from ..lakehouse import SnapshotTable
from ..schema import KEY_COLS, transcript_schema
from ..schema_registry import SchemaRegistry
from ..sources.changelog import ChangeLogSource


@dataclass(frozen=True)
class ColumnMapping:
    """(column, transformer, params) — a JobMapping row."""

    column: str
    transformer: str
    params: dict[str, Any] = field(default_factory=dict)


@dataclass
class JobSpec:
    source_path: str  # change-log parquet dir
    destination_path: str  # SnapshotTable root
    mappings: list[ColumnMapping] = field(default_factory=list)
    seed: int = 42
    batch_lsn_size: int = 500_000
    n_buckets: int = 64
    merge_mode: str = "cow"
    prune_buckets: bool = True
    quarantine: bool = False
    schema_policy: str = "automap"
    # >1 (mor only): overlap that many delta writes as concurrent jobs,
    # manifests still committed in lsn order (see ReplayEngine.replay)
    pipeline_batches: int = 1
    # skip_foreign_key_violations analog: parquet path of the parent
    # key set; batch rows whose FK misses it are quarantined + counted
    fk_parent_path: str | None = None
    fk_col: str = "conv_id"
    fk_ref_col: str = "conv_id"
    # write-audit-publish: commit onto this branch ref instead of main
    # (created at the current main head if absent); publish separately
    branch: str | None = None
    # partial row images: op='patch' sets only non-NULL columns
    # (merge_cdc patch_ops — MoR stores raw + folds at read)
    patch_ops: bool = False
    # per-file bloom sidecars for these columns at table CREATION
    # (point-lookup file skipping; ignored for an existing table)
    bloom_cols: list[str] | None = None
    # "parquet" (raw CDC batch columns) or "debezium" (envelope JSON
    # lines decoded via sources/debezium; malformed messages land in
    # <table>/metadata/quarantine_envelope when quarantine is on)
    source_format: str = "parquet"
    # debezium payload schema as a DDL string; None = the transcript
    # payload columns
    envelope_schema: str | None = None
    # debezium only: widen the payload + destination with columns the
    # wire carries that the declared schema lacks (mid-feed producer
    # adds); ignored when a schema registry is supplied — declared
    # versions stay authoritative
    evolve_payload: bool = False
    # debezium only: rescue rows whose wire token doesn't fit a
    # declared field type (permissive from_json would null the field
    # silently); they land in quarantine_envelope with reason
    # type_conflict:<fields>
    strict_wire_types: bool = False
    # debezium only: Postgres unchanged-TOAST sentinel literal (e.g.
    # sources.debezium.TOAST_PLACEHOLDER). Updates carrying it resolve
    # from the pre-image or demote to op='patch'; requires
    # patch_ops=True (plan-time error otherwise)
    toast_placeholder: str | None = None
    # crypto-shredding at write: encrypt these payload columns with the
    # subject's key from the KeyStore at keystore_path (keys minted for
    # unseen subjects per batch; erasure later = `shred` — key delete,
    # no table rewrite). Applied AFTER column mappings.
    encrypt_cols: list[str] | None = None
    keystore_path: str | None = None
    encrypt_subject_col: str = "conv_id"
    # row-scoped transforms (masking-policy analog): column → SQL row
    # predicate; the column's mapping applies ONLY where the predicate
    # holds (ReplayEngine.transform_where — e.g. redact user turns,
    # pass assistant turns through)
    transform_where: dict[str, str] = field(default_factory=dict)


def resolve_transformer(m: ColumnMapping, seed: int) -> TransformFn:
    """Dereference a transformer name + params from the registry
    (unknown name is a plan-time error, like the reference)."""
    if m.transformer not in REGISTRY:
        raise ValueError(
            f"unknown transformer {m.transformer!r} for column {m.column!r}; "
            f"known: {sorted(REGISTRY)}"
        )
    params = dict(m.params)
    params.setdefault("seed", seed)
    try:
        return REGISTRY[m.transformer](**params)
    except TypeError:
        params.pop("seed", None)  # meta-transformers take no seed
        return REGISTRY[m.transformer](**params)


def compile_job(
    spark: SparkSession, job: JobSpec, registry: SchemaRegistry | None = None
) -> tuple[ReplayEngine, ChangeLogSource]:
    """Plan time: resolve transformers, create/load the destination
    table, wire the engine."""
    transforms = {
        m.column: resolve_transformer(m, job.seed) for m in job.mappings
    }
    if SnapshotTable.exists(job.destination_path):
        table = SnapshotTable.load(spark, job.destination_path)
    else:
        table = SnapshotTable.create(
            spark,
            job.destination_path,
            transcript_schema(),
            key_cols=KEY_COLS,
            n_buckets=job.n_buckets,
            bloom_cols=job.bloom_cols,
        )
    if job.branch:
        import os

        if not os.path.exists(table._hint_path(job.branch)):
            table.create_branch(job.branch)
        table = table.branch(job.branch)
    df_transform = None
    if job.encrypt_cols:
        if not job.keystore_path:
            raise ValueError("encrypt_cols requires keystore_path")
        from ..operators.crypto_shred import KeyStore, encrypt_columns

        store = KeyStore(spark, job.keystore_path)
        subject = job.encrypt_subject_col
        cols = tuple(job.encrypt_cols)

        def df_transform(df, only_where=None):
            # keys are minted only for the rows being encrypted
            minted = df if only_where is None else df.filter(only_where)
            return encrypt_columns(
                df, store.ensure(minted, subject), subject, cols, only_where
            )

    unknown_scopes = set(job.transform_where) - set(transforms)
    if unknown_scopes:
        raise ValueError(
            f"transform_where for columns with no mapping: "
            f"{sorted(unknown_scopes)}"
        )
    engine = ReplayEngine(
        spark,
        table,
        transforms=transforms,
        registry=registry,
        df_transform=df_transform,
        transform_where=dict(job.transform_where),
        config=EngineConfig(
            batch_lsn_size=job.batch_lsn_size,
            merge_mode=job.merge_mode,
            prune_buckets=job.prune_buckets,
            quarantine=job.quarantine,
            patch_ops=job.patch_ops,
            fk_check=(
                FkCheck(
                    spark.read.parquet(job.fk_parent_path),
                    job.fk_col,
                    job.fk_ref_col,
                )
                if job.fk_parent_path
                else None
            ),
        ),
    )
    if job.source_format == "debezium":
        from pyspark.sql import types as T

        from ..sources.debezium import DebeziumLogSource

        if job.envelope_schema:
            payload = T._parse_datatype_string(job.envelope_schema)
        else:
            payload = T.StructType(
                [f for f in transcript_schema().fields if f.name != "ts"]
            )
        if job.toast_placeholder is not None and not job.patch_ops:
            raise ValueError(
                "toast_placeholder demotes unresolved updates to patch "
                "events — set patch_ops=True on the job"
            )
        src = DebeziumLogSource(
            spark, job.source_path, payload,
            evolve_payload=(job.evolve_payload and registry is None),
            strict_types=job.strict_wire_types,
            toast_placeholder=job.toast_placeholder,
        )
        if src.new_fields:
            # wire-schema drift: the feed carries columns the declared
            # payload lacks — evolve the destination additively before
            # any data moves (the SchemaInit-before-sync ordering)
            from ..schema_registry import ensure_table_schema

            declared = T.StructType(
                list(table.current_schema().fields) + src.new_fields
            )
            ensure_table_schema(table, declared)
        if job.quarantine:
            import os

            qdir = os.path.join(
                job.destination_path, "metadata", "quarantine_envelope"
            )
            rs = src.rescue.persist()
            if rs.count():
                rs.write.mode("append").parquet(qdir)
            rs.unpersist()
        return engine, src
    return engine, ChangeLogSource(spark, job.source_path)


def run_job(
    spark: SparkSession, job: JobSpec, registry: SchemaRegistry | None = None
) -> ReplayStats:
    """Execute (or resume) the sync job end-to-end."""
    engine, source = compile_job(spark, job, registry)
    return engine.replay(source, pipeline_batches=job.pipeline_batches)
