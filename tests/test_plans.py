"""Physical-plan guarantees: the properties that make the engine hold
at 100 TB — filter pushdown into the parquet scan, broadcast semijoins,
partial aggregation, no stray sorts in the merge path."""

from __future__ import annotations

import pandas as pd
import pytest

from neosync_spark.sources.changelog import ChangeLogSource
from neosync_spark.synth import SynthConfig, generate_pandas


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "log")
    spark.createDataFrame(generate_pandas(SynthConfig(n_events=2000, n_convs=50))).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsn_slice_pushdown(spark, log_path):
    """The lsn range predicate must reach the parquet scan."""
    df = ChangeLogSource(spark, log_path).slice(100, 200)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(lsn,100)" in plan and "LessThan(lsn,200)" in plan


def test_column_pruning(spark, log_path):
    """Projecting two columns must prune the scan schema."""
    df = ChangeLogSource(spark, log_path).full().select("lsn", "conv_id")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "role" not in read_schema


def test_semijoin_broadcasts(spark):
    from neosync_spark.operators.subset import semijoin_subset

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet").filter(
        "n_name = 'NATION_3'"
    )
    out = semijoin_subset(cust, nat, "c_nationkey", "n_nationkey")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_semijoin_large_root_not_broadcast(spark):
    """broadcast=None lets Catalyst size the selected-key set: a huge
    root selection must plan a shuffled semijoin, not a forced driver
    broadcast (round-2 advice: OOM guard)."""
    from neosync_spark.operators.subset import semijoin_subset

    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    ords = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        out = semijoin_subset(ords, cust, "o_custkey", "c_custkey")
        plan = _plan(out)
        assert "BroadcastHashJoin" not in plan
        assert "LeftSemi" in plan
        # explicit opt-out forbids the hint even for a tiny parent
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        tiny = cust.limit(3)
        forced_off = semijoin_subset(
            ords, tiny, "o_custkey", "c_custkey", broadcast=False
        )
        assert "BroadcastHashJoin" not in _plan(forced_off)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_merge_plan_no_sort(spark, tmp_path, log_path):
    """The COW merge must be agg-based (partial+final), never a global
    sort or window."""
    from neosync_spark.lakehouse import SnapshotTable, bucket_expr, _BUCKET_COL, _LSN_COL
    from neosync_spark.operators.dedup import lww_dedup
    from neosync_spark.schema import KEY_COLS, transcript_schema
    from pyspark.sql import functions as F

    log = ChangeLogSource(spark, log_path).slice(0, 1000)
    s_side = log.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col("lsn").alias(_LSN_COL),
        (F.col("op") == "delete").alias("_del"),
        F.lit(1).alias("_src"),
        bucket_expr("conv_id", 8).alias(_BUCKET_COL),
    )
    won = lww_dedup(s_side, KEY_COLS, ["ts", _LSN_COL, "_src"])
    plan = _plan(won)
    # no window (would shuffle every duplicate of a hot key to one task)
    assert "Window" not in plan
    # partial (map-side) aggregation before the exchange — the skew
    # defense: a hot key collapses per-partition before it shuffles
    assert "partial_max_by" in plan
    # exactly one exchange: in-batch dedup costs a single key shuffle
    assert plan.count("Exchange") == 1


def test_transform_stage_jvm_fast_path(spark):
    """Deterministic transformers stay in codegen: the transform stage
    plan has the regexp chain inside a Project and exactly ONE
    ArrowEvalPython (the seeded scramble) — not one per transformer."""
    import tempfile

    from neosync_spark.engine import EngineConfig, ReplayEngine
    from neosync_spark.functions import transformers as X
    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.operators.dedup import lww_dedup
    from neosync_spark.schema import KEY_COLS, transcript_schema
    import __spark_entry__ as E

    tbl = SnapshotTable.create(
        spark, tempfile.mkdtemp() + "/t", transcript_schema(),
        key_cols=KEY_COLS, n_buckets=4,
    )
    eng = ReplayEngine(
        spark, tbl,
        transforms={
            "text": X.transform_pii_text(seed=42),
            "tool": X.transform_character_scramble(seed=42),
        },
        config=EngineConfig(),
    )
    log = E._derived_log(spark, "/root/testdata/sf0.001")
    won = lww_dedup(log, KEY_COLS, ["ts", "lsn"])
    plan = _plan(eng.transform_batch(won))
    assert plan.count("ArrowEvalPython") >= 1
    # the pii redaction must NOT appear as a python UDF stage: the
    # regexp replacement string is in the plan's Project output
    assert "<EMAIL_ADDRESS>" in plan
    # only the one scramble UDF crosses into python
    assert plan.count("ArrowEvalPython") == 1


def test_simhash_plan_is_pure_jvm(spark):
    """Round-2 simhash has no Python stage: token hash + bit votes are
    built-ins (md5/conv/shift), the whole pipeline codegens."""
    from neosync_spark.operators.similarity import simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(simhash(docs, "text", "doc_id"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "md5" in plan


def test_shingle_projection_boundary_and_prefanout_repartition(spark):
    """Guards the round-3 minhash fix: the tokenizer must be evaluated
    ONCE per doc behind a projection boundary (an inlined tokenizer is
    re-evaluated per transform-lambda element — O(tokens²) per doc),
    and the shingle fan-out must run AFTER the repartition (above the
    Exchange), not on the single input task."""
    from neosync_spark.operators.similarity import shingle_docs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(shingle_docs(docs, "text", "doc_id"))
    # the tokenizer (regexp_replace ... split ... filter) appears once
    assert plan.count("regexp_replace") == 1
    # shingle transform sits ABOVE the exchange in the printed tree
    # (earlier index = later stage): fan-out happens post-shuffle
    assert "Exchange" in plan
    assert plan.index("slice(") < plan.index("Exchange")
    assert plan.index("regexp_replace") > plan.index("Exchange")


def test_dsir_plan_no_python_and_broadcast_dist(spark):
    """DSIR scoring is all JVM (md5 bucketing, log arithmetic) and the
    ≤B-row distribution table joins by BROADCAST — the corpus is never
    shuffled to meet it."""
    from pyspark.sql import functions as F

    from neosync_spark.operators.mixing import dsir_importance

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scored = dsir_importance(
        docs, docs.filter(F.col("source") == "src0"), "text", "doc_id",
        n_buckets=256,
    )
    plan = _plan(scored)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    # map-side combine on the per-(doc,bucket) agg
    assert "partial_count" in plan or "HashAggregate" in plan


def test_duplicate_spans_plan_no_pair_join(spark):
    """Exact-span extraction must stay O(corpus): one hash-agg over
    window hashes, no join of docs against docs (the only joins are
    window→count and span→tokens), no Python anywhere."""
    from neosync_spark.operators.text import duplicate_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(duplicate_spans(docs, "text", "doc_id", k=12))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # fan-out happens after a repartition of the docs
    assert "Exchange" in plan


def test_pq_adc_scan_is_jvm_after_encode(spark):
    """PQ top-k: the only Python stage is the Arrow-batch encode; the
    ADC scoring aggregate and the top-k run JVM-side."""
    import numpy as np

    from neosync_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = np.random.default_rng(7).standard_normal((8, 16, 8))
    q = [0.0] * 64
    plan = _plan(pq_topk(emb, "embedding", "vec_id", q, k=5, codebooks=cb))
    assert plan.count("ArrowEvalPython") == 1  # encode only
    assert "TakeOrderedAndProject" in plan


def test_bm25_postings_filtered_before_shuffle(spark):
    """The query-term filter must sit under the (doc, term) exchange —
    at most |terms| postings lists survive into any shuffle — and the
    df/stats joins must broadcast. Pure JVM throughout."""
    from neosync_spark.operators.text import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bm25_topk(docs, "text", "doc_id", ["merge", "window"], k=5))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the IN (<terms>) filter must sit DIRECTLY above each explode —
    # i.e. applied the moment a token exists, before any exchange sees
    # the fan-out (tree positions across branches aren't comparable,
    # so assert the adjacency, not a global index)
    lines = plan.splitlines()
    filt = [i for i, l in enumerate(lines) if "Filter _t#" in l and "IN (merge,window)" in l]
    assert filt, plan
    for i in filt:
        assert "Generate explode" in lines[i + 1], lines[i : i + 2]


def test_lm_score_model_broadcast_and_partial_agg(spark):
    """Model join broadcasts by default; doc tokens pre-aggregate to
    (doc, token, tf) with map-side combine before the join; no Python."""
    from neosync_spark.operators.lm import lm_cross_entropy, unigram_lm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = unigram_lm(docs.filter("source = 'src0'"))
    plan = _plan(lm_cross_entropy(docs, model))
    assert "BroadcastHashJoin" in plan
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sft_examples_single_conv_shuffle(spark):
    """SFT assembly is one shuffle on the conversation key (the
    collect_list agg); the suffix fit is a JVM fold over the collected
    array — no window over exploded rows, no Python stage."""
    from neosync_spark.operators.conversations import sft_examples

    df = spark.createDataFrame(
        [("c1", 0, "user", "hi"), ("c1", 1, "assistant", "yo")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(sft_examples(df))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lateness_stats_partial_agg_after_window(spark):
    """One conv_id exchange feeds both the high-water-mark window and
    the rollup agg; the final agg still map-side combines."""
    from neosync_spark.operators.sessions import lateness_stats

    df = spark.createDataFrame(
        [("a", 1, "2024-01-01 00:00:10")],
        "conv_id string, lsn long, ts string",
    )
    plan = _plan(lateness_stats(df))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan or "partial_count" in plan


def test_asof_join_single_shuffle_no_nested_loop(spark):
    """The union-merge as-of join must cost ONE key exchange + window —
    never the O(n*m) BroadcastNestedLoopJoin a naive inequality join
    plans."""
    from neosync_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", "2024-01-01 00:00:05", 1)], "k string, ts string, ev int"
    )
    right = spark.createDataFrame(
        [("a", "2024-01-01 00:00:04", "r1")], "k string, ts string, state string"
    )
    plan = _plan(asof_join(left, right, "k"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_column_drift_partial_agg_no_python(spark):
    """Drift histograms: the corpus-sized side collapses in a
    map-side-combined hash aggregate straight above the explode; no
    Python, no window over corpus-sized data (the PSI window runs on
    the |cols|x(B+1) histogram frame only)."""
    from neosync_spark.operators.monitor import column_drift

    df = spark.createDataFrame(
        [(f"r{i % 5}", f"t{i}") for i in range(200)], "a string, b string"
    )
    plan = _plan(column_drift(df, df, ["a", "b"], n_buckets=16))
    assert "EvalPython" not in plan
    # partial aggregation before the exchange on the histogram build
    assert "partial_count" in plan or "HashAggregate" in plan


def test_bloom_point_lookup_opens_single_bucket_files(spark, tmp_path):
    """A point lookup on a bloom-indexed MoR table plans a scan over
    ONLY the pruned file set — the relation's file count equals what
    scan_stats reports, not the table's."""
    from tests.test_bloom import _fill, _mk_bloom

    t = _fill(spark, _mk_bloom(spark, tmp_path / "t"), epochs=4, convs=6)
    full = t.scan_stats()
    pruned = t.scan_stats(key_equals={"conv_id": "c1_2"})
    assert pruned["files_kept"] < full["files_kept"]
    df = t.read(key_equals={"conv_id": "c1_2"})
    plan = _plan(df)
    # the exact key predicate is re-applied on top of the pruned scan
    assert "c1_2" in plan
    assert df.count() == 1


def test_txn_split_broadcasts_torn_set_events_never_shuffle(spark, log_path):
    """txn_complete_split: the torn-txn id list broadcasts back onto the
    event stream (anti/semi joins) — the events themselves must not hash-
    exchange, only the O(#txns) completeness aggregate does."""
    from pyspark.sql import functions as F

    from neosync_spark.operators.txn import txn_complete_split

    log = ChangeLogSource(spark, log_path).full()
    log = log.withColumn("txn_id", (F.col("lsn") / 8).cast("long"))
    log = log.withColumn("txn_total", F.lit(8))
    ok, held = txn_complete_split(log)
    for df, join in ((ok, "LeftAnti"), (held, "LeftSemi")):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan and join in plan
        assert "SortMergeJoin" not in plan
        # exactly one exchange: the completeness groupBy (partial agg
        # collapses events map-side); the probe side reads the scan raw
        assert plan.count("Exchange hashpartitioning") == 1
        assert "HashAggregate" in plan


def test_lsn_gaps_never_globally_sorts_raw_events(spark, log_path):
    """lsn_gaps: the corpus-sized input is reduced by ONE hash agg;
    range sorts appear only over the tiny block table and inside
    loss-suspect blocks — never a rangepartitioning of the raw scan."""
    from pyspark.sql import functions as F

    from neosync_spark.operators.monitor import lsn_gaps

    log = ChangeLogSource(spark, log_path).full().filter(F.col("lsn") % 50 != 7)
    plan = _plan(lsn_gaps(log, block=64))
    # cross-block path: a window over the aggregated block table — its
    # input must be a HashAggregate, not the parquet scan
    assert "HashAggregate" in plan
    # intra-block path: suspect blocks broadcast back, no shuffle join
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the only rangepartitioning allowed is the ORDER BY over block rows
    # (post-aggregate); the raw relation must reach its aggregate via
    # hashpartitioning exchanges only
    for line in plan.splitlines():
        if "Exchange rangepartitioning" in line:
            assert "_blk" in line or "_lsn" not in line


def test_agg_merge_batch_partials_map_side_combined(spark, tmp_path):
    """merge_agg's batch collapse must be a partial hash aggregation
    (map-side combine) with no window and no Python stage — increments
    for a hot conversation fold before the exchange."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.operators.agg_merge import merge_agg

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    t = SnapshotTable.create(
        spark, str(tmp_path / "agg"), schema, key_cols=["conv_id"],
        n_buckets=4,
    )
    batch = spark.range(200).select(
        F.concat(F.lit("c-"), (F.col("id") % 5)).alias("conv_id"),
        F.lit(1).cast("long").alias("n_events"),
        F.col("id").alias("lsn"),
    )
    captured = {}
    orig = t.merge_cdc

    def spy(events, **kw):
        captured["plan"] = events._jdf.queryExecution().executedPlan().toString()
        return orig(events, **kw)

    t.merge_cdc = spy
    merge_agg(t, batch, {"n_events": "sum"}, applied_range=(0, 200))
    plan = captured["plan"]
    assert "partial_sum" in plan or "partial_finalmerge" in plan.lower() or (
        plan.count("HashAggregate") >= 2
    ), plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_join_view_refresh_semi_joins_no_cartesian(spark, tmp_path):
    """The incremental join-view refresh must reach the left table via
    LEFT-SEMI joins (no row duplication) and plan no cartesian/nested-
    loop join anywhere."""
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.operators.join_view import incremental_join_sync
    from neosync_spark.schema import KEY_COLS, transcript_schema
    from .test_join_view import VIEW_SCHEMA, _ev, _project

    left = SnapshotTable.create(
        spark, str(tmp_path / "l"), transcript_schema(),
        key_cols=KEY_COLS, n_buckets=4,
    )
    right = SnapshotTable.create(
        spark, str(tmp_path / "r"), transcript_schema(),
        key_cols=KEY_COLS, n_buckets=4,
    )
    dst = SnapshotTable.create(
        spark, str(tmp_path / "v"), VIEW_SCHEMA, key_cols=KEY_COLS,
        n_buckets=4,
    )
    left.merge_cdc(_ev(spark, [
        ("c-1", 0, "user", "a", None, 1000.0, 1, "insert"),
        ("c-1", 1, "assistant", "b", None, 1001.0, 2, "insert"),
    ]), applied_range=(0, 3), source_is_raw=True)
    right.merge_cdc(_ev(spark, [
        ("c-1", 0, "meta", "dim", None, 1000.0, 1, "insert"),
    ]), applied_range=(0, 2), source_is_raw=True)
    sl0 = left.manifest(refresh=True)["snapshot_id"]
    sr0 = right.manifest(refresh=True)["snapshot_id"]
    incremental_join_sync(left, right, dst, sl0, sr0, project=_project)
    left.merge_cdc(_ev(spark, [
        ("c-1", 0, "user", "a2", None, 2000.0, 9, "update"),
    ]), applied_range=(9, 10), source_is_raw=True)

    captured = {}
    orig = dst.merge_cdc

    def spy(events, **kw):
        captured["plan"] = events._jdf.queryExecution().executedPlan().toString()
        return orig(events, **kw)

    dst.merge_cdc = spy
    incremental_join_sync(
        left, right, dst, left.manifest(refresh=True)["snapshot_id"], sr0,
        from_left=sl0, from_right=sr0, project=_project,
    )
    plan = captured["plan"]
    assert "LeftSemi" in plan, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_mmh3_int_matches_spark_hash(spark):
    """bucket_routed's driver-side murmur3 must equal Spark's `hash()`
    for int32 (the shuffle HashPartitioning function) — a Spark-side
    change here would silently skew the routing."""
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import _mmh3_int

    rows = (
        spark.range(-100, 500)
        .select(
            F.col("id").cast("int").alias("x"),
            F.hash(F.col("id").cast("int")).alias("h"),
        )
        .collect()
    )
    assert all(_mmh3_int(r.x) == r.h for r in rows)


def test_key_buckets_match_spark_xxhash64(spark):
    """read(key_equals=...) and purge_keys hash key values to buckets
    on the driver; that must equal bucket_expr's pmod(xxhash64(v), n)
    for every key type it hashes there — strings of every UTF-8 width
    and of lengths around XXH64's 32-byte stripe, int32 and int64
    extremes."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from neosync_spark.lakehouse import _key_buckets, _xxh64, _xxh64_input

    rnd = random.Random(7)
    chars = ["a", "Z", "0", " ", "é", "ß", "日", "本", "😀", "𝄞"]  # 1-4 B
    strings = [
        "", "a", "conv-42", "é", "日本語", "😀",
        "x" * 31, "x" * 32, "x" * 33, "é" * 16, "y" * 65, "😀" * 20,
    ] + [
        "".join(rnd.choice(chars) for _ in range(rnd.randint(0, 100)))
        for _ in range(300)
    ]
    ints = [0, 1, -1, 42, 2**31 - 1, -(2**31)] + [
        rnd.randint(-(2**31), 2**31 - 1) for _ in range(200)
    ]
    longs = [0, -1, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)] + [
        rnd.randint(-(2**63), 2**63 - 1) for _ in range(200)
    ]
    mods = (7, 64, 8192)
    for dt, vals in (
        (T.StringType(), strings),
        (T.IntegerType(), ints),
        (T.LongType(), longs),
    ):
        field = T.StructField("k", dt)
        rows = (
            spark.createDataFrame([(v,) for v in vals], T.StructType([field]))
            .select(
                "k",
                F.xxhash64("k").alias("h"),
                *[F.pmod(F.xxhash64("k"), F.lit(n)).alias(f"b{n}") for n in mods],
            )
            .collect()
        )
        assert len(rows) == len(vals)
        for r in rows:
            assert _xxh64(_xxh64_input(r.k, dt)) == r.h, (dt, r.k)
            for n in mods:
                assert _key_buckets(spark, field, [r.k], n) == {r[f"b{n}"]}


def _jobs_run(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_plan_without_jobs(spark, tmp_path):
    """Building a read runs no Spark job and a point lookup runs only its
    scan: the manifest's file list (> 32 paths) must not start Spark's
    distributed file listing, and the lookup key must hash to its
    bucket on the driver."""
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), key_cols=KEY_COLS,
        n_buckets=64,
    )
    batch = spark.range(1000).select(
        F.concat(F.lit("c-"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("t-"), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("id").cast("timestamp").alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("insert").alias("op"),
    )
    t.merge_cdc(batch, applied_range=(0, 1000), source_is_raw=True)
    n_files = sum(len(v) for v in t.manifest(refresh=True)["files"].values())
    assert n_files >= 64

    _, jobs = _jobs_run(spark, t.read)
    assert jobs == 0
    rows, jobs = _jobs_run(
        spark, lambda: t.read(key_equals={"conv_id": ["c-7"]}).collect()
    )
    assert [r.text for r in rows] == ["t-7"]
    assert jobs == 1


@pytest.mark.parametrize("quarantine, want_jobs", [(False, 3), (True, 5)])
def test_keylocal_replay_commit_jobs(spark, tmp_path, quarantine, want_jobs):
    """A replay commit of a plain log slice runs only the 3 write jobs:
    the log schema comes from the listing-keyed cache and the bucket
    pre-pass is counted from the segment footers on the driver (6 jobs
    before: + 1 schema inference + 2 pre-pass). A quarantined batch is
    filtered before the merge, so it keeps the 2 pre-pass jobs."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from neosync_spark.engine import EngineConfig, ReplayEngine
    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema

    log = str(tmp_path / "log")
    os.makedirs(log)
    events = pa.Table.from_pandas(
        generate_pandas(SynthConfig(n_events=3000, n_convs=200)),
        preserve_index=False,
    )
    for lo in range(0, 3000, 1000):
        pq.write_table(events.slice(lo, 1000), os.path.join(log, f"seg-{lo:05d}.parquet"))
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), key_cols=KEY_COLS,
        n_buckets=64,
    )
    eng = ReplayEngine(
        spark, t, config=EngineConfig(batch_lsn_size=1000, quarantine=quarantine)
    )
    src = ChangeLogSource(spark, log)
    eng.replay(src, lsn_lo=0, lsn_hi=1999)
    stats, jobs = _jobs_run(spark, lambda: eng.replay(src, lsn_lo=2000, lsn_hi=2999))
    assert stats.batches_applied == 1
    assert jobs == want_jobs


def test_bucket_routed_exact_one_bucket_per_partition(spark):
    """The write shuffle must route each bucket to its own partition:
    no multinomial collisions (2-4x straggler tasks), no empty write
    slots. Hash repartition(64, bucket) leaves ~1/e of 64 slots empty;
    bucket_routed leaves zero."""
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import bucket_routed

    df = spark.range(0, 64_000).withColumn(
        "_bucket", (F.col("id") % 64).cast("int")
    )
    per = (
        bucket_routed(df, range(64), 256)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.countDistinct("_bucket").alias("nb"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert len(per) == 64  # zero empty partitions
    assert max(r.nb for r in per) == 1  # zero collisions
    assert max(r.n for r in per) == min(r.n for r in per)  # exact balance

    # sparse (pruned-commit) bucket sets route exactly too
    aff = [3, 9, 12, 17, 40, 41, 42, 63]
    df2 = spark.range(0, 8_000).withColumn(
        "_bucket",
        F.element_at(
            F.array(*[F.lit(b) for b in aff]),
            (F.col("id") % 8 + 1).cast("int"),
        ).cast("int"),
    )
    per2 = (
        bucket_routed(df2, aff, 256)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct("_bucket").alias("nb"))
        .collect()
    )
    assert len(per2) == 8 and max(r.nb for r in per2) == 1


def test_scd2_sync_single_batch_exchange_no_python(spark, tmp_path):
    """scd2_sync's epoch build: the whole batch-side Window chain
    (duplicate-drop lag, row_number, lead) must share ONE key exchange
    and one sort; the dimension arrives through a LEFT SEMI (touched
    keys) — no cartesian, no Python stage anywhere in the merge
    batch."""
    from pyspark.sql import functions as F

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.operators.scd import scd2_dim_schema, scd2_sync

    log = spark.range(400).select(
        F.concat(F.lit("c-"), (F.col("id") % 7)).alias("conv_id"),
        (F.col("id") % 3).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("id").alias("lsn"),
        F.when(F.col("id") % 11 == 0, "delete").otherwise("insert").alias("op"),
    )
    dim = SnapshotTable.create(
        spark, str(tmp_path / "dim"),
        scd2_dim_schema(log.schema, ["conv_id", "turn_idx"],
                        ["role", "text", "tool"]),
        key_cols=["conv_id", "turn_idx", "version_seq"], n_buckets=4,
    )
    scd2_sync(dim, log.filter(F.col("lsn") < 200), (0, 200),
              ["conv_id", "turn_idx"], ["role", "text", "tool"])
    captured = {}
    orig = dim.merge_cdc

    def spy(events, **kw):
        captured["plan"] = (
            events._jdf.queryExecution().executedPlan().toString()
        )
        return orig(events, **kw)

    dim.merge_cdc = spy
    scd2_sync(dim, log.filter(F.col("lsn") >= 200), (200, 400),
              ["conv_id", "turn_idx"], ["role", "text", "tool"])
    plan = captured["plan"]
    # batch side: the window chain shares one (conv_id, turn_idx)
    # hash exchange — Catalyst must not re-shuffle between lag /
    # row_number / lead
    assert plan.count("hashpartitioning(conv_id") <= 3, plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_loop_flags_single_exchange(spark):
    """Agent-loop detection: one conv_id hash exchange feeds the lag
    windows, the run-length agg, and the per-conversation rollup —
    conversation-local work after a single shuffle, no Python stage."""
    from neosync_spark.operators.conversations import loop_flags

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").selectExpr(
        "'c' || cast(user_id % 50 as string) as conv_id",
        "cast(event_id % 16 as int) as turn_idx",
        "case when event_id % 3 = 0 then 'user' else 'assistant' end as role",
        "event_type as text",
        "cast(null as string) as tool",
    )
    plan = _plan(loop_flags(df, min_run=2))
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_stats_sync_reads_only_changed_buckets(spark, tmp_path):
    """Incremental ANALYZE: the epoch re-profile's source read lists
    ONLY files of buckets whose manifest file lists changed, and the
    merged profile never opens the source table at all."""
    import pandas as pd

    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.operators.stats_sync import (
        changed_buckets,
        create_stats_table,
        merged_stats,
        stats_sync,
    )
    from neosync_spark.schema import KEY_COLS, transcript_schema

    src = SnapshotTable.create(
        spark, str(tmp_path / "src"), transcript_schema(),
        key_cols=KEY_COLS, order_cols=["ts"], n_buckets=8,
    )

    def batch(rows):
        cols = ["lsn", "op", "conv_id", "turn_idx", "role", "text",
                "tool", "ts"]
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        return spark.createDataFrame(pdf)

    src.merge_cdc(
        batch([
            (i, "insert", f"conv-{i % 9}", i // 9, "user", f"t{i}", None,
             "2024-01-01 00:00:00")
            for i in range(36)
        ]),
        applied_range=(0, 36),
    )
    s1 = src.manifest(refresh=True)["snapshot_id"]
    src.merge_cdc(
        batch([(100, "update", "conv-4", 0, "assistant", "touched", None,
                "2024-01-02 00:00:00")]),
        applied_range=(100, 101),
    )
    s2 = src.manifest(refresh=True)["snapshot_id"]

    touched = changed_buckets(src, s1, s2)
    assert 0 < len(touched) < 8
    files = src.read(snapshot_id=s2, buckets=touched).inputFiles()
    assert files, "pruned read must still open the touched buckets"
    for f in files:
        assert any(f"_bucket={b}/" in f for b in touched), f

    stats = create_stats_table(spark, str(tmp_path / "stats"))
    stats_sync(src, stats, ["conv_id", "turn_idx"], s1)
    stats_sync(src, stats, ["conv_id", "turn_idx"], s2, from_snapshot=s1)
    merged = merged_stats(stats, additive_cols=["conv_id"])
    for f in merged.inputFiles():
        assert str(tmp_path / "stats") in f, f
    assert "BatchEvalPython" not in _plan(merged)


def test_scoped_transform_stays_jvm(spark, log_path):
    """transform_where wraps the JVM column_expr in a when() — the
    scoped merge stage must stay inside codegen: no Python eval
    operator appears, and the predicate compiles to a CASE branch."""
    from neosync_spark.engine import EngineConfig, ReplayEngine
    from neosync_spark.functions import transformers as X
    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema

    import tempfile

    t = SnapshotTable.create(
        spark, tempfile.mkdtemp(), transcript_schema(),
        key_cols=KEY_COLS, n_buckets=4,
    )
    eng = ReplayEngine(
        spark, t,
        transforms={"text": X.transform_pii_text(seed=1)},
        transform_where={"text": "role = 'user'"},
        config=EngineConfig(batch_lsn_size=10_000),
    )
    batch = ChangeLogSource(spark, log_path).slice(0, 2000)
    out = eng.transform_batch(batch)
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CASE WHEN" in plan


def test_dpo_and_sft_serve_paths_stay_jvm(spark, tmp_path):
    """Round-5 session-2 consumers: the serve paths (dpo_pairs over
    mining state; sft_examples windowing) are pure JVM — no Python
    eval stage anywhere, and the SFT fold is ONE key shuffle."""
    from neosync_spark.operators.conversations import sft_examples
    from neosync_spark.operators.dpo_sync import create_dpo_state, dpo_pairs

    st = create_dpo_state(spark, str(tmp_path / "st"), n_buckets=4)
    plan = _plan(dpo_pairs(st))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    df = spark.createDataFrame(
        [("c1", 0, "user", "hi"), ("c1", 1, "assistant", "yo")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan2 = _plan(sft_examples(df))
    assert "ArrowEvalPython" not in plan2 and "BatchEvalPython" not in plan2
    # one conversation-key exchange feeds the whole windowing (an AQE
    # re-partition may add coalesces, but no second key shuffle)
    assert plan2.count("Exchange hashpartitioning") <= 1
