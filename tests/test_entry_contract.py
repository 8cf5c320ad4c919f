"""Guard the driver contract: entry() runs, every query runs at
sf0.001, and a fast representative subset matches its DuckDB oracle
(the full gate is tools/check_oracles.py at sf0.01)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

FAST_ORACLE_SUBSET = [
    "cdc_lww_dedup_agg",
    "cdc_merge_upsert",
    "cdc_changelog_metrics",
    "mask_email",
    "redact_pii_text",
    "key_mapping_consistency",
    "subset_fk_chain",
    "dedup_exact",
    "ann_cosine_topk",
    "text_token_count",
    "text_lang_id",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(4)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def test_log_hi_equals_derived_log_max_lsn(spark):
    """_log_hi reads max(lsn) off the events footers because every
    derivation sets lsn = event_id; the aggregate it stands in for
    must agree."""
    from pyspark.sql import functions as F

    want = E._derived_log(spark, SF).agg(F.max("lsn")).collect()[0][0]
    assert E._log_hi(spark, SF) == want


def test_entry_runs(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts_s",
    ]


def test_every_query_has_callable_and_oracle_keys():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


@pytest.mark.parametrize("name", FAST_ORACLE_SUBSET)
def test_query_matches_duckdb(spark, duck, name):
    got = _norm(E.queries()[name](spark, SF).toPandas())
    exp = _norm(duck.execute(E.oracle_sql()[name]).df())
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, atol=1e-9, rtol=0)
