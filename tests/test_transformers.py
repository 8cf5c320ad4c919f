"""Transformer unit vectors (FIXTURES.md §6), modeled on the
reference's per-transformer tests (e.g.
/root/reference/worker/pkg/benthos/transformers/transform_email_test.go)."""

from __future__ import annotations

import pandas as pd
import pytest

from neosync_spark.functions import transformers as X


def k(*keys):
    return pd.Series(list(keys))


def v(*vals):
    return pd.Series(list(vals), dtype=object)


class TestTransformEmail:
    def test_empty_is_null(self):
        fn = X.transform_email()
        assert fn(v(""), k("a")).tolist() == [None]

    def test_null_passthrough(self):
        fn = X.transform_email()
        assert fn(v(None), k("a")).tolist() == [None]

    def test_preserve_domain(self):
        fn = X.transform_email(preserve_domain=True)
        out = fn(v("alice@corp.io"), k("a")).iloc[0]
        assert out.endswith("@corp.io") and out != "alice@corp.io"

    def test_preserve_length(self):
        fn = X.transform_email(preserve_length=True, preserve_domain=True)
        out = fn(v("alice@corp.io"), k("a")).iloc[0]
        assert len(out) == len("alice@corp.io")
        assert out.endswith("@corp.io")

    def test_excluded_domains_flip(self):
        """Exclusion FLIPS preservation (transform_email.go:294-302):
        preserve_domain=True + excluded ⇒ domain replaced;
        preserve_domain=False + excluded ⇒ domain kept."""
        kept = X.transform_email(preserve_domain=False, excluded_domains=("corp.io",))
        out = kept(v("alice@corp.io"), k("a")).iloc[0]
        assert out.endswith("@corp.io")
        repl = X.transform_email(preserve_domain=True, excluded_domains=("corp.io",))
        out2 = repl(v("alice@corp.io"), k("a")).iloc[0]
        assert not out2.endswith("@corp.io")

    @pytest.mark.parametrize(
        "action,check",
        [
            ("passthrough", lambda o: o == "not-an-email"),
            ("null", lambda o: o is None),
            ("generate", lambda o: o is not None and "@" in o),
        ],
    )
    def test_invalid_actions(self, action, check):
        fn = X.transform_email(invalid_email_action=action)
        assert check(fn(v("not-an-email"), k("a")).iloc[0])

    def test_invalid_reject_raises(self):
        fn = X.transform_email(invalid_email_action="reject")
        with pytest.raises(ValueError):
            fn(v("not-an-email"), k("a"))

    def test_max_length_clamp(self):
        fn = X.transform_email(max_length=10)
        assert len(fn(v("alice@corp.io"), k("a")).iloc[0]) <= 10


class TestScramble:
    def test_classes_preserved(self):
        fn = X.transform_character_scramble(seed=5)
        src = "Ab3 x-Y.9!"
        out = fn(v(src), k("a")).iloc[0]
        assert len(out) == len(src)
        for a, b in zip(src, out):
            assert a.isupper() == b.isupper()
            assert a.islower() == b.islower()
            assert a.isdigit() == b.isdigit()
            if not a.isalnum():
                assert a == b  # specials/whitespace kept

    def test_regex_scoped(self):
        fn = X.transform_character_scramble(seed=5, user_provided_regex=r"\d+")
        out = fn(v("keep ME 12345 keep"), k("a")).iloc[0]
        assert out.startswith("keep ME ") and out.endswith(" keep")
        assert out[8:13].isdigit() and out[8:13] != "12345"


class TestPiiText:
    def test_mixed_redaction(self):
        fn = X.transform_pii_text(deny_words=("projectx",))
        out = fn(
            v("a@b.co phoned +1 (555) 123-4567 about ProjectX, ssn 123-45-6789"),
            k("a"),
        ).iloc[0]
        assert "<EMAIL_ADDRESS>" in out
        assert "<PHONE_NUMBER>" in out
        assert "<US_SSN>" in out
        assert "<DENY_WORD>" in out
        assert "a@b.co" not in out

    def test_allowed_phrases(self):
        fn = X.transform_pii_text(allowed_phrases=("keep@ok.co",))
        out = fn(v("keep@ok.co and drop@no.co"), k("a")).iloc[0]
        assert "keep@ok.co" in out and "drop@no.co" not in out

    def test_allowed_entities(self):
        fn = X.transform_pii_text(allowed_entities=("EMAIL_ADDRESS",))
        out = fn(v("a@b.co and 123-45-6789"), k("a")).iloc[0]
        assert "<EMAIL_ADDRESS>" in out and "123-45-6789" in out

    def test_custom_replacement(self):
        fn = X.transform_pii_text(entity_replacements={"EMAIL_ADDRESS": "[email]"})
        assert fn(v("a@b.co"), k("a")).iloc[0] == "[email]"

    def test_extended_entities_off_by_default(self):
        # CREDIT_CARD/IP_ADDRESS/DATE_TIME activate only when named in
        # allowed_entities or configured with an anonymizer
        fn = X.transform_pii_text()
        t = "card 4111111111111111 ip 10.0.0.1 on 2024-12-25"
        out = fn(v(t), k("a")).iloc[0]
        assert "<CREDIT_CARD>" not in out and "<IP_ADDRESS>" not in out

    def test_credit_card_luhn_validation(self):
        fn = X.transform_pii_text(allowed_entities=("CREDIT_CARD",))
        assert fn(v("pay 4111111111111111 now"), k("a")).iloc[0] == "pay <CREDIT_CARD> now"
        assert fn(v("pay 4111-1111-1111-1111 now"), k("a")).iloc[0] == "pay <CREDIT_CARD> now"
        # invalid checksum is NOT PII per Presidio's CreditCardRecognizer
        assert fn(v("ref 4111111111111112 now"), k("a")).iloc[0] == "ref 4111111111111112 now"
        # the full Presidio window: 13-digit and 19-digit valid PANs
        assert fn(v("pay 4222222222222 now"), k("a")).iloc[0] == "pay <CREDIT_CARD> now"
        assert fn(v("pay 6221261111111111113 now"), k("a")).iloc[0] == "pay <CREDIT_CARD> now"
        # 12 digits: below the window, untouched
        assert fn(v("ref 123456789012 now"), k("a")).iloc[0] == "ref 123456789012 now"

    def test_ip_and_date_entities(self):
        fn = X.transform_pii_text(allowed_entities=("IP_ADDRESS", "DATE_TIME"))
        out = fn(v("from 192.168.1.254 on 2024-12-25 and 1/7/2024"), k("a")).iloc[0]
        assert out == "from <IP_ADDRESS> on <DATE_TIME> and <DATE_TIME>"
        # 999 is not a valid octet
        assert "<IP_ADDRESS>" not in fn(v("v 999.1.1.1"), k("a")).iloc[0]

    def test_entity_anonymizers_mask_hash_redact(self):
        import hashlib

        an = {
            "CREDIT_CARD": X.PiiAnonymizer("mask", chars_to_mask=12, masking_char="*"),
            "IP_ADDRESS": X.PiiAnonymizer("hash", algo="sha256"),
            "DATE_TIME": X.PiiAnonymizer("redact"),
        }
        # configuring an anonymizer activates the entity (reference
        # unions entity_anonymizers keys into the active set)
        fn = X.transform_pii_text(allowed_entities=(), entity_anonymizers=an)
        out = fn(v("card 4111111111111111 ip 10.0.0.1 on 2024-12-25"), k("a")).iloc[0]
        assert "************1111" in out
        assert hashlib.sha256(b"10.0.0.1").hexdigest() in out
        assert "2024-12-25" not in out
        # mask from_end
        fe = X.transform_pii_text(
            allowed_entities=("CREDIT_CARD",),
            entity_anonymizers={"CREDIT_CARD": X.PiiAnonymizer(
                "mask", chars_to_mask=4, from_end=True, masking_char="#")},
        )
        assert fe(v("4111111111111111"), k("a")).iloc[0] == "411111111111####"

    def test_anonymizer_fast_slow_parity(self):
        an = {"IP_ADDRESS": X.PiiAnonymizer("hash", algo="md5")}
        t = "ip 10.1.2.3 card 5500005555555559 mail a@b.co"
        fast = X.transform_pii_text(
            allowed_entities=("IP_ADDRESS", "CREDIT_CARD", "EMAIL_ADDRESS"),
            entity_anonymizers=an,
        )(v(t), k("a")).iloc[0]
        slow = X.transform_pii_text(
            allowed_entities=("IP_ADDRESS", "CREDIT_CARD", "EMAIL_ADDRESS"),
            entity_anonymizers=an, allowed_phrases=("zzz",),
        )(v(t), k("a")).iloc[0]
        assert fast == slow

    def test_backslash_replacement_inserted_literally(self):
        # fast path uses re.sub templates where \1/\g<> expand; the
        # token must land verbatim, matching the slow path's callback
        fn = X.transform_pii_text(entity_replacements={"EMAIL_ADDRESS": r"\x<E>"})
        fast = fn(v("a@b.co"), k("a")).iloc[0]
        slow_fn = X.transform_pii_text(
            entity_replacements={"EMAIL_ADDRESS": r"\x<E>"},
            allowed_phrases=("zzz-never-matches",),
        )
        slow = slow_fn(v("a@b.co"), k("a")).iloc[0]
        assert fast == slow == r"\x<E>"


class TestNamesPhones:
    def test_first_name_preserve_length(self):
        fn = X.transform_first_name(preserve_length=True)
        out = fn(v("Brian", "Alexandrina"), k("a", "b"))
        assert [len(x) for x in out] == [5, 11]

    def test_full_name_shape(self):
        out = X.transform_full_name()(v("John Smith"), k("a")).iloc[0]
        assert " " in out and out != "John Smith"

    def test_phone_preserves_format(self):
        fn = X.transform_string_phone_number(preserve_length=True)
        out = fn(v("+1 (555) 123-4567"), k("a")).iloc[0]
        assert len(out) == len("+1 (555) 123-4567")
        for a, b in zip("+1 (555) 123-4567", out):
            assert a.isdigit() == b.isdigit()
            if not a.isdigit():
                assert a == b

    def test_int64_within_bounds(self):
        fn = X.transform_int64(randomization_range_min=5, randomization_range_max=5)
        out = fn(pd.Series([100] * 50, dtype="Int64"), pd.Series([str(i) for i in range(50)]))
        assert out.between(95, 105).all()


class TestDeterminism:
    def test_same_key_value_same_output(self):
        numeric = {"transform_int64", "transform_float64"}
        for name, factory in X.REGISTRY.items():
            fn = factory(seed=42)
            if name in numeric:
                vals = pd.Series([100, 200], dtype="Int64")
            elif name == "transform_binary":
                vals = pd.Series([b"ab", b"cdef"], dtype=object)
            elif name == "transform_date":
                vals = pd.Series(["2024-01-01", "2024-06-15"], dtype=object)
            else:
                vals = v("alice@corp.io", "bob")
            a = fn(vals, k("k1", "k2"))
            b = fn(vals.copy(), k("k1", "k2"))
            assert a.tolist() == b.tolist(), name

    def test_different_keys_differ(self):
        fn = X.transform_string(preserve_length=False, min_length=8, max_length=8)
        out = fn(v("same", "same"), k("k1", "k2"))
        assert out.iloc[0] != out.iloc[1]

    def test_order_invariance(self):
        """Output per row is independent of batch composition/order —
        the guarantee that makes retries + repartitioning safe."""
        fn = X.transform_email(seed=9)
        full = fn(v("a@b.co", "c@d.co", "e@f.co"), k("1", "2", "3"))
        solo = fn(v("c@d.co"), k("2"))
        assert full.iloc[1] == solo.iloc[0]


@pytest.mark.parametrize(
    "name",
    [n for n in X.REGISTRY if n.startswith("transform_") or n in ("null", "passthrough")],
)
def test_null_in_null_out(name):
    """The NULL contract two engine paths rely on: a masked Python-UDF
    transform (``ReplayEngine.transform_batch(only_where=...)``) feeds
    NULL for rows it must not touch, and a ``patch_ops`` partial image
    uses NULL for "unchanged" — so every column mapping must map NULL
    to NULL without raising. (``generate_*`` fill NULLs by design.)"""
    out = X.REGISTRY[name](seed=42)(v(None, None, None), k("a", "b", "c"))
    assert len(out) == 3 and out.isna().all(), name


class TestGenerators:
    def test_card_number_luhn(self):
        out = X.generate_card_number()(v(None, None), k("a", "b"))
        for n in out:
            digits = [int(c) for c in str(n)]
            total = 0
            for i, d in enumerate(reversed(digits)):
                if i % 2 == 1:
                    d *= 2
                    if d > 9:
                        d -= 9
                total += d
            assert total % 10 == 0

    def test_categorical_weights(self):
        fn = X.generate_categorical(categories=("x", "y"), weights=(95, 5))
        out = fn(pd.Series([None] * 400), pd.Series([str(i) for i in range(400)]))
        assert (out == "x").mean() > 0.85

    def test_ssn_shape(self):
        out = X.generate_ssn()(v(None), k("a")).iloc[0]
        import re

        assert re.fullmatch(r"\d{3}-\d{2}-\d{4}", out)

    def test_int64_bounds(self):
        fn = X.generate_int64(min=10, max=20)
        out = fn(pd.Series([None] * 100), pd.Series([str(i) for i in range(100)]))
        assert out.between(10, 20).all()

    def test_uuid_shape(self):
        import re

        out = X.generate_uuid()(v(None), k("a")).iloc[0]
        assert re.fullmatch(r"[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-8[0-9a-f]{3}-[0-9a-f]{12}", out)


def test_udf_matches_pandas(spark):
    """The pandas_udf wrapper produces byte-identical output to the
    direct pandas call (oracle/engine agreement)."""
    import pyspark.sql.functions as F

    fn = X.transform_email(seed=11, preserve_domain=True)
    pdf = pd.DataFrame(
        {
            "key": [f"conv-{i}|0" for i in range(200)],
            "email": [f"user{i}@corp{i % 7}.io" for i in range(200)],
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(8)
    got = (
        sdf.withColumn("out", X.as_udf(fn)(F.col("email"), F.col("key")))
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    exp = fn(pdf["email"], pdf["key"])
    pdf2 = pdf.assign(out=exp).sort_values("key").reset_index(drop=True)
    assert got["out"].tolist() == pdf2["out"].tolist()


def test_transform_int64_preserves_big_values():
    """Round-2 fix: no float64 round-trip — int64 above 2^53 keeps the
    documented jitter range (reference operates in int64)."""
    big = 2**60 + 12345
    fn = X.transform_int64(seed=42, randomization_range_min=10, randomization_range_max=100)
    out = fn(pd.Series([big, None], dtype="Int64"), pd.Series(["k1", "k2"]))
    delta = int(out.iloc[0]) - big
    assert -10 <= delta <= 100
    assert pd.isna(out.iloc[1])


def test_transform_user_code_sandbox_rejects_escapes():
    import pytest as _pytest

    ok = X.transform_user_code("str(value) + '-' + key")
    assert ok(pd.Series(["a"]), pd.Series(["k"])).iloc[0] == "a-k"
    assert X.transform_user_code("value.upper()")(
        pd.Series(["ab"]), pd.Series(["k"])
    ).iloc[0] == "AB"
    for bad in (
        "().__class__",
        "__import__('os')",
        "open('/etc/passwd')",
        "[x for x in (1,)]",
        "value.__class__.__mro__",
    ):
        with _pytest.raises(ValueError):
            X.transform_user_code(bad)


def test_merge_cdc_rejects_chained_state_with_pruning(spark, tmp_path):
    from neosync_spark.lakehouse import SnapshotTable
    from neosync_spark.schema import KEY_COLS, transcript_schema
    import pytest as _pytest

    from pyspark.sql import functions as F

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), key_cols=KEY_COLS, n_buckets=4
    )
    df = spark.createDataFrame([], t.current_schema()).withColumns(
        {"op": F.lit("insert"), "lsn": F.lit(0).cast("long")}
    )
    with _pytest.raises(ValueError, match="prune_buckets"):
        t.merge_cdc(df, target_df=df, prune_buckets=True)


def test_pii_text_column_expr_matches_pandas(spark):
    """The JVM column-expression form of transform_pii_text (engine fast
    path) must agree byte-for-byte with the pandas oracle path —
    Java regex vs Python re on the shipped recognizers."""
    from pyspark.sql import functions as F

    fn = X.transform_pii_text(seed=42)
    assert hasattr(fn, "column_expr")
    rows = [
        "reach me at jo.doe+x@corp.example or 555-123-4567 today",
        "ssn 123-45-6789 and +1 (555) 123.4567; not-pii 12",
        "no pii here",
        "",
        None,
        "double a@b.co c@d.io and 999-88-7777 111-22-3333",
        "event #123456 {'k': 'v'}",
    ]
    df = spark.createDataFrame([(r,) for r in rows], ["t"])
    got = [r["out"] for r in df.select(fn.column_expr("t").alias("out")).collect()]
    exp = fn(pd.Series(rows), pd.Series(["k"] * len(rows))).tolist()
    assert got == exp
    # deny-words + custom replacement also expressible
    fn2 = X.transform_pii_text(
        seed=1, deny_words=("secret", "códigos"),
        entity_replacements={"DENY_WORD": "[redacted]"},
    )
    assert hasattr(fn2, "column_expr")
    rows2 = ["a Secret plan", "los códigos aqui", "secretive (no match)"]
    df2 = spark.createDataFrame([(r,) for r in rows2], ["t"])
    got2 = [r["out"] for r in df2.select(fn2.column_expr("t").alias("out")).collect()]
    exp2 = fn2(pd.Series(rows2), pd.Series(["k"] * len(rows2))).tolist()
    assert got2 == exp2


def test_pii_person_recognizer():
    fn = X.transform_pii_text(seed=1, recognize_person_names=True)
    from neosync_spark.functions import datasets as D

    name = f"{D.FIRST_NAMES[0]} {D.LAST_NAMES[0]}"
    out = fn(
        pd.Series([f"ticket from {name} re 111-22-3333", "no names"]),
        pd.Series(["a", "b"]),
    )
    assert out.iloc[0] == "ticket from <PERSON> re <US_SSN>"
    assert out.iloc[1] == "no names"
    # off by default
    fn0 = X.transform_pii_text(seed=1)
    assert name in fn0(pd.Series([f"x {name} y"]), pd.Series(["a"])).iloc[0]
    # allowed_entities scoping applies
    fn2 = X.transform_pii_text(
        seed=1, recognize_person_names=True, allowed_entities=("US_SSN",)
    )
    assert name in fn2(pd.Series([f"x {name} 111-22-3333"]), pd.Series(["a"])).iloc[0]


def test_transform_javascript_real_js():
    """Node-backed user JS (the goja analog): real JS semantics, batch
    IPC, null handling, key access, loud failure on bad code."""
    import shutil

    if shutil.which("node") is None:
        pytest.skip("no node runtime")
    fn = X.transform_javascript("return value.toUpperCase() + '-' + key;")
    out = fn(pd.Series(["ab", None, "cd"]), pd.Series(["k1", "k2", "k3"]))
    assert out.tolist()[0] == "AB-k1"
    assert out.tolist()[2] == "CD-k3"
    # JS-side null propagation is the author's contract; here value is
    # null -> toUpperCase would throw, so guard in the user code
    fn2 = X.transform_javascript(
        "return value === null ? null : value.split('@')[0] + '@masked';"
    )
    out2 = fn2(pd.Series(["a@b.co", None]), pd.Series(["k", "k"]))
    assert out2.tolist() == ["a@masked", None]
    gen = X.generate_javascript("return 'user-' + key.length;")
    assert gen(pd.Series([None]), pd.Series(["abc"])).iloc[0] == "user-3"
    with pytest.raises(RuntimeError, match="javascript"):
        X.transform_javascript("throw new Error('boom');")(
            pd.Series(["x"]), pd.Series(["k"])
        )


def test_transform_javascript_through_spark(spark):
    import shutil

    if shutil.which("node") is None:
        pytest.skip("no node runtime")
    from pyspark.sql import functions as F

    from neosync_spark.functions.transformers import as_udf, key_col

    fn = X.transform_javascript("return value === null ? null : value.length + ':' + value;")
    df = spark.createDataFrame([("hello", 1), (None, 2)], ["t", "id"])
    got = df.select(
        as_udf(fn)(F.col("t"), key_col("id")).alias("out")
    ).collect()
    assert got[0]["out"] == "5:hello"
    assert got[1]["out"] is None


def test_js_worker_persistent_and_crash_safe():
    """One long-lived Node child serves many batches; user-code errors
    don't kill it; a hard crash (process.exit) respawns transparently."""
    from neosync_spark.functions.js_worker import NodeWorker

    fn = X.transform_javascript("return value + '!';")
    fn(v("a"), k("k1"))
    pid1 = NodeWorker.get().proc.pid
    fn(v("b", "c"), k("k2", "k3"))
    assert NodeWorker.get().proc.pid == pid1  # same worker reused

    # a user-code error fails the request, not the worker
    with pytest.raises(RuntimeError, match="javascript"):
        X.transform_javascript("throw new Error('boom');")(v("x"), k("k"))
    assert NodeWorker.get().proc.pid == pid1

    # console.log in user code must not corrupt the protocol stream
    noisy = X.transform_javascript("console.log('spam'); return value;")
    assert noisy(v("ok"), k("k")).iloc[0] == "ok"
    assert NodeWorker.get().proc.pid == pid1

    # hard crash: next call respawns a fresh worker
    with pytest.raises((RuntimeError, TimeoutError)):
        X.transform_javascript("process.exit(1);", timeout=10)(v("x"), k("k"))
    out = fn(v("back"), k("k"))
    assert out.iloc[0] == "back!"
    assert NodeWorker.get().proc.pid != pid1


def test_deny_recognizers_named_entities():
    """Each deny_recognizers entry is its own entity: name-routed
    anonymizers and allowed_entities filtering (the reference's ad-hoc
    PatternRecognizer list, SupportedEntity = name)."""
    fn = X.transform_pii_text(
        deny_recognizers={
            "PROJECT_CODE": ("zephyr", "atlasx"),
            "TEAM_NAME": ("redteam",),
        },
        entity_replacements={"PROJECT_CODE": "[proj]"},
    )
    out = fn(v("ship Zephyr with redteam before atlasx"), k("a")).iloc[0]
    assert out == "ship [proj] with <TEAM_NAME> before [proj]"
    # allowed_entities filters by the recognizer's name
    only = X.transform_pii_text(
        allowed_entities=("TEAM_NAME",),
        deny_recognizers={"PROJECT_CODE": ("zephyr",), "TEAM_NAME": ("redteam",)},
    )
    out2 = only(v("zephyr redteam"), k("a")).iloc[0]
    assert out2 == "zephyr <TEAM_NAME>"


def test_score_threshold_gate():
    fn = X.transform_pii_text(score_threshold=1.5)
    t = "a@b.co and 123-45-6789"
    assert fn(v(t), k("a")).iloc[0] == t  # impossible bar: nothing redacts
    assert X.transform_pii_text(score_threshold=0.9)(v("a@b.co"), k("a")).iloc[0] == "<EMAIL_ADDRESS>"


def test_credit_card_rejects_small_digit_groups():
    """Review finding: a bare 13-19-digit window would swallow spaced
    phone numbers; the grouped pattern (3-6 digit groups) rejects them
    even when the digits happen to pass Luhn."""
    fn = X.transform_pii_text(allowed_entities=("CREDIT_CARD",))
    # UK-style phone with 2-digit groups: digits pass or fail Luhn,
    # either way the SHAPE must not match
    t = "call 44 20 7946 0958 12 34 now"
    assert fn(v(t), k("a")).iloc[0] == t
    # grouped card shapes still match
    assert fn(v("4111-1111-1111-1111"), k("a")).iloc[0] == "<CREDIT_CARD>"
    assert fn(v("4111 1111 1111 1111"), k("a")).iloc[0] == "<CREDIT_CARD>"


def test_transform_sha256_pseudonym_parity(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from neosync_spark.functions.transformers import transform_sha256_pseudonym

    fn = transform_sha256_pseudonym(salt="k", length=12)
    vals = pd.Series(["123", "abc", None, "123"])
    out = fn(vals, vals)
    assert out[0] == out[3] and out[0] != out[1]  # pure function of value
    assert out[2] is None
    assert len(out[0]) == 12
    # JVM column_expr == pandas path
    df = spark.createDataFrame([("123",), ("abc",)], ["v"])
    jvm = {r["v"]: r["p"] for r in df.select("v", fn.column_expr("v").alias("p")).collect()}
    assert jvm["123"] == out[0] and jvm["abc"] == out[1]


class TestPiiScan:
    def test_scan_counts_and_luhn_validation(self, spark):
        from neosync_spark.functions.pii_scan import scan_pii

        rows = [
            (1, "mail a.b@x.com or c@y.org", "4111111111111111"),
            (2, "ssn 123-45-6789 on 2026-01-02", "4111111111111112"),
            (3, "call +1 (555) 123-4567", "10.0.0.1 and 192.168.1.254"),
            (4, None, "nothing"),
        ]
        df = spark.createDataFrame(rows, "id long, a string, b string")
        got = {
            (r["column"], r["entity"]): (r["n_rows_with_hit"], r["n_hits"])
            for r in scan_pii(df, ["a", "b"]).collect()
        }
        assert got[("a", "EMAIL_ADDRESS")] == (1, 2)
        assert got[("a", "US_SSN")] == (1, 1)
        assert got[("a", "DATE_TIME")] == (1, 1)
        # only the Luhn-valid card counts
        assert got[("b", "CREDIT_CARD")] == (1, 1)
        assert got[("b", "IP_ADDRESS")] == (1, 2)
        assert got[("b", "EMAIL_ADDRESS")] == (0, 0)

    def test_scan_is_jvm_only(self, spark):
        from neosync_spark.functions.pii_scan import scan_pii

        df = spark.createDataFrame([(1, "x")], "id long, a string")
        plan = scan_pii(df, ["a"])._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_entity_subset(self, spark):
        from neosync_spark.functions.pii_scan import scan_pii

        df = spark.createDataFrame([(1, "a@b.co")], "id long, a string")
        out = scan_pii(df, ["a"], entities=["EMAIL_ADDRESS"]).collect()
        assert len(out) == 1 and out[0]["n_hits"] == 1


class TestReversiblePseudonym:
    KEY = "0123456789abcdef"

    def test_roundtrip_and_determinism(self, spark):
        from pyspark.sql import functions as F

        from neosync_spark.functions.masking import (
            depseudonymize_aes,
            pseudonymize_aes,
        )

        df = spark.createDataFrame(
            [("alice@x.com",), ("alice@x.com",), ("bob",), ("",), (None,)],
            "v string",
        )
        out = df.select(
            "v",
            pseudonymize_aes("v", self.KEY).alias("t"),
        ).withColumn("back", depseudonymize_aes("t", self.KEY))
        rows = out.collect()
        for r in rows:
            assert r["back"] == r["v"]
        toks = {r["v"]: r["t"] for r in rows}
        assert toks["alice@x.com"] != toks["bob"]
        assert toks[None] is None
        # deterministic: both alice rows share one token
        assert len({r["t"] for r in rows if r["v"] == "alice@x.com"}) == 1
        # hex, no newlines, PKCS7 length
        t = toks["alice@x.com"]
        assert "\n" not in t and len(t) == 2 * ((len("alice@x.com") // 16 + 1) * 16)

    def test_jvm_only_plan(self, spark):
        from neosync_spark.functions.masking import pseudonymize_aes

        df = spark.createDataFrame([("x",)], "v string")
        plan = (
            df.select(pseudonymize_aes("v", self.KEY))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_bad_key_rejected(self):
        import pytest

        from neosync_spark.functions.masking import pseudonymize_aes

        with pytest.raises(ValueError, match="AES key"):
            pseudonymize_aes("v", "short")


class TestPluggableNerScorer:
    """transform_pii_text custom_recognizers (VERDICT r3 #8): a
    user-supplied batch scorer (the model-backed NER hook) routes its
    spans through the same anonymizer/threshold/allow machinery as the
    built-in regex recognizers."""

    def _scorer(self, texts):
        # fake NER: flag every occurrence of 'Zorblatt Qheex' (a name
        # no dataset regex would know), score 0.9
        out = []
        for t in texts:
            spans = []
            start = 0
            while True:
                i = t.find("Zorblatt Qheex", start)
                if i < 0:
                    break
                spans.append((i, i + len("Zorblatt Qheex"), 0.9))
                start = i + 1
            out.append(spans)
        return out

    def test_spans_redact_and_compose_with_regex(self):
        import pandas as pd

        from neosync_spark.functions.transformers import transform_pii_text

        fn = transform_pii_text(
            recognize_person_names=False,
            custom_recognizers={"PERSON": self._scorer},
        )
        vals = pd.Series(
            ["mail Zorblatt Qheex at zq@x.com", None, "no pii here"]
        )
        out = fn(vals, pd.Series(["a", "b", "c"]))
        assert out.iloc[0] == "mail <PERSON> at <EMAIL_ADDRESS>"
        assert out.iloc[1] is None
        assert out.iloc[2] == "no pii here"

    def test_threshold_and_entity_filtering(self):
        import pandas as pd

        from neosync_spark.functions.transformers import transform_pii_text

        # below threshold: spans dropped
        fn = transform_pii_text(
            custom_recognizers={"PERSON": self._scorer}, score_threshold=0.95
        )
        out = fn(pd.Series(["hi Zorblatt Qheex"]), pd.Series(["k"]))
        assert out.iloc[0] == "hi Zorblatt Qheex"
        # entity not allowed: scorer never applies
        fn2 = transform_pii_text(
            allowed_entities=("EMAIL_ADDRESS",),
            custom_recognizers={"PERSON": self._scorer},
        )
        out2 = fn2(pd.Series(["hi Zorblatt Qheex"]), pd.Series(["k"]))
        assert out2.iloc[0] == "hi Zorblatt Qheex"

    def test_anonymizer_routing_and_allowed_phrases(self):
        import pandas as pd

        from neosync_spark.functions.transformers import (
            PiiAnonymizer,
            transform_pii_text,
        )

        fn = transform_pii_text(
            custom_recognizers={"PERSON": self._scorer},
            entity_anonymizers={
                "PERSON": PiiAnonymizer("mask", chars_to_mask=8)
            },
        )
        out = fn(pd.Series(["Zorblatt Qheex spoke"]), pd.Series(["k"]))
        assert out.iloc[0] == "******** Qheex spoke"
        # allow-list: a span whose text contains an allowed phrase is
        # kept (same direction as the built-in recognizers)
        fn2 = transform_pii_text(
            custom_recognizers={"PERSON": self._scorer},
            allowed_phrases=("Qheex",),
        )
        out2 = fn2(pd.Series(["Zorblatt Qheex spoke"]), pd.Series(["k"]))
        assert out2.iloc[0] == "Zorblatt Qheex spoke"
