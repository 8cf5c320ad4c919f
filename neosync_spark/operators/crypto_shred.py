"""Crypto-shredding — GDPR erasure as key destruction, not data rewrite.

The engine already supports physical purge (``SnapshotTable.
purge_subject`` rewrites every file holding the subject's rows). At
100 TB that rewrite is the cost ceiling of every erasure request. The
standard lakehouse alternative (public practice: Delta/Iceberg GDPR
guides, Google's "crypto-shredding" pattern) inverts it:

- every PII column is encrypted AT WRITE with a per-subject key;
- the key table (one tiny row per subject) is the only place the key
  exists;
- erasure = DELETE the subject's key row. The 100 TB of ciphertext
  becomes permanently unreadable without being touched — O(1) metadata
  instead of O(table) rewrite. Reads join the key table and decrypt;
  a missing key decrypts to NULL.

Implementation is all JVM built-ins: ``aes_encrypt``/``aes_decrypt``
(AES-256-GCM, random IV per value) inside whole-stage codegen, one
key-partitioned join against the key table on the subject column (the
key table is ~1 row per conversation — broadcastable at test scale,
hash-join co-partitioned at 10^10; Spark's AQE picks per stats).

Key derivation note: ``derive_key_table`` derives keys as
sha2(subject || secret) so tests are deterministic. That is REAL
shredding only if ``secret`` itself is destroyed with the table or the
caller supplies genuinely random keys (``keys`` accepts any
(subject, key) table) — a derivable key can be re-derived by anyone
holding the secret. Production: random keys from a KMS, this module
only consumes them.

No reference counterpart file (the reference redacts/masks values; it
has no encrypted-at-rest column path). Public pattern literature only.
"""

from __future__ import annotations

import os

from ..util import literal_frame
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MODE = "GCM"  # random 12-byte IV per value, AEAD authenticated


class KeyStore:
    """Durable per-subject key store backing at-write encryption.

    Layout (all parquet, append-only — crash-safe without atomic
    renames):

    - ``<path>/mints/mint-<n>/``  new (subject, key, mint_id) rows;
      keys are RANDOM (uuid4 entropy hashed per subject), minted only
      for subjects not already present. First mint wins forever
      (``min_by(key, mint_id)``) so a re-minted subject can never
      orphan earlier ciphertext.
    - ``<path>/shredded/shred-<n>/``  erasure tombstones; ``load()``
      anti-joins them, so a shredded subject's key is gone from every
      reader even though mints are never rewritten.

    Single-writer by contract (the CLI / one engine); readers are
    unrestricted. The store holds one tiny row per subject — broadcast
    territory at test scale, an ordinary key-partitioned join at 10^10.
    Production note: point ``mints/`` at KMS-backed storage; this class
    only defines the dataflow.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, "mints"), exist_ok=True)
        os.makedirs(os.path.join(path, "shredded"), exist_ok=True)

    def _subdirs(self, kind: str) -> list[str]:
        root = os.path.join(self.path, kind)
        return sorted(
            os.path.join(root, d)
            for d in os.listdir(root)
            if not d.startswith(("_", "."))
        )

    def _read(self, kind: str) -> DataFrame | None:
        dirs = self._subdirs(kind)
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs)

    def load(self) -> DataFrame:
        """(subject, key) — surviving keys only, first mint wins."""
        mints = self._read("mints")
        if mints is None:
            return literal_frame(
                self.spark, [], "subject string, key string"
            )
        keys = (
            mints.groupBy("subject")
            .agg(F.min_by("key", "mint_id").alias("key"))
        )
        shredded = self._read("shredded")
        if shredded is not None:
            keys = keys.join(shredded.select("subject"), "subject", "left_anti")
        return keys

    def ensure(self, df: DataFrame, subject_col: str = "subject") -> DataFrame:
        """Mint random keys for subjects in ``df`` not yet in the store
        (shredded subjects are NOT re-minted — erased stays erased),
        then return the full surviving key table."""
        have = self.load()
        shredded = self._read("shredded")
        new = (
            df.select(F.col(subject_col).alias("subject"))
            .distinct()
            .join(have.select("subject"), "subject", "left_anti")
        )
        if shredded is not None:
            new = new.join(shredded.select("subject"), "subject", "left_anti")
        mint_id = len(self._subdirs("mints"))
        minted = new.select(
            "subject",
            F.substring(
                F.sha2(F.concat(F.expr("uuid()"), F.col("subject")), 256),
                1,
                32,
            ).alias("key"),
            F.lit(mint_id).alias("mint_id"),
        )
        out_dir = os.path.join(self.path, "mints", f"mint-{mint_id:08d}")
        minted.write.mode("errorifexists").parquet(out_dir)
        return self.load()

    def shred(self, subjects: Sequence[str]) -> int:
        """Erase subjects' keys (tombstone append). Returns how many of
        them actually had a surviving key."""
        s = literal_frame(
            self.spark, [(x,) for x in subjects], "subject string"
        ).distinct()
        n = self.load().join(s, "subject", "left_semi").count()
        shred_id = len(self._subdirs("shredded"))
        out_dir = os.path.join(self.path, "shredded", f"shred-{shred_id:08d}")
        s.write.mode("errorifexists").parquet(out_dir)
        return n


def derive_key_table(
    df: DataFrame, subject_col: str, secret: str
) -> DataFrame:
    """(subject, key) — one AES-256 key per distinct subject.

    Deterministic derivation (see module note): the 32-byte key is the
    first 32 hex chars of sha2-256(subject || secret), used as UTF-8
    bytes. Pass your own random key table instead for true shredding.
    """
    return (
        df.select(F.col(subject_col).alias("subject"))
        .distinct()
        .select(
            "subject",
            F.substring(
                F.sha2(F.concat(F.col("subject"), F.lit(secret)), 256), 1, 32
            ).alias("key"),
        )
    )


def encrypt_columns(
    df: DataFrame,
    keys: DataFrame,
    subject_col: str,
    cols: Sequence[str],
    only_where=None,
) -> DataFrame:
    """Replace each of ``cols`` with base64(AES-256-GCM ciphertext).

    NULL plaintext stays NULL (no ciphertext leaks presence). Output
    schema keeps the column names (string, base64) so the encrypted
    table round-trips through parquet/CDC unchanged. With
    ``only_where`` (a boolean Column) only the rows where it holds are
    encrypted; the rest keep their value (the merge passes its
    already-stored target rows through this way).
    """
    joined = df.join(
        keys.withColumnRenamed("subject", subject_col), subject_col, "left"
    )
    out = joined
    for c in cols:
        enc = F.when(
            F.col(c).isNotNull() & F.col("key").isNotNull(),
            F.base64(
                F.aes_encrypt(
                    F.col(c), F.col("key").cast("binary"), F.lit(_MODE)
                )
            ),
        )
        if only_where is not None:
            enc = F.when(only_where, enc).otherwise(F.col(c))
        out = out.withColumn(c, enc)
    return out.drop("key")


def shred_subjects(
    keys: DataFrame, subjects: DataFrame, subject_col: str = "subject"
) -> DataFrame:
    """The key table after erasure: drop every key whose subject is in
    ``subjects`` (anti join). The shredded subjects' ciphertext —
    wherever it lives, however many copies — is now unreadable."""
    s = subjects.select(F.col(subject_col).alias("subject")).distinct()
    return keys.join(s, "subject", "left_anti")


def decrypt_read(
    df: DataFrame,
    keys: DataFrame,
    subject_col: str,
    cols: Sequence[str],
    flag_col: str | None = "shredded",
) -> DataFrame:
    """Plaintext view: decrypt each of ``cols`` with the subject's key;
    a subject with no surviving key reads NULL (``try_aes_decrypt`` —
    never an executor-killing exception on tampered bytes either).
    ``flag_col`` (optional) marks rows whose key is gone."""
    joined = df.join(
        keys.withColumnRenamed("subject", subject_col), subject_col, "left"
    )
    out = joined
    for c in cols:
        out = out.withColumn(
            c,
            F.when(
                F.col(c).isNotNull() & F.col("key").isNotNull(),
                F.try_aes_decrypt(
                    F.unbase64(F.col(c)),
                    F.col("key").cast("binary"),
                    F.lit(_MODE),
                ).cast("string"),
            ),
        )
    if flag_col:
        out = out.withColumn(flag_col, F.col("key").isNull())
    return out.drop("key")
