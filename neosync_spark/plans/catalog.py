"""Atomic multi-table publish through a catalog pointer.

A CDC fan-out feeds several destination tables from one source log
(the reference fans out per destination —
/root/reference/worker/pkg/workflows/datasync/workflow/workflow.go:82 —
but each destination commits independently). ``plans/consistent.py``
finds an ALIGNED set of snapshots; this module makes a chosen set
VISIBLE atomically: the catalog is one JSON pointer file mapping table
name → (path, snapshot_id), and a publish swaps the whole mapping in a
single compare-and-swap file replace. Readers that resolve tables
through the catalog therefore see either the old multi-table view or
the new one — never a mix — no matter how far each table's own main
pointer has advanced meanwhile. This is the Iceberg-REST-catalog
multi-table transaction, reduced to its essence on a filesystem.

Scale shape: a publish is metadata-only (one small file write guarded
by a version CAS); reads go through every table's ordinary pruned scan
paths at the pinned snapshots. Combine with
``consistent_watermark`` to pick source-aligned pins, then publish the
aligned view in one atomic step.

Retention caveat: a catalog pin does not stop ``expire_snapshots`` on
the underlying table — keep snapshot retention (or a branch) covering
every pinned snapshot, exactly like external Iceberg readers pin
snapshots today.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession

from ..lakehouse import SnapshotTable


class CatalogConflictError(RuntimeError):
    """The catalog advanced while this publish was being prepared —
    re-read, re-decide the pins, retry (optimistic concurrency, same
    model as the table-level commit)."""


class Catalog:
    """A named, versioned set of (table path, pinned snapshot) entries
    published atomically as one file."""

    def __init__(self, root: str):
        self.root = root

    # ---------- plumbing ----------

    def _path(self) -> str:
        return os.path.join(self.root, "catalog.json")

    def _read(self) -> dict:
        with open(self._path()) as f:
            return json.load(f)

    def _swap(self, doc: dict, expected_version: int) -> dict:
        """CAS write: the on-disk version must still be what this
        publish planned against. The version re-check plus atomic
        os.replace gives single-winner semantics on a POSIX dir (the
        same protocol as the table manifest's hint swap)."""
        cur = self._read()
        if cur["version"] != expected_version:
            raise CatalogConflictError(
                f"catalog advanced to version {cur['version']} while "
                f"publishing against {expected_version} — re-read and retry"
            )
        doc["version"] = expected_version + 1
        tmp = self._path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, self._path())
        return doc

    # ---------- lifecycle ----------

    @classmethod
    def create(cls, root: str) -> "Catalog":
        os.makedirs(root, exist_ok=True)
        c = cls(root)
        tmp = c._path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"version": 0, "tables": {}}, f, indent=1)
        os.replace(tmp, c._path())
        return c

    @classmethod
    def load(cls, root: str) -> "Catalog":
        c = cls(root)
        c._read()  # raises if missing
        return c

    # ---------- reads ----------

    def version(self) -> int:
        return int(self._read()["version"])

    def tables(self) -> dict[str, dict]:
        return dict(self._read()["tables"])

    def pinned(self, name: str) -> tuple[str, int]:
        e = self._read()["tables"].get(name)
        if e is None:
            raise KeyError(f"catalog has no table {name!r}")
        return e["path"], int(e["snapshot_id"])

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Read a table at its PINNED snapshot (repeatable: the table's
        own main may be far ahead). Ordinary pruned scan paths apply."""
        path, sid = self.pinned(name)
        return SnapshotTable.load(spark, path).read(snapshot_id=sid)

    # ---------- atomic publish ----------

    def publish(
        self,
        updates: Mapping[str, "SnapshotTable | tuple[str, int] | int"],
        expected_version: int | None = None,
    ) -> int:
        """Atomically re-pin a SET of tables; all visible together or
        not at all. Values may be a SnapshotTable (pins its CURRENT
        snapshot), an explicit ``(path, snapshot_id)``, or a bare
        snapshot id for a table already registered. Each pinned
        snapshot's manifest is stat-checked first so a publish can
        never install a dangling pointer. Returns the new version."""
        doc = self._read()
        version = doc["version"] if expected_version is None else expected_version
        tables = dict(doc["tables"])
        for name, v in updates.items():
            if isinstance(v, SnapshotTable):
                path, sid = v.path, v.manifest(refresh=True)["snapshot_id"]
            elif isinstance(v, tuple):
                path, sid = v[0], int(v[1])
            else:
                if name not in tables:
                    raise KeyError(
                        f"bare snapshot id for unregistered table {name!r}"
                    )
                path, sid = tables[name]["path"], int(v)
            mpath = os.path.join(path, "metadata", f"snap-{sid}.json")
            if not os.path.exists(mpath):
                raise ValueError(
                    f"table {name!r}: snapshot {sid} does not exist at "
                    f"{path} (expired or never committed) — refusing to "
                    "publish a dangling pin"
                )
            tables[name] = {"path": path, "snapshot_id": int(sid)}
        return int(
            self._swap({"version": None, "tables": tables}, version)["version"]
        )

    def publish_consistent(
        self,
        tables: Mapping[str, SnapshotTable],
        expected_version: int | None = None,
    ) -> tuple[int, int]:
        """Pin every table at the newest COMMON source-lsn watermark
        (plans/consistent.consistent_watermark) and publish the aligned
        view atomically. Returns (new catalog version, watermark)."""
        from .consistent import consistent_watermark

        w = consistent_watermark(tables.values())
        updates = {
            name: (t.path, t.snapshot_at_lsn(w))
            for name, t in tables.items()
        }
        return self.publish(updates, expected_version=expected_version), w
