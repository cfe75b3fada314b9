"""Object-store catalog: table discovery + ACID multi-table commits
over a shared storage root.

The reference exposes its tables to other engines through a catalog
whose source of truth lives IN object storage — pointer state mapping
table name → current metadata location, so any engine that can list
the catalog root can discover and read every table with no catalog
service running (reference behavior:
pg_lake_iceberg/src/object_store_catalog/object_store_catalog.c:28-60;
the REST-catalog half lives in tables/rest_catalog.py). The reference
additionally gets CROSS-TABLE transactions for free from Postgres
MVCC (SURVEY §2.9): a transaction touching several lake tables
becomes visible to other readers atomically. This module re-creates
that property Spark-side with the only primitive object storage
offers — an atomic single-object swap — by versioning the WHOLE
catalog state, the same shape as the public Iceberg REST catalog's
multi-table `commitTransaction` endpoint:

    <root>/manifest/v{N}.json — {"version": N, "tables": {name: entry}}
                                 published by put-if-absent (the CAS)
    <root>/manifest/hint.text — advisory latest-N (readers trust the
                                 directory listing, not the hint)

entry = {"name", "format": "iceberg"|"lake", "location",
         "metadata-location"? (iceberg pin), "snapshot-id"? (lake pin),
         "catalog-version" (bumps when THIS entry changes)}

Commit protocol: build the new table map on top of base manifest N,
publish v{N+1}.json with ``tables/commit.py``'s put-if-absent; if it
exists another writer won; reload, and if none of OUR staged tables
changed between N and the new tip, rebase and retry — otherwise raise
:class:`CatalogConflictError` (write-write conflict). A crash before
the publish leaves the catalog at N: staged table-level
snapshots exist in the table directories but are invisible through
the catalog — atomicity holds for every reader that resolves through
the catalog, exactly the reference's MVCC scope (an engine scanning
data files directly bypasses transactions there too).

Reads at a pinned version (:meth:`ObjectStoreCatalog.at_version`) give
repeatable-read across tables: every `read_table` resolves against
one frozen manifest, the catalog analog of a Postgres snapshot.
"""

from __future__ import annotations

import json
import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession

from pg_datalake_spark.session import local_frame
from pg_datalake_spark.tables.commit import CommitConflictError, advance_hint, put_if_absent

_log = logging.getLogger(__name__)


class CatalogConflictError(CommitConflictError):
    """Another transaction modified one of this transaction's tables."""


def _valid_name(name: str) -> str:
    if "/" in name or name.startswith("."):
        raise ValueError(f"invalid table name: {name!r}")
    return name


def _resolve_iceberg_entry(name: str, location: str) -> dict:
    """Pin ``name`` at the Iceberg table's CURRENT metadata file."""
    from pg_datalake_spark.tables.iceberg_external import load_table_metadata

    meta_dir = os.path.join(location, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    v = None
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
    if v:  # empty = torn hint read racing a writer (r16) — fall through
        metadata_location = os.path.join(meta_dir, f"v{v}.metadata.json")
    else:
        load_table_metadata(location)  # validates the table exists
        metadata_location = None
    return {
        "name": name,
        "format": "iceberg",
        "location": location,
        "metadata-location": metadata_location,
    }


def _resolve_lake_entry(name: str, root: str, pin: bool) -> dict:
    entry = {"name": name, "format": "lake", "location": root}
    if pin:
        from pg_datalake_spark.tables import LakeTable

        entry["snapshot-id"] = LakeTable.current_snapshot_id_at(root)
    return entry


class ObjectStoreCatalog:
    def __init__(self, root: str):
        self.root = root
        self._manifest_dir = os.path.join(root, "manifest")
        os.makedirs(self._manifest_dir, exist_ok=True)

    # -- manifest plumbing ----------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version}.json")

    def current_version(self) -> int:
        """Latest committed manifest version (0 = empty catalog).
        The directory listing is the truth; hint.text is advisory."""
        versions = [
            int(f[1:-5])
            for f in os.listdir(self._manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions, default=0)

    def _load_manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "tables": {}}
        try:
            with open(self._manifest_path(v)) as fh:
                return json.load(fh)
        except (json.JSONDecodeError, FileNotFoundError):
            # A corrupt/vanished tip can only be a crashed writer from the
            # pre-link era (or an fs that lies about link atomicity); fall
            # back one version rather than wedging every read — but SAY so,
            # readers are now serving stale state.
            if version is None and v > 1:
                _log.warning(
                    "catalog manifest v%d at %s is unreadable; serving v%d "
                    "(a commit will quarantine the corrupt tip)",
                    v, self._manifest_dir, v - 1,
                )
                return self._load_manifest(v - 1)
            raise

    def _quarantine_if_corrupt(self, version: int) -> bool:
        """True iff ``v{version}.json`` exists but is unreadable and has
        been renamed aside (``.corrupt-*``), freeing the CAS slot. Without
        this, a commit on top of the fallback base targets the corrupt
        version, 'loses' the race to a file that will never parse, and
        spins to a misleading CatalogConflictError."""
        path = self._manifest_path(version)
        try:
            with open(path) as fh:
                json.load(fh)
            return False
        except FileNotFoundError:
            return False
        except json.JSONDecodeError:
            aside = f"{path}.corrupt-{os.getpid()}-{int(time.time() * 1000)}"
            try:
                os.rename(path, aside)
            except FileNotFoundError:
                pass  # a concurrent writer quarantined it first — also fine
            _log.warning(
                "quarantined corrupt catalog manifest %s -> %s", path, aside
            )
            return True

    def _try_commit_manifest(self, base_version: int, tables: dict) -> bool:
        """CAS: publish the FULL manifest at ``v{base+1}.json``; False
        means another writer holds the slot."""
        new_version = base_version + 1
        text = json.dumps({"version": new_version, "tables": tables}, indent=2)
        try:
            put_if_absent(self._manifest_path(new_version), text)
        except CommitConflictError:
            return False
        # advisory hint for readers that prefer one GET over a LIST
        advance_hint(os.path.join(self._manifest_dir, "hint.text"), str(new_version))
        return True

    # -- write half (each call = a single-entry transaction) -----------------

    def register_iceberg(self, name: str, location: str) -> dict:
        """Point ``name`` at an Iceberg table's CURRENT metadata file
        (pinned — later snapshots need a re-register, exactly like the
        reference's metadata-location pointer semantics)."""
        txn = self.transaction()
        txn.stage_iceberg(name, location)
        return txn.commit()["tables"][name]

    def register_lake(self, name: str, root: str, pin: bool = False) -> dict:
        """Register an internal LakeTable. ``pin=True`` freezes the
        catalog view at the table's current snapshot (required for the
        table to participate in atomic cross-table visibility)."""
        txn = self.transaction()
        txn.stage_lake(name, root, pin=pin)
        return txn.commit()["tables"][name]

    def drop(self, name: str) -> None:
        txn = self.transaction()
        txn.stage_drop(name)
        txn.commit()

    def transaction(self) -> "CatalogTransaction":
        return CatalogTransaction(self)

    # -- read half (all an external engine needs) ---------------------------

    def exists(self, name: str) -> bool:
        return name in self._load_manifest()["tables"]

    def list_tables(self) -> list[str]:
        return sorted(self._load_manifest()["tables"])

    def describe(self, name: str) -> dict:
        return self._load_manifest()["tables"][name]

    def at_version(self, version: int) -> "CatalogView":
        """Frozen read view at a committed manifest version —
        repeatable-read across every table in the catalog."""
        if not 0 <= version <= self.current_version():
            raise ValueError(f"no such catalog version: {version}")
        return CatalogView(self, version)

    def tables_view(self, spark: SparkSession) -> DataFrame:
        """JDBC-catalog-style listing of every registered table — the
        union of internal (LakeTable) and external (Iceberg) entries
        (reference: the `iceberg_tables` view unioning
        `lake_iceberg.tables_internal/_external`)."""
        return CatalogView(self, self.current_version()).tables_view(spark)

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        return CatalogView(self, self.current_version()).read_table(spark, name)


class CatalogView:
    """Read-only catalog resolved against ONE manifest version."""

    def __init__(self, catalog: ObjectStoreCatalog, version: int):
        self.version = version
        self._tables = catalog._load_manifest(version)["tables"]

    def list_tables(self) -> list[str]:
        return sorted(self._tables)

    def describe(self, name: str) -> dict:
        return self._tables[name]

    def tables_view(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                name,
                e["format"],
                e["location"],
                e.get("metadata-location"),
                e.get("catalog-version"),
            )
            for name, e in sorted(self._tables.items())
        ]
        return local_frame(
            spark,
            rows,
            "table_name string, format string, location string, "
            "metadata_location string, catalog_version int",
        )

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Resolve a pointer and scan the table — Iceberg through the
        metadata layer (pinned to the registered metadata-location),
        LakeTable through its own scan (pinned to the registered
        snapshot-id when the entry carries one)."""
        entry = self._tables[name]
        if entry["format"] == "iceberg":
            from pg_datalake_spark.tables.iceberg_external import read_iceberg_table

            return read_iceberg_table(
                spark, entry["location"], metadata_file=entry.get("metadata-location")
            )
        if entry["format"] == "lake":
            from pg_datalake_spark.tables import LakeTable

            lt = LakeTable(spark, entry["location"])
            if "snapshot-id" in entry and entry["snapshot-id"] is None:
                # pinned while the table was still empty
                meta = lt._load()
                return local_frame(spark, [], lt._schema_from(meta))
            return lt.scan(snapshot_id=entry.get("snapshot-id"))
        raise ValueError(f"unknown table format {entry['format']!r} for {name}")


class CatalogTransaction:
    """Multi-table atomic commit: stage pointer changes, then swap the
    catalog manifest once. Table-level writes performed between
    ``transaction()`` and ``commit()`` stay invisible to catalog
    readers until the swap (their pointers still pin the old state)."""

    def __init__(self, catalog: ObjectStoreCatalog):
        self.catalog = catalog
        self.base = catalog._load_manifest()
        self._staged: dict[str, dict | None] = {}  # None = drop

    def _bump(self, entry: dict) -> dict:
        prev = self.base["tables"].get(entry["name"], {})
        entry["catalog-version"] = prev.get("catalog-version", 0) + 1
        return entry

    def stage_iceberg(self, name: str, location: str) -> "CatalogTransaction":
        self._staged[_valid_name(name)] = self._bump(
            _resolve_iceberg_entry(name, location)
        )
        return self

    def stage_lake(
        self, name: str, root: str, pin: bool = False
    ) -> "CatalogTransaction":
        self._staged[_valid_name(name)] = self._bump(
            _resolve_lake_entry(name, root, pin)
        )
        return self

    def stage_drop(self, name: str) -> "CatalogTransaction":
        if name not in self.base["tables"]:
            raise KeyError(f"no such table: {name}")
        self._staged[name] = None
        return self

    def refresh(self, name: str) -> "CatalogTransaction":
        """Re-pin an already-registered table at its CURRENT table-level
        state — the verb that makes a batch of table-level commits
        catalog-visible in one swap."""
        entry = self.base["tables"][name]
        if entry["format"] == "iceberg":
            return self.stage_iceberg(name, entry["location"])
        return self.stage_lake(name, entry["location"], pin="snapshot-id" in entry)

    def commit(self, max_retries: int = 5) -> dict:
        """Apply every staged change in ONE manifest swap. Loses to a
        concurrent commit only if it touched one of OUR tables
        (:class:`CatalogConflictError`); disjoint writers rebase."""
        if not self._staged:
            raise ValueError("empty transaction")
        base = self.base
        for _ in range(max_retries):
            tables = dict(base["tables"])
            for name, entry in self._staged.items():
                if entry is None:
                    tables.pop(name, None)
                else:
                    tables[name] = entry
            if self.catalog._try_commit_manifest(base["version"], tables):
                return {"version": base["version"] + 1, "tables": tables}
            if self.catalog._quarantine_if_corrupt(base["version"] + 1):
                continue  # lost to an unreadable tip, not a real writer — retry
            tip = self.catalog._load_manifest()
            for name in self._staged:
                if tip["tables"].get(name) != self.base["tables"].get(name):
                    raise CatalogConflictError(
                        f"table {name!r} changed concurrently "
                        f"(catalog v{self.base['version']} → v{tip['version']})"
                    )
            base = tip  # disjoint writer won the race — rebase
        raise CatalogConflictError(f"lost the manifest CAS {max_retries} times")
