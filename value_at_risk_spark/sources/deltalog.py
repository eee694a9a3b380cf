"""Native Delta Lake transaction-log reader/writer (no delta-spark).

The reference persists every pipeline table as Delta and relies on its
ACID append/overwrite + time travel (`/root/reference/config/
configure_notebook.py:18-27`, `01_var_market_etl.py:56-64`,
`03_var_monte_carlo.py:162`). The engine does not depend on
delta-spark, and the registry's ``fmt="deltalog"`` is its Delta
format; this module implements the subset of the OPEN Delta protocol
(delta-io PROTOCOL.md, public spec) those semantics actually need,
with nothing but PySpark + stdlib:

- newline-delimited JSON commits at ``_delta_log/{version:020d}.json``
  holding ``protocol`` / ``metaData`` / ``add`` / ``remove`` /
  ``commitInfo`` actions;
- snapshot reconstruction by log replay — DRIVER-side, which is the
  same design as delta-spark's own Snapshot: the log is metadata,
  bounded by file count, never by data size; the data read itself
  stays a distributed parquet scan over the active file set;
- atomic commits: the writer stages data files under a unique subdir
  of the table root (referenced via relative ``add.path`` — no rename
  of data files at all), then publishes the commit JSON with a
  hard-link (``os.link`` fails with EEXIST if a concurrent writer won
  the version — optimistic concurrency exactly as the protocol
  prescribes), retrying at the next version on conflict;
- parquet checkpoints (single-part) + ``_last_checkpoint``, so replay
  cost stays O(commits since checkpoint);
- version time travel on read; append/overwrite modes with schema
  enforcement; Hive-style partition layout with partition values
  recovered through Spark's partition discovery against the declared
  schema (types come from ``metaData.schemaString``, not inference).

Column mapping mode 'name' is READ-supported (physical-name scan,
logical rename; every mutation refuses a mapped table so it is never
corrupted). Generated columns (writer feature 4) are supported:
missing values computed, provided values validated, UPDATE
re-validated. Out of scope (documented, not silently wrong):
multi-part checkpoints, deletion vectors, column mapping mode 'id' —
readers of THIS module's tables need none of them, and foreign tables
using those features fail loudly (unknown action fields are ignored
per protocol; unsupported reader-version asserts).
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from urllib.parse import quote, unquote

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    VariantType,
)

_LOG = "_delta_log"
_LAST = "_last_checkpoint"


class DeltaConcurrentModification(RuntimeError):
    """The table tip moved past the caller's read snapshot before the
    commit could publish (expected_version mismatch). Re-read and
    retry."""


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _commit_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.json")


def _checkpoint_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.checkpoint.parquet")


def _checkpoint_part_path(
    path: str, version: int, part: int, num_parts: int
) -> str:
    """Classic multi-part checkpoint name (protocol:
    ``<v>.checkpoint.<part>.<numParts>.parquet``, 1-indexed)."""
    return os.path.join(
        _log_dir(path),
        f"{version:020d}.checkpoint.{part:010d}.{num_parts:010d}.parquet",
    )


def _checkpoint_files(path: str, version: int) -> list[str]:
    """The COMPLETE checkpoint file set for ``version`` — the
    single-part file, or every part of a complete multi-part set
    (readers must ignore partial sets; a torn writer leaves one)."""
    single = _checkpoint_path(path, version)
    if os.path.exists(single):
        return [single]
    try:
        names = os.listdir(_log_dir(path))
    except OSError:
        return []
    prefix = f"{version:020d}.checkpoint."
    # group parts by their numParts value: a torn writer's leftover
    # set (different numParts) in listdir order must never mask a
    # COMPLETE set for the same version
    by_np: dict[int, dict[int, str]] = {}
    v2_manifests: list[str] = []
    for n in names:
        if not (n.startswith(prefix) and n.endswith(".parquet")):
            continue
        mid = n[len(prefix):-len(".parquet")]
        bits = mid.split(".")
        if len(bits) == 2 and all(b.isdigit() for b in bits):
            p, np_ = int(bits[0]), int(bits[1])
            by_np.setdefault(np_, {})[p] = os.path.join(_log_dir(path), n)
        elif len(bits) == 1 and bits[0]:
            # V2 checkpoint manifest (<v>.checkpoint.<uniqueStr>.parquet);
            # several may coexist — any complete one is usable
            v2_manifests.append(os.path.join(_log_dir(path), n))
    for np_, parts in sorted(by_np.items()):
        if len(parts) == np_:
            return [parts[i] for i in range(1, np_ + 1)]
    if v2_manifests:
        return [sorted(v2_manifests)[0]]
    return []


def _json_versions(path: str) -> list[int]:
    """Versions with a commit JSON present, ascending."""
    try:
        names = os.listdir(_log_dir(path))
    except OSError:
        return []
    out = []
    for n in names:
        stem, ext = os.path.splitext(n)
        if ext == ".json" and len(stem) == 20 and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _checkpoint_versions(path: str) -> list[int]:
    """Versions with a checkpoint parquet present, ascending."""
    try:
        names = os.listdir(_log_dir(path))
    except OSError:
        return []
    out = set()
    maybe_multi = set()
    for n in names:
        if n.endswith(".checkpoint.parquet"):
            stem = n[: -len(".checkpoint.parquet")]
            if len(stem) == 20 and stem.isdigit():
                out.add(int(stem))
        elif ".checkpoint." in n and n.endswith(".parquet"):
            stem = n.split(".checkpoint.", 1)[0]
            if len(stem) == 20 and stem.isdigit():
                maybe_multi.add(int(stem))
    for v in maybe_multi - out:
        # only COMPLETE multi-part sets anchor a version
        if _checkpoint_files(path, v):
            out.add(v)
    return sorted(out)


def delta_versions(path: str) -> list[int]:
    """Addressable versions, ascending: commit JSONs plus checkpoint
    anchors (a checkpoint alone bootstraps its version even after
    ``cleanup_delta_log`` removed the superseded JSONs — real Delta's
    behavior). Empty list = not a delta table."""
    return sorted(set(_json_versions(path)) | set(_checkpoint_versions(path)))


@dataclass
class DeltaSnapshot:
    version: int
    metadata: dict
    protocol: dict
    files: dict  # add.path -> add action dict
    txns: dict | None = None  # txn.appId -> highest committed version
    domains: dict | None = None  # domainMetadata: domain -> configuration

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])


def _latest_checkpoint(path: str, version: int) -> int | None:
    """Newest single-part checkpoint at or below ``version`` —
    ``_last_checkpoint`` is a hint; the directory listing is truth."""
    try:
        names = os.listdir(_log_dir(path))
    except OSError:
        return None
    best = None
    maybe_multi = set()
    for n in names:
        if n.endswith(".checkpoint.parquet"):
            stem = n[: -len(".checkpoint.parquet")]
            if len(stem) == 20 and stem.isdigit() and int(stem) <= version:
                v = int(stem)
                best = v if best is None or v > best else best
        elif ".checkpoint." in n and n.endswith(".parquet"):
            stem = n.split(".checkpoint.", 1)[0]
            if len(stem) == 20 and stem.isdigit() and int(stem) <= version:
                maybe_multi.add(int(stem))
    for v in maybe_multi:
        if (best is None or v > best) and _checkpoint_files(path, v):
            best = v
    return best


def _apply_actions(snap: DeltaSnapshot, actions) -> None:
    if snap.txns is None:
        snap.txns = {}
    if snap.domains is None:
        snap.domains = {}
    for a in actions:
        if "domainMetadata" in a and a["domainMetadata"] is not None:
            dm = a["domainMetadata"]
            if dm.get("removed"):
                snap.domains.pop(dm["domain"], None)
            else:
                snap.domains[dm["domain"]] = dm.get("configuration", "")
        if "txn" in a and a["txn"] is not None:
            t = a["txn"]
            prev = snap.txns.get(t["appId"])
            if prev is None or t["version"] > prev:
                snap.txns[t["appId"]] = t["version"]
        if "metaData" in a and a["metaData"] is not None:
            snap.metadata = a["metaData"]
        if "protocol" in a and a["protocol"] is not None:
            snap.protocol = a["protocol"]
        if "remove" in a and a["remove"] is not None:
            snap.files.pop(a["remove"]["path"], None)
        if "add" in a and a["add"] is not None:
            snap.files[a["add"]["path"]] = a["add"]


def _apply_checkpoint_row(snap: DeltaSnapshot, row: dict) -> None:
    """One checkpoint parquet row -> snapshot state (pyarrow map
    columns arrive as (k, v) tuple lists and are normalized here)."""
    add = row.get("add")
    if add is not None and not isinstance(
        add.get("partitionValues"), (dict, type(None))
    ):
        add = {**add, "partitionValues": dict(add["partitionValues"])}
        row = {**row, "add": add}
    meta = row.get("metaData")
    if meta is not None and not isinstance(
        meta.get("configuration"), (dict, type(None))
    ):
        meta = {**meta, "configuration": dict(meta["configuration"])}
        row = {**row, "metaData": meta}
    _apply_actions(snap, [row])


def _replay_checkpoint(snap: DeltaSnapshot, path: str, cp: int) -> None:
    """Bootstrap snapshot state from the checkpoint at version ``cp``:
    classic single/multi-part files, or a V2 manifest whose file
    actions may live in SIDECAR parquets under ``_delta_log/_sidecars``
    (v2Checkpoint table feature; this engine also WRITES the v2 form
    when delta.checkpointPolicy=v2 — _write_v2_checkpoint)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _checkpoint_files(path, cp)
    tbl = pa.concat_tables(
        [pq.read_table(f) for f in files], promote_options="permissive"
    )
    sidecars: list[str] = []
    for row in tbl.to_pylist():
        sc = row.get("sidecar")
        if sc is not None and sc.get("path"):
            sidecars.append(sc["path"])
            continue
        _apply_checkpoint_row(snap, row)
    for rel in sidecars:
        full = os.path.join(_log_dir(path), "_sidecars", unquote(rel))
        if not os.path.exists(full):
            raise FileNotFoundError(
                f"v2 checkpoint at version {cp}: sidecar {rel} missing "
                f"from {path}"
            )
        for row in pq.read_table(full).to_pylist():
            _apply_checkpoint_row(snap, row)


def snapshot(path: str, version: int | None = None) -> DeltaSnapshot:
    """Reconstruct table state at ``version`` (default: latest) by
    replaying the newest checkpoint at-or-below it plus the JSON
    commits after it. A checkpoint alone anchors its version (commit
    JSONs at or below it may have been removed by
    ``cleanup_delta_log``). Raises FileNotFoundError for a non-table,
    ValueError for a version that was never committed or whose replay
    chain was cleaned away."""
    jsons = set(_json_versions(path))
    versions = sorted(jsons | set(_checkpoint_versions(path)))
    if not versions:
        raise FileNotFoundError(f"not a delta table (no {_LOG}): {path}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(
            f"delta version {version} not in log (have {versions[0]}.."
            f"{versions[-1]})"
        )
    snap = DeltaSnapshot(
        version=version, metadata={}, protocol={}, files={}, txns={},
        domains={},
    )
    start = 0
    cp = _latest_checkpoint(path, version)
    if cp is not None:
        _replay_checkpoint(snap, path, cp)
        start = cp + 1
    # versions are contiguous integers by construction (each commit is
    # tip+1), so replay the exact range and fail LOUDLY on a gap — a
    # cleaned commit must never silently drop actions from the replay
    for v in range(start, version + 1):
        if v not in jsons:
            raise ValueError(
                f"delta version {version} not replayable at {path}: "
                f"commit {v} was cleaned and no checkpoint covers it"
            )
        with open(_commit_path(path, v)) as fh:
            _apply_actions(
                snap, (json.loads(line) for line in fh if line.strip())
            )
    rv = int(snap.protocol.get("minReaderVersion", 1) or 1)
    if rv == 3:
        # table features (protocol v3): readable iff every listed
        # reader feature is one this module implements; a missing
        # list is malformed (the spec requires it) — refuse
        feats = snap.protocol.get("readerFeatures")
        unsupported = (
            set(feats) - _SUPPORTED_READER_FEATURES
            if feats is not None
            else {"<missing readerFeatures list>"}
        )
        if unsupported:
            raise NotImplementedError(
                f"delta table at {path} requires reader features "
                f"{sorted(unsupported)} this native reader does not "
                "implement"
            )
    elif rv > 2:
        raise NotImplementedError(
            f"delta reader version {rv} requires features this native "
            "reader does not implement"
        )
    if not snap.metadata:
        raise ValueError(f"delta log at {path} has no metaData action")
    return snap


# table-features support matrix (protocol reader v3 / writer v7):
# every feature named here is implemented by this module; anything
# else fails loudly rather than silently mis-reading/corrupting.
_SUPPORTED_READER_FEATURES = frozenset(
    {
        "columnMapping",
        "timestampNtz",
        "vacuumProtocolCheck",
        "deletionVectors",
        # manifest + sidecar replay (_replay_checkpoint) on read;
        # the v2 form is also WRITTEN when delta.checkpointPolicy=v2
        # (_write_v2_checkpoint)
        "v2Checkpoint",
        # widened logical schemas over narrower physical files: both
        # scan paths read under the DECLARED schema (Spark's parquet
        # reader / pyarrow cast upcast int->long, float->double, ...);
        # a widening neither can express fails LOUDLY at scan, never
        # silently misreads. Writer-side: widen_column_type commits
        # the metadata-only change (delta.typeChanges history).
        "typeWidening",
        "typeWidening-preview",
    }
)
_SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "generatedColumns",
        "timestampNtz",
        "deletionVectors",
        "identityColumns",
        "inCommitTimestamp",
        "domainMetadata",
        "clustering",
        # 'name'/'id'-mode writes: create/append stage PHYSICAL
        # column names (write_delta translates), RENAME/DROP COLUMN
        # are metadata-only commits, and DELETE/UPDATE/MERGE/OPTIMIZE/
        # REORG run through the _mapping_planes logical<->physical
        # adapter; the few remaining logical-name mutations refuse
        # per-mutation (_refuse_mapped_write)
        "columnMapping",
        # ALTER COLUMN TYPE widening commits are metadata-only; later
        # appends stage the WIDE type the schema declares
        "typeWidening",
        "typeWidening-preview",
        # baseRowId/defaultRowCommitVersion on every add, high-water
        # mark in the delta.rowTracking domain, materialized row-id
        # column on rewrites (commit_staged_adds._rt_assign et al.)
        "rowTracking",
        # checkpoint_delta dispatches on delta.checkpointPolicy and
        # writes the manifest+sidecar form for v2 tables
        "v2Checkpoint",
        # vacuum_delta validates the FULL protocol (reader portion via
        # snapshot(), writer portion explicitly) before deleting
        # anything — the exact obligation the feature imposes. Modern
        # delta-spark declares this on new tables, so refusing it
        # would refuse most foreign tables outright.
        "vacuumProtocolCheck",
        # CURRENT_DEFAULT field metadata; the SQL INSERT path fills
        # omitted columns with their defaults (set_column_default /
        # table_default_columns); frame appends enforce schema
        # equality, which is stricter than the feature requires
        "allowColumnDefaults",
        # cleanup_delta_log never cleans commits before
        # delta.requireCheckpointProtectionBeforeVersion unless the
        # truncation is anchored by a checkpoint at-or-after the
        # boundary (one-go past it) — the feature's obligation
        "checkpointProtection",
    }
)


def _protocol_action(
    snap: DeltaSnapshot,
    min_writer: int,
    need_feature: str | None = None,
) -> dict:
    """A protocol action that RAISES a table's writer requirement
    without dropping anything it already declares: legacy tables bump
    minWriterVersion; feature-listed tables (wv 7) add
    ``need_feature`` to writerFeatures. Never downgrades."""
    # checkpoint-replayed protocols carry explicit None for absent
    # feature lists — drop them so legacy protocols stay legacy-shaped
    p = {k: v for k, v in dict(snap.protocol).items() if v is not None}
    p["minReaderVersion"] = int(p.get("minReaderVersion", 1) or 1)
    wv = int(p.get("minWriterVersion", 2) or 2)
    if wv == 7:
        if need_feature:
            feats = set(p.get("writerFeatures") or [])
            feats.add(need_feature)
            p["writerFeatures"] = sorted(feats)
        p["minWriterVersion"] = 7
    else:
        p["minWriterVersion"] = max(wv, min_writer)
    return {"protocol": p}


def _pruned_active(
    snap: DeltaSnapshot,
    partition_filters: dict[str, list[str]] | None = None,
    stats_filters: list[tuple] | None = None,
) -> list[str]:
    """The snapshot's active file list (sorted) after metadata-layer
    pruning — partition_filters against ``add.partitionValues`` and
    stats_filters against per-file footer stats. Shared by read_delta
    and the copy-on-write DML (DELETE/UPDATE candidate selection)."""
    active = sorted(snap.files)
    if partition_filters:
        unknown = set(partition_filters) - set(snap.partition_columns)
        if unknown:
            raise ValueError(
                f"read_delta: partition_filters on non-partition "
                f"columns {sorted(unknown)}"
            )
        def _keep(p: str) -> bool:
            pv = snap.files[p].get("partitionValues") or {}
            if not isinstance(pv, dict):  # checkpoint map round-trip
                pv = dict(pv)
            return all(
                pv.get(c) in vals for c, vals in partition_filters.items()
            )
        active = [p for p in active if _keep(p)]
    if stats_filters:
        ops = {"=", "<", "<=", ">", ">="}
        for _c, op, _v in stats_filters:
            if op not in ops:
                raise ValueError(f"read_delta: unknown stats op {op!r}")

        def _may_match(p: str) -> bool:
            raw = snap.files[p].get("stats")
            if not raw:
                return True  # no stats: conservative keep
            try:
                st = json.loads(raw) if isinstance(raw, str) else raw
            except (TypeError, ValueError):
                return True
            for col, op, val in stats_filters:
                mn = (st.get("minValues") or {}).get(col)
                mx = (st.get("maxValues") or {}).get(col)
                if mn is None or mx is None:
                    continue
                try:
                    if op == "=" and (val < mn or val > mx):
                        return False
                    if op == ">" and mx <= val:
                        return False
                    if op == ">=" and mx < val:
                        return False
                    if op == "<" and mn >= val:
                        return False
                    if op == "<=" and mn > val:
                        return False
                except TypeError:
                    continue  # incomparable types: keep
            return True

        active = [p for p in active if _may_match(p)]
    return active


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filters: dict[str, list[str]] | None = None,
    stats_filters: list[tuple] | None = None,
    timestamp=None,
) -> DataFrame:
    """Snapshot-consistent DataFrame over the active file set — a
    plain distributed parquet scan (predicate pushdown, column
    pruning, and partition-dir pruning all intact). Partition column
    values come from the Hive-style directory layout, TYPED by the
    table schema rather than re-inferred.

    ``partition_filters``: {col: allowed string values} pruned against
    ``add.partitionValues`` at the LOG level — files of excluded
    partitions never even reach the scan plan (Delta's metadata-layer
    file skipping; a null partition matches the value None).

    ``stats_filters``: [(col, op, value)] with op in
    {'=', '<', '<=', '>', '>='} pruned against each add's footer
    stats (minValues/maxValues) — a file is dropped only when its
    stats PROVE no row can match; files without stats are kept. This
    prunes FILES, not rows: the caller still applies the actual row
    predicate (same contract as Delta's own data skipping, where the
    engine does both).

    Column-mapped tables are supported in BOTH modes: the scan runs
    against the PHYSICAL column names the data files carry, then
    renames to the logical schema; filters arrive in logical names
    and are translated. Mode 'id' additionally resolves data columns
    by parquet FIELD ID (the schema carries ``parquet.field.id``
    metadata; the fieldId.read conf is a get_spark session DEFAULT,
    re-asserted here for foreign sessions and deliberately not
    restored — the returned frame is LAZY, so a scoped set/restore
    would strip the conf before the caller's action runs; it only
    affects reads whose requested schema carries field-id metadata).

    ``timestamp`` (TIMESTAMP AS OF; exclusive with ``version``):
    epoch seconds, datetime, or ISO-8601 string — resolved to the
    newest version committed at or before it (version_at_timestamp)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "read_delta: version and timestamp are mutually "
                "exclusive"
            )
        version = version_at_timestamp(path, timestamp)
    snap = snapshot(path, version)
    l2p = _column_mapping(snap)
    if l2p is not None:
        logical_cols = _to_logical_cols(snap, l2p)
        by_id = _cm_mode(snap) == "id"
        if by_id:
            # 'id' mode: data columns resolve by parquet FIELD ID —
            # the schema carries parquet.field.id metadata and the
            # reader-side conf turns id matching on (files lacking
            # ids then fail loud instead of matching by name)
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        snap = _physicalized(snap, l2p, keep_ids=by_id)
        if partition_filters:
            partition_filters = {
                l2p.get(c, c): v for c, v in partition_filters.items()
            }
        if stats_filters:
            stats_filters = [
                (l2p.get(c, c), op, v) for c, op, v in stats_filters
            ]
        phys = _read_snapshot(
            spark, path, snap, partition_filters, stats_filters
        )
        return phys.select(*logical_cols)
    return _read_snapshot(spark, path, snap, partition_filters, stats_filters)


def _cm_mode(snap: DeltaSnapshot) -> str:
    """The table's column-mapping mode: 'none', 'name', or 'id'."""
    return (snap.metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) or "none"


def _column_mapping(snap: DeltaSnapshot) -> dict[str, str] | None:
    """TOP-LEVEL logical -> physical name map when the table uses
    column mapping ('name' OR 'id' mode — the spec requires
    physicalName in both; 'id' mode readers must additionally resolve
    DATA columns by parquet field id, which read_delta wires via the
    schema's ``parquet.field.id`` metadata); None when unmapped.
    NESTED physical names are handled by the cast planes
    (``_phys_field_json`` + positional struct casts), not this map —
    its consumers (partition/stats filter translation, add-file
    partitionValues) only ever see top-level names."""
    mode = _cm_mode(snap)
    if mode == "none":
        return None
    if mode not in ("name", "id"):
        raise NotImplementedError(
            f"delta.columnMapping.mode={mode!r} not supported "
            "(only 'name', 'id' and 'none')"
        )
    sch = json.loads(snap.metadata["schemaString"])
    l2p: dict[str, str] = {}
    for f in sch["fields"]:
        md = f.get("metadata") or {}
        l2p[f["name"]] = md.get(
            "delta.columnMapping.physicalName", f["name"]
        )
    return l2p


def _walk_field_json(f: dict, field_fn, type_fn=None) -> dict:
    """THE schemaString walker every field-json transform shares:
    containers recurse first (struct fields, array elements, map
    keys/values), ``type_fn`` (optional) rewrites each rebuilt
    container dict, then ``field_fn(field) -> field`` runs at EVERY
    field level with the rebuilt type already in place. One walker so
    the physical/clean/relaxed planes can never silently diverge on
    a container kind."""

    def _type(t):
        if isinstance(t, dict):
            k = t.get("type")
            if k == "struct":
                t = {
                    "type": "struct",
                    "fields": [_field(nf) for nf in t.get("fields", [])],
                }
            elif k == "array":
                t = {**t, "elementType": _type(t["elementType"])}
            elif k == "map":
                t = {
                    **t,
                    "keyType": _type(t["keyType"]),
                    "valueType": _type(t["valueType"]),
                }
            if type_fn is not None:
                t = type_fn(t)
        return t

    def _field(f: dict) -> dict:
        return field_fn({**f, "type": _type(f.get("type"))})

    return _field(f)


def _phys_field_json(f: dict, keep_ids: bool) -> dict:
    """The PHYSICAL twin of one schemaString field json: renamed to
    its ``delta.columnMapping.physicalName`` at EVERY nesting level
    (struct fields inside structs, array elements, map keys/values),
    mapping metadata replaced by ``parquet.field.id`` when
    ``keep_ids`` — the id Spark's parquet field-id writer emits and
    its reader resolves by. Positional layout is preserved exactly
    (mapping renames, never reorders), which is what lets the read
    side rename back with a positional struct cast."""

    def fn(f: dict) -> dict:
        md = f.get("metadata") or {}
        out_md: dict = {}
        if keep_ids and "delta.columnMapping.id" in md:
            out_md["parquet.field.id"] = int(md["delta.columnMapping.id"])
        return {
            "name": md.get("delta.columnMapping.physicalName", f["name"]),
            "type": f["type"],
            "nullable": f.get("nullable", True),
            "metadata": out_md,
        }

    return _walk_field_json(f, fn)


def _clean_field_json(f: dict) -> dict:
    """The LOGICAL field json with writer bookkeeping metadata
    (column-mapping ids/physicalNames, identity specs) stripped at
    every nesting level — the clean cast target for renaming a
    physically-scanned frame back to logical names without leaking
    log-internal metadata into user-facing schemas."""
    return _walk_field_json(
        f,
        lambda f: {
            "name": f["name"],
            "type": f["type"],
            "nullable": f.get("nullable", True),
            "metadata": {},
        },
    )


def _field_from_json(f_json: dict):
    """One schemaString field json -> pyspark StructField."""
    from pyspark.sql.types import StructType as _ST

    return _ST.fromJson({"type": "struct", "fields": [f_json]}).fields[0]


def _relax_nulls_json(f: dict) -> dict:
    """A field json with nullable/containsNull/valueContainsNull
    forced TRUE at every nesting level (metadata untouched). Rename
    casts need this: Spark's file scans mark everything nullable
    regardless of the declared schema, and a cast from a nullable
    container to a non-null one is refused (CAST_WITHOUT_SUGGESTION)
    — so a schemaString that recorded containsNull=false (non-null
    build expressions) would break the logical<->physical rename.
    Nullability ENFORCEMENT stays with the write-side null checks;
    the cast only renames."""

    def type_fn(t: dict) -> dict:
        if t.get("type") == "array":
            return {**t, "containsNull": True}
        if t.get("type") == "map":
            return {**t, "valueContainsNull": True}
        return t

    return _walk_field_json(
        f, lambda f: {**f, "nullable": True}, type_fn=type_fn
    )


def _bare_type_json(dt) -> object:
    """A DataType's json with field METADATA stripped at every
    nesting level — the shape schema-equality checks compare, so
    column-mapping/identity bookkeeping on nested StructFields never
    false-fails an append whose frame carries clean types."""
    return _clean_field_json(
        {"name": "_", "type": dt.jsonValue(), "nullable": True}
    )["type"]


def _assign_mapping_ids(
    sch: dict,
    start: int = 0,
    only_missing: bool = False,
    keep_names: bool = False,
) -> int:
    """Column-mapping id/physicalName assignment: walk a schemaString
    json depth-first assigning ``delta.columnMapping.id`` (dense from
    ``start + 1``) and a fresh ``col-<uuid>`` physicalName to EVERY
    struct field at every nesting level (struct-in-struct, array
    elements, map values — anywhere the protocol attaches field
    metadata). ``only_missing`` (schema evolution): fields that
    already carry an id keep it untouched — only NEW fields (and
    their nested children) get assignments. ``keep_names`` (mid-life
    'name'-mode UPGRADE of an existing table): physicalName = the
    CURRENT field name, because the table's files already carry those
    names — exactly delta-spark's upgrade semantics; fresh col-<uuid>
    names would orphan every existing file. Mutates ``sch`` in place;
    returns the new max id for ``delta.columnMapping.maxColumnId``.
    Keeps its own PRE-ORDER walk (parent ids before children —
    delta-spark's assignment order) rather than composing with the
    post-order ``_walk_field_json``."""
    next_id = start

    def _type(t):
        if isinstance(t, dict):
            k = t.get("type")
            if k == "struct":
                for nf in t.get("fields", []):
                    _field(nf)
            elif k == "array":
                _type(t.get("elementType"))
            elif k == "map":
                _type(t.get("keyType"))
                _type(t.get("valueType"))

    def _field(f: dict) -> None:
        nonlocal next_id
        md = f.get("metadata") or {}
        if not (only_missing and "delta.columnMapping.id" in md):
            next_id += 1
            f["metadata"] = {
                **md,
                "delta.columnMapping.id": next_id,
                "delta.columnMapping.physicalName": (
                    f["name"] if keep_names else f"col-{uuid.uuid4()}"
                ),
            }
        _type(f.get("type"))

    for f in sch["fields"]:
        _field(f)
    return next_id


def _to_logical_cols(snap: DeltaSnapshot, l2p: dict[str, str]) -> list:
    """Projection renaming a PHYSICALLY-scanned frame of ``snap``'s
    data columns back to logical names: flat columns alias straight
    across; complex columns (struct / array / map — anywhere a nested
    physicalName can hide) go through a positional cast to the clean
    logical type, which renames nested fields in place (struct casts
    bind by position in Spark, and mapping never reorders)."""
    sch = json.loads(snap.metadata["schemaString"])
    cols = []
    for f in sch["fields"]:
        c = _qcol(l2p[f["name"]])
        if isinstance(f.get("type"), dict):
            c = c.cast(
                _field_from_json(
                    _relax_nulls_json(_clean_field_json(f))
                ).dataType
            )
        cols.append(c.alias(f["name"]))
    return cols


def _physicalized(
    snap: DeltaSnapshot,
    l2p: dict[str, str],
    keep_ids: bool = False,
) -> DeltaSnapshot:
    """A snapshot whose schema/partitionColumns carry the PHYSICAL
    names — what the data files and add.partitionValues actually use —
    so the ordinary scan machinery runs unchanged. Nested fields are
    renamed too (``_phys_field_json``). ``keep_ids`` ('id' mode):
    each field keeps a ``parquet.field.id`` metadata entry at every
    nesting level (sourced from its own ``delta.columnMapping.id``)
    so Spark's parquet reader resolves DATA columns by field id
    rather than by name (the file's column names are not trustworthy
    in that mode)."""
    sch = json.loads(snap.metadata["schemaString"])
    sch["fields"] = [
        _phys_field_json(f, keep_ids=keep_ids) for f in sch["fields"]
    ]
    md = {
        **snap.metadata,
        "schemaString": json.dumps(sch),
        "partitionColumns": [
            l2p.get(c, c) for c in (snap.metadata.get("partitionColumns") or [])
        ],
    }
    return DeltaSnapshot(
        version=snap.version,
        metadata=md,
        protocol=snap.protocol,
        files=snap.files,
        txns=snap.txns,
        domains=snap.domains,
    )


def _q(name: str) -> str:
    """Backtick-quote a column name for string-based resolution: a
    foreign writer may assign physicalNames containing dots or spaces
    (the spec allows any string), and an unquoted ``select("col-x.y")``
    would resolve the dot as struct access."""
    return "`" + name.replace("`", "``") + "`"


def _qcol(name: str):
    return F.col(_q(name))


def _mapping_planes(spark: SparkSession, snap: DeltaSnapshot):
    """The logical/physical plane adapter DML paths run through on
    column-mapped tables: returns ``(io_snap, to_logical,
    to_physical, l2p)``. ``io_snap`` carries PHYSICAL names (what the
    data files, add.partitionValues, and footer stats actually use)
    so the ordinary scan/stage machinery runs unchanged; ``to_logical``
    renames a physically-scanned frame to logical names (condition
    and SET expressions evaluate there); ``to_physical`` renames back
    for staging, re-attaching ``parquet.field.id`` metadata in 'id'
    mode so restaged files stay field-id-resolvable. Non-table
    columns (``__dv_fp``/``__dv_ri`` scan metadata, the materialized
    row-id column, ``_change_type``) pass through both directions
    untouched. On an unmapped table returns ``(snap, identity,
    identity, None)`` so callers need no branching."""
    l2p = _column_mapping(snap)
    if l2p is None:
        ident = lambda df: df  # noqa: E731
        return snap, ident, ident, None
    by_id = _cm_mode(snap) == "id"
    if by_id:
        # session default (get_spark) — re-assert for foreign sessions;
        # the restage scans below execute eagerly inside the DML call,
        # but the conf must survive for any still-lazy reader frames,
        # so no restore (see read_delta's docstring)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    io_snap = _physicalized(snap, l2p, keep_ids=by_id)
    sch = json.loads(snap.metadata["schemaString"])
    # per-column cast-plane entries: complex columns rename nested
    # fields via positional casts; flat columns alias straight across
    by_logical: dict[str, tuple] = {}
    by_physical: dict[str, tuple] = {}
    for f in sch["fields"]:
        # rename-cast targets are nullability-relaxed: the scan side
        # is always nullable (file sources), and enforcement lives
        # with the write-side null checks, not the rename
        pf = _relax_nulls_json(_phys_field_json(f, keep_ids=True))
        lf = _relax_nulls_json(_clean_field_json(f))
        complex_ = isinstance(f.get("type"), dict)
        by_logical[f["name"]] = (pf, complex_)
        by_physical[pf["name"]] = (lf, complex_)

    def to_logical(df: DataFrame) -> DataFrame:
        cols = []
        for c in df.columns:
            hit = by_physical.get(c)
            if hit is None:
                cols.append(_qcol(c))
                continue
            lf, complex_ = hit
            col = _qcol(c)
            if complex_:
                col = col.cast(_field_from_json(lf).dataType)
            cols.append(col.alias(lf["name"]))
        return df.select(*cols)

    def to_physical(df: DataFrame) -> DataFrame:
        cols = []
        for c in df.columns:
            hit = by_logical.get(c)
            if hit is None:
                cols.append(_qcol(c))
                continue
            pf, complex_ = hit
            col = _qcol(c)
            if complex_:
                # the cast target carries nested parquet.field.id
                # metadata — Spark's field-id writer emits those into
                # restaged files, keeping 'id'-mode resolvability at
                # every nesting level
                col = col.cast(_field_from_json(pf).dataType)
            cols.append(col.alias(pf["name"], metadata=pf["metadata"]))
        return df.select(*cols)

    return io_snap, to_logical, to_physical, l2p


def _map_filter_names(
    l2p: dict[str, str] | None,
    partition_filters: dict[str, list[str]] | None,
    stats_filters: list[tuple] | None,
) -> tuple[dict[str, list[str]] | None, list[tuple] | None]:
    """Caller-provided pruning filters name LOGICAL columns; the log's
    add.partitionValues and footer stats use PHYSICAL names on mapped
    tables — translate the keys (no-op when unmapped)."""
    if l2p is None:
        return partition_filters, stats_filters
    pf = (
        {l2p.get(c, c): v for c, v in partition_filters.items()}
        if partition_filters
        else partition_filters
    )
    sf = (
        [(l2p.get(c, c), op, v) for c, op, v in stats_filters]
        if stats_filters
        else stats_filters
    )
    return pf, sf


def _refuse_high_writer_version(snap: DeltaSnapshot, context: str) -> None:
    """Protocol rule: a writer must not commit to a table whose
    writer requirement exceeds what it implements — mutating a table
    with writer features we don't understand (row tracking, ...)
    corrupts their guarantees. Legacy versions up to 6 are
    implemented (5's column mapping binds only when configured, and
    every mutation refuses mapped tables separately; 6's identity
    columns generate through write_delta); version 7 (table features)
    is writable iff every listed writer feature is implemented
    (columnMapping is deliberately unlisted — mapped tables stay
    read-only)."""
    wv = int(snap.protocol.get("minWriterVersion", 2) or 2)
    if wv == 7:
        feats = snap.protocol.get("writerFeatures")
        if feats is None:
            # spec: minWriterVersion 7 REQUIRES a writerFeatures list;
            # without one the table's requirements are unknowable
            raise NotImplementedError(
                f"delta {context}: table declares minWriterVersion 7 "
                "with no writerFeatures list — requirements unknowable"
            )
        unsupported = set(feats) - _SUPPORTED_WRITER_FEATURES
        if unsupported:
            raise NotImplementedError(
                f"delta {context}: table requires writer features "
                f"{sorted(unsupported)} this writer does not implement"
            )
    elif wv > 6:
        raise NotImplementedError(
            f"delta {context}: table requires minWriterVersion {wv}; "
            "this writer implements up to 6 (or 7 with supported "
            "features)"
        )
    # legacy 5 (column mapping) binds only when the mapping is
    # CONFIGURED — write/DML paths translate through _mapping_planes;
    # the remaining unmapped-only mutations refuse via
    # _refuse_mapped_write; legacy 6 (identity columns) is
    # implemented (table_identity_columns + write-path generation)


def _refuse_mapped_write(snap: DeltaSnapshot, context: str) -> None:
    """Column-mapped tables need physical-name staging: write_delta
    and the DELETE/UPDATE/MERGE paths translate through
    _mapping_planes; the mutation paths that still stage logical
    names refuse up front so a foreign table is never corrupted, even
    if its protocol action under-declares the writer version."""
    if _column_mapping(snap) is not None:
        raise NotImplementedError(
            f"delta {context}: table uses column mapping "
            "(delta.columnMapping.mode); this mutation path stages "
            "logical column names and would corrupt it — use "
            "write_delta (append/overwrite), DELETE/UPDATE/MERGE, or "
            "rename_delta_column"
        )


def _read_snapshot(
    spark: SparkSession,
    path: str,
    snap: DeltaSnapshot,
    partition_filters: dict[str, list[str]] | None = None,
    stats_filters: list[tuple] | None = None,
) -> DataFrame:
    """read_delta's scan half over an already-resolved snapshot.
    Files carrying a deletion vector scan through the metadata-column
    branch (their deleted row indexes masked out, Arrow-batched, no
    shuffle) and union with the plain scan of the clean files — a
    table with no DVs pays nothing."""
    schema = snap.schema
    active = _pruned_active(snap, partition_filters, stats_filters)
    dvm = _dv_map(snap, active)
    if dvm:
        clean = [p for p in active if p not in dvm]
        dv_df = _scan_files_dv(spark, path, snap, sorted(dvm))
        if not clean:
            return dv_df
        return _read_active(spark, path, snap, clean).unionByName(dv_df)
    return _read_active(spark, path, snap, active)


def _read_active(
    spark: SparkSession,
    path: str,
    snap: DeltaSnapshot,
    active: list[str],
) -> DataFrame:
    """The plain (no-DV) scan over an explicit active-file subset —
    union-by-partition-root for few commits, the broadcast
    basename->partitionValues join for many."""
    schema = snap.schema
    files = [os.path.join(path, unquote(p)) for p in active]
    if not files:
        return spark.createDataFrame([], schema)
    if not snap.partition_columns:
        return spark.read.schema(schema).parquet(*files)
    # partitioned: every commit stages its files under its own subdir,
    # so one table holds several Hive-layout roots (stage-*/k=v/...).
    # Group active files by their partition root (the path up to the
    # first k=v segment) and give each group its own basePath — the
    # group count is bounded by COMMITS, not files or partitions, so
    # the union stays a small plan while each branch keeps full
    # partition-dir pruning. Types come from the declared schema, not
    # re-inference.
    groups = _group_by_partition_root(path, files)
    basenames = [os.path.basename(f) for f in files]
    if len(groups) <= 16 or len(set(basenames)) != len(basenames):
        # few commits (or a foreign table with colliding file names —
        # the join path below keys on basenames): per-root basePath
        # scans unioned, keeping native partition-dir pruning
        return _union_scan(spark, schema, groups)
    # many commits: the union's plan branches grow with commit count.
    # Scale path (delta-spark's FileIndex idea, log-authoritative):
    # ONE scan of the data files + a broadcast (file basename ->
    # partitionValues) join; partition values come from the LOG, typed
    # by the declared schema. Basenames are unique per write job
    # (Spark part files embed a job uuid) — verified above, with the
    # union fallback if a foreign table violates it.
    part_set = set(snap.partition_columns)
    data_schema = StructType(
        [f for f in schema.fields if f.name not in part_set]
    )
    # build the map from the SAME pruned `active` set the scan reads —
    # the basename-uniqueness guard above checked `active`, so rows
    # from pruned-away files (which could share a basename on a
    # foreign table) must not reach the join map
    rows = []
    for p in active:
        pv = snap.files[p].get("partitionValues") or {}
        if not isinstance(pv, dict):
            pv = dict(pv)
        rows.append(
            (os.path.basename(unquote(p)),)
            + tuple(pv.get(c) for c in snap.partition_columns)
        )
    mdf = spark.createDataFrame(
        rows,
        ", ".join(
            ["_fname string"]
            + [f"`_pv_{c}` string" for c in snap.partition_columns]
        ),
    )
    out = (
        spark.read.schema(data_schema)
        .parquet(*files)
        .withColumn(
            "_fname",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
        .join(F.broadcast(mdf), "_fname")
    )
    for c in snap.partition_columns:
        out = out.withColumn(c, F.col(f"_pv_{c}").cast(schema[c].dataType))
    return out.select(*[_q(f.name) for f in schema.fields])


def _union_scan(
    spark: SparkSession, schema: StructType, groups: dict[str, list[str]]
) -> DataFrame:
    """Per-partition-root basePath scans unioned — each branch keeps
    native partition-dir recovery typed by the declared schema."""
    parts = [
        spark.read.schema(schema).option("basePath", root).parquet(*fs)
        for root, fs in sorted(groups.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*[_q(f.name) for f in schema.fields])


def _group_by_partition_root(
    path: str, files: list[str]
) -> dict[str, list[str]]:
    """Group absolute file paths by their partition root (the path up
    to the first ``k=v`` segment) — the basePath each group scans
    under. Group count is bounded by COMMITS (each commit stages under
    one subdir), not by files or partitions."""
    groups: dict[str, list[str]] = {}
    for ap in files:
        rel = os.path.relpath(ap, path).split(os.sep)
        idx = next(
            (i for i, seg in enumerate(rel[:-1]) if "=" in seg), len(rel) - 1
        )
        root = os.path.join(path, *rel[:idx]) if idx else path
        groups.setdefault(root, []).append(ap)
    return groups


def _scan_files(
    spark: SparkSession,
    path: str,
    snap: DeltaSnapshot,
    rel_paths: list[str],
) -> DataFrame:
    """Full-schema scan over an explicit subset of a snapshot's files
    (partition columns recovered from the Hive layout, typed by the
    table schema). The DML identification/rewrite scans ride on this —
    ``F.input_file_name()`` stays resolvable because no shuffle sits
    between the scan and the caller's first aggregation."""
    schema = snap.schema
    files = [os.path.join(path, unquote(p)) for p in rel_paths]
    if not files:
        return spark.createDataFrame([], schema)
    if not snap.partition_columns:
        return spark.read.schema(schema).parquet(*files)
    return _union_scan(spark, schema, _group_by_partition_root(path, files))


def _dv_map(snap: DeltaSnapshot, rel_paths) -> dict[str, dict]:
    """rel path -> ``deletionVector`` descriptor, for the subset of
    ``rel_paths`` whose add action carries one."""
    out = {}
    for p in rel_paths:
        d = snap.files[p].get("deletionVector")
        if d:
            out[p] = d
    return out


_RT_DOMAIN = "delta.rowTracking"
_RT_MATCOL_KEY = "delta.rowTracking.materializedRowIdColumnName"


def row_tracking_enabled(snap: DeltaSnapshot) -> bool:
    """``delta.enableRowTracking`` — every add action must carry a
    ``baseRowId``/``defaultRowCommitVersion`` and rewrites must
    preserve row ids (protocol writer feature rowTracking)."""
    cfg = snap.metadata.get("configuration") or {}
    return _truthy(cfg.get("delta.enableRowTracking"))


def _rt_hwm(snap: DeltaSnapshot) -> int:
    """Row-id high-water mark from the ``delta.rowTracking`` metadata
    domain; -1 before the first tracked commit."""
    dom = (snap.domains or {}).get(_RT_DOMAIN)
    if not dom:
        return -1
    return int(json.loads(dom).get("rowIdHighWaterMark", -1))


def _rt_matcol(snap: DeltaSnapshot) -> str | None:
    cfg = snap.metadata.get("configuration") or {}
    return cfg.get(_RT_MATCOL_KEY)


def _rt_matcol_required(snap: DeltaSnapshot, context: str) -> str:
    """Rewrites on a tracked table can only preserve ids through the
    materialized column; a foreign table that enabled tracking
    without naming one refuses loudly rather than minting new ids."""
    matcol = _rt_matcol(snap)
    if not matcol:
        raise NotImplementedError(
            f"delta {context}: row-tracked table has no "
            f"{_RT_MATCOL_KEY} — cannot preserve row ids on rewrite"
        )
    return matcol


def _rt_assign(
    snap: DeltaSnapshot | None, adds: list[dict], version: int
) -> tuple[list[dict], list[dict]]:
    """Row-tracking commit half: COPIES of ``adds`` with fresh
    ``baseRowId`` ranges carved above the current high-water mark and
    ``defaultRowCommitVersion`` = this commit, plus the
    domainMetadata action advancing the mark IN THE SAME COMMIT (the
    protocol's atomicity requirement — a mark trailing its ids would
    let a concurrent writer mint colliding ids). Fresh ids per file
    are baseRowId + row position; files whose stats lack numRecords
    cannot be assigned a disjoint range and refuse loudly."""
    hwm = _rt_hwm(snap) if snap is not None else -1
    out: list[dict] = []
    for a in adds:
        add = dict(a["add"])
        # '.get() is None', not 'in': checkpoint-replayed adds carry
        # explicit None for absent struct fields
        if add.get("baseRowId") is None:
            s = add.get("stats")
            n = json.loads(s).get("numRecords") if s else None
            if n is None:
                raise ValueError(
                    "row tracking: staged file "
                    f"{add.get('path')!r} has no numRecords stat — "
                    "cannot carve a disjoint row-id range"
                )
            add["baseRowId"] = hwm + 1
            add["defaultRowCommitVersion"] = version
            hwm += int(n)
        out.append({"add": add})
    dm = {
        "domainMetadata": {
            "domain": _RT_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }
    }
    return out, [dm]


def _dv_uid(add: dict):
    """Identity of a file's deletion-vector state — (path-or-inline,
    offset) per the protocol's uniqueness rule; None when undeleted.
    Concurrency checks compare these so a racing DV DELETE (same file
    paths, different bitmaps) is never mistaken for 'unchanged'."""
    d = add.get("deletionVector")
    return (d["pathOrInlineDv"], d.get("offset")) if d else None


_DV_META_COLS = ("__dv_fp", "__dv_ri")


def _scan_files_meta(
    spark: SparkSession,
    path: str,
    snap: DeltaSnapshot,
    rel_paths: list[str],
) -> DataFrame:
    """Full-schema scan over explicit files PLUS the hidden parquet
    ``_metadata`` identity columns (``__dv_fp`` = file path, ``__dv_ri``
    = physical row index within the file) — the coordinates deletion
    vectors are defined over. Captured at scan construction because
    the hidden column is only resolvable on the source relation."""
    schema = snap.schema
    files = [os.path.join(path, unquote(p)) for p in rel_paths]
    meta = [
        F.col("_metadata.file_path").alias("__dv_fp"),
        F.col("_metadata.row_index").alias("__dv_ri"),
    ]
    names = [f.name for f in schema.fields]
    if not snap.partition_columns:
        return (spark.read.schema(schema).parquet(*files)
                .select(*[_q(n) for n in names], *meta))
    groups = _group_by_partition_root(path, files)
    parts = [
        spark.read.schema(schema)
        .option("basePath", root)
        .parquet(*fs)
        .select(*[_q(n) for n in names], *meta)
        for root, fs in sorted(groups.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# characters Hadoop's Path/java.net.URI leave VERBATIM in a file-URI
# path component (unreserved + sub-delims + ":@/"); everything else
# printable-ASCII percent-encodes byte-wise. Empirically pinned against
# Spark's _metadata.file_path (test_spark_file_uri_matches_metadata):
# 'file:' + single slash, on-disk '%' -> '%25', space -> '%20',
# '+'/'='/':'-in-path verbatim.
_URI_VERBATIM = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "-_.~!$&'()*+,;=:@/"
)


def _spark_file_uri(abs_path: str) -> str | None:
    """Predict the EXACT ``_metadata.file_path`` string Spark reports
    for a local file — so per-file join keys can be pre-encoded ON THE
    DRIVER (file-count-sized work) instead of normalizing the URI with
    string ops on EVERY ROW of the scan (the r12 13x row-id read
    multiplier). Returns None for paths containing non-ASCII or
    control characters, whose java.net.URI treatment we do not pin —
    callers fall back to the per-row decode plan. Spark-written
    tables are always predictable: escapePathName keeps partition
    dirs in safe ASCII, and part-file names are alphanumeric."""
    out = []
    for ch in abs_path:
        if ch in _URI_VERBATIM:
            out.append(ch)
        elif " " <= ch <= "~":
            out.append("%%%02X" % ord(ch))
        else:
            return None
    return "file:" + "".join(out)


# below this many deleted rows the (file, row_index) pairs broadcast
# as a JVM-side anti-join (whole-stage codegen, no Python in the scan);
# above it, the roaring bitmaps broadcast instead (8 B/row vs
# pair-rows) and an Arrow-batched searchsorted UDF applies them.
# Measured crossover (tools/perf_dv_read.py, 6M-row table): the
# anti-join's pair-frame + broadcast cost grows with DELETED count
# (10.1 s at 2.4M pairs) while the bitmap UDF stays flat (~2-3 s at
# any fraction), so the threshold sits where the pair plan still wins
_DV_ANTI_JOIN_MAX_ROWS = 500_000


def _dv_keep_filter(
    spark: SparkSession, path: str, dvm: dict[str, dict], df: DataFrame
) -> DataFrame:
    """Drop each file's DV-deleted rows from a ``_scan_files_meta``
    frame. Two plans, both shuffle-free on the big side:

    - deleted-pair count under ``_DV_ANTI_JOIN_MAX_ROWS``: broadcast
      LEFT ANTI join on (normalized file path, row_index) — stays in
      whole-stage codegen, no Python workers in the scan (measured
      ~10-15% faster than the UDF form at 6M rows; the _metadata
      column materialization dominates either way);
    - larger: broadcast the decoded bitmaps (driver memory bounded by
      DELETED-row count, never table size — pair-rows would not
      broadcast at that scale) and mask via an Arrow-batched
      searchsorted pandas UDF.
    """
    from pyspark.sql.functions import pandas_udf

    from value_at_risk_spark.sources import dv as dvmod

    # keyed by normalized ABSOLUTE path — partitioned writes reuse one
    # basename across partition dirs, so basenames are not unique here;
    # abspath so a caller's relative table path can't diverge from the
    # absolute file: URI in _metadata.file_path
    apath = os.path.abspath(path)
    by_path: dict[str, "object"] = {}
    for rel, desc in dvm.items():
        key = os.path.normpath(os.path.join(apath, unquote(rel)))
        if not os.path.exists(key):
            # a DV'd file whose driver key resolves nowhere would fail
            # OPEN in the anti-join (mismatched keys keep every row,
            # silently resurrecting deleted rows) — fail LOUD instead
            raise ValueError(
                f"deletion vector references data file {key!r} that "
                "does not exist under the table root — path "
                "normalization mismatch or corrupted log"
            )
        by_path[key] = dvmod.read_dv(path, desc)
    # pre-encode driver keys to Spark's exact file-URI form so the
    # per-row plans below compare the RAW __dv_fp (zero string ops per
    # row); unpredictable paths (non-ASCII) keep the decode plan. The
    # encoding is pinned against Spark's actual _metadata.file_path by
    # test_spark_file_uri_matches_metadata (nasty partition values
    # included) — an anti-join key mismatch would fail OPEN, so the
    # predictable-ASCII gate + that pin ARE the guard.
    uri_keys = {k: _spark_file_uri(k) for k in by_path}
    predictable = all(u is not None for u in uri_keys.values())
    if predictable:
        by_path = {uri_keys[k]: v for k, v in by_path.items()}
    total = sum(len(v) for v in by_path.values())
    if total <= _DV_ANTI_JOIN_MAX_ROWS:
        import numpy as np

        # Arrow path, not a Python row list: the pair frame is the
        # dominant driver cost at large deleted counts
        deleted = spark.createDataFrame(
            pd.DataFrame(
                {
                    "__dv_key": np.repeat(
                        np.array(sorted(by_path), dtype=object),
                        [len(by_path[p]) for p in sorted(by_path)],
                    ),
                    "__dv_ri": np.concatenate(
                        [
                            by_path[p].astype(np.int64)
                            for p in sorted(by_path)
                        ]
                    )
                    if by_path
                    else np.empty(0, dtype=np.int64),
                }
            ),
            "__dv_key string, __dv_ri bigint",
        )
        if predictable:
            key = F.col("__dv_fp")
        else:
            # normalize _metadata.file_path (a percent-encoded file:
            # URI) to the driver's absolute-path key, all JVM-side.
            # url_decode is x-www-form-urlencoded ('+' -> space) while
            # the driver keys use percent-only unquote ('+'
            # preserved) — re-escape literal '+' first so both sides
            # decode identically and a partition value containing '+'
            # can't silently resurrect DV-deleted rows via a
            # failed-open key mismatch
            key = F.url_decode(
                F.regexp_replace(
                    F.regexp_replace(F.col("__dv_fp"), "^file:/+", "/"),
                    r"\+",
                    "%2B",
                )
            )
        return (
            df.withColumn("__dv_key", key)
            .join(
                F.broadcast(deleted),
                ["__dv_key", "__dv_ri"],
                "left_anti",
            )
            .drop("__dv_key")
        )
    b = spark.sparkContext.broadcast(by_path)
    raw_keys = predictable

    @pandas_udf("boolean")
    def _dv_keep(fp: pd.Series, ri: pd.Series) -> pd.Series:
        import numpy as np
        from urllib.parse import unquote as _uq

        m = b.value
        n = len(fp)
        out = np.ones(n, dtype=bool)
        if n:
            if raw_keys:
                # broadcast keys are pre-encoded to the URI form fp
                # already carries — no per-row decode at all
                names = fp.to_numpy()
            else:
                def _norm(s: str) -> str:
                    if s.startswith("file:"):
                        s = "/" + s[len("file:"):].lstrip("/")
                    return os.path.normpath(_uq(s))

                names = np.asarray([_norm(s) for s in fp])
            riv = ri.to_numpy().astype(np.uint64)
            for name in np.unique(names):
                deleted = m.get(name)
                if deleted is None:
                    continue
                sel = names == name
                out[sel] = dvmod.keep_mask(riv[sel], deleted)
        return pd.Series(out)

    return df.filter(_dv_keep(F.col("__dv_fp"), F.col("__dv_ri")))


def _scan_files_dv(
    spark: SparkSession,
    path: str,
    snap: DeltaSnapshot,
    rel_paths: list[str],
    keep_meta: bool = False,
) -> DataFrame:
    """``_scan_files`` with deletion vectors APPLIED — the correct
    row set for every reader and every copy-on-write rewrite over
    files that may carry DVs. Files without DVs take the plain scan
    (zero overhead when the table has none)."""
    dvm = _dv_map(snap, rel_paths)
    if not dvm and not keep_meta:
        return _scan_files(spark, path, snap, rel_paths)
    if not rel_paths:
        df = spark.createDataFrame([], snap.schema)
        if keep_meta:
            df = df.withColumn("__dv_fp", F.lit(None).cast("string")).withColumn(
                "__dv_ri", F.lit(None).cast("long")
            )
        return df
    df = _scan_files_meta(spark, path, snap, rel_paths)
    if dvm:
        df = _dv_keep_filter(spark, path, dvm, df)
    if keep_meta:
        return df
    return df.select(*[_q(f.name) for f in snap.schema.fields])


def read_delta_row_ids(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot scan PLUS the table's row ids (``row_id`` bigint):
    per the protocol, a row's id is the file's materialized row-id
    column value when present (rewritten files preserve ids that way)
    else ``add.baseRowId + row position`` (fresh ids). Stable across
    appends, OPTIMIZE, copy-on-write UPDATE/DELETE, and merge-on-read
    DV deletes — the identity a 100 TB incremental pipeline keys
    downstream state on. Requires ``delta.enableRowTracking``."""
    snap = snapshot(path, version)
    if not row_tracking_enabled(snap):
        raise ValueError(
            f"delta table at {path} does not have "
            "delta.enableRowTracking — no row ids to read"
        )
    l2p = _column_mapping(snap)
    if l2p is not None:
        # mapped + tracked: same physicalization read_delta does —
        # scanning the logical schema against physical-name files
        # would return all-NULL columns (the silent-misread failure)
        logical_cols = _to_logical_cols(snap, l2p)
        by_id = _cm_mode(snap) == "id"
        if by_id:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        phys = _files_with_row_ids(
            spark,
            path,
            _physicalized(snap, l2p, keep_ids=by_id),
            sorted(snap.files),
            "row_id",
        )
        return phys.select(*logical_cols, "row_id")
    return _files_with_row_ids(
        spark, path, snap, sorted(snap.files), "row_id"
    )


# row-id scans switch from a literal-map lookup (zero extra jobs, but
# GetMapValue probes the entry list linearly per row) to a broadcast
# file->baseRowId join above this many files: at small N the map's
# compiled-in lookup avoids the join's fixed costs (createDataFrame +
# broadcast exchange made a 4-file table's row-id read 10x its plain
# read); at large N the hash join's O(1) probe wins
_RT_LOOKUP_MAX_FILES = 1024


def _files_with_row_ids(
    spark: SparkSession,
    path: str,
    snap: DeltaSnapshot,
    rel_paths: list[str],
    out_col: str,
) -> DataFrame:
    """The row-id scan core: logical columns + ``out_col`` holding
    each row's id (materialized column value when the file carries
    one, else baseRowId + physical row position), deletion vectors
    applied. Also the frame an id-preserving rewrite stages (with
    ``out_col`` = the materialized column name)."""
    matcol = _rt_matcol(snap)
    missing = [p for p in rel_paths if snap.files[p].get("baseRowId") is None]
    if missing:
        raise ValueError(
            "row tracking: active file(s) without baseRowId "
            f"(e.g. {missing[0]!r}) — a foreign writer committed "
            "untracked adds; ids are not derivable"
        )
    logical = [f.name for f in snap.schema.fields]
    # scan under an AUGMENTED schema so rewritten files surface their
    # materialized row-id column (absent in fresh files -> NULL)
    sch = json.loads(snap.metadata["schemaString"])
    if matcol:
        sch["fields"].append(
            {
                "name": matcol,
                "type": "long",
                "nullable": True,
                "metadata": {},
            }
        )
    aug = DeltaSnapshot(
        version=snap.version,
        metadata={**snap.metadata, "schemaString": json.dumps(sch)},
        protocol=snap.protocol,
        files=snap.files,
        txns=snap.txns,
        domains=snap.domains,
    )
    df = _scan_files_dv(spark, path, aug, list(rel_paths), keep_meta=True)
    apath = os.path.abspath(path)
    # pre-encode each file's key to Spark's exact file-URI form ON THE
    # DRIVER and join the raw __dv_fp — the old per-row
    # url_decode(regexp x2) normalization ran three string ops on a
    # long URI for EVERY row of the table (the r12 13x row-id read
    # multiplier); this is file-count-sized driver work instead.
    # Unpredictable paths (non-ASCII) fall back to the decoded key.
    decoded = {
        p: os.path.normpath(os.path.join(apath, unquote(p)))
        for p in rel_paths
    }
    uris = {p: _spark_file_uri(decoded[p]) for p in rel_paths}
    predictable = all(u is not None for u in uris.values())
    keys = {
        p: (uris[p] if predictable else decoded[p]) for p in rel_paths
    }
    if predictable:
        key = F.col("__dv_fp")
    else:
        # percent-only normalization ('+' re-escaped so url_decode
        # matches unquote)
        key = F.url_decode(
            F.regexp_replace(
                F.regexp_replace(F.col("__dv_fp"), "^file:/+", "/"),
                r"\+",
                "%2B",
            )
        )
    if len(rel_paths) <= _RT_LOOKUP_MAX_FILES:
        # literal-map lookup compiled into the scan projection: no
        # createDataFrame job, no broadcast exchange, no join — the
        # cold-read fixed costs that made a small table's row-id scan
        # 10x its plain read. A missing key still fails LOUD below.
        lookup = F.element_at(
            F.create_map(
                *[
                    x
                    for p in sorted(rel_paths)
                    for x in (
                        F.lit(keys[p]),
                        F.lit(int(snap.files[p]["baseRowId"])),
                    )
                ]
            ),
            key,
        )
        df = df.withColumn("__rt_base", lookup)
    else:
        # big tables: broadcast file->baseRowId join (file-count-sized
        # build side; the per-row probe keys on the RAW path when
        # predictable). LEFT join + raise_error below, never inner:
        # this frame is what id-preserving REWRITES stage, so a
        # file-path key mismatch must fail LOUD — an inner join would
        # silently drop that file's rows and the rewrite would commit
        # the truncated set (data loss)
        base_map = spark.createDataFrame(
            [
                (keys[p], int(snap.files[p]["baseRowId"]))
                for p in sorted(rel_paths)
            ],
            "__rt_key string, __rt_base bigint",
        )
        df = df.withColumn("__rt_key", key).join(
            F.broadcast(base_map), "__rt_key", "left"
        )
    fresh = F.when(
        F.col("__rt_base").isNull(),
        F.raise_error(
            F.concat(
                F.lit("row tracking: no baseRowId key matched file "),
                F.col("__dv_fp"),
            )
        ).cast("long"),
    ).otherwise(F.col("__rt_base") + F.col("__dv_ri"))
    rid = F.coalesce(F.col(matcol), fresh) if matcol else fresh
    return df.select(*logical, rid.cast("long").alias(out_col))


def _parse_partition_values(rel_path: str) -> dict:
    """Hive-style ``k=v`` dirs in the staged relative path →
    add.partitionValues (string map; null encoded per protocol)."""
    vals: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return vals


def _prev_commit_ict(path: str, prev_version: int) -> int | None:
    """The previous commit's inCommitTimestamp (reads ONE commit
    JSON). None when the commit predates enablement, carries no ICT,
    or was cleaned — the caller floors on the checkpoint mtime then."""
    if prev_version < 0:
        return None
    try:
        with open(_commit_path(path, prev_version)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ci = json.loads(line).get("commitInfo")
                if ci is not None:
                    v = ci.get("inCommitTimestamp")
                    return int(v) if v is not None else None
    except OSError:
        return None
    return None


def _ict_floor(path: str, version: int) -> int:
    """The minimum legal ICT for ``version``: strictly above the
    previous commit's (the protocol's monotonicity rule); a cleaned
    predecessor floors on the newest checkpoint's mtime instead."""
    prev = _prev_commit_ict(path, version - 1)
    if prev is None and version > 0:
        cp = _latest_checkpoint(path, version - 1)
        if cp is not None:
            try:
                cps = _checkpoint_files(path, cp)
                prev = (
                    int(os.stat(cps[0]).st_mtime * 1000) if cps else None
                )
            except OSError:
                prev = None
    return prev + 1 if prev is not None else 0


def _next_ict(path: str, version: int) -> int:
    """The in-commit timestamp for ``version``: wall clock, floored
    by _ict_floor (a clock that went backwards must not produce a
    time-travel ordering violation)."""
    return max(int(time.time() * 1000), _ict_floor(path, version))


# (path -> (last published version, ICT enabled)) — valid only while
# this process publishes CONSECUTIVE versions; any interleaved foreign
# commit breaks the version chain and forces a re-snapshot, so a
# property change by another writer is never missed
_ICT_CACHE: dict[str, tuple[int, bool]] = {}


def _ict_enabled_for_commit(path: str, version: int, actions) -> bool:
    """Whether THIS commit must carry an inCommitTimestamp: the
    commit's own metaData action is authoritative (the enablement
    commit itself is stamped, per spec); otherwise the table's
    current configuration decides (cached per consecutive publish so
    the common non-ICT table pays no extra log replay)."""
    for a in actions:
        m = a.get("metaData")
        if m is not None:
            return _truthy(
                (m.get("configuration") or {}).get(
                    "delta.enableInCommitTimestamps"
                )
            )
    if version == 0:
        return False
    cached = _ICT_CACHE.get(os.path.normpath(path))
    if cached is not None and cached[0] == version - 1:
        return cached[1]
    try:
        snap = snapshot(path)
    except (FileNotFoundError, ValueError):
        return False
    return _truthy(
        (snap.metadata.get("configuration") or {}).get(
            "delta.enableInCommitTimestamps"
        )
    )


def _publish_commit(path: str, version: int, actions: list[dict]) -> bool:
    """Atomically publish a commit: write a temp file, hard-link it to
    the versioned name (fails if a concurrent writer already owns the
    version — the protocol's optimistic concurrency), unlink the temp.
    Returns False on version conflict. Tables with
    ``delta.enableInCommitTimestamps`` get their monotonic
    ``commitInfo.inCommitTimestamp`` stamped here — the one choke
    point every commit kind passes through."""
    enabled = _ict_enabled_for_commit(path, version, actions)
    if enabled:
        actions = list(actions)
        at = next(
            (i for i, a in enumerate(actions) if a.get("commitInfo") is not None),
            None,
        )
        if at is None:
            # the spec puts commitInfo first on every ICT commit
            actions.insert(0, _commit_info("UNKNOWN", {}))
            at = 0
        ci = dict(actions[at]["commitInfo"])
        pre = ci.get("inCommitTimestamp")
        # an explicitly pre-set value (enablement provenance: the SAME
        # number must land in the commit AND the metaData properties)
        # is honored verbatim, floored only by monotonicity — NOT
        # re-read from the wall clock, which may have ticked since the
        # caller chose. 'is not None', not truthiness: an explicit 0
        # preset must not be silently replaced by the wall clock. Stamp
        # a COPY — a failed attempt must not leak a stale stamp into
        # the caller's reused action objects.
        ci["inCommitTimestamp"] = max(
            int(pre) if pre is not None else int(time.time() * 1000),
            _ict_floor(path, version),
        )
        actions[at] = dict(actions[at], commitInfo=ci)
    log = _log_dir(path)
    os.makedirs(log, exist_ok=True)
    tmp = os.path.join(log, f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _commit_path(path, version))
        # cache the published state only on SUCCESS — a conflicting
        # foreign commit may have changed the property
        _ICT_CACHE[os.path.normpath(path)] = (version, enabled)
        _maybe_auto_checkpoint(path, version)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


_ENGINE = "value_at_risk_spark.deltalog"

# the one retry budget: lost version races a commit loop absorbs
# before giving up
_COMMIT_ATTEMPTS = 64


def _commit_info(operation: str, params: dict, **extra) -> dict:
    """The one commitInfo builder: every commit this module writes
    leads with it (``extra`` carries fields such as a preset
    inCommitTimestamp). Per-commit ``operationMetrics`` belong here."""
    return {
        "commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": operation,
            "operationParameters": params,
            "engineInfo": _ENGINE,
            **extra,
        }
    }


@dataclass
class _Commit:
    """One commit attempt's outcome for ``_commit``: the actions after
    commitInfo, the operationParameters, the value returned once
    published (None = the committed version), and extra commitInfo
    fields."""

    params: dict
    actions: list
    result: object = None
    info: dict | None = None


def _commit(path: str, operation: str, attempt):
    """The one optimistic commit loop. Each attempt reads a fresh
    snapshot of the tip and calls ``attempt(snap)``, which returns:

    - a ``_Commit``: published at ``snap.version + 1`` behind one
      commitInfo naming ``operation``; a lost version race re-runs the
      attempt against the new tip;
    - None: the attempt saw a conflict itself — re-run it;
    - anything else: returned as is, nothing committed (a no-op, an
      already-applied txn, or a commit made through ``write_delta``).

    Staged files of a lost attempt stay behind as orphans that no
    snapshot references, for VACUUM to collect. ``_publish_commit`` is
    looked up per call, so tests can swap it to fake a race."""
    for _ in range(_COMMIT_ATTEMPTS):
        snap = snapshot(path)
        out = attempt(snap)
        if out is None:
            continue
        if not isinstance(out, _Commit):
            return out
        version = snap.version + 1
        actions = [
            _commit_info(operation, out.params, **(out.info or {})),
            *out.actions,
        ]
        if _publish_commit(path, version, actions):
            return version if out.result is None else out.result
    raise DeltaConcurrentModification(
        f"{operation}: lost the commit race {_COMMIT_ATTEMPTS} times at "
        f"{path}"
    )


def _removes(snap: DeltaSnapshot, paths, data_change: bool = True) -> list:
    """The one remove-action builder: each remove names the file
    version it removes — its partitionValues, and its deletion vector
    when it carries one (spec)."""
    now_ms = int(time.time() * 1000)
    out = []
    for p in paths:
        add = snap.files[p]
        rm = {
            "path": p,
            "deletionTimestamp": now_ms,
            "dataChange": data_change,
            "partitionValues": add.get("partitionValues"),
        }
        if add.get("deletionVector"):
            rm["deletionVector"] = add["deletionVector"]
        out.append({"remove": rm})
    return out


def _txn_action(txn: dict) -> dict:
    """The protocol ``txn`` action: streaming-sink idempotence riding
    in the same atomic commit."""
    return {
        "txn": {
            "appId": str(txn["appId"]),
            "version": int(txn["version"]),
            "lastUpdated": int(time.time() * 1000),
        }
    }


def _committed_txn(snap: DeltaSnapshot | None, txn: dict | None) -> bool:
    """Whether ``txn`` ({appId, version}) is already committed at
    ``snap``."""
    if txn is None or snap is None:
        return False
    done = (snap.txns or {}).get(str(txn["appId"]))
    return done is not None and int(txn["version"]) <= done


def _maybe_auto_checkpoint(path: str, version: int) -> None:
    """``delta.checkpointInterval``: after every Nth commit, write a
    checkpoint automatically — delta-spark's own post-commit hook, the
    thing that keeps log-replay cost O(interval) on long-lived tables
    without manual maintenance. Post-commit and best-effort: a
    checkpoint failure never fails the already-published commit."""
    if version <= 0:
        return
    try:
        snap = snapshot(path, version)
        iv = int(
            (snap.metadata.get("configuration") or {}).get(
                "delta.checkpointInterval", 0
            )
            or 0
        )
        if iv > 0 and version % iv == 0:
            checkpoint_delta(path, version)
    except Exception:
        return


def _file_stats(full_path: str) -> str | None:
    """Per-file ``add.stats`` JSON (numRecords, minValues, maxValues,
    nullCount) from the parquet FOOTER — a driver-side metadata read,
    no data scan. Column-chunk min/max merge across row groups;
    columns without statistics are simply omitted. This is the
    protocol's data-skipping payload: read_delta's stats_filters prune
    files at the LOG level before any executor touches them."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(full_path).metadata
        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested: skip (protocol allows subset)
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                if hasattr(mn, "isoformat"):
                    mn, mx = mn.isoformat(), mx.isoformat()
                if name not in mins or mn < mins[name]:
                    mins[name] = mn
                if name not in maxs or mx > maxs[name]:
                    maxs[name] = mx
                if st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
        return json.dumps(
            {
                "numRecords": md.num_rows,
                "minValues": mins,
                "maxValues": maxs,
                "nullCount": nulls,
            },
            separators=(",", ":"),
        )
    except Exception:
        return None  # stats are an optimization, never a correctness gate


def _stage(
    df: DataFrame, path: str, part_cols: list[str], data_change: bool
) -> list[dict]:
    """Stage the frame's parquet files under a unique subdir of the
    table root and return their ``add`` actions (relative paths —
    files are never moved afterwards; per-file footer stats recorded
    for data skipping)."""
    stage_rel = f"stage-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    stage_abs = os.path.join(path, stage_rel)
    writer = df.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(stage_abs)
    adds = []
    for root, _dirs, names in os.walk(stage_abs):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            full = os.path.join(root, n)
            rel = os.path.relpath(full, path)
            st = os.stat(full)
            stats = _file_stats(full)
            adds.append(
                {
                    "add": {
                        # URL-encoded per the protocol; readers unquote.
                        # Without this, Spark's own %-escaped partition
                        # dir names (ts=..%3A..) would be DOUBLE-decoded
                        # on read and mismatched by vacuum's referenced
                        # set — deleting live files.
                        "path": quote(rel, safe="/"),
                        "partitionValues": _parse_partition_values(rel),
                        "size": st.st_size,
                        "modificationTime": int(st.st_mtime * 1000),
                        "dataChange": data_change,
                        **({"stats": stats} if stats else {}),
                    }
                }
            )
    return adds


def _unhashable(t) -> bool:
    """A map or variant anywhere inside ``t``: Spark does not hash such
    a column."""
    if isinstance(t, (MapType, VariantType)):
        return True
    if isinstance(t, ArrayType):
        return _unhashable(t.elementType)
    if isinstance(t, StructType):
        return any(_unhashable(f.dataType) for f in t.fields)
    return False


def _spread_by_content(df: DataFrame, n: int) -> DataFrame:
    """``n`` partitions whose row sets depend on the rows alone:
    hash-partitioned on every column Spark can hash. A round-robin
    ``repartition(n)`` deals rows in scan order, and a multi-file
    scan's order follows the order of the files in the log, so two
    runs of the same rewrite could write different files with
    different stats."""
    cols = [
        _qcol(f.name) for f in df.schema.fields if not _unhashable(f.dataType)
    ]
    return df.repartition(n, *cols)


def write_delta(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn: dict | None = None,
    merge_schema: bool = False,
    expected_version: int | None = None,
    generated_columns: dict[str, str] | None = None,
    configuration: dict[str, str] | None = None,
    extra_actions: list[dict] | None = None,
    identity_columns: dict[str, dict] | None = None,
    cluster_by: list[str] | None = None,
    column_defaults: dict[str, str] | None = None,
) -> int:
    """Transactional append/overwrite; returns the committed version.

    Data files are staged once under a unique subdir of the table root
    and referenced by relative ``add.path`` — never moved — so a
    failed commit leaves no torn state (orphan staged files are
    invisible to readers, exactly how delta-spark leaves uncommitted
    parquet behind). Appends to an existing table enforce schema and
    partition-column equality; ``partition_by`` is only consulted at
    table creation.

    ``generated_columns`` ({col: sql_expr}, creation only) declares
    GENERATED ALWAYS AS columns (protocol writer feature 4): the
    expression lands in the column's schema metadata and
    minWriterVersion becomes 4. On every later write, a missing
    generated column is COMPUTED from its expression, and a provided
    one is VALIDATED against it (one short-circuited job) — exactly
    Delta's generated-column contract.

    ``configuration`` ({property: value}, creation only) lands in
    ``metaData.configuration``; ``delta.enableChangeDataFeed=true``
    (protocol writer feature 4) makes every later DML commit record
    its row-level changes under ``_change_data/`` for
    ``table_changes`` readers. ``extra_actions`` (already-built
    protocol actions, e.g. staged ``cdc`` entries) are appended to
    the commit verbatim.

    ``cluster_by`` ([col, ...], creation only) declares clustering
    columns the liquid-clustering way: a ``delta.clustering``
    metadata domain (writer features domainMetadata + clustering) —
    ``optimize_delta`` with no explicit zorder_by then clusters on
    them (Morton interleave, this engine's clustering kernel).

    ``identity_columns`` ({col: {start, step, allow_explicit}},
    creation only) declares IDENTITY columns (protocol writer feature
    6): values are generated distributedly (base + step *
    monotonically_increasing_id — unique and on the start+k*step
    grid, gaps expected), the high-water mark advances in the SAME
    commit as the adds (read from the staged files' own footer
    stats, no extra scan), and explicit inserts on appends are
    refused unless ``allow_explicit`` (then the mark does not move —
    ``sync_identity`` is the repair)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"write_delta mode must be append|overwrite: {mode}")
    exists = bool(delta_versions(path))
    # ONE pre-flight snapshot for every enforcement read below (a
    # fresh replay per consult was 3-5x the log I/O per write and,
    # worse, let the enforced invariants drift BETWEEN consults); the
    # commit loop re-snapshots the moving tip itself and conflicts if
    # the invariants changed since this one
    snap_pre = snapshot(path) if exists else None
    gen: dict[str, str] = {}
    # provided generated-column values, validated with the other rules
    gen_checks: dict[str, str] = {}
    schema_for_commit = None
    min_writer = 2
    if configuration:
        for k, v in configuration.items():
            if not isinstance(k, str) or not isinstance(v, str):
                raise ValueError(
                    "write_delta: configuration must be a str->str map"
                )
        if _truthy(configuration.get("delta.enableChangeDataFeed")):
            min_writer = 4
        cm_mode = configuration.get("delta.columnMapping.mode", "none")
        if cm_mode not in ("none", "", "name", "id"):
            raise NotImplementedError(
                f"write_delta: delta.columnMapping.mode={cm_mode!r} not "
                "supported (only 'name' or 'id')"
            )
    identity_generated: list[str] = []
    writer_features: list[str] = []
    if cluster_by:
        if exists:
            raise ValueError(
                "write_delta: cluster_by is a table-creation option"
            )
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"write_delta: cluster_by columns not in frame: {missing}"
            )
        writer_features += ["domainMetadata", "clustering"]
        extra_actions = list(extra_actions or []) + [
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cluster_by]}
                    ),
                    "removed": False,
                }
            }
        ]
    if exists:
        if generated_columns:
            raise ValueError(
                "write_delta: generated_columns is a table-creation "
                "option; the table's own schema metadata governs "
                "later writes"
            )
        if configuration:
            raise ValueError(
                "write_delta: configuration is a table-creation "
                "option; use set_table_properties on an existing table"
            )
        if identity_columns:
            raise ValueError(
                "write_delta: identity_columns is a table-creation "
                "option; the table's own schema metadata governs "
                "later writes"
            )
        snap0 = snap_pre
        ids = table_identity_columns(snap0)
        if ids:
            for col, spec in ids.items():
                if col in df.columns:
                    if mode == "append" and not spec["allow_explicit"]:
                        raise ValueError(
                            f"write_delta: column {col} is GENERATED "
                            "ALWAYS AS IDENTITY — explicit values are "
                            "forbidden on append (overwrites may carry "
                            "previously-generated values through)"
                        )
                else:
                    hwm = spec["high_water_mark"]
                    base = (
                        hwm + spec["step"] if hwm is not None else spec["start"]
                    )
                    df = _generate_identity(
                        df, col, snap0.schema[col].dataType, base,
                        spec["step"],
                    )
                    identity_generated.append(col)
            if identity_generated:
                order = [f.name for f in snap0.schema.fields]
                df = df.select(*[c for c in order if c in df.columns])
        gen = table_generated_columns(snap0)
        if gen:
            table_order = [f.name for f in snap0.schema.fields]
            provided = set(df.columns)
            for col, expr in gen.items():
                if col not in provided:
                    df = df.withColumn(col, F.expr(expr))
            df = df.select(*[c for c in table_order if c in df.columns])
            gen_checks = {c: e for c, e in gen.items() if c in provided}
    elif generated_columns:
        unknown_refs = [
            c for c in generated_columns if c in df.columns
        ]  # provided at creation: still validated below
        for col, expr in generated_columns.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
        gen_checks = {c: generated_columns[c] for c in unknown_refs}
        sch = df.schema.jsonValue()
        for f in sch["fields"]:
            if f["name"] in generated_columns:
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    "delta.generationExpression": generated_columns[
                        f["name"]
                    ],
                }
        schema_for_commit = StructType.fromJson(sch)
        min_writer = 4
    id_specs: dict[str, dict] = {}
    if exists:
        id_specs = table_identity_columns(snap_pre)
    elif identity_columns:
        for col, spec in identity_columns.items():
            step = int(spec.get("step", 1))
            if step == 0:
                raise ValueError(
                    f"write_delta: identity column {col}: step must be "
                    "non-zero"
                )
            norm = {
                "start": int(spec.get("start", 1)),
                "step": step,
                "high_water_mark": None,
                "allow_explicit": bool(spec.get("allow_explicit", False)),
            }
            id_specs[col] = norm
            if col in df.columns:
                # an EMPTY frame (SQL CREATE TABLE with column defs)
                # declares the column without carrying values — keep
                # its declared position/type; later writes generate
                if not norm["allow_explicit"] and not df.isEmpty():
                    raise ValueError(
                        f"write_delta: identity column {col} is "
                        "GENERATED ALWAYS — drop it from the frame or "
                        "set allow_explicit"
                    )
            else:
                df = _generate_identity(
                    df, col, LongType(), norm["start"], step
                )
                identity_generated.append(col)
        sch = (schema_for_commit or df.schema).jsonValue()
        for f in sch["fields"]:
            if f["name"] in id_specs:
                spec = id_specs[f["name"]]
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    "delta.identity.start": spec["start"],
                    "delta.identity.step": spec["step"],
                    "delta.identity.allowExplicitInsert": spec[
                        "allow_explicit"
                    ],
                }
        schema_for_commit = StructType.fromJson(sch)
        min_writer = max(min_writer, 6)
    if column_defaults:
        # creation-time CURRENT_DEFAULT stamping: validated + landed
        # in the SAME v0 commit as the schema (an after-the-fact
        # per-column commit could leave a half-created table when a
        # later default fails validation)
        if exists:
            raise ValueError(
                "write_delta: column_defaults is a table-creation "
                "option; use set_column_default on an existing table"
            )
        sch = (schema_for_commit or df.schema).jsonValue()
        known = {f["name"] for f in sch["fields"]}
        typed = StructType.fromJson(sch)
        for col, dexpr in column_defaults.items():
            if col not in known:
                raise ValueError(
                    f"write_delta: column_defaults: no column {col!r}"
                )
            if col in (generated_columns or {}) or col in id_specs:
                raise ValueError(
                    f"write_delta: column_defaults: {col!r} is "
                    "generated/identity — its own contract owns the "
                    "value"
                )
            _validate_default_expr(spark, dexpr, typed[col].dataType)
        for f in sch["fields"]:
            if f["name"] in column_defaults:
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    "CURRENT_DEFAULT": column_defaults[f["name"]],
                }
        schema_for_commit = StructType.fromJson(sch)
        writer_features += ["allowColumnDefaults"]
    # column mapping: all validation above ran in LOGICAL names; data
    # files must carry PHYSICAL names (and parquet field ids — 'id'
    # mode resolves by them, and writing them in 'name' mode too is
    # what delta-spark does for forward interop)
    l2p_write: dict[str, str] | None = None
    mapped_fields_json: list[dict] | None = None
    if exists:
        l2p_write = _column_mapping(snap_pre)
        if l2p_write is not None:
            mapped_fields_json = json.loads(
                snap_pre.metadata["schemaString"]
            )["fields"]
    elif configuration and configuration.get(
        "delta.columnMapping.mode"
    ) in ("name", "id"):
        # creation in either mode stages the same way: physical names
        # + parquet field ids in the files ('id' mode resolves data
        # columns by those ids; 'name' mode ignores them — writing
        # them anyway is what delta-spark does for forward interop)
        sch = (schema_for_commit or df.schema).jsonValue()
        max_id = _assign_mapping_ids(sch)
        l2p_write = {}
        mapped_fields_json = sch["fields"]
        for f in sch["fields"]:
            md = f["metadata"]
            l2p_write[f["name"]] = md["delta.columnMapping.physicalName"]
        schema_for_commit = StructType.fromJson(sch)
        configuration = {
            **configuration,
            "delta.columnMapping.maxColumnId": str(max_id),
        }
    part_cols, new_metadata, null_checks = _validate_write_schema(
        path, df.schema, partition_by, merge_schema,
        mapped_ok=l2p_write is not None,
    )
    if l2p_write is not None and new_metadata is not None:
        # merge_schema on a mapped table: the merged schemaString kept
        # the existing fields' mapping metadata (it rides the
        # StructFields) — assign fresh ids/physicalNames to the NEW
        # fields only, continuing from the table's maxColumnId, and
        # advance it in the same metaData action
        msch = json.loads(new_metadata["schemaString"])
        prev_max = int(
            (snap_pre.metadata.get("configuration") or {}).get(
                "delta.columnMapping.maxColumnId", "0"
            )
        )
        new_max = _assign_mapping_ids(
            msch, start=prev_max, only_missing=True
        )
        new_metadata = {
            **new_metadata,
            "schemaString": json.dumps(msch),
            "configuration": {
                **(new_metadata.get("configuration") or {}),
                "delta.columnMapping.maxColumnId": str(new_max),
            },
        }
        mapped_fields_json = msch["fields"]
        for f in msch["fields"]:
            md = f["metadata"]
            l2p_write[f["name"]] = md["delta.columnMapping.physicalName"]
    # Delta's NOT NULL invariant: the frame is only STATICALLY
    # nullable (plans are conservative); prove no actual null reaches
    # a required column, in the same pass as CHECK and generation
    df = _checked(
        df,
        "write_delta",
        not_null=null_checks,
        checks=table_constraints(snap_pre) if exists else None,
        generated=gen_checks,
    )

    if l2p_write is not None:
        # stage under PHYSICAL names (columns and partition dirs) with
        # parquet field ids attached (the write conf defaults on, but
        # an environment override would silently strip 'id'-mode
        # resolvability); everything logical — metadata schema,
        # partitionColumns, reads — stays in logical space. The conf
        # flip is scoped to this EAGER write and restored after — a
        # session-global leak would change how unrelated writes treat
        # schemas that happen to carry field-id metadata.
        _fid_key = "spark.sql.parquet.fieldId.write.enabled"
        _fid_prev = spark.conf.get(_fid_key, None)
        spark.conf.set(_fid_key, "true")
        phys_by_logical = {
            f["name"]: _relax_nulls_json(_phys_field_json(f, keep_ids=True))
            for f in (mapped_fields_json or [])
        }
        stage_cols = []
        for n in df.columns:
            pf = phys_by_logical[n]
            col = F.col(_q(n))
            if isinstance(pf["type"], dict):
                # complex column: positional cast renames NESTED
                # fields to their physicalNames; the cast target's
                # field metadata carries nested parquet.field.ids
                # for Spark's field-id writer
                col = col.cast(_field_from_json(pf).dataType)
            stage_cols.append(col.alias(pf["name"], metadata=pf["metadata"]))
        stage_df = df.select(*stage_cols)
        stage_parts = [l2p_write.get(c, c) for c in part_cols]
        try:
            adds = _stage(stage_df, path, stage_parts, data_change=True)
        finally:
            # full restore incl. the previously-UNSET case (a bare
            # "restore if prev is not None" would leak the flip)
            if _fid_prev is not None:
                spark.conf.set(_fid_key, _fid_prev)
            else:
                try:
                    spark.conf.unset(_fid_key)
                except Exception:  # noqa: BLE001 — restore best-effort
                    pass
    else:
        adds = _stage(df, path, part_cols, data_change=True)
    if identity_generated:
        # advance each generated column's high-water mark IN THIS
        # commit, read from the staged files' own footer stats — no
        # extra scan; a missing stat falls back to one bounded
        # aggregate over just-staged files
        new_hwms: dict[str, int] = {}
        for col in identity_generated:
            step = id_specs[col]["step"]
            key = "maxValues" if step > 0 else "minValues"
            # staged files (and their footer stats) carry PHYSICAL
            # names on mapped tables
            pcol = (l2p_write or {}).get(col, col)
            vals: list[int] = []
            complete = True
            for a in adds:
                s = a["add"].get("stats")
                v = (json.loads(s).get(key) or {}).get(pcol) if s else None
                if v is None:
                    complete = False
                    break
                vals.append(int(v))
            if not complete:
                staged = [
                    os.path.join(path, unquote(a["add"]["path"]))
                    for a in adds
                ]
                agg = F.max(pcol) if step > 0 else F.min(pcol)
                v = spark.read.parquet(*staged).agg(agg).first()[0]
                vals = [int(v)] if v is not None else []
            if vals:
                hwm = max(vals) if step > 0 else min(vals)
                # generated values embed the monotonic id's partition
                # prefix (gaps of ~2^33*step per partition index are
                # expected and spec-legal); a mark that moved AGAINST
                # the step direction means int64 wrapped — refuse
                # rather than committing colliding future values
                prev = id_specs[col]["high_water_mark"]
                floor = prev if prev is not None else id_specs[col]["start"]
                if (step > 0 and hwm < floor) or (step < 0 and hwm > floor):
                    raise OverflowError(
                        f"write_delta: identity column {col} exhausted "
                        "the int64 space (high-water mark wrapped)"
                    )
                new_hwms[col] = hwm
        if new_hwms:
            if exists:
                base_meta = (
                    new_metadata
                    if new_metadata is not None
                    else snap_pre.metadata
                )
                new_metadata = _identity_metadata_update(
                    base_meta, new_hwms
                )
            else:
                schema_for_commit = StructType.fromJson(
                    json.loads(
                        _identity_metadata_update(
                            {
                                "schemaString": json.dumps(
                                    schema_for_commit.jsonValue()
                                )
                            },
                            new_hwms,
                        )["schemaString"]
                    )
                )
    # what THIS write enforced (constraints/generation/identity from
    # snap_pre, or the creation declarations) — the commit loop
    # conflicts if the tip's invariants drifted since
    inv_seen = (
        _inv_fingerprint(snap_pre)
        if snap_pre is not None
        else (
            (),
            tuple(sorted((generated_columns or {}).items())),
            tuple(
                sorted(
                    (
                        k,
                        int(v.get("start", 1)),
                        int(v.get("step", 1)),
                        bool(v.get("allow_explicit", False)),
                    )
                    for k, v in (identity_columns or {}).items()
                )
            ),
        )
    )
    v = commit_staged_adds(
        path,
        adds,
        schema_for_commit or df.schema,
        mode=mode,
        part_cols=part_cols,
        txn=txn,
        expected_version=expected_version,
        new_metadata=new_metadata,
        constraints_ok=True,
        min_writer_version=min_writer,
        configuration=configuration,
        extra_actions=extra_actions,
        writer_features=writer_features,
        mapped_ok=l2p_write is not None,
        invariants_seen=inv_seen,
    )
    if v >= 0:
        # property read from the PRE-commit state (or the creation
        # config): tables without autoCompact pay NOTHING — no extra
        # log replay per write (streaming sinks call this per batch)
        cfg_hint = (
            (snap_pre.metadata.get("configuration") or {})
            if exists
            else (configuration or {})
        )
        if _truthy(cfg_hint.get("delta.autoOptimize.autoCompact")):
            _maybe_auto_compact(spark, path)
    return v


def _wants_auto_compact(snap: "DeltaSnapshot") -> bool:
    """Whether this snapshot's table opted into autoCompact — read
    from a snapshot the caller ALREADY holds so the DML wrappers can
    gate their post-commit hook without paying a fresh log replay on
    tables that never opted in (write_delta's cfg_hint pattern)."""
    return _truthy(
        (snap.metadata.get("configuration") or {}).get(
            "delta.autoOptimize.autoCompact"
        )
    )


def _maybe_auto_compact(spark: SparkSession, path: str) -> None:
    """``delta.autoOptimize.autoCompact``: after a data commit, if at
    least ``delta.autoOptimize.minNumFiles`` (default 50) active files
    are smaller than ``delta.autoOptimize.minFileSize`` (default
    16 MiB), run an incremental small-file compaction — the
    post-commit hook Databricks tables opt into so streaming/trickle
    ingest never accumulates a small-file mess that a separate
    OPTIMIZE job has to chase. BEST-EFFORT: a concurrent change
    aborts the compaction (the write that triggered it already
    committed), never the caller. The compaction commits through
    optimize_delta's own dataChange:false path (no recursion — it
    does not call write_delta)."""
    try:
        snap = snapshot(path)
        cfg = snap.metadata.get("configuration") or {}
        if not _truthy(cfg.get("delta.autoOptimize.autoCompact")):
            return
        min_size = int(
            cfg.get("delta.autoOptimize.minFileSize", str(16 * 1024 * 1024))
        )
        min_num = int(cfg.get("delta.autoOptimize.minNumFiles", "50"))
        small = sum(
            1
            for a in snap.files.values()
            if int(a.get("size", 0)) < min_size
        )
        if small >= min_num:
            optimize_delta(spark, path, min_file_size=min_size)
    except Exception:  # noqa: BLE001 — advisory maintenance only
        return


def _truthy(v) -> bool:
    return isinstance(v, str) and v.strip().lower() == "true"


def cdf_enabled(snap: DeltaSnapshot) -> bool:
    """Whether ``delta.enableChangeDataFeed`` is set on the snapshot's
    metadata — the gate for DML cdc emission and table_changes."""
    cfg = snap.metadata.get("configuration") or {}
    return _truthy(cfg.get("delta.enableChangeDataFeed"))


def _refuse_append_only(snap: DeltaSnapshot, context: str) -> None:
    """``delta.appendOnly`` — THE writer-version-2 feature: when set,
    any commit that removes data files (overwrite, DELETE, UPDATE,
    MERGE, RESTORE) must be refused; only appends and
    dataChange:false maintenance (OPTIMIZE) may commit."""
    cfg = snap.metadata.get("configuration") or {}
    if _truthy(cfg.get("delta.appendOnly")):
        raise ValueError(
            f"delta {context}: table has delta.appendOnly=true — "
            "data-removing commits are forbidden"
        )


def set_table_properties(path: str, props: dict[str, str]) -> int:
    """``ALTER TABLE SET TBLPROPERTIES`` — commit a metaData update
    merging ``props`` into the table configuration (optimistic retry).
    Enabling ``delta.enableChangeDataFeed`` bumps minWriterVersion to
    4 (protocol writer feature: Change Data Feed); changes are
    recorded from the NEXT commit on — versions at or before this one
    stay unreadable through table_changes, exactly Delta's own
    enablement semantics. Returns the committed version."""
    for k, v in props.items():
        if not isinstance(k, str) or not isinstance(v, str):
            raise ValueError("set_table_properties: str->str map required")
    map_want = props.get("delta.columnMapping.mode")

    def attempt(snap: DeltaSnapshot) -> _Commit:
        # property updates are metadata-only and cannot corrupt an
        # existing mapping, so mapped tables are NOT refused here —
        # only mode CHANGES are constrained below
        _refuse_high_writer_version(snap, "SET TBLPROPERTIES")
        cfg = dict(snap.metadata.get("configuration") or {})
        cfg.update(props)
        meta = {**snap.metadata, "configuration": cfg}
        map_upgrade = False
        if map_want is not None:
            cur = _cm_mode(snap)
            if map_want == cur:
                pass  # idempotent re-set
            elif cur == "none" and map_want == "name":
                # delta-spark's upgrade: ids assigned, physicalName =
                # the CURRENT name at every nesting level (the files
                # already carry those names — metadata-only)
                map_upgrade = True
            else:
                raise NotImplementedError(
                    "set_table_properties: only the none -> 'name' "
                    f"column-mapping upgrade is supported, not "
                    f"{cur!r} -> {map_want!r} ('id' needs parquet "
                    "field ids the existing files lack; unmapping "
                    "would orphan physical names)"
                )
        if map_upgrade:
            sch_up = json.loads(snap.metadata["schemaString"])
            mx = _assign_mapping_ids(sch_up, keep_names=True)
            cfg["delta.columnMapping.maxColumnId"] = str(mx)
            meta = {
                **snap.metadata,
                "schemaString": json.dumps(sch_up),
                "configuration": cfg,
            }
        # ---- mid-life row-tracking enablement: BACKFILL in the same
        # commit. Every active file is re-added with a freshly carved
        # baseRowId range + defaultRowCommitVersion (dataChange=false
        # — replay replaces the add for the same path), the high-water
        # mark domain advances atomically with the ids it covers, and
        # the materialized column name is fixed at enablement so every
        # later rewrite preserves ids under one stable physical name
        # (delta-spark's ALTER ... enableRowTracking=true backfill,
        # collapsed to one atomic commit) ----
        rt_enable = _truthy(
            cfg.get("delta.enableRowTracking")
        ) and not row_tracking_enabled(snap)
        rt_backfill: list[dict] = []
        if rt_enable:
            hwm0 = _rt_hwm(snap)
            for rel, add in snap.files.items():
                base = add.get("baseRowId")
                if base is None:
                    continue
                s = add.get("stats")
                n = json.loads(s).get("numRecords") if s else None
                if n is None or base + int(n) - 1 > hwm0:
                    # a foreign writer assigned ids under 'suspended'
                    # tracking but the watermark domain is missing or
                    # behind — carving above it would mint colliding
                    # ids, so refuse rather than corrupt
                    raise NotImplementedError(
                        "set_table_properties: cannot enable row "
                        f"tracking — active file {rel!r} already "
                        "carries baseRowId beyond the recorded "
                        "rowIdHighWaterMark (unknowable watermark)"
                    )
            pending = [
                {"add": {**add, "dataChange": False}}
                for add in snap.files.values()
                if add.get("baseRowId") is None
            ]
            # _rt_assign refuses loudly on files without numRecords
            # stats (no disjoint range is carvable)
            rt_backfill_adds, rt_dm = _rt_assign(
                snap, pending, snap.version + 1
            )
            rt_backfill = rt_backfill_adds + rt_dm
            cfg.setdefault(_RT_MATCOL_KEY, f"_row-id-col-{uuid.uuid4()}")
            meta = {**meta, "configuration": cfg}
        info = {}
        if _truthy(
            cfg.get("delta.enableInCommitTimestamps")
        ) and not _truthy(
            (snap.metadata.get("configuration") or {}).get(
                "delta.enableInCommitTimestamps"
            )
        ):
            # spec: enabling ICT mid-life records WHERE the clock
            # switches — timestamp queries at or before the
            # enablement version keep using commit-file semantics.
            # Rebuild from the CURRENT meta (a same-call mapping
            # upgrade already put the id-assigned schemaString there)
            ict = _next_ict(path, snap.version + 1)
            cfg["delta.inCommitTimestampEnablementVersion"] = str(
                snap.version + 1
            )
            cfg["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
            meta = {**meta, "configuration": cfg}
            info["inCommitTimestamp"] = ict
        actions: list[dict] = [{"metaData": meta}]
        # ---- ONE protocol action per commit: snapshot replay keeps
        # only the LAST protocol action, so per-branch actions would
        # silently drop each other's features when several properties
        # enable in the same call ----
        need_r: set[str] = set()
        need_w: set[str] = set()
        have_w = set(snap.protocol.get("writerFeatures") or [])
        have_r = set(snap.protocol.get("readerFeatures") or [])
        wv = int(snap.protocol.get("minWriterVersion", 2) or 2)
        if (
            _truthy(cfg.get("delta.enableInCommitTimestamps"))
            and "inCommitTimestamp" not in have_w
        ):
            need_w.add("inCommitTimestamp")
        if map_upgrade:
            need_r.add("columnMapping")
            need_w.add("columnMapping")
        if cfg.get("delta.checkpointPolicy") == "v2" and (
            "v2Checkpoint" not in have_r
        ):
            # spec: the v2 policy requires the v2Checkpoint feature in
            # both lists from the moment it is set
            need_r.add("v2Checkpoint")
            need_w.add("v2Checkpoint")
        if _truthy(
            cfg.get("delta.enableDeletionVectors")
        ) and not _has_dv_feature(snap):
            need_r.add("deletionVectors")
            need_w.add("deletionVectors")
        if rt_enable:
            # rowTracking is writer-only; the high-water mark rides on
            # domainMetadata
            need_w.update(
                {"rowTracking", "domainMetadata"} - have_w
            )
        if (
            cfg.get("delta.requireCheckpointProtectionBeforeVersion")
            and "checkpointProtection" not in have_w
        ):
            # the spec ties the property to the table feature so
            # naive foreign writers are refused before they clean
            # through the protected region
            need_w.add("checkpointProtection")
        cdf_short = _truthy(cfg.get("delta.enableChangeDataFeed")) and (
            wv < 4 or (wv == 7 and "changeDataFeed" not in have_w)
        )
        if need_r or need_w:
            if cdf_short:
                # a feature-list upgrade enumerates implied features
                # from the CURRENT wv, which may predate CDF's legacy
                # version — carry it explicitly
                need_w.add("changeDataFeed")
            actions.append(
                _upgrade_protocol_features(
                    snap, sorted(need_r), sorted(need_w)
                )
            )
        elif cdf_short:
            # CDF alone keeps legacy tables legacy (wv 4)
            actions.append(_protocol_action(snap, 4, "changeDataFeed"))
        actions.extend(rt_backfill)
        return _Commit(
            {"properties": dict(sorted(props.items()))}, actions, info=info
        )

    return _commit(path, "SET TBLPROPERTIES", attempt)


def _nested_sibling_fields(sch: dict, parts: list[str]) -> list[dict]:
    """The schemaString ``fields`` list holding a dotted path's LAST
    segment: descends struct fields (unwrapping array-of-struct
    layers) for each preceding segment. Raises on missing parents or
    non-struct hops — never guesses."""
    fields = sch["fields"]
    for seg in parts[:-1]:
        f = next((x for x in fields if x["name"] == seg), None)
        if f is None:
            raise ValueError(f"no column {'.'.join(parts)!r}")
        t = f.get("type")
        while isinstance(t, dict) and t.get("type") == "array":
            t = t.get("elementType")
        if not (isinstance(t, dict) and t.get("type") == "struct"):
            raise ValueError(
                f"{'.'.join(parts)!r}: {seg!r} is not a struct column"
            )
        fields = t["fields"]
    return fields


def rename_delta_column(path: str, old: str, new: str) -> int:
    """``ALTER TABLE RENAME COLUMN`` — a METADATA-ONLY commit, legal
    exactly because the table uses column mapping: data files carry
    the stable physicalName, so changing the LOGICAL name touches no
    parquet (the whole point of delta.columnMapping.mode='name';
    reference tie: configure_notebook.py's managed Delta tables get
    this from the runtime). Refused on unmapped tables (there the
    logical name IS the file column name — a rename would orphan the
    data) and when any CHECK constraint / generated-column expression
    references the old name (this writer will not rewrite SQL).
    Returns the committed version."""
    if not delta_versions(path):
        raise ValueError(f"not a delta table at {path}")

    def attempt(snap: DeltaSnapshot) -> _Commit:
        _refuse_high_writer_version(snap, "RENAME COLUMN")
        if _column_mapping(snap) is None:
            raise NotImplementedError(
                "rename_delta_column: table does not use column "
                "mapping — renaming would orphan the physical column"
            )
        sch = json.loads(snap.metadata["schemaString"])
        # nested rename: 'parent.child' descends struct fields (and
        # array elements) — legal for the same reason the top-level
        # rename is: nested fields carry their own stable
        # physicalName, so only the schemaString changes. An EXACT
        # top-level match wins before '.' is read as nesting: mapped
        # tables legally hold logical names containing dots, and
        # resolving 'a.b' into a struct 'a' when a top-level 'a.b'
        # exists would rename the wrong field silently
        parts = (
            [old]
            if old in {f["name"] for f in sch["fields"]}
            else old.split(".")
        )
        fields = (
            _nested_sibling_fields(sch, parts)
            if len(parts) > 1
            else sch["fields"]
        )
        leaf = parts[-1]
        names = [f["name"] for f in fields]
        if leaf not in names:
            raise ValueError(f"rename_delta_column: no column {old!r}")
        if "." in new:
            raise ValueError(
                f"rename_delta_column: new name {new!r} must be a "
                "bare field name (the parent path stays)"
            )
        if new in names:
            raise ValueError(
                f"rename_delta_column: column {new!r} already exists"
            )
        refs = dict(table_constraints(snap))
        refs.update(table_generated_columns(snap))
        hit = [n for n, e in refs.items() if old in str(e)]
        if hit:
            raise NotImplementedError(
                f"rename_delta_column: {old!r} is referenced by "
                f"constraint/generation expression(s) {sorted(hit)} — "
                "drop them first"
            )
        for f in fields:
            if f["name"] == leaf:
                f["name"] = new
        meta = {
            **snap.metadata,
            "schemaString": json.dumps(sch),
            "partitionColumns": [
                new if c == old else c
                for c in (snap.metadata.get("partitionColumns") or [])
            ],
        }
        return _Commit({"from": old, "to": new}, [{"metaData": meta}])

    return _commit(path, "RENAME COLUMN", attempt)


def drop_delta_column(path: str, col: str) -> int:
    """``ALTER TABLE DROP COLUMN`` — metadata-only, legal exactly
    because the table uses column mapping: the physical column stays
    in the data files (readers simply no longer project it), so no
    parquet is touched — the same contract as rename_delta_column.
    Refused on unmapped tables, on partition columns, on the last
    remaining column, and when a CHECK constraint or generation
    expression references the column. Time travel before the drop
    still sees it. Returns the committed version."""
    if not delta_versions(path):
        raise ValueError(f"not a delta table at {path}")

    def attempt(snap: DeltaSnapshot) -> _Commit:
        _refuse_high_writer_version(snap, "DROP COLUMN")
        if _column_mapping(snap) is None:
            raise NotImplementedError(
                "drop_delta_column: table does not use column mapping "
                "— dropping would require rewriting every data file"
            )
        sch = json.loads(snap.metadata["schemaString"])
        # nested drop: 'parent.child' descends struct fields (and
        # array elements) — the nested physical column stays in the
        # files, readers stop projecting it (same contract as the
        # top-level drop). Exact top-level match wins before '.' is
        # read as nesting (mapped logical names may contain dots —
        # see rename_delta_column)
        parts = (
            [col]
            if col in {f["name"] for f in sch["fields"]}
            else col.split(".")
        )
        fields = (
            _nested_sibling_fields(sch, parts)
            if len(parts) > 1
            else sch["fields"]
        )
        leaf = parts[-1]
        names = [f["name"] for f in fields]
        if leaf not in names:
            raise ValueError(f"drop_delta_column: no column {col!r}")
        if len(names) == 1:
            raise ValueError(
                "drop_delta_column: cannot drop the only column"
                + (" of a struct" if len(parts) > 1 else "")
            )
        if col in (snap.metadata.get("partitionColumns") or []):
            raise ValueError(
                f"drop_delta_column: {col!r} is a partition column"
            )
        refs = dict(table_constraints(snap))
        refs.update(table_generated_columns(snap))
        hit = [n for n, e in refs.items() if col in str(e)]
        if hit:
            raise NotImplementedError(
                f"drop_delta_column: {col!r} is referenced by "
                f"constraint/generation expression(s) {sorted(hit)} — "
                "drop them first"
            )
        fields[:] = [f for f in fields if f["name"] != leaf]
        meta = {**snap.metadata, "schemaString": json.dumps(sch)}
        return _Commit({"columns": [col]}, [{"metaData": meta}])

    return _commit(path, "DROP COLUMNS", attempt)


def add_delta_columns(path: str, columns: dict[str, object]) -> int:
    """``ALTER TABLE ADD COLUMNS`` — a METADATA-ONLY commit appending
    new nullable columns to the end of the schema. Legal on mapped AND
    unmapped tables alike: existing data files simply lack the new
    columns, and every scan path null-fills missing columns (parquet's
    additive evolution — the same contract merge_schema appends rely
    on). On mapped tables the new fields (and their nested children)
    get fresh ids/physicalNames continuing from ``maxColumnId``.
    ``columns`` maps name -> type as a schemaString type value (``
    "long"``, a nested type dict) or a pyspark DataType. Top-level
    adds only (no dotted paths). Returns the committed version."""
    if not delta_versions(path):
        raise ValueError(f"not a delta table at {path}")
    if not columns:
        raise ValueError("add_delta_columns: no columns given")

    def attempt(snap: DeltaSnapshot) -> _Commit:
        _refuse_high_writer_version(snap, "ADD COLUMNS")
        sch = json.loads(snap.metadata["schemaString"])
        names = {f["name"] for f in sch["fields"]}
        new_fields: list[dict] = []
        for name, typ in columns.items():
            if "." in name:
                raise NotImplementedError(
                    f"add_delta_columns: nested position {name!r} not "
                    "supported — add a top-level column"
                )
            if name in names:
                raise ValueError(
                    f"add_delta_columns: column {name!r} already exists"
                )
            if hasattr(typ, "jsonValue"):
                typ = typ.jsonValue()
            new_fields.append(
                {
                    "name": name,
                    "type": typ,
                    "nullable": True,
                    "metadata": {},
                }
            )
        conf = dict(snap.metadata.get("configuration") or {})
        if _column_mapping(snap) is not None:
            tmp = {"fields": new_fields}
            new_max = _assign_mapping_ids(
                tmp,
                start=int(conf.get("delta.columnMapping.maxColumnId", "0")),
                only_missing=False,
            )
            conf["delta.columnMapping.maxColumnId"] = str(new_max)
        sch["fields"] = sch["fields"] + new_fields
        # fail loud on types the schema parser can't represent before
        # committing garbage
        StructType.fromJson(sch)
        meta = {
            **snap.metadata,
            "schemaString": json.dumps(sch),
            "configuration": conf,
        }
        return _Commit({"columns": sorted(columns)}, [{"metaData": meta}])

    return _commit(path, "ADD COLUMNS", attempt)


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_schema: dict[str, str] | None = None,
) -> int:
    """``CONVERT TO DELTA parquet.`/dir``` — the standard adoption
    path: an IN-PLACE v0 commit over an existing parquet directory,
    zero data rewritten. Every ``*.parquet`` file becomes an add
    action (footer stats included, so data skipping works from day
    one); Hive partition directories become partitionValues, with the
    partition column TYPES supplied by the caller
    (``partition_schema``: name -> schemaString type, e.g. ``{"seg":
    "string"}``) exactly as real CONVERT TO DELTA requires — dir
    names alone cannot distinguish '01' the string from 1 the int.
    The data schema comes from the parquet footers via Spark's own
    reader (so type widening/merging follows Spark's parquet rules).
    Refuses an existing delta table and partitioned directories
    without a partition_schema. Returns 0 (the new table's only
    version)."""
    from urllib.parse import quote as _quote
    from urllib.parse import unquote as _unquote

    if delta_versions(path):
        raise ValueError(
            f"convert_to_delta: {path} is already a delta table"
        )
    files: list[str] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                files.append(os.path.join(root, n))
    if not files:
        raise ValueError(f"convert_to_delta: no parquet files under {path}")
    # two passes: derive the partition layout from EVERY file first
    # (a single-pass "first file wins" check is order-dependent — a
    # stray root-level file sorting before the seg=* dirs would slip
    # through with empty partitionValues), then build the adds
    now_ms = int(time.time() * 1000)
    per_file: list[tuple[str, dict]] = []
    layouts: set[tuple[str, ...]] = set()
    for full in sorted(files):
        rel = os.path.relpath(full, path)
        segs = rel.split(os.sep)[:-1]
        pv: dict[str, str | None] = {}
        for seg in segs:
            col, eq, raw = seg.partition("=")
            if not eq:
                raise ValueError(
                    f"convert_to_delta: non-Hive directory {seg!r} "
                    f"under {path} (expected col=value)"
                )
            pv[col] = (
                None
                if raw == "__HIVE_DEFAULT_PARTITION__"
                else _unquote(raw)
            )
        layouts.add(tuple(pv))
        per_file.append((full, pv))
    if len(layouts) > 1:
        raise ValueError(
            "convert_to_delta: inconsistent partition layout: "
            f"{sorted(sorted(x) for x in layouts)}"
        )
    part_cols = list(next(iter(layouts)))
    adds: list[dict] = []
    for full, pv in per_file:
        rel = os.path.relpath(full, path)
        st = os.stat(full)
        add = {
            "path": _quote(rel.replace(os.sep, "/"), safe="/"),
            "partitionValues": pv,
            "size": st.st_size,
            "modificationTime": int(st.st_mtime * 1000),
            "dataChange": True,
        }
        stats = _file_stats(full)
        if stats:  # _stage's shape: the key is OMITTED when absent
            add["stats"] = stats
        adds.append({"add": add})
    if part_cols and not partition_schema:
        raise ValueError(
            "convert_to_delta: partitioned directory — supply "
            f"partition_schema for column(s) {part_cols} (directory "
            "names cannot carry types)"
        )
    # data schema from the footers via Spark's parquet reader; with
    # partition dirs Spark infers the partition columns too — replace
    # their inferred types with the caller's declared ones
    inferred = spark.read.parquet(path).schema
    sch = {"type": "struct", "fields": []}
    for f in inferred.fields:
        fj = f.jsonValue()
        if part_cols and f.name in part_cols:
            declared = (partition_schema or {}).get(f.name)
            if declared is None:
                raise ValueError(
                    f"convert_to_delta: partition_schema missing "
                    f"column {f.name!r}"
                )
            fj = {
                "name": f.name,
                "type": declared,
                "nullable": True,
                "metadata": {},
            }
        else:
            fj = _clean_field_json(fj)
        sch["fields"].append(fj)
    StructType.fromJson(sch)  # fail loud on unparseable declared types
    actions = [
        _commit_info(
            "CONVERT", {"numFiles": len(adds), "partitionedBy": part_cols}
        ),
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(sch),
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
        *adds,
    ]
    if not _publish_commit(path, 0, actions):
        raise ValueError(
            f"convert_to_delta: lost a creation race at {path}"
        )
    return 0


def shallow_clone(src: str, dst: str, version: int | None = None) -> int:
    """``CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]`` — a
    METADATA-ONLY copy: the clone's v0 commit re-publishes the source
    snapshot's add actions with ABSOLUTE data-file paths (the protocol
    allows absolute ``add.path``; this engine stores plain filesystem
    paths, percent-encoded), so ZERO data bytes move. Deletion-vector
    descriptors convert to absolute 'p' storage so the clone resolves
    the source's bins. The clone gets its OWN table id and log;
    mutations copy-on-write into the clone's directory and never touch
    the source (vacuum on either side is scoped to its own root — the
    clone's absolute references live outside it). Returns 0 (the
    clone's first version)."""
    from value_at_risk_spark.sources.dv import dv_abs_path

    if delta_versions(dst):
        raise ValueError(f"shallow_clone: {dst} is already a delta table")
    snap = snapshot(src, version)
    src_abs = os.path.abspath(src)
    now_ms = int(time.time() * 1000)
    adds: list[dict] = []
    for rel in sorted(snap.files):
        a = dict(snap.files[rel])
        a["path"] = quote(
            os.path.normpath(os.path.join(src_abs, unquote(rel))),
            safe="/",
        )
        a["dataChange"] = True
        dv = a.get("deletionVector")
        if dv is not None and dv.get("storageType") == "u":
            a["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": dv_abs_path(src_abs, dv),
            }
        a = {k: v for k, v in a.items() if v is not None}
        adds.append({"add": a})
    meta = {
        **snap.metadata,
        "id": str(uuid.uuid4()),  # a clone is its OWN table
        "createdTime": now_ms,
    }
    actions: list[dict] = [
        _commit_info(
            "CLONE",
            {
                "source": src_abs,
                "sourceVersion": snap.version,
                "isShallow": True,
            },
        ),
        # checkpoint-replayed protocols carry explicit None for absent
        # feature lists — strip them (feature lists exist only at
        # rv3/wv7 per the spec; a null list is malformed to strict
        # foreign readers), same as _protocol_action does
        {
            "protocol": {
                k: v for k, v in dict(snap.protocol).items() if v is not None
            }
        },
        {"metaData": meta},
        *adds,
    ]
    # carry the row-tracking high-water mark so the clone's future
    # commits keep carving ids above the copied ranges
    if (snap.domains or {}).get(_RT_DOMAIN):
        actions.append(
            {
                "domainMetadata": {
                    "domain": _RT_DOMAIN,
                    "configuration": snap.domains[_RT_DOMAIN],
                    "removed": False,
                }
            }
        )
    if not _publish_commit(dst, 0, actions):
        raise DeltaConcurrentModification(
            f"shallow_clone: {dst} gained a v0 concurrently"
        )
    return 0


# ALTER COLUMN TYPE widenings this writer will commit: exactly the
# conversions both scan paths (Spark parquet reader / pyarrow cast)
# upcast losslessly from the narrower physical files.
_TYPE_WIDENINGS = {
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def widen_column_type(path: str, col: str, new_type: str) -> int:
    """``ALTER TABLE ALTER COLUMN TYPE`` (widening only) — a
    METADATA-ONLY commit: the logical schema's field becomes the wider
    type, existing parquet files keep their narrow physical type and
    upcast at scan, and later appends stage the wide type the schema
    now declares. ``col`` may be a dotted NESTED leaf (``s.a``,
    descending struct and array-of-struct hops; exact top-level names
    win before '.' reads as nesting) — Spark's parquet reader applies
    the same lossless leaf upcasts at any nesting depth. The change is
    recorded in the field's ``delta.typeChanges`` metadata
    (fromType/toType, per the spec's stable typeWidening feature —
    tableVersion is -preview-only) and the protocol gains the
    typeWidening reader+writer feature — a reader that cannot upcast
    must refuse rather than misread. Narrowing or any conversion
    outside _TYPE_WIDENINGS is refused. Returns the committed
    version."""
    if not delta_versions(path):
        raise ValueError(f"not a delta table at {path}")

    def attempt(snap: DeltaSnapshot):
        _refuse_high_writer_version(snap, "ALTER COLUMN TYPE")
        sch = json.loads(snap.metadata["schemaString"])
        # exact top-level match wins before '.' is read as nesting
        # (same precedence as RENAME/DROP COLUMN — mapped tables
        # legally hold dotted logical names)
        field = next((f for f in sch["fields"] if f["name"] == col), None)
        if field is None and "." in col:
            parts = col.split(".")
            fields = _nested_sibling_fields(sch, parts)
            field = next(
                (f for f in fields if f["name"] == parts[-1]), None
            )
        if field is None:
            raise ValueError(f"widen_column_type: no column {col!r}")
        old_type = field["type"]
        if not isinstance(old_type, str):
            raise NotImplementedError(
                "widen_column_type: only primitive (leaf) fields can "
                "be widened — container types have no widening"
            )
        if old_type == new_type:
            return snap.version  # no-op, nothing to commit
        if (old_type, new_type) not in _TYPE_WIDENINGS:
            raise ValueError(
                f"widen_column_type: {old_type} -> {new_type} is not a "
                f"supported lossless widening {sorted(_TYPE_WIDENINGS)}"
            )
        if col in (snap.metadata.get("partitionColumns") or []):
            raise NotImplementedError(
                "widen_column_type: partition columns derive values "
                "from directory names — widening them is not supported"
            )
        field["type"] = new_type
        # spec (PROTOCOL.md Type Widening): change history lives under
        # the field-metadata key 'delta.typeChanges' — entries carry
        # fromType/toType; tableVersion belongs ONLY to the -preview
        # feature, and this writer declares the stable one
        changes = list(
            (field.get("metadata") or {}).get("delta.typeChanges") or []
        )
        changes.append({"fromType": old_type, "toType": new_type})
        field["metadata"] = {
            **(field.get("metadata") or {}),
            "delta.typeChanges": changes,
        }
        meta = {**snap.metadata, "schemaString": json.dumps(sch)}
        actions: list[dict] = [{"metaData": meta}]
        feats = set(snap.protocol.get("readerFeatures") or []) | set(
            snap.protocol.get("writerFeatures") or []
        )
        if "typeWidening" not in feats:
            actions.append(
                _upgrade_protocol_features(
                    snap, ("typeWidening",), ("typeWidening",)
                )
            )
        return _Commit(
            {"column": col, "from": old_type, "to": new_type}, actions
        )

    return _commit(path, "CHANGE COLUMN", attempt)


def table_identity_columns(snap: DeltaSnapshot) -> dict[str, dict]:
    """Identity columns (protocol writer feature 6) from schema field
    metadata: {col: {start, step, high_water_mark, allow_explicit}}.
    ``high_water_mark`` is None until the first generating write."""
    sch = json.loads(snap.metadata["schemaString"])
    out: dict[str, dict] = {}
    for f in sch["fields"]:
        md = f.get("metadata") or {}
        if "delta.identity.start" in md:
            out[f["name"]] = {
                "start": int(md["delta.identity.start"]),
                "step": int(md.get("delta.identity.step", 1)),
                "high_water_mark": (
                    int(md["delta.identity.highWaterMark"])
                    if md.get("delta.identity.highWaterMark") is not None
                    else None
                ),
                "allow_explicit": bool(
                    md.get("delta.identity.allowExplicitInsert", False)
                ),
            }
    return out


def _identity_metadata_update(
    metadata: dict, new_hwms: dict[str, int]
) -> dict:
    """A metaData dict whose schemaString carries updated identity
    high-water marks — committed atomically WITH the adds that
    generated past the old marks."""
    sch = json.loads(metadata["schemaString"])
    for f in sch["fields"]:
        if f["name"] in new_hwms:
            f["metadata"] = {
                **(f.get("metadata") or {}),
                "delta.identity.highWaterMark": int(new_hwms[f["name"]]),
            }
    return {**metadata, "schemaString": json.dumps(sch)}


def _generate_identity(
    df: DataFrame, col: str, dtype, base: int, step: int
) -> DataFrame:
    """Fill ``col`` with fresh identity values: base + step *
    monotonically_increasing_id(). Distributed, no shuffle, no
    coordination — uniqueness comes from the partition-id prefix of
    the monotonic id; values land on the (start + k*step) grid and
    strictly beyond the high-water mark. Gaps are expected (the
    protocol guarantees uniqueness and direction, not density)."""
    return df.withColumn(
        col,
        (
            F.lit(base)
            + F.lit(step) * F.monotonically_increasing_id()
        ).cast(dtype),
    )


def sync_identity(spark: SparkSession, path: str) -> dict[str, int]:
    """``ALTER TABLE ... SYNC IDENTITY`` — recompute each identity
    column's high-water mark from the TABLE's actual values (one
    aggregate over the snapshot) and commit the metadata. The repair
    step after explicit inserts on allowExplicitInsert tables."""

    def attempt(snap: DeltaSnapshot):
        _refuse_mapped_write(snap, "SYNC IDENTITY")
        _refuse_high_writer_version(snap, "SYNC IDENTITY")
        ids = table_identity_columns(snap)
        if not ids:
            raise ValueError(
                f"sync_identity: no identity columns at {path}"
            )
        df = _read_snapshot(spark, path, snap)
        aggs = [
            (
                F.max(c) if spec["step"] > 0 else F.min(c)
            ).alias(c)
            for c, spec in ids.items()
        ]
        row = df.agg(*aggs).first()
        new_hwms = {
            c: int(row[c]) for c in ids if row[c] is not None
        }
        if not new_hwms:
            return {}
        meta = _identity_metadata_update(snap.metadata, new_hwms)
        return _Commit({}, [{"metaData": meta}], result=new_hwms)

    return _commit(path, "SYNC IDENTITY", attempt)


def set_domain_metadata(
    path: str, domain: str, configuration: str = "", removed: bool = False
) -> int:
    """Commit a ``domainMetadata`` action (protocol writer feature):
    named, checkpoint-durable metadata domains riding the log's own
    transactional guarantees — the mechanism clustering state uses.
    ``removed=True`` tombstones the domain. Upgrades the protocol to
    writer v7 + domainMetadata on first use."""

    def attempt(snap: DeltaSnapshot) -> _Commit:
        _refuse_mapped_write(snap, "SET DOMAIN METADATA")
        _refuse_high_writer_version(snap, "SET DOMAIN METADATA")
        actions: list[dict] = []
        if "domainMetadata" not in (
            snap.protocol.get("writerFeatures") or []
        ):
            actions.append(
                _upgrade_protocol_features(snap, (), ("domainMetadata",))
            )
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": configuration,
                    "removed": bool(removed),
                }
            }
        )
        return _Commit({"domain": domain}, actions)

    return _commit(path, "SET DOMAIN METADATA", attempt)


def table_clustering_columns(snap: DeltaSnapshot) -> list[str] | None:
    """CLUSTER BY columns from the ``delta.clustering`` metadata
    domain (liquid clustering's storage shape: clusteringColumns as a
    list of single-element physical-name paths); None when the table
    is not clustered."""
    cfg = (snap.domains or {}).get("delta.clustering")
    if not cfg:
        return None
    cols = json.loads(cfg).get("clusteringColumns") or []
    return [c[0] if isinstance(c, list) else c for c in cols]


def table_generated_columns(snap: DeltaSnapshot) -> dict[str, str]:
    """{column: generation expression} from the schema field metadata
    (``delta.generationExpression`` — protocol writer feature 4)."""
    out: dict[str, str] = {}
    for f in json.loads(snap.metadata["schemaString"])["fields"]:
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr:
            out[f["name"]] = expr
    return out


def table_default_columns(snap: DeltaSnapshot) -> dict[str, str]:
    """{column: default SQL expression} from the schema field metadata
    (``CURRENT_DEFAULT`` — protocol writer feature allowColumnDefaults).
    Defaults apply when an INSERT-like statement OMITS the column; they
    never rewrite existing rows (the spec's contract)."""
    out: dict[str, str] = {}
    for f in json.loads(snap.metadata["schemaString"])["fields"]:
        expr = (f.get("metadata") or {}).get("CURRENT_DEFAULT")
        if expr:
            out[f["name"]] = expr
    return out


def _validate_default_expr(spark: SparkSession, expr: str, dtype) -> None:
    """A default must be CONSTANT-FOLDABLE and CASTABLE to the
    column's type. Foldability: planned against a COLUMNLESS frame
    (range(1) would falsely admit references to its own ``id``).
    Castability: evaluated once — a non-NULL constant whose non-ANSI
    cast comes back NULL (e.g. DEFAULT 'oops' on a double column)
    would otherwise silently insert NULL, violating the
    fills-the-default contract."""
    base = spark.range(1).drop("id")
    try:
        frame = base.select(F.expr(expr).alias("d"))
        row = frame.first()
    except Exception as e:  # noqa: BLE001
        raise ValueError(
            f"column default {expr!r} is not a constant "
            f"expression: {e}"
        ) from None
    # DETERMINISM (delta-spark's restriction): rand()/uuid() plan and
    # fold fine against a columnless frame but yield a different
    # 'constant' per row/insert — silently breaking the every-insert-
    # fills-the-same-default contract. The analyzer's own flag is the
    # authority (it rejects seeded rand(42) too, which a
    # value-compares-equal-twice probe would falsely admit).
    try:
        deterministic = (
            frame._jdf.queryExecution()
            .analyzed()
            .expressions()
            .apply(0)
            .deterministic()
        )
    except Exception:  # noqa: BLE001 — fall back to double evaluation
        deterministic = row == frame.first()
    if not deterministic:
        raise ValueError(
            f"column default {expr!r} is non-deterministic — defaults "
            "must be constant-foldable deterministic expressions"
        )
    try:
        cast_row = base.select(F.expr(expr).cast(dtype).alias("c")).first()
    except Exception:  # noqa: BLE001 — ANSI cast raises at eval
        cast_row = None
    if cast_row is None or (row.d is not None and cast_row.c is None):
        raise ValueError(
            f"column default {expr!r} does not cast to "
            f"{dtype.simpleString()}"
        )


def set_column_default(
    spark: SparkSession, path: str, col: str, expr: str | None
) -> int:
    """``ALTER TABLE ... ALTER COLUMN col SET DEFAULT expr`` (or DROP
    DEFAULT with ``expr=None``) — a metadata-only commit recording the
    default under the field's ``CURRENT_DEFAULT`` key and declaring
    the allowColumnDefaults writer feature. The expression must be
    CONSTANT-FOLDABLE (no column references — validated by planning
    it against a columnless frame), the same restriction delta-spark
    enforces; identity/generated columns refuse (their own contracts
    own the value). Existing rows are untouched: a default governs
    future INSERTs that omit the column."""
    if not delta_versions(path):
        raise ValueError(f"not a delta table at {path}")

    def attempt(snap: DeltaSnapshot) -> _Commit:
        _refuse_high_writer_version(snap, "ALTER COLUMN DEFAULT")
        if expr is not None:
            if col in table_identity_columns(snap):
                raise ValueError(
                    f"set_column_default: {col!r} is an identity "
                    "column — its generator owns the value"
                )
            if col in table_generated_columns(snap):
                raise ValueError(
                    f"set_column_default: {col!r} is a generated "
                    "column — its expression owns the value"
                )
        sch = json.loads(snap.metadata["schemaString"])
        field = next((f for f in sch["fields"] if f["name"] == col), None)
        if field is None:
            raise ValueError(f"set_column_default: no column {col!r}")
        if expr is not None:
            _validate_default_expr(
                spark,
                expr,
                StructType.fromJson(
                    {"type": "struct", "fields": [field]}
                )[col].dataType,
            )
        md = dict(field.get("metadata") or {})
        if expr is None:
            md.pop("CURRENT_DEFAULT", None)
        else:
            md["CURRENT_DEFAULT"] = expr
        field["metadata"] = md
        meta = {**snap.metadata, "schemaString": json.dumps(sch)}
        actions: list[dict] = [{"metaData": meta}]
        have_w = set(snap.protocol.get("writerFeatures") or [])
        if expr is not None and "allowColumnDefaults" not in have_w:
            actions.append(
                _upgrade_protocol_features(
                    snap, (), ("allowColumnDefaults",)
                )
            )
        return _Commit({"column": col, "default": expr}, actions)

    return _commit(path, "CHANGE COLUMN", attempt)


def _checked(
    df: DataFrame,
    context: str,
    not_null=(),
    checks: dict[str, str] | None = None,
    generated: dict[str, str] | None = None,
    materialize: bool = True,
) -> DataFrame:
    """The one row-validation rule for rows about to land in a table.
    ONE job, short-circuited by ``limit(1)``, looks for a row that
    breaks a generation expression (null-safe equality), a NOT NULL
    column, or a CHECK constraint (NULL passes, SQL CHECK semantics),
    and the error names the rule and the row — Delta's own UX. When
    there is anything to check and ``materialize`` is set (the stage
    reads ``df`` too), ``df`` is localCheckpointed first: each reader
    would otherwise re-run its plan, and a non-deterministic input
    could be checked on other rows than the ones written. Returns the
    frame the stage must use."""
    rules = [
        (
            f"generated column {c} must equal ({e})",
            ~F.col(_q(c)).eqNullSafe(F.expr(e)),
        )
        for c, e in sorted((generated or {}).items())
    ]
    if not_null:
        rules.append(
            (
                f"NOT NULL invariant violated for column(s) {list(not_null)}",
                functools.reduce(
                    lambda a, b: a | b, [F.col(_q(c)).isNull() for c in not_null]
                ),
            )
        )
    rules += [
        (
            f"CHECK constraint {n} ({e}) violated",
            ~F.coalesce(F.expr(e), F.lit(True)),
        )
        for n, e in sorted((checks or {}).items())
    ]
    if not rules:
        return df
    if materialize:
        df = df.localCheckpoint(eager=True)
    flags = [f"__broken{i}" for i in range(len(rules))]
    bad = (
        df.select(
            "*", *[F.coalesce(c, F.lit(False)).alias(f) for (_m, c), f in zip(rules, flags)]
        )
        .filter(functools.reduce(lambda a, b: a | b, map(F.col, flags)))
        .limit(1)
        .collect()
    )
    if bad:
        row = bad[0].asDict()
        msg = next(m for (m, _c), f in zip(rules, flags) if row[f])
        shown = {k: v for k, v in row.items() if k not in flags}
        raise ValueError(f"{context}: {msg} by row {shown}")
    return df


def _validate_write_schema(
    path: str,
    got: StructType,
    partition_by: list[str] | None,
    merge_schema: bool,
    mapped_ok: bool = False,
) -> tuple[list[str], dict | None, list[str]]:
    """write_delta's pre-flight half, shared with the Python Data
    Source writers (which must fail BEFORE launching tasks): returns
    (partition columns to stage under, merged metaData action or
    None, columns needing a runtime NOT NULL check). Appends to an
    existing table enforce schema and partition-column equality;
    ``partition_by`` is only consulted at table creation.
    ``mapped_ok``: the caller translates logical->physical names
    itself (write_delta); everyone else refuses mapped tables."""
    versions = delta_versions(path)
    existing = snapshot(path) if versions else None
    new_metadata = None
    null_checks: list[str] = []
    if existing is not None:
        if not mapped_ok:
            _refuse_mapped_write(existing, "write")
        part_cols = existing.partition_columns
        want = existing.schema
        if merge_schema:
            by_name = {f.name: f for f in want.fields}
            for gf in got.fields:
                wf = by_name.get(gf.name)
                if wf is not None and _bare_type_json(
                    wf.dataType
                ) != _bare_type_json(gf.dataType):
                    raise ValueError(
                        "write_delta: merge_schema cannot change the "
                        f"type of {gf.name} ({wf.dataType.simpleString()}"
                        f" -> {gf.dataType.simpleString()})"
                    )
            new_fields = [
                gf for gf in got.fields if gf.name not in by_name
            ]
            if new_fields:
                from pyspark.sql.types import StructField

                merged = StructType(
                    list(want.fields)
                    + [
                        StructField(f.name, f.dataType, True)
                        for f in new_fields
                    ]
                )
                new_metadata = {
                    **existing.metadata,
                    "schemaString": merged.json(),
                }
        else:
            # names + types must match exactly. Nullability follows
            # Delta's NOT NULL invariant semantics: a STATICALLY
            # nullable frame may target a required column (plan-level
            # nullability is conservative — e.g. any MERGE/union makes
            # columns nullable), but the WRITE must then prove no
            # actual null at runtime — those columns are returned for
            # the caller to check (write paths without a session to
            # run the check must refuse, same as CHECK constraints).
            ok = [f.name for f in want.fields] == [
                f.name for f in got.fields
            ]
            if ok:
                for wf, gf in zip(want.fields, got.fields):
                    # compare metadata-stripped types: the table's
                    # NESTED fields carry column-mapping bookkeeping
                    # in their StructField.metadata (which rides the
                    # dataType), the incoming frame's don't
                    if _bare_type_json(wf.dataType) != _bare_type_json(
                        gf.dataType
                    ):
                        ok = False
                        break
                    if gf.nullable and not wf.nullable:
                        null_checks.append(gf.name)
            if not ok:
                raise ValueError(
                    "write_delta: schema mismatch vs table metaData "
                    f"(table {want.simpleString()}, "
                    f"frame {got.simpleString()})"
                )
    else:
        part_cols = list(partition_by or [])
    return part_cols, new_metadata, null_checks


def _inv_fingerprint(snap: DeltaSnapshot) -> tuple:
    """The table invariants a writer must have ENFORCED before
    committing: CHECK constraints, generation expressions, and
    identity declarations (start/step/allowExplicit — NOT the
    high-water mark, which legitimately moves under concurrency).
    Compared per commit attempt so a concurrent ADD CONSTRAINT /
    schema-invariant change conflicts instead of publishing
    unchecked data."""
    ids = table_identity_columns(snap)
    return (
        tuple(sorted(table_constraints(snap).items())),
        tuple(sorted(table_generated_columns(snap).items())),
        tuple(
            sorted(
                (k, v["start"], v["step"], v["allow_explicit"])
                for k, v in ids.items()
            )
        ),
    )


def commit_staged_adds(
    path: str,
    adds: list[dict],
    schema: StructType,
    mode: str = "append",
    part_cols: list[str] | None = None,
    txn: dict | None = None,
    expected_version: int | None = None,
    new_metadata: dict | None = None,
    constraints_ok: bool = False,
    min_writer_version: int = 2,
    configuration: dict[str, str] | None = None,
    extra_actions: list[dict] | None = None,
    writer_features: list[str] | None = None,
    mapped_ok: bool = False,
    invariants_seen: tuple | None = None,
) -> int:
    """write_delta's commit half: publish already-staged add actions
    as one transactional version (optimistic retry; the protocol txn
    action dedups replays; overwrite recomputes removes against the
    CURRENT tip each attempt). Shared with the Python Data Source
    writers, whose tasks stage files themselves.

    Protocol writer-version discipline: a table whose
    ``minWriterVersion`` exceeds what this module implements (3:
    CHECK constraints) is refused, and a constrained table is refused
    unless the caller enforced the constraints on the data it staged
    (``constraints_ok``) — writing blind would corrupt the table's
    invariant, exactly what the protocol's writer version exists to
    prevent."""
    part_cols = list(part_cols or [])

    def _validate_tip(snap0: "DeltaSnapshot") -> None:
        if not mapped_ok:
            _refuse_mapped_write(snap0, "staged write")
        _refuse_high_writer_version(snap0, "staged write")
        # schema must still match THIS tip: a lost create race (two
        # writers both staged v0-shaped files; the loser lands as an
        # append) or a concurrent schema change would otherwise
        # publish files readers silently null-fill or misread.
        # new_metadata carries an intended schema change (merge_schema)
        # and skips the check; nullability/metadata are compared by
        # the pre-flight, only name+type identity matters here.
        if new_metadata is None:
            # SUBSET compatibility, not exact equality: merge_schema
            # appends legitimately stage fewer columns than the tip
            # declares (old/new files null-fill each other under
            # parquet's additive evolution) — but every staged column
            # must exist on the tip with the identical type
            tip_types = {
                f.name: _bare_type_json(f.dataType)
                for f in snap0.schema.fields
            }
            bad = [
                f.name
                for f in schema.fields
                if tip_types.get(f.name) != _bare_type_json(f.dataType)
            ]
            if bad:
                raise DeltaConcurrentModification(
                    f"staged write at {path}: the table's schema "
                    "changed concurrently (or a create race was lost "
                    "to a differently-shaped table) — staged "
                    f"column(s) {bad} do not match the tip's "
                    f"{snap0.schema.simpleString()}"
                )
        if constraints_ok and invariants_seen is not None:
            # the caller enforced constraints/generation/identity
            # against an earlier snapshot — a tip whose invariant SET
            # moved since (concurrent ADD CONSTRAINT, ...) makes that
            # enforcement stale; the protocol treats metaData changes
            # as conflicting with every transaction
            if _inv_fingerprint(snap0) != invariants_seen:
                raise DeltaConcurrentModification(
                    f"staged write at {path}: table invariants "
                    "(constraints/generated/identity) changed "
                    "concurrently — re-run the write so they are "
                    "enforced against the current metadata"
                )
        wv = int(snap0.protocol.get("minWriterVersion", 2) or 2)
        if not constraints_ok:
            if table_identity_columns(snap0):
                raise ValueError(
                    f"delta table at {path} has identity columns this "
                    "write path cannot generate — write through "
                    "write_delta"
                )
            if table_constraints(snap0) or table_generated_columns(snap0):
                raise ValueError(
                    f"delta table at {path} has invariants (CHECK "
                    "constraints / generated columns) this write path "
                    "cannot enforce — write through write_delta"
                )
            if wv == 4 and not cdf_enabled(snap0):
                # v4 for a reason we cannot see (identity columns, …)
                # — CDF alone is append-safe (changes derive from the
                # adds), any other v4 feature is not
                raise ValueError(
                    f"delta table at {path} declares minWriterVersion 4 "
                    "with no visible CDF/constraint/generated-column "
                    "metadata — refusing a blind staged write"
                )
        if mode == "overwrite":
            _refuse_append_only(snap0, "overwrite")

    def attempt(snap_tip: "DeltaSnapshot | None"):
        # snap_tip None = creating the table (version 0)
        version = snap_tip.version + 1 if snap_tip is not None else 0
        if snap_tip is not None:
            # re-validate against the CURRENT tip on every (re)try:
            # the protocol's conflict rules treat concurrent metaData /
            # protocol changes (ADD CONSTRAINT, appendOnly, upgrades)
            # as conflicting with every transaction — a retry that
            # kept the pre-loop validation would publish unchecked data
            _validate_tip(snap_tip)
        if expected_version is not None and version != expected_version + 1:
            raise DeltaConcurrentModification(
                f"write_delta: expected tip v{expected_version}, "
                f"found v{version - 1} at {path}"
            )
        if _committed_txn(snap_tip, txn):
            return -1
        # row tracking: carve fresh baseRowId ranges against THIS
        # attempt's tip (a retry against a moved tip re-carves above
        # the new high-water mark)
        if (
            snap_tip is not None and row_tracking_enabled(snap_tip)
        ) or (
            snap_tip is None
            and _truthy(
                (configuration or {}).get("delta.enableRowTracking")
            )
        ):
            adds_use, rt_actions = _rt_assign(snap_tip, adds, version)
        else:
            adds_use, rt_actions = adds, []
        actions: list[dict] = []
        if txn is not None:
            actions.append(_txn_action(txn))
        if new_metadata is not None:
            actions.append({"metaData": new_metadata})
        if snap_tip is None:
            actions += _creation_actions(
                schema, part_cols, configuration, min_writer_version,
                writer_features,
            )
        elif mode == "overwrite":
            # removes against THIS attempt's tip — a conflicting
            # concurrent append must not survive an overwrite that
            # committed after it; a tip that moves after this read
            # fails _publish_commit and retries
            actions += _removes(snap_tip, sorted(snap_tip.files))
        actions.extend(adds_use)
        actions.extend(rt_actions)
        if extra_actions:
            actions.extend(extra_actions)
        return _Commit({"mode": mode.upper()}, actions)

    if not delta_versions(path):
        # version-0 creator; a lost create race lands as an append or
        # overwrite through the commit loop
        first = attempt(None)
        if _publish_commit(
            path, 0, [_commit_info("WRITE", first.params), *first.actions]
        ):
            return 0
    return _commit(path, "WRITE", attempt)


def _creation_actions(
    schema: StructType,
    part_cols: list[str],
    configuration: dict[str, str] | None,
    min_writer_version: int,
    writer_features: list[str] | None,
) -> list[dict]:
    """The protocol and metaData actions of a table's version 0."""
    cfg0 = dict(configuration or {})
    rfeats: list[str] = []
    wfeats: list[str] = list(writer_features or [])
    if _truthy(cfg0.get("delta.enableInCommitTimestamps")):
        # no legacy writer version exists for ICT
        wfeats.append("inCommitTimestamp")
    if _truthy(cfg0.get("delta.enableDeletionVectors")):
        # spec: the property requires the feature in BOTH lists from
        # the moment it is set
        rfeats.append("deletionVectors")
        wfeats.append("deletionVectors")
    if cfg0.get("delta.columnMapping.mode", "none") not in ("none", ""):
        rfeats.append("columnMapping")
        wfeats.append("columnMapping")
    if cfg0.get("delta.checkpointPolicy") == "v2":
        rfeats.append("v2Checkpoint")
        wfeats.append("v2Checkpoint")
    if _truthy(cfg0.get("delta.enableRowTracking")):
        # rowTracking rides on domainMetadata (the high-water mark
        # lives in a metadata domain); name the materialized row-id
        # column at birth so every later rewrite materializes under
        # one stable physical name
        wfeats += ["rowTracking", "domainMetadata"]
        cfg0.setdefault(_RT_MATCOL_KEY, f"_row-id-col-{uuid.uuid4()}")
    if cfg0.get("delta.requireCheckpointProtectionBeforeVersion"):
        wfeats.append("checkpointProtection")
    legacy = {
        "minReaderVersion": 1,
        "minWriterVersion": max(2, min_writer_version),
    }
    if rfeats or wfeats:
        # the table is born as a feature table (v3/v7) with the
        # legacy features its min_writer_version implies
        fake = DeltaSnapshot(version=-1, metadata={}, protocol=legacy, files={})
        protocol = _upgrade_protocol_features(fake, rfeats, wfeats)
    else:
        protocol = {"protocol": legacy}
    return [
        protocol,
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": part_cols,
                "configuration": cfg0,
                "createdTime": int(time.time() * 1000),
            }
        },
    ]


def checkpoint_delta(
    path: str,
    version: int | None = None,
    max_rows_per_part: int = 1_000_000,
) -> int:
    """Write a parquet checkpoint of the snapshot at ``version``
    (default latest) + the ``_last_checkpoint`` hint; returns the
    checkpointed version. Replay afterwards is O(commits since
    checkpoint). Driver-side pyarrow write — the checkpoint is
    metadata (one row per active file). Past ``max_rows_per_part``
    rows the classic MULTI-PART form is written
    (``<v>.checkpoint.<part>.<numParts>.parquet``) so no single
    object carries the whole million-file action list; readers use
    only COMPLETE part sets, so a torn writer is invisible."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = snapshot(path, version)
    # spec: each checkpoint row represents exactly ONE action —
    # protocol and metaData must land as separate rows (a foreign
    # row-iterating reader converts each row to one action; packing
    # two into a row drops one of them)
    rows: list[dict] = [
        {"protocol": snap.protocol or None, "metaData": None,
         "add": None, "txn": None},
        {"protocol": None, "metaData": snap.metadata,
         "add": None, "txn": None},
    ]
    rows.extend(
        {"protocol": None, "metaData": None, "add": None,
         "txn": {"appId": app, "version": v}}
        for app, v in sorted((snap.txns or {}).items())
    )
    rows.extend(
        {"protocol": None, "metaData": None, "add": None, "txn": None,
         "domainMetadata": {"domain": d, "configuration": c,
                            "removed": False}}
        for d, c in sorted((snap.domains or {}).items())
    )
    rows.extend(
        {"protocol": None, "metaData": None, "add": add, "txn": None}
        for _p, add in sorted(snap.files.items())
    )
    # explicit types so an empty table still round-trips
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int64()),
            ("sizeInBytes", pa.int64()),
            ("cardinality", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            # a checkpoint that dropped deletionVector would resurrect
            # every DV-deleted row after log cleanup
            ("deletionVector", dv_t),
            # row tracking: ids derive from baseRowId + position — a
            # checkpoint that dropped them would orphan every fresh id
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            # table-features lists (protocol v3/v7) must survive the
            # checkpoint or log cleanup would silently downgrade the
            # table's declared requirements
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])
    domain_t = pa.struct(
        [
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ]
    )

    def _conv(row):
        a = row["add"]
        if a is not None:
            pv = a.get("partitionValues") or {}
            a = {
                "path": a.get("path"),
                "partitionValues": (
                    list(pv.items()) if isinstance(pv, dict) else list(pv)
                ),
                "size": a.get("size"),
                "modificationTime": a.get("modificationTime"),
                "dataChange": a.get("dataChange"),
                "stats": a.get("stats"),
                "deletionVector": a.get("deletionVector"),
                "baseRowId": a.get("baseRowId"),
                "defaultRowCommitVersion": a.get(
                    "defaultRowCommitVersion"
                ),
            }
        m = row["metaData"]
        if m is not None:
            conf = m.get("configuration") or {}
            m = {
                "id": m.get("id"),
                "format": {"provider": (m.get("format") or {}).get("provider")},
                "schemaString": m.get("schemaString"),
                "partitionColumns": m.get("partitionColumns"),
                # the protocol's table config (constraints, column
                # mapping) MUST survive the checkpoint — losing it on
                # replay would silently drop invariants
                "configuration": (
                    list(conf.items()) if isinstance(conf, dict) else list(conf)
                ),
                "createdTime": m.get("createdTime"),
            }
        return {
            "protocol": row["protocol"],
            "metaData": m,
            "add": a,
            "txn": row.get("txn"),
            "domainMetadata": row.get("domainMetadata"),
        }

    conv = [_conv(r) for r in rows]
    action_schema = pa.schema(
        [
            ("protocol", proto_t),
            ("metaData", meta_t),
            ("add", add_t),
            ("txn", txn_t),
            ("domainMetadata", domain_t),
        ]
    )
    policy = (snap.metadata.get("configuration") or {}).get(
        "delta.checkpointPolicy", "classic"
    )
    if policy == "v2":
        # spec: a table whose checkpointPolicy is v2 must get
        # V2-NAMED checkpoints (manifest + sidecars) — classic naming
        # is no longer legal for it
        return _write_v2_checkpoint(
            path, snap, conv, action_schema, max_rows_per_part
        )
    tbl = pa.Table.from_pylist(conv, schema=action_schema)
    n_parts = max(1, -(-len(conv) // max(1, max_rows_per_part)))
    if n_parts == 1:
        # tmp + atomic replace, same as the multi-part and v2 forms: a
        # crash mid-write must never leave a torn checkpoint at the
        # FINAL name — _checkpoint_files anchors on existence, and a
        # torn anchor bricks every later snapshot() (and, after log
        # cleanup, bricks the table permanently)
        dest = _checkpoint_path(path, snap.version)
        tmp = dest + f".tmp-{os.getpid()}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, dest)
    else:
        per = -(-len(conv) // n_parts)
        for i in range(n_parts):
            part = tbl.slice(i * per, per)
            dest = _checkpoint_part_path(
                path, snap.version, i + 1, n_parts
            )
            tmp = dest + f".tmp-{os.getpid()}"
            pq.write_table(part, tmp)
            os.replace(tmp, dest)
    last = {"version": snap.version, "size": len(conv)}
    if n_parts > 1:
        last["parts"] = n_parts
    with open(os.path.join(_log_dir(path), _LAST), "w") as fh:
        json.dump(last, fh)
    return snap.version


def _write_v2_checkpoint(
    path: str,
    snap: DeltaSnapshot,
    conv: list[dict],
    action_schema,
    max_rows_per_sidecar: int,
) -> int:
    """The V2 checkpoint form (writer side of the v2Checkpoint table
    feature, round 12 — read support landed in r11): file actions
    land in SIDECAR parquets under ``_delta_log/_sidecars/``, the
    uuid-named MANIFEST (``<v>.checkpoint.<uuid>.parquet``) carries
    checkpointMetadata + protocol/metaData/txn/domainMetadata + one
    sidecar action per sidecar file. Sidecars write FIRST — readers
    resolve checkpoints by manifest, so a torn writer (sidecars
    without a manifest) is invisible, the same publication order the
    classic multi-part form gets from complete-set resolution."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = _log_dir(path)
    side_dir = os.path.join(log, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    file_rows = [r for r in conv if r.get("add") is not None]
    other_rows = [r for r in conv if r.get("add") is None]
    n_side = max(
        1, -(-len(file_rows) // max(1, max_rows_per_sidecar))
    ) if file_rows else 0
    per = -(-len(file_rows) // n_side) if n_side else 0
    sidecars: list[dict] = []
    for i in range(n_side):
        part = file_rows[i * per : (i + 1) * per]
        if not part:
            continue
        name = f"{uuid.uuid4()}.parquet"
        dest = os.path.join(side_dir, name)
        tmp = dest + f".tmp-{os.getpid()}"
        pq.write_table(
            pa.Table.from_pylist(part, schema=action_schema), tmp
        )
        os.replace(tmp, dest)
        st = os.stat(dest)
        sidecars.append(
            {
                "path": name,
                "sizeInBytes": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
            }
        )
    cpm_t = pa.struct([("version", pa.int64())])
    side_t = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ]
    )
    manifest_schema = pa.schema(
        list(action_schema)
        + [("checkpointMetadata", cpm_t), ("sidecar", side_t)]
    )
    blank = {f.name: None for f in action_schema}
    manifest_rows = [
        {**blank, "checkpointMetadata": {"version": snap.version},
         "sidecar": None},
        *({**r, "checkpointMetadata": None, "sidecar": None}
          for r in other_rows),
        *({**blank, "checkpointMetadata": None, "sidecar": sc}
          for sc in sidecars),
    ]
    dest = os.path.join(
        log, f"{snap.version:020d}.checkpoint.{uuid.uuid4()}.parquet"
    )
    tmp = dest + f".tmp-{os.getpid()}"
    pq.write_table(
        pa.Table.from_pylist(manifest_rows, schema=manifest_schema), tmp
    )
    os.replace(tmp, dest)
    # size counts every ACTION the checkpoint carries (sidecar file
    # actions included — they ARE the checkpoint's adds)
    last = {
        "version": snap.version,
        "size": len(conv) + 1,  # + checkpointMetadata
        "v2Checkpoint": True,
    }
    with open(os.path.join(log, _LAST), "w") as fh:
        json.dump(last, fh)
    return snap.version


def describe_detail(path: str) -> dict:
    """``DESCRIBE DETAIL`` — the table's current physical summary,
    computed from the LOG alone (no data I/O): format, id, location,
    createdTime, lastModified (commit clock, ICT-aware), numFiles,
    sizeInBytes (sum of add.size), partitionColumns, properties, and
    the protocol versions/features."""
    snap = snapshot(path)
    vs = _json_versions(path)
    last_ms = None
    if vs:
        with open(_commit_path(path, vs[-1])) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ci = json.loads(line).get("commitInfo")
                if ci is not None:
                    last_ms = ci.get(
                        "inCommitTimestamp", ci.get("timestamp")
                    )
                    break
    return {
        "format": (snap.metadata.get("format") or {}).get(
            "provider", "parquet"
        ),
        "id": snap.metadata.get("id"),
        "location": os.path.abspath(path),
        "createdAt": snap.metadata.get("createdTime"),
        "lastModified": last_ms,
        "numFiles": len(snap.files),
        "sizeInBytes": sum(
            int(a.get("size") or 0) for a in snap.files.values()
        ),
        "partitionColumns": snap.partition_columns,
        "clusteringColumns": table_clustering_columns(snap) or [],
        "properties": dict(snap.metadata.get("configuration") or {}),
        "minReaderVersion": snap.protocol.get("minReaderVersion"),
        "minWriterVersion": snap.protocol.get("minWriterVersion"),
        "tableFeatures": sorted(
            set(snap.protocol.get("readerFeatures") or [])
            | set(snap.protocol.get("writerFeatures") or [])
        ),
    }


def delta_history(path: str) -> list[dict]:
    """commitInfo per version, ascending — the DESCRIBE HISTORY
    surface (version, timestamp, operation). Versions whose commit
    JSON was removed by ``cleanup_delta_log`` (checkpoint-only
    anchors) have no commitInfo to report and are skipped — Delta's
    own documented logRetention trade-off."""
    out = []
    for v in _json_versions(path):
        info = {}
        with open(_commit_path(path, v)) as fh:
            for line in fh:
                if line.strip():
                    a = json.loads(line)
                    if a.get("commitInfo"):
                        info = a["commitInfo"]
                        break
        out.append({"version": v, **info})
    return out


def optimize_delta(
    spark: SparkSession,
    path: str,
    zorder_by: list[str] | None = None,
    target_files: int | None = None,
    bits: int = 16,
    min_file_size: int | None = None,
    partition_filters: dict[str, list[str]] | None = None,
) -> int:
    """``OPTIMIZE [ZORDER BY ...]`` for native tables (the reference
    runs ``OPTIMIZE ... ZORDER BY (date, ticker)`` after its
    Monte-Carlo write, ``03_var_monte_carlo.py:162``): rewrite the
    active file set — compacted to ``target_files`` per layout root,
    optionally clustered on the Morton curve of 2-3 numeric columns
    (sources/layout.zorder_key, the same bit-interleave the parquet
    layout path uses) — and commit remove(old)+add(new) with
    ``dataChange: false``: readers see identical rows before and
    after, streaming consumers know nothing changed, and time travel
    still reaches the pre-optimize layout. Returns the committed
    version (or the current one untouched for an empty table).

    ``min_file_size`` (bytes; exclusive with zorder_by) selects
    INCREMENTAL compaction — real OPTIMIZE's default shape at scale:
    only files SMALLER than the threshold are rewritten (their DVs
    materialize in passing), every right-sized file keeps its add
    action verbatim. A daily small-file sweep on a 100 TB table
    rewrites megabytes, not the table; full-rewrite OPTIMIZE stays
    available for re-layout.

    ``partition_filters`` ({col: [values]}, LOGICAL names) scopes the
    rewrite to matching partitions — ``OPTIMIZE ... WHERE`` — so the
    100 TB daily sweep compacts yesterday's partition, not the table;
    composes with min_file_size (small files within the scope) and
    zorder_by (re-layout of the scope only)."""
    snap = snapshot(path)
    _refuse_high_writer_version(snap, "OPTIMIZE")
    if not snap.files:
        return snap.version
    # column-mapped tables: scan/stage physical, evaluate zorder
    # expressions (logical column names) in logical space
    io_snap, to_log, to_phys, l2p = _mapping_planes(spark, snap)
    if zorder_by is None and min_file_size is None:
        # liquid-clustering shape: a clustered table's OPTIMIZE
        # re-clusters on its declared columns without being told
        zorder_by = table_clustering_columns(snap)
    if partition_filters:
        pf, _sf = _map_filter_names(l2p, partition_filters, None)
        scope = _pruned_active(io_snap, pf, None)
    else:
        scope = sorted(snap.files)
    if min_file_size is not None:
        if zorder_by:
            raise ValueError(
                "optimize_delta: min_file_size (incremental compaction) "
                "and zorder_by (full re-layout) are exclusive"
            )
        rewrite_set = sorted(
            p
            for p in scope
            if int(snap.files[p].get("size", 0) or 0) < min_file_size
        )
        if len(rewrite_set) < 2:
            return snap.version  # nothing to gain from compacting <2
    else:
        rewrite_set = scope
        if not rewrite_set:
            return snap.version  # empty scope: nothing to commit
    # pinned to the resolved snapshot (not the moving tip); deletion
    # vectors are APPLIED by the scan, so compaction materializes
    # them — the compacted files carry no DV
    tracked = row_tracking_enabled(snap)
    if tracked:
        # a dataChange:false rewrite must PRESERVE row ids: scan with
        # ids resolved and stage them as the materialized column
        df = to_log(
            _files_with_row_ids(
                spark, path, io_snap, rewrite_set,
                _rt_matcol_required(snap, "OPTIMIZE"),
            )
        )
    else:
        df = to_log(_scan_files_dv(spark, path, io_snap, rewrite_set))
    if min_file_size is not None:
        total = sum(int(snap.files[p].get("size", 0) or 0) for p in rewrite_set)
        n = target_files or max(1, -(-total // (128 << 20)))
    else:
        n = target_files or df.sparkSession.sparkContext.defaultParallelism
    if zorder_by:
        from value_at_risk_spark.sources.layout import zorder_key

        aggs = []
        for c in zorder_by:
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            ]
        b = df.agg(*aggs).first()
        bounds = [(b[f"_lo_{c}"], b[f"_hi_{c}"]) for c in zorder_by]
        if any(lo is None or hi is None for lo, hi in bounds):
            raise ValueError(
                "optimize_delta: all-NULL zorder column; compact without "
                "zorder_by instead"
            )
        z = zorder_key([F.col(c) for c in zorder_by], bounds, bits)
        df = (
            df.withColumn("_z", z)
            .repartitionByRange(n, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    else:
        df = _spread_by_content(df, n)
    adds = _stage(
        to_phys(df), path, io_snap.partition_columns, data_change=False
    )
    params: dict = {"zOrderBy": list(zorder_by or [])}
    if min_file_size is not None:
        params["minFileSize"] = int(min_file_size)
    if partition_filters:
        params["predicate"] = {
            c: sorted(v) for c, v in partition_filters.items()
        }

    # removes are the OPTIMIZED snapshot's files, never the moving
    # tip's: the staged rewrite contains exactly snap's rows, so
    # removing a concurrent append's files would silently erase its
    # data under a dataChange:false commit. A tip that gained or lost
    # files since snap aborts instead (real Delta aborts conflicting
    # OPTIMIZE the same way); the caller simply re-runs.
    def attempt(current: DeltaSnapshot) -> _Commit:
        # compare (path, DV identity), not just paths: a concurrent
        # merge-on-read DELETE changes bitmaps without changing any
        # file path, and a dataChange:false rewrite over it would
        # silently resurrect its deleted rows
        if {p: _dv_uid(a) for p, a in current.files.items()} != {
            p: _dv_uid(a) for p, a in snap.files.items()
        }:
            raise RuntimeError(
                "optimize_delta: table changed concurrently "
                f"(v{snap.version} -> v{current.version}); re-run"
            )
        if tracked:
            # logical row ids ride in the materialized column; the
            # rewritten files still get fresh baseRowId ranges (the
            # protocol requires every tracked add to carry one) and
            # the high-water mark advances in this commit
            adds_use, rt_actions = _rt_assign(
                current, adds, current.version + 1
            )
        else:
            adds_use, rt_actions = adds, []
        removes = _removes(snap, rewrite_set, data_change=False)
        return _Commit(params, removes + adds_use + rt_actions)

    return _commit(path, "OPTIMIZE", attempt)


_INTERVAL_RE = re.compile(
    r"^\s*interval\s+(\d+)\s+(second|minute|hour|day|week)s?\s*$",
    re.IGNORECASE,
)
_INTERVAL_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def _retention_from_properties(snap: DeltaSnapshot) -> float | None:
    """``delta.deletedFileRetentionDuration`` ('interval N hours' per
    the spec) -> seconds; None when unset. Malformed values refuse
    loudly — a silently-ignored retention property is how files get
    vacuumed out from under a reader that trusted it."""
    raw = (snap.metadata.get("configuration") or {}).get(
        "delta.deletedFileRetentionDuration"
    )
    if raw is None:
        return None
    m = _INTERVAL_RE.match(raw)
    if not m:
        raise ValueError(
            "vacuum_delta: malformed "
            f"delta.deletedFileRetentionDuration {raw!r} (want "
            "'interval N hours|days|...')"
        )
    return int(m.group(1)) * _INTERVAL_SECONDS[m.group(2).lower()]


def vacuum_delta(
    path: str,
    keep_versions: int = 1,
    retention_seconds: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Physically delete data files referenced by NONE of the newest
    ``keep_versions`` snapshots — tombstoned by overwrite/optimize, or
    orphaned by failed commits. ``retention_seconds`` (mtime guard)
    protects a concurrent writer's not-yet-committed staging files,
    exactly why Delta's own VACUUM has a retention window; when not
    given explicitly it comes from the table's
    ``delta.deletedFileRetentionDuration`` property (the spec's knob),
    defaulting to 1 hour. Time travel to a vacuumed version
    subsequently fails at scan time — the documented Delta trade-off.
    ``dry_run`` lists the would-be-deleted paths and touches nothing
    (Delta's ``VACUUM ... DRY RUN``). Returns the deleted (or listed)
    paths."""
    import shutil

    versions = delta_versions(path)
    if not versions:
        return []
    # vacuumProtocolCheck (spec): a vacuum MUST validate the full
    # protocol before deleting anything — an unimplemented feature may
    # reference auxiliary files this walk would misjudge as orphans
    # (exactly how deletionVectors/cdc files are protected below).
    # snapshot() validates the reader portion; check the writer
    # portion explicitly.
    snap0 = snapshot(path)
    _refuse_high_writer_version(snap0, "VACUUM")
    if retention_seconds is None:
        prop = _retention_from_properties(snap0)
        retention_seconds = prop if prop is not None else 3600.0
    keep = versions[-max(1, keep_versions):]
    referenced: set[str] = set()
    for v in keep:
        ksnap = snapshot(path, v)
        referenced.update(
            os.path.normpath(unquote(p)) for p in ksnap.files
        )
        # deletion-vector files referenced by a kept snapshot's adds
        # must survive — deleting one resurrects its deleted rows
        from value_at_risk_spark.sources.dv import dv_abs_path

        for a in ksnap.files.values():
            d = a.get("deletionVector")
            if d and d.get("storageType") == "u":
                referenced.add(
                    os.path.normpath(
                        os.path.relpath(dv_abs_path(path, d), path)
                    )
                )
    # change-data files are referenced by their COMMIT, not by any
    # snapshot — keep every cdc file whose commit JSON is still in the
    # log (cleanup_delta_log is the retention boundary: once the
    # commit is pruned its changes are unreadable anyway, and the cdc
    # file becomes collectable)
    for v in _json_versions(path):
        with open(_commit_path(path, v)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                c = json.loads(line).get("cdc")
                if c is not None:
                    referenced.add(os.path.normpath(unquote(c["path"])))
    cutoff = time.time() - retention_seconds
    deleted: list[str] = []
    for root, dirs, names in os.walk(path, topdown=True):
        dirs[:] = [d for d in dirs if d != _LOG]
        for n in names:
            if not (
                n.endswith(".parquet")
                or (n.startswith("deletion_vector_") and n.endswith(".bin"))
            ):
                continue
            full = os.path.join(root, n)
            rel = os.path.normpath(os.path.relpath(full, path))
            try:
                if rel not in referenced and os.stat(full).st_mtime < cutoff:
                    if not dry_run:
                        os.unlink(full)
                    deleted.append(rel)
            except OSError:
                continue
    if dry_run:
        return deleted
    # prune now-empty dirs (stage subdirs whose files all vacuumed)
    for root, dirs, names in os.walk(path, topdown=False):
        if root != path and _LOG not in root and not dirs and not names:
            shutil.rmtree(root, ignore_errors=True)
    return deleted


def restore_delta(spark: SparkSession, path: str, version: int) -> int:
    """``RESTORE TABLE ... TO VERSION AS OF`` — commit a new version
    whose active file set IS the target version's: removes everything
    currently active but absent then, re-adds everything active then
    but absent now (re-referencing the SAME data files — restore moves
    no data, which is why vacuumed history cannot be restored). The
    rollback is itself a commit, so it is atomic, auditable in
    history, and reversible by another restore."""
    target = snapshot(path, version)

    def attempt(current: DeltaSnapshot) -> _Commit:
        _refuse_append_only(current, "RESTORE")
        # same writer-version discipline as every other mutation: a
        # table requiring features this module does not implement must
        # not receive remove/add commits that could violate them
        _refuse_high_writer_version(current, "RESTORE")
        # same file = same path AND same deletion-vector identity: a
        # path whose DV changed between the versions must be
        # re-referenced at the TARGET's DV state or the restore would
        # keep the newer bitmap
        to_remove = sorted(
            p
            for p, a in current.files.items()
            if p not in target.files
            or _dv_uid(a) != _dv_uid(target.files[p])
        )
        to_add = sorted(
            p
            for p, a in target.files.items()
            if p not in current.files
            or _dv_uid(a) != _dv_uid(current.files[p])
        )
        missing = [
            p for p in to_add
            if not os.path.exists(os.path.join(path, unquote(p)))
        ]
        if missing:
            raise FileNotFoundError(
                f"restore_delta: {len(missing)} files of version "
                f"{version} were vacuumed (e.g. {missing[0]})"
            )
        # same early-failure contract for the target adds' deletion
        # vectors: a vacuumed DV bin would otherwise surface later as
        # a scan-time error (or worse, resurrect rows if ignored)
        from value_at_risk_spark.sources.dv import dv_abs_path

        missing_dv = [
            p
            for p in to_add
            if (d := target.files[p].get("deletionVector"))
            and d.get("storageType") == "u"
            and not os.path.exists(dv_abs_path(path, d))
        ]
        if missing_dv:
            raise FileNotFoundError(
                f"restore_delta: {len(missing_dv)} deletion-vector "
                f"files of version {version} were vacuumed "
                f"(e.g. for {missing_dv[0]})"
            )
        actions = _removes(current, to_remove)
        # re-adds are a DATA change regardless of how the target
        # version produced the file: an OPTIMIZE-born add carries
        # dataChange:false, and re-publishing it verbatim would hide
        # the restored rows from CDF/incremental readers (which skip
        # non-data-change adds). None fields from checkpoint-replayed
        # adds are stripped rather than serialized as JSON nulls.
        actions.extend(
            {
                "add": {
                    **{
                        k: v
                        for k, v in target.files[p].items()
                        if v is not None
                    },
                    "dataChange": True,
                }
            }
            for p in to_add
        )
        return _Commit({"version": version}, actions)

    return _commit(path, "RESTORE", attempt)


def read_delta_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental reads — the batch form of Delta's streaming source:
    the rows ADDED by commits in (from_version, to_version] (add
    actions with ``dataChange: true``; OPTIMIZE rewrites are invisible
    by construction, exactly why they commit dataChange:false). This
    is how a downstream pipeline consumes a 100 TB table nightly —
    one bounded scan of the new files, never a rescan of the table.
    Append-only contract: a commit that REMOVES data-changing files
    (overwrite/restore) raises, because its delta cannot be expressed
    as added rows (use snapshot reads across such boundaries)."""
    versions = delta_versions(path)
    if to_version is None:
        to_version = versions[-1] if versions else from_version
    snap = snapshot(path, to_version)  # schema/partition metadata
    schema = snap.schema
    jsons = set(_json_versions(path))
    new_files: list[str] = []
    for v in versions:
        if not (from_version < v <= to_version):
            continue
        if v not in jsons:
            # checkpoint-only anchor: the per-commit change record was
            # removed by cleanup_delta_log — the delta is unknowable
            raise ValueError(
                f"read_delta_changes: commit {v} was cleaned from the "
                "log; its changes are no longer recoverable (start "
                "from a snapshot instead)"
            )
        with open(_commit_path(path, v)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("remove") and a["remove"].get("dataChange", True):
                    raise ValueError(
                        f"read_delta_changes: version {v} removes data "
                        "(overwrite/restore) — not expressible as "
                        "appended rows; read full snapshots across it"
                    )
                add = a.get("add")
                if add and add.get("deletionVector"):
                    raise ValueError(
                        f"read_delta_changes: version {v} attaches a "
                        "deletion vector — a data removal, not "
                        "expressible as appended rows"
                    )
                if add and add.get("dataChange", True):
                    new_files.append(os.path.join(path, unquote(add["path"])))
    if not new_files:
        return spark.createDataFrame([], schema)
    if not snap.partition_columns:
        return spark.read.schema(schema).parquet(*new_files)
    # same per-root union as read_delta (changed files span few commits)
    return _union_scan(
        spark, schema, _group_by_partition_root(path, new_files)
    )


def _scan_rel_paths(
    spark: SparkSession,
    path: str,
    schema: StructType,
    part_cols: list[str],
    rel_paths: list[str],
) -> DataFrame:
    """Typed scan over explicit relative paths — the _scan_files
    machinery without a snapshot (table_changes reads cdc and
    REMOVED files, neither of which is in the active set)."""
    files = [os.path.join(path, unquote(p)) for p in rel_paths]
    if not files:
        return spark.createDataFrame([], schema)
    if not part_cols:
        return spark.read.schema(schema).parquet(*files)
    return _union_scan(spark, schema, _group_by_partition_root(path, files))


def _scan_rel_paths_dv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    part_cols: list[str],
    entries: list[tuple],
) -> DataFrame:
    """_scan_rel_paths over (rel, partitionValues, deletionVector)
    change-plan entries, masking each file version's DV rows out —
    zero overhead when no entry carries one."""
    rels = [e[0] for e in entries]
    dvm = {e[0]: e[2] for e in entries if len(e) > 2 and e[2]}
    if not dvm:
        return _scan_rel_paths(spark, path, schema, part_cols, rels)
    files = [os.path.join(path, unquote(p)) for p in rels]
    meta = [
        F.col("_metadata.file_path").alias("__dv_fp"),
        F.col("_metadata.row_index").alias("__dv_ri"),
    ]
    names = [f.name for f in schema.fields]
    if not part_cols:
        df = spark.read.schema(schema).parquet(*files).select(*names, *meta)
    else:
        groups = _group_by_partition_root(path, files)
        branches = [
            spark.read.schema(schema)
            .option("basePath", root)
            .parquet(*fs)
            .select(*names, *meta)
            for root, fs in sorted(groups.items())
        ]
        df = branches[0]
        for b in branches[1:]:
            df = df.unionByName(b)
    return _dv_keep_filter(spark, path, dvm, df).select(*names)


def _change_plan(
    path: str, from_version: int, to_version: int
) -> list[dict]:
    """Driver-side CDF plan shared by table_changes and the Data
    Source CDF readers: one record per data-changing version in
    [from_version, to_version] —
    ``{version, ts_ms, cdc_files, add_files, rm_files}`` — each a
    list of (rel path, partitionValues); ``cdc_files`` non-empty
    means the others are ignored, per the protocol's reader rule. Validates enablement per version,
    cleaned commits, and vacuumed derivation inputs; bounded by
    commit count, no data I/O."""
    if from_version > to_version:
        raise ValueError(
            f"table_changes: from_version {from_version} > to_version "
            f"{to_version}"
        )
    jsons = set(_json_versions(path))
    cfg = dict(
        snapshot(path, from_version).metadata.get("configuration") or {}
    )
    plan: list[dict] = []
    for v in delta_versions(path):
        if not (from_version <= v <= to_version):
            continue
        if v not in jsons:
            raise ValueError(
                f"table_changes: commit {v} was cleaned from the log; "
                "its changes are no longer recoverable"
            )
        cdc_files: list[tuple] = []
        add_files: list[tuple] = []
        rm_files: list[tuple] = []
        ts_ms = None

        def _pv(action: dict) -> dict:
            pv = action.get("partitionValues") or {}
            return pv if isinstance(pv, dict) else dict(pv)

        with open(_commit_path(path, v)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("metaData") is not None:
                    cfg = dict(a["metaData"].get("configuration") or {})
                if a.get("commitInfo") is not None:
                    ci = a["commitInfo"]
                    ts_ms = ci.get(
                        "inCommitTimestamp", ci.get("timestamp", ts_ms)
                    )
                if a.get("cdc") is not None:
                    cdc_files.append((a["cdc"]["path"], _pv(a["cdc"])))
                add = a.get("add")
                if add is not None and add.get("dataChange", True):
                    add_files.append(
                        (add["path"], _pv(add), add.get("deletionVector"))
                    )
                rm = a.get("remove")
                if rm is not None and rm.get("dataChange", True):
                    # derivation must honor the removed file VERSION's
                    # deletion vector: rows it had already masked out
                    # were never logically present, so they are neither
                    # inserts nor deletes
                    rm_files.append(
                        (rm["path"], _pv(rm), rm.get("deletionVector"))
                    )
        if not cdc_files and not add_files and not rm_files:
            continue  # metadata-only / OPTIMIZE commit: no changes
        if not _truthy(cfg.get("delta.enableChangeDataFeed")):
            raise ValueError(
                f"table_changes: change data was not recorded for "
                f"version {v} (delta.enableChangeDataFeed was not set "
                "when it committed)"
            )
        if ts_ms is None:
            ts_ms = int(os.stat(_commit_path(path, v)).st_mtime * 1000)
        if not cdc_files:
            missing = [
                e[0] for e in (*add_files, *rm_files)
                if not os.path.exists(os.path.join(path, unquote(e[0])))
            ]
            if missing:
                raise FileNotFoundError(
                    f"table_changes: version {v} derivation needs "
                    f"{len(missing)} vacuumed file(s), e.g. {missing[0]}"
                )
        plan.append(
            {
                "version": v,
                "ts_ms": ts_ms,
                "cdc_files": cdc_files,
                "add_files": [] if cdc_files else add_files,
                "rm_files": [] if cdc_files else rm_files,
            }
        )
    return plan


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed read — the batch form of Delta's own
    ``table_changes``: every row-level change committed in versions
    ``[from_version, to_version]`` (INCLUSIVE bounds, Delta's
    convention — contrast read_delta_changes' exclusive ``from``),
    as the table columns plus ``_change_type`` (insert | delete |
    update_preimage | update_postimage), ``_commit_version``, and
    ``_commit_timestamp``.

    Per the protocol, a version that carries ``cdc`` actions is read
    from those files ONLY; a version without them derives its changes
    from the data-changing ``add``/``remove`` actions (adds → insert
    rows, removes → delete rows, read from the still-on-disk removed
    files) — so blind appends need no cdc files, while copy-on-write
    DML (which rewrites survivors) records exact row changes.
    OPTIMIZE commits (``dataChange: false``) are invisible. This is
    the incremental-consumption contract at 100 TB: each version
    contributes a scan bounded by ITS changed files, never a rescan
    of the table; the plan unions one branch per changed version
    (bounded by commits in the range, the same shape as Delta's own
    CDF scan).

    Raises when a data-changing version in range predates CDF
    enablement (``delta.enableChangeDataFeed``), when a commit JSON
    in range was cleaned from the log, or when a derivation needs a
    vacuumed file.

    Reference tie: the reference's pipeline tables are Delta
    (config/configure_notebook.py:18-27); CDF is how its downstream
    consumers would subscribe to DML incrementally."""
    versions = delta_versions(path)
    if to_version is None:
        to_version = versions[-1] if versions else from_version
    snap_to = snapshot(path, to_version)
    # column-mapped tables: data files AND cdc files carry physical
    # names — scan in physical space, alias to logical at the end
    # (the metadata columns _change_type/_commit_* are unmapped)
    io_to, to_log, _to_phys, _l2p = _mapping_planes(spark, snap_to)
    schema = io_to.schema
    part_cols = io_to.partition_columns
    cdc_schema = StructType(
        [*schema.fields, StructField("_change_type", StringType())]
    )
    branches: list[DataFrame] = []
    for entry in _change_plan(path, from_version, to_version):
        v, ts_ms = entry["version"], entry["ts_ms"]
        if entry["cdc_files"]:
            parts = [
                _scan_rel_paths(
                    spark, path, cdc_schema, part_cols,
                    [p for p, _ in entry["cdc_files"]],
                )
            ]
        else:
            parts = []
            if entry["add_files"]:
                parts.append(
                    _scan_rel_paths_dv(spark, path, schema, part_cols,
                                       entry["add_files"])
                    .withColumn("_change_type", F.lit("insert"))
                )
            if entry["rm_files"]:
                parts.append(
                    _scan_rel_paths_dv(spark, path, schema, part_cols,
                                       entry["rm_files"])
                    .withColumn("_change_type", F.lit("delete"))
                )
        for p in parts:
            branches.append(
                p.withColumn(
                    "_commit_version", F.lit(v).cast("bigint")
                ).withColumn(
                    "_commit_timestamp",
                    F.timestamp_millis(F.lit(ts_ms)),
                )
            )
    out_schema = StructType(
        [
            *cdc_schema.fields,
            StructField("_commit_version", LongType()),
            StructField("_commit_timestamp", TimestampType()),
        ]
    )
    if not branches:
        return to_log(spark.createDataFrame([], out_schema))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return to_log(out.select(*[f.name for f in out_schema.fields]))


def _ts_to_target_ms(ts) -> int:
    from datetime import datetime, timezone

    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    if isinstance(ts, datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        return int(ts.timestamp() * 1000)
    return int(float(ts) * 1000)


def _version_timestamps(path: str):
    """(version, commit-ts-ms) in version order. Timestamps come from
    ``commitInfo.inCommitTimestamp``/``timestamp`` with the commit
    file's mtime as fallback; checkpoint-anchored versions whose
    commit JSON was cleaned use the checkpoint file's mtime."""
    jsons = set(_json_versions(path))
    for v in delta_versions(path):
        if v in jsons:
            ts_ms = None
            with open(_commit_path(path, v)) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    ci = json.loads(line).get("commitInfo")
                    if ci is not None:
                        # in-commit timestamps are the authoritative
                        # clock when present (monotonic by protocol)
                        ts_ms = ci.get(
                            "inCommitTimestamp", ci.get("timestamp")
                        )
                        break
            if ts_ms is None:
                ts_ms = int(os.stat(_commit_path(path, v)).st_mtime * 1000)
        else:
            cps = _checkpoint_files(path, v)
            ts_ms = int(os.stat(cps[0]).st_mtime * 1000) if cps else 0
        yield v, ts_ms


def version_at_timestamp(path: str, ts) -> int:
    """The newest version whose commit timestamp is <= ``ts`` —
    ``TIMESTAMP AS OF`` resolution. ``ts`` is epoch seconds (int or
    float), a ``datetime``, or an ISO-8601 string (naive values are
    taken as UTC — commit timestamps are epoch milliseconds). Raises
    when ``ts`` predates the table's first version."""
    target_ms = _ts_to_target_ms(ts)
    best = None
    earliest_ms = None
    for v, ts_ms in _version_timestamps(path):
        if earliest_ms is None:
            earliest_ms = ts_ms
        if ts_ms <= target_ms:
            best = v
    if best is None:
        raise ValueError(
            f"version_at_timestamp: {target_ms} ms predates the "
            f"table's first commit ({earliest_ms} ms) at {path}"
        )
    return best


def version_at_or_after_timestamp(path: str, ts) -> int:
    """The OLDEST version whose commit timestamp is >= ``ts`` — the
    Change Data Feed STARTING-timestamp rule (delta-spark resolves a
    CDF start to the first commit at-or-after it, so changes that
    happened before the asked-for instant are never included; the
    at-or-before rule of ``version_at_timestamp`` governs AS-OF reads
    and CDF END bounds). A start before the first commit resolves to
    the first version; a start after the last commit raises (there
    are no changes to read — delta-spark's own error)."""
    target_ms = _ts_to_target_ms(ts)
    latest_ms = None
    for v, ts_ms in _version_timestamps(path):
        latest_ms = ts_ms
        if ts_ms >= target_ms:
            return v
    raise ValueError(
        f"version_at_or_after_timestamp: {target_ms} ms is after the "
        f"table's last commit ({latest_ms} ms) at {path} — no changes "
        "at or after that instant"
    )


def cleanup_delta_log(path: str, keep_last: int = 0) -> list[int]:
    """Delete commit JSONs fully superseded by the newest checkpoint
    (optionally keeping the trailing ``keep_last`` of them for
    history) — the log-retention half of table maintenance, bounding
    `_delta_log` listings on long-lived tables. Snapshot replay never
    needs a deleted commit (it starts at the checkpoint); time travel
    to a cleaned version subsequently raises not-in-log, and
    delta_history loses those entries — Delta's own documented
    logRetention trade-off. Returns the deleted versions."""
    versions = delta_versions(path)
    if not versions:
        return []
    cp = _latest_checkpoint(path, versions[-1])
    if cp is None:
        return []
    # only commit JSONs are deletable; the checkpoint itself anchors
    # its version for snapshot()/delta_versions() afterwards
    cutoff = [v for v in _json_versions(path) if v <= cp]
    # checkpointProtection (spec): history before
    # delta.requireCheckpointProtectionBeforeVersion may only be
    # cleaned when the operation truncates past the boundary in one
    # go, anchored by a checkpoint AT OR AFTER it — the protected
    # region's existing checkpoints (written by a fully-capable
    # writer) must otherwise stay reachable. A malformed property
    # value fails toward PROTECT EVERYTHING, never an exception out
    # of a maintenance call.
    cfg = snapshot(path).metadata.get("configuration") or {}
    raw_prot = cfg.get(
        "delta.requireCheckpointProtectionBeforeVersion", "0"
    )
    try:
        n_prot = int(raw_prot or 0)
    except (TypeError, ValueError):
        return []
    if n_prot and cp < n_prot:
        # no checkpoint at-or-after the boundary: nothing is cleanable
        return []
    if keep_last:
        cutoff = cutoff[:-keep_last] if keep_last < len(cutoff) else []
        if n_prot and cutoff and cutoff[-1] < n_prot - 1:
            # the keep_last slice would delete a strict PREFIX of the
            # protected region — the partial cleanup the feature
            # forbids (all-or-nothing below the boundary)
            return []
    deleted = []
    for v in cutoff:
        try:
            os.unlink(_commit_path(path, v))
            deleted.append(v)
        except OSError:
            continue
    return deleted


def _file_hits(
    spark: SparkSession,
    path: str,
    snap: DeltaSnapshot,
    candidates: list[str],
    match,
    view,
    positions: bool = False,
) -> dict:
    """The one file-hit mapper, Delta's own two-phase DML shape: ONE
    distributed scan of ``candidates`` narrowed by ``match(scan,
    file_col)`` — which returns the matching rows with the file column
    as ``_delta_file`` (a predicate filter, a key semi-join) —
    aggregated per file and collected: a driver result bounded by the
    file count, never by rows. Returns {rel path: matching row count}, or with
    ``positions`` {rel path: sorted physical row indexes} (the
    coordinates deletion vectors are defined over). Candidates that
    carry a deletion vector scan through the DV-applied metadata scan
    — already-deleted rows must never match again. ``view`` renames
    the scan to LOGICAL names (identity on unmapped tables) so
    ``match`` binds."""
    if not candidates:
        return {}
    if positions or _dv_map(snap, candidates):
        base = view(_scan_files_dv(spark, path, snap, candidates, keep_meta=True))
        fcol = F.col("__dv_fp")
    else:
        # input_file_name resolves in the scan stage: ``match`` must
        # take it before any join
        base = view(_scan_files(spark, path, snap, candidates))
        fcol = F.input_file_name()
    value = (
        F.sort_array(F.collect_list("__dv_ri"))
        if positions
        else F.count(F.lit(1))
    )
    rows = (
        match(base, fcol)
        .groupBy("_delta_file")
        .agg(value.alias("_v"))
        .collect()
    )
    # abspath, not the caller's possibly-RELATIVE table path: the
    # scan-side file paths are always absolute file: URIs
    abs2rel = {
        os.path.normpath(os.path.join(os.path.abspath(path), unquote(p))): p
        for p in candidates
    }
    out = {}
    for r in rows:
        a = r._delta_file
        if a.startswith("file:"):
            # file:///x and file:/x both normalize to /x
            a = "/" + a[len("file:"):].lstrip("/")
        out[abs2rel[os.path.normpath(unquote(a))]] = r._v
    return out


def _stage_cdc(
    df: DataFrame, path: str, part_cols: list[str]
) -> list[dict]:
    """Stage change-data rows (table columns + ``_change_type``) as
    parquet under ``_change_data/`` and return their ``cdc`` actions
    (protocol: Add CDC File — ``dataChange: false``, partitionValues
    like any add). The underscore prefix keeps the files invisible to
    plain directory scans; table_changes reads them by action."""
    rel = os.path.join("_change_data", f"cdc-{uuid.uuid4().hex[:12]}")
    stage_abs = os.path.join(path, rel)
    writer = df.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(stage_abs)
    actions = []
    for root, _dirs, names in os.walk(stage_abs):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            full = os.path.join(root, n)
            fr = os.path.relpath(full, path)
            actions.append(
                {
                    "cdc": {
                        "path": quote(fr, safe="/"),
                        "partitionValues": _parse_partition_values(fr),
                        "size": os.stat(full).st_size,
                        "dataChange": False,
                    }
                }
            )
    return actions


def delete_from_delta(
    spark: SparkSession,
    path: str,
    condition: str,
    partition_filters: dict[str, list[str]] | None = None,
    stats_filters: list[tuple] | None = None,
) -> dict:
    """``DELETE FROM <table> WHERE condition`` — the file-level DML
    shape real Delta uses: (1) prune candidate files at the LOG level
    (optional partition/stats filters), (2) one scan finds which files
    actually hold matching rows, (3) only those files change; every
    untouched file keeps its add action verbatim. At 100 TB a DELETE
    matching 0.1% of files touches 0.1% of the table. SQL semantics: a
    row is deleted iff the condition evaluates TRUE (NULL keeps the
    row). The table property ``delta.enableDeletionVectors`` — Delta's
    own switch — picks the storage strategy (``_dml``): copy-on-write
    rewrites the touched files' survivors; with deletion vectors the
    touched files are masked and nothing is rewritten (a small DELETE
    writes kilobytes of bitmap, not every touched gigabyte file).
    The commit is pinned to the read version — any concurrent commit
    forces re-identification and retry, so a racing append is never
    clobbered. Returns {version, rows_deleted, files_rewritten,
    files_added, dv_files, files_fully_removed}; no commit is made
    when nothing matches.

    Reference tie: the reference relies on Delta DML over its
    Monte-Carlo tables (config/configure_notebook.py:18-27); this is
    the native-log equivalent with delta-spark's file-skipping edge
    implemented rather than documented away."""
    return _dml(
        spark, path, "DELETE", condition, None, partition_filters,
        stats_filters,
    )


def _dml(
    spark: SparkSession,
    path: str,
    operation: str,
    condition: str,
    set_exprs: dict[str, str] | None,
    partition_filters: dict[str, list[str]] | None,
    stats_filters: list[tuple] | None,
) -> dict:
    """The one DELETE/UPDATE driver; DELETE is the case with no
    post-image (``set_exprs`` None). Per attempt: one file-hit scan
    finds the touched files, then one of two storage strategies, picked
    by ``delta.enableDeletionVectors`` on the attempt's snapshot:

    - copy-on-write: the touched files are rewritten — survivors, plus
      for UPDATE the matched rows with the SET applied in the same
      pass — and removed;
    - deletion vectors: the matched rows are masked out of their files
      by one DV file (a file masked in full is dropped outright); an
      UPDATE's post-image appends as new files.

    Staged rows pass the one row-validation rule (``_checked``); on a
    CDF table the matched rows are staged as change data (delete, or
    update pre/post images); on a row-tracked table the rewrite keeps
    every row's id through the materialized column."""
    hit = F.coalesce(F.expr(condition), F.lit(False))
    rows_key = "rows_deleted" if set_exprs is None else "rows_updated"
    params: dict = {"predicate": condition}
    if set_exprs is not None:
        params["set"] = dict(sorted(set_exprs.items()))

    def attempt(snap: DeltaSnapshot):
        _refuse_high_writer_version(snap, operation)
        _refuse_append_only(snap, operation)
        use_dv = _truthy(
            (snap.metadata.get("configuration") or {}).get(
                "delta.enableDeletionVectors"
            )
        )
        # column-mapped tables: scan/stage in PHYSICAL names, evaluate
        # the condition in LOGICAL names (identity planes if unmapped)
        io_snap, to_log, to_phys, l2p = _mapping_planes(spark, snap)
        pf, sf = _map_filter_names(l2p, partition_filters, stats_filters)
        hits = _file_hits(
            spark,
            path,
            io_snap,
            _pruned_active(io_snap, pf, sf),
            lambda df, f: df.filter(hit).withColumn("_delta_file", f),
            to_log,
            positions=use_dv,
        )
        result = {
            "version": snap.version,
            rows_key: 0,
            "files_rewritten": 0,
            "files_added": 0,
            "dv_files": 0,
            "files_fully_removed": 0,
            "auto_compact": _wants_auto_compact(snap),
        }
        if not hits:
            return result
        touched = sorted(hits)
        n_parts = len(touched)
        fields = snap.schema.fields
        # only a DV DELETE stages no rows (no post-image, no rewrite)
        writes = set_exprs is not None or not use_dv
        tracked = writes and row_tracking_enabled(snap)
        matcol = _rt_matcol_required(snap, operation) if tracked else None
        base = to_log(
            _files_with_row_ids(spark, path, io_snap, touched, matcol)
            if tracked
            else _scan_files_dv(spark, path, io_snap, touched)
        )
        keep_id = [F.col(matcol)] if tracked else []

        def set_cols(when=None) -> list:
            # updated values cast back to the table schema, so the
            # metaData contract never drifts
            cols = []
            for f in fields:
                c = _qcol(f.name)
                if f.name in (set_exprs or {}):
                    v = F.expr(set_exprs[f.name]).cast(_set_cast_type(f))
                    c = (v if when is None else F.when(when, v).otherwise(c))
                    c = c.alias(f.name)
                cols.append(c)
            return cols

        adds: list[dict] = []
        rt_actions: list[dict] = []
        if writes:
            if use_dv:
                # an UPDATE's post-image appends as new files
                staged = base.filter(hit).select(*set_cols(), *keep_id)
            elif set_exprs is None:
                staged = base.filter(~hit)
            else:
                staged = base.select(*set_cols(hit), *keep_id)
            if set_exprs is not None:
                required = {f.name for f in fields if not f.nullable}
                staged = _checked(
                    staged,
                    "update_delta",
                    not_null=sorted(required & set(set_exprs)),
                    checks=table_constraints(snap),
                    generated=table_generated_columns(snap),
                )
            # restage task count bounded by the touched-file count so
            # a 3-file DML doesn't shatter into shuffle-partition-many
            # small files (rewrite granularity ≈ input granularity)
            adds = _stage(
                to_phys(staged).repartition(n_parts),
                path,
                io_snap.partition_columns,
                data_change=True,
            )
            if tracked:
                # fresh baseRowId ranges for the new files + the
                # advanced high-water mark in this commit (logical ids
                # ride in the materialized column)
                adds, rt_actions = _rt_assign(snap, adds, snap.version + 1)
        mask_adds, n_dropped = (
            _dv_mask(path, snap, hits) if use_dv else ([], 0)
        )
        actions: list[dict] = []
        if use_dv and not _has_dv_feature(snap):
            # the first DV lifts the table to reader v3 / writer v7
            # with deletionVectors in BOTH lists (spec), in this commit
            actions.append(
                _upgrade_protocol_features(
                    snap, ("deletionVectors",), ("deletionVectors",)
                )
            )
        actions += _removes(snap, touched) + mask_adds + adds + rt_actions
        if cdf_enabled(snap):
            # change data: the matched rows from the touched-file scan
            # (a SET must see the original values); cdc files carry
            # physical names on mapped tables, like any data file
            pre = base.filter(hit).select(*[_qcol(f.name) for f in fields])
            if set_exprs is None:
                changes = pre.withColumn("_change_type", F.lit("delete"))
            else:
                changes = pre.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    base.filter(hit)
                    .select(*set_cols())
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
            actions += _stage_cdc(
                to_phys(changes).repartition(n_parts),
                path,
                io_snap.partition_columns,
            )
        result.update(
            {
                "version": snap.version + 1,
                rows_key: sum(
                    len(v) if use_dv else v for v in hits.values()
                ),
                "files_rewritten": 0 if use_dv else n_parts,
                "files_added": len(adds),
                "dv_files": len(mask_adds),
                "files_fully_removed": n_dropped,
            }
        )
        mode = {"mode": "deletionVectors"} if use_dv else {}
        return _Commit({**params, **mode}, actions, result=result)

    out = _commit(path, operation, attempt)
    # autoCompact parity with write_delta: the rewritten files and an
    # UPDATE's appended rows are data files the property promises to
    # keep compacted. Gated on the attempt's snapshot config, so
    # tables that never opted in pay no extra log replay
    if (out["files_rewritten"] or out["files_added"]) and out["auto_compact"]:
        _maybe_auto_compact(spark, path)
    return out


def _dv_mask(
    path: str, snap: DeltaSnapshot, hits: dict
) -> tuple[list[dict], int]:
    """The one deletion-vector masking step: each hit file's matched
    row positions, unioned with its existing DV, go into ONE new DV
    file (one object-store write per DML); the file is re-added under
    the same path with the new descriptor. A file whose DV reaches its
    physical numRecords is dropped outright. Returns (the re-adds, the
    count of files dropped). Driver memory is bounded by the matched
    row count (8 bytes each), never by table size."""
    import numpy as np

    from value_at_risk_spark.sources import dv as dvmod

    keep: list[tuple[str, "np.ndarray"]] = []
    dropped = 0
    for rel in sorted(hits):
        idx = np.asarray(hits[rel], dtype=np.uint64)
        old = snap.files[rel].get("deletionVector")
        if old:
            idx = np.union1d(idx, dvmod.read_dv(path, old))
        if _stats_num_records(snap.files[rel]) == len(idx):
            dropped += 1
        else:
            keep.append((rel, idx))
    if not keep:
        return [], dropped
    descs = dvmod.write_dv_file(path, [idx for _rel, idx in keep])
    adds = []
    for (rel, _idx), desc in zip(keep, descs):
        old_add = snap.files[rel]
        # row tracking: the file is UNTOUCHED (only masked), so its id
        # range — baseRowId + position — stays valid verbatim
        kept = (
            "path",
            "partitionValues",
            "size",
            "modificationTime",
            "stats",
            "baseRowId",
            "defaultRowCommitVersion",
        )
        add = {k: old_add[k] for k in kept if old_add.get(k) is not None}
        adds.append(
            {"add": {**add, "dataChange": True, "deletionVector": desc}}
        )
    return adds, dropped


def _upgrade_protocol_features(
    snap: DeltaSnapshot,
    reader_feats=(),
    writer_feats=(),
) -> dict:
    """A protocol action lifting the table to reader v3 / writer v7
    with explicit feature lists. Legacy version numbers carry IMPLIED
    features (spec: upgrading must enumerate them, or the upgrade
    silently drops requirements other writers relied on)."""
    p = {k: v for k, v in dict(snap.protocol).items() if v is not None}
    rv = int(p.get("minReaderVersion", 1) or 1)
    wv = int(p.get("minWriterVersion", 2) or 2)
    rfeats = set(p.get("readerFeatures") or [])
    wfeats = set(p.get("writerFeatures") or [])
    if rv < 3 and rv >= 2:
        rfeats.add("columnMapping")
    if wv < 7:
        for v, fs in (
            (2, ("appendOnly", "invariants")),
            (3, ("checkConstraints",)),
            (4, ("changeDataFeed", "generatedColumns")),
            (5, ("columnMapping",)),
            (6, ("identityColumns",)),
        ):
            if wv >= v:
                wfeats.update(fs)
    rfeats.update(reader_feats)
    wfeats.update(writer_feats)
    p_out: dict = {"minWriterVersion": 7, "writerFeatures": sorted(wfeats)}
    if reader_feats or rv >= 3:
        p_out["minReaderVersion"] = 3
        p_out["readerFeatures"] = sorted(rfeats)
    else:
        # a writer-only feature (inCommitTimestamp) must not force
        # readers to understand anything new
        p_out["minReaderVersion"] = rv
    return {"protocol": p_out}


def _has_dv_feature(snap: DeltaSnapshot) -> bool:
    return (
        "deletionVectors" in (snap.protocol.get("readerFeatures") or [])
        and "deletionVectors" in (snap.protocol.get("writerFeatures") or [])
    )


def _stats_num_records(add: dict) -> int | None:
    s = add.get("stats")
    if not s:
        return None
    try:
        n = json.loads(s).get("numRecords")
        return int(n) if n is not None else None
    except (ValueError, TypeError):
        return None


def purge_deletion_vectors(spark: SparkSession, path: str) -> dict:
    """``REORG TABLE ... APPLY (PURGE)`` — materialize every deletion
    vector: rewrite ONLY the files that carry one (surviving rows,
    restage task count bounded by DV'd-file count) and commit with
    ``dataChange: false`` — the logical row set is unchanged, so
    streaming consumers see nothing. The periodic compaction step
    that keeps merge-on-read DELETE from accreting bitmap debt."""

    def attempt(snap: DeltaSnapshot):
        _refuse_high_writer_version(snap, "REORG PURGE")
        dvm = _dv_map(snap, sorted(snap.files))
        if not dvm:
            return {
                "version": snap.version,
                "files_rewritten": 0,
                "files_added": 0,
            }
        # mapped tables: the whole rewrite is name-agnostic — scan
        # and restage in PHYSICAL space, no logical plane needed
        io_snap, _to_log, _to_phys, _l2p = _mapping_planes(spark, snap)
        rels = sorted(dvm)
        tracked = row_tracking_enabled(snap)
        if tracked:
            # dataChange:false rewrite — surviving rows keep their ids
            # through the materialized column
            survivors = _files_with_row_ids(
                spark, path, io_snap, rels,
                _rt_matcol_required(snap, "REORG PURGE"),
            )
        else:
            survivors = _scan_files_dv(spark, path, io_snap, rels)
        adds = _stage(
            _spread_by_content(survivors, len(rels)),
            path,
            io_snap.partition_columns,
            data_change=False,
        )
        actions = _removes(snap, rels, data_change=False)
        rt_actions: list[dict] = []
        if tracked:
            adds, rt_actions = _rt_assign(snap, adds, snap.version + 1)
        # a racing DELETE that re-masked an input file committed a new
        # version, so this publish loses the race and re-reads
        result = {
            "version": snap.version + 1,
            "files_rewritten": len(rels),
            "files_added": len(adds),
        }
        return _Commit(
            {"applyPurge": True}, actions + adds + rt_actions, result=result
        )

    return _commit(path, "REORG", attempt)


def _set_cast_type(f):
    """SET-expression cast target: the field's clean type with
    nullability relaxed at every nesting level — a named_struct
    rebuild produces nullable children, and a cast into a non-null
    container is refused (same CAST_WITHOUT_SUGGESTION class the
    rename planes hit). Type identity is still enforced; only
    nullability relaxes, and NOT NULL enforcement stays with the
    write-side null checks."""
    return _field_from_json(
        _relax_nulls_json(_clean_field_json(f.jsonValue()))
    ).dataType


def _struct_set_expr(prefix: str, fields: list[dict], sets: dict) -> str:
    """SQL expression rebuilding a struct with some fields assigned:
    ``named_struct('a', (expr), 'b', prefix.b, ...)`` — delta-spark's
    UpdateExpressionsSupport shape, where unassigned fields pass
    through as extracts (so a NULL struct row becomes NON-null with
    NULLs in the untouched fields, matching real Delta's UPDATE on
    nested fields). ``sets`` keys are paths relative to this struct;
    an exact field-name match wins before '.' is read as deeper
    nesting."""
    names = {f["name"] for f in fields}
    direct: dict[str, str] = {}
    deeper: dict[str, dict[str, str]] = {}
    for k, v in sets.items():
        if k in names:
            if k in direct:
                raise ValueError(f"update_delta: duplicate SET on {k!r}")
            direct[k] = v
        elif "." in k:
            h, rest = k.split(".", 1)
            deeper.setdefault(h, {})[rest] = v
        else:
            raise ValueError(
                f"update_delta: no field {k!r} under {prefix}"
            )
    bad = set(deeper) - names
    if bad:
        raise ValueError(
            f"update_delta: no field(s) {sorted(bad)} under {prefix}"
        )
    parts = []
    for f in fields:
        nm = f["name"]
        acc = f"{prefix}.`" + nm.replace("`", "``") + "`"
        if nm in direct and nm in deeper:
            raise ValueError(
                f"update_delta: conflicting SET on {nm!r} and its "
                "nested field(s)"
            )
        if nm in direct:
            val = f"({direct[nm]})"
        elif nm in deeper:
            t = f.get("type")
            if not (isinstance(t, dict) and t.get("type") == "struct"):
                raise ValueError(
                    f"update_delta: {nm!r} is not a struct — cannot "
                    "SET a nested field inside it"
                )
            val = _struct_set_expr(acc, t["fields"], deeper[nm])
        else:
            val = acc
        lit = nm.replace("'", "\\'")
        parts.append(f"'{lit}', {val}")
    return "named_struct(" + ", ".join(parts) + ")"


def _expand_nested_sets(
    sch_fields: list[dict], set_exprs: dict[str, str]
) -> dict[str, str]:
    """``UPDATE SET s.a = expr`` support: nested SET targets rewrite
    into a whole-struct named_struct over the enclosing column(s)
    (``_struct_set_expr`` — delta-spark semantics). Exact TOP-LEVEL
    names win before '.' is read as nesting (mapped tables legally
    hold dotted logical names). Returns a purely top-level map; flat
    assignments pass through untouched."""
    tops = {f["name"]: f for f in sch_fields}
    flat: dict[str, str] = {}
    nested: dict[str, dict[str, str]] = {}
    for k, v in set_exprs.items():
        if k in tops or "." not in k:
            flat[k] = v
        else:
            top, rest = k.split(".", 1)
            nested.setdefault(top, {})[rest] = v
    for top, sets in nested.items():
        f = tops.get(top)
        if f is None:
            raise ValueError(
                f"update_delta: SET on unknown columns ['{top}']"
            )
        if top in flat:
            raise ValueError(
                f"update_delta: conflicting SET on {top!r} and its "
                "nested field(s)"
            )
        t = f.get("type")
        if not (isinstance(t, dict) and t.get("type") == "struct"):
            raise ValueError(
                f"update_delta: {top!r} is not a struct — cannot SET "
                "a nested field inside it"
            )
        flat[top] = _struct_set_expr(
            "`" + top.replace("`", "``") + "`", t["fields"], sets
        )
    return flat


def update_delta(
    spark: SparkSession,
    path: str,
    condition: str,
    set_exprs: dict[str, str],
    partition_filters: dict[str, list[str]] | None = None,
    stats_filters: list[tuple] | None = None,
) -> dict:
    """``UPDATE <table> SET col = expr, ... WHERE condition`` — the
    same file-level DML as delete_from_delta (``_dml``): only files
    holding matching rows change, and updated values are cast back to
    the table schema so the metaData contract never drifts.
    Copy-on-write rewrites the touched files (non-matching rows pass
    through bit-identical); with ``delta.enableDeletionVectors`` the
    matched rows are masked out of their files and the updated rows
    append as new files — write volume scales with the MATCHED rows,
    never with the touched files' sizes (real Delta's own
    UPDATE-under-DV shape). Updating a PARTITION column works
    naturally: staged rows land in their new Hive directories.
    Nested SET targets (``s.a``) rewrite into whole-struct
    assignments. Returns {version, rows_updated, files_rewritten,
    files_added, dv_files, files_fully_removed}."""
    # one pre-flight snapshot for the cheap argument checks; the
    # commit loop re-snapshots the moving tip itself
    snap_pre = snapshot(path)
    # nested SET targets ('s.a') rewrite into whole-struct
    # named_struct assignments on the enclosing column
    set_exprs = _expand_nested_sets(
        json.loads(snap_pre.metadata["schemaString"])["fields"], set_exprs
    )
    known = {f.name for f in snap_pre.schema.fields}
    unknown = [c for c in set_exprs if c not in known]
    if unknown:
        raise ValueError(f"update_delta: SET on unknown columns {unknown}")
    id_cols = set(table_identity_columns(snap_pre)) & set(set_exprs)
    if id_cols:
        raise ValueError(
            f"update_delta: SET on identity column(s) {sorted(id_cols)} "
            "is forbidden (protocol writer feature 6)"
        )
    return _dml(
        spark, path, "UPDATE", condition, set_exprs, partition_filters,
        stats_filters,
    )


def table_constraints(snap: DeltaSnapshot) -> dict[str, str]:
    """CHECK constraints from ``metaData.configuration`` — the
    protocol's ``delta.constraints.<name> = <sql expr>`` entries."""
    conf = snap.metadata.get("configuration") or {}
    pre = "delta.constraints."
    return {
        k[len(pre):]: v for k, v in conf.items() if k.startswith(pre)
    }


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``: validates the
    EXISTING data first (one scan, as Delta does), then commits a
    metaData action carrying ``delta.constraints.name`` and bumps
    ``minWriterVersion`` to 3 — the protocol's contract that a writer
    which cannot enforce the constraint must refuse to write the
    table. Returns the committed version."""
    if not name.replace("_", "").isalnum() or name != name.lower():
        raise ValueError(
            f"constraint name must be lower_snake_case alnum: {name!r}"
        )
    _checked(
        read_delta(spark, path),
        "add_check_constraint",
        checks={name: expr},
        materialize=False,
    )

    def attempt(snap: DeltaSnapshot) -> _Commit:
        if name in table_constraints(snap):
            raise ValueError(f"constraint {name} already exists at {path}")
        # mapped tables are fine here: the validation scan above reads
        # through the mapping (logical space), the commit is
        # metadata-only, and write_delta enforces constraints on the
        # logical frame BEFORE physical-name translation
        _refuse_high_writer_version(snap, "ADD CONSTRAINT")
        conf = dict(snap.metadata.get("configuration") or {})
        conf[f"delta.constraints.{name}"] = expr
        actions = [
            # never drops declared features: feature-listed tables
            # gain checkConstraints, legacy tables bump to wv 3
            _protocol_action(snap, 3, "checkConstraints"),
            {"metaData": {**snap.metadata, "configuration": conf}},
        ]
        return _Commit({"name": name, "expr": expr}, actions)

    return _commit(path, "ADD CONSTRAINT", attempt)


def drop_check_constraint(
    spark: SparkSession, path: str, name: str
) -> int:
    """``ALTER TABLE DROP CONSTRAINT name`` — metaData-only commit."""

    def attempt(snap: DeltaSnapshot) -> _Commit:
        key = f"delta.constraints.{name}"
        conf = dict(snap.metadata.get("configuration") or {})
        if key not in conf:
            raise ValueError(f"no constraint {name} at {path}")
        del conf[key]
        meta = {**snap.metadata, "configuration": conf}
        return _Commit({"name": name}, [{"metaData": meta}])

    return _commit(path, "DROP CONSTRAINT", attempt)
