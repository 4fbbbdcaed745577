"""Delta Lake protocol primitives (actions, log paths, filters).

Derived from the public Delta Lake protocol specification
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) and the
behaviors the reference connector exhibits (SURVEY.md §1.1): a table is
a directory of parquet files plus `_delta_log/NNN...N.json` commits of
newline-delimited JSON actions, periodically compacted into
`N.checkpoint.parquet` pointed at by `_last_checkpoint`.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from typing import Any, Iterable, Optional
from urllib.parse import unquote

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
LOG_DIR = "_delta_log"
MAX_SUPPORTED_WRITER_VERSION = 2
MAX_SUPPORTED_READER_VERSION = 1

# The claimed-feature set for METADATA-ONLY commits (property/
# protocol upgrades, constraint changes): a commit carrying no file
# actions trivially maintains every data-level feature it claims,
# while an UNKNOWN foreign writer feature still refuses per the
# spec's writer-version contract. Shared by set_table_properties and
# every dedicated enable_* path (the r16 ADVICE medium's class —
# enable_change_data_feed was missing the gate, and so was every
# sibling).
METADATA_ONLY_FEATURES = frozenset({
    "columnMapping", "deletionVectors", "generatedColumns",
    "identityColumns", "rowTracking", "domainMetadata", "clustering",
    "changeDataFeed",
})

# ``urllib.parse.quote`` (safe="/") re-checks every character and falls
# back to a per-byte loop on any string holding a character outside
# its safe set — which every hive-partitioned path does (``=``).
# quote_path encodes whole runs of unsafe characters at once; its
# output is identical to ``quote(s)``, including the
# UnicodeEncodeError on lone surrogates.
_UNSAFE_RUN = re.compile(r"[^A-Za-z0-9_.\-~/]+")
_PCT = [f"%{b:02X}" for b in range(256)]


def _pct_encode(m: re.Match) -> str:
    return "".join([_PCT[b] for b in m.group().encode("utf-8")])


def quote_path(path: str) -> str:
    """Percent-encode a data-file path for a log action's ``path``
    field, byte-identical to ``urllib.parse.quote(path)``."""
    return _UNSAFE_RUN.sub(_pct_encode, path)


COLUMN_MAPPING_MODE_KEY = "delta.columnMapping.mode"
COLUMN_MAPPING_MAX_ID_KEY = "delta.columnMapping.maxColumnId"
PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"
COLUMN_ID_KEY = "delta.columnMapping.id"


class DeltaProtocolError(Exception):
    """Table requires protocol features this writer doesn't support
    (mirrors the reference's DeltaTableProtocolError gate,
    reference writer.py:254-259)."""


def column_mapping_mode(metadata) -> str:
    """'none' | 'name' | 'id' from the table configuration."""
    if metadata is None:
        return "none"
    return metadata.configuration.get(COLUMN_MAPPING_MODE_KEY, "none")


def check_read_protocol(protocol, metadata=None, features=frozenset()) -> None:
    """Refuse to scan tables whose reader protocol exceeds what the
    CALLING PATH implements. Reader version 2+ means features like
    column mapping or deletion vectors change how data files must be
    interpreted — ignoring them does not degrade, it returns WRONG
    rows (e.g. logically-renamed columns read as all-null, DV-deleted
    rows resurface). Failing loudly is the only correct behavior;
    delta-rs and delta-spark gate identically.

    ``features`` is the set of reader table features the caller
    actually handles (e.g. ``{"columnMapping"}`` for read paths that
    apply logical→physical name translation). Paths that don't pass a
    feature keep refusing such tables — the gate is per-path because
    support is per-path.
    """
    v = protocol.min_reader_version
    mode = column_mapping_mode(metadata)
    if mode != "none" and "columnMapping" not in features:
        raise DeltaProtocolError(
            f"This table uses column mapping (mode={mode!r}); this read "
            "path does not translate logical to physical column names, "
            "so the scan is refused (it would return wrong/null "
            "columns). Use read_delta, which supports column mapping."
        )
    if v <= MAX_SUPPORTED_READER_VERSION:
        return
    if v == 2:
        # reader v2 adds exactly one capability: column mapping. With
        # the mode handled (or 'none'), the data files are readable.
        if "columnMapping" in features or mode == "none":
            # metadata=None means the caller can't see the mapping
            # mode — refuse rather than guess.
            if metadata is None and "columnMapping" not in features:
                raise DeltaProtocolError(
                    "minReaderVersion=2 table but the caller supplied "
                    "no metadata to determine the column mapping mode; "
                    "refusing the scan."
                )
            return
        raise DeltaProtocolError(
            "This table's minReaderVersion is 2 (column mapping); this "
            "read path does not support it, so the scan is refused."
        )
    if v == 3:
        # reader v3: the readerFeatures list is authoritative — every
        # listed feature must be supported by the caller. A v3
        # protocol action WITHOUT the list violates the spec; refuse
        # rather than assume nothing is required.
        if protocol.reader_features is None:
            raise DeltaProtocolError(
                "This table's minReaderVersion is 3 but the protocol "
                "action carries no readerFeatures list; the required "
                "features are unknown, so the scan is refused."
            )
        listed = set(protocol.reader_features)
        # typeWidening is supported by EVERY scan path by construction:
        # the native reader hands Spark an explicit widened schema
        # (Spark's parquet reader up-casts int32→long / float→double),
        # and the Python-source path casts each Arrow column to the
        # target type (_read_file_as_batches) — both verified by
        # tests/test_type_widening.py. vacuumProtocolCheck constrains
        # only VACUUM (which gates, maintenance.py); it never changes
        # how data files are read.
        supported = set(features) | {
            "timestampNtz",
            "typeWidening",
            "vacuumProtocolCheck",
            # replay understands the manifest+sidecar shape
            # (log.py:_load_checkpoint), so every scan path supports it
            "v2Checkpoint",
        }
        unsupported = listed - supported
        if not unsupported:
            return
        raise DeltaProtocolError(
            f"This table's minReaderVersion is 3 and it requires reader "
            f"features {sorted(unsupported)} that this read path does "
            "not support, so the scan is refused (reading would "
            "misinterpret data files)."
        )
    raise DeltaProtocolError(
        f"This table's minReaderVersion is {v}, beyond anything this "
        "engine supports. The scan is refused."
    )


def _check_enforceable_write_features(metadata, features=frozenset()) -> None:
    """Structural checks shared by the elevated writer versions:
    refuse tables carrying declarations this writer cannot enforce —
    enforcing-by-refusal is the protocol's contract for writers.
    CHECK constraints are NOT refused here: every write path enforces
    them for real (delta/constraints.py enforce_constraints). Generated
    columns are refused only for callers that do NOT claim the
    ``generatedColumns`` feature — to_delta and the DML rewrites claim
    it because they compute/verify the expressions for real
    (delta/generated.py apply_generated_columns)."""
    if metadata is None:
        return
    schema_str = metadata.schema_string or ""
    if (
        '"delta.generationExpression"' in schema_str
        and "generatedColumns" not in features
    ):
        raise DeltaProtocolError(
            "Table has generated columns; this write path does not "
            "compute them, so the write is refused."
        )
    if (
        '"delta.identity.start"' in schema_str
        and "identityColumns" not in features
    ):
        raise DeltaProtocolError(
            "Table has identity columns; this write path does not "
            "assign them or advance the high water mark, so the write "
            "is refused."
        )
    if '"delta.invariants"' in schema_str:
        raise DeltaProtocolError(
            "Table has column invariants; this writer does not enforce "
            "them, so the write is refused."
        )
    if (
        metadata.configuration.get("delta.enableChangeDataFeed", "").lower()
        == "true"
        and "changeDataFeed" not in features
    ):
        # refused only for callers that do NOT claim the feature (the
        # generatedColumns pattern): data-writing paths never claim it
        # (this engine does not emit _change_data files), but VACUUM
        # does — it maintains the feature by construction (the
        # candidate walk prunes '_'-prefixed segments, so a foreign
        # writer's cdc files are never deletion candidates; r15)
        raise DeltaProtocolError(
            "Table has delta.enableChangeDataFeed=true; this writer "
            "does not emit _change_data files, so the write is refused "
            "(use this engine's read_delta_changes for CDC instead)."
        )


def check_append_only(metadata, operation: str) -> None:
    """Enforce delta.appendOnly: any table (v2 includes the appendOnly
    capability) may declare it; only blind appends are then legal."""
    if (
        metadata is not None
        and metadata.configuration.get("delta.appendOnly", "").lower() == "true"
        and operation != "append"
    ):
        raise DeltaProtocolError(
            f"Table is appendOnly (delta.appendOnly=true); operation "
            f"{operation!r} is refused."
        )


def check_write_protocol(protocol, metadata=None, features=frozenset()) -> None:
    """Writer-side gate. Writer v2 is the baseline. v5 (column
    mapping) and v7 (feature lists) are accepted when the caller
    handles every required feature AND the table carries none of the
    declarations a higher-version writer must also enforce (CHECK
    constraints, generated columns, invariants) — those are checked
    structurally, not assumed absent. appendOnly/invariants are
    'supported' precisely because they are enforced: appendOnly via
    check_append_only at each operation, invariants by refusal above.
    """
    wv = protocol.min_writer_version
    if wv <= MAX_SUPPORTED_WRITER_VERSION:
        return
    if wv in (3, 4):
        # v3 adds CHECK constraints (enforced for real on every write
        # path); v4 adds CDF + generated columns (computed/verified for
        # real by paths that claim the feature, refused structurally
        # otherwise)
        _check_enforceable_write_features(metadata, features)
        return
    if wv == 5:
        if "columnMapping" not in features:
            raise DeltaProtocolError(
                "This table's min_writer_version is 5 (column mapping); "
                "this write path does not support it, so the write is "
                "refused."
            )
        _check_enforceable_write_features(metadata, features)
        return
    if wv == 6:
        # v6 adds identity columns (assigned + high-water-marked for
        # real by paths that claim the feature, refused otherwise)
        _check_enforceable_write_features(metadata, features)
        return
    if wv == 7:
        if protocol.writer_features is None:
            raise DeltaProtocolError(
                "min_writer_version=7 without a writerFeatures list; "
                "required features unknown, so the write is refused."
            )
        # the latter three are "supported" by enforcement-by-refusal:
        # _check_enforceable_write_features refuses any table that
        # actually DECLARES a constraint / generated column / CDF
        # property, so a write that proceeds can never violate them
        supported = set(features) | {
            "timestampNtz",
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "identityColumns",
            # maintained CENTRALLY in write_commit (every commit path
            # stamps the monotonic clock, writer.py:_stamp_in_commit_
            # timestamp), so every write path supports it by
            # construction
            "inCommitTimestamp",
            # every write path already enforces the (widened) table
            # schema on the frames it writes, and every read path
            # up-casts older narrow files (see check_read_protocol)
            "typeWidening",
            # write-time defaults are materialized by to_delta for any
            # frame omitting the column (delta/defaults.py); DML paths
            # never create rows missing columns (MERGE requires the
            # full source schema, DELETE/UPDATE/OPTIMIZE rewrite
            # existing rows), so every path maintains the feature
            "allowColumnDefaults",
            # constrains only VACUUM, which performs the mandated
            # protocol check for real (maintenance.py:vacuum)
            "vacuumProtocolCheck",
            # checkpoints are written CENTRALLY (create_checkpoint /
            # the auto-checkpoint hook) and follow the table's
            # checkpointPolicy there, so every write path maintains it
            "v2Checkpoint",
            # commit routing is CENTRAL too: write_commit detects the
            # coordinator property and stages + arbitrates through it
            # (delta/coordinated.py), so every write path maintains
            # the feature without knowing it exists
            "coordinatedCommits",
            # set by drop_feature's history-truncating reader-feature
            # drops (delta/features.py). It constrains only metadata
            # cleanup, and cleanup_metadata satisfies it by
            # construction: every cleanup boundary is anchored at a
            # checkpoint it never deletes, so post-drop replays always
            # start at (or above) the protected checkpoint
            "checkpointProtection",
        }
        unsupported = set(protocol.writer_features) - supported
        if unsupported:
            raise DeltaProtocolError(
                f"Table requires writer features {sorted(unsupported)} "
                "this write path does not support; the write is refused."
            )
        _check_enforceable_write_features(metadata, features)
        return
    raise DeltaProtocolError(
        f"This table's min_writer_version is {wv}, but this method "
        f"only supports version {MAX_SUPPORTED_WRITER_VERSION} plus "
        "the column mapping / deletion vector feature paths."
    )


class ConcurrentCommitError(Exception):
    """Another writer committed the same version first (optimistic
    concurrency conflict — the reference has no conflict detection at
    all; we at least detect and refuse)."""


@dataclass
class AddAction:
    path: str  # relative, URL-decoded
    size: int
    partition_values: dict[str, Optional[str]] = field(default_factory=dict)
    modification_time: int = 0  # ms epoch
    data_change: bool = True
    stats: Optional[str] = None  # JSON string per protocol
    # deletion-vector descriptor dict per the spec (storageType,
    # pathOrInlineDv, offset, sizeInBytes, cardinality), or None
    deletion_vector: Optional[dict] = None
    # row tracking (writer feature rowTracking): first fresh row id of
    # this file (row i carries base_row_id + i) and the commit version
    # stamped on its rows — both assigned by the committing writer
    base_row_id: Optional[int] = None
    default_row_commit_version: Optional[int] = None
    # spec `tags` (optional, un-gated string map on add actions —
    # delta-spark stamps e.g. OPTIMIZE ZCube ids here). We never
    # originate add tags, but a FOREIGN log's add tags must survive
    # our parse → re-serialization (commit rewrite, checkpoint), the
    # same silent-stripping class the r12 remove fix closed
    # (VERDICT r12 #3).
    tags: Optional[dict] = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": quote_path(self.path),
            "partitionValues": {
                k: (v if v is not None else None)
                for k, v in self.partition_values.items()
            },
            "size": self.size,
            "modificationTime": self.modification_time,
            "dataChange": self.data_change,
        }
        if self.stats:
            d["stats"] = self.stats
        if self.deletion_vector is not None:
            d["deletionVector"] = self.deletion_vector
        if self.base_row_id is not None:
            d["baseRowId"] = self.base_row_id
        if self.default_row_commit_version is not None:
            d["defaultRowCommitVersion"] = self.default_row_commit_version
        if self.tags:
            d["tags"] = self.tags
        return {"add": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "AddAction":
        brid = d.get("baseRowId")
        drcv = d.get("defaultRowCommitVersion")
        return cls(
            path=unquote(d["path"]),
            size=int(d.get("size") or 0),
            partition_values=dict(d.get("partitionValues") or {}),
            modification_time=int(d.get("modificationTime") or 0),
            data_change=bool(d.get("dataChange", True)),
            stats=d.get("stats"),
            deletion_vector=d.get("deletionVector"),
            base_row_id=int(brid) if brid is not None else None,
            default_row_commit_version=(
                int(drcv) if drcv is not None else None
            ),
            tags=dict(d["tags"]) if d.get("tags") else None,
        )


def dv_unique_id(dv: Optional[dict]) -> str:
    """delta-kernel's deletion-vector unique id ('' for no vector):
    file actions reconcile on (path, dvId), not path alone — a remove
    of (path, dvA) must survive an add of (path, dvB) so the
    superseded vector keeps a logical deletion time for vacuum.

    Format matches kernel's DeletionVectorDescriptor.uniqueId exactly
    (ADVICE r9): the '@offset' suffix is appended ONLY when the
    descriptor carries an offset — an offset-less descriptor (inline
    vectors, or relative-path vectors written without one) must not
    gain a synthetic '@0', or any future interop that compares
    against kernel-computed uniqueIds mismatches on it. An offset
    that IS present and equals 0 still stamps '@0', also kernel's
    behavior."""
    if not dv:
        return ""
    base = f"{dv.get('storageType', '')}{dv.get('pathOrInlineDv', '')}"
    off = dv.get("offset")
    return f"{base}@{off}" if off is not None else base


@dataclass
class RemoveAction:
    REPLAY_ARCHIVE_TAG = "descriptorArchive"

    path: str
    deletion_timestamp: int = 0  # ms epoch
    data_change: bool = True
    # the removed add's deletionVector descriptor, carried on the
    # remove exactly as delta-spark records it: without it a
    # tombstoned DV .bin has no LOGICAL deletion time, so vacuum ages
    # it by file mtime and can reclaim it while the pre-removal
    # version is still inside the retention window (breaking time
    # travel / RESTORE to any version that reads the vector)
    deletion_vector: Optional[dict] = None
    # spec `tags` (arbitrary string map on file actions). Replay uses
    # one key, REPLAY_ARCHIVE_TAG, to mark tombstones it SYNTHESIZED
    # (descriptor archives for superseded/legacy-evicted vectors) as
    # distinct from writer-stamped descriptor removes — the
    # distinction the legacy-remove heuristic gate needs (log.py).
    tags: Optional[dict] = None
    # spec extended file metadata (partitionValues/size), preserved
    # when a foreign log carries them so our re-serialization
    # (checkpointing, log compaction) never strips fields another
    # engine wrote
    partition_values: Optional[dict] = None
    size: Optional[int] = None

    @property
    def extended_file_metadata(self) -> bool:
        """True exactly when this remove carries the spec's extended
        file metadata. The spec gates partitionValues/size/tags behind
        extendedFileMetadata=true — without the flag a strict foreign
        engine re-serializing the log may drop them, which for tags
        would erase the REPLAY_ARCHIVE_TAG marker and permanently
        disarm the legacy-remove heuristic on a pre-descriptor log.
        The flag is claimed ONLY when partitionValues AND size are
        both present: flag-true with null partitionValues is the
        spec-malformed shape strict engines reject (delta-spark's
        tombstone partition filtering NPE'd on exactly it), so a
        tags-only remove (e.g. a replay-archive tombstone parsed from
        a pre-r12 checkpoint, whose source add is gone) ships its tags
        WITHOUT the flag rather than malformed. Single-sourced here
        for to_json AND the checkpoint writer (review r12)."""
        return self.partition_values is not None and self.size is not None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": quote_path(self.path),
            "deletionTimestamp": self.deletion_timestamp,
            "dataChange": self.data_change,
        }
        if self.deletion_vector is not None:
            d["deletionVector"] = self.deletion_vector
        if self.extended_file_metadata:
            d["extendedFileMetadata"] = True
            d["partitionValues"] = self.partition_values
            d["size"] = self.size
        else:
            # ONE of partitionValues/size present (a foreign engine
            # wrote flag-true with a single field): re-emit the
            # present field UN-GATED rather than dropping it (the
            # pre-r13 behavior silently stripped it — ADVICE r12) or
            # re-claiming the flag with a null partitionValues (the
            # spec-malformed shape strict engines NPE on). A strict
            # foreign reader may ignore an un-gated field, but the
            # data survives OUR round-trip for engines that read it.
            if self.partition_values is not None:
                d["partitionValues"] = self.partition_values
            if self.size is not None:
                d["size"] = self.size
        if self.tags:
            d["tags"] = self.tags
        return {"remove": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "RemoveAction":
        pv = d.get("partitionValues")
        return cls(
            path=unquote(d["path"]),
            deletion_timestamp=int(d.get("deletionTimestamp") or 0),
            data_change=bool(d.get("dataChange", True)),
            deletion_vector=d.get("deletionVector") or None,
            tags=dict(d["tags"]) if d.get("tags") else None,
            partition_values=dict(pv) if pv is not None else None,
            size=int(d["size"]) if d.get("size") is not None else None,
        )


@dataclass
class Metadata:
    id: str
    schema_string: str  # Spark StructType JSON — the protocol's format
    partition_columns: list[str] = field(default_factory=list)
    configuration: dict[str, str] = field(default_factory=dict)
    name: Optional[str] = None
    description: Optional[str] = None
    created_time: Optional[int] = None
    format_provider: str = "parquet"

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "id": self.id,
            "format": {"provider": self.format_provider, "options": {}},
            "schemaString": self.schema_string,
            "partitionColumns": self.partition_columns,
            "configuration": self.configuration,
        }
        if self.name:
            d["name"] = self.name
        if self.description:
            d["description"] = self.description
        if self.created_time is not None:
            d["createdTime"] = self.created_time
        return {"metaData": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "Metadata":
        return cls(
            id=d.get("id", ""),
            schema_string=d.get("schemaString", ""),
            partition_columns=list(d.get("partitionColumns") or []),
            configuration=dict(d.get("configuration") or {}),
            name=d.get("name"),
            description=d.get("description"),
            created_time=d.get("createdTime"),
            format_provider=(d.get("format") or {}).get("provider", "parquet"),
        )


@dataclass
class Protocol:
    min_reader_version: int = 1
    min_writer_version: int = 2
    # populated only for reader v3 / writer v7 feature-list protocols
    reader_features: Optional[list] = None
    writer_features: Optional[list] = None

    def to_json(self) -> dict[str, Any]:
        p: dict[str, Any] = {
            "minReaderVersion": self.min_reader_version,
            "minWriterVersion": self.min_writer_version,
        }
        if self.reader_features is not None:
            p["readerFeatures"] = list(self.reader_features)
        if self.writer_features is not None:
            p["writerFeatures"] = list(self.writer_features)
        return {"protocol": p}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "Protocol":
        rf = d.get("readerFeatures")
        wf = d.get("writerFeatures")
        return cls(
            min_reader_version=int(d.get("minReaderVersion", 1)),
            min_writer_version=int(d.get("minWriterVersion", 2)),
            reader_features=list(rf) if rf is not None else None,
            writer_features=list(wf) if wf is not None else None,
        )


def protocol_with_features(
    proto: "Protocol",
    reader_features=(),
    writer_features=(),
) -> "Protocol":
    """``proto`` upgraded to a feature-list protocol carrying the given
    features: writer v7 (reader v3 only when reader features are
    added), existing features preserved, and a version-ladder table's
    implied obligations made explicit per the spec's upgrade rule."""
    wf = set(proto.writer_features or [])
    if proto.min_writer_version < 7 and proto.writer_features is None:
        implied = {
            2: {"appendOnly", "invariants"},
            3: {"checkConstraints"},
            4: {"changeDataFeed", "generatedColumns"},
            5: {"columnMapping"},
            6: {"identityColumns"},
        }
        for v, feats in implied.items():
            if proto.min_writer_version >= v:
                wf |= feats
    wf |= set(writer_features)
    rf = set(proto.reader_features or [])
    if proto.min_reader_version == 2 and proto.reader_features is None:
        rf |= {"columnMapping"}
    rf |= set(reader_features)
    reader_v = proto.min_reader_version
    if reader_features:
        reader_v = 3
    return Protocol(
        min_reader_version=reader_v,
        min_writer_version=7,
        reader_features=sorted(rf) if reader_v >= 3 else (
            proto.reader_features
        ),
        writer_features=sorted(wf),
    )


def is_absolute_add_path(p: str) -> bool:
    return p.startswith(("/", "file:")) or "://" in p


def resolve_file_path(table_root: str, add_path: str) -> str:
    """Absolute data-file path for one add action. ``add.path`` is
    normally RELATIVE to the table root, but the spec allows absolute
    paths/URIs — that is how a SHALLOW CLONE references the source
    table's files in place (delta/clone.py). ``file:`` URIs normalize
    to plain paths."""
    p = add_path
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
        return p
    if p.startswith("/") or "://" in p:
        return p
    return f"{table_root}/{p}"


def file_base_root(table_root: str, add: "AddAction") -> str:
    """The basePath of the scan group this file belongs to — the
    directory Spark's hive-partition discovery must anchor at. For a
    relative path that's the table root; for an absolute (cloned)
    path it's the SOURCE table's root, recovered by stripping the
    filename plus one hive directory level per partition column."""
    import os as _os

    if not is_absolute_add_path(add.path):
        return table_root
    root = _os.path.dirname(resolve_file_path(table_root, add.path))
    for _ in add.partition_values or {}:
        root = _os.path.dirname(root)
    return root


def commit_filename(version: int) -> str:
    return f"{version:020d}.json"


def checkpoint_filename(version: int) -> str:
    return f"{version:020d}.checkpoint.parquet"


def now_ms() -> int:
    return int(datetime.now(timezone.utc).timestamp() * 1000)


# ---------------------------------------------------------------------------
# DNF filter handling (reference filter syntax, core.py:209-212):
# [("col", op, val), ...] = AND;  [[...], [...]] = OR of ANDs.
# ---------------------------------------------------------------------------

DNF_OPS = {"=", "==", "!=", "<", ">", "<=", ">=", "in", "not in"}


def normalize_dnf(filters) -> list[list[tuple]]:
    """Normalize the reference's filter syntax to OR-of-ANDs."""
    if not filters:
        return []
    if isinstance(filters[0], tuple):
        filters = [filters]
    out = []
    for conj in filters:
        branch = []
        for col, op, val in conj:
            if op not in DNF_OPS:
                raise ValueError(f"Unsupported filter op: {op!r}")
            branch.append((col, "==" if op == "=" else op, val))
        out.append(branch)
    return out


def _coerce_partition_value(raw: Optional[str], like: Any) -> Any:
    """Partition values are carried as strings in the log
    (SURVEY.md §1.3); coerce to the filter value's type for comparison."""
    if raw is None:
        return None
    if isinstance(like, bool):
        return raw.lower() in ("true", "1")
    if isinstance(like, int):
        return int(raw)
    if isinstance(like, float):
        return float(raw)
    if isinstance(like, (datetime, date)):
        return datetime.fromisoformat(raw)
    return raw


def _cmp(op: str, left: Any, right: Any) -> bool:
    if left is None:
        return False
    if op == "==":
        return left == right
    if op == "!=":
        return left != right
    if op == "<":
        return left < right
    if op == ">":
        return left > right
    if op == "<=":
        return left <= right
    if op == ">=":
        return left >= right
    if op == "in":
        return left in right
    if op == "not in":
        return left not in right
    raise ValueError(op)


def prune_partitions(
    adds: Iterable[AddAction], dnf: list[list[tuple]]
) -> list[AddAction]:
    """Driver-side partition pruning: evaluate the DNF against each
    file's ``partitionValues`` — metadata only, no file listing or I/O,
    so it costs O(#files) regardless of data size (this is the same
    strategy delta-spark uses for partition pruning at 100 TB scale).

    Predicates on non-partition columns are treated as satisfiable
    (they are handled by stats skipping + row-level filters).
    """
    if not dnf:
        return list(adds)
    out = []
    for a in adds:
        keep = False
        for conj in dnf:
            ok = True
            for col, op, val in conj:
                if col not in a.partition_values:
                    continue  # not a partition predicate for this file
                sample = (
                    next(iter(val)) if isinstance(val, (list, tuple, set)) and val else val
                )
                pv = _coerce_partition_value(a.partition_values[col], sample)
                if isinstance(val, (list, tuple, set)):
                    coerced_set = [
                        _coerce_partition_value(str(v), sample) if isinstance(v, str) else v
                        for v in val
                    ]
                    if not _cmp(op, pv, coerced_set):
                        ok = False
                        break
                elif not _cmp(op, pv, val):
                    ok = False
                    break
            if ok:
                keep = True
                break
        if keep:
            out.append(a)
    return out


def prune_by_stats(
    adds: Iterable[AddAction], dnf: list[list[tuple]]
) -> list[AddAction]:
    """File-level data skipping from per-file min/max stats
    (``add.stats`` JSON — the reference writes these via
    ``get_file_stats_from_metadata``, writer.py:101-116; delta-spark
    calls this "data skipping"). Conservative: a file is kept unless
    some AND-branch is provably empty for *every* branch."""
    if not dnf:
        return list(adds)
    out = []
    for a in adds:
        stats = None
        if a.stats:
            try:
                stats = json.loads(a.stats)
            except (ValueError, TypeError):
                stats = None
        if not stats:
            out.append(a)
            continue
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        feasible_any = False
        for conj in dnf:
            feasible = True
            for col, op, val in conj:
                lo, hi = mins.get(col), maxs.get(col)
                if lo is None or hi is None:
                    continue
                if isinstance(val, (list, tuple, set)):
                    if op == "in" and not any(
                        _range_feasible("==", lo, hi, v) for v in val
                    ):
                        feasible = False
                        break
                    continue
                if not _range_feasible(op, lo, hi, val):
                    feasible = False
                    break
            if feasible:
                feasible_any = True
                break
        if feasible_any:
            out.append(a)
    return out


def _range_feasible(op: str, lo: Any, hi: Any, val: Any) -> bool:
    try:
        if op == "==":
            return lo <= val <= hi
        if op == "!=":
            return not (lo == hi == val)
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
    except TypeError:
        return True
    return True


def stats_column_spec(
    configuration: Optional[dict], schema=None
) -> tuple:
    """Resolve delta-spark's stats-collection table properties into a
    ``(max_cols, stats_columns)`` spec every stats producer threads
    through:

    - ``delta.dataSkippingStatsColumns`` — comma-separated column
      names; when set it WINS (delta-spark precedence) and
      numIndexedCols is ignored. Names are the table's LOGICAL names;
      when a schema is supplied they translate to PHYSICAL names (the
      stats JSON is keyed physically on column-mapped tables).
    - ``delta.dataSkippingNumIndexedCols`` — stats for the first N
      data columns; ``-1`` means all; unparseable warns and keeps the
      default 32 (delta-spark's default).

    Returns ``(32, None)`` when neither property is set: first-32
    columns, the long-standing default."""
    import warnings

    conf = configuration or {}
    raw_cols = (conf.get("delta.dataSkippingStatsColumns") or "").strip()
    if raw_cols:
        names = [c.strip() for c in raw_cols.split(",") if c.strip()]
        if not names:
            # ',' / ' , ' — non-empty but nameless. Treating it as
            # 'stats for NO columns' would silently kill skipping
            # table-wide while '' gives the default: two adjacent
            # degenerate spellings of 'unset' must not produce
            # opposite extremes. Warn and fall back to the default.
            warnings.warn(
                "delta.dataSkippingStatsColumns is set but names no "
                f"columns ({raw_cols!r}); using the default 32",
                RuntimeWarning,
                stacklevel=2,
            )
            return 32, None
        if schema is not None:
            from dask_deltalake_spark.delta.column_mapping import (
                logical_to_physical,
            )

            l2p = logical_to_physical(schema)
            known = set(l2p)
            for n in names:
                if n not in known:
                    # a typo silently disables skipping for the
                    # intended column; nested 'a.b' paths are not
                    # supported by these stats producers (top-level
                    # leaves only) — either way the user must hear it
                    # (delta-spark rejects unknown names at
                    # property-set time; we resolve at write time, so
                    # warn here)
                    warnings.warn(
                        "delta.dataSkippingStatsColumns names "
                        f"{n!r}, which is not a top-level column of "
                        "the table schema (typo, or an unsupported "
                        "nested path) — no stats will be collected "
                        "for it",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            names = [l2p.get(n, n) for n in names]
        return None, set(names)
    raw_n = (conf.get("delta.dataSkippingNumIndexedCols") or "").strip()
    if raw_n:
        try:
            n = int(raw_n)
        except ValueError:
            warnings.warn(
                "unparseable delta.dataSkippingNumIndexedCols "
                f"{raw_n!r}; using the default 32",
                RuntimeWarning,
                stacklevel=2,
            )
            return 32, None
        if n < -1:
            # delta-spark accepts exactly -1 as the all-columns
            # sentinel and rejects other negatives at property-SET
            # time; we resolve at write time, so warn and keep the
            # default rather than silently widening stats (ADVICE r10)
            warnings.warn(
                "invalid delta.dataSkippingNumIndexedCols "
                f"{raw_n!r} (only -1 means all columns); using the "
                "default 32",
                RuntimeWarning,
                stacklevel=2,
            )
            return 32, None
        return (None if n == -1 else n), None
    return 32, None


def stats_spec_for(snap) -> tuple:
    """(max_cols, stats_columns) for a live snapshot — the one
    resolution every rewrite-path stats producer shares (DELETE /
    UPDATE / OPTIMIZE / COMPUTE STATISTICS), so they cannot drift."""
    from dask_deltalake_spark.delta.reader import snapshot_schema

    return stats_column_spec(
        snap.metadata.configuration, schema=snapshot_schema(snap)
    )


def _select_stats_cols(names, max_cols, stats_columns) -> list:
    """Shared column-selection rule: explicit stats_columns win
    (order-preserving intersection), else the first max_cols
    (None = all)."""
    if stats_columns is not None:
        return [n for n in names if n in stats_columns]
    if max_cols is None:
        return list(names)
    return list(names)[:max_cols]


def stats_from_pandas(
    pdf, max_cols: Optional[int] = 32, stats_columns=None
) -> str:
    """Compute the protocol's per-file stats JSON
    ({numRecords, minValues, maxValues, nullCount}) from a pandas batch.
    Limited to the first ``max_cols`` leaf columns (delta-spark's
    dataSkippingNumIndexedCols; None = all) or, when ``stats_columns``
    is set, to exactly those columns (dataSkippingStatsColumns)."""
    import pandas as pd

    num = int(len(pdf))
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    for name in _select_stats_cols(pdf.columns, max_cols, stats_columns):
        s = pdf[name]
        nulls[name] = int(s.isna().sum())
        if s.dtype == object:
            non_null = s.dropna()
            if len(non_null) and all(isinstance(v, str) for v in non_null.head(5)):
                try:
                    mins[name] = str(non_null.min())
                    maxs[name] = str(non_null.max())
                except (TypeError, ValueError):
                    pass
            continue
        if pd.api.types.is_numeric_dtype(s) or pd.api.types.is_datetime64_any_dtype(s):
            non_null = s.dropna()
            if not len(non_null):
                continue
            mn, mx = non_null.min(), non_null.max()
            mins[name] = _stat_value(mn)
            maxs[name] = _stat_value(mx)
    return json.dumps(
        {"numRecords": num, "minValues": mins, "maxValues": maxs, "nullCount": nulls}
    )


class StatsAccumulator:
    """Streaming equivalent of :func:`stats_from_pandas`: merge running
    {numRecords, minValues, maxValues, nullCount} aggregates per batch
    so the executor write path never retains row data (a task writing
    N GB holds O(columns) state instead of N GB of frames).

    Produces byte-identical JSON to ``stats_from_pandas(concat(batches))``
    for homogeneous-schema batches."""

    def __init__(self, max_cols: Optional[int] = 32, stats_columns=None):
        self.max_cols = max_cols
        self.stats_columns = (
            set(stats_columns) if stats_columns is not None else None
        )
        self.num = 0
        self.cols: list | None = None
        self.nulls: dict[str, int] = {}
        self.mins: dict[str, Any] = {}
        self.maxs: dict[str, Any] = {}
        self._obj: set = set()  # object-dtype columns (string-checked at close)
        self._sample: dict[str, list] = {}  # first ≤5 non-null values seen
        self._failed: set = set()  # object cols with non-comparable values

    def update(self, pdf) -> None:
        import pandas as pd

        if self.cols is None:
            self.cols = _select_stats_cols(
                pdf.columns, self.max_cols, self.stats_columns
            )
        self.num += int(len(pdf))
        for name in self.cols:
            s = pdf[name]
            self.nulls[name] = self.nulls.get(name, 0) + int(s.isna().sum())
            if s.dtype == object:
                non_null = s.dropna()
                if not len(non_null):
                    continue
                sample = self._sample.setdefault(name, [])
                for v in non_null.head(5):
                    if len(sample) >= 5:
                        break
                    sample.append(v)
                self._obj.add(name)
                if name in self._failed:
                    continue
                try:
                    self._merge(name, non_null.min(), non_null.max())
                except (TypeError, ValueError):
                    self._failed.add(name)
                    self.mins.pop(name, None)
                    self.maxs.pop(name, None)
            elif pd.api.types.is_numeric_dtype(s) or pd.api.types.is_datetime64_any_dtype(s):
                non_null = s.dropna()
                if not len(non_null):
                    continue
                self._merge(name, non_null.min(), non_null.max())

    def _merge(self, name: str, bmn, bmx) -> None:
        self.mins[name] = bmn if name not in self.mins else min(self.mins[name], bmn)
        self.maxs[name] = bmx if name not in self.maxs else max(self.maxs[name], bmx)

    def to_json(self) -> str:
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        for name in self.cols or []:
            if name not in self.mins:
                continue
            if name in self._obj:
                sample = self._sample.get(name, [])
                if not (sample and all(isinstance(v, str) for v in sample)):
                    continue
                mins[name] = str(self.mins[name])
                maxs[name] = str(self.maxs[name])
            else:
                mins[name] = _stat_value(self.mins[name])
                maxs[name] = _stat_value(self.maxs[name])
        return json.dumps(
            {
                "numRecords": self.num,
                "minValues": mins,
                "maxValues": maxs,
                "nullCount": self.nulls,
            }
        )


def _stat_value(v: Any) -> Any:
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        return v
    if hasattr(v, "item"):
        return v.item()
    return v


def fold_file_stats(
    spark, pairs, part_cols, store=None, stats_spec: tuple = (32, None)
) -> dict:
    """One distributed stats pass shared by CONVERT TO DELTA and
    COMPUTE STATISTICS (delta/convert.py, delta/maintenance.py):
    executors read their assigned parquet files Arrow-batched and fold
    per-file protocol stats JSON through ``StatsAccumulator`` — the
    SAME accumulator to_delta's write path uses, so converted,
    recomputed, and written stats stay byte-compatible by
    construction. ``pairs`` is ``[(rel_path, abs_path), ...]``;
    partition columns are excluded (their values live in
    partitionValues; the reader prunes them separately). Returns
    ``{rel_path: stats_json}``. One mapInPandas job over
    ``min(n, 64)`` slices — never a driver loop over file contents.

    ``store`` (optional): a picklable LogStore shipped to executors;
    each file then opens through ``store.open_input(abs)`` instead of
    a plain path — the seam route for stores with no local mapping
    (CONVERT TO DELTA on S3/GCS-class stores)."""
    part_cols = list(part_cols)
    _max_cols, _stats_columns = stats_spec

    def gen(batches):
        import pandas as _pd
        import pyarrow.parquet as pq

        from dask_deltalake_spark.delta.protocol import StatsAccumulator

        for pdf in batches:
            out = []
            for rel, absp in zip(pdf["rel"], pdf["abs"]):
                acc = StatsAccumulator(
                    max_cols=_max_cols, stats_columns=_stats_columns
                )
                src = store.open_input(absp) if store is not None else absp
                try:
                    pf = pq.ParquetFile(src)
                    for batch in pf.iter_batches():
                        b = batch.to_pandas()
                        drop = [c for c in part_cols if c in b.columns]
                        acc.update(b.drop(columns=drop) if drop else b)
                finally:
                    if store is not None:
                        src.close()
                out.append({"rel": rel, "stats": acc.to_json()})
            yield _pd.DataFrame(out, columns=["rel", "stats"])

    rows = (
        spark.createDataFrame(list(pairs), "rel string, abs string")
        .repartition(min(len(pairs), 64))
        .mapInPandas(gen, schema="rel string, stats string")
        .collect()
    )
    return {r["rel"]: r["stats"] for r in rows}
