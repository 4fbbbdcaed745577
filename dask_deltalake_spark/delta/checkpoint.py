"""Delta checkpoint codec: the checkpoint parquet schema plus a
column-wise decoder and encoder (driver-side; delta-rs replays
checkpoints the same way, column by column over Arrow).

Decoding never turns a whole checkpoint row into Python dicts: the
``add``/``remove`` struct columns are filtered to their rows, each
child field is converted once, and the map columns
(``partitionValues``, ``tags``) are rebuilt from the MapArray's
offsets/keys/items — ``MapArray.to_pylist`` is the single most
expensive conversion on a large checkpoint. Only the rare columns
(``metaData``, ``protocol``, ``domainMetadata``, ``txn``,
``sidecar``) and the deletion-vector structs of the rows that carry
one go through ``to_pylist``.

The decoder keeps the row-wise parse's semantics exactly (pinned in
tests/test_checkpoint_codec.py against that parse):

- one kind per row, by precedence sidecar > add > remove > metaData >
  protocol > domainMetadata > txn (a row holding both an add and a
  remove is an add);
- ``dataChange`` reads True when the add has no such field, False
  when the field is null;
- empty add/remove ``tags`` read as None; a null remove
  ``partitionValues`` stays None while an empty map is ``{}``; an
  all-null deletion-vector struct reads as no vector;
- ``stats`` falls back to ``stats_parsed`` when empty;
- paths are URL-decoded;
- domain tombstones and repeated txn app ids apply in row order;
- optional columns and child fields may be absent (pre-tags files,
  narrow foreign schemas).

Encoding builds each struct column from per-field arrays
(``StructArray.from_arrays``) and stacks the action kinds into one
table in the classic row layout: protocol, metaData, adds, removes,
domainMetadata, txn."""

from __future__ import annotations

import json
from typing import Optional
from urllib.parse import unquote

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from dask_deltalake_spark.delta.protocol import (
    AddAction,
    Metadata,
    Protocol,
    RemoveAction,
    dv_unique_id,
    quote_path,
)

STR_MAP = pa.map_(pa.string(), pa.string())
DV_TYPE = pa.struct(
    [
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ]
)
PROTOCOL_TYPE = pa.struct(
    [
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ]
)
METADATA_TYPE = pa.struct(
    [
        ("id", pa.string()),
        (
            "format",
            pa.struct([("provider", pa.string()), ("options", STR_MAP)]),
        ),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", STR_MAP),
        ("createdTime", pa.int64()),
    ]
)
ADD_TYPE = pa.struct(
    [
        ("path", pa.string()),
        ("partitionValues", STR_MAP),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
        ("deletionVector", DV_TYPE),
        ("baseRowId", pa.int64()),
        ("defaultRowCommitVersion", pa.int64()),
        ("tags", STR_MAP),
    ]
)
REMOVE_TYPE = pa.struct(
    [
        ("path", pa.string()),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
        ("extendedFileMetadata", pa.bool_()),
        ("partitionValues", STR_MAP),
        ("size", pa.int64()),
        ("deletionVector", DV_TYPE),
        ("tags", STR_MAP),
    ]
)
DOMAIN_TYPE = pa.struct(
    [
        ("domain", pa.string()),
        ("configuration", pa.string()),
        ("removed", pa.bool_()),
    ]
)
TXN_TYPE = pa.struct(
    [
        ("appId", pa.string()),
        ("version", pa.int64()),
        ("lastUpdated", pa.int64()),
    ]
)
SIDECAR_TYPE = pa.struct(
    [
        ("path", pa.string()),
        ("sizeInBytes", pa.int64()),
        ("modificationTime", pa.int64()),
    ]
)
CHECKPOINT_METADATA_TYPE = pa.struct([("version", pa.int64())])
CHECKPOINT_SCHEMA = pa.schema(
    [
        ("protocol", PROTOCOL_TYPE),
        ("metaData", METADATA_TYPE),
        ("add", ADD_TYPE),
        ("remove", REMOVE_TYPE),
        ("domainMetadata", DOMAIN_TYPE),
        ("txn", TXN_TYPE),
    ]
)
# v2 checkpoints: the add/remove bulk lives in sidecar files, the
# manifest carries everything else plus one row per sidecar
SIDECAR_FILE_SCHEMA = pa.schema([("add", ADD_TYPE), ("remove", REMOVE_TYPE)])
MANIFEST_SCHEMA = pa.schema(
    [
        ("protocol", PROTOCOL_TYPE),
        ("metaData", METADATA_TYPE),
        ("domainMetadata", DOMAIN_TYPE),
        ("txn", TXN_TYPE),
        ("checkpointMetadata", CHECKPOINT_METADATA_TYPE),
        ("sidecar", SIDECAR_TYPE),
    ]
)

# (column, child field that must be non-null for the row to count as
# that action) in the row-kind precedence order
_KINDS = (
    ("sidecar", "path"),
    ("add", None),
    ("remove", None),
    ("metaData", "id"),
    ("protocol", "minReaderVersion"),
    ("domainMetadata", "domain"),
    ("txn", "appId"),
)


# -- decode -----------------------------------------------------------------


def _parsed_stats_json(sp) -> Optional[str]:
    """delta-spark `delta.checkpoint.writeStatsAsStruct` checkpoints
    may carry ONLY a typed ``stats_parsed`` struct
    (``writeStatsAsJson=false`` drops the JSON twin entirely) —
    reading ``stats`` alone silently degrades data skipping on such
    foreign tables. Re-serialize the struct to the JSON stats shape:
    dates/timestamps isoformat (the JSON stats spelling), decimals to
    float, unknown/None leaves dropped (absent == unknown == skipped
    conservatively, the r13 foreign-stats precedent). A row without
    stats surfaces as an all-null struct via pyarrow — the numRecords
    gate filters it (every real Delta stats blob carries it)."""
    if not sp or sp.get("numRecords") is None:
        return None
    import datetime
    import decimal

    def conv(v):
        if isinstance(v, dict):
            out = {}
            for k, x in v.items():
                cx = conv(x)
                if cx is not None:
                    out[k] = cx
            return out
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, bytes):
            return None
        return v

    blob = {"numRecords": int(sp["numRecords"])}
    for k in ("minValues", "maxValues", "nullCount"):
        if sp.get(k) is not None:
            blob[k] = conv(sp[k])
    return json.dumps(blob)


def _mask(arr: pa.Array) -> np.ndarray:
    return np.asarray(arr.to_numpy(zero_copy_only=False), dtype=bool)


class _Fields:
    """Child-field access on the rows of one struct column; an absent
    field reads as all-null, like ``dict.get`` on a parsed row."""

    def __init__(self, arr: pa.StructArray):
        self.arr = arr
        self.n = len(arr)
        self.names = {f.name for f in arr.type}

    def child(self, name: str) -> Optional[pa.Array]:
        return self.arr.field(name) if name in self.names else None

    def values(self, name: str) -> list:
        c = self.child(name)
        return c.to_pylist() if c is not None else [None] * self.n

    def maps(self, name: str) -> list[Optional[dict]]:
        """A map<string,string> child as dicts (None for null maps),
        rebuilt from offsets/keys/items."""
        m = self.child(name)
        if m is None:
            return [None] * self.n
        offs = m.offsets.to_pylist()
        keys = m.keys.to_pylist()
        items = m.items.to_pylist()
        return [
            dict(zip(keys[s:e], items[s:e])) if v else None
            for s, e, v in zip(offs, offs[1:], m.is_valid().to_pylist())
        ]

    def dvs(self) -> list[Optional[dict]]:
        """Deletion-vector descriptors: a dict for rows whose struct
        carries a storageType, else None (a DV-less row reads back as
        an all-null struct)."""
        out: list = [None] * self.n
        dv = self.child("deletionVector")
        if dv is None or "storageType" not in {f.name for f in dv.type}:
            return out
        if dv.null_count == self.n:
            return out
        idx = np.flatnonzero(
            _mask(dv.is_valid()) & _mask(dv.field("storageType").is_valid())
        )
        for i, d in zip(idx.tolist(), dv.take(idx).to_pylist()):
            out[i] = d
        return out


def _opt_int(xs: list) -> list:
    return [int(x) if x is not None else None for x in xs]


def _decode_adds(f: _Fields) -> list[AddAction]:
    paths = [unquote(p) for p in f.arr.field("path").to_pylist()]
    data_change = (
        [bool(x) for x in f.values("dataChange")]
        if "dataChange" in f.names
        else [True] * f.n
    )
    stats = f.values("stats")
    missing = [i for i, s in enumerate(stats) if not s]
    if missing:
        sp = f.child("stats_parsed")
        parsed = (
            sp.take(missing).to_pylist() if sp is not None
            else [None] * len(missing)
        )
        for i, p in zip(missing, parsed):
            stats[i] = _parsed_stats_json(p)
    return [
        AddAction(
            path=path,
            size=int(size or 0),
            partition_values=pv if pv is not None else {},
            modification_time=int(mt or 0),
            data_change=dc,
            stats=st,
            deletion_vector=dv,
            base_row_id=brid,
            default_row_commit_version=drcv,
            tags=tags or None,
        )
        for path, size, pv, mt, dc, st, dv, brid, drcv, tags in zip(
            paths,
            f.values("size"),
            f.maps("partitionValues"),
            f.values("modificationTime"),
            data_change,
            stats,
            f.dvs(),
            _opt_int(f.values("baseRowId")),
            _opt_int(f.values("defaultRowCommitVersion")),
            f.maps("tags"),
        )
    ]


def _decode_removes(f: _Fields) -> list[RemoveAction]:
    paths = [unquote(p) for p in f.arr.field("path").to_pylist()]
    return [
        RemoveAction(
            path=path,
            deletion_timestamp=int(ts or 0),
            deletion_vector=dv,
            tags=tags or None,
            partition_values=pv,
            size=size,
        )
        for path, ts, dv, tags, pv, size in zip(
            paths,
            f.values("deletionTimestamp"),
            f.dvs(),
            f.maps("tags"),
            f.maps("partitionValues"),
            _opt_int(f.values("size")),
        )
    ]


class CheckpointActions:
    """Replay state read from checkpoint tables, in row order across
    every table consumed: the live adds by path, the tombstones by
    (path, dvId), the last metaData and protocol, domain metadata,
    txn high-water marks, and the v2 sidecar references (one dict per
    ``sidecar`` row)."""

    def __init__(self) -> None:
        self.adds: dict[str, AddAction] = {}
        self.removes: dict[tuple, RemoveAction] = {}
        self.metadata: Optional[Metadata] = None
        self.protocol: Optional[Protocol] = None
        self.domains: dict[str, str] = {}
        self.txns: dict[str, int] = {}
        self.sidecars: list[dict] = []

    def state(self) -> tuple:
        return (
            self.adds, self.removes, self.metadata, self.protocol,
            self.domains, self.txns,
        )

    def consume(self, tbl: pa.Table) -> None:
        # Each kind updates only its own state, so applying the kinds
        # one after another, each in row order, equals a row-by-row
        # parse; ``free`` keeps a row from counting as two kinds.
        free = np.ones(tbl.num_rows, dtype=bool)
        for name, key in _KINDS:
            if name not in tbl.column_names:
                continue
            col = tbl.column(name).combine_chunks()
            rows = _mask(col.is_valid())
            if key is not None:
                if key not in {f.name for f in col.type}:
                    continue
                child = col.field(key)
                rows &= _mask(child.is_valid())
                if name == "sidecar":
                    rows &= _mask(
                        pc.fill_null(pc.not_equal(child, ""), False)
                    )
            rows &= free
            free &= ~rows
            idx = np.flatnonzero(rows)
            if not len(idx):
                continue
            # each kind's rows are one contiguous run in the checkpoints
            # this engine writes: slice (zero-copy) rather than gather
            if idx[-1] - idx[0] + 1 == len(idx):
                self._apply(name, col.slice(idx[0], len(idx)))
            else:
                self._apply(name, col.take(idx))

    def _apply(self, name: str, rows: pa.StructArray) -> None:
        if name == "add":
            for a in _decode_adds(_Fields(rows)):
                self.adds[a.path] = a
        elif name == "remove":
            for r in _decode_removes(_Fields(rows)):
                self.removes[(r.path, dv_unique_id(r.deletion_vector))] = r
        elif name == "sidecar":
            self.sidecars.extend(rows.to_pylist())
        elif name == "metaData":
            for d in rows.to_pylist():
                self.metadata = Metadata.from_json(d)
        elif name == "protocol":
            for d in rows.to_pylist():
                self.protocol = Protocol.from_json(d)
        elif name == "domainMetadata":
            for dm in rows.to_pylist():
                # A removal TOMBSTONE (removed=true) must not read as a
                # live domain: delta-spark retains domain-metadata
                # tombstones in its checkpoints, and the JSON commit
                # replay drops the domain — both paths must agree on
                # the same logical state.
                if dm.get("removed"):
                    self.domains.pop(dm["domain"], None)
                else:
                    self.domains[dm["domain"]] = dm.get("configuration") or ""
        else:
            for t in rows.to_pylist():
                # LATEST-wins, not max: the spec's reconciliation rule
                # (delta-spark and delta-rs both overwrite) — an app
                # that RESETS its version (streaming checkpoint reset
                # reusing the appId at 0) must not stay pinned to the
                # old high mark (r13). A foreign multi-row file
                # resolves in row order, matching delta-rs.
                self.txns[t["appId"]] = int(t.get("version") or 0)


# -- encode -----------------------------------------------------------------


def _map_array(dicts: list[Optional[dict]]) -> pa.MapArray:
    offsets: list = []
    keys: list = []
    items: list = []
    for d in dicts:
        # a null offset marks a null map
        offsets.append(None if d is None else len(keys))
        if d:
            keys.extend(d.keys())
            items.extend(d.values())
    offsets.append(len(keys))
    return pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.array(keys, pa.string()),
        pa.array(items, pa.string()),
        type=STR_MAP,
    )


def _dv_array(dvs: list[Optional[dict]]) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        [
            pa.array(
                [dv.get(f.name) if dv is not None else None for dv in dvs],
                f.type,
            )
            for f in DV_TYPE
        ],
        fields=list(DV_TYPE),
        mask=pa.array([dv is None for dv in dvs], pa.bool_()),
    )


def encode_adds(adds: list[AddAction]) -> pa.StructArray:
    """``add`` column of a checkpoint (``dataChange`` false: a
    checkpoint restates state, it changes no data)."""
    return pa.StructArray.from_arrays(
        [
            pa.array([quote_path(a.path) for a in adds], pa.string()),
            _map_array([a.partition_values for a in adds]),
            pa.array([a.size for a in adds], pa.int64()),
            pa.array([a.modification_time for a in adds], pa.int64()),
            pa.array([False] * len(adds), pa.bool_()),
            pa.array([a.stats for a in adds], pa.string()),
            _dv_array([a.deletion_vector for a in adds]),
            pa.array([a.base_row_id for a in adds], pa.int64()),
            pa.array(
                [a.default_row_commit_version for a in adds], pa.int64()
            ),
            # foreign add tags survive our checkpoint (spec `tags` on
            # add actions — un-gated; VERDICT r12 #3)
            _map_array([a.tags for a in adds]),
        ],
        fields=list(ADD_TYPE),
    )


def encode_removes(removes: list[RemoveAction]) -> pa.StructArray:
    """``remove`` column of a checkpoint. ``tags`` survive: the
    replay-archive marker must stay distinguishable from
    writer-stamped descriptor removes across a checkpoint-anchored
    replay. ``extendedFileMetadata`` is single-sourced on the
    RemoveAction property (claimed only when partitionValues AND size
    are both present); a one-field-only remove emits the present
    field un-gated, mirroring RemoveAction.to_json (ADVICE r12)."""
    return pa.StructArray.from_arrays(
        [
            pa.array([quote_path(r.path) for r in removes], pa.string()),
            pa.array([r.deletion_timestamp for r in removes], pa.int64()),
            pa.array([False] * len(removes), pa.bool_()),
            pa.array(
                [r.extended_file_metadata for r in removes], pa.bool_()
            ),
            _map_array([r.partition_values for r in removes]),
            pa.array([r.size for r in removes], pa.int64()),
            _dv_array([r.deletion_vector for r in removes]),
            _map_array([r.tags for r in removes]),
        ],
        fields=list(REMOVE_TYPE),
    )


def encode_protocol(protocol: Protocol) -> pa.StructArray:
    # to_json carries readerFeatures/writerFeatures on v3/v7
    # feature-list protocols — dropping them would silently downgrade
    # the gate on checkpoint-started replays
    return pa.array([protocol.to_json()["protocol"]], PROTOCOL_TYPE)


def encode_metadata(meta: Metadata) -> pa.StructArray:
    return pa.array(
        [
            {
                "id": meta.id,
                "format": {"provider": "parquet", "options": []},
                "schemaString": meta.schema_string,
                "partitionColumns": meta.partition_columns,
                "configuration": list(meta.configuration.items()),
                "createdTime": meta.created_time,
            }
        ],
        METADATA_TYPE,
    )


def encode_domains(domains: dict[str, str]) -> pa.StructArray:
    """Live domain metadata (the row-id high-water mark lives here —
    dropping it would hand out duplicate row ids after a
    checkpoint)."""
    return pa.StructArray.from_arrays(
        [
            pa.array(list(domains), pa.string()),
            pa.array(list(domains.values()), pa.string()),
            pa.array([False] * len(domains), pa.bool_()),
        ],
        fields=list(DOMAIN_TYPE),
    )


def encode_txns(txns: dict[str, int]) -> pa.StructArray:
    """txn high-water marks (dropping one would let a re-delivered
    idempotent batch slip through after a checkpoint)."""
    return pa.StructArray.from_arrays(
        [
            pa.array(list(txns), pa.string()),
            pa.array([int(v) for v in txns.values()], pa.int64()),
            pa.nulls(len(txns), pa.int64()),
        ],
        fields=list(TXN_TYPE),
    )


def stack(schema: pa.Schema, segments: list[tuple[str, pa.Array]]) -> pa.Table:
    """One table whose rows are the segments' rows in order: each
    segment fills its own column and is null in every other one (a
    checkpoint row holds exactly one action)."""
    return pa.Table.from_arrays(
        [
            pa.concat_arrays(
                [
                    arr if name == f.name else pa.nulls(len(arr), f.type)
                    for name, arr in segments
                ]
            )
            if segments
            else pa.array([], f.type)
            for f in schema
        ],
        schema=schema,
    )
