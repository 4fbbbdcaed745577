"""Pins for the column-wise checkpoint codec (delta/checkpoint.py) —
no Spark, pure driver metadata.

The decoder is pinned against ``_reference_load``: the row-wise parse
it replaced (``to_pylist`` every row, then one ``consume`` per row),
kept here as the spec of the decoded semantics. Hypothesis generates
checkpoints in every shape the replay reads (classic single file,
classic multi-part, v2 manifest + sidecars) with optional columns
present or absent, and both decoders must return exactly the same six
values — including dict insertion order."""

from __future__ import annotations

import datetime
import os
import tempfile
import uuid
from typing import Optional
from urllib.parse import quote, unquote

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dask_deltalake_spark.delta import checkpoint as ckpt
from dask_deltalake_spark.delta.checkpoint import (
    CheckpointActions,
    _parsed_stats_json,
)
from dask_deltalake_spark.delta.log import (
    _CHECKPOINT_MULTIPART_RE,
    _CHECKPOINT_RE,
    SIDECAR_DIR,
    DeltaLog,
)
from dask_deltalake_spark.delta.protocol import (
    AddAction,
    Metadata,
    Protocol,
    RemoveAction,
    dv_unique_id,
    quote_path,
)

# ---------------------------------------------------------------------------
# Reference: the row-wise checkpoint parse
# ---------------------------------------------------------------------------


def _reference_load(log: DeltaLog, version: int):
    """Row-wise checkpoint parse: every row of every part (then every
    sidecar) through ``to_pylist`` and an ``elif`` chain."""
    parts = []
    v2_manifests = []
    single = os.path.join(log.log_path, f"{version:020d}.checkpoint.parquet")
    if os.path.exists(single):
        parts.append(single)
    else:
        for f in sorted(os.listdir(log.log_path)):
            m = _CHECKPOINT_RE.match(f)
            if m and int(m.group(1)) == version and m.group(2):
                if _CHECKPOINT_MULTIPART_RE.match(m.group(2)):
                    parts.append(os.path.join(log.log_path, f))
                else:
                    v2_manifests.append(os.path.join(log.log_path, f))
    if v2_manifests and not parts:
        parts = [v2_manifests[-1]]
    adds: dict[str, AddAction] = {}
    removes: dict[tuple, RemoveAction] = {}
    metadata: Optional[Metadata] = None
    protocol: Optional[Protocol] = None
    domains: dict[str, str] = {}
    txns: dict[str, int] = {}
    sidecars: list[str] = []

    def consume(row) -> None:
        nonlocal metadata, protocol
        if row.get("sidecar") and row["sidecar"].get("path"):
            sidecars.append(row["sidecar"]["path"])
        elif row.get("add"):
            a = row["add"]
            path = unquote(a["path"])
            dv = a.get("deletionVector")
            if dv is not None and dv.get("storageType") is None:
                dv = None
            brid = a.get("baseRowId")
            drcv = a.get("defaultRowCommitVersion")
            atags = a.get("tags")
            adds[path] = AddAction(
                path=path,
                size=int(a.get("size") or 0),
                partition_values=dict(a.get("partitionValues") or {}),
                modification_time=int(a.get("modificationTime") or 0),
                data_change=bool(a.get("dataChange", True)),
                stats=(
                    a.get("stats")
                    or _parsed_stats_json(a.get("stats_parsed"))
                ),
                deletion_vector=dv,
                base_row_id=int(brid) if brid is not None else None,
                default_row_commit_version=(
                    int(drcv) if drcv is not None else None
                ),
                tags=dict(atags) if atags else None,
            )
        elif row.get("remove"):
            r = row["remove"]
            path = unquote(r["path"])
            rdv = r.get("deletionVector")
            if rdv is not None and rdv.get("storageType") is None:
                rdv = None
            rtags = r.get("tags")
            rpv = r.get("partitionValues")
            rsize = r.get("size")
            removes[(path, dv_unique_id(rdv))] = RemoveAction(
                path=path,
                deletion_timestamp=int(r.get("deletionTimestamp") or 0),
                deletion_vector=rdv,
                tags=dict(rtags) if rtags else None,
                partition_values=dict(rpv) if rpv is not None else None,
                size=int(rsize) if rsize is not None else None,
            )
        elif row.get("metaData") and row["metaData"].get("id") is not None:
            metadata = Metadata.from_json(row["metaData"])
        elif row.get("protocol") and row["protocol"].get(
            "minReaderVersion"
        ) is not None:
            protocol = Protocol.from_json(row["protocol"])
        elif row.get("domainMetadata") and row["domainMetadata"].get(
            "domain"
        ) is not None:
            dm = row["domainMetadata"]
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration") or ""
        elif row.get("txn") and row["txn"].get("appId") is not None:
            t = row["txn"]
            txns[t["appId"]] = int(t.get("version") or 0)

    for part in parts:
        for row in pq.read_table(part).to_pylist():
            consume(row)
    for sc in sidecars:
        scp = os.path.join(log.log_path, SIDECAR_DIR, sc)
        for row in pq.read_table(scp).to_pylist():
            consume(row)
    return adds, removes, metadata, protocol, domains, txns


# ---------------------------------------------------------------------------
# Generated checkpoints
# ---------------------------------------------------------------------------

_STR_MAP = pa.map_(pa.string(), pa.string())
_STATS_PARSED = pa.struct(
    [
        ("numRecords", pa.int64()),
        ("minValues", pa.struct([("id", pa.int64()), ("d", pa.date32())])),
        ("maxValues", pa.struct([("id", pa.int64()), ("d", pa.date32())])),
        ("nullCount", pa.struct([("id", pa.int64()), ("d", pa.int64())])),
    ]
)
_ADD_FIELDS = {
    "partitionValues": _STR_MAP,
    "size": pa.int64(),
    "modificationTime": pa.int64(),
    "dataChange": pa.bool_(),
    "stats": pa.string(),
    "stats_parsed": _STATS_PARSED,
    "deletionVector": ckpt.DV_TYPE,
    "baseRowId": pa.int64(),
    "defaultRowCommitVersion": pa.int64(),
    "tags": _STR_MAP,
}
_REMOVE_FIELDS = {
    "deletionTimestamp": pa.int64(),
    "dataChange": pa.bool_(),
    "extendedFileMetadata": pa.bool_(),
    "partitionValues": _STR_MAP,
    "size": pa.int64(),
    "deletionVector": ckpt.DV_TYPE,
    "tags": _STR_MAP,
}

# percent-encoded and unicode paths, one decoding onto another
_PATHS = [
    "a.parquet",
    "p=1/b.parquet",
    "p%3D1/b.parquet",
    "sp%20ace.parquet",
    "d%C3%A9j%C3%A0/%E2%82%AC.parquet",
    "déjà/€.parquet",
    "100%25.parquet",
]
_DVS = st.sampled_from(
    [
        None,
        # the all-null struct a DV-less row reads back as
        {"storageType": None, "pathOrInlineDv": None, "offset": None,
         "sizeInBytes": None, "cardinality": None},
        {"storageType": "u", "pathOrInlineDv": "ab^-aqEH.-t@S}K",
         "offset": 1, "sizeInBytes": 36, "cardinality": 2},
        {"storageType": "i", "pathOrInlineDv": "wi5b=000010000siXQKl0rr91",
         "offset": None, "sizeInBytes": 20, "cardinality": 1},
    ]
)
_MAPS = st.sampled_from(
    [None, [], [("p", "1")], [("p", None), ("q", "x y")]]
)
_STATS_PARSED_VALUES = st.sampled_from(
    [
        None,
        {"numRecords": None, "minValues": None, "maxValues": None,
         "nullCount": None},
        {"numRecords": 3,
         "minValues": {"id": 1, "d": datetime.date(2024, 1, 2)},
         "maxValues": {"id": 9, "d": None},
         "nullCount": {"id": 0, "d": 1}},
    ]
)
_OPT_INT = st.one_of(st.none(), st.integers(0, 2**40))
_OPT_BOOL = st.sampled_from([None, True, False])

_add = st.fixed_dictionaries(
    {
        "path": st.sampled_from(_PATHS),
        "partitionValues": _MAPS,
        "size": _OPT_INT,
        "modificationTime": _OPT_INT,
        "dataChange": _OPT_BOOL,
        "stats": st.sampled_from([None, "", '{"numRecords":5}']),
        "stats_parsed": _STATS_PARSED_VALUES,
        "deletionVector": _DVS,
        "baseRowId": _OPT_INT,
        "defaultRowCommitVersion": _OPT_INT,
        "tags": _MAPS,
    }
)
_remove = st.fixed_dictionaries(
    {
        "path": st.sampled_from(_PATHS),
        "deletionTimestamp": _OPT_INT,
        "dataChange": _OPT_BOOL,
        "extendedFileMetadata": _OPT_BOOL,
        "partitionValues": _MAPS,
        "size": _OPT_INT,
        "deletionVector": _DVS,
        "tags": _MAPS,
    }
)
_metadata = st.builds(
    lambda i, conf: {
        "id": i,
        "format": {"provider": "parquet", "options": []},
        "schemaString": '{"type":"struct","fields":[]}',
        "partitionColumns": ["p"],
        "configuration": conf,
        "createdTime": 1,
    },
    st.sampled_from([None, "t-1", "t-2"]),
    st.sampled_from([[], [("k", "v")]]),
)
_protocol = st.builds(
    lambda r, feats: {
        "minReaderVersion": r,
        "minWriterVersion": 7,
        "readerFeatures": feats,
        "writerFeatures": feats,
    },
    st.sampled_from([None, 1, 3]),
    st.sampled_from([None, ["deletionVectors"]]),
)
# domain tombstones and repeated domains/app ids resolve in row order
_domain = st.fixed_dictionaries(
    {
        "domain": st.sampled_from([None, "delta.rowTracking", "app.one"]),
        "configuration": st.sampled_from([None, "", "c1", "c2"]),
        "removed": _OPT_BOOL,
    }
)
_txn = st.fixed_dictionaries(
    {
        "appId": st.sampled_from([None, "stream-a", "stream-b"]),
        "version": _OPT_INT,
        "lastUpdated": _OPT_INT,
    }
)
_row = st.one_of(
    st.builds(lambda a: {"add": a}, _add),
    st.builds(lambda r: {"remove": r}, _remove),
    # both actions on one row: the add takes precedence
    st.builds(lambda a, r: {"add": a, "remove": r}, _add, _remove),
    st.builds(lambda m: {"metaData": m}, _metadata),
    st.builds(lambda p: {"protocol": p}, _protocol),
    st.builds(lambda d: {"domainMetadata": d}, _domain),
    st.builds(lambda t: {"txn": t}, _txn),
    st.just({}),
)
_rows = st.lists(_row, min_size=0, max_size=25)


def _action_schema(add_fields, remove_fields, extra=()) -> pa.Schema:
    return pa.schema(
        [
            pa.field(
                "add",
                pa.struct(
                    [("path", pa.string())]
                    + [(f, _ADD_FIELDS[f]) for f in add_fields]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [("path", pa.string())]
                    + [(f, _REMOVE_FIELDS[f]) for f in remove_fields]
                ),
            ),
            *extra,
        ]
    )


def _ordered(fields: set, universe: dict) -> list:
    return [f for f in universe if f in fields]


def _write(path: str, rows: list, schema: pa.Schema) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _write_checkpoint(table: str, shape: str, rows: list, schema, data):
    """Lay ``rows`` out as a checkpoint at version 3 of ``table`` in
    the given shape; returns the version."""
    log = os.path.join(table, "_delta_log")
    v = 3
    if shape == "classic":
        _write(os.path.join(log, f"{v:020d}.checkpoint.parquet"), rows, schema)
    elif shape == "multipart":
        n = data.draw(st.integers(1, 3), label="parts")
        per = -(-max(1, len(rows)) // n)
        for i in range(n):
            _write(
                os.path.join(
                    log, f"{v:020d}.checkpoint.{i + 1:010d}.{n:010d}.parquet"
                ),
                rows[i * per:(i + 1) * per],
                schema,
            )
    else:
        # v2: file actions in sidecars, everything else (and the
        # sidecar refs, including refs whose path is empty or null and
        # so fall through to the next kind) in the manifest
        manifest_schema = pa.schema(
            [f for f in ckpt.CHECKPOINT_SCHEMA if f.name not in ("add", "remove")]
            + [pa.field("sidecar", ckpt.SIDECAR_TYPE)]
        )
        file_rows = [r for r in rows if "add" in r or "remove" in r]
        manifest = [r for r in rows if not ("add" in r or "remove" in r)]
        n = data.draw(st.integers(0, 3), label="sidecars")
        per = -(-max(1, len(file_rows)) // max(1, n))
        for i in range(n):
            name = f"{uuid.uuid4()}.parquet"
            _write(
                os.path.join(log, SIDECAR_DIR, name),
                file_rows[i * per:(i + 1) * per],
                schema,
            )
            manifest.insert(
                data.draw(st.integers(0, len(manifest)), label="ref at"),
                {"sidecar": {"path": name, "sizeInBytes": 1,
                             "modificationTime": 1}},
            )
        if data.draw(st.booleans(), label="dangling ref"):
            manifest.append({"sidecar": {"path": "", "sizeInBytes": 0,
                                         "modificationTime": 0}})
            manifest.append({"sidecar": {"path": None, "sizeInBytes": 0,
                                         "modificationTime": 0}})
        _write(
            os.path.join(log, f"{v:020d}.checkpoint.{uuid.uuid4()}.parquet"),
            manifest,
            manifest_schema,
        )
    return v


def _items(state) -> tuple:
    """The six decoded values with dict insertion order made explicit."""
    adds, removes, metadata, protocol, domains, txns = state
    return (
        list(adds.items()),
        list(removes.items()),
        metadata,
        protocol,
        list(domains.items()),
        list(txns.items()),
    )


@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=_rows,
    shape=st.sampled_from(["classic", "multipart", "v2"]),
    add_fields=st.sets(st.sampled_from(list(_ADD_FIELDS))),
    remove_fields=st.sets(st.sampled_from(list(_REMOVE_FIELDS))),
    data=st.data(),
)
def test_columnar_decoder_matches_row_wise_reference(
    rows, shape, add_fields, remove_fields, data
):
    schema = _action_schema(
        _ordered(add_fields, _ADD_FIELDS),
        _ordered(remove_fields, _REMOVE_FIELDS),
        extra=[f for f in ckpt.CHECKPOINT_SCHEMA if f.name not in ("add", "remove")],
    )
    if shape == "v2":
        schema = pa.schema([schema.field("add"), schema.field("remove")])
    with tempfile.TemporaryDirectory(prefix="ckpt_codec_") as base:
        table = os.path.join(base, "t")
        v = _write_checkpoint(table, shape, rows, schema, data)
        log = DeltaLog(table)
        want = _reference_load(log, v)
        got = log._load_checkpoint(v)
        assert _items(got) == _items(want), (shape, rows)


def test_decoder_reads_data_change_absent_as_true_and_null_as_false(tmp_path):
    """The two dataChange spellings side by side: a checkpoint with no
    dataChange field reads every add as a data change; one whose
    field is present but null reads it as not one."""
    log_dir = tmp_path / "_delta_log"
    log_dir.mkdir()
    row = {"add": {"path": "a.parquet", "dataChange": None}}
    for fields, want in (([], True), (["dataChange"], False)):
        schema = _action_schema(fields, [])
        tbl = pa.Table.from_pylist([row], schema=schema)
        acc = CheckpointActions()
        acc.consume(tbl)
        assert acc.adds["a.parquet"].data_change is want
    pq.write_table(
        pa.Table.from_pylist([row], schema=_action_schema([], [])),
        log_dir / f"{0:020d}.checkpoint.parquet",
    )
    log = DeltaLog(str(tmp_path))
    assert _items(log._load_checkpoint(0)) == _items(_reference_load(log, 0))


# ---------------------------------------------------------------------------
# Encode -> decode round trip
# ---------------------------------------------------------------------------

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1,
    max_size=12,
)
_pv = st.dictionaries(_text, st.one_of(st.none(), _text), max_size=3)
_full_dv = st.one_of(
    st.none(),
    st.builds(
        lambda kind, p, off, card: {
            "storageType": kind, "pathOrInlineDv": p, "offset": off,
            "sizeInBytes": 36, "cardinality": card,
        },
        st.sampled_from(["u", "i", "p"]),
        _text,
        st.one_of(st.none(), st.integers(0, 2**31 - 1)),
        st.integers(0, 2**40),
    ),
)
_tags = st.one_of(st.none(), st.dictionaries(_text, _text, min_size=1, max_size=2))
_add_action = st.builds(
    AddAction,
    path=_text,
    size=st.integers(0, 2**40),
    partition_values=_pv,
    modification_time=st.integers(0, 2**42),
    data_change=st.just(False),
    stats=st.one_of(st.none(), st.just('{"numRecords":1}')),
    deletion_vector=_full_dv,
    base_row_id=st.one_of(st.none(), st.integers(0, 2**40)),
    default_row_commit_version=st.one_of(st.none(), st.integers(0, 99)),
    tags=_tags,
)
_remove_action = st.builds(
    RemoveAction,
    path=_text,
    deletion_timestamp=st.integers(0, 2**42),
    data_change=st.just(True),
    deletion_vector=_full_dv,
    tags=_tags,
    partition_values=st.one_of(st.none(), _pv),
    size=st.one_of(st.none(), st.integers(0, 2**40)),
)


@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    adds=st.lists(_add_action, max_size=12, unique_by=lambda a: a.path),
    removes=st.lists(
        _remove_action,
        max_size=12,
        unique_by=lambda r: (r.path, dv_unique_id(r.deletion_vector)),
    ),
    domains=st.dictionaries(_text, _text, max_size=3),
    txns=st.dictionaries(_text, st.integers(0, 2**40), max_size=3),
)
def test_encode_decode_round_trips_a_snapshot(adds, removes, domains, txns):
    """The encoder's columns (classic row layout) decode back to the
    state they were built from: adds keep everything (dataChange is
    false in a checkpoint), removes read dataChange as true, and
    paths survive percent-encoding."""
    meta = Metadata(
        id="t", schema_string="{}", partition_columns=["p"],
        configuration={"delta.appendOnly": "false"}, created_time=7,
    )
    proto = Protocol(3, 7, ["deletionVectors"], ["deletionVectors"])
    tbl = ckpt.stack(
        ckpt.CHECKPOINT_SCHEMA,
        [
            ("protocol", ckpt.encode_protocol(proto)),
            ("metaData", ckpt.encode_metadata(meta)),
            ("add", ckpt.encode_adds(adds)),
            ("remove", ckpt.encode_removes(removes)),
            ("domainMetadata", ckpt.encode_domains(domains)),
            ("txn", ckpt.encode_txns(txns)),
        ],
    )
    assert tbl.num_rows == 2 + len(adds) + len(removes) + len(domains) + len(txns)
    acc = CheckpointActions()
    acc.consume(tbl)
    assert list(acc.adds.items()) == [(a.path, a) for a in adds]
    assert list(acc.removes.items()) == [
        ((r.path, dv_unique_id(r.deletion_vector)), r) for r in removes
    ]
    assert acc.metadata == meta
    assert acc.protocol == proto
    assert acc.domains == domains
    assert acc.txns == txns


# ---------------------------------------------------------------------------
# Path quoting
# ---------------------------------------------------------------------------


@settings(max_examples=500, deadline=None)
@given(
    s=st.one_of(
        st.text(),
        st.text(alphabet="%= /~._-aZ09é€𐏿\x00", max_size=20),
        # lone surrogates: both must raise UnicodeEncodeError
        st.text(
            alphabet=st.one_of(
                st.characters(min_codepoint=0xD800, max_codepoint=0xDFFF),
                st.sampled_from("a%=/"),
            ),
            max_size=8,
        ),
    )
)
def test_quote_path_is_urllib_quote(s):
    try:
        want = quote(s)
    except UnicodeEncodeError:
        with pytest.raises(UnicodeEncodeError):
            quote_path(s)
        return
    assert quote_path(s) == want


# ---------------------------------------------------------------------------
# Other readers of checkpoint files
# ---------------------------------------------------------------------------


def test_sidecar_gc_reads_refs_and_never_gcs_on_unreadable_manifest(tmp_path):
    """``_gc_orphan_sidecars`` collects the referenced set from every
    manifest's ``sidecar`` column; an unreadable manifest stops the GC
    entirely (deleting on a partial reference set could drop a
    sidecar a live checkpoint needs)."""
    from dask_deltalake_spark.delta.maintenance import (
        _gc_orphan_sidecars,
        create_checkpoint,
    )
    from dask_deltalake_spark.delta.writer import write_commit

    table = str(tmp_path / "t")
    proto = Protocol(3, 7, ["v2Checkpoint"], ["v2Checkpoint"])
    meta = Metadata(id="t", schema_string='{"type":"struct","fields":[]}')
    write_commit(table, 0, [
        proto.to_json(), meta.to_json(),
        AddAction(path="p=1/a b.parquet", size=1).to_json(),
    ])
    create_checkpoint(table, format="v2")
    sc_dir = os.path.join(table, "_delta_log", SIDECAR_DIR)
    (live,) = os.listdir(sc_dir)
    orphan = os.path.join(sc_dir, f"{uuid.uuid4()}.parquet")
    pq.write_table(pa.table({"x": [1]}), orphan)
    bad = os.path.join(
        table, "_delta_log", f"{0:020d}.checkpoint.{uuid.uuid4()}.parquet"
    )
    with open(bad, "wb") as fh:
        fh.write(b"not parquet")
    _gc_orphan_sidecars(DeltaLog(table))
    assert sorted(os.listdir(sc_dir)) == sorted([live, os.path.basename(orphan)])
    os.remove(bad)
    _gc_orphan_sidecars(DeltaLog(table))
    assert os.listdir(sc_dir) == [live]
