"""Row-level mutations: MERGE (upsert), UPDATE, DELETE — copy-on-write.

Neither exists in the reference (delta-rs 0.6 had no merge either) —
delta-spark's MERGE INTO / DELETE FROM are part of the "distributed
read/write/compaction" capability this engine targets. The algorithm
is delta-spark's copy-on-write:

1. **Prune**: use partition values + per-file min/max stats to find
   the files that might contain affected rows (`prune_partitions` /
   `prune_by_stats` — the same data-skipping machinery reads use).
   Untouched files carry over into the new version for free.
2. **Rewrite**: read only the touched files; drop/replace the affected
   rows; write replacement files on executors (same Arrow writer path
   as `to_delta`).
3. **Commit**: one atomic commit with adds for the rewritten files and
   removes for the touched ones.

At 100 TB the prune step is what makes this viable: a merge keyed on a
clustered/partitioned column rewrites a handful of files, not the
table. DELETE additionally offers ``strategy='merge-on-read'`` —
deletion vectors (delta/dv.py) instead of rewrites: O(matched rows)
bitmap bytes, zero data movement, reader v3 / writer v7 protocol.
"""

from __future__ import annotations

import json
import os
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from dask_deltalake_spark.delta.log import DeltaLog
from dask_deltalake_spark.delta.protocol import (
    AddAction,
    ConcurrentCommitError,
    DeltaProtocolError,
    RemoveAction,
    check_append_only,
    check_read_protocol,
    check_write_protocol,
    normalize_dnf,
    now_ms,
    prune_by_stats,
    prune_partitions,
    quote_path,
)


def _commit_with_dml_retry(
    table_path: str,
    actions: list,
    first_version: int,
    touched_paths: set,
    prune_dnf,
    max_retries: int = 10,
) -> int:
    """Commit a DML rewrite with delta-spark's conflict resolution:
    a lost version race retries at the next version iff the winners
    provably do not interact with this DML — abort when a winner
    (a) changed metadata/protocol, (b) removed (or re-vectored) any
    file this DML read (ConcurrentDeleteRead), or (c) added files the
    predicate may match by partition/stats pruning (serial
    re-execution would have processed those rows —
    ConcurrentAppendException). Streaming appends elsewhere in the
    table and a GDPR delete on old partitions both commit.
    ``prune_dnf=None`` (e.g. MERGE, whose read set is the join
    condition, not a DNF) keeps the hard-abort behavior."""
    from dask_deltalake_spark.delta.writer import write_commit

    log = DeltaLog(table_path)
    commit_version = first_version
    attempt = 0
    while True:
        try:
            write_commit(table_path, commit_version, actions)
            return commit_version
        except ConcurrentCommitError:
            if prune_dnf is None or attempt >= max_retries:
                raise
            attempt += 1
            snap2 = log.snapshot()
            for wv in range(commit_version, snap2.version + 1):
                winner_adds = []
                # _any: a winner on a coordinated table may still be
                # staged-only (deferred backfill)
                for wa in log.read_commit_actions_any(
                    wv, metadata=snap2.metadata
                ):
                    if "metaData" in wa or "protocol" in wa:
                        raise ConcurrentCommitError(
                            "Concurrent commit changed table metadata/"
                            "protocol; the pending DML is aborted."
                        )
                    r = wa.get("remove")
                    if r and r.get("path") in touched_paths:
                        raise ConcurrentCommitError(
                            "Concurrent commit removed a file this DML "
                            "read (ConcurrentDeleteRead); re-run against "
                            "the current table state."
                        )
                    addj = wa.get("add")
                    if addj and addj.get("dataChange", True):
                        winner_adds.append(AddAction.from_json(addj))
                if winner_adds:
                    maybe = prune_by_stats(
                        prune_partitions(winner_adds, prune_dnf), prune_dnf
                    )
                    if maybe:
                        raise ConcurrentCommitError(
                            "Concurrent commit added files the DML "
                            "predicate may match (ConcurrentAppend); "
                            "re-run to include the new rows."
                        )
            actions[0]["commitInfo"]["readVersion"] = snap2.version
            commit_version = snap2.version + 1


def _cdf_enabled(metadata) -> bool:
    return (
        metadata.configuration.get("delta.enableChangeDataFeed", "")
        .lower()
        == "true"
    )


def _empty_cdc_action(table_path: str, snap) -> dict:
    """An explicit EMPTY ``cdc`` action for commits that must pin
    "zero changes" for their version WITHOUT a change frame in hand
    (fsck_repair: the lost rows' bytes are gone, so reconstruction
    from its removes would be unreadable forever — ADVICE r15). The
    empty parquet carries the table's PHYSICAL column names plus
    ``_change_type`` — the exact schema the CDC readers scan before
    positional-renaming to logical names, same as
    ``_write_change_data``'s empty-frame fallback."""
    import io as _io
    import uuid as _uuid

    import pyarrow.parquet as _pq
    from pyspark.sql.types import StringType, StructField, StructType

    from dask_deltalake_spark.delta.logstore import store_for
    from dask_deltalake_spark.delta.reader import snapshot_schema
    from dask_deltalake_spark.delta.writer import _spark_to_arrow_schema

    l2p = _mapping(snap) or {}
    fields = [
        StructField(l2p.get(f.name, f.name), f.dataType, True)
        for f in snapshot_schema(snap).fields
    ] + [StructField("_change_type", StringType(), True)]
    rel = f"cdc-{_uuid.uuid4().hex}.parquet"
    empty = _spark_to_arrow_schema(StructType(fields)).empty_table()
    buf = _io.BytesIO()
    _pq.write_table(empty, buf)
    store_for(table_path).write_bytes(
        os.path.join(table_path, "_change_data", rel), buf.getvalue()
    )
    return {
        "cdc": {
            "path": quote_path(f"_change_data/{rel}"),
            "partitionValues": {},
            "size": len(buf.getvalue()),
            "dataChange": False,
        }
    }


def _write_change_data(table_path: str, snap, change_data) -> list:
    """Write one commit's ``_change_data`` parquet files and return
    the ready ``cdc`` action dicts (r15, CDF write support — shared
    by the COW rewrite tail and both merge-on-read paths). The frame
    carries LOGICAL table columns plus ``_change_type``; physical
    renaming, the table's partition layout, and the empty-frame
    fallback (an explicit empty cdc file pins "zero changes" — an
    absent action would make readers reconstruct the commit's file
    actions) all happen here."""
    from dask_deltalake_spark.delta.protocol import stats_spec_for
    from dask_deltalake_spark.delta.writer import _spark_to_arrow_schema

    l2p = _mapping(snap)
    partition_by = list(snap.metadata.partition_columns)
    if l2p:
        change_data = change_data.toDF(
            *[l2p.get(c, c) for c in change_data.columns]
        )
        partition_by = [l2p.get(c, c) for c in partition_by]
    _stats_spec = stats_spec_for(snap)
    data_root = _local_data_root(table_path)
    cdc_root = os.path.join(table_path, "_change_data")
    if data_root is not None:
        from dask_deltalake_spark.delta.writer import run_partition_write

        cdc_rows = run_partition_write(
            change_data,
            os.path.join(data_root, "_change_data"),
            partition_by,
            stats_spec=_stats_spec,
        )
    else:
        from dask_deltalake_spark.delta.writer import _write_files_native

        cdc_rows = _write_files_native(
            change_data, cdc_root, partition_by, stats_spec=_stats_spec
        )
    if not cdc_rows:
        import io as _io
        import uuid as _uuid

        import pyarrow.parquet as _pq

        from dask_deltalake_spark.delta.logstore import store_for

        rel = f"cdc-{_uuid.uuid4().hex}.parquet"
        empty = _spark_to_arrow_schema(change_data.schema).empty_table()
        buf = _io.BytesIO()
        _pq.write_table(empty, buf)
        store_for(table_path).write_bytes(
            os.path.join(cdc_root, rel), buf.getvalue()
        )

        class _EmptyCdc:
            path = rel
            size = len(buf.getvalue())
            partition_json = "{}"

        cdc_rows = [_EmptyCdc()]
    return [
        {
            "cdc": {
                "path": quote_path(f"_change_data/{r.path}"),
                "partitionValues": json.loads(r.partition_json),
                "size": int(r.size),
                "dataChange": False,
            }
        }
        for r in cdc_rows
    ]


def _rewrite_and_commit(
    spark: SparkSession,
    table_path: str,
    snap,
    touched,
    untouched,
    new_data: DataFrame,
    operation: str,
    op_params: dict,
    prune_dnf=None,
    change_data: Optional[DataFrame] = None,
    data_change: bool = True,
) -> dict:
    """Write `new_data` as replacement files for `touched` and commit
    adds+removes atomically. Shared tail of MERGE and DELETE.
    ``prune_dnf`` (DNF-predicate DML only) enables conflict-aware
    retry past non-interacting concurrent commits
    (_commit_with_dml_retry).

    ``change_data`` (r15, CDF write support): the commit's row-level
    change images — table columns plus ``_change_type`` — written as
    ``_change_data/`` parquet and committed as ``cdc`` actions
    (delta-spark ``delta.enableChangeDataFeed`` parity). Per the
    spec's Add CDC File contract the cdc files must carry ALL of the
    version's changes, so callers pass EVERY image class the
    operation produced (a rewrite's merely-copied rows excluded — a
    reader reconstructing this commit from add/remove would
    double-report them, which is exactly what the cdc file
    prevents). When the change frame is empty an EMPTY cdc file is
    still committed: the rewrite's remove+add pairs would otherwise
    reconstruct as spurious whole-file delete+insert. Partitioned
    identically to the table (delta-spark layout); on column-mapped
    tables the data columns carry physical names like every other
    file."""
    from dask_deltalake_spark.delta.writer import write_commit

    from dask_deltalake_spark.delta.constraints import enforce_constraints
    from dask_deltalake_spark.delta.generated import (
        GeneratedColumnViolationError,
        generated_columns,
    )
    from dask_deltalake_spark.delta.reader import snapshot_schema

    enforce_constraints(new_data, snap.metadata, operation)
    # generated columns: rewritten rows must still satisfy every
    # generation expression (update_where recomputes them, so its
    # probe passes by construction; a MERGE source providing wrong
    # values fails here atomically)
    _gens = generated_columns(snap.metadata)
    if _gens:
        _sch = snapshot_schema(snap)
        for _gname, _gexpr in _gens.items():
            _expr = F.expr(_gexpr).cast(_sch[_gname].dataType)
            _bad = (
                new_data.filter(~F.col(_gname).eqNullSafe(_expr))
                .limit(1)
                .collect()
            )
            if _bad:
                raise GeneratedColumnViolationError(
                    f"{operation}: rewritten rows violate generated "
                    f"column {_gname!r} ({_gexpr}); example row: "
                    f"{_bad[0].asDict()}"
                )
    partition_by = list(snap.metadata.partition_columns)
    # column-mapped tables: files, hive dirs, partitionValues, stats
    # must all carry PHYSICAL names (same contract as to_delta appends)
    l2p = _mapping(snap)
    if l2p:
        new_data = new_data.toDF(*[l2p.get(c, c) for c in new_data.columns])
        partition_by = [l2p.get(c, c) for c in partition_by]
    from dask_deltalake_spark.delta.protocol import stats_spec_for

    _stats_spec = stats_spec_for(snap)
    data_root = _local_data_root(table_path)
    if data_root is not None:
        from dask_deltalake_spark.delta.writer import run_partition_write

        add_rows = run_partition_write(
            new_data, data_root, partition_by, stats_spec=_stats_spec
        )
    else:
        # no local mapping (object store): JVM-native staging + seam
        # rename, same split as to_delta(engine="native") — DML COW
        # rewrites work on pure-seam tables (closes the r6 S16 gap)
        from dask_deltalake_spark.delta.writer import _write_files_native

        add_rows = _write_files_native(
            new_data, table_path, partition_by, stats_spec=_stats_spec
        )

    cdc_actions: list = []
    if change_data is not None:
        cdc_actions = _write_change_data(table_path, snap, change_data)

    ts = now_ms()
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": operation,
                "operationParameters": op_params,
                "readVersion": snap.version,
                "isBlindAppend": False,
                "operationMetrics": {
                    "numTargetFilesRemoved": str(len(touched)),
                    "numTargetFilesAdded": str(len(add_rows)),
                },
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        }
    ]
    actions.extend(cdc_actions)
    for r in add_rows:
        actions.append(
            AddAction(
                path=r.path,
                size=r.size,
                partition_values=json.loads(r.partition_json),
                modification_time=ts,
                data_change=data_change,
                stats=r.stats,
            ).to_json()
        )
    for a in touched:
        actions.append(
            RemoveAction(
                path=a.path,
                deletion_timestamp=ts,
                data_change=data_change,
                deletion_vector=a.deletion_vector,
                partition_values=a.partition_values,
                size=a.size,
            ).to_json()
        )
    version = _commit_with_dml_retry(
        table_path,
        actions,
        snap.version + 1,
        {a.path for a in touched},
        prune_dnf,
    )
    return {
        "version": version,
        "numFilesRewritten": len(touched),
        "numFilesAdded": len(add_rows),
        "numFilesUntouched": len(untouched),
    }


def _mapping(snap) -> Optional[dict]:
    """logical → physical name map when the table uses column mapping,
    else None (identity)."""
    from dask_deltalake_spark.delta.column_mapping import logical_to_physical
    from dask_deltalake_spark.delta.protocol import column_mapping_mode
    from dask_deltalake_spark.delta.reader import snapshot_schema

    if column_mapping_mode(snap.metadata) == "none":
        return None
    return logical_to_physical(snapshot_schema(snap))


def _translate(dnf: list, l2p: Optional[dict]) -> list:
    """Logical→physical DNF column names for pruning against the
    physical-keyed partitionValues / stats (identity when unmapped)."""
    if not l2p:
        return dnf
    from dask_deltalake_spark.delta.column_mapping import translate_dnf

    return translate_dnf(dnf, l2p)


def _local_data_root(table_path: str) -> Optional[str]:
    """os-level root for the DML rewrite's Python-worker file writes:
    resolves locally mapped schemes (mock:); None for unmapped object
    stores, where the caller takes the JVM-native staging + LogStore
    seam rename path instead (never plain file I/O against an
    unresolved scheme — rewrite files would land in a junk relative
    directory while the commit still published, corrupting the
    table)."""
    from dask_deltalake_spark.delta.logstore import store_for

    return store_for(table_path).local_path(table_path)


def _read_files(
    spark: SparkSession,
    snap,
    adds,
    schema: StructType,
    with_metadata: bool = False,
) -> DataFrame:
    """Rows of `adds` under the LOGICAL schema. On column-mapped
    tables the scan runs against physical parquet names and is renamed
    back; ``with_metadata`` additionally surfaces the ``_metadata``
    struct as a real column (the merge-on-read paths need
    file_path/row_index AFTER the rename projection, which would
    otherwise drop the hidden pseudo-column).

    DV'd adds are read THROUGH their deletion vectors when
    ``with_metadata`` is False (the COW rewrite paths): the rewrite
    then MATERIALIZES the vector state into clean files — raw reads
    here would resurrect vector-deleted rows into the rewrite, the
    exact corruption the pre-r11 protocol gates refused DML on DV
    tables to prevent. The merge-on-read front halves
    (``with_metadata=True``) keep raw positions: they fold matches
    into bitmaps and MERGE with the existing vector, so re-marking an
    already-dead row is idempotent by construction."""
    if not adds:
        return spark.createDataFrame([], schema)
    from dask_deltalake_spark.delta.protocol import (
        file_base_root,
        resolve_file_path,
    )

    # group by base root: a shallow clone's adds point absolutely into
    # the source table, whose hive dirs anchor at the SOURCE root —
    # one scan per root (projected per group so _metadata resolves),
    # then a union. COW rewrites over clones thereby localize rows.
    from dask_deltalake_spark.delta.logstore import resolve_spark_path

    if with_metadata:
        dv_adds, plain = [], list(adds)
    else:
        dv_adds = [a for a in adds if a.deletion_vector]
        plain = [a for a in adds if not a.deletion_vector]
    groups: dict = {}
    for a in plain:
        groups.setdefault(
            resolve_spark_path(file_base_root(snap.path, a)), []
        ).append(resolve_spark_path(resolve_file_path(snap.path, a.path)))
    l2p = _mapping(snap)
    from dask_deltalake_spark.delta.column_mapping import physical_schema

    scan_schema = physical_schema(schema) if l2p else schema
    parts = []
    for root, files in sorted(groups.items()):
        df = (
            spark.read.schema(scan_schema)
            .option("basePath", root)
            .parquet(*files)
        )
        if l2p is None and not with_metadata:
            parts.append(df)
            continue
        cols = [
            F.col(p).alias(l)
            for p, l in zip(scan_schema.fieldNames(), schema.fieldNames())
        ]
        if with_metadata:
            cols.append(F.col("_metadata"))
        parts.append(df.select(*cols))
    if dv_adds:
        from dask_deltalake_spark.delta.dv import dv_keep_predicate

        dv_groups: dict = {}
        for a in dv_adds:
            dv_groups.setdefault(
                resolve_spark_path(file_base_root(snap.path, a)), []
            ).append(resolve_spark_path(resolve_file_path(snap.path, a.path)))
        table_root = resolve_spark_path(snap.path)
        if set(dv_groups) != {table_root}:
            from dask_deltalake_spark.delta.protocol import (
                DeltaProtocolError,
            )

            # dv_keep_predicate keys blobs against THE TABLE's scan
            # root — any DV'd add anchored elsewhere (a shallow
            # clone's foreign absolutes, even all under ONE foreign
            # root) would miss the key map, default to keep, and
            # silently resurrect vector-deleted rows (review r11: the
            # guard must check root IDENTITY, not just root count)
            # OPTIMIZE is NOT a remedy here: it routes through this
            # same _read_files path and raises identically (ADVICE
            # r11 — the old message suggested it, circularly); only
            # deep-clone actually localizes the DV'd files
            raise DeltaProtocolError(
                "Deletion vectors on files outside the table root "
                "(shallow-cloned / foreign absolutes) are not "
                "supported by the rewrite; deep-clone the table "
                "first (clone(..., shallow=False)) to localize its "
                "files and vectors."
            )
        keep = dv_keep_predicate(spark, snap.path, dv_adds)
        [(root, files)] = dv_groups.items()
        raw = (
            spark.read.schema(scan_schema)
            .option("basePath", root)
            .parquet(*files)
            .filter(
                keep(
                    F.col("_metadata.file_path"),
                    F.col("_metadata.row_index"),
                )
            )
        )
        parts.append(
            raw.select(
                *[
                    F.col(p).alias(l)
                    for p, l in zip(
                        scan_schema.fieldNames(), schema.fieldNames()
                    )
                ]
            )
        )
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def merge_into(
    path: str,
    source: DataFrame,
    keys: list[str] | str,
    spark: Optional[SparkSession] = None,
    when_matched: str = "update",
    when_not_matched: str = "insert",
) -> dict:
    """MERGE with delta-spark's clause semantics over a key equality
    condition. Defaults reproduce the classic UPSERT (matched target
    rows replaced by their source row, unmatched source rows
    inserted — the prior behavior of this function, byte-identical).

    ``when_matched``: ``"update"`` replaces each matched target row
    with its source row; ``"delete"`` removes matched target rows
    (WHEN MATCHED THEN DELETE — the anti-join retention this rewrite
    already computes); ``"ignore"`` leaves matched rows untouched
    (insert-only merge).

    ``when_not_matched``: ``"insert"`` adds unmatched source rows;
    ``"ignore"`` drops them (update-only merge — WHEN NOT MATCHED has
    no clause).

    Scale shape is unchanged by the clause choice: one key-pruned
    touched-file set, one anti/semi join against the (broadcast when
    small) source key set, never a table-wide shuffle."""
    from dask_deltalake_spark.delta.reader import snapshot_schema

    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"Unsupported when_matched: {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"Unsupported when_not_matched: {when_not_matched!r}"
        )
    if when_matched == "ignore" and when_not_matched == "ignore":
        raise ValueError(
            "MERGE with when_matched='ignore' and "
            "when_not_matched='ignore' has no clause to apply"
        )
    spark = spark or source.sparkSession
    table_path = str(path).rstrip("/")
    if isinstance(keys, str):
        keys = [keys]
    log = DeltaLog(table_path)
    snap = log.snapshot()
    # COW reads+rewrites translate through the mapping; DV'd files
    # are read THROUGH their vectors (r11: _read_files materializes
    # the vector state, so the rewrite can no longer resurrect
    # vector-deleted rows — the reason this gate used to refuse DVs)
    check_read_protocol(
        snap.protocol, metadata=snap.metadata,
        features={"columnMapping", "deletionVectors"},
    )
    # writer-feature gate (see delete_where): refuse features this
    # rewrite cannot maintain, e.g. rowTracking. changeDataFeed
    # claimed: the rewrite below emits per-clause cdc images (r15).
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        features={"columnMapping", "deletionVectors", "generatedColumns",
                  "identityColumns", "changeDataFeed"},
    )
    check_append_only(snap.metadata, "merge")
    schema = snapshot_schema(snap)
    if set(source.columns) != set(schema.fieldNames()):
        raise ValueError(
            f"MERGE source columns {sorted(source.columns)} != table "
            f"columns {sorted(schema.fieldNames())}"
        )
    from dask_deltalake_spark.delta.identity import (
        IdentityColumnError,
        identity_columns,
    )

    blocked = [
        n
        for n, decl in identity_columns(snap.metadata).items()
        if not decl["allow_explicit"]
    ]
    if blocked:
        # MERGE replaces matched rows with source rows wholesale, so
        # the source necessarily provides the identity values —
        # legal only when the declaration allows explicit inserts
        raise IdentityColumnError(
            f"MERGE into a table with identity column(s) {blocked} "
            "requires allowExplicitInsert=true (the source supplies "
            "the identity values)."
        )

    # Conservative file pruning. Preferred: the exact distinct key set
    # as an IN-list (a bimodal source's min/max range would span — and
    # touch — the whole table). Falls back to per-key [min,max] ranges
    # when the key set is too large to hold driver-side; a file whose
    # stats range is disjoint on ANY key column cannot contain an
    # equality match either way.
    _IN_LIST_CAP = 10_000
    dnf: list = []
    small_key_set = False
    if len(keys) == 1:
        key_rows = (
            source.select(keys[0]).distinct().limit(_IN_LIST_CAP + 1).collect()
        )
        if len(key_rows) <= _IN_LIST_CAP:
            dnf = normalize_dnf([[(keys[0], "in", [r[0] for r in key_rows])]])
            small_key_set = True
    if not dnf:
        bounds = source.agg(
            *[F.min(k).alias(f"mn_{k}") for k in keys],
            *[F.max(k).alias(f"mx_{k}") for k in keys],
        ).first()
        conj = []
        for k in keys:
            mn, mx = bounds[f"mn_{k}"], bounds[f"mx_{k}"]
            if mn is not None:
                conj.append((k, ">=", mn))
            if mx is not None:
                conj.append((k, "<=", mx))
        dnf = normalize_dnf([conj]) if conj else []
    l2p = _mapping(snap)
    prune_dnf = _translate(dnf, l2p)
    adds = snap.add_actions
    touched = prune_by_stats(prune_partitions(adds, prune_dnf), prune_dnf)
    touched_paths = {a.path for a in touched}
    untouched = [a for a in adds if a.path not in touched_paths]

    # Broadcast the deduplicated key set only when the IN-list probe
    # proved it small (≤10k keys). A 100 GB merge source would OOM the
    # driver under an unconditional hint; for large/multi-key sources
    # let AQE / autoBroadcastJoinThreshold pick the join strategy.
    source_keys = source.select(*keys).dropDuplicates(keys)
    if small_key_set:
        source_keys = F.broadcast(source_keys)
    target_rows = _read_files(spark, snap, touched, schema)
    if when_matched == "ignore":
        # matched target rows stay as-is: keep everything
        keep = target_rows
    else:
        # update/delete both drop the matched rows from the rewrite
        # (update re-adds them as their source images below)
        keep = target_rows.join(source_keys, keys, "left_anti")
    src = source.select(*schema.fieldNames())
    if when_matched == "update" and when_not_matched == "insert":
        incoming = src  # classic upsert: every source row lands
    elif when_matched == "update":  # not_matched == "ignore"
        # update-only: only source rows whose key EXISTS in the target
        target_keys = target_rows.select(*keys).dropDuplicates(keys)
        incoming = src.join(target_keys, keys, "left_semi")
    elif when_not_matched == "insert":  # matched in (delete, ignore)
        # only source rows with NO target match are inserted
        target_keys = target_rows.select(*keys).dropDuplicates(keys)
        incoming = src.join(target_keys, keys, "left_anti")
    else:
        incoming = None  # delete/ignore-only merges add no source rows
    new_data = (
        keep if incoming is None else keep.unionByName(incoming)
    )
    change_data = None
    if _cdf_enabled(snap.metadata):
        # cdc images per clause (delta-spark MERGE CDF semantics):
        # matched-update -> pre/post pairs, matched-delete -> delete
        # images, not-matched-insert -> insert images; rows the
        # rewrite merely copied emit nothing.
        parts = []
        cols = schema.fieldNames()
        if when_matched in ("update", "delete"):
            matched_targets = target_rows.join(
                source_keys, keys, "left_semi"
            ).select(*cols)
            if when_matched == "update":
                # Balanced images under duplicate keys (ADVICE r15):
                # the rewrite REPLACES all N matched target rows
                # sharing a key with the source row(s) for that key,
                # so N preimages against 1 postimage would misreport
                # N-1 implicit deletes as updates (and M same-key
                # source rows against 1 target would misreport M-1
                # inserts). Rank within each key: the first target
                # row is the update_preimage, collapsed extras are
                # delete images; the first source row is the
                # update_postimage, extras are insert images — the
                # multiset delta the rewrite actually applies.
                # Scale: one row_number window over the MATCHED
                # cohort only (never the table), partitioned on the
                # same keys the join already shuffled on.
                from pyspark.sql.window import Window

                target_keys_cd = target_rows.select(
                    *keys
                ).dropDuplicates(keys)
                w_cd = Window.partitionBy(*keys).orderBy(
                    *[F.col(c) for c in cols]
                )
                # one frame per side (not a filter-split pair, which
                # would evaluate each input twice): the rank decides
                # the image class inline
                parts.append(
                    matched_targets.withColumn(
                        "_change_type",
                        F.when(
                            F.row_number().over(w_cd) == 1,
                            F.lit("update_preimage"),
                        ).otherwise(F.lit("delete")),
                    )
                )
                parts.append(
                    src.join(target_keys_cd, keys, "left_semi")
                    .select(*cols)
                    .withColumn(
                        "_change_type",
                        F.when(
                            F.row_number().over(w_cd) == 1,
                            F.lit("update_postimage"),
                        ).otherwise(F.lit("insert")),
                    )
                )
            else:
                parts.append(matched_targets.withColumn(
                    "_change_type", F.lit("delete")
                ))
        if when_not_matched == "insert":
            target_keys_cd = target_rows.select(*keys).dropDuplicates(
                keys
            )
            parts.append(
                src.join(target_keys_cd, keys, "left_anti")
                .select(*cols)
                .withColumn("_change_type", F.lit("insert"))
            )
        change_data = parts[0]
        for extra in parts[1:]:
            change_data = change_data.unionByName(extra)
    return _rewrite_and_commit(
        spark,
        table_path,
        snap,
        touched,
        untouched,
        new_data,
        "MERGE",
        {
            "matchedPredicates": json.dumps(keys),
            "whenMatched": when_matched,
            "whenNotMatched": when_not_matched,
        },
        change_data=change_data,
    )


def delete_where(
    path: str,
    filter: list,
    spark: Optional[SparkSession] = None,
    strategy: str = "copy-on-write",
) -> dict:
    """DELETE FROM table WHERE <DNF filter> (reference filter syntax:
    list of tuples = AND, list of lists = OR-of-ANDs).

    ``strategy='copy-on-write'`` (default) rewrites every touched file
    without the matching rows — best when deletes are partition-
    aligned or large. ``strategy='merge-on-read'`` writes DELETION
    VECTORS instead (delta/dv.py): touched files stay in place and a
    compressed bitmap of deleted row positions is committed alongside
    each — O(matched rows) bitmap bytes, zero data rewritten, which at
    100 TB turns a 0.1% delete from a multi-TB rewrite into a
    kilobyte-scale commit. Readers honor the vectors transparently."""
    from dask_deltalake_spark.delta.reader import dnf_to_column, snapshot_schema

    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"Unsupported delete strategy: {strategy!r}")
    spark = spark or SparkSession.getActiveSession()
    table_path = str(path).rstrip("/")
    log = DeltaLog(table_path)
    snap = log.snapshot()
    check_append_only(snap.metadata, "delete")
    # writer-feature gate: a rewrite/vector path that cannot MAINTAIN
    # a declared writer feature (e.g. rowTracking — rewritten files
    # would lose their baseRowId ranges) must refuse, not silently
    # strip it (delta/rowtracking.py)
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        # changeDataFeed claimed: both strategies emit cdc delete
        # images (r15)
        features={"columnMapping", "deletionVectors", "generatedColumns",
                  "identityColumns", "changeDataFeed"},
    )
    if strategy == "merge-on-read":
        # honoring EXISTING vectors while adding new ones is part of
        # the path, so gate with the feature claimed
        check_read_protocol(
            snap.protocol, metadata=snap.metadata,
            features={"deletionVectors", "columnMapping"},
        )
        return _delete_merge_on_read(spark, table_path, snap, filter)
    # COW on DV'd files reads through the vectors and materializes
    # them into the rewrite (r11)
    check_read_protocol(
        snap.protocol, metadata=snap.metadata,
        features={"columnMapping", "deletionVectors"},
    )
    schema = snapshot_schema(snap)
    dnf = normalize_dnf(filter)

    prune_dnf = _translate(dnf, _mapping(snap))
    adds = snap.add_actions
    touched = prune_by_stats(prune_partitions(adds, prune_dnf), prune_dnf)
    touched_paths = {a.path for a in touched}
    untouched = [a for a in adds if a.path not in touched_paths]

    cond = dnf_to_column(dnf)
    scan = _read_files(spark, snap, touched, schema)
    new_data = scan
    change_data = None
    if cond is not None:
        # SQL DELETE removes only rows where the predicate is TRUE.
        # A bare ~cond is NULL (row dropped!) when cond is NULL — e.g.
        # DELETE WHERE x > 5 must KEEP rows with x IS NULL.
        new_data = scan.filter(~F.coalesce(cond, F.lit(False)))
    if _cdf_enabled(snap.metadata):
        # cdc images: exactly the deleted rows (the kept rows are
        # copies the cdc file exists to exclude)
        deleted = (
            scan.filter(F.coalesce(cond, F.lit(False)))
            if cond is not None else scan
        )
        change_data = deleted.withColumn(
            "_change_type", F.lit("delete")
        )
    return _rewrite_and_commit(
        spark,
        table_path,
        snap,
        touched,
        untouched,
        new_data,
        "DELETE",
        {"predicate": json.dumps([str(c) for c in (filter or [])])},
        prune_dnf=prune_dnf,
        change_data=change_data,
    )


def _mor_noop(snap) -> dict:
    return {
        "version": snap.version,
        "numFilesWithNewVectors": 0,
        "numFilesDropped": 0,
        "numDeletedRows": 0,
    }


def _mor_mark_positions(spark: SparkSession, table_path: str, snap, dnf):
    """Shared front half of the merge-on-read ops: find the POSITIONS
    of predicate-matching rows in one pruned scan carrying
    ``_metadata.row_index``, fold them into per-file Roaring bitmaps
    ON EXECUTORS (``applyInPandas`` per file — only compressed bitmap
    bytes ever reach the driver), and merge with any existing vector.
    Returns (touched, dv_targets, drops, n_new_deleted) where
    dv_targets is [(add_action, final_positions)] and drops are files
    whose final cardinality reaches their row count (dropped outright
    instead of carrying a full-file vector — delta-spark does the
    same); or None when nothing matched."""
    import os

    import numpy as np

    from dask_deltalake_spark.delta.dv import (
        deserialize_positions,
        read_dv_positions,
        serialize_positions,
        strip_file_scheme,
    )
    from dask_deltalake_spark.delta.reader import dnf_to_column, snapshot_schema

    schema = snapshot_schema(snap)
    prune_dnf = _translate(dnf, _mapping(snap))
    adds = snap.add_actions
    touched = prune_by_stats(prune_partitions(adds, prune_dnf), prune_dnf)
    if not touched:
        return None
    cond = dnf_to_column(dnf)
    scan = _read_files(spark, snap, touched, schema, with_metadata=True)
    matched = scan.filter(F.coalesce(cond, F.lit(False))).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("pos"),
    )

    def _fold(pdf):
        import pandas as pd

        positions = np.unique(pdf["pos"].to_numpy(dtype=np.uint64))
        return pd.DataFrame(
            [
                {
                    "fp": pdf["fp"].iloc[0],
                    "blob": serialize_positions(positions),
                    "card": len(positions),
                }
            ]
        )

    folded = matched.groupBy("fp").applyInPandas(
        _fold, schema="fp string, blob binary, card long"
    ).collect()
    if not folded:
        return None

    from dask_deltalake_spark.delta.logstore import resolve_spark_path

    # _metadata.file_path carries the JVM-RESOLVED path (scheme'd
    # tables scan through their local mapping), so relativize against
    # the resolved root, not the raw table path
    scan_root = resolve_spark_path(table_path)
    by_rel = {
        os.path.relpath(strip_file_scheme(row["fp"]), scan_root): row
        for row in folded
    }
    dv_targets = []  # (add_action, final_positions)
    drops = []  # fully-deleted files
    n_new_deleted = 0
    for a in touched:
        row = by_rel.get(a.path)
        if row is None:
            continue  # pruned file had no actual matches
        new_pos = deserialize_positions(bytes(row["blob"]))
        if a.deletion_vector:
            old_pos = read_dv_positions(table_path, a.deletion_vector)
            final = np.union1d(old_pos, new_pos)
        else:
            old_pos = np.empty(0, dtype=np.uint64)
            final = new_pos
        n_new_deleted += int(len(final) - len(old_pos))
        num_records = None
        if a.stats:
            try:
                num_records = json.loads(a.stats).get("numRecords")
            except Exception:
                pass
        if num_records is not None and len(final) >= int(num_records):
            drops.append(a)
        else:
            dv_targets.append((a, final))
    if not dv_targets and not drops:
        return None
    return touched, dv_targets, drops, n_new_deleted


def _mor_commit(
    table_path: str,
    snap,
    operation: str,
    op_params: dict,
    metrics: dict,
    dv_targets: list,
    drops: list,
    extra_adds: Optional[list] = None,
    prune_dnf=None,
    extra_actions: Optional[list] = None,
) -> int:
    """Shared back half: write this commit's vectors into ONE .bin,
    emit remove+re-add per vectored file, removes for dropped files,
    optional fresh adds (merge-on-read UPDATE's rewritten rows), and
    the reader-v3/writer-v7 feature upgrade when the table lacks it —
    all in one atomic commit. Returns the committed version."""
    from dask_deltalake_spark.delta.dv import serialize_positions, write_dv_file
    from dask_deltalake_spark.delta.protocol import Protocol
    from dask_deltalake_spark.delta.writer import write_commit

    ts = now_ms()
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": operation,
                "operationParameters": op_params,
                "readVersion": snap.version,
                "isBlindAppend": False,
                "operationMetrics": metrics,
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        }
    ]
    if extra_actions:
        # cdc actions (r15 CDF write support): row-image files for
        # this commit, written by the caller via _write_change_data
        actions.extend(extra_actions)
    if "deletionVectors" not in (snap.protocol.reader_features or []):
        # feature upgrade rides in the same commit. The listed legacy
        # features depend on where the table starts: a plain (writer
        # v2) table implies appendOnly+invariants; a column-mapped
        # (writer v5) table additionally implies the v3/v4/v5 set per
        # the spec's version→feature table. Every listed feature is
        # either implemented or enforced-by-refusal
        # (protocol.check_write_protocol's structural checks).
        mapped = _mapping(snap) is not None
        reader_features = (["columnMapping"] if mapped else []) + [
            "deletionVectors"
        ]
        writer_features = ["appendOnly", "invariants"]
        if mapped:
            writer_features += [
                "checkConstraints",
                "changeDataFeed",
                "generatedColumns",
                "columnMapping",
            ]
        writer_features.append("deletionVectors")
        actions.append(
            Protocol(
                min_reader_version=3,
                min_writer_version=7,
                reader_features=reader_features,
                writer_features=writer_features,
            ).to_json()
        )
    if dv_targets:
        _rel_bin, descriptors = write_dv_file(
            table_path, [serialize_positions(pos) for _, pos in dv_targets]
        )
        for (a, pos), desc in zip(dv_targets, descriptors):
            desc = dict(desc, cardinality=int(len(pos)))
            # the remove carries the PRE-update descriptor (the re-add
            # below carries the merged one); replay keys tombstones by
            # (path, dvId), so this tombstone SURVIVES the same-path
            # re-add and the superseded bin keeps a logical deletion
            # time for vacuum retention (log.py:_apply)
            actions.append(
                RemoveAction(
                    path=a.path,
                    deletion_timestamp=ts,
                    data_change=True,
                    deletion_vector=a.deletion_vector,
                    partition_values=a.partition_values,
                    size=a.size,
                ).to_json()
            )
            actions.append(
                AddAction(
                    path=a.path,
                    size=a.size,
                    partition_values=a.partition_values,
                    modification_time=a.modification_time,
                    data_change=True,
                    stats=a.stats,
                    deletion_vector=desc,
                ).to_json()
            )
    for a in drops:
        actions.append(
            RemoveAction(
                path=a.path,
                deletion_timestamp=ts,
                data_change=True,
                deletion_vector=a.deletion_vector,
                partition_values=a.partition_values,
                size=a.size,
            ).to_json()
        )
    for r in extra_adds or []:
        actions.append(
            AddAction(
                path=r.path,
                size=r.size,
                partition_values=json.loads(r.partition_json),
                modification_time=ts,
                data_change=True,
                stats=r.stats,
            ).to_json()
        )
    touched_paths = {a.path for a, _pos in dv_targets} | {
        a.path for a in drops
    }
    return _commit_with_dml_retry(
        table_path, actions, snap.version + 1, touched_paths, prune_dnf
    )


def _delete_merge_on_read(
    spark: SparkSession, table_path: str, snap, filter: list
) -> dict:
    """DELETE via deletion vectors: mark positions, commit vectors.
    Zero data files are rewritten."""
    marked = _mor_mark_positions(
        spark, table_path, snap, normalize_dnf(filter)
    )
    if marked is None:
        return _mor_noop(snap)
    _touched, dv_targets, drops, n_new_deleted = marked
    cdc_actions = None
    if _cdf_enabled(snap.metadata):
        # cdc delete images (r15): the NEWLY-dead rows — matched by
        # the predicate AND live under the prior vectors (rows a
        # previous delete already killed must not re-emit)
        from dask_deltalake_spark.delta.reader import (
            dnf_to_column as _d2c,
            snapshot_schema as _sschema,
        )

        _schema = _sschema(snap)
        _cond = _d2c(normalize_dnf(filter))
        dead = _read_files(
            spark, snap, _touched, _schema, with_metadata=True
        ).filter(F.coalesce(_cond, F.lit(False)))
        prior_dv = [a for a in _touched if a.deletion_vector]
        if prior_dv:
            from dask_deltalake_spark.delta.dv import dv_keep_predicate

            keep = dv_keep_predicate(spark, snap.path, prior_dv)
            dead = dead.filter(
                keep(F.col("_metadata.file_path"),
                     F.col("_metadata.row_index"))
            )
        cdc_actions = _write_change_data(
            table_path, snap,
            dead.select(*_schema.fieldNames()).withColumn(
                "_change_type", F.lit("delete")
            ),
        )
    version = _mor_commit(
        table_path,
        snap,
        "DELETE",
        {
            "predicate": json.dumps([str(c) for c in (filter or [])]),
            "strategy": "merge-on-read",
        },
        {
            "numDeletedRows": str(n_new_deleted),
            "numFilesWithNewVectors": str(len(dv_targets)),
            "numFilesRemovedCompletely": str(len(drops)),
        },
        dv_targets,
        drops,
        prune_dnf=_translate(normalize_dnf(filter), _mapping(snap)),
        extra_actions=cdc_actions,
    )
    return {
        "version": version,
        "numFilesWithNewVectors": len(dv_targets),
        "numFilesDropped": len(drops),
        "numDeletedRows": n_new_deleted,
    }


def _update_merge_on_read(
    spark: SparkSession, table_path: str, snap, filter: list, set: dict
) -> dict:
    """UPDATE via deletion vectors (delta-spark's MoR update shape):
    matched rows are vector-deleted in place and their updated images
    are APPENDED as fresh files — the write cost is O(matched rows),
    never a rewrite of the touched files' unmatched rows. The vector
    commit and the new files land atomically in one version."""
    from dask_deltalake_spark.delta.reader import dnf_to_column, snapshot_schema

    dnf = normalize_dnf(filter)
    marked = _mor_mark_positions(spark, table_path, snap, dnf)
    if marked is None:
        return _mor_noop(snap)
    touched, dv_targets, drops, n_new_deleted = marked

    schema = snapshot_schema(snap)
    cond = dnf_to_column(dnf)
    updated = _read_files(
        spark, snap, touched, schema, with_metadata=True
    ).filter(F.coalesce(cond, F.lit(False)))
    if snap_has_dv := any(a.deletion_vector for a in touched):
        # rows already vector-deleted must not resurrect as updates
        from dask_deltalake_spark.delta.dv import dv_keep_predicate

        keep = dv_keep_predicate(
            spark, snap.path, [a for a in touched if a.deletion_vector]
        )
        updated = updated.filter(
            keep(F.col("_metadata.file_path"), F.col("_metadata.row_index"))
        )
    from dask_deltalake_spark.delta.generated import generated_columns
    from dask_deltalake_spark.delta.identity import identity_columns

    gens = generated_columns(snap.metadata)
    set_gens = [c for c in set if c in gens]
    if set_gens:
        raise ValueError(
            f"Cannot UPDATE generated column(s) {set_gens}: they are "
            "GENERATED ALWAYS AS and recomputed from their expressions "
            "when source columns change."
        )
    set_ids = [c for c in set if c in identity_columns(snap.metadata)]
    if set_ids:
        raise ValueError(
            f"Cannot UPDATE identity column(s) {set_ids}: they are "
            "GENERATED ALWAYS AS IDENTITY (rewrites preserve the "
            "assigned values)."
        )
    pre_images = updated.select(*schema.fieldNames())
    for col_name, expr in set.items():
        val = expr if isinstance(expr, Column) else F.lit(expr)
        # pin the declared column type — drifting (e.g. long+1.0 →
        # double) would append files whose physical type disagrees
        # with the table schema
        updated = updated.withColumn(col_name, val.cast(schema[col_name].dataType))
    # GENERATED ALWAYS: re-derive on the updated images
    for gname, gexpr in gens.items():
        updated = updated.withColumn(
            gname, F.expr(gexpr).cast(schema[gname].dataType)
        )
    updated = updated.select(*schema.fieldNames())
    from dask_deltalake_spark.delta.constraints import enforce_constraints

    enforce_constraints(updated, snap.metadata, "UPDATE(merge-on-read)")
    cdc_actions = None
    if _cdf_enabled(snap.metadata):
        # cdc pre/post pairs (r15): preimages are the matched live
        # rows BEFORE the SET, postimages the appended image rows
        cdc_actions = _write_change_data(
            table_path, snap,
            pre_images.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                updated.withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            ),
        )
    partition_by = list(snap.metadata.partition_columns)
    l2p = _mapping(snap)
    if l2p:
        # image files carry PHYSICAL names like every other write
        updated = updated.toDF(*[l2p.get(c, c) for c in updated.columns])
        partition_by = [l2p.get(c, c) for c in partition_by]
    from dask_deltalake_spark.delta.protocol import stats_spec_for

    _stats_spec = stats_spec_for(snap)
    data_root = _local_data_root(table_path)
    if data_root is not None:
        from dask_deltalake_spark.delta.writer import run_partition_write

        add_rows = run_partition_write(
            updated, data_root, partition_by, stats_spec=_stats_spec
        )
    else:
        from dask_deltalake_spark.delta.writer import _write_files_native

        add_rows = _write_files_native(
            updated, table_path, partition_by, stats_spec=_stats_spec
        )

    version = _mor_commit(
        table_path,
        snap,
        "UPDATE",
        {
            "predicate": json.dumps([str(c) for c in (filter or [])]),
            "strategy": "merge-on-read",
        },
        {
            "numUpdatedRows": str(n_new_deleted),
            "numFilesWithNewVectors": str(len(dv_targets)),
            "numFilesAdded": str(len(add_rows)),
        },
        dv_targets,
        drops,
        extra_adds=add_rows,
        prune_dnf=_translate(normalize_dnf(filter), _mapping(snap)),
        extra_actions=cdc_actions,
    )
    return {
        "version": version,
        "numFilesWithNewVectors": len(dv_targets),
        "numFilesDropped": len(drops),
        "numUpdatedRows": n_new_deleted,
        "numFilesAdded": len(add_rows),
    }


def update_where(
    path: str,
    filter: list,
    set: dict,
    spark: Optional[SparkSession] = None,
    strategy: str = "copy-on-write",
) -> dict:
    """UPDATE table SET col=expr WHERE <DNF filter>. ``set`` maps
    column name → Column expression (or literal), applied only to rows
    matching the filter; same pruned copy-on-write as delete_where.
    ``strategy='merge-on-read'`` instead vector-deletes the matched
    rows and appends their updated images as fresh files — write cost
    O(matched rows), untouched rows never move."""
    from dask_deltalake_spark.delta.reader import dnf_to_column, snapshot_schema

    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"Unsupported update strategy: {strategy!r}")
    spark = spark or SparkSession.getActiveSession()
    table_path = str(path).rstrip("/")
    log = DeltaLog(table_path)
    snap = log.snapshot()
    check_append_only(snap.metadata, "update")
    # writer-feature gate (see delete_where): refuse features this
    # rewrite cannot maintain, e.g. rowTracking
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        # changeDataFeed claimed: both strategies emit cdc pre/post
        # images (r15)
        features={"columnMapping", "deletionVectors", "generatedColumns",
                  "identityColumns", "changeDataFeed"},
    )
    if strategy == "merge-on-read":
        check_read_protocol(
            snap.protocol, metadata=snap.metadata,
            features={"deletionVectors", "columnMapping"},
        )
        _schema = snapshot_schema(snap)
        bad_cols = [c for c in set if c not in _schema.fieldNames()]
        if bad_cols:
            raise ValueError(f"UPDATE of unknown columns: {bad_cols}")
        return _update_merge_on_read(spark, table_path, snap, filter, set)
    check_read_protocol(
        snap.protocol, metadata=snap.metadata,
        features={"columnMapping", "deletionVectors"},
    )  # COW reads DV'd files THROUGH their vectors (r11)
    schema = snapshot_schema(snap)
    bad = [c for c in set if c not in schema.fieldNames()]
    if bad:
        raise ValueError(f"UPDATE of unknown columns: {bad}")
    dnf = normalize_dnf(filter)

    prune_dnf = _translate(dnf, _mapping(snap))
    adds = snap.add_actions
    touched = prune_by_stats(prune_partitions(adds, prune_dnf), prune_dnf)
    touched_paths = {a.path for a in touched}
    untouched = [a for a in adds if a.path not in touched_paths]

    cond = dnf_to_column(dnf)
    from dask_deltalake_spark.delta.generated import generated_columns
    from dask_deltalake_spark.delta.identity import identity_columns

    gens = generated_columns(snap.metadata)
    set_gens = [c for c in set if c in gens]
    if set_gens:
        raise ValueError(
            f"Cannot UPDATE generated column(s) {set_gens}: they are "
            "GENERATED ALWAYS AS and recomputed from their expressions "
            "when source columns change."
        )
    set_ids = [c for c in set if c in identity_columns(snap.metadata)]
    if set_ids:
        raise ValueError(
            f"Cannot UPDATE identity column(s) {set_ids}: they are "
            "GENERATED ALWAYS AS IDENTITY (rewrites preserve the "
            "assigned values)."
        )
    scan = _read_files(spark, snap, touched, schema)

    def _apply_set(frame: DataFrame, always: bool) -> DataFrame:
        for col, expr in set.items():
            val = expr if hasattr(expr, "cast") else F.lit(expr)
            val = val.cast(schema[col].dataType)
            frame = frame.withColumn(
                col,
                val if (always or cond is None)
                else F.when(cond, val).otherwise(F.col(col)),
            )
        # GENERATED ALWAYS: re-derive after the SET projection so rows
        # whose source columns changed stay consistent (deterministic
        # expressions — untouched rows recompute to their current
        # values)
        for gname, gexpr in gens.items():
            frame = frame.withColumn(
                gname, F.expr(gexpr).cast(schema[gname].dataType)
            )
        return frame

    new_data = _apply_set(scan, always=False)
    change_data = None
    if _cdf_enabled(snap.metadata):
        # cdc images: pre/post pairs for exactly the matched rows
        pre = (
            scan.filter(F.coalesce(cond, F.lit(False)))
            if cond is not None else scan
        )
        change_data = pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            _apply_set(pre, always=True).withColumn(
                "_change_type", F.lit("update_postimage")
            )
        )
    return _rewrite_and_commit(
        spark,
        table_path,
        snap,
        touched,
        untouched,
        new_data,
        "UPDATE",
        {"predicate": json.dumps([str(c) for c in (filter or [])])},
        prune_dnf=prune_dnf,
        change_data=change_data,
    )
