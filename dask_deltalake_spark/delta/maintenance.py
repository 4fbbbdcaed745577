"""Table maintenance: history, vacuum, checkpointing, compaction.

Reference parity: `read_delta_history` (reference core.py:268-293 →
88-108: commitInfo records flattened, sorted desc by timestamp, fixed
9-column projection, optional limit) and `vacuum` (core.py:296-324 →
110-151: list files unreferenced by the current version older than the
retention window; dry-run lists, otherwise distributed delete).

Extensions beyond the reference (north-star "read/write/compaction"):
`create_checkpoint` (protocol checkpoint parquet + `_last_checkpoint`,
which the reference only consumes via delta-rs) and `optimize`
(bin-packing small-file compaction with dataChange=false, delta-spark's
OPTIMIZE analog — essential at 100 TB where streaming appends produce
file counts that degrade scan planning).
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os
from typing import Optional

from pyspark.sql import SparkSession

from dask_deltalake_spark.delta.log import DeltaLog
from dask_deltalake_spark.delta.protocol import (
    LOG_DIR,
    AddAction,
    ConcurrentCommitError,
    DeltaProtocolError,
    RemoveAction,
    check_read_protocol,
    check_write_protocol,
    dv_unique_id,
    now_ms,
)
from dask_deltalake_spark.delta.writer import write_commit

_log = logging.getLogger("dask_deltalake_spark")

HISTORY_COLUMNS = [
    "timestamp",
    "operation",
    "operationParameters.mode",
    "operationMetrics.numFiles",
    "operationMetrics.numOutputBytes",
    "operationMetrics.numOutputRows",
    "operationParameters.partitionBy",
    "readVersion",
    "isBlindAppend",
]


def read_delta_history(
    path: str,
    limit: Optional[int] = None,
    storage_options: Optional[dict] = None,
) -> pd.DataFrame:
    """Commit history, newest first — the reference's exact shape:
    json-normalized commitInfo, desc-sorted by timestamp, 9 fixed
    columns, optional limit (reference core.py:88-108). Purely
    driver-side metadata, like the reference."""
    # function-level: pandas costs ~0.25 s per fresh Python worker
    # spawn and nothing else in this module needs it
    import pandas as pd

    infos = DeltaLog(path).commit_infos()
    if not infos:
        # checkpoint-only log (foreign metadata cleanup removed every
        # JSON commit): history is commit-backed, so there is none to
        # show — the 9-column empty frame, not a sort KeyError
        return pd.DataFrame(columns=HISTORY_COLUMNS)
    for info in infos:
        # the in-commit clock IS the commit time when stamped
        # (delta/ict.py) — delta-spark history shows the same
        if "inCommitTimestamp" in info:
            info["timestamp"] = info["inCommitTimestamp"]
    df = (
        pd.json_normalize(infos)
        .sort_values(by="timestamp", ascending=False)
        .reset_index(drop=True)
    )
    if limit:
        df = df[df.index < limit]
    for c in HISTORY_COLUMNS:
        if c not in df.columns:
            df[c] = None
    return df[HISTORY_COLUMNS]


def vacuum(
    path: str,
    retention_hours: Optional[int] = None,
    dry_run: bool = True,
    storage_options: Optional[dict] = None,
    spark: Optional[SparkSession] = None,
    mode: str = "full",
    inventory=None,
):
    """List (dry run) or delete files in the table directory that are
    no longer referenced by the current version and are older than the
    retention threshold. ``retention_hours=None`` (default) resolves
    the table's ``delta.deletedFileRetentionDuration`` property, else
    168 h — delta-spark's default ladder (an explicit RETAIN always
    wins; the reference hard-codes 168 h, core.py:121). Deletes are fanned out across executors — one
    metadata-sized task list, deletion I/O distributed — mirroring the
    reference's one-delayed-task-per-tombstone design (core.py:143-151)
    in Spark terms.

    ``mode="full"`` (default, the reference's semantics) WALKS the
    table directory, catching logged removals AND orphans (crashed
    writers' debris). ``mode="lite"`` (delta 3.1's VACUUM LITE)
    derives candidates purely from the snapshot's tombstones — zero
    directory listing. At 100 TB the full walk lists hundreds of
    millions of objects (on S3: the dominant cost of vacuum); lite is
    O(#tombstones) log metadata, the right routine cadence, with full
    reserved for occasional orphan sweeps. Note lite's candidate
    source is bounded by checkpoint tombstone expiry (delta-spark
    parity): a file whose tombstone aged out of a checkpoint before
    any vacuum ran is no longer a lite candidate — the periodic full
    sweep reclaims it by mtime.

    ``inventory=`` (delta 3.1's ``VACUUM ... USING INVENTORY``): a
    Spark DataFrame with columns ``path`` (table-relative) and
    ``modificationTime`` (ms epoch) replaces the directory walk —
    the candidate filter runs DISTRIBUTED (anti-join against the
    broadcast referenced set + retention cut), so a billion-object
    inventory exported from S3 Inventory / GCS Storage Insights never
    lands on the driver; only the tombstone-sized survivor list does.
    Orphans are caught exactly as in full mode, without a single
    LIST call against the store."""
    if mode not in ("full", "lite"):
        raise ValueError(f"Unsupported vacuum mode: {mode!r}")
    if inventory is not None and mode == "lite":
        raise ValueError(
            "inventory= replaces the full walk; it cannot combine "
            "with mode='lite' (which lists nothing to begin with)."
        )
    table_path = str(path).rstrip("/")
    log = DeltaLog(table_path)
    snap = log.snapshot()
    # vacuumProtocolCheck (reader+writer table feature): VACUUM must
    # validate the protocol before deleting anything — a vacuum that
    # ignores an unknown feature could delete files that feature still
    # references (exactly how DV `.bin` files would be lost by a
    # DV-unaware vacuum). This gate IS the mandated check; the
    # features listed are the ones whose file-reference semantics this
    # vacuum genuinely understands.
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        features={
            "columnMapping",
            "deletionVectors",
            "rowTracking",
            "domainMetadata",
            "clustering",
            "vacuumProtocolCheck",
            # a foreign CDF table's _change_data files are never
            # candidates: the walk/inventory filters prune every
            # '_'-prefixed segment (delta-spark vacuums CDF tables
            # too; refusing made a foreign table un-maintainable, r15)
            "changeDataFeed",
        },
    )
    referenced = set(snap.files)
    # live deletion-vector .bin files are referenced THROUGH their add
    # actions, not as paths in snap.files — vacuuming one would corrupt
    # every row-level delete it stores
    for a in snap.add_actions:
        if a.deletion_vector and a.deletion_vector.get("storageType") == "u":
            from dask_deltalake_spark.delta.dv import dv_absolute_path

            abs_dv = dv_absolute_path(table_path, a.deletion_vector)
            referenced.add(os.path.relpath(abs_dv, table_path))
    # cdc files (r15, CDF write support): a _change_data file is
    # referenced while its commit's JSON is still in the log — the
    # change feed of that version is still readable and must stay so.
    # Once log retention cleanup deletes the commit, the cdc path
    # falls out of this set and the ordinary mtime cutoff reclaims it
    # (slightly more conservative than delta-spark, which ages cdc
    # files by mtime alone; unbounded _change_data growth was the
    # alternative). O(#commits) driver metadata, same as replay.
    from urllib.parse import unquote as _unq

    for _v in log.versions():
        for _a in log.read_commit_actions(_v):
            _c = _a.get("cdc")
            if _c is not None:
                referenced.add(_unq(_c["path"]))
    if retention_hours is None:
        # warn=True: a foreign engine's unparseable spelling must not
        # make a previously vacuumable table un-vacuumable — fall back
        # to the reference default, loudly (the user-facing verb);
        # create_checkpoint shares the SAME helper so the expiry
        # cutoff can never diverge from vacuum's
        retention_hours = _configured_retention_hours(
            snap.metadata.configuration, warn=True
        )
    cutoff_ms = now_ms() - retention_hours * 3600 * 1000
    # Candidate eligibility below is ts <= cutoff (age >= retention),
    # NOT strict <: with retention 0 a tombstone stamped in the SAME
    # millisecond vacuum computes now_ms() would be skipped by the
    # strict form — a real race seen once in a warm full-window gate
    # run (d40: OPTIMIZE's DV-bin remove and the vacuum cutoff landed
    # in one ms; the bin survived, the 2 ms-later dry-run listed it).
    # delta-spark compares strictly, but its boundary is unobservable
    # at hour-granularity retentions — the 1 ms sliver only matters
    # for retention-0 lifecycle tests, where inclusive is the intent.

    tombstones: list[str] = []
    removal_times = {
        p: r.deletion_timestamp for p, r in snap.tombstones.items()
    }
    # tombstoned DV bins age by their remove's LOGICAL deletion time,
    # not file mtime: a bin created at T0 and tombstoned at T1 (e.g.
    # autoCompact purging a long-lived merge-on-read delete) must stay
    # reclaim-protected until T1 + retention, or time travel / RESTORE
    # to versions in [T0, T1] breaks while still inside the window —
    # the reason removes carry the removed add's deletionVector
    # descriptor (delta-spark parity, r9 self-review). One bin can
    # back several files (write_dv_file packs descriptors), so the
    # LATEST referencing remove governs; live references stay
    # protected by the `referenced` set checked first in every branch.
    # tombstones_all (the (path, dvId)-keyed set) additionally covers
    # superseded vectors whose PATH is live again — a second
    # merge-on-read delete or RESTORE across vector states leaves the
    # old bin referenced by no snapshot but still inside its window.
    for r in snap.tombstones_all:
        dvd = r.deletion_vector
        if dvd and dvd.get("storageType") == "u":
            from dask_deltalake_spark.delta.dv import dv_absolute_path

            rel = os.path.relpath(
                dv_absolute_path(table_path, dvd), table_path
            )
            removal_times[rel] = max(
                removal_times.get(rel, 0), r.deletion_timestamp
            )
    store = log.store
    if mode == "lite":
        # candidates straight from the log's remove actions — no
        # listing; re-added paths are already excluded by replay
        # (an add pops its tombstone), absolute/cloned paths are
        # never touched (they belong to the source table)
        from dask_deltalake_spark.delta.protocol import (
            is_absolute_add_path,
        )

        for rel_p, ts in removal_times.items():
            if is_absolute_add_path(rel_p) or rel_p in referenced:
                continue
            if ts <= cutoff_ms and store.exists(
                os.path.join(table_path, rel_p)
            ):
                tombstones.append(rel_p)
    elif inventory is not None:
        import pyspark.sql.functions as F

        isess = inventory.sparkSession
        # referenced set + logged removal times are metadata-scale →
        # broadcast; the inventory side streams through the anti-join
        ref_df = isess.createDataFrame(
            [(p,) for p in sorted(referenced)], "path string"
        )
        rt_df = isess.createDataFrame(
            list(removal_times.items()) or [("", 0)],
            "path string, rts long",
        )
        # containment gate (delta-spark filters inventory candidates
        # to the table base path): an S3-style inventory legitimately
        # covers the whole bucket, so absolute paths under the table
        # root are relativized and kept, everything else absolute (or
        # scheme-qualified, or containing a '..' segment) is DROPPED —
        # otherwise os.path.join(base, rel) with an absolute/.. rel
        # resolves OUTSIDE the table and vacuum deletes files that
        # were never part of it.
        _base = table_path.rstrip("/") + "/"
        cand = (
            inventory.select(
                F.col("path").cast("string").alias("path"),
                F.col("modificationTime").cast("long").alias("mts"),
            )
            .withColumn(
                "path",
                F.when(
                    F.col("path").startswith(_base),
                    F.col("path").substr(F.lit(len(_base) + 1), F.lit(2**30)),
                ).otherwise(F.col("path")),
            )
            .filter(
                ~F.col("path").startswith("/")
                & ~F.col("path").rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
                & ~F.col("path").rlike(r"(^|/)\.\.(/|$)")
                & (F.col("path") != "")
            )
            .filter(
                F.when(
                    F.col("path").startswith("_change_data/"),
                    # same hidden-prune applied BELOW the carve-out
                    ~F.expr("substring(path, 14)").rlike(r"(^|/)[._]"),
                ).otherwise(~F.col("path").rlike(r"(^|/)[._]"))
            )
            .join(F.broadcast(ref_df), "path", "left_anti")
            .join(F.broadcast(rt_df), "path", "left")
            .filter(F.coalesce(F.col("rts"), F.col("mts")) <= cutoff_ms)
            .select("path")
        )
        tombstones = [r["path"] for r in cand.collect()]
    else:
        for rel_p in store.walk_files(table_path):
            # prune hidden/_delta_log segments (same contract as
            # os.walk dir pruning: no segment may start with '.'/'_')
            # — EXCEPT the _change_data dir itself (r15): cdc files
            # are tracked via cdc actions and reclaimable once their
            # commit left the log, so they are ordinary candidates
            # (segments BELOW _change_data/ stay hidden-pruned)
            segs = rel_p.split("/")
            if segs[0] == "_change_data" and len(segs) > 1:
                segs = segs[1:]
            if any(seg.startswith((".", "_")) for seg in segs):
                continue
            if rel_p in referenced:
                continue
            ts = removal_times.get(rel_p)
            if ts is None:
                ts = int(store.mtime(os.path.join(table_path, rel_p)) * 1000)
            if ts <= cutoff_ms:
                tombstones.append(rel_p)

    if dry_run:
        return tombstones

    spark = spark or SparkSession.getActiveSession()
    local_root = store.local_path(table_path)
    if spark is not None and local_root is not None and len(tombstones) > 64:
        sc = spark.sparkContext
        base = local_root

        def _rm(rel: str) -> None:
            try:
                os.remove(os.path.join(base, rel))
            except FileNotFoundError:
                pass

        sc.parallelize(tombstones, max(1, len(tombstones) // 64)).foreach(_rm)
    else:
        # non-locally-mapped stores delete through the seam (fsspec
        # backends batch/parallelize internally; the tombstone list is
        # metadata-sized either way)
        for rel in tombstones:
            try:
                store.delete(os.path.join(table_path, rel))
            except FileNotFoundError:
                pass
    return None


# actions per checkpoint part file; a 10M-file table then checkpoints
# as ~20 bounded parquet parts instead of one multi-GB file
_CHECKPOINT_PART_ROWS = 500_000


def create_checkpoint(
    path: str, version: Optional[int] = None, format: Optional[str] = None
) -> str:
    """Write a protocol checkpoint parquet for `version` (default:
    latest) plus `_last_checkpoint`, so future replays start from the
    checkpoint instead of the full JSON history (the log-replay
    acceleration the reference inherits from delta-rs; SURVEY.md §4).

    ``format`` (default: the table's ``delta.checkpointPolicy``
    property, i.e. ``classic`` unless ``enable_v2_checkpoints`` ran):
    ``"classic"`` writes the single/multi-part shape; ``"v2"`` writes
    the v2Checkpoint shape — a BOUNDED manifest
    (``V.checkpoint.<uuid>.parquet``: protocol/metaData/domain/txn +
    ``checkpointMetadata`` + ``sidecar`` refs) with the add/remove
    bulk in independently-readable ``_sidecars/`` parquet files. At
    the 10M-file scale the manifest stays KB-sized and a distributed
    replayer fans the sidecar reads out. v2 checkpoints are written
    INCREMENTALLY: sidecars of the previous v2 checkpoint whose every
    row is an add still describing a live file identically are
    referenced VERBATIM by the new manifest (``_reusable_sidecars``),
    so an append-mostly table's checkpoint writes O(changed files),
    not O(table) — the capability sidecars exist for."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_deltalake_spark.delta import checkpoint as ckpt

    table_path = str(path).rstrip("/")
    log = DeltaLog(table_path)
    if version is not None:
        classic = log.versions()
        if not classic or version > classic[-1]:
            # A checkpoint is a claim that the CLASSIC log reaches
            # `version`; labeling classic-latest state with a higher
            # (e.g. staged-only, deferred-backfill) version would make
            # later replays anchor on it and silently drop every
            # commit between the classic latest and `version` —
            # data-loss-class corruption. Latest (version=None)
            # staged-merged checkpoints are fine: their STATE matches
            # their label.
            raise ValueError(
                f"Cannot checkpoint {table_path} at version {version}: "
                f"the classic log only reaches "
                f"{classic[-1] if classic else 'no commits'} "
                "(is this a staged-only coordinated-commit version? "
                "run backfill_commits first)"
            )
    snap = log.snapshot(version=version)

    # the FULL (path, dvId)-keyed tombstone set: superseded-vector
    # removes whose path is live again must survive a
    # checkpoint-anchored replay or their bins lose retention
    # protection the moment a checkpoint lands. EXPIRED tombstones
    # (older than delta.deletedFileRetentionDuration) are dropped
    # here, exactly as delta-spark's checkpoint does — that is what
    # bounds checkpoint size on a long-lived merge-on-read table
    # (every MoR update retires a vector; without expiry the keyed
    # set grows monotonically forever). The trade is delta-spark's
    # too, stated honestly: once a tombstone expires out of a
    # checkpoint, (a) a LATER vacuum called with a retention window
    # longer than the table property falls back to file mtime for
    # that file, i.e. the property is the effective ceiling on
    # logical-deletion-time protection, and (b) VACUUM LITE (whose
    # only candidate source is the tombstone set) will no longer see
    # the file — full/inventory modes still reclaim it by mtime.
    # Unknown (0) timestamps are kept, conservatively.
    _tomb_cutoff = now_ms() - int(
        _configured_retention_hours(snap.metadata.configuration)
        * 3600
        * 1000
    )
    # Expiry stays STRICTLY less-than while vacuum's candidate cutoff
    # is inclusive — a DELIBERATE 1 ms asymmetry, each side erring
    # toward safety at the exact boundary: vacuum reclaim-eager
    # (age == retention is 'older than the window', the retention-0
    # intent), expiry retain-conservative (a tombstone at exactly the
    # boundary survives one more checkpoint rather than losing the
    # (path, dvId) identity a replay may still need). Do NOT 'fix'
    # this to inclusive: dropping at the boundary is the dangerous
    # direction. The shared _configured_retention_hours ladder keeps
    # the WINDOW identical; only the boundary millisecond differs.
    # Backfill tombstones missing partitionValues/size from the live
    # add (snap.files): a superseded-VECTOR remove's path is live
    # again under a new dvId, so the live add describes the SAME
    # physical parquet file — its partitionValues and size are the
    # removed entry's by construction. Backfilling at checkpoint time lets such a
    # tombstone (e.g. a tags-only replay-archive remove parsed from a
    # pre-r12 checkpoint) legitimately claim extendedFileMetadata, so
    # a strict foreign engine re-serializing our checkpoint keeps its
    # tags instead of dropping un-gated fields (ADVICE r12).
    adds = snap.add_actions
    removes = []
    for r in snap.tombstones_all:
        if r.deletion_timestamp and r.deletion_timestamp < _tomb_cutoff:
            continue
        if (r.partition_values is None or r.size is None) and (
            r.path in snap.files
        ):
            _a = snap.files[r.path]
            r = dataclasses.replace(
                r,
                partition_values=(
                    r.partition_values
                    if r.partition_values is not None
                    else dict(_a.partition_values)
                ),
                size=r.size if r.size is not None else _a.size,
            )
        removes.append(r)
    # one checkpoint row per action; the non-file actions go first
    # (protocol, metaData) and last (domainMetadata, txn) in the
    # classic layout and make up the whole v2 manifest
    meta_segments = [
        ("protocol", ckpt.encode_protocol(snap.protocol)),
        ("metaData", ckpt.encode_metadata(snap.metadata)),
        ("domainMetadata", ckpt.encode_domains(snap.domain_metadata)),
        ("txn", ckpt.encode_txns(snap.transactions)),
    ]
    n_rows = (
        2 + len(adds) + len(removes)
        + len(snap.domain_metadata) + len(snap.transactions)
    )

    # Multi-part checkpoints (the spec's %020d.checkpoint.%010d.%010d
    # naming) above _CHECKPOINT_PART_ROWS actions: at the 10M-file
    # scale a single checkpoint parquet becomes a multi-GB driver
    # write AND a single-reader bottleneck on replay — parts keep each
    # file bounded and let a distributed replayer read them in
    # parallel. _last_checkpoint carries `parts` per the spec; replay
    # (log.py:_load_checkpoint) reads either shape.
    def _put_parquet(t, path):
        # parquet bytes through the LogStore seam (checkpoints are
        # metadata-scale; buffering one part is bounded by
        # _CHECKPOINT_PART_ROWS)
        import io

        buf = io.BytesIO()
        pq.write_table(t, buf)
        log.store.write_bytes(path, buf.getvalue())

    policy = format or snap.metadata.configuration.get(
        "delta.checkpointPolicy", "classic"
    )
    if policy == "v2":
        # spec gate: a v2-shape checkpoint on a table that never
        # declared v2Checkpoint would be discovered by feature-unaware
        # readers and replayed as an EMPTY add-set (the bulk lives in
        # sidecars they don't know to read) — the protocol upgrade
        # must come first (enable_v2_checkpoints does both atomically)
        if "v2Checkpoint" not in (snap.protocol.reader_features or []):
            raise DeltaProtocolError(
                "v2 checkpoints require the v2Checkpoint table feature; "
                "run enable_v2_checkpoints(path) first."
            )
        import uuid as _uuid

        from dask_deltalake_spark.delta.log import SIDECAR_DIR

        sc_dir = os.path.join(table_path, LOG_DIR, SIDECAR_DIR)
        # INCREMENTAL checkpointing (the capability v2 sidecars exist
        # for): a sidecar from the PREVIOUS v2 checkpoint is reused
        # verbatim when every row in it is an add that still describes
        # a live file identically (same stats/DV/row-id fields) — at
        # the 10M-file scale most sidecars are untouched between
        # checkpoints, so each new checkpoint writes O(changed files),
        # not O(table). A sidecar containing any remove, or any add
        # that changed or died, is not reused; its surviving adds are
        # rewritten into the fresh sidecars below. GC stays correct:
        # a shared sidecar is referenced by both manifests and
        # _gc_orphan_sidecars keeps it until no retained manifest
        # points at it.
        sidecar_refs, covered = _reusable_sidecars(
            log, snap.version, snap.files
        )
        if covered:
            adds = [a for a in adds if a.path not in covered]
        data = ckpt.stack(
            ckpt.SIDECAR_FILE_SCHEMA,
            [
                ("add", ckpt.encode_adds(adds)),
                ("remove", ckpt.encode_removes(removes)),
            ],
        )
        n_parts = max(1, -(-data.num_rows // _CHECKPOINT_PART_ROWS))
        per = -(-max(1, data.num_rows) // n_parts)
        for i in range(n_parts):
            chunk = data.slice(i * per, per)
            if not chunk.num_rows and sidecar_refs:
                continue  # fully covered by reused sidecars
            sname = f"{_uuid.uuid4()}.parquet"
            sp = os.path.join(sc_dir, sname)
            _put_parquet(chunk, sp)
            sidecar_refs.append(
                {
                    "path": sname,
                    "sizeInBytes": log.store.size(sp),
                    "modificationTime": now_ms(),
                }
            )
        cp_path = os.path.join(
            table_path,
            LOG_DIR,
            f"{snap.version:020d}.checkpoint.{_uuid.uuid4()}.parquet",
        )
        _put_parquet(
            ckpt.stack(
                ckpt.MANIFEST_SCHEMA,
                meta_segments
                + [
                    (
                        "checkpointMetadata",
                        pa.array(
                            [{"version": snap.version}],
                            ckpt.CHECKPOINT_METADATA_TYPE,
                        ),
                    ),
                    ("sidecar", pa.array(sidecar_refs, ckpt.SIDECAR_TYPE)),
                ],
            ),
            cp_path,
        )
        log.store.write_bytes(
            os.path.join(table_path, LOG_DIR, "_last_checkpoint"),
            json.dumps({"version": snap.version, "size": n_rows}).encode(
                "utf-8"
            ),
        )
        return cp_path

    tbl = ckpt.stack(
        ckpt.CHECKPOINT_SCHEMA,
        meta_segments[:2]
        + [
            ("add", ckpt.encode_adds(adds)),
            ("remove", ckpt.encode_removes(removes)),
        ]
        + meta_segments[2:],
    )
    last = {"version": snap.version, "size": n_rows}
    if n_rows > _CHECKPOINT_PART_ROWS:
        n_parts = -(-n_rows // _CHECKPOINT_PART_ROWS)
        per = -(-tbl.num_rows // n_parts)
        cp_path = None
        for i in range(n_parts):
            part = tbl.slice(i * per, per)
            cp_path = os.path.join(
                table_path,
                LOG_DIR,
                f"{snap.version:020d}.checkpoint."
                f"{i + 1:010d}.{n_parts:010d}.parquet",
            )
            _put_parquet(part, cp_path)
        last["parts"] = n_parts
    else:
        cp_path = os.path.join(
            table_path, LOG_DIR, f"{snap.version:020d}.checkpoint.parquet"
        )
        _put_parquet(tbl, cp_path)
    log.store.write_bytes(
        os.path.join(table_path, LOG_DIR, "_last_checkpoint"),
        json.dumps(last).encode("utf-8"),
    )
    return cp_path

_ZORDER_BITS = 10  # 1024 buckets per dimension


def _zorder_bounds_from_stats(
    adds: list, cols: list[str], l2p: dict
) -> Optional[dict]:
    """Z-order bucketing bounds served from the candidate files' own
    min/max stats — zero Spark jobs — instead of a full scan of the
    rewrite scope (r16, guide §1.2: remove whole passes first). Valid
    because numeric file stats are exact footer min/max over the
    file's rows, and bounds only shape ``width_bucket`` granularity:
    a bound that is merely not tighter than the data (e.g. rows since
    masked by a deletion vector) clamps identically. Returns None —
    caller falls back to the aggregation pass — when any candidate
    lacks usable stats for any column (missing stats JSON, stats
    dropped by indexed-column config, non-numeric encoding), or when
    every file is all-null for a column (parity with the agg path's
    NULL result). All-null FILES contribute nothing, like F.min/max.
    Stats are keyed by PHYSICAL names on mapped tables (``l2p``)."""
    lo: dict = {c: None for c in cols}
    hi: dict = {c: None for c in cols}
    for a in adds:
        if not a.stats:
            return None
        try:
            s = json.loads(a.stats)
        except (TypeError, ValueError):
            return None
        mv = s.get("minValues") or {}
        xv = s.get("maxValues") or {}
        nr = s.get("numRecords")
        nc = s.get("nullCount") or {}
        for c in cols:
            p = l2p.get(c, c)
            if p in mv and p in xv:
                try:
                    fmn, fmx = float(mv[p]), float(xv[p])
                except (TypeError, ValueError):
                    return None
                lo[c] = fmn if lo[c] is None else min(lo[c], fmn)
                hi[c] = fmx if hi[c] is None else max(hi[c], fmx)
            elif nr is not None and nc.get(p) == nr:
                continue  # all-null file: no contribution, like F.min
            else:
                return None
    if any(lo[c] is None or hi[c] is None for c in cols):
        return None
    return {c: (lo[c], hi[c]) for c in cols}


def _murmur3_int32(v: int, seed: int = 42) -> int:
    """Spark's Murmur3 32-bit hash of one IntegerType value (the
    ``Murmur3Hash`` expression / ``HashPartitioning`` arithmetic,
    ``Murmur3_x86_32.hashInt`` with Spark's seed 42) — replicated
    driver-side so ``_zorder_range_tokens`` can pick literal ints
    whose hash partitions are DISTINCT without running a probe job.
    Pinned against ``F.hash`` in tests/test_zorder.py. Returns the
    signed 32-bit value Spark's expression produces."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k = (v & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF
    k = rotl(k, 15)
    k = k * 0x1B873593 & 0xFFFFFFFF
    h = (seed ^ k) & 0xFFFFFFFF
    h = rotl(h, 13)
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # total bytes hashed (one int)
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _murmur3_int32_np(arr):
    """Vectorized :func:`_murmur3_int32` over a numpy int array —
    bit-identical by construction (same constants, same uint32
    arithmetic; pinned against the scalar replica in
    tests/test_zorder.py). Exists so the >512-range token search
    (coupon-collector over n_out partition ids) costs milliseconds
    instead of seconds of scalar Python murmur."""
    import numpy as np

    with np.errstate(over="ignore"):
        k = (arr.astype(np.uint32) * np.uint32(0xCC9E2D51)).astype(np.uint32)
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = (k * np.uint32(0x1B873593)).astype(np.uint32)
        h = np.uint32(42) ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = (h * np.uint32(5) + np.uint32(0xE6546B64)).astype(np.uint32)
        h ^= np.uint32(4)
        h ^= h >> np.uint32(16)
        h = (h * np.uint32(0x85EBCA6B)).astype(np.uint32)
        h ^= h >> np.uint32(13)
        h = (h * np.uint32(0xC2B2AE35)).astype(np.uint32)
        h ^= h >> np.uint32(16)
    return h.astype(np.int64) - (h.astype(np.int64) >> 31 << 32)


def _zorder_range_tokens_np(
    n_ranges: int, n_partitions: int
) -> Optional[list]:
    """:func:`_zorder_range_tokens` at scale: the same greedy
    first-token-per-partition-id search, murmur evaluated in
    vectorized chunks. Used by the >512-range UDF placement path
    (r17); returns the same tokens the scalar search would (both scan
    t = 0,1,2,... in order and keep the first token per pid)."""
    import numpy as np

    if n_ranges > n_partitions:
        return None
    used: set = set()
    toks: list = []
    limit = 128 * max(n_partitions, 1)
    t = 0
    chunk = 65536
    while len(toks) < n_ranges and t < limit:
        hi = min(t + chunk, limit)
        cand = np.arange(t, hi, dtype=np.int64)
        pids = _murmur3_int32_np(cand) % np.int64(n_partitions)
        for tok, pid in zip(cand.tolist(), pids.tolist()):
            if pid not in used:
                used.add(pid)
                toks.append(tok)
                if len(toks) == n_ranges:
                    break
        t = hi
    return toks if len(toks) == n_ranges else None


def _zorder_range_tokens(n_ranges: int, n_partitions: int) -> Optional[list]:
    """Literal int tokens, one per contiguous z-range, whose
    ``pmod(murmur3(token), n_partitions)`` values are pairwise
    DISTINCT — so hash-repartitioning on the token places every
    z-range in its own shuffle partition (→ its own output file,
    preserving the per-file z-contiguity range partitioning gives)
    without the range exchange's full-row sampling job. Greedy search
    over small ints; returns None when it cannot establish
    injectivity (caller falls back to ``repartitionByRange``)."""
    if n_ranges > n_partitions:
        return None
    used: set = set()
    toks: list = []
    t = 0
    limit = 128 * max(n_partitions, 1)
    while len(toks) < n_ranges and t < limit:
        pid = _murmur3_int32(t) % n_partitions
        if pid not in used:
            used.add(pid)
            toks.append(t)
        t += 1
    return toks if len(toks) == n_ranges else None


def _zorder_quantile_partition(
    dfz, n_out: int, n_rows: Optional[int] = None, scope_bytes: int = 0
):
    """Partition-token column for the z-order shuffle, derived from
    approximate z-quantiles instead of the range exchange's sampling
    pass (r16, guide §2.3 "shuffle fewer bytes" / §1.2 "remove whole
    passes"): ``repartitionByRange`` launches a sampling job that
    materializes the exchange child's FULL rows (every column decoded,
    deletion vectors applied) just to read the sort key, while the
    boundaries only need the z column — ``approxQuantile`` over
    ``select("__z")`` is a column-pruned scan of the z-order columns
    alone, orders of magnitude fewer bytes on wide tables. Boundaries
    shape only row→file placement (file contents stay z-contiguous
    and z-sorted via the per-range token + sortWithinPartitions), so
    a quantile estimate no better than the sampler's is equally
    correct; near-equal-frequency boundaries match the range
    exchange's balance target. Returns None — caller keeps the
    sampling path — when the env gate is off, n_out < 2, the quantile
    probe yields no usable boundaries, or injective hash tokens
    cannot be found."""
    import pyspark.sql.functions as F

    if os.environ.get("SPARK_GRAFT_ZORDER_QUANTILE_PARTITION", "1") != "1":
        return None
    # Byte cutover, the footer-harvest / deep-clone / listing idiom:
    # the quantile probe is one extra eager action (~0.3-0.5 s fixed),
    # while the sampling job it replaces costs ~nothing on a
    # KB-MB-scale scope — but materializes EVERY column of EVERY row
    # on a large one. Below the threshold the sampling exchange is
    # cheaper (measured +0.5-1.3 s per bench-scale OPTIMIZE when
    # forced); above it the narrow pass wins by the scope's full-row
    # decode cost. The breakeven is scope-size-bound, not
    # core-count-bound.
    try:
        min_bytes = int(
            os.environ.get(
                "SPARK_GRAFT_ZORDER_QUANTILE_MIN_BYTES",
                str(256 * 1024 * 1024),
            )
        )
    except ValueError:
        # a malformed env override must degrade to the documented
        # strict fallback (sampling exchange), never crash the
        # OPTIMIZE (ADVICE r16)
        min_bytes = 256 * 1024 * 1024
    if scope_bytes < min_bytes:
        return None
    # the comparison tree is O(n_out) expression nodes — right for the
    # bounded file counts a scoped/partition-local OPTIMIZE produces,
    # wrong for a monolithic petabyte rewrite; PAST the tree cap the
    # lookup switches to a broadcast sorted-boundary binary search
    # (np.searchsorted inside a vectorized pandas UDF over the pruned
    # __z — O(log n_out) per row, O(1) plan nodes; r17, VERDICT r16
    # #2) up to a second cap where the GK sketch's flat 1e-4 error
    # stops resolving distinct boundaries (boundary placement degrades
    # toward the sketch's resolution ~1/eps ≈ 10k ranges; balance
    # only, never content) — beyond THAT the range exchange's sampling
    # job is the remaining tool and its cost amortizes over the data
    # volume that implies it.
    try:
        max_ranges = int(
            os.environ.get("SPARK_GRAFT_ZORDER_QUANTILE_MAX_RANGES", "512")
        )
    except ValueError:
        max_ranges = 512  # same rationale as min_bytes above (ADVICE r16)
    try:
        udf_max_ranges = int(
            os.environ.get(
                "SPARK_GRAFT_ZORDER_QUANTILE_UDF_MAX_RANGES", "8192"
            )
        )
    except ValueError:
        udf_max_ranges = 8192
    if n_out < 2 or n_out > max(max_ranges, udf_max_ranges):
        return None
    try:
        probe = dfz.select("__z")
        # two-level estimator, the RangePartitioner's own shape but on
        # the PRUNED column: a deterministic Bernoulli sample of ~500
        # rows per output range (exact at small scale where the
        # fraction saturates at 1.0; sampler-class accuracy beyond),
        # then a GK quantile sketch at a flat 1e-4 error — a tighter
        # error makes the sketch itself the cost (measured 2.1 s at
        # 8e-5 over 600k rows vs 0.4-0.6 s here), while boundary
        # misplacement stays ≤ n_out·1e-4 of a range's mass on top of
        # the sample noise. n_rows comes from the candidate adds'
        # numRecords stats (driver metadata, no job).
        if n_rows and n_rows > 0:
            frac = min(1.0, (500.0 * n_out) / float(n_rows))
            if frac < 1.0:
                probe = probe.sample(fraction=frac, seed=42)
        probs = [i / n_out for i in range(1, n_out)]
        bnds = probe.approxQuantile("__z", probs, 1e-4)
    except Exception:
        return None
    bnds = sorted(set(b for b in bnds if b is not None))
    if not bnds:
        return None
    if n_out > max_ranges:
        # broadcast-boundary binary search: same rank semantics as the
        # comparison tree below (rank r ⇔ bnds[r-1] < z <= bnds[r],
        # i.e. the first boundary >= z — searchsorted side='left'),
        # same injective token placement, NULL z to range 0. The
        # boundaries and tokens ride the UDF closure (≤ ~128 KB at the
        # 8192-range default) — broadcast once per executor, O(log n)
        # per row in native numpy.
        toks = _zorder_range_tokens_np(len(bnds) + 1, n_out)
        if toks is None:
            return None
        try:
            import numpy as np
            from pyspark.sql.functions import pandas_udf

            b_arr = np.asarray(bnds, dtype=np.float64)
            t_arr = np.asarray(toks, dtype=np.int64)
            tok0 = int(toks[0])

            @pandas_udf("int")
            def _z_range_token(z):
                import numpy as _np
                import pandas as _pd

                mask = z.isna()
                vals = z.fillna(0).to_numpy(dtype=_np.float64)
                ranks = _np.searchsorted(b_arr, vals, side="left")
                out = t_arr[ranks]
                if mask.any():
                    out = out.copy()
                    out[mask.to_numpy()] = tok0
                return _pd.Series(out.astype(_np.int32))

            return _z_range_token(F.col("__z"))
        except ImportError as e:
            # pandas UDFs need pandas + pyarrow on the driver: without
            # them the placement falls back to the sampling exchange
            # (same content, slower shuffle) — said once, not silently
            _log.warning(
                "z-order UDF range placement unavailable (%s); "
                "OPTIMIZE falls back to the sampling range exchange",
                e,
            )
            return None
    toks = _zorder_range_tokens(len(bnds) + 1, n_out)
    if toks is None:
        return None
    zc = F.col("__z")

    def tree(lo: int, hi: int):
        # balanced comparison tree over boundary indices: decides
        # ranks in [lo, hi] (rank r = count of boundaries < z is
        # immaterial — any consistent binning is a valid placement)
        if lo == hi:
            return F.lit(toks[lo])
        mid = (lo + hi) // 2
        return F.when(zc <= F.lit(float(bnds[mid])), tree(lo, mid)).otherwise(
            tree(mid + 1, hi)
        )

    # NULL z (a NULL z-order cell) compares false at every node and
    # would fall to the highest range; route it to range 0 explicitly
    # (the range exchange's nulls-first placement) — placement only,
    # never row content
    return F.when(zc.isNull(), F.lit(toks[0])).otherwise(
        tree(0, len(bnds))
    )


def _zorder_value(df, cols: list[str], bounds: dict):
    """Interleaved-bit z-value over width_bucket ranks of numeric
    columns — rows close in every dimension get close z-values, so a
    range partition on z gives every file a tight min/max range on
    EVERY z-order column simultaneously (multi-dimensional data
    skipping, delta's OPTIMIZE ZORDER BY)."""
    import pyspark.sql.functions as F

    n_buckets = 1 << _ZORDER_BITS
    buckets = []
    for c in cols:
        lo, hi = bounds[c]
        b = F.width_bucket(
            F.col(c).cast("double"),
            F.lit(float(lo)),
            F.lit(float(hi) + 1e-9),
            F.lit(n_buckets),
        ) - 1
        buckets.append(F.greatest(F.lit(0), F.least(b, F.lit(n_buckets - 1))))
    z = F.lit(0).cast("long")
    for bit in range(_ZORDER_BITS):
        for i, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)).cast("long"),
                    bit * len(buckets) + i,
                )
            )
    return z


def optimize(
    path: str,
    target_file_size: int = 128 * 1024 * 1024,
    zorder_by: Optional[list[str]] = None,
    spark: Optional[SparkSession] = None,
    where: Optional[list] = None,
    min_file_size: Optional[int] = None,
) -> dict:
    """Bin-packing compaction (delta-spark OPTIMIZE analog), optionally
    Z-ORDER clustered.

    Rewrites the table's current files into ~target_file_size outputs
    per partition and commits add+remove with ``dataChange=false`` in
    one atomic commit. Scale rationale: scan planning and task
    scheduling cost O(#files); compaction after many small appends is
    what keeps a 100 TB table scannable.

    With ``zorder_by`` (numeric columns), rows are range-partitioned on
    an interleaved-bit z-value so each output file covers a tight
    min/max range on every listed column — per-file stats then skip
    files for predicates on ANY of them, not just the first sort key.

    ``where`` (delta-spark ``OPTIMIZE tbl WHERE ...``): a DNF filter
    over PARTITION columns only (reference filter syntax), scoping the
    rewrite to the matching partitions — the steady-state maintenance
    shape at 100 TB, where a full-table OPTIMIZE after every ingest
    window would rewrite petabytes to compact one day's partition.
    Partition predicates prune EXACTLY (each file's partitionValues
    are literals), so the scoped rewrite reads precisely the files it
    tombstones; predicates on non-partition columns are refused (the
    delta-spark contract) because row-level scoping could not keep
    ``dataChange=false`` honest. Untouched partitions keep their
    files; the concurrency retry tolerates concurrent appends
    anywhere, aborting only if a winner removed a file this OPTIMIZE
    is compacting.

    ``min_file_size`` (delta-spark's OPTIMIZE candidate bound,
    ``optimize.minFileSize``): only files strictly below the bound
    are compacted — files already at/above it are neither read nor
    tombstoned, so repeated OPTIMIZE runs on a growing table cost
    O(small-file bytes), not O(table). Fewer than two candidates is a
    no-op. On row-tracked tables the bound is ignored (the
    id-preserving read path is scope-wide) — the whole scope
    rewrites, as before."""
    import pyspark.sql.functions as F

    from dask_deltalake_spark.delta.reader import read_delta, snapshot_schema

    spark = spark or SparkSession.getActiveSession()
    table_path = str(path).rstrip("/")
    log = DeltaLog(table_path)
    snap = log.snapshot()
    # compaction READS data files; vacuum/restore stay ungated (pure
    # metadata + file deletion — no data interpretation). Deletion
    # vectors are claimed because the rewrite reads THROUGH read_delta,
    # which applies them — so OPTIMIZE doubles as the vector PURGE:
    # compacted output files are clean, old files and their vectors
    # are tombstoned, and the logical content is unchanged (which is
    # what keeps dataChange=false honest). Column-mapped tables
    # rewrite under PHYSICAL names (rename applied below, the same
    # contract as every other write path).
    check_read_protocol(
        snap.protocol,
        metadata=snap.metadata,
        features={"deletionVectors", "columnMapping"},
    )
    # writer-feature gate: compaction MAINTAINS row tracking by
    # materializing each row's original id/commit-version into the
    # table's hidden columns before the rewrite (readers prefer those
    # over baseRowId + position — delta/rowtracking.py), so the
    # features are declared here; rewrite paths that cannot do this
    # (DML) refuse instead.
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        features={"columnMapping", "deletionVectors", "generatedColumns",
                  "identityColumns", "rowTracking", "domainMetadata",
                  "clustering",
                  # dataChange=false commits are invisible to CDF by
                  # spec, so OPTIMIZE maintains the feature for free
                  "changeDataFeed"},
    )
    partition_by = list(snap.metadata.partition_columns)

    # Clustered tables (delta/clustering.py): OPTIMIZE without an
    # explicit zorder_by clusters by the table's declared clustering
    # columns — that IS the clustered-table maintenance contract
    # (ingest free-form, cluster in the background).
    if not zorder_by:
        from dask_deltalake_spark.delta.clustering import (
            clustering_columns,
        )

        zorder_by = clustering_columns(snap)

    from dask_deltalake_spark.delta.protocol import (
        column_mapping_mode,
        normalize_dnf,
        prune_partitions,
    )

    target_adds = snap.add_actions
    where_dnf = None
    if where is not None:
        where_dnf = normalize_dnf(where)
        referenced = {c for conj in where_dnf for (c, _op, _v) in conj}
        non_part = sorted(referenced - set(partition_by))
        if non_part:
            raise ValueError(
                f"optimize(where=): predicate references non-partition "
                f"columns {non_part}; OPTIMIZE WHERE supports partition "
                "predicates only."
            )
        prune_dnf = where_dnf
        if column_mapping_mode(snap.metadata) != "none":
            from dask_deltalake_spark.delta.column_mapping import (
                logical_to_physical,
                translate_dnf,
            )

            prune_dnf = translate_dnf(
                where_dnf, logical_to_physical(snapshot_schema(snap))
            )
        # exact for partition-only predicates: each file's
        # partitionValues are literals, so the predicate decides
        # every file definitively — the scoped read below (same
        # filter through read_delta) sees exactly these files' rows
        target_adds = prune_partitions(target_adds, prune_dnf)

    from dask_deltalake_spark.delta.rowtracking import (
        assign_base_row_ids,
        materialized_column_names,
        row_id_high_water_mark,
        row_tracking_enabled,
    )

    # min_file_size (delta-spark's OPTIMIZE candidate cut, the knob
    # auto-compact rides): only files BELOW the bound are rewritten;
    # already-compacted large files stay untouched instead of being
    # re-read and re-written on every trigger. Row-tracked tables
    # rewrite the whole scope regardless (the id-materializing read
    # path is scope-wide; documented in _maybe_auto_compact) — and
    # compacting fewer than 2 candidates is a no-op by definition.
    if min_file_size is not None and not row_tracking_enabled(snap.metadata):
        target_adds = [a for a in target_adds if a.size < min_file_size]
        if len(target_adds) < 2:
            return {
                "numFilesAdded": 0,
                "numFilesRemoved": 0,
                "version": snap.version,
            }
    if not target_adds:
        return {
            "numFilesAdded": 0,
            "numFilesRemoved": 0,
            "version": snap.version,
        }
    subset = len(target_adds) < len(snap.add_actions)

    old_paths = [a.path for a in target_adds]
    total_bytes = sum(a.size for a in target_adds)
    n_out = max(1, round(total_bytes / target_file_size))

    _rt = row_tracking_enabled(snap.metadata)
    if _rt:
        rid_col, rcv_col = materialized_column_names(snap.metadata)
        if not (rid_col and rcv_col):
            raise DeltaProtocolError(
                "Row-tracked table without materialized-column names in "
                "its configuration; cannot preserve ids through OPTIMIZE."
            )
        df = (
            read_delta(
                table_path, spark=spark, with_row_ids=True, filter=where
            )
            .withColumnRenamed("_row_id", rid_col)
            .withColumnRenamed("_row_commit_version", rcv_col)
        )
    elif subset:
        # the candidate set is a strict subset (min_file_size cut or
        # where-scope): read EXACTLY those files so untouched files'
        # rows never enter the rewrite — the same logical-row reader
        # the DML paths use (column-mapped rename included). Candidates
        # carrying deletion vectors are filtered through their DVs
        # (exactly as reorg_purge does): without this, compacting a
        # DV'd file — e.g. autoCompact right after a merge-on-read
        # DELETE — would resurrect its deleted rows into the output
        # while the DV itself is tombstoned, under a dataChange=false
        # commit that CDC/streaming readers skip. delta-spark applies
        # DVs during OPTIMIZE reads; so do we.
        # r11: _read_files itself applies DVs in this mode (and
        # refuses foreign-root DV'd adds its keep-predicate could not
        # key) — the previous local keep-filter copy is gone, so the
        # OPTIMIZE and DML read paths can never drift.
        from dask_deltalake_spark.delta.mutate import _read_files

        df = _read_files(spark, snap, target_adds, snapshot_schema(snap))
    else:
        df = read_delta(table_path, spark=spark)
    if zorder_by:
        missing = [c for c in zorder_by if c not in df.columns]
        if missing:
            raise ValueError(f"zorder_by columns not in table: {missing}")
        from pyspark.sql.types import NumericType

        numeric = all(
            isinstance(df.schema[c].dataType, NumericType) for c in zorder_by
        )
        if numeric:
            _l2p_stats: dict = {}
            if column_mapping_mode(snap.metadata) != "none":
                from dask_deltalake_spark.delta.column_mapping import (
                    logical_to_physical,
                )

                _l2p_stats = logical_to_physical(snapshot_schema(snap))
            bounds = _zorder_bounds_from_stats(
                target_adds, zorder_by, _l2p_stats
            )
            if bounds is None:
                row = df.agg(
                    *[F.min(c).alias(f"mn_{c}") for c in zorder_by],
                    *[F.max(c).alias(f"mx_{c}") for c in zorder_by],
                ).first()
                bounds = {
                    c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in zorder_by
                }
            z = _zorder_value(df, zorder_by, bounds)
            df = df.withColumn("__z", z)
            # quantile-derived range tokens replace the range
            # exchange's sampling job (which materializes FULL rows
            # of the rewrite scope just to read __z) with a
            # column-pruned quantile pass; per-file z-contiguity and
            # the z sort are preserved, so skipping stats are as
            # tight. Strict fallback to repartitionByRange whenever
            # the tokens cannot be established.
            _n_rows = 0
            for _a in target_adds:
                try:
                    _n_rows += int(json.loads(_a.stats)["numRecords"])
                except (TypeError, ValueError, KeyError):
                    _n_rows = 0
                    break
                # numRecords is the PHYSICAL row count; rows hidden by
                # a deletion vector never reach the probe, so subtract
                # the DV cardinality to keep the ~500-rows-per-range
                # sample fraction calibrated on heavily-DV'd scopes
                # (ADVICE r16 — placement quality only, never content)
                _dv = getattr(_a, "deletion_vector", None)
                if _dv:
                    try:
                        _n_rows -= int(_dv.get("cardinality", 0))
                    except (TypeError, ValueError):
                        pass
            # __z is a LongType of _ZORDER_BITS bits per z-order column;
            # approxQuantile boundaries are doubles, so past 53 bits
            # distinct long quantiles can collapse to equal doubles and
            # coarsen placement — keep the range exchange (whose
            # RangePartitioner compares longs) beyond double precision
            # (ADVICE r16)
            part = (
                _zorder_quantile_partition(
                    df, n_out, max(_n_rows, 0) or None,
                    scope_bytes=total_bytes,
                )
                if _ZORDER_BITS * len(zorder_by) <= 53
                else None
            )
            if part is not None:
                df = (
                    df.withColumn("__zp", part)
                    .repartition(n_out, "__zp")
                    .sortWithinPartitions("__z")
                    .drop("__z", "__zp")
                )
            else:
                df = (
                    df.repartitionByRange(n_out, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
        else:
            # non-numeric clustering columns: hierarchical range-sort
            # clustering (lexicographic) — files still get tight
            # min/max ranges, leading columns tightest; the
            # interleaved-bit path needs numeric width_bucket ranks
            df = df.repartitionByRange(
                n_out, *zorder_by
            ).sortWithinPartitions(*zorder_by)
    elif partition_by:
        df = df.repartition(n_out, *partition_by)
    else:
        df = df.repartition(n_out)

    if column_mapping_mode(snap.metadata) != "none":
        from dask_deltalake_spark.delta.column_mapping import (
            logical_to_physical,
        )
        from dask_deltalake_spark.delta.reader import snapshot_schema

        l2p = logical_to_physical(snapshot_schema(snap))
        df = df.toDF(*[l2p.get(c, c) for c in df.columns])
        partition_by = [l2p.get(c, c) for c in partition_by]

    from dask_deltalake_spark.delta.protocol import stats_spec_for

    _stats_spec = stats_spec_for(snap)
    data_root = log.store.local_path(table_path)
    if data_root is not None:
        from dask_deltalake_spark.delta.writer import run_partition_write

        add_rows = run_partition_write(
            df, data_root, partition_by, stats_spec=_stats_spec
        )
    else:
        # no local mapping (object store): the JVM-native write path
        # stages through Hadoop FS / the store's spark_path mapping and
        # renames into the table through the LogStore seam — the same
        # split to_delta(engine="native") uses (writer.py). Closes the
        # r6 S16 gap: OPTIMIZE (and thereby DV purge) works on
        # pure-seam tables.
        from dask_deltalake_spark.delta.writer import _write_files_native

        add_rows = _write_files_native(
            df, table_path, partition_by, stats_spec=_stats_spec
        )

    ts = now_ms()
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "targetSize": str(target_file_size),
                    "zOrderBy": json.dumps(list(zorder_by or [])),
                    "predicate": json.dumps(
                        [[list(t) for t in conj] for conj in where_dnf],
                        default=str,
                    )
                    if where_dnf
                    else "[]",
                },
                "readVersion": snap.version,
                "isBlindAppend": False,
                "operationMetrics": {
                    "numRemovedFiles": str(len(old_paths)),
                    "numAddedFiles": str(len(add_rows)),
                },
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        }
    ]
    compacted = [
        AddAction(
            path=r.path,
            size=r.size,
            partition_values=json.loads(r.partition_json),
            modification_time=ts,
            data_change=False,
            stats=r.stats,
        )
        for r in add_rows
    ]
    if _rt:
        # compacted files still get FRESH baseRowId ranges (spec
        # invariant: every add on a tracked table carries one) — but
        # every row's MATERIALIZED id wins at read time, so ids are
        # stable through the rewrite; the mark advances in this commit
        actions.append(
            assign_base_row_ids(
                compacted,
                [r.num_records for r in add_rows],
                row_id_high_water_mark(snap),
                snap.version + 1,
            )
        )
    actions.extend(a.to_json() for a in compacted)
    for a in target_adds:
        actions.append(
            RemoveAction(
                path=a.path,
                deletion_timestamp=ts,
                data_change=False,
                deletion_vector=a.deletion_vector,
                partition_values=a.partition_values,
                size=a.size,
            ).to_json()
        )
    # Concurrency: background compaction racing live APPENDS is the
    # production steady state (streaming sink + maintenance job), so a
    # lost commit race retries — a dataChange=false compaction only
    # touches the files it read, so it is safe at the next version iff
    # the winners (a) changed no metadata/protocol, (b) removed none
    # of the files this compaction rewrites (delta-spark's
    # ConcurrentDeleteRead), and (c) on a row-tracked table, did not
    # advance the row-id mark (our assigned ranges would be stale).
    old_set = set(old_paths)
    commit_version = snap.version + 1
    attempt = 0
    while True:
        try:
            write_commit(table_path, commit_version, actions)
            break
        except ConcurrentCommitError:
            if attempt >= 10:
                raise
            attempt += 1
            snap2 = log.snapshot()
            for wv in range(commit_version, snap2.version + 1):
                # _any: a winner on a coordinated table may still be
                # staged-only (deferred backfill)
                for wa in log.read_commit_actions_any(
                    wv, metadata=snap2.metadata
                ):
                    if "metaData" in wa or "protocol" in wa:
                        raise ConcurrentCommitError(
                            "Concurrent commit changed table metadata/"
                            "protocol; the pending OPTIMIZE is aborted."
                        )
                    if (
                        "remove" in wa
                        and wa["remove"].get("path") in old_set
                    ):
                        raise ConcurrentCommitError(
                            "Concurrent commit removed a file this "
                            "OPTIMIZE was compacting; aborted "
                            "(re-run to compact the current files)."
                        )
                    if _rt and "domainMetadata" in wa:
                        raise ConcurrentCommitError(
                            "Concurrent commit advanced the row-id "
                            "high water mark; the pending OPTIMIZE's "
                            "assigned ranges are stale — re-run."
                        )
            actions[0]["commitInfo"]["readVersion"] = snap2.version
            commit_version = snap2.version + 1
    return {
        "numFilesAdded": len(add_rows),
        "numFilesRemoved": len(old_paths),
        "version": commit_version,
    }


def restore(
    path: str,
    version: Optional[int] = None,
    spark: Optional[SparkSession] = None,
    timestamp: Optional[str] = None,
) -> dict:
    """RESTORE the table to a previous version (delta-spark
    `RESTORE TABLE ... TO VERSION AS OF` analog): one metadata-only
    commit that re-adds the target snapshot's files and removes the
    files added since. No data is read or written — the restored
    version's files must still exist (i.e. not vacuumed away).
    ``timestamp=`` instead of ``version=`` is `TO TIMESTAMP AS OF`:
    the version is resolved with the same ICT-aware datetime rule as
    time-travel reads (last commit at or before the instant).
    """
    table_path = str(path).rstrip("/")
    log = DeltaLog(table_path)
    if (version is None) == (timestamp is None):
        raise ValueError(
            "restore: pass exactly one of version= or timestamp=."
        )
    if version is None:
        version = log.resolve_datetime(timestamp)
    cur = log.snapshot()
    if version == cur.version:
        return {"version": cur.version, "numFilesAdded": 0, "numFilesRemoved": 0}
    # writer-feature gate: RESTORE rewrites table STATE, so it must
    # understand every declared feature's state invariants. The listed
    # features are restore-safe by construction: re-added files keep
    # their baseRowId/identity values and the high water marks (domain
    # metadata / txn) are monotonic — deliberately NOT reverted.
    check_write_protocol(
        cur.protocol,
        metadata=cur.metadata,
        features={
            # changeDataFeed: a RESTORE's remove/add sets are disjoint
            # WHOLE files, so the spec's no-cdc reconstruction (adds =
            # inserts, removes = deletes) is row-exact — delta-spark
            # reports restores the same way
            "changeDataFeed",
            "columnMapping",
            "deletionVectors",
            "generatedColumns",
            "identityColumns",
            "rowTracking",
            "domainMetadata",
            "clustering",
        },
    )
    target = log.snapshot(version=version)

    cur_by_path = {a.path: a for a in cur.add_actions}
    tgt_by_path = {a.path: a for a in target.add_actions}
    # a file present in BOTH versions still needs re-adding when its
    # DELETION VECTOR differs (a merge-on-read delete/update happened
    # in between) — comparing presence alone would leave the newer
    # vector in place and keep the restored rows dead
    re_adds = [
        a
        for p, a in tgt_by_path.items()
        if p not in cur_by_path
        or cur_by_path[p].deletion_vector != a.deletion_vector
    ]
    removes = [p for p in cur_by_path if p not in tgt_by_path]
    for a in re_adds:
        if not log.store.exists(os.path.join(table_path, a.path)):
            raise FileNotFoundError(
                f"Cannot RESTORE to version {version}: data file {a.path} "
                "no longer exists (vacuumed?)"
            )
        if a.deletion_vector and a.deletion_vector.get("storageType") == "u":
            from dask_deltalake_spark.delta.dv import dv_absolute_path

            if not log.store.exists(dv_absolute_path(table_path, a.deletion_vector)):
                raise FileNotFoundError(
                    f"Cannot RESTORE to version {version}: deletion-vector "
                    f"file for {a.path} no longer exists (vacuumed?)"
                )

    ts = now_ms()
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "RESTORE",
                "operationParameters": {"version": str(version)},
                "readVersion": cur.version,
                "isBlindAppend": False,
                "operationMetrics": {
                    "numRestoredFiles": str(len(re_adds)),
                    "numRemovedFiles": str(len(removes)),
                },
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        }
    ]
    if target.metadata.schema_string != cur.metadata.schema_string:
        # restoring across a schema change reinstates the old schema
        m = target.metadata
        from dask_deltalake_spark.delta.protocol import Metadata

        actions.append(
            Metadata(
                id=m.id,
                schema_string=m.schema_string,
                partition_columns=m.partition_columns,
                configuration=m.configuration,
                name=m.name,
                description=m.description,
                created_time=m.created_time,
            ).to_json()
        )
    for a in re_adds:
        actions.append(
            AddAction(
                path=a.path,
                size=a.size,
                partition_values=a.partition_values,
                modification_time=ts,
                data_change=True,
                stats=a.stats,
                # a re-added file keeps its tags (e.g. a foreign
                # OPTIMIZE's ZCube marker) — RESTORE reinstates state,
                # it does not launder metadata
                tags=a.tags,
                # the target version's vector state comes back with the
                # file (None wipes a newer vector, restoring its rows)
                deletion_vector=a.deletion_vector,
                # row tracking: a re-added file keeps the id range and
                # commit version it was originally assigned — the spec
                # requires EVERY add on a tracked table to carry them,
                # and reassigning would change stable row ids
                base_row_id=a.base_row_id,
                default_row_commit_version=a.default_row_commit_version,
            ).to_json()
        )
    for p in removes:
        actions.append(
            RemoveAction(
                path=p,
                deletion_timestamp=ts,
                data_change=True,
                deletion_vector=cur_by_path[p].deletion_vector,
                partition_values=cur_by_path[p].partition_values,
                size=cur_by_path[p].size,
            ).to_json()
        )
    write_commit(table_path, cur.version + 1, actions)
    return {
        "version": cur.version + 1,
        "numFilesAdded": len(re_adds),
        "numFilesRemoved": len(removes),
    }


_INTERVAL_UNIT_HOURS = {
    "week": 168.0,
    "day": 24.0,
    "hour": 1.0,
    "minute": 1 / 60,
    "second": 1 / 3600,
    "millisecond": 1 / 3_600_000,
    "microsecond": 1 / 3_600_000_000,
}


def _configured_retention_hours(
    configuration: dict,
    prop: str = "delta.deletedFileRetentionDuration",
    default: str = "interval 168 hours",
    fallback_hours: float = 168.0,
    warn: bool = False,
) -> float:
    """delta-spark's retention-property ladder, shared by vacuum and
    create_checkpoint's tombstone expiry so their cutoffs can never
    diverge: parse the table property (``default`` when unset); an
    unparseable foreign spelling falls back to ``fallback_hours`` —
    warning only where ``warn`` says so (the user-facing vacuum verb;
    checkpoints stay quiet but consistent)."""
    raw = (configuration or {}).get(prop, default)
    try:
        return _parse_retention_interval(raw)
    except ValueError:
        if warn:
            import warnings

            warnings.warn(
                f"Unparseable {prop} {raw!r}; falling back to the "
                f"{fallback_hours:g} h default.",
                RuntimeWarning,
                stacklevel=3,
            )
        return fallback_hours


def _parse_retention_interval(s: str) -> float:
    """Delta retention interval → hours. Accepts the full
    delta-spark/CalendarInterval day-time subset: one or more
    '<n> <unit>' pairs ('interval 30 days', '1 week 2 days',
    '90 seconds'); month/year units are REJECTED exactly as
    delta-spark's DeltaConfigs does (calendar-variable units cannot
    define a retention duration)."""
    import re as _re

    text = str(s).strip().lower()
    body = _re.sub(r"^interval\s+", "", text)
    pairs = _re.findall(r"([+-]?\d+)\s*([a-z]+)", body)
    if not pairs or _re.sub(r"[+-]?\d+\s*[a-z]+\s*", "", body).strip():
        raise ValueError(f"Unparseable retention interval: {s!r}")
    hours = 0.0
    for n, unit in pairs:
        unit = unit.rstrip("s") if unit not in ("ms", "us") else unit
        unit = {"ms": "millisecond", "us": "microsecond"}.get(unit, unit)
        if unit in ("month", "year"):
            raise ValueError(
                f"Retention interval {s!r} uses calendar-variable unit "
                f"{unit!r}; only week/day/hour/minute/second intervals "
                "are valid (delta-spark rejects these too)."
            )
        if unit not in _INTERVAL_UNIT_HOURS:
            raise ValueError(f"Unparseable retention interval: {s!r}")
        hours += int(n) * _INTERVAL_UNIT_HOURS[unit]
    if hours < 0:
        raise ValueError(f"Negative retention interval: {s!r}")
    return hours


def compact_log(
    path: str,
    start_version: Optional[int] = None,
    end_version: Optional[int] = None,
) -> str:
    """Write a LOG COMPACTION file (Delta spec "Log Compaction Files":
    ``{start:020d}.{end:020d}.compacted.json``) holding the
    action-reconciled state of commits ``start..end``, DERIVED as the
    state diff between the real snapshot replays at the two range
    boundaries: latest metaData/protocol, the (path, dvId)-keyed
    add/remove net (kernel identity — a stale-vector remove never
    nets away a live different-vector add), latest txn version per
    appId (latest-wins, so version resets survive compaction), and
    latest domainMetadata per domain *including removal markers* (a
    mid-log range must preserve removals or replay from older state
    would resurrect the domain).

    Defaults: ``start`` = first version after the newest checkpoint
    (else 0), ``end`` = latest. Readers substitute the single file for
    the whole range when it aligns with their replay position
    (delta/log.py snapshot loop) — between checkpoints, replay cost
    drops from O(#commits) to O(#compactions), and commits that log
    cleanup later deletes stay replayable through their covering
    compaction. Writing is idempotent (same range → same content), so
    plain ``write_bytes`` suffices — no commit race to arbitrate.
    Returns the file name written.

    ORDER SIGNIFICANCE (r15): most emitted units are order-free sets,
    but vanishing-trace cancel/supersede shapes (a descriptor-less
    tombstone or live add whose only range trace was itself canceled)
    require sequential MIRROR actions — a transient add popped by one
    of the unit's own removes. Delta's vocabulary cannot cancel a
    tombstone without an add, so these units are order-significant by
    necessity; replay consumes compacted files in file order (ours
    and delta-spark's both), and the protocol's ban on same-identity
    duplicate file actions within a unit means a conforming foreign
    engine never emits the ambiguous unordered form either
    (tests/test_replay_property.py scopes its reorder property
    accordingly)."""
    log = DeltaLog(str(path).rstrip("/"))
    versions = log.versions()
    if not versions:
        # checkpoint-only log: every commit is already summarized by
        # the checkpoint; there is no JSON range to compact
        raise ValueError(
            f"compact_log: no JSON commits to compact at {path} "
            "(checkpoint-only log)"
        )
    if end_version is None:
        end_version = versions[-1]
    if start_version is None:
        cps = [c for c in log.checkpoint_versions() if c < end_version]
        start_version = cps[-1] + 1 if cps else 0
    if start_version > end_version:
        raise ValueError(
            f"compact_log: empty range {start_version}..{end_version}"
        )
    # STATE-DIFF derivation (r13): the compacted file is whatever set
    # of actions turns state(start-1) into state(end) when applied as
    # ONE replay unit — and both boundary states come from the real
    # snapshot replay, not a re-coded reconciler. The previous
    # hand-rolled netting here was path-keyed and kept max() txn
    # versions, which diverged from direct replay on two real shapes:
    # a stale-vector remove (remove(p, dvOld) while add(p, dvNew) is
    # live) KILLED the live file in compaction-replay that kernel
    # (path, dvId) keying keeps, and a txn version reset was pinned to
    # the old high mark. Deriving from two snapshots makes every
    # future reconciliation fix apply to compaction automatically; the
    # equivalence is property-tested against direct replay over
    # generated histories (tests/test_replay_property.py).
    for v in range(start_version, end_version + 1):
        if v not in versions:
            raise ValueError(
                f"compact_log: commit {v} missing from "
                f"{log.log_path} — can only compact retained ranges"
            )
    # A range containing a checkpoint version is DEAD WEIGHT: replay
    # anchors at the newest checkpoint <= the requested version and
    # starts at cp+1, so a range beginning at or below cp never aligns
    # with any replay position (the default start = newest
    # checkpoint + 1 exists precisely to align). Writing it would
    # silently produce a file no reader ever substitutes (ADVICE r13).
    _straddled = [
        c for c in log.checkpoint_versions()
        if start_version <= c <= end_version
    ]
    if _straddled:
        raise ValueError(
            f"compact_log: range {start_version}..{end_version} "
            f"contains checkpoint version(s) {_straddled} — replay "
            "anchors at the checkpoint and starts at cp+1, so this "
            "range could never be substituted; compact "
            f"{_straddled[-1] + 1}..{end_version} instead"
        )
    end_snap = log.snapshot(version=end_version)
    start_snap = (
        log.snapshot(version=start_version - 1) if start_version > 0 else None
    )

    from urllib.parse import unquote

    lines: list = []
    # protocol + metaData: unconditional — a compacted range may be
    # the FIRST replay unit (start=0, or start=checkpoint+1 where the
    # checkpoint was later vacuumed of its JSON twin), and re-applying
    # an identical declaration is a no-op.
    lines.append(end_snap.protocol.to_json())
    meta = end_snap.metadata
    lines.append(meta.to_json())

    start_txns = start_snap.transactions if start_snap else {}
    for app in sorted(end_snap.transactions):
        ver = end_snap.transactions[app]
        if start_txns.get(app) != ver:
            lines.append({"txn": {"appId": app, "version": int(ver)}})

    start_domains = start_snap.domain_metadata if start_snap else {}
    for dom in sorted(end_snap.domain_metadata):
        conf = end_snap.domain_metadata[dom]
        if start_domains.get(dom) != conf:
            lines.append(
                {"domainMetadata": {
                    "domain": dom, "configuration": conf, "removed": False,
                }}
            )
    for dom in sorted(start_domains):
        if dom not in end_snap.domain_metadata:
            # a mid-range removal must be preserved or replay from the
            # pre-range state would resurrect the domain
            lines.append(
                {"domainMetadata": {
                    "domain": dom, "configuration": "", "removed": True,
                }}
            )

    # File actions. ADDS FIRST, then removes — the order is
    # load-bearing: an in-unit add sets add_seq == the unit's seq, so
    # the legacy descriptor-less-remove heuristic (which evaluates its
    # armed state ONCE per unit, not per original commit) can never
    # evict an emitted add; every eviction the range performed is
    # instead carried by an EXPLICIT emitted remove whose exact
    # (path, dvId) identity pops the pre-range live add. Live files
    # whose path collides with an emitted DESCRIPTOR-LESS remove are
    # re-emitted even when unchanged (the heuristic shield) — without
    # the shield, a unit-start armed state could evict a file that
    # direct replay, disarmed by the time that remove landed, kept.
    start_files = dict(start_snap.files) if start_snap else {}
    start_tombs = (
        {
            (t.path, dv_unique_id(t.deletion_vector)): t.to_json()["remove"]
            for t in start_snap.tombstones_all
        }
        if start_snap
        else {}
    )
    emit_removes = []
    for t in sorted(
        end_snap.tombstones_all,
        key=lambda t: (t.path, dv_unique_id(t.deletion_vector) or ""),
    ):
        tj = t.to_json()["remove"]
        if start_tombs.get(
            (t.path, dv_unique_id(t.deletion_vector))
        ) != tj:
            emit_removes.append(tj)
    shield_paths = {
        unquote(r["path"])
        for r in emit_removes
        if r.get("deletionVector") is None
    }
    # Tombstone CANCELLATION (r14, found by the substitution
    # property): a descriptor-less tombstone (path, '') present at
    # start-1 and ABSENT at end, where end's live add for the path
    # carries a DIFFERENT identity. The only _apply operation that
    # deletes a tombstone is a matching-identity add, so the diff
    # must emit an intermediate CANCELING add (descriptor-less copy
    # of the end add) before the path's final add — exactly the
    # sequence the original range performed (add(p) canceled the
    # tombstone, then add(p, dv') superseded it; no archive fires
    # because the superseded add carries no vector). Only
    # descriptor-less identities can vanish this way: canceling a
    # DESCRIPTOR tombstone requires an add with that vector, and the
    # later supersede re-archives it, so a (p, dv) tombstone always
    # leaves an end-state trace the plain diff already emits.
    end_tomb_keys = {
        (t.path, dv_unique_id(t.deletion_vector))
        for t in end_snap.tombstones_all
    }
    def _superseding_remove(tp: str):
        """A descriptor remove for ``tp`` that the compacted unit will
        apply, to pop a transient mirror add: prefer one already in
        ``emit_removes``; else promote the path's end tombstone into
        the emission (re-applying a remove identical to the pre-range
        tombstone is idempotent — it overwrites with the same value).
        Returns None only for histories no legal writer can produce
        (a descriptor-less identity vanishing with no descriptor
        remove anywhere in the range)."""
        for r in emit_removes:
            if unquote(r["path"]) == tp and r.get("deletionVector"):
                return r
        for t in end_snap.tombstones_all:
            if t.path == tp and dv_unique_id(t.deletion_vector):
                r = t.to_json()["remove"]
                emit_removes.append(r)
                return r
        return None

    def _mirror_adds(tp: str, cand: dict, with_cancel: bool) -> None:
        """Emit the transient add pair (or single superseding add)
        that mirrors the range's cancel/supersede sequence for ``tp``.
        Every transient add is popped by ``cand``'s remove, so none
        leaves an end-state trace."""
        dvs = ([None] if with_cancel else []) + [cand["deletionVector"]]
        for dv in dvs:
            lines.append(
                AddAction(
                    path=tp,
                    size=int(cand.get("size") or 0),
                    partition_values=cand.get("partitionValues") or {},
                    modification_time=int(
                        cand.get("deletionTimestamp") or 0
                    ),
                    data_change=True,
                    deletion_vector=dv,
                ).to_json()
            )

    cancel_paths = set()
    for (tp, uid) in start_tombs:
        if uid:
            continue  # descriptor identities never vanish untraced
        if (tp, uid) in end_tomb_keys:
            continue
        a = end_snap.files.get(tp)
        if a is not None and not dv_unique_id(a.deletion_vector):
            # end add with the SAME ('' ) identity cancels naturally
            # via the ordinary emission below
            continue
        if a is None:
            # canceled-then-superseded-then-REMOVED (r15, ADVICE): no
            # end live add either — the supersede chain ended in a
            # remove, so the superseding identity lives on the path's
            # end tombstones. (A canceled-then-removed SAME-identity
            # path re-creates its ('' ) tombstone and never reaches
            # here.) Mirror the original sequence: the canceling
            # descriptor-less add, then a superseding add whose
            # identity matches a remove the unit applies.
            cand = _superseding_remove(tp)
            if cand is not None:
                _mirror_adds(tp, cand, with_cancel=True)
            continue
        cancel_paths.add(tp)
        lines.append(
            AddAction(
                path=tp,
                size=a.size,
                partition_values=a.partition_values,
                modification_time=a.modification_time,
                data_change=True,
                deletion_vector=None,
            ).to_json()
        )
    # EVICTED-LIVE mirror (r15, found widening the ADVICE shape's test
    # matrix): the dual of the vanished tombstone. A START live add
    # with a descriptor-LESS identity, gone at end, normally leaves a
    # trace — eviction goes through remove(p) whose ('' ) tombstone
    # survives to end (emitted; its identity-matching apply pops the
    # live add), or a superseding end add (emitted; supersedes). But
    # when the range CANCELED that ('' ) tombstone (add(p)) and the
    # path then ended in a descriptor remove, the diff held no action
    # evicting the pre-range add: the emitted descriptor remove is a
    # stale-identity no-pop against a ('' ) live add, so substituted
    # replay kept the file LIVE that direct replay evicted. Mirror
    # with a single superseding transient add — it evicts the start
    # add (descriptor-less old: no archive) and the emitted remove
    # pops it. Descriptor start adds never need this: superseding or
    # legacy-evicting one re-archives its vector, an end-state trace
    # the plain diff emits.
    for p in sorted(start_files):
        old = start_files[p]
        if dv_unique_id(old.deletion_vector):
            continue  # descriptor identities never vanish untraced
        if p in end_snap.files:
            continue  # identical keep, or emitted supersede/re-add
        if (p, "") in end_tomb_keys or (p, None) in end_tomb_keys:
            continue  # the ('' ) eviction tombstone survived: emitted
        cand = _superseding_remove(p)
        if cand is not None:
            _mirror_adds(p, cand, with_cancel=False)
    for p in sorted(end_snap.files):
        a = end_snap.files[p]
        old = start_files.get(p)
        if (
            old is None
            or old.to_json() != a.to_json()
            or p in shield_paths
            or p in cancel_paths
        ):
            lines.append(a.to_json())
    lines.extend({"remove": r} for r in emit_removes)

    name = f"{start_version:020d}.{end_version:020d}.compacted.json"
    log.store.write_bytes(
        os.path.join(log.log_path, name),
        ("\n".join(json.dumps(a) for a in lines) + "\n").encode("utf-8"),
    )
    return name


def cleanup_metadata(path: str, dry_run: bool = False) -> list:
    """Log retention (delta-spark's metadata cleanup, honoring
    ``delta.logRetentionDuration``, default 30 days): delete expired
    commit JSONs and superseded checkpoints BELOW a checkpoint-anchored
    boundary, keeping the log O(retention) instead of O(table lifetime)
    — on a table taking a commit a second, an unbounded _delta_log is
    ~100 GB/year of driver-listed files. The boundary B is the largest
    checkpoint version such that EVERY commit below B is expired; only
    versions < B are deleted, so every remaining version stays
    replayable from the checkpoint at B (no gaps, ever). Time travel
    below B afterwards raises a clear error (history traded for
    bounded metadata — exactly delta-spark's contract). Returns the
    deleted (or would-delete, with ``dry_run``) file names."""
    log = DeltaLog(str(path).rstrip("/"))
    snap = log.snapshot()
    cps = log.checkpoint_versions()
    if not cps:
        return []  # nothing to anchor replay — delete nothing
    retention_h = _parse_retention_interval(
        snap.metadata.configuration.get(
            "delta.logRetentionDuration", "interval 30 days"
        )
    )
    cutoff_s = now_ms() / 1000.0 - retention_h * 3600.0
    ts = log.version_timestamps()
    # cap at the CLASSIC latest: a checkpoint can legitimately sit at
    # a staged-merged version past the classic log (latest-mode
    # create_checkpoint on a deferred-backfill coordinated table); a
    # boundary above the classic latest would delete the entire
    # classic log (versions() goes empty → table unreadable) and the
    # accepted-but-unbackfilled staged tail with it
    classic_latest = log.versions()[-1]
    boundary = -1
    for c in cps:
        if c > classic_latest:
            continue
        if all(ts.get(v, float("inf")) < cutoff_s for v in ts if v < c):
            boundary = max(boundary, c)
    if boundary <= 0:
        return []
    doomed: list = []
    from dask_deltalake_spark.delta.log import _COMPACTED_RE

    for f in sorted(log.store.list_dir(log.log_path)):
        m = _COMMIT_OR_CP_RE.match(f)
        if m and int(m.group(1)) < boundary:
            doomed.append(f)
            continue
        # log-compaction files: replay from the boundary checkpoint
        # starts at boundary+1, so a range STARTING below the boundary
        # can never align again — expired alongside its commits
        mc = _COMPACTED_RE.match(f)
        if mc and int(mc.group(1)) < boundary:
            doomed.append(f)
    # staged commits (coordinated tables): below the boundary a staged
    # file is either a backfilled leftover or a lost race's orphan —
    # the classic file (or its expiry) supersedes it either way.
    # EXCEPT a version the coordinator ledger still holds: that staged
    # file is an ACCEPTED commit whose backfill is deferred — the only
    # copy of its bytes. Deleting it would dangle the ledger and make
    # the later backfill_commits raise (or fork the log). Belt on top
    # of the boundary cap above.
    from dask_deltalake_spark.delta.coordinated import (
        STAGED_DIR,
        coordinator_from_metadata,
    )

    live_staged: set = set()
    co = coordinator_from_metadata(snap.metadata)
    if co is not None:
        live_staged = {v for v, _ in co[0].get_commits(snap.metadata.id, 0)}
    staged_dir = os.path.join(log.log_path, STAGED_DIR)
    for f in sorted(log.store.list_dir(staged_dir)):
        head = f.split(".", 1)[0]
        if head.isdigit() and int(head) < boundary and int(
            head
        ) not in live_staged:
            doomed.append(os.path.join(STAGED_DIR, f))
    if not dry_run:
        for f in doomed:
            log.store.delete(os.path.join(log.log_path, f))
        # v2 manifests reference _sidecars/ files by name; once the
        # expired manifests are gone, any sidecar no REMAINING
        # manifest references is unreachable — without this GC,
        # sidecars accumulate a full add-set copy per checkpoint
        _gc_orphan_sidecars(log)
    return doomed


def _gc_orphan_sidecars(log: DeltaLog) -> None:
    """Delete ``_sidecars/`` parquet files referenced by NO remaining
    v2 checkpoint manifest. Bounded: one manifest read per retained
    checkpoint (each KB-scale)."""
    import pyarrow.parquet as pq

    from dask_deltalake_spark.delta.checkpoint import CheckpointActions
    from dask_deltalake_spark.delta.log import (
        _CHECKPOINT_MULTIPART_RE,
        _CHECKPOINT_RE,
        SIDECAR_DIR,
    )

    sc_dir = os.path.join(log.log_path, SIDECAR_DIR)
    if not log.store.is_dir(sc_dir):
        return
    refs = CheckpointActions()
    for f in log.store.list_dir(log.log_path):
        m = _CHECKPOINT_RE.match(f)
        if m and m.group(2) and not _CHECKPOINT_MULTIPART_RE.match(
            m.group(2)
        ):
            try:
                with log.store.open_input(
                    os.path.join(log.log_path, f)
                ) as fh:
                    refs.consume(pq.read_table(fh, columns=["sidecar"]))
            except Exception:
                return  # unreadable manifest: never GC blindly
    referenced = {sc["path"] for sc in refs.sidecars}
    for f in log.store.list_dir(sc_dir):
        if f.endswith(".parquet") and f not in referenced:
            log.store.delete(os.path.join(sc_dir, f))


import re as _re_mod

_COMMIT_OR_CP_RE = _re_mod.compile(
    r"^(\d{20})\.(?:json|crc|checkpoint"
    r"(?:\.\d+\.\d+|\.[0-9a-zA-Z-]+)?\.parquet)$"
)


def set_table_properties(
    path: str,
    properties: Optional[dict] = None,
    unset: Optional[list] = None,
) -> int:
    """ALTER TABLE SET/UNSET TBLPROPERTIES as one metadata-only commit
    (delta-spark / delta-rs parity). Guarded: ``delta.*`` properties
    that correspond to protocol FEATURES are refused here — they need
    their dedicated enable path (enable_row_tracking,
    enable_in_commit_timestamps, add_constraint, ...) because flipping
    the property without the protocol upgrade writes a table other
    engines must reject. Returns the committed version."""
    gated = {
        "delta.enablerowtracking",
        "delta.enableincommittimestamps",
        "delta.enablechangedatafeed",
        "delta.columnmapping.mode",
        "delta.enabledeletionvectors",
        "delta.checkpointpolicy",
    }
    props = dict(properties or {})
    for k in list(props) + list(unset or []):
        if str(k).lower() in gated or str(k).lower().startswith(
            "delta.constraints."
        ):
            raise DeltaProtocolError(
                f"Property {k!r} controls a protocol feature; use its "
                "dedicated enable/add function so the protocol upgrade "
                "commits atomically with the property."
            )
    log = DeltaLog(str(path).rstrip("/"))
    snap = log.snapshot()
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        # changeDataFeed: metadata-only commits carry no file actions
        # and are invisible to the feed
        features={"columnMapping", "deletionVectors", "generatedColumns",
                  "identityColumns", "rowTracking", "domainMetadata",
                  "clustering", "changeDataFeed"},
    )
    meta = snap.metadata
    config = dict(meta.configuration)
    config.update({str(k): str(v) for k, v in props.items()})
    for k in unset or []:
        config.pop(str(k), None)
    from dask_deltalake_spark.delta.protocol import Metadata

    ts = now_ms()
    actions = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {
                    "properties": json.dumps(
                        {str(k): str(v) for k, v in props.items()}
                    )
                },
                "readVersion": snap.version,
                "isBlindAppend": False,
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        },
        Metadata(
            id=meta.id,
            schema_string=meta.schema_string,
            partition_columns=meta.partition_columns,
            configuration=config,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
        ).to_json(),
    ]
    write_commit(log.table_path, snap.version + 1, actions)
    return snap.version + 1


def table_detail(path: str) -> dict:
    """DESCRIBE DETAIL analog (delta-spark's surface): one
    metadata-only dict describing the current snapshot — format, id,
    name/description, location, createdAt, partition/clustering
    columns, live file count and bytes, properties, and protocol
    versions/features. O(metadata); never touches data files."""
    log = DeltaLog(str(path).rstrip("/"))
    snap = log.snapshot()
    from dask_deltalake_spark.delta.clustering import clustering_columns

    meta = snap.metadata
    return {
        "format": "delta",
        "id": meta.id,
        "name": meta.name,
        "description": meta.description,
        "location": log.table_path,
        "createdAt": meta.created_time,
        "partitionColumns": list(meta.partition_columns),
        "clusteringColumns": clustering_columns(snap) or [],
        "numFiles": len(snap.files),
        "sizeInBytes": sum(a.size for a in snap.add_actions),
        "properties": dict(meta.configuration),
        "minReaderVersion": snap.protocol.min_reader_version,
        "minWriterVersion": snap.protocol.min_writer_version,
        "readerFeatures": sorted(snap.protocol.reader_features or []),
        "writerFeatures": sorted(snap.protocol.writer_features or []),
        "version": snap.version,
    }


def enable_v2_checkpoints(path: str) -> int:
    """Enable the v2Checkpoint table feature in ONE commit: protocol
    upgrade (reader v3 + the v2Checkpoint reader/writer feature,
    existing features preserved) plus ``delta.checkpointPolicy=v2`` —
    every later checkpoint (manual or the automatic
    ``delta.checkpointInterval`` ones) then takes the manifest+sidecar
    shape. Idempotent. Returns the committed version."""
    from dask_deltalake_spark.delta.protocol import (
        Metadata,
        protocol_with_features,
    )

    log = DeltaLog(str(path).rstrip("/"))
    snap = log.snapshot()
    if (
        snap.metadata.configuration.get("delta.checkpointPolicy") == "v2"
        and "v2Checkpoint" in (snap.protocol.reader_features or [])
    ):
        return snap.version
    from dask_deltalake_spark.delta.protocol import (
        METADATA_ONLY_FEATURES,
        check_write_protocol,
    )

    # writer gate (the enable_change_data_feed class, r16): a
    # metadata-only upgrade must still honor the table's existing
    # writer obligations — an unknown foreign feature refuses
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        features=METADATA_ONLY_FEATURES | {"v2Checkpoint"},
    )
    meta = snap.metadata
    config = dict(meta.configuration)
    config["delta.checkpointPolicy"] = "v2"
    ts = now_ms()
    actions = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "UPGRADE PROTOCOL",
                "operationParameters": {"feature": "v2Checkpoint"},
                "readVersion": snap.version,
                "isBlindAppend": False,
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        },
        protocol_with_features(
            snap.protocol,
            reader_features=("v2Checkpoint",),
            writer_features=("v2Checkpoint",),
        ).to_json(),
        Metadata(
            id=meta.id,
            schema_string=meta.schema_string,
            partition_columns=meta.partition_columns,
            configuration=config,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
        ).to_json(),
    ]
    write_commit(log.table_path, snap.version + 1, actions)
    return snap.version + 1


def validate_version_checksum(path: str, version: Optional[int] = None) -> dict:
    """Cross-check a replayed snapshot against its ``<version>.crc``
    sidecar (delta-spark VersionChecksum): recompute table size, file
    count, protocol, and metadata from log replay and compare.
    Catches log corruption/truncation replay alone can't see. Returns
    ``{"version", "valid", "mismatches"}``; raises FileNotFoundError
    when no checksum was recorded for the version."""
    log = DeltaLog(str(path).rstrip("/"))
    snap = log.snapshot(version=version)
    crc_path = os.path.join(log.log_path, f"{snap.version:020d}.crc")
    if not log.store.exists(crc_path):
        raise FileNotFoundError(
            f"No version checksum recorded for version {snap.version} "
            f"of {log.table_path}"
        )
    recorded = json.loads(log.store.read_bytes(crc_path).decode("utf-8"))

    def _canon(key, val):
        # Cross-engine comparison canonicalization (r14, found by the
        # foreign-crc interop probe): readerFeatures/writerFeatures
        # are SETS per the protocol spec — delta-spark emits them in
        # its own order, so a list-equality compare false-flags every
        # foreign checksum on a feature table. Null-valued fields are
        # likewise identical to absent ones in action JSON (a foreign
        # writer may emit "description": null where we omit it).
        # Recurse through nested dicts/lists (r15, ADVICE): the JSON
        # "null == absent" rule holds at every depth — a foreign
        # checksum carrying e.g. metadata.format.options nulls
        # false-flagged the whole metadata block when only the top
        # level was canonicalized.
        if isinstance(val, list):
            return [_canon(key, v) for v in val]
        if not isinstance(val, dict):
            return val
        out = {}
        for k, v in val.items():
            if v is None:
                continue
            if (
                key == "protocol"
                and k in ("readerFeatures", "writerFeatures")
                and isinstance(v, list)
            ):
                v = sorted(v)
            out[k] = _canon(key, v)
        return out

    actual = {
        "tableSizeBytes": sum(a.size for a in snap.add_actions),
        "numFiles": len(snap.files),
        "protocol": snap.protocol.to_json()["protocol"],
        "metadata": snap.metadata.to_json()["metaData"],
    }
    mismatches = {
        k: {"recorded": recorded.get(k), "actual": actual[k]}
        for k in actual
        if _canon(k, recorded.get(k)) != _canon(k, actual[k])
    }
    # allFiles (optional in both delta-spark's checksum and ours):
    # when ANY engine recorded the full add list, upgrade the check
    # from counts to exact file-set identity on the spec-stable keys
    # (path, size, dv id, partitionValues) — stats/tags spellings
    # vary by engine and stay out of the identity. A swap of one file
    # for another of equal size is invisible to tableSizeBytes/
    # numFiles but caught here.
    if isinstance(recorded.get("allFiles"), list):
        from urllib.parse import unquote as _unq

        from dask_deltalake_spark.delta.protocol import dv_unique_id

        def _fid(path, size, dv, pv):
            return (
                _unq(str(path)),
                int(size or 0),
                dv_unique_id(dv),
                tuple(sorted((dict(pv) if pv else {}).items())),
            )

        rec_set = {
            _fid(f.get("path"), f.get("size"), f.get("deletionVector"),
                 f.get("partitionValues"))
            for f in recorded["allFiles"]
            if isinstance(f, dict) and f.get("path")
        }
        act_set = {
            _fid(a.path, a.size, a.deletion_vector, a.partition_values)
            for a in snap.add_actions
        }
        if rec_set != act_set:
            mismatches["allFiles"] = {
                "recorded_only": sorted(
                    p for p, *_ in rec_set - act_set
                ),
                "actual_only": sorted(
                    p for p, *_ in act_set - rec_set
                ),
            }
    return {
        "version": snap.version,
        "valid": not mismatches,
        "mismatches": mismatches,
    }


def recompute_statistics(
    path: str, spark: Optional[SparkSession] = None
) -> dict:
    """ANALYZE-style statistics recompute (delta-spark's
    ``StatisticsCollection.recompute``): one distributed Arrow pass
    reads every referenced data file and commits fresh protocol stats
    ({numRecords, minValues, maxValues, nullCount}) as re-issued add
    actions with ``dataChange=false`` — per the spec, a later add for
    the same path REPLACES the earlier one during replay, so no
    removes are written and no tombstones appear. The files
    themselves never move: cost is one scan, after which data
    skipping works on tables that were converted with
    ``collect_stats=False``, written by statless engines, or whose
    stats predate a widening.

    Stats keys are the files' PHYSICAL column names by construction
    (the pass reads raw parquet), so column-mapped tables get
    correctly-keyed skipping stats for free. DV'd files keep physical
    row counts (numRecords counts deleted positions too, per spec)."""
    import pandas as pd

    from dask_deltalake_spark.delta.logstore import store_for
    from dask_deltalake_spark.delta.protocol import file_base_root

    if spark is None:
        spark = SparkSession.active()
    log = DeltaLog(path)
    snap = log.snapshot()
    check_write_protocol(
        snap.protocol,
        snap.metadata,
        features={
            # changeDataFeed: stats recompute commits dataChange=false
            # re-adds only — invisible to the feed by spec
            "changeDataFeed",
            "columnMapping",
            "deletionVectors",
            "generatedColumns",
            "identityColumns",
            "rowTracking",
        },
    )
    adds = snap.add_actions
    if not adds:
        return {"version": snap.version, "numFilesRecomputed": 0}
    part_cols = set(snap.metadata.partition_columns)
    pairs = []
    for a in adds:
        base = store_for(path).local_path(file_base_root(snap.path, a))
        if base is None:
            raise DeltaProtocolError(
                "recompute_statistics requires locally-mapped storage "
                "for the scan pass (object-store variant would read "
                "through the executors' own credentials)."
            )
        pairs.append(
            (a.path, os.path.join(base, a.path.replace("/", os.sep)))
        )

    # the stats fold is SHARED with CONVERT TO DELTA
    # (protocol.fold_file_stats) — one accumulator implementation, so
    # converted, recomputed, and written stats stay byte-compatible
    from dask_deltalake_spark.delta.protocol import (
        fold_file_stats,
        stats_spec_for,
    )

    # honor the table's stats-collection properties exactly like the
    # write path (delta-spark's StatisticsCollection does the same)
    stats = fold_file_stats(
        spark, pairs, part_cols, stats_spec=stats_spec_for(snap)
    )
    ts = now_ms()
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "COMPUTE STATISTICS",
                "operationParameters": {"numFiles": str(len(adds))},
                "readVersion": snap.version,
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        }
    ]
    for a in adds:
        actions.append(
            AddAction(
                path=a.path,
                size=a.size,
                partition_values=a.partition_values,
                modification_time=a.modification_time,
                data_change=False,
                stats=stats[a.path],
                deletion_vector=a.deletion_vector,
                base_row_id=a.base_row_id,
                default_row_commit_version=a.default_row_commit_version,
            ).to_json()
        )
    write_commit(log.table_path, snap.version + 1, actions)
    return {
        "version": snap.version + 1,
        "numFilesRecomputed": len(adds),
    }


def fsck_repair(
    path: str, spark: Optional[SparkSession] = None, dry_run: bool = False
) -> dict:
    """``FSCK REPAIR TABLE``: drop references to data files that no
    longer exist on storage (deleted out-of-band — lifecycle rules,
    manual rm, a bad vacuum from another engine), so scans stop
    failing on the missing files. Missing files are committed as
    removes with ``dataChange=true`` (rows genuinely disappeared).
    ``dry_run=True`` only reports. The existence probe is a per-file
    metadata stat — at 100 TB file counts the probe distributes the
    same way as the stats pass above; here it runs driver-side over
    the snapshot's add list (already driver-resident by replay).

    CDF interaction (ADVICE r15): on a changeDataFeed table the
    repair commit carries an explicit EMPTY ``cdc`` action. The lost
    rows' bytes are GONE — no reader can surface them as delete
    images, so add/remove reconstruction of this commit would throw
    file-not-found forever and wedge every feed consumer whose range
    spans the repair. Per the spec's Add CDC File contract the cdc
    file is taken VERBATIM for the version, so the feed stays
    readable and reports zero changes for the repair (the loss
    happened out-of-band, outside the log's visibility)."""
    from dask_deltalake_spark.delta.logstore import store_for
    from dask_deltalake_spark.delta.protocol import (
        check_append_only,
        file_base_root,
    )

    log = DeltaLog(path)
    snap = log.snapshot()
    # repair removes rows (dataChange=true removes) — an appendOnly
    # table must refuse it like any other delete
    check_append_only(snap.metadata, "fsck_repair")
    # writer-feature gate (same bar as every sibling mutation): a
    # repair that cannot honor a declared writer feature must refuse,
    # not commit removes under it. Removing adds is safe for every
    # listed feature — no rows are written, surviving files keep
    # their baseRowId / identity / clustering state untouched.
    check_write_protocol(
        snap.protocol,
        metadata=snap.metadata,
        features={
            # changeDataFeed: the repair commit carries an explicit
            # empty cdc action (below) so feed readers never try to
            # reconstruct deletes from the physically-gone parquet
            "changeDataFeed",
            "columnMapping",
            "deletionVectors",
            "generatedColumns",
            "identityColumns",
            "rowTracking",
            "domainMetadata",
            "clustering",
        },
    )
    missing = []
    for a in snap.add_actions:
        base = store_for(path).local_path(file_base_root(snap.path, a))
        if base is None:
            raise DeltaProtocolError(
                "fsck_repair requires locally-mapped storage for the "
                "existence probe."
            )
        if not os.path.exists(
            os.path.join(base, a.path.replace("/", os.sep))
        ):
            missing.append(a)
    if dry_run or not missing:
        return {
            "version": snap.version,
            "numMissing": len(missing),
            "missing": [a.path for a in missing],
            "repaired": False,
        }
    ts = now_ms()
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "FSCK",
                "operationParameters": {
                    "numRemovedFiles": str(len(missing))
                },
                "readVersion": snap.version,
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        }
    ]
    for a in missing:
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
    from dask_deltalake_spark.delta.mutate import (
        _cdf_enabled,
        _empty_cdc_action,
    )

    if _cdf_enabled(snap.metadata):
        # the removes' parquet is physically gone — pin "zero
        # changes" with an explicit empty cdc file so feed readers
        # take it verbatim instead of reconstructing (docstring)
        actions.append(_empty_cdc_action(log.table_path, snap))
    write_commit(log.table_path, snap.version + 1, actions)
    return {
        "version": snap.version + 1,
        "numMissing": len(missing),
        "missing": [a.path for a in missing],
        "repaired": True,
    }


def _reusable_sidecars(
    log: DeltaLog, version: int, live: dict[str, AddAction]
) -> tuple[list, set]:
    """Sidecars of the latest previous v2 checkpoint that can be
    referenced VERBATIM by the checkpoint being written at ``version``:
    every row must be an add that, decoded, equals the current live
    add for its path (``live``: path -> AddAction) in everything but
    ``dataChange``. Returns (sidecar refs, covered paths)."""
    import pyarrow.parquet as pq

    from dask_deltalake_spark.delta.checkpoint import CheckpointActions
    from dask_deltalake_spark.delta.log import (
        _CHECKPOINT_MULTIPART_RE,
        _CHECKPOINT_RE,
        SIDECAR_DIR,
    )

    prev = [v for v in log.checkpoint_versions() if v < version]
    if not prev:
        return [], set()
    pv = max(prev)
    manifest = None
    for f in sorted(log.store.list_dir(log.log_path)):
        m = _CHECKPOINT_RE.match(f)
        if (
            m
            and int(m.group(1)) == pv
            and m.group(2)
            and not _CHECKPOINT_MULTIPART_RE.match(m.group(2))
        ):
            manifest = os.path.join(log.log_path, f)
    if manifest is None:
        return [], set()  # previous checkpoint was classic-shaped
    refs = CheckpointActions()
    try:
        with log.store.open_input(manifest) as fh:
            refs.consume(pq.read_table(fh, columns=["sidecar"]))
    except Exception:
        return [], set()
    reused, covered = [], set()
    for ref in refs.sidecars:
        scp = os.path.join(log.log_path, SIDECAR_DIR, ref["path"])
        dec = CheckpointActions()
        try:
            with log.store.open_input(scp) as fh:
                tbl = pq.read_table(fh)
            dec.consume(tbl)
        except Exception:
            continue
        # every row a distinct add (a remove row, or a row decoding to
        # nothing, leaves fewer adds than rows): tombstones may have
        # expired since, so such sidecars are rewritten
        if not tbl.num_rows or len(dec.adds) != tbl.num_rows:
            continue
        if all(
            p not in covered
            and p in live
            and dataclasses.replace(a, data_change=live[p].data_change)
            == live[p]
            for p, a in dec.adds.items()
        ):
            covered.update(dec.adds)
            reused.append(ref)
    return reused, covered


def generate_symlink_manifest(path: str) -> dict:
    """``GENERATE symlink_format_manifest FOR TABLE`` (delta-spark's
    ``DeltaTable.generate``): write the Hive-symlink manifest files
    that let manifest-based readers (Presto/Trino/Athena/Hive external
    tables) scan the CURRENT snapshot without understanding the Delta
    log. Layout is delta-spark's exactly:

    - unpartitioned: ``_symlink_format_manifest/manifest`` — one text
      file, one ABSOLUTE data-file URI per line;
    - partitioned: ``_symlink_format_manifest/<hive dirs>/manifest``
      per partition value combination, each listing that partition's
      files (``__HIVE_DEFAULT_PARTITION__`` for nulls, key=value
      URL-encoded like the data layout).

    Stale manifest directories for partitions that no longer exist in
    the snapshot are removed — a manifest reader must never see
    dropped partitions. The manifest is a SNAPSHOT artifact, not
    transactional: like delta-spark, concurrent writers racing the
    generation can leave it one version behind; re-run after writes
    (delta.compatibility.symlinkFormatManifest.enabled's auto-mode is
    a table-property hook a caller can wire the same way autoCompact
    is). Deletion vectors refuse: a symlink reader would see deleted
    rows resurrected (same refusal delta-spark raises).

    Driver cost is O(#files) metadata — no data I/O; at 100 TB the
    manifest write is proportional to the file count, the same scale
    as any snapshot listing."""
    from urllib.parse import quote as _q

    from dask_deltalake_spark.delta.logstore import store_for
    from dask_deltalake_spark.delta.protocol import (
        file_base_root,
        resolve_file_path,
    )

    import time as _time

    run_start = _time.time()  # concurrency fence for the sweep below
    table_path = str(path).rstrip("/")
    log = DeltaLog(table_path)
    snap = log.snapshot()
    # deletionVectors is claimed at the GATE (generation only lists
    # file metadata, which it fully understands) so the refusal below
    # can name the actual problem — a DV'd SNAPSHOT has no faithful
    # symlink representation, whatever the protocol says
    check_read_protocol(
        snap.protocol,
        metadata=snap.metadata,
        features={"columnMapping", "deletionVectors"},
    )
    if any(a.deletion_vector for a in snap.add_actions):
        raise DeltaProtocolError(
            "generate_symlink_manifest: the snapshot carries deletion "
            "vectors; a symlink-manifest reader cannot apply them and "
            "would resurrect deleted rows. Purge first (reorg_purge)."
        )
    store = store_for(table_path)
    root = store.local_path(table_path)
    if root is None:
        raise DeltaProtocolError(
            "generate_symlink_manifest requires locally-mapped storage "
            "(the manifest lists absolute URIs of the mapped files)."
        )
    part_cols = list(snap.metadata.partition_columns)
    manifest_root = os.path.join(root, "_symlink_format_manifest")

    def _hive_dir(pv: dict) -> str:
        segs = []
        for c in part_cols:
            v = pv.get(c)
            seg = (
                "__HIVE_DEFAULT_PARTITION__"
                if v is None
                else _q(str(v), safe="")
            )
            segs.append(f"{_q(c, safe='')}={seg}")
        return os.path.join(*segs) if segs else ""
    groups: dict = {}
    for a in snap.add_actions:
        abs_path = os.path.join(
            store.local_path(file_base_root(snap.path, a)) or "",
            os.path.relpath(
                resolve_file_path(snap.path, a.path),
                file_base_root(snap.path, a),
            ),
        )
        groups.setdefault(_hive_dir(a.partition_values), []).append(
            "file://" + os.path.abspath(abs_path)
        )

    # write-then-cleanup, never a blackout: each manifest lands via
    # temp file + atomic rename over its predecessor, so a
    # Presto/Trino/Athena reader racing the generation sees either the
    # previous snapshot's manifest or the new one — never an empty
    # table (delta-spark overwrites manifests in place the same way).
    # Only AFTER the new manifests exist are directories for
    # partitions absent from the snapshot removed.
    import uuid as _uuid

    live_dirs = set()
    run_tag = _uuid.uuid4().hex[:8]
    for hive_dir, uris in groups.items():
        d = os.path.join(manifest_root, hive_dir) if hive_dir else manifest_root
        live_dirs.add(os.path.normpath(d))
        os.makedirs(d, exist_ok=True)
        # per-run tmp name: two concurrent generations (the docstring's
        # post-commit-hook wiring) never share an in-flight tmp path,
        # so neither can rename or sweep the other's half-written file
        tmp = os.path.join(d, f".manifest.{run_tag}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(sorted(uris)) + "\n")
        os.replace(tmp, os.path.join(d, "manifest"))
    # stale-partition sweep: drop manifests whose directory is no
    # longer a live partition, temp files from CRASHED runs, then
    # prune empty directories bottom-up (rmdir only succeeds on empty
    # dirs, so live content is structurally safe). Concurrency fences:
    # a stale-looking manifest written AFTER this run started belongs
    # to a concurrent generation working from a NEWER snapshot that
    # added the partition — deleting it would un-publish that
    # partition, so only manifests predating run_start are swept
    # (genuinely dropped partitions still clean up immediately);
    # temp files sweep behind a 15-MINUTE age gate (ADVICE r9 widened
    # it from 60 s: a concurrent generation stalled by a GC pause or a
    # slow NFS mount could exceed a minute mid-write, and deleting its
    # in-flight tmp aborts that run's os.replace — whereas a crashed
    # run's tmp waiting 15 minutes for cleanup costs nothing; the
    # per-run-uuid tmp names already guarantee no name collisions in
    # the interim). Still best-effort wall-clock fencing by design: a
    # writer stalled >15 min needs a lock file per manifest root,
    # which no post-commit-hook cadence we target requires.
    _now = _time.time()

    def _mtime_or_none(p: str):
        try:
            return os.path.getmtime(p)
        except OSError:
            return None

    for dirpath, _dn, filenames in os.walk(manifest_root, topdown=False):
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            mt = _mtime_or_none(full)
            stale_manifest = (
                fn == "manifest"
                and os.path.normpath(dirpath) not in live_dirs
                and mt is not None
                # 2 s slack under run_start: coarse-mtime filesystems
                # (1 s granularity) truncate a concurrent run's
                # just-written manifest below run_start — without the
                # slack the fence is porous exactly on those mounts.
                # A genuinely dropped partition's manifest written
                # within the last 2 s just waits for the next sweep.
                and mt < run_start - 2.0
            )
            crashed_tmp = (
                fn.startswith(".manifest.")
                and fn.endswith(".tmp")
                and mt is not None
                and _now - mt > 900
            )
            if stale_manifest or crashed_tmp:
                try:
                    os.remove(full)
                except FileNotFoundError:
                    pass
        if os.path.normpath(dirpath) != os.path.normpath(manifest_root):
            try:
                os.rmdir(dirpath)
            except OSError:
                pass
    return {
        "version": snap.version,
        "numManifestFiles": len(groups),
        "numDataFiles": len(snap.add_actions),
    }
