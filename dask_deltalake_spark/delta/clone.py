"""Shallow clone: a zero-copy metadata fork of a Delta table.

``shallow_clone(source, target)`` commits a brand-new table whose
add actions are ABSOLUTE paths into the source table's data files
(the spec explicitly allows absolute add paths — this is delta-spark's
``CREATE TABLE ... SHALLOW CLONE``). No data moves: cloning a 100 TB
table is one O(#files) metadata commit. The clone then evolves
independently — appends land locally, copy-on-write DML and OPTIMIZE
materialize touched rows into local files (mixed-root scans group by
base root, reader.py/mutate.py), and the clone's vacuum can never
touch source files (it only walks the clone's own directory).

Caveats carried as refusals, not silent corruption: a source with
live DELETION VECTORS is refused (its vector files are source-relative
and a clone-side MoR write could not maintain them), and vacuuming the
SOURCE can break clones that still reference un-compacted source files
— same contract as delta-spark shallow clones.

The reference has nothing comparable (one table per read path,
core.py:158-235); this is Spark-side extension surface.
"""

from __future__ import annotations

import json
import uuid
from typing import Optional

from dask_deltalake_spark.delta.log import DeltaLog
from dask_deltalake_spark.delta.protocol import (
    DeltaProtocolError,
    Metadata,
    now_ms,
    quote_path,
    resolve_file_path,
)
from dask_deltalake_spark.delta.writer import write_commit

# Below this many files a deep clone copies driver-side instead of
# dispatching the distributed copy job (see deep_clone; same cutover
# rationale as the writer's _FOOTER_HARVEST_DRIVER_MAX).
import os as _os

_CLONE_COPY_DRIVER_MAX = int(
    _os.environ.get("SPARK_GRAFT_CLONE_COPY_DRIVER_MAX", "48")
)


def shallow_clone(
    source_path: str,
    target_path: str,
    version: Optional[int] = None,
) -> int:
    """Create ``target_path`` as a shallow clone of ``source_path``
    (optionally at a past ``version`` — clone + time travel in one
    step). Returns the clone's committed version (always 0)."""
    src_log = DeltaLog(source_path)
    snap = src_log.snapshot(version=version)
    tgt_log = DeltaLog(target_path)
    if tgt_log.exists():
        raise ValueError(f"Target already exists: {target_path}")
    dv_files = [a.path for a in snap.add_actions if a.deletion_vector]
    if dv_files:
        raise DeltaProtocolError(
            "shallow_clone: source has live deletion vectors "
            f"(e.g. on {dv_files[0]!r}); purge them first "
            "(optimize() on the source) — a clone could not maintain "
            "source-relative vector files."
        )

    ts = now_ms()
    meta = snap.metadata
    actions = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src_log.table_path,
                    "sourceVersion": str(snap.version),
                },
                "operationMetrics": {
                    "sourceNumOfFiles": str(len(snap.files)),
                    "numCopiedFiles": "0",
                },
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        },
        snap.protocol.to_json(),
        # fresh table id — a clone is a NEW table (delta-spark
        # semantics); schema/partitioning/configuration carry over
        Metadata(
            id=str(uuid.uuid4()),
            schema_string=meta.schema_string,
            partition_columns=meta.partition_columns,
            configuration=dict(meta.configuration),
            name=meta.name,
            description=meta.description,
            created_time=ts,
        ).to_json(),
    ]
    for a in snap.add_actions:
        d = a.to_json()["add"]
        # absolutize against the SOURCE root (an already-absolute path
        # — a clone of a clone — resolves through unchanged); the log
        # carries URL-encoded paths, '/' kept
        d["path"] = quote_path(resolve_file_path(src_log.table_path, a.path))
        actions.append({"add": d})
    # row-tracking domain metadata (the id high water mark) carries
    # over so a tracked clone keeps allocating non-overlapping ranges
    for domain, conf in snap.domain_metadata.items():
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": conf,
                    "removed": False,
                }
            }
        )
    write_commit(tgt_log.table_path, 0, actions)
    return 0


def deep_clone(
    source_path: str,
    target_path: str,
    spark=None,
    version: Optional[int] = None,
) -> int:
    """``CREATE TABLE ... DEEP CLONE``: a self-contained copy of the
    source snapshot — every referenced data file (and live deletion
    vector ``.bin``) is COPIED under the target root, preserving the
    hive directory layout (partition discovery must re-anchor at the
    clone), and a fresh v0 log references the copies. Unlike the
    shallow clone the result has no ties to the source: source vacuum
    cannot break it, and (because vector files travel too) DV'd
    sources deep-clone fine — the clone keeps merge-on-read state and
    its reads apply the copied vectors.

    The copy itself is ONE distributed Spark job (executors each copy
    their slice of the file list) — at 100 TB the clone is bounded by
    aggregate copy bandwidth, never a driver loop. Cloning from a
    shallow clone resolves each file against its own base root, so
    the deep clone FLATTENS the chain into one self-contained table.

    Configuration carries over except source-anchored properties:
    coordinated-commit registration (the coordinator has never heard
    of the clone) and the ICT enablement version/timestamp pair
    (they name SOURCE versions; re-enable on the clone to restart the
    clock). Returns the clone's committed version (always 0)."""
    import os

    from pyspark.sql import SparkSession

    from dask_deltalake_spark.delta.dv import dv_absolute_path
    from dask_deltalake_spark.delta.logstore import store_for
    from dask_deltalake_spark.delta.protocol import file_base_root

    if spark is None:
        spark = SparkSession.active()
    src_log = DeltaLog(source_path)
    snap = src_log.snapshot(version=version)
    tgt_log = DeltaLog(target_path)
    if tgt_log.exists():
        raise ValueError(f"Target already exists: {target_path}")
    tgt_root = store_for(tgt_log.table_path).local_path(tgt_log.table_path)
    if tgt_root is None:
        raise DeltaProtocolError(
            "deep_clone: target must be locally mapped (the seam-only "
            "variant would stage copies through the JVM)."
        )
    # (src_abs, tgt_rel) per data file; hive dirs preserved relative
    # to each add's own base root so chains of clones flatten
    jobs: list[tuple[str, str]] = []
    # collision guard keys on the ASSIGNED rel (two adds from
    # different base roots can flatten to the same relative path —
    # generic CONVERT-style filenames chained through shallow clones);
    # keying on the add's original path would never detect that.
    assigned_rels: set[str] = set()
    seen_dv_rels: set[str] = set()
    rels: dict[str, str] = {}  # original add path -> assigned rel
    for a in snap.add_actions:
        base_unmapped = file_base_root(snap.path, a)
        base = store_for(source_path).local_path(base_unmapped)
        if base is None:
            raise DeltaProtocolError(
                "deep_clone: source files must be locally mapped."
            )
        # rel computed in the UNMAPPED namespace (scheme-consistent),
        # then joined onto the locally-mapped base for the actual copy
        rel = os.path.relpath(
            resolve_file_path(snap.path, a.path)
            if a.path.startswith(("/", "file:")) or "://" in a.path
            else os.path.join(base_unmapped, a.path),
            base_unmapped,
        )
        src_abs = os.path.join(base, rel)
        if rel in assigned_rels:
            raise DeltaProtocolError(
                f"deep_clone: relative path collision on {rel!r} "
                "across base roots; cannot flatten this clone chain."
            )
        assigned_rels.add(rel)
        rels[a.path] = rel
        jobs.append((src_abs, rel))
        desc = a.deletion_vector
        if desc is not None:
            st = desc.get("storageType")
            if st == "i":
                continue  # inline vector travels inside the add action
            if st != "u":
                raise DeltaProtocolError(
                    f"deep_clone: unsupported DV storageType {st!r} "
                    "(absolute-path vectors cannot be re-rooted)."
                )
            dv_abs = dv_absolute_path(src_log.table_path, desc)
            dv_rel = os.path.relpath(dv_abs, src_log.table_path)
            # set-membership dedup: many adds share one DV .bin; a
            # linear `pair not in jobs` scan is O(n²) driver time at
            # millions of files
            if dv_rel not in seen_dv_rels:
                seen_dv_rels.add(dv_rel)
                jobs.append((dv_abs, dv_rel))

    def copy_slice(batches):
        import os as _os
        import shutil as _shutil

        import pandas as _pd

        for pdf in batches:
            n = 0
            for src, rel in zip(pdf["src"], pdf["rel"]):
                dst = _os.path.join(tgt_root, rel)
                _os.makedirs(_os.path.dirname(dst) or tgt_root,
                             exist_ok=True)
                _shutil.copyfile(src, dst)
                n += 1
            yield _pd.DataFrame({"n": [n]})

    if jobs and len(jobs) <= _CLONE_COPY_DRIVER_MAX:
        # few files: copy in a driver-side loop — dispatching the
        # distributed copy job costs a fixed few hundred ms
        # (scheduling + Python-worker round trip) that dwarfs a
        # handful of local copyfile calls (r16, same cutover shape as
        # the writer's footer harvest). The job path stays for real
        # clones, where aggregate copy bandwidth is the point.
        import shutil as _shutil

        for src, rel in jobs:
            dst = os.path.join(tgt_root, rel)
            os.makedirs(os.path.dirname(dst) or tgt_root, exist_ok=True)
            _shutil.copyfile(src, dst)
    elif jobs:
        copied = (
            spark.createDataFrame(jobs, "src string, rel string")
            .repartition(min(len(jobs), 64))
            .mapInPandas(copy_slice, schema="n long")
            .agg({"n": "sum"})
            .first()[0]
        )
        if copied != len(jobs):
            raise DeltaProtocolError(
                f"deep_clone: copied {copied} of {len(jobs)} files."
            )
    ts = now_ms()
    meta = snap.metadata
    config = dict(meta.configuration)
    for k in (
        "delta.coordinatedCommits.commitCoordinator-preview",
        "delta.coordinatedCommits.commitCoordinatorConf-preview",
        "delta.enableInCommitTimestamps",
        "delta.inCommitTimestampEnablementVersion",
        "delta.inCommitTimestampEnablementTimestamp",
    ):
        config.pop(k, None)
    actions = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src_log.table_path,
                    "sourceVersion": str(snap.version),
                    "isShallow": "false",
                },
                "operationMetrics": {
                    "sourceNumOfFiles": str(len(snap.files)),
                    "numCopiedFiles": str(len(jobs)),
                },
                "engineInfo": "dask_deltalake_spark/0.1.0",
            }
        },
        snap.protocol.to_json(),
        Metadata(
            id=str(uuid.uuid4()),
            schema_string=meta.schema_string,
            partition_columns=meta.partition_columns,
            configuration=config,
            name=meta.name,
            description=meta.description,
            created_time=ts,
        ).to_json(),
    ]
    for a in snap.add_actions:
        d = a.to_json()["add"]
        d["path"] = quote_path(rels[a.path].replace(os.sep, "/"))
        actions.append({"add": d})
    for domain, conf in snap.domain_metadata.items():
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": conf,
                    "removed": False,
                }
            }
        )
    write_commit(tgt_log.table_path, 0, actions)
    return 0
