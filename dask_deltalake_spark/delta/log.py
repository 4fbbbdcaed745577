"""Delta transaction-log replay (driver-side metadata only).

Log replay reconstructs table state at a version: start from the
newest parquet checkpoint ≤ version (if any), then apply the JSON
commits after it — union of `add` paths minus `remove`d paths under the
latest `metaData`/`protocol` (SURVEY.md §1.1). This is O(metadata),
never touches data files, and is exactly how delta-spark/delta-rs
behave on a 100 TB table: only the driver reads the log.

Reference parity targets: version & datetime time travel
(reference core.py:50-56), checkpoint-aware replay (fixture
checkpoint.zip, `_last_checkpoint` + N.checkpoint.parquet), history
(core.py:88-108), schema-per-version evolution (core.py:57).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Optional

from dask_deltalake_spark.delta.protocol import (
    LOG_DIR,
    AddAction,
    Metadata,
    Protocol,
    RemoveAction,
    commit_filename,
    dv_unique_id,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
# checkpoint shapes: classic single (V.checkpoint.parquet), classic
# multi-part (V.checkpoint.NNN.MMM.parquet), and V2
# (V.checkpoint.<uniqueStr>.parquet — a manifest whose add/remove
# actions live in _sidecars/ files, per the v2Checkpoint spec)
_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint(\.\d{10}\.\d{10}|\.[0-9a-zA-Z-]+)?\.parquet$"
)
_CHECKPOINT_MULTIPART_RE = re.compile(r"^\.\d{10}\.\d{10}$")
SIDECAR_DIR = "_sidecars"


class DeltaTableNotFoundError(Exception):
    pass


# Incremental snapshot cache (delta-spark's SnapshotManagement.update
# parity): latest-snapshot requests replay only the commits SINCE the
# last replay of the same table instead of the whole log. Keyed by
# table path; an entry is valid iff its anchor commit file still
# exists with an unchanged mtime (a recreated table at the same path —
# rmtree + rewrite — fails that check and falls back to full replay).
# Entries hold the final replay-state dicts, which are never mutated
# after snapshot construction (reuse COPIES them before continuing).
# Bounded LRU; commits are immutable and versions monotone, so
# incremental replay on a validated anchor is always exact.
_SNAPSHOT_CACHE: dict[str, tuple] = {}
_SNAPSHOT_CACHE_MAX = 16


@dataclass
class Snapshot:
    """Materialized table state at one version."""

    path: str
    version: int
    metadata: Metadata
    protocol: Protocol
    files: dict[str, AddAction]  # path -> add
    tombstones: dict[str, RemoveAction] = field(default_factory=dict)
    # domain -> configuration JSON string (writer feature
    # domainMetadata; latest non-removed action per domain wins)
    domain_metadata: dict[str, str] = field(default_factory=dict)
    # appId -> highest committed transaction version (txn actions —
    # the protocol's idempotent-writer mechanism; streaming sinks
    # stamp (appId=query, version=batch_id) so a re-delivered batch
    # is detected and skipped)
    transactions: dict[str, int] = field(default_factory=dict)
    # EVERY retained remove under delta-kernel's (path, dvId) identity
    # — including superseded-vector tombstones whose path is live
    # again (invisible in the path-keyed dict above). Vacuum's DV
    # retention ledger and checkpoint persistence read this; plain
    # consumers keep the path-keyed view.
    tombstones_all: list = field(default_factory=list)

    @property
    def add_actions(self) -> list[AddAction]:
        return list(self.files.values())

    def file_paths(self, absolute: bool = True) -> list[str]:
        if not absolute:
            return list(self.files)
        return [os.path.join(self.path, p) for p in self.files]


class DeltaLog:
    """Reader/replayer for one table's `_delta_log`.

    All byte I/O goes through the pluggable LogStore seam
    (delta/logstore.py): local tables use plain os I/O, scheme'd paths
    (``mock:``, fsspec-backed object stores) route through their
    registered store — the driver-side half of S16."""

    def __init__(self, table_path: str):
        from dask_deltalake_spark.delta.filesystem import check_local_scheme
        from dask_deltalake_spark.delta.logstore import store_for

        self.table_path = check_local_scheme(str(table_path).rstrip("/"))
        self.log_path = os.path.join(self.table_path, LOG_DIR)
        self.store = store_for(self.table_path)

    # -- listing ----------------------------------------------------------

    def exists(self) -> bool:
        # a checkpoint-only log (foreign metadata cleanup deleted every
        # JSON commit <= the checkpoint) is an EXISTING table: treating
        # it as absent made a writer fork a fresh v0 beside the
        # checkpoint — two replay anchors, silent data loss (r13)
        return self.store.is_dir(self.log_path) and bool(
            self.versions() or self.checkpoint_versions()
        )

    def versions(self) -> list[int]:
        out = []
        for f in self.store.list_dir(self.log_path):
            m = _COMMIT_RE.match(f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def compacted_ranges(self) -> list[tuple[int, int]]:
        """Log-compaction files present: sorted (start, end) version
        ranges from ``{x:020d}.{y:020d}.compacted.json`` names (the
        Delta spec's Log Compaction Files — minor compactions). Replay
        may substitute one file read for the whole commit range."""
        out = []
        for f in self.store.list_dir(self.log_path):
            m = _COMPACTED_RE.match(f)
            if m:
                out.append((int(m.group(1)), int(m.group(2))))
        return sorted(out)

    def read_compacted_actions(
        self, start: int, end: int
    ) -> list[dict[str, Any]]:
        p = os.path.join(
            self.log_path, f"{start:020d}.{end:020d}.compacted.json"
        )
        actions = []
        for line in self.store.read_bytes(p).decode("utf-8").splitlines():
            line = line.strip()
            if line:
                actions.append(json.loads(line))
        return actions

    def checkpoint_versions(self) -> list[int]:
        out = set()
        for f in self.store.list_dir(self.log_path):
            m = _CHECKPOINT_RE.match(f)
            if m:
                out.add(int(m.group(1)))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if vs:
            return vs[-1]
        # checkpoint-only log (r13 existence semantics): exists() and
        # snapshot() treat it as an existing table anchored on the
        # newest checkpoint, so latest_version must agree — raising
        # here made CDC and the streaming sources report "No Delta
        # table found" on a table snapshot() happily reads (ADVICE
        # r13). Commit-granularity consumers (the change feed) still
        # fail their own range pre-validation with a clear error.
        cps = self.checkpoint_versions()
        if cps:
            return cps[-1]
        raise DeltaTableNotFoundError(
            f"No Delta table found at {self.table_path}"
        )

    def version_timestamps(self) -> dict[int, float]:
        """Commit timestamps (epoch seconds): a commit's
        ``inCommitTimestamp`` when stamped (delta/ict.py — the
        monotonic in-commit clock), else the log file's storage mtime
        — matching delta-rs `load_with_datetime` (the reference's test
        resets fixture mtimes and expects this, reference
        tests/test_core.py:173-199). Mixed histories (feature enabled
        mid-life) resolve per-commit, which is exactly the spec's
        enablement-boundary rule. O(#versions) driver file reads —
        same class as replay itself; engines that need faster
        datetime resolution keep the clock in checkpoints."""
        out = {}
        for v in self.versions():
            ict = self._in_commit_timestamp(v)
            if ict is not None:
                out[v] = ict / 1000.0
                continue
            p = os.path.join(self.log_path, commit_filename(v))
            try:
                out[v] = self.store.mtime(p)
            except OSError:
                pass
        return out

    def _in_commit_timestamp(self, version: int):
        """The commit's inCommitTimestamp (ms) or None. commitInfo is
        conventionally the first action, so this usually reads one
        line — but the spec permits any position (other engines
        differ), so scan until found rather than assuming."""
        p = os.path.join(self.log_path, commit_filename(version))
        try:
            text = self.store.read_bytes(p).decode("utf-8")
        except OSError:
            return None
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            a = json.loads(line)
            if "commitInfo" in a:
                return a["commitInfo"].get("inCommitTimestamp")
        return None

    def _ict_search_range(self, target_ts: float, ts: dict):
        """The spec's mixed-history search rule for tables with the
        in-commit clock enabled (delta/ict.py): a target at/after the
        enablement timestamp searches ONLY the ICT range (versions >=
        enablementVersion), an earlier target only the pre-enablement
        mtime range. Without the partition, a pre-enablement commit
        whose log-file mtime was re-dated LATER than the in-commit
        clock (object-store copy/restore — the exact failure the
        feature exists for) hijacks ascending-order resolution.
        Returns the version subset to search, or None when the table
        has no in-commit clock (behavior unchanged). Neutral for
        well-ordered histories: the restricted range contains the
        answer the full scan would have picked."""
        from dask_deltalake_spark.delta.ict import (
            ICT_ENABLE_KEY,
            ICT_ENABLEMENT_TS_KEY,
            ICT_ENABLEMENT_VERSION_KEY,
        )

        try:
            cfg = self.snapshot().metadata.configuration
        except Exception:
            return None
        if str(cfg.get(ICT_ENABLE_KEY, "")).lower() != "true":
            return None
        # enabled at creation: the properties are legitimately absent
        # (delta-spark omits them) and the whole history is ICT
        enable_v = int(cfg.get(ICT_ENABLEMENT_VERSION_KEY, 0))
        enable_ts = float(cfg.get(ICT_ENABLEMENT_TS_KEY, 0)) / 1000.0
        ict_range = [v for v in sorted(ts) if v >= enable_v]
        if target_ts >= enable_ts:
            return ict_range
        pre = [v for v in sorted(ts) if v < enable_v]
        # pre-enablement commits all cleaned: clamp into the ICT range
        return pre if pre else ict_range

    def resolve_starting_timestamp(self, dt_string: str) -> int:
        """FIRST version whose commit time is >= the RFC3339 string
        (delta-spark's CDF ``startingTimestamp`` semantics — "changes
        at or after this time"); raises when the timestamp is after
        the last commit, matching delta-spark's error contract. On
        in-commit-timestamp tables the search honors the enablement
        boundary (_ict_search_range)."""
        s = dt_string.strip().replace("Z", "+00:00")
        target = datetime.fromisoformat(s)
        if target.tzinfo is None:
            target = target.replace(tzinfo=timezone.utc)
        target_ts = target.timestamp()
        ts = self.version_timestamps()
        search = self._ict_search_range(target_ts, ts)
        if search is None:
            search = sorted(ts)
        for v in search:
            if ts[v] >= target_ts:
                return v
        later = [v for v in sorted(ts) if search and v > search[-1]]
        if later:
            # pre-enablement range exhausted (every mtime below the
            # target): the first ICT commit qualifies — its clock is
            # at/above the enablement timestamp, which exceeds the
            # target by the branch condition
            return later[0]
        raise ValueError(
            f"startingTimestamp {dt_string!r} is after the latest "
            f"commit of {self.table_path}; no changes to read."
        )

    def resolve_datetime(self, dt_string: str) -> int:
        """Latest version whose commit time is <= the RFC3339 string;
        clamps to the earliest version if the time predates the log.
        On in-commit-timestamp tables the search honors the
        enablement boundary (_ict_search_range)."""
        s = dt_string.strip().replace("Z", "+00:00")
        target = datetime.fromisoformat(s)
        if target.tzinfo is None:
            target = target.replace(tzinfo=timezone.utc)
        target_ts = target.timestamp()
        ts = self.version_timestamps()
        search = self._ict_search_range(target_ts, ts)
        if search is None:
            search = sorted(ts)
        chosen = None
        for v in search:
            if ts[v] <= target_ts:
                chosen = v
        if chosen is None:
            chosen = min(search) if search else (
                min(ts) if ts else self.latest_version()
            )
        return chosen

    # -- replay -----------------------------------------------------------

    def read_commit_actions(self, version: int) -> list[dict[str, Any]]:
        p = os.path.join(self.log_path, commit_filename(version))
        actions = []
        for line in self.store.read_bytes(p).decode("utf-8").splitlines():
            line = line.strip()
            if line:
                actions.append(json.loads(line))
        return actions

    def read_commit_actions_any(
        self, version: int, metadata=None
    ) -> list[dict[str, Any]]:
        """Commit actions for ``version`` — the classic file, or, on a
        coordinated table with deferred backfill, the accepted STAGED
        commit via the coordinator. The conflict-retry scans use this:
        a winner's commit may not be backfilled yet when the loser
        inspects it."""
        try:
            return self.read_commit_actions(version)
        except OSError:
            from dask_deltalake_spark.delta.coordinated import (
                coordinator_from_metadata,
                read_staged_commit_actions,
            )

            if metadata is None:
                metadata = self.snapshot().metadata
            co = coordinator_from_metadata(metadata)
            if co is not None:
                for sv, sname in co[0].get_commits(metadata.id, version):
                    if sv == version:
                        return read_staged_commit_actions(
                            self.store, self.log_path, sv, sname
                        )
            raise

    def _load_checkpoint(self, version: int) -> tuple[
        dict[str, AddAction],
        dict[tuple[str, str], RemoveAction],
        Optional[Metadata],
        Optional[Protocol],
        dict[str, str],
        dict[str, int],
    ]:
        """Load checkpoint parquet(s) for a version via pyarrow
        (driver-side; checkpoints are metadata-scale). Understands all
        three spec shapes: classic single, classic multi-part, and V2
        (manifest + `sidecar` actions pointing into `_sidecars/` —
        the v2Checkpoint table feature; the manifest is bounded and
        the add/remove bulk lives in independently-readable sidecars,
        which is what lets a distributed replayer fan the read out).
        Rows decode column-wise through delta/checkpoint.py."""
        import pyarrow.parquet as pq

        from dask_deltalake_spark.delta.checkpoint import CheckpointActions

        parts = []
        v2_manifests = []
        single = os.path.join(
            self.log_path, f"{version:020d}.checkpoint.parquet"
        )
        if self.store.exists(single):
            parts.append(single)
        else:
            for f in sorted(self.store.list_dir(self.log_path)):
                m = _CHECKPOINT_RE.match(f)
                if m and int(m.group(1)) == version and m.group(2):
                    if _CHECKPOINT_MULTIPART_RE.match(m.group(2)):
                        parts.append(os.path.join(self.log_path, f))
                    else:
                        v2_manifests.append(
                            os.path.join(self.log_path, f)
                        )
        if v2_manifests and not parts:
            # any complete manifest serves; take the newest name
            parts = [v2_manifests[-1]]
        acc = CheckpointActions()
        for part in parts:
            with self.store.open_input(part) as fh:
                acc.consume(pq.read_table(fh))
        # a sidecar naming further sidecars extends the list mid-loop
        for sc in acc.sidecars:
            scp = os.path.join(self.log_path, SIDECAR_DIR, sc["path"])
            with self.store.open_input(scp) as fh:
                acc.consume(pq.read_table(fh))
        return acc.state()

    def snapshot(
        self,
        version: Optional[int] = None,
        datetime_string: Optional[str] = None,
    ) -> Snapshot:
        versions = self.versions()
        if not versions:
            # Checkpoint-only log: a spec-valid shape a FOREIGN
            # engine's metadata cleanup can produce (every JSON commit
            # <= the checkpoint deleted, nothing committed since).
            # The checkpoint IS the snapshot — anchor on it with an
            # empty JSON tail. Our own cleanup_metadata never deletes
            # past the classic latest, so this arises only on tables
            # another engine maintained.
            cps = self.checkpoint_versions()
            if not cps:
                raise DeltaTableNotFoundError(
                    f"No Delta table found at {self.table_path}"
                )
            versions = [cps[-1]]
        want_latest = version is None and datetime_string is None
        if datetime_string is not None:
            version = self.resolve_datetime(datetime_string)
        if version is None:
            version = versions[-1]
        if version not in versions and version > versions[-1] or version < 0:
            raise ValueError(
                f"Invalid version {version} for table {self.table_path} "
                f"(available: {versions[0]}..{versions[-1]})"
            )

        adds: dict[str, AddAction] = {}
        # keyed by (path, dv_unique_id) — delta-kernel's file-action
        # identity, so a remove of (path, dvA) survives an add of
        # (path, dvB) and the superseded bin keeps its logical
        # deletion time; projected to the public path-keyed dict at
        # Snapshot construction
        tombstones: dict[tuple, RemoveAction] = {}
        metadata: Optional[Metadata] = None
        protocol: Optional[Protocol] = None
        domains: dict[str, str] = {}
        txns: dict[str, int] = {}

        start = 0
        cached = (
            self._cache_lookup(versions)
            if version == versions[-1]
            else None
        )
        if cached is not None and cached[-1] and not want_latest:
            # a STAGED-anchored entry reflects state past the classic
            # latest — only a latest read may consume it (an explicit
            # version request must replay the classic history)
            cached = None
        if cached is not None:
            # skip the checkpoint listing entirely — the hot path the
            # cache exists for (per-commit checksum, streaming polls)
            # must not pay a second directory LIST per snapshot
            (
                adds, tombstones, metadata, protocol, domains, txns,
                start, _staged_anchor,
            ) = cached
            # staged-anchored state may sit PAST the classic latest
            version = max(version, start - 1)
        elif (
            usable_cp := [
                c for c in self.checkpoint_versions() if c <= version
            ]
        ):
            cp = usable_cp[-1]
            adds, tombstones, metadata, protocol, domains, txns = (
                self._load_checkpoint(cp)
            )
            start = cp + 1
        elif versions[0] > 0:
            # No checkpoint covers this version and the log's prefix
            # is gone. An aligned COMPACTION chain covering every
            # missing prefix version still replays (the loop below
            # substitutes each range — same rule as interior gaps);
            # walk the chain here so the alternative is a CLEAR
            # retention error rather than a mid-replay file-not-found
            # (r13, found by the compaction-substitution property).
            _cov: dict[int, int] = {}
            for _cs, _ce in self.compacted_ranges():
                if _ce <= version:
                    _cov[_cs] = max(_ce, _cov.get(_cs, -1))
            _vset = set(versions)
            _v = 0
            # coverage is only needed up to the REQUESTED version:
            # when a compaction chain ends below the earliest retained
            # JSON (versions=[5,6], compaction 0..3, version=3) the
            # replay substitutes the chain and stops — requiring
            # coverage all the way to versions[0] false-errored that
            # shape (ADVICE r13)
            while _v < min(versions[0], version + 1):
                if _v in _cov:
                    _v = _cov[_v] + 1
                elif _v in _vset:
                    _v += 1
                else:
                    # log retention cleanup (cleanup_metadata) deleted
                    # the history below the oldest remaining commit
                    # and nothing covers it
                    raise ValueError(
                        f"Version {version} of {self.table_path} "
                        f"predates the retained log history (earliest "
                        f"replayable: {versions[0]}); it was removed "
                        "by log retention cleanup."
                    )
            start = 0

        # commit sequence for the legacy-remove heuristic below: a
        # descriptor-less remove may evict a DV'd live add ONLY when
        # that add was installed by an EARLIER replay unit (commit /
        # compacted range / staged commit; checkpoint- or cache-loaded
        # adds count as seq 0). Within one commit, Delta action order
        # is insignificant and reconciliation is kernel-strict on
        # (path, dvId) — otherwise a conforming writer ordering
        # add(path, dvNew) before remove(path, no-descriptor) in one
        # MoR commit would have its just-added file evicted.
        commit_seq = 0
        add_seq: dict[str, int] = {}
        # Second gate on the same heuristic (VERDICT r10 #4): it is
        # reachable ONLY on logs that have NEVER written a
        # descriptor-carrying remove. A conforming DV-aware writer
        # (delta-spark, kernel) stamps the removed file's descriptor
        # on every remove of a DV'd file — so the FIRST remove that
        # could ever target a DV'd add in such a log already carries a
        # descriptor and permanently disarms the heuristic; a
        # descriptor-less remove hitting a DV'd live add there is a
        # stale-identity action that kernel keying ignores, and we now
        # ignore it too (kernel-identical). The heuristic stays armed
        # exactly for logs written by pre-descriptor engines (this
        # repo's own pre-r9 logs — the documented divergence in
        # ARCHITECTURE.md), which never stamp descriptors anywhere.
        # The gate must satisfy three pinned invariants at once
        # (tests/test_replay_property.py): checkpoint-SPLIT invariance
        # forces it to be a function of reconciled STATE (anything
        # remembered outside the checkpointed state diverges when a
        # checkpoint is cut after the memory was formed), and
        # within-commit ORDER insensitivity forces it to be evaluated
        # against the PRE-commit state, refreshed once per replay unit
        # (_begin_unit), never mid-commit. So: armed iff the current
        # tombstone set holds no WRITER-STAMPED descriptor-carrying
        # remove. Replay itself synthesizes DV tombstones (descriptor
        # archives for superseded vectors) — those are marked with
        # REPLAY_ARCHIVE_TAG (spec-legal `tags`, persisted through
        # commits and checkpoints) and never count, or a pre-descriptor
        # legacy log would disarm its own heuristic at the first
        # supersession. Honest residues: a conforming log whose only
        # descriptor remove is CANCELED by a same-identity re-add (the
        # RESTORE shape), or whose DV tombstones all EXPIRE, re-arms
        # until the next descriptor-carrying remove replays.
        def _writer_stamped(t: Optional[RemoveAction]) -> bool:
            return bool(
                t is not None
                and t.deletion_vector
                and not (t.tags or {}).get(
                    RemoveAction.REPLAY_ARCHIVE_TAG
                )
            )

        def _archive_tags() -> dict:
            # fresh dict per synthesized tombstone: the tags dict is
            # carried by reference into snapshot state, the snapshot
            # cache, and to_json output — a shared instance would let
            # one consumer's mutation rewrite every synthesized
            # tombstone's classification (review r11)
            return {RemoveAction.REPLAY_ARCHIVE_TAG: "replay"}
        dv_tombs = sum(
            1 for t in tombstones.values() if _writer_stamped(t)
        )
        heuristic_armed = dv_tombs == 0

        def _begin_unit() -> None:
            nonlocal commit_seq, heuristic_armed
            commit_seq += 1
            heuristic_armed = dv_tombs == 0

        def _apply(action: dict) -> None:
            nonlocal metadata, protocol, dv_tombs
            if "add" in action:
                a = AddAction.from_json(action["add"])
                old = adds.get(a.path)
                if (
                    old is not None
                    and old.deletion_vector
                    and dv_unique_id(old.deletion_vector)
                    != dv_unique_id(a.deletion_vector)
                ):
                    # same-path re-add superseding a DIFFERENT vector
                    # with no remove action in between (the RESTORE
                    # shape): archive the old descriptor so its bin
                    # keeps a logical deletion time for vacuum. The
                    # timestamp is the best DETERMINISTIC proxy replay
                    # has — the max of the two adds' modification
                    # times; a foreign RESTORE that preserves ancient
                    # mtimes on both sides under-protects (its own
                    # remove, when it writes one, carries the real
                    # time and overwrites this entry — setdefault/
                    # assignment ordering below).
                    tombstones.setdefault(
                        (a.path, dv_unique_id(old.deletion_vector)),
                        RemoveAction(
                            path=a.path,
                            deletion_timestamp=max(
                                a.modification_time,
                                old.modification_time,
                            ),
                            data_change=True,
                            deletion_vector=old.deletion_vector,
                            tags=_archive_tags(),
                            partition_values=old.partition_values,
                            size=old.size,
                        ),
                    )
                adds[a.path] = a
                add_seq[a.path] = commit_seq
                canceled = tombstones.pop(
                    (a.path, dv_unique_id(a.deletion_vector)), None
                )
                if _writer_stamped(canceled):
                    dv_tombs -= 1
            elif "remove" in action:
                r = RemoveAction.from_json(action["remove"])
                old = adds.get(r.path)
                if old is not None:
                    if dv_unique_id(old.deletion_vector) == dv_unique_id(
                        r.deletion_vector
                    ):
                        # the remove targets the live add's exact
                        # (path, dvId) identity
                        adds.pop(r.path)
                    elif (
                        r.deletion_vector is None
                        and old.deletion_vector
                        and add_seq.get(r.path, 0) < commit_seq
                        and heuristic_armed
                    ):
                        # legacy remove (pre-descriptor writers never
                        # stamp one) from a LATER commit than the live
                        # add: it targets that add whatever its vector
                        # — pop it and synthesize the dv tombstone so
                        # the bin keeps retention. Same-commit
                        # descriptor-less removes stay kernel-strict
                        # (see commit_seq above).
                        adds.pop(r.path)
                        arch_key = (
                            r.path, dv_unique_id(old.deletion_vector),
                        )
                        if _writer_stamped(tombstones.get(arch_key)):
                            dv_tombs -= 1
                        tombstones[arch_key] = RemoveAction(
                            path=r.path,
                            deletion_timestamp=r.deletion_timestamp,
                            data_change=r.data_change,
                            deletion_vector=old.deletion_vector,
                            tags=_archive_tags(),
                            partition_values=old.partition_values,
                            size=old.size,
                        )
                    # else: a remove of a STALE vector identity while a
                    # DIFFERENT (path, dvId) is live — e.g. a conforming
                    # writer ordering add(path, dvNew) before
                    # remove(path, dvOld) in one MoR commit. Delta's
                    # reconciliation is keyed by (path, dvId), so the
                    # live add survives; popping it here would vanish
                    # every surviving row of the file.
                r_key = (r.path, dv_unique_id(r.deletion_vector))
                if _writer_stamped(tombstones.get(r_key)):
                    dv_tombs -= 1
                if _writer_stamped(r):
                    dv_tombs += 1
                tombstones[r_key] = r
            elif "metaData" in action:
                metadata = Metadata.from_json(action["metaData"])
            elif "protocol" in action:
                protocol = Protocol.from_json(action["protocol"])
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    domains.pop(dm.get("domain", ""), None)
                else:
                    domains[dm.get("domain", "")] = dm.get(
                        "configuration", ""
                    )
            elif "txn" in action:
                t = action["txn"]
                app = t.get("appId")
                if app is not None:
                    # latest-wins per the spec's reconciliation rule —
                    # see the checkpoint decoder (delta/checkpoint.py)
                    # for why max was wrong (version-reset apps)
                    txns[app] = int(t.get("version", 0))

        # Log-compaction files (spec: Log Compaction Files): a range
        # whose start ALIGNS with the replay position substitutes one
        # file read for the whole commit range — O(#compactions)
        # instead of O(#commits) between checkpoints, and commits that
        # log cleanup already deleted replay through their covering
        # compaction. Only aligned ranges are usable (an overlapping
        # range would re-apply state from before the replay position);
        # per start, the LARGEST covered end wins. The scan is GATED on
        # a cache miss: the incremental-cache hot path (streaming
        # polls, per-commit checksums) replays O(1) new commits and
        # must not pay a second directory LIST per snapshot (the
        # invariant _cache_lookup exists for).
        compacted: dict[int, int] = {}
        if cached is None:
            for cs, ce in self.compacted_ranges():
                if ce <= version:
                    compacted[cs] = max(ce, compacted.get(cs, -1))
        versions_set = set(versions)
        v = start
        while v <= version:
            ce = compacted.get(v)
            if ce is not None:
                # one seq for the whole range is sound: compacted
                # files emit their adds BEFORE their removes (the
                # state-diff compactor may legitimately hold both for
                # one path — shield re-adds plus exact-identity
                # removes), so an in-unit add sets add_seq ==
                # commit_seq and the legacy descriptor-less-remove
                # heuristic below (seq < commit_seq) can never evict it
                _begin_unit()
                for action in self.read_compacted_actions(v, ce):
                    _apply(action)
                v = ce + 1
                continue
            if v not in versions_set and v > 0:
                # gap in the log: replay always starts ABOVE the
                # chosen checkpoint / cache anchor, and legitimate log
                # cleanup only ever deletes commits a checkpoint or an
                # aligned compaction range covers — so a missing commit
                # here is corruption (or a checkpoint mislabeled past
                # the classic latest) and silently skipping it would
                # serve data-loss state as a valid snapshot
                raise ValueError(f"Missing commit {v} in {self.log_path}")
            _begin_unit()
            for action in self.read_commit_actions(v):
                _apply(action)
            v += 1

        if metadata is None:
            raise ValueError(
                f"Table {self.table_path} has no metaData action up to "
                f"version {version}"
            )

        # Coordinated commits (delta/coordinated.py): a LATEST read on
        # a coordinated table merges the accepted-but-unbackfilled
        # staged tail from the coordinator on top of the backfilled
        # replay — without this, a reader could miss accepted commits
        # whose backfill is deferred. An unknown coordinator name
        # raises (reading past the coordinator silently drops commits).
        # Explicit time travel resolves against BACKFILLED history only
        # (documented: the travel ledger is the classic file log).
        staged_applied = False
        staged_anchor_rel = None
        if want_latest:
            from dask_deltalake_spark.delta.coordinated import (
                OrphanedStagedCommitsError,
                STAGED_DIR,
                coordinator_from_metadata,
                list_staged_versions,
                read_staged_commit_actions,
            )

            co = coordinator_from_metadata(metadata)
            if co is not None:
                impl, _conf = co
                for sv, sname in impl.get_commits(metadata.id, v):
                    if sv != v:
                        if sv < v:
                            continue  # already backfilled + replayed
                        break  # gap in the staged tail: stop merging
                    _begin_unit()
                    for action in read_staged_commit_actions(
                        self.store, self.log_path, sv, sname
                    ):
                        _apply(action)
                    version = sv
                    staged_applied = True
                    staged_anchor_rel = os.path.join(STAGED_DIR, sname)
                    v = sv + 1
                if cached is None and not impl.knows_table(metadata.id):
                    # crash recovery (coordinated.py module docstring):
                    # the coordinator has NO memory of this table —
                    # staged files above the acknowledged tail are
                    # accepted commits whose ledger died with the old
                    # coordinator (or a crashed writer's junk; the
                    # filesystem cannot tell). Reading past them would
                    # silently drop accepted commits, and a write
                    # would re-issue their versions and fork the log —
                    # refuse and point at the recovery tools. Gated on
                    # a cache miss + unknown table: the steady-state
                    # hot path pays no staged-dir LIST.
                    orphans = [
                        sv
                        for sv, _n in list_staged_versions(
                            self.store, self.log_path
                        )
                        if sv > version
                    ]
                    if orphans:
                        raise OrphanedStagedCommitsError(
                            f"{self.table_path}: staged commits "
                            f"{orphans} exist above the coordinator-"
                            f"acknowledged version {version}, and the "
                            "coordinator has no record of this table "
                            "(process restart?). Run "
                            "recover_staged_commits() to adopt them, "
                            "or delete the files if they are a "
                            "crashed writer's junk."
                        )

        if staged_applied:
            # staged-inclusive snapshots cache too — anchored on the
            # LAST staged file (backfill deletes it → cache invalid →
            # cold replay picks up the classic files). Without this, a
            # deferred-backfill table re-reads its whole staged tail
            # on every read — the O(#commits) planning cost the cache
            # exists to prevent.
            self._cache_store(
                version,
                (adds, tombstones, metadata, protocol, domains, txns),
                anchor_rel=staged_anchor_rel,
            )
        elif version == versions[-1]:
            from dask_deltalake_spark.delta.coordinated import (
                COORDINATOR_PROP,
            )

            if want_latest or not (
                metadata.configuration or {}
            ).get(COORDINATOR_PROP):
                # an EXPLICIT-version read of a coordinated table must
                # not warm the cache: it skipped the staged-tail merge
                # AND the orphaned-staged-commit gate above, so a
                # subsequent latest read consuming this entry would
                # bypass the crash-recovery refusal and silently serve
                # state missing accepted staged commits. The gate is
                # contracted to run on every cache-MISS latest read —
                # only gate-passing reads may warm the cache.
                self._cache_store(
                    version,
                    (adds, tombstones, metadata, protocol, domains, txns),
                )
        # public projection: one tombstone per REMOVED path (latest
        # wins; a path that is live again is not a vacuum candidate),
        # with the full (path, dvId)-keyed set kept on tombstones_all
        # for DV-retention accounting and checkpoint persistence
        public_tombs: dict[str, RemoveAction] = {}
        for (p, _uid), r in tombstones.items():
            if p in adds:
                continue
            prev = public_tombs.get(p)
            if prev is None or r.deletion_timestamp >= prev.deletion_timestamp:
                public_tombs[p] = r
        return Snapshot(
            path=self.table_path,
            version=version,
            metadata=metadata,
            protocol=protocol or Protocol(),
            files=adds,
            tombstones=public_tombs,
            domain_metadata=domains,
            transactions=txns,
            tombstones_all=list(tombstones.values()),
        )

    # -- snapshot cache ---------------------------------------------------

    def _cache_lookup(self, versions: list[int]):
        """Validated cached replay state for this table, as COPIES plus
        the next version to replay — or None (miss / stale / invalid).
        Validation: the anchor commit file still exists with the mtime
        recorded at cache time (detects a table recreated in place)."""
        entry = _SNAPSHOT_CACHE.get(self.table_path)
        if entry is None:
            return None
        cv, anchor_rel, cmtime, state = entry
        staged_anchor = anchor_rel != commit_filename(cv)
        if not staged_anchor and (cv not in versions or cv > versions[-1]):
            _SNAPSHOT_CACHE.pop(self.table_path, None)
            return None
        try:
            mtime = self.store.mtime(os.path.join(self.log_path, anchor_rel))
        except OSError:
            _SNAPSHOT_CACHE.pop(self.table_path, None)
            return None
        if mtime != cmtime:
            _SNAPSHOT_CACHE.pop(self.table_path, None)
            return None
        adds, tombstones, metadata, protocol, domains, txns = state
        return (
            dict(adds),
            dict(tombstones),
            metadata,
            protocol,
            dict(domains),
            dict(txns),
            cv + 1,
            staged_anchor,
        )

    def _cache_store(
        self, version: int, state: tuple, anchor_rel: Optional[str] = None
    ) -> None:
        """Cache replay state anchored on a log file's mtime: the
        classic commit file by default, or (staged-inclusive
        snapshots) the last applied STAGED file — whose deletion at
        backfill time invalidates the entry by construction."""
        anchor_rel = anchor_rel or commit_filename(version)
        try:
            mtime = self.store.mtime(os.path.join(self.log_path, anchor_rel))
        except OSError:
            return
        adds, tombstones, metadata, protocol, domains, txns = state
        _SNAPSHOT_CACHE.pop(self.table_path, None)
        # COPIES: the returned Snapshot owns its dicts; a caller
        # mutating them must never reach the cache
        _SNAPSHOT_CACHE[self.table_path] = (
            version,
            anchor_rel,
            mtime,
            (
                dict(adds),
                dict(tombstones),
                metadata,
                protocol,
                dict(domains),
                dict(txns),
            ),
        )
        while len(_SNAPSHOT_CACHE) > _SNAPSHOT_CACHE_MAX:
            _SNAPSHOT_CACHE.pop(next(iter(_SNAPSHOT_CACHE)))

    # -- history ----------------------------------------------------------

    def commit_infos(self) -> list[dict[str, Any]]:
        """One commitInfo dict per version (empty dict if a commit has
        none), newest last; each is augmented with `version`. On a
        coordinated table, the accepted-but-unbackfilled staged tail is
        merged in (delta/coordinated.py) — history must show the same
        commits a latest snapshot reflects."""
        out = []
        for v in self.versions():
            info: dict[str, Any] = {}
            for action in self.read_commit_actions(v):
                if "commitInfo" in action:
                    info = dict(action["commitInfo"])
                    break
            info["version"] = v
            out.append(info)
        last = out[-1]["version"] if out else -1
        try:
            # an unknown-coordinator ValueError propagates from here:
            # history silently missing accepted commits is exactly the
            # condition the refusal exists for
            snap_meta = self.snapshot().metadata
        except DeltaTableNotFoundError:
            return out
        from dask_deltalake_spark.delta.coordinated import (
            coordinator_from_metadata,
            read_staged_commit_actions,
        )

        co = coordinator_from_metadata(snap_meta)
        if co is not None:
            for sv, sname in co[0].get_commits(snap_meta.id, last + 1):
                info = {}
                for a in read_staged_commit_actions(
                    self.store, self.log_path, sv, sname
                ):
                    if "commitInfo" in a:
                        info = dict(a["commitInfo"])
                        break
                info["version"] = sv
                out.append(info)
        return out
