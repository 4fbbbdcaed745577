"""Seeded input generators for the engine benchmark.

Everything the benchmark feeds the engine is made here from the run's
seed: the same seed gives byte-identical rows, op sequences and
synthetic ``_delta_log`` directories. The engine never sees the seed.
"""

from __future__ import annotations

import json
import os
import uuid
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so adding a draw to one
    generator never shifts another's inputs."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


# -- ingest: orders-shaped rows and a DML op sequence --------------------

ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def orders(seed: int, keys: np.ndarray, stream: str) -> pa.Table:
    r = _rng(seed, stream)
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": r.integers(1, 15_001, n).astype(np.int64),
            "o_orderstatus": ORDER_STATUS[r.integers(0, 3, n)],
            "o_totalprice": np.round(r.uniform(1_000.0, 400_000.0, n), 2),
            "o_priority": PRIORITY[r.integers(0, 5, n)],
            "o_bucket": (keys % 8).astype(np.int32),
        }
    )


def ingest_round(seed: int, i: int, next_key: int, append_rows: int, merge_rows: int) -> list[dict]:
    """Round ``i`` of the ingest op stream: an append, a merge upsert and
    another append on the copy-on-write table, an update and a delete
    on each table, then an OPTIMIZE and a VACUUM of the copy-on-write
    table.
    ``next_key`` is the first unused key. Keys are dense, so an append
    inserts new keys and a merge mixes existing keys (updates) with new
    ones."""
    r = _rng(seed, f"ingest-round{i}")
    n_new = merge_rows // 4
    ops = [
        {"kind": "append", "table": "cow", "keys": np.arange(next_key, next_key + append_rows),
         "stream": f"a{i}"},
        {"kind": "merge", "table": "cow", "stream": f"m{i}", "keys": np.concatenate([
            np.sort(r.choice(next_key, merge_rows - n_new, replace=False)),
            np.arange(next_key + append_rows, next_key + append_rows + n_new)])},
        {"kind": "append", "table": "cow", "stream": f"b{i}", "keys": np.arange(
            next_key + append_rows + n_new, next_key + 2 * append_rows + n_new)},
    ]
    for table in ("cow", "mor"):
        ops.append({"kind": "update", "table": table, "status": str(r.choice(ORDER_STATUS)),
                    "bucket": int(r.integers(0, 8)), "add": float(r.integers(1, 400)) / 4})
        lo = int(r.integers(0, next_key - 200))
        ops.append({"kind": "delete", "table": table, "lo": lo, "hi": lo + 150})
    ops.append({"kind": "optimize", "table": "cow"})
    ops.append({"kind": "vacuum", "table": "cow"})
    return ops


# -- log-scale: a synthetic _delta_log ----------------------------------

LOG_SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "bucket", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "value", "type": "double", "nullable": True, "metadata": {}},
        {"name": "name", "type": "string", "nullable": True, "metadata": {}},
    ],
}
HOT_BUCKET = 1000  # the one partition whose files exist on disk
APPEND_BUCKET = 1001  # where the benchmark's 1-row appends land
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


class SyntheticLog:
    """A Delta log of ``n_commits`` commits of ``adds_per_commit``
    synthetic adds each, plus a first commit holding a few real files
    in partition ``HOT_BUCKET``. Synthetic adds carry partition values,
    typed min/max/nullCount stats, and a fraction carry deletion-vector
    descriptors; later commits remove some earlier files. No synthetic
    add has a data file: only the hot files exist.

    The generator also keeps every live add's partition value and
    stats ranges as numpy arrays, which the benchmark uses to evaluate
    pruning predicates by brute force."""

    def __init__(self, seed: int, n_commits: int, adds_per_commit: int, buckets: int,
                 hot_files: int = 8, hot_rows: int = 2000, dv_frac: float = 0.05,
                 removes_per_commit: int = 10):
        self.seed = seed
        self.n_commits = n_commits
        self.buckets = buckets
        r = _rng(seed, "synthetic-log")
        n = n_commits * adds_per_commit
        self.n = n
        self.version_of = np.repeat(np.arange(1, n_commits + 1), adds_per_commit)
        self.bucket = r.integers(0, buckets, n).astype(np.int64)
        self.id_lo = np.arange(n, dtype=np.int64) * 1000 + r.integers(0, 200, n)
        self.id_hi = self.id_lo + r.integers(100, 2000, n)
        self.val_lo = np.round(r.uniform(-1000.0, 900.0, n), 3)
        self.val_hi = np.round(self.val_lo + r.uniform(0.0, 100.0, n), 3)
        names = LETTERS[r.integers(0, 26, (n, 2))]
        self.name_lo = np.char.add(names[:, 0], "aa")
        self.name_hi = np.char.add(names[:, 0], "zz")
        self.rows = r.integers(1000, 5000, n)
        self.size = self.rows * 24 + 512
        self.has_dv = r.random(n) < dv_frac
        tags = r.integers(0, 2**63, n)
        self.paths = np.array(
            [f"bucket={b}/part-{i:06d}-{uuid.UUID(int=int(t) << 64 | i)}.c000.snappy.parquet"
             for i, (b, t) in enumerate(zip(self.bucket, tags))]
        )
        # removes: from the middle commit on, each commit drops a few
        # earlier DV-free files
        self.removed_at = np.zeros(n, dtype=np.int64)  # 0 = live
        for v in range(n_commits // 2, n_commits + 1):
            pool = np.flatnonzero((self.version_of < v) & (self.removed_at == 0) & ~self.has_dv)
            gone = r.choice(pool, removes_per_commit, replace=False)
            self.removed_at[gone] = v
        self.hot_files = hot_files
        self.hot_rows = hot_rows

    # -- rows of the real hot files, for the query oracle --

    def hot_table(self, i: int) -> pa.Table:
        r = _rng(self.seed, f"hot{i}")
        base = -(i + 1) * 1_000_000
        ids = base + np.sort(r.choice(500_000, self.hot_rows, replace=False)).astype(np.int64)
        return pa.table({
            "id": ids,
            "value": np.round(r.uniform(-50.0, 50.0, self.hot_rows), 3),
            "name": np.char.add(LETTERS[r.integers(0, 26, self.hot_rows)], "x"),
        })

    # -- actions --

    def _stats(self, i: int) -> str:
        return json.dumps({
            "numRecords": int(self.rows[i]),
            "minValues": {"id": int(self.id_lo[i]), "value": float(self.val_lo[i]), "name": str(self.name_lo[i])},
            "maxValues": {"id": int(self.id_hi[i]), "value": float(self.val_hi[i]), "name": str(self.name_hi[i])},
            "nullCount": {"id": 0, "value": int(self.rows[i] // 100), "name": 0},
        }, separators=(",", ":"))

    def _dv(self, i: int) -> dict | None:
        if not self.has_dv[i]:
            return None
        return {"storageType": "u", "pathOrInlineDv": f"ab^-aqEH.-t@S}}K{i:09d}",
                "offset": 1, "sizeInBytes": 36, "cardinality": int(1 + i % 7)}

    def add_action(self, i: int) -> dict:
        a = {"path": str(self.paths[i]), "partitionValues": {"bucket": str(int(self.bucket[i]))},
             "size": int(self.size[i]), "modificationTime": 1_700_000_000_000 + i,
             "dataChange": True, "stats": self._stats(i)}
        dv = self._dv(i)
        if dv is not None:
            a["deletionVector"] = dv
        return a

    def _remove(self, i: int, v: int) -> dict:
        return {"path": str(self.paths[i]), "deletionTimestamp": 1_700_000_000_000 + v,
                "dataChange": True, "extendedFileMetadata": True,
                "partitionValues": {"bucket": str(int(self.bucket[i]))}, "size": int(self.size[i])}

    def _protocol(self) -> dict:
        return {"minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"], "writerFeatures": ["deletionVectors"]}

    def _metadata(self) -> dict:
        return {"id": str(uuid.UUID(int=self.seed)), "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(LOG_SCHEMA), "partitionColumns": ["bucket"],
                "configuration": {}, "createdTime": 1_700_000_000_000}

    def _commit_info(self, v: int, op: str) -> dict:
        return {"timestamp": 1_700_000_000_000 + v * 1000, "operation": op,
                "operationParameters": {}, "isBlindAppend": op == "WRITE"}

    def write(self, table: str) -> dict:
        """Write the JSON log and the hot files under ``table``.
        Returns ``{hot path: pyarrow table}``."""
        log = os.path.join(table, "_delta_log")
        os.makedirs(os.path.join(table, f"bucket={HOT_BUCKET}"), exist_ok=True)
        os.makedirs(log, exist_ok=True)
        hot: dict[str, pa.Table] = {}
        hot_adds = []
        for i in range(self.hot_files):
            t = self.hot_table(i)
            rel = f"bucket={HOT_BUCKET}/hot-{i:02d}.parquet"
            pq.write_table(t, os.path.join(table, rel))
            hot[rel] = t
            ids, vals = t.column("id").to_numpy(), t.column("value").to_numpy()
            names = t.column("name").to_pylist()
            hot_adds.append({
                "path": rel, "partitionValues": {"bucket": str(HOT_BUCKET)},
                "size": os.path.getsize(os.path.join(table, rel)),
                "modificationTime": 1_700_000_000_000, "dataChange": True,
                "stats": json.dumps({
                    "numRecords": t.num_rows,
                    "minValues": {"id": int(ids.min()), "value": float(vals.min()), "name": min(names)},
                    "maxValues": {"id": int(ids.max()), "value": float(vals.max()), "name": max(names)},
                    "nullCount": {"id": 0, "value": 0, "name": 0},
                }, separators=(",", ":")),
            })
        self.hot_adds = hot_adds
        lines0 = [{"commitInfo": self._commit_info(0, "CREATE TABLE")},
                  {"protocol": self._protocol()}, {"metaData": self._metadata()}]
        lines0 += [{"add": a} for a in hot_adds]
        _write_commit(log, 0, lines0)
        for v in range(1, self.n_commits + 1):
            idx = np.flatnonzero(self.version_of == v)
            lines = [{"commitInfo": self._commit_info(v, "WRITE")}]
            lines += [{"remove": self._remove(int(i), v)} for i in np.flatnonzero(self.removed_at == v)]
            lines += [{"add": self.add_action(int(i))} for i in idx]
            _write_commit(log, v, lines)
        return hot

    def live(self, version: int) -> np.ndarray:
        """Indices of synthetic adds live at ``version``."""
        return np.flatnonzero((self.version_of <= version)
                              & ((self.removed_at == 0) | (self.removed_at > version)))

    def write_checkpoint(self, table: str, version: int) -> None:
        """Write a classic single-file checkpoint of ``version`` and
        ``_last_checkpoint`` into the log ``write`` made."""
        log = os.path.join(table, "_delta_log")
        live = self.live(version)
        tomb = np.flatnonzero((self.removed_at > 0) & (self.removed_at <= version))
        pv_type = pa.map_(pa.string(), pa.string())
        dv_type = pa.struct([("storageType", pa.string()), ("pathOrInlineDv", pa.string()),
                             ("offset", pa.int32()), ("sizeInBytes", pa.int32()),
                             ("cardinality", pa.int64())])
        add_type = pa.struct([("path", pa.string()), ("partitionValues", pv_type),
                              ("size", pa.int64()), ("modificationTime", pa.int64()),
                              ("dataChange", pa.bool_()), ("stats", pa.string()),
                              ("deletionVector", dv_type)])
        remove_type = pa.struct([("path", pa.string()), ("deletionTimestamp", pa.int64()),
                                 ("dataChange", pa.bool_()), ("extendedFileMetadata", pa.bool_()),
                                 ("partitionValues", pv_type), ("size", pa.int64())])
        proto_type = pa.struct([("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
                                ("readerFeatures", pa.list_(pa.string())),
                                ("writerFeatures", pa.list_(pa.string()))])
        meta_type = pa.struct([("id", pa.string()),
                               ("format", pa.struct([("provider", pa.string()),
                                                     ("options", pv_type)])),
                               ("schemaString", pa.string()),
                               ("partitionColumns", pa.list_(pa.string())),
                               ("configuration", pv_type), ("createdTime", pa.int64())])

        def as_map(d: dict) -> list:
            return list(d.items())

        def add_row(a: dict) -> dict:
            return {**a, "partitionValues": as_map(a["partitionValues"]),
                    "deletionVector": a.get("deletionVector")}

        md = self._metadata()
        md["format"]["options"] = []
        md["configuration"] = []
        adds = [add_row(a) for a in self.hot_adds] + [add_row(self.add_action(int(i))) for i in live]
        removes = [{**self._remove(int(i), int(self.removed_at[i])),
                    "partitionValues": [("bucket", str(int(self.bucket[i])))]} for i in tomb]
        n = 2 + len(adds) + len(removes)

        def column(values: list, start: int, typ) -> pa.Array:
            full = [None] * n
            full[start:start + len(values)] = values
            return pa.array(full, typ)

        tbl = pa.table({
            "protocol": column([self._protocol()], 0, proto_type),
            "metaData": column([md], 1, meta_type),
            "add": column(adds, 2, add_type),
            "remove": column(removes, 2 + len(adds), remove_type),
        })
        pq.write_table(tbl, os.path.join(log, f"{version:020d}.checkpoint.parquet"))
        with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
            json.dump({"version": version, "size": n}, fh)

    def dnf(self, r: np.random.Generator, k: int) -> list[list[tuple]]:
        """Seeded prune predicate ``k``: an OR of two branches, each a
        two-bucket partition range ANDed with a stats predicate. The two
        ranges never overlap, so four buckets pass partition pruning
        whatever the seed: the shape is the same for every seed (the
        seed moves the ranges and values only), so the pruning work does
        not depend on the seed."""
        pairs = iter(r.choice(self.buckets // 2, 2, replace=False).tolist())

        def branch(kind: int) -> list[tuple]:
            lo = 2 * next(pairs)
            preds = [("bucket", ">=", lo), ("bucket", "<=", lo + 1)]
            if kind == 0:
                preds.append(("id", ">=", int(r.integers(0, self.n * 1000))))
            elif kind == 1:
                preds.append(("value", "<", float(np.round(r.uniform(-1000, 0), 1))))
            else:
                preds.append(("name", "==", str(LETTERS[r.integers(0, 26)]) + "mm"))
            return preds
        return [branch(k % 3), branch((k + 1) % 3)]

    def brute_force(self, version: int, dnf: list[list[tuple]]) -> tuple[set[str], set[str]]:
        """Evaluate a DNF over the generator's own metadata. Returns
        ``(exact, two_stage)``: ``exact`` holds the files some AND-branch
        can match on partition value and [min, max] ranges together;
        ``two_stage`` the files that pass the partition predicates of
        some branch and the stats predicates of some branch. A sound
        pruner keeps every file of ``exact``; a partition-then-stats
        pruner keeps no file outside ``two_stage``. Only synthetic adds
        are evaluated: the real files sit in ``HOT_BUCKET`` and
        ``APPEND_BUCKET``, which no predicate from ``dnf`` reaches."""
        live = self.live(version)
        ranges = {"id": (self.id_lo[live], self.id_hi[live]),
                  "value": (self.val_lo[live], self.val_hi[live]),
                  "name": (self.name_lo[live], self.name_hi[live])}
        exact = np.zeros(len(live), dtype=bool)
        parts = np.zeros(len(live), dtype=bool)
        stats = np.zeros(len(live), dtype=bool)
        for conj in dnf:
            p_ok = np.ones(len(live), dtype=bool)
            s_ok = np.ones(len(live), dtype=bool)
            for col, op, val in conj:
                if col == "bucket":
                    p_ok &= _OPS[op](self.bucket[live], val)
                else:
                    lo, hi = ranges[col]
                    s_ok &= {"==": (lo <= val) & (val <= hi), "<": lo < val, "<=": lo <= val,
                             ">": hi > val, ">=": hi >= val}[op]
            exact |= p_ok & s_ok
            parts |= p_ok
            stats |= s_ok
        paths = self.paths[live]
        return set(paths[exact].tolist()), set(paths[parts & stats].tolist())


_OPS = {"==": np.equal, "<": np.less, "<=": np.less_equal, ">": np.greater, ">=": np.greater_equal}


def _write_commit(log: str, version: int, actions: list[dict]) -> None:
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a, separators=(",", ":")) for a in actions) + "\n")
