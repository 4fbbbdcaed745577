"""Engine calls and result checks shared by the workloads."""

from __future__ import annotations

import json
import math
import operator

CMP = {"==": operator.eq, "<": operator.lt, "<=": operator.le, ">": operator.gt, ">=": operator.ge}


def plan(rec, path: str, dnf):
    """Warm snapshot plus partition and stats pruning; returns the
    snapshot and the kept adds."""
    from dask_deltalake_spark.delta.log import DeltaLog
    from dask_deltalake_spark.delta.protocol import prune_by_stats, prune_partitions

    snap = rec.call("delta.log.snapshot_warm", DeltaLog(path).snapshot)
    adds = snap.add_actions
    parts = rec.call("delta.protocol.prune_partitions", prune_partitions, adds, dnf)
    kept = rec.call("delta.protocol.prune_by_stats", prune_by_stats, parts, dnf)
    rec.count("delta.protocol.files_in", len(adds))
    rec.count("delta.protocol.files_kept", len(kept))
    return snap, kept


def prune_ok(snap, kept, dnf) -> bool:
    """Brute-force check of a pruned file set: it must hold every file
    some AND-branch can match on its partition values and min/max
    stats together (nothing needed is dropped), and no file that fails
    the partition predicates of every branch, or the stats predicates
    of every branch (the two-stage pruner's documented precision).
    A pruner that gets more precise than two-stage still passes."""
    adds = list(snap.files.values())
    kept_paths = {a.path for a in kept}
    exact = {a.path for a in adds if any(all(
        _feasible(a, col, op, val) for col, op, val in conj) for conj in dnf)}
    parts = {a.path for a in adds if any(all(
        _feasible(a, col, op, val) for col, op, val in conj if col in a.partition_values) for conj in dnf)}
    stats = {a.path for a in adds if any(all(
        _feasible(a, col, op, val) for col, op, val in conj if col not in a.partition_values)
        for conj in dnf)}
    return exact <= kept_paths <= (parts & stats)


def _feasible(add, col: str, op: str, val) -> bool:
    """Can a row of this file satisfy ``col op val``? Partition
    columns compare exactly; other columns by their [min, max] range
    (a file without stats for the column may hold anything)."""
    if col in add.partition_values:
        raw = add.partition_values[col]
        if raw is None:
            return False
        x = type(val[0] if op == "in" else val)(raw)
        return x in val if op == "in" else CMP[op](x, val)
    stats = json.loads(add.stats) if add.stats else {}
    lo, hi = stats.get("minValues", {}).get(col), stats.get("maxValues", {}).get(col)
    if lo is None or hi is None:
        return True
    if op == "in":
        return any(lo <= v <= hi for v in val)
    if op == "==":
        return lo <= val <= hi
    return CMP[op](hi if op[0] == ">" else lo, val)


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive equality; floats equal to a relative ``rel``
    (sums over the same rows in another order)."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


def _key(row: tuple):
    return tuple((x is None, str(x) if not isinstance(x, (int, float)) else round(float(x), 3)) for x in row)
