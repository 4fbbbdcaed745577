"""``ingest`` workload: writes beside reads on orders-shaped rows.

Two tables start from the same seeded base rows: one copy-on-write and
one with deletion vectors enabled (merge-on-read). Each round runs the
seeded op stream of ``gen.ingest_round``: two appends and a merge
upsert on the copy-on-write table, an update and a delete on each
table, and an OPTIMIZE and a VACUUM of the first; the default 10-commit
auto-checkpoint fires as the commits accumulate. Between them run one
aggregate read per bucket and cheap metadata ops. An in-memory model
applies the same ops: every read must equal it exactly, and after the
last round a full read-back of each table must equal it row for row
and the version checksum of each table's final version must validate.
"""

from __future__ import annotations

import itertools
import json
import math
import os

import numpy as np
import pyarrow.parquet as pq

import gen
from common import plan, prune_ok, same_rows
from harness import Workload, interleave

BASE_ROWS = 20_000
APPEND_ROWS = 2_000
MERGE_ROWS = 800
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_priority", "o_bucket"]


class Model:
    """The table as a dict: key -> row tuple (without the key)."""

    def __init__(self):
        self.rows = {}

    def upsert(self, table) -> int:
        changed = 0
        for r in zip(*(table.column(c).to_pylist() for c in COLUMNS)):
            changed += 1
            self.rows[r[0]] = r[1:]
        return changed

    def update(self, status: str, bucket: int, add: float) -> int:
        hit = [k for k, r in self.rows.items() if r[1] == status and r[4] == bucket]
        for k in hit:
            r = self.rows[k]
            self.rows[k] = (r[0], r[1], r[2] + add, r[3], r[4])
        return len(hit)

    def delete(self, lo: int, hi: int) -> int:
        hit = [k for k in self.rows if lo <= k < hi]
        for k in hit:
            del self.rows[k]
        return len(hit)

    def sorted_rows(self) -> list[tuple]:
        return [(k, *self.rows[k]) for k in sorted(self.rows)]


class Ingest(Workload):
    round_s = 7.0

    def prepare(self) -> None:
        self.paths = {t: f"{self.work}/orders-{t}" for t in ("cow", "mor")}
        self.src = f"{self.work}/source"
        os.makedirs(self.src)
        self.models = {}
        self.next_key = BASE_ROWS
        self.n_writes = itertools.count()

    def setup(self) -> None:
        """Both tables start from the same base rows; the copy-on-write
        table gets an append, a checkpoint and another append, so time
        travel reaches a JSON-only version (0) and a checkpoint-anchored
        one with a JSON tail (2)."""
        base = gen.orders(self.seed, np.arange(BASE_ROWS), "base")
        for t, path in self.paths.items():
            self.models[t] = Model()
            conf = {"delta.enableDeletionVectors": "true"} if t == "mor" else None
            self.write(path, base, self.models[t], mode="overwrite", configuration=conf)
        self.append(np.arange(self.next_key, self.next_key + APPEND_ROWS), "setup1")
        self.rec.op("checkpoint", lambda: self.ddl.create_checkpoint(self.paths["cow"]))
        self.append(np.arange(self.next_key, self.next_key + APPEND_ROWS), "setup2")

    def round(self, i: int) -> None:
        """The op stream and the bucket reads, with cheap metadata ops
        spread between them."""
        ops = gen.ingest_round(self.seed, i, self.next_key, APPEND_ROWS, MERGE_ROWS)
        heavy = [lambda op=op: self.run_op(op) for op in ops]
        for b in range(8):  # reads of one bucket beside the writes
            heavy.insert(b * len(heavy) // 8, lambda b=b: self.bucket_query(b))
        interleave(heavy, *self.metadata_ops(self.paths["cow"]))

    def run_op(self, op: dict) -> None:
        from pyspark.sql import functions as F

        ddl, rec, spark = self.ddl, self.rec, self.spark
        kind, path, m = op["kind"], self.paths[op["table"]], self.models[op["table"]]
        if kind == "append":
            self.append(op["keys"], op["stream"])
        elif kind == "merge":
            src = gen.orders(self.seed, op["keys"], op["stream"])
            df = self.source(src, op["stream"])
            self.mutate(path, "merge", lambda: rec.call(
                "delta.mutate.merge", ddl.merge_into, path, df, ["o_orderkey"], spark=spark),
                lambda: m.upsert(src), user_rows=src.num_rows, user_bytes=src.nbytes)
            self.next_key = max(self.next_key, int(op["keys"].max()) + 1)
        elif kind == "update":
            self.mutate(path, "update", lambda: rec.call(
                "delta.mutate.update", ddl.update_where, path,
                [("o_orderstatus", "==", op["status"]), ("o_bucket", "==", op["bucket"])],
                {"o_totalprice": F.col("o_totalprice") + F.lit(op["add"])}, spark=spark,
                strategy=_strategy(op["table"])),
                lambda: m.update(op["status"], op["bucket"], op["add"]))
        elif kind == "delete":
            self.mutate(path, "delete", lambda: rec.call(
                "delta.mutate.delete", ddl.delete_where, path,
                [("o_orderkey", ">=", op["lo"]), ("o_orderkey", "<", op["hi"])], spark=spark,
                strategy=_strategy(op["table"])),
                lambda: m.delete(op["lo"], op["hi"]))
        elif kind == "optimize":
            rec.op("optimize", lambda: rec.call("delta.maintenance.optimize", ddl.optimize,
                                                path, spark=spark), tables=[path])
        elif kind == "vacuum":
            rec.op("vacuum", lambda: rec.call(
                "delta.maintenance.vacuum", ddl.vacuum, path, retention_hours=0,
                dry_run=False, spark=spark), tables=[path])

    def source(self, table, name: str):
        f = f"{self.src}/{name}.parquet"
        pq.write_table(table, f)
        return self.spark.read.parquet(f)

    def append(self, keys, stream: str) -> None:
        table = gen.orders(self.seed, keys, stream)
        self.write(self.paths["cow"], table, self.models["cow"])
        self.next_key = max(self.next_key, int(keys.max()) + 1)

    def write(self, path, table, model, mode="append", configuration=None) -> None:
        df = self.source(table, f"write-{next(self.n_writes)}")

        def apply_model(_) -> bool:
            model.upsert(table)
            return True

        self.rec.op("append", lambda: self.rec.call(
            "delta.writer.to_delta", self.ddl.to_delta, df, path, mode=mode,
            partition_by=["o_bucket"], configuration=configuration),
            tables=[path], user_rows=table.num_rows, user_bytes=table.nbytes, check=apply_model)

    def mutate(self, path, kind, fn, apply_model, user_rows=0, user_bytes=0) -> None:
        """A DML op; after it, count the files its commit removed and
        the rows those files held, against the rows the model says
        changed."""
        rec = self.rec
        before = None
        if rec.measuring and rec.traced_round:
            from dask_deltalake_spark.delta.log import DeltaLog

            before = DeltaLog(path).snapshot()

        def check(res) -> bool:
            changed = apply_model()
            if before is not None:
                # a DML op that matched nothing commits nothing and
                # returns the version it read
                removed = (_commit_removes(path, res["version"])
                           if res["version"] > before.version else [])
                rec.count("delta.mutate.files_rewritten", len(removed))
                rec.count("delta.mutate.rows_changed", changed)
                rec.count("delta.mutate.rows_in_touched_files", sum(
                    json.loads(before.files[p].stats)["numRecords"]
                    for p in removed if p in before.files))
            return True

        rec.op(kind, fn, tables=[path], check=check, user_rows=user_rows, user_bytes=user_bytes)

    def metadata_ops(self, path: str) -> list[list]:
        """Cheap metadata ops on ``path``, one list per kind, repeated so
        their medians are steady: time travel to a JSON-only and to a
        checkpoint-anchored version, explicit checkpoints, warm opens,
        plans, a history read."""
        from dask_deltalake_spark.delta.log import DeltaLog

        rec, ddl = self.rec, self.ddl

        def open_cold():
            rec.op("open_cold", lambda: rec.call(
                "delta.log.snapshot_checkpoint", DeltaLog(path).snapshot, version=2),
                check=lambda s: s.version == 2)

        def open_json():
            rec.op("open_json", lambda: rec.call(
                "delta.log.snapshot_json", DeltaLog(path).snapshot, version=0),
                check=lambda s: len(s.files) > 0)

        def checkpoint():
            rec.op("checkpoint", lambda: rec.call(
                "delta.maintenance.create_checkpoint", ddl.create_checkpoint, path),
                tables=[path])

        def open_warm():
            rec.op("open_warm", lambda: rec.call(
                "delta.log.snapshot_warm", DeltaLog(path).snapshot),
                check=lambda s: len(s.files) > 0)

        def history():
            rec.op("history", lambda: rec.call(
                "delta.maintenance.history", ddl.read_delta_history, path),
                check=lambda h: len(h) == DeltaLog(path).latest_version() + 1)

        plans = []
        for b in range(16):
            dnf = [[("o_bucket", "in", [b % 8, (b + 3) % 8]), ("o_orderkey", "<", 10_000)]]
            plans.append(lambda dnf=dnf: rec.op("plan", lambda: plan(rec, path, dnf),
                                                check=lambda res: prune_ok(*res, dnf)))
        return [[open_cold] * 6, [open_json] * 6, [checkpoint] * 6, [open_warm] * 16, plans,
                [history]]

    def read_back(self, path: str, model: Model) -> None:
        rec = self.rec

        def run():
            df = rec.call("delta.reader.build", self.ddl.read_delta, path, spark=self.spark)
            return rec.call("spark.execute", df.select(*COLUMNS).toArrow), df

        def check(res) -> bool:
            tbl, df = res
            if rec.tracing:
                rec.count("delta.reader.files_selected", len(df.inputFiles()))
            got = sorted(zip(*(tbl.column(c).to_pylist() for c in COLUMNS)))
            return got == model.sorted_rows()

        rec.op("readback", run, check=check)

    def bucket_query(self, bucket: int) -> None:
        """Count and total price of one bucket of the copy-on-write table."""
        from pyspark.sql import functions as F

        rec, model = self.rec, self.models["cow"]

        def run():
            df = rec.call("delta.reader.build", self.ddl.read_delta, self.paths["cow"],
                          spark=self.spark, filter=[("o_bucket", "==", bucket)])
            return rec.call("spark.execute", df.agg(F.count("*"), F.sum("o_totalprice")).collect), df

        def check(res) -> bool:
            rows, df = res
            if rec.tracing:
                rec.count("delta.reader.files_selected", len(df.inputFiles()))
            prices = [r[2] for r in model.rows.values() if r[4] == bucket]
            return same_rows([tuple(r) for r in rows], [(len(prices), math.fsum(prices))])

        rec.op("query", run, check=check)

    def finish(self) -> None:
        """Each final table equals its model row for row, and the
        version checksum of its final version validates."""
        for t, path in self.paths.items():
            self.read_back(path, self.models[t])
            self.rec.op("validate", lambda path=path: self.ddl.validate_version_checksum(path),
                        check=lambda res: res["valid"])


def _strategy(table: str) -> str:
    return "merge-on-read" if table == "mor" else "copy-on-write"


def _commit_removes(path: str, version: int) -> list[str]:
    from urllib.parse import unquote

    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as fh:
        return [unquote(a["remove"]["path"]) for a in map(json.loads, fh) if "remove" in a]
