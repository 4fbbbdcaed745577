"""``log-scale`` workload: the metadata layer on a large synthetic log.

Set-up writes the same seeded ``_delta_log`` twice: once JSON-only and
once with a classic checkpoint and a JSON tail (``gen.SyntheticLog``).
Only a handful of files in one partition exist on disk, so reads that
prune down to that partition work and everything else is metadata.
Each round opens an old version of the checkpoint-anchored log (time
travel bypasses the snapshot cache; traced rounds also open it on the
JSON-only log and read the full history), opens the latest through the
cache, prunes under
seeded predicates, reads the real partition, writes explicit
checkpoints and commits 1-row appends; every tenth pays the automatic
checkpoint. Checks: the checkpoint-anchored snapshot equals the
generator's own state (and, when traced, JSON replay at the same
version); pruned file sets match a brute-force evaluation over the
generator's metadata; reads match the rows written.
"""

from __future__ import annotations

import shutil

import numpy as np
import pyarrow as pa

import gen
from common import plan, same_rows
from harness import Workload, interleave

N_COMMITS = 50
ADDS_PER_COMMIT = 800  # 4 * 10^4 synthetic adds
BUCKETS = 50
CHECKPOINT_AT = 45
TRAVEL_TO = 49  # checkpoint 45 + JSON tail 46..49 on one log, 0..49 on the other
APPENDS_PER_ROUND = 8
PLANS_PER_ROUND = 8
READS_PER_ROUND = 8


class LogScale(Workload):
    round_s = 17.0

    def prepare(self) -> None:
        self.json_path = f"{self.work}/log-json"
        self.ckpt_path = f"{self.work}/log-checkpoint"
        self.log = gen.SyntheticLog(self.seed, N_COMMITS, ADDS_PER_COMMIT, BUCKETS)
        r = np.random.default_rng([self.seed, 7])
        self.dnfs = [self.log.dnf(r, k) for k in range(PLANS_PER_ROUND)]
        # each read selects exactly two hot files (file j holds ids in
        # [-(j+1)e6, -(j+1)e6 + 5e5)): all of file k, part of file k+1
        self.ranges = []
        for k in r.integers(1, self.log.hot_files - 1, READS_PER_ROUND):
            lo = -int(k + 2) * 1_000_000 + int(r.integers(0, 400_000))
            self.ranges.append((lo, lo + 1_500_000))
        self.appended = 0
        self.latest = N_COMMITS
        self.hot = self.log.write(self.json_path)
        shutil.copytree(self.json_path, self.ckpt_path)
        self.log.write_checkpoint(self.ckpt_path, CHECKPOINT_AT)
        self.hot_rows = pa.concat_tables(self.hot.values())

    def warm(self) -> None:
        """Fill the snapshot cache of the log the round works on and
        warm the read and write paths once."""
        from dask_deltalake_spark.delta.log import DeltaLog

        self.rec.op("open_warm", lambda: DeltaLog(self.ckpt_path).snapshot())
        self.rec.op("plan", lambda: plan(self.rec, self.ckpt_path, self.dnfs[0]))
        self.query(self.ranges[0])
        self.append()
        if self.rec.trace:
            self.rec.op("history", lambda: self.ddl.read_delta_history(self.ckpt_path))

    def round(self, i: int) -> None:
        """Two cold opens, two explicit checkpoints, the appends and, in
        traced rounds, a history read, with warm opens, prunes and reads
        spread between them."""
        from dask_deltalake_spark.delta.log import DeltaLog

        rec = self.rec

        def open_cold():
            self.cold = rec.op("open_cold", lambda: rec.call(
                "delta.log.snapshot_checkpoint", DeltaLog(self.ckpt_path).snapshot,
                version=TRAVEL_TO), check=self.snapshot_ok)

        def checkpoint():
            rec.op("checkpoint", lambda: rec.call(
                "delta.maintenance.create_checkpoint", self.ddl.create_checkpoint, self.ckpt_path),
                tables=[self.ckpt_path])

        heavy = [open_cold]
        if rec.traced_round:  # JSON replay of the same version: per-layer only
            heavy.append(lambda: rec.op("open_json", lambda: rec.call(
                "delta.log.snapshot_json", DeltaLog(self.json_path).snapshot, version=TRAVEL_TO),
                check=lambda s: self.snapshot_ok(s) and same_files(s, self.cold)))
        half = APPENDS_PER_ROUND // 2
        heavy += [checkpoint] + [self.append] * half + [open_cold, checkpoint]
        heavy += [self.append] * (APPENDS_PER_ROUND - half)
        if rec.traced_round:  # a full-log read: per-layer only
            heavy.append(lambda: rec.op("history", lambda: rec.call(
                "delta.maintenance.history", self.ddl.read_delta_history, self.ckpt_path),
                check=lambda h: len(h) == self.latest + 1))
        opens = [lambda: rec.op("open_warm", lambda: rec.call(
            "delta.log.snapshot_warm", DeltaLog(self.ckpt_path).snapshot),
            check=lambda s: s.version == self.latest)] * 10
        plans = [lambda dnf=dnf: rec.op("plan", lambda: plan(rec, self.ckpt_path, dnf),
                                        check=lambda res: self.prune_ok(res, dnf))
                 for dnf in self.dnfs]
        reads = [lambda rng=rng: self.query(rng) for rng in self.ranges]
        interleave(heavy, opens, plans, reads)

    # -- ops ---------------------------------------------------------------

    def query(self, rng) -> None:
        from pyspark.sql import functions as F

        rec, lo, hi = self.rec, rng[0], rng[1]

        def run():
            df = rec.call("delta.reader.build", self.ddl.read_delta, self.ckpt_path, spark=self.spark,
                          filter=[("bucket", "==", gen.HOT_BUCKET), ("id", ">=", lo), ("id", "<", hi)])
            return rec.call("spark.execute", df.agg(F.count("*"), F.sum("value")).collect), df

        ids = self.hot_rows.column("id").to_numpy()
        vals = self.hot_rows.column("value").to_numpy()
        sel = (ids >= lo) & (ids < hi)
        want = [(int(sel.sum()), float(vals[sel].sum()) if sel.any() else None)]

        def check(res) -> bool:
            rows, df = res
            if rec.tracing:
                rec.count("delta.reader.files_selected", len(df.inputFiles()))
            return same_rows([tuple(r) for r in rows], want, rel=1e-9)

        rec.op("query", run, check=check)

    def append(self) -> None:
        from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType, StructField, StructType

        schema = StructType([StructField("bucket", IntegerType()), StructField("id", LongType()),
                             StructField("value", DoubleType()), StructField("name", StringType())])
        row = (gen.APPEND_BUCKET, -10_000_000 - self.appended, float(self.appended), "append")
        df = self.spark.createDataFrame([row], schema)
        self.rec.op("append", lambda: self.rec.call(
            "delta.writer.to_delta", self.ddl.to_delta, df, self.ckpt_path, mode="append",
            partition_by=["bucket"]), tables=[self.ckpt_path], user_rows=1,
            user_bytes=4 + 8 + 8 + len(row[3]))
        self.appended += 1
        self.latest += 1

    # -- checks ------------------------------------------------------------

    def snapshot_ok(self, snap) -> bool:
        """The replayed snapshot holds exactly the generator's live adds
        at ``TRAVEL_TO``, and a seeded sample of them carries exactly
        the generator's size, partition values, stats and DV."""
        live = self.log.live(TRAVEL_TO)
        want = set(self.log.paths[live].tolist()) | set(self.hot)
        if snap.version != TRAVEL_TO or snap.files.keys() != want:
            return False
        sample = np.random.default_rng([self.seed, 8]).choice(live, 1000, replace=False)
        for a in map(self.log.add_action, sample.tolist()):
            f = snap.files[a["path"]]
            if (f.size, f.partition_values, f.modification_time, f.stats, f.deletion_vector) != (
                    a["size"], a["partitionValues"], a["modificationTime"], a["stats"],
                    a.get("deletionVector")):
                return False
        return True

    def prune_ok(self, res, dnf) -> bool:
        snap, kept = res
        exact, two_stage = self.log.brute_force(snap.version, dnf)
        kept = {a.path for a in kept}
        return exact <= kept <= two_stage


def same_files(a, b) -> bool:
    """Two snapshots hold the same adds with the same metadata."""
    if b is None or a.files.keys() != b.files.keys():
        return False
    return all(
        (x.size, x.partition_values, x.stats, x.deletion_vector)
        == (y.size, y.partition_values, y.stats, y.deletion_vector)
        for x, y in ((a.files[p], b.files[p]) for p in a.files)
    )
