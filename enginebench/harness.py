"""Op timing, tracing and metric assembly for the engine benchmark.

A workload drives the engine through ``Recorder.op``: one closed-loop
client, one op at a time. Each op is timed with ``perf_counter``; what
the op returns is checked after the timer stops, and a wrong answer
counts as a failed op. Inside an op, every call into an engine layer
goes through ``Recorder.call``. With tracing off that is a plain call.
With tracing on it records a span (name, start, end, parent, op id)
and, after the op's timer stops, the op's Spark jobs and stages from
the status store, so that a layer's self time is its span minus the
Spark work inside it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from py4j.protocol import Py4JJavaError

QUERY_OPS = {"query"}
COMMIT_OPS = {"append", "merge", "update", "delete", "optimize"}
WRITE_OPS = {"append", "merge"}  # ops whose source rows are user rows written

SPARK_STAGE_FIELDS = {
    # status-store StageData getter -> (metric suffix, scale to s or bytes)
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
}
SPARK_METRICS = ("jobs", "stages", "tasks", "job_s") + tuple(
    name for name, _ in SPARK_STAGE_FIELDS.values())

# span name -> per-layer metric reporting its median duration
SPAN_METRICS = {
    "delta.log.snapshot_checkpoint": "delta.log.snapshot_checkpoint_s",
    "delta.log.snapshot_json": "delta.log.snapshot_json_s",
    "delta.log.snapshot_warm": "delta.log.snapshot_warm_s",
    "delta.protocol.prune_partitions": "delta.protocol.prune_partitions_s",
    "delta.protocol.prune_by_stats": "delta.protocol.prune_by_stats_s",
    "delta.reader.build": "delta.reader.build_s",
    "delta.writer.to_delta": "delta.writer.to_delta_s",
    "delta.mutate.merge": "delta.mutate.merge_s",
    "delta.mutate.update": "delta.mutate.update_s",
    "delta.mutate.delete": "delta.mutate.delete_s",
    "delta.maintenance.optimize": "delta.maintenance.optimize_s",
    "delta.maintenance.create_checkpoint": "delta.maintenance.create_checkpoint_s",
    "delta.maintenance.vacuum": "delta.maintenance.vacuum_s",
    "delta.maintenance.history": "delta.maintenance.history_s",
}

# counts compared between two records by compare.py (all host-independent)
REGRESSION_COUNTS = ("spark.jobs", "spark.tasks", "delta.writer.files_added",
                     "delta.log.checkpoints_written", "delta.mutate.files_rewritten")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it.
    Below 11 samples no percentile has ten beyond it; the maximum is
    reported then, with percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return {"value": s[-1], "percentile": 100.0, "n": n}
    return {"value": s[n - 11], "percentile": round(100.0 * (n - 10) / n, 2), "n": n}


def dir_stats(path: str) -> tuple[int, int, int, int]:
    """(data files, data bytes, _delta_log files, _delta_log bytes)."""
    out = [0, 0, 0, 0]
    stack = [path]
    while stack:
        d = stack.pop()
        try:
            entries = list(os.scandir(d))
        except FileNotFoundError:
            continue
        for e in entries:
            if e.is_dir(follow_symlinks=False):
                stack.append(e.path)
            else:
                k = 2 if "_delta_log" in e.path else 0
                out[k] += 1
                out[k + 1] += e.stat(follow_symlinks=False).st_size
    return tuple(out)


def checkpoint_files(table: str) -> int:
    log = os.path.join(table, "_delta_log")
    return sum(1 for f in os.listdir(log) if ".checkpoint." in f) if os.path.isdir(log) else 0


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def median0(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Recorder:
    """Times ops, checks their results and, when tracing, records
    spans and Spark status-store counts per op."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.measuring = False
        self.round = 0
        self.traced_round = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []  # one entry per measured op
        self.spans: list[dict] = []
        self._op_id = 0
        self._op = None  # the op being traced
        self._last_job = -1

    @property
    def tracing(self) -> bool:
        """True inside a traced, measured op."""
        return self._op is not None

    def count(self, name: str, value: float) -> None:
        """Add to a layer count of the op being traced."""
        if self._op is not None:
            self._op["counts"][name] = self._op["counts"].get(name, 0) + value

    # -- rounds ---------------------------------------------------------

    def run_rounds(self, round_fn, rounds: int) -> None:
        """Run the workload's fixed op list ``rounds`` times. A traced
        run traces the odd rounds only, so the tracing overhead is
        measured against untraced rounds on both sides of each traced
        one, in the same process and on the same op list."""
        self.measuring = True
        for i in range(rounds):
            self.round = i
            self.traced_round = self.trace and i % 2 == 1
            gc.collect()  # every round starts from the same collector state
            round_fn(i)
        self.measuring = False
        self.traced_round = False

    # -- ops ------------------------------------------------------------

    def op(self, kind: str, fn, *, tables=(), user_rows: int = 0,
           user_bytes: int = 0, check=None):
        """Run one op. ``check(result)`` runs after the timer stops and
        returns False (or raises) for a wrong result. Outside the
        measured rounds (set-up, warm pass) only failures are counted."""
        traced = self.measuring and self.traced_round
        self._op_id += 1
        op = {"id": f"op{self._op_id}", "kind": kind, "round": self.round,
              "traced": traced, "counts": {}}
        before = [dir_stats(t) for t in tables]
        if traced:
            cps_before = sum(checkpoint_files(t) for t in tables)
            self._spark_jobs(None)  # drop jobs run between ops (set-up, checks)
            self.spark.sparkContext.setJobGroup(op["id"], kind, interruptOnCancel=False)
            self._op = op
            op["start"] = time.time()
        ok = True
        result = None
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            ok = False
            self.errors.append(f"{kind}: {traceback.format_exc(limit=6)}")
        wall = time.perf_counter() - t0
        if traced:
            op["end"] = op["start"] + wall
            op.update(self._spark_jobs(op["id"]))
        if ok and check is not None:
            try:
                ok = bool(check(result))
                if not ok:
                    self.errors.append(f"{kind}: wrong result")
            except Exception:
                ok = False
                self.errors.append(f"{kind} check: {traceback.format_exc(limit=6)}")
        self._op = None
        if not self.measuring:
            if not ok:  # a failure in set-up or the warm pass fails the run
                self.failed += 1
                self.attempted += 1
            return result
        after = [dir_stats(t) for t in tables]
        delta = [sum(a[k] - b[k] for a, b in zip(after, before)) for k in range(4)]
        op.update(wall_s=wall, ok=ok, user_rows=user_rows, user_bytes=user_bytes,
                  data_files_added=delta[0], data_bytes_added=delta[1],
                  log_files_added=delta[2], log_bytes_added=delta[3])
        if traced:
            op["checkpoints_written"] = sum(checkpoint_files(t) for t in tables) - cps_before
        self.attempted += 1
        self.failed += not ok
        self.ops.append(op)
        return result

    def call(self, name: str, fn, *args, **kwargs):
        """One call into an engine layer. ``name`` is the span name,
        ``<layer>.<what>``, e.g. ``delta.reader.build``."""
        if self._op is None:
            return fn(*args, **kwargs)
        span = {"name": name, "parent": self._op["id"], "op": self._op["id"],
                "round": self.round, "start": time.time()}
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = span["start"] + (time.perf_counter() - t0)
            self.spans.append(span)

    # -- Spark status store -----------------------------------------------

    def _spark_jobs(self, group) -> dict:
        """Jobs submitted since the previous read (one client, so all of
        them belong to the op that just ran), with their stages' task
        metrics. Read right after the op, before the status store's
        retention limits can evict them."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
        store = sc.statusStore()
        jobs = store.jobsList(None)
        out = {"spark": {m: 0 for m in SPARK_METRICS}, "job_intervals": [], "ungrouped_jobs": 0}
        sp = out["spark"]
        newest = self._last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            if group is None:
                continue
            sp["jobs"] += 1
            grp = j.jobGroup()
            if not (grp.isDefined() and grp.get() == group):
                out["ungrouped_jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_intervals"].append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(k))
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                sp["stages"] += 1
                sp["tasks"] += st.numTasks()
                for getter, (name, scale) in SPARK_STAGE_FIELDS.items():
                    sp[name] += getattr(st, getter)() * scale
        self._last_job = newest
        if group is not None:
            sp["job_s"] = union_length(out["job_intervals"], float("-inf"), float("inf"))
        return out

    # -- metrics ----------------------------------------------------------

    def _rounds(self, traced: bool) -> dict[int, list[dict]]:
        by_round: dict[int, list[dict]] = defaultdict(list)
        for op in self.ops:
            if op["traced"] == traced:
                by_round[op["round"]].append(op)
        return by_round

    def end_to_end(self) -> tuple[dict, dict]:
        """End-to-end metrics from the untraced rounds, and the sample
        counts and tail percentiles behind them."""
        ops = [op for op in self.ops if not op["traced"]]
        walls = [sum(op["wall_s"] for op in r) for r in self._rounds(False).values()]

        def of(*kinds):
            return [op["wall_s"] for op in ops if op["kind"] in kinds]

        queries, commits = of(*QUERY_OPS), of(*COMMIT_OPS)
        writes = [op for op in ops if op["kind"] in WRITE_OPS]
        added = sum(op["data_bytes_added"] + op["log_bytes_added"]
                    for op in ops if op["kind"] in COMMIT_OPS)
        q_tail, c_tail = tail(queries), tail(commits)
        return {
            "wall_s": statistics.median(walls),
            "query_p50_s": statistics.median(queries),
            "query_tail_s": q_tail["value"],
            "commit_p50_s": statistics.median(commits),
            "commit_tail_s": c_tail["value"],
            "rows_per_s": sum(op["user_rows"] for op in writes) / sum(op["wall_s"] for op in writes),
            "write_amp": added / sum(op["user_bytes"] for op in writes),
            "open_cold_s": statistics.median(of("open_cold")),
            "open_warm_s": statistics.median(of("open_warm")),
            "plan_s": statistics.median(of("plan")),
            "checkpoint_s": statistics.median(of("checkpoint")),
        }, {"rounds": len(walls), "query_tail": q_tail, "commit_tail": c_tail,
            "ops": {k: len(of(k)) for k in sorted({op["kind"] for op in ops})}}

    def per_layer(self) -> tuple[dict, dict]:
        """Per-layer metrics from the traced rounds, the per-op-type
        count record and the per-layer self times."""
        traced = [op for op in self.ops if op["traced"]]
        rounds = self._rounds(True)
        n_rounds = max(len(rounds), 1)
        by_id = {op["id"]: op for op in traced}
        m: dict[str, float] = {}
        for name, metric in SPAN_METRICS.items():
            m[metric] = median0(s["end"] - s["start"] for s in self.spans if s["name"] == name)

        def per_round(fn) -> float:
            return sum(fn(op) for op in traced) / n_rounds

        def counted(name) -> float:
            return per_round(lambda op: op["counts"].get(name, 0))

        def of_kind(kinds, field):
            return per_round(lambda op: op[field] if op["kind"] in kinds else 0)

        # self time: a span's duration minus the Spark job time inside it
        self_s: dict[str, float] = defaultdict(float)
        writer_driver = []
        for s in self.spans:
            op = by_id.get(s["op"])
            if op is None:
                continue
            spark_in = union_length(op["job_intervals"], s["start"], s["end"])
            layer = s["name"].rsplit(".", 1)[0]
            self_s[layer] += (s["end"] - s["start"] - spark_in) / n_rounds
            if s["name"] == "delta.writer.to_delta":
                writer_driver.append(s["end"] - s["start"] - spark_in)
        for op in traced:
            self_s["spark"] += op["spark"]["job_s"] / n_rounds
        m["delta.log.checkpoints_written"] = per_round(lambda op: op["checkpoints_written"])
        m["delta.log.commit_bytes"] = of_kind(COMMIT_OPS, "log_bytes_added")
        plan_in = counted("delta.protocol.files_in")
        m["delta.protocol.files_kept_ratio"] = counted("delta.protocol.files_kept") / plan_in if plan_in else 0.0
        n_queries = per_round(lambda op: op["kind"] in QUERY_OPS)
        m["delta.reader.files_selected"] = counted("delta.reader.files_selected") / n_queries if n_queries else 0.0
        m["delta.writer.driver_s"] = median0(writer_driver)
        m["delta.writer.files_added"] = of_kind({"append"}, "data_files_added")
        m["delta.writer.bytes_added"] = per_round(
            lambda op: op["data_bytes_added"] + op["log_bytes_added"] if op["kind"] == "append" else 0)
        m["delta.mutate.files_rewritten"] = counted("delta.mutate.files_rewritten")
        in_files = counted("delta.mutate.rows_in_touched_files")
        m["delta.mutate.rows_changed_ratio"] = counted("delta.mutate.rows_changed") / in_files if in_files else 0.0
        m["delta.maintenance.bytes_rewritten"] = of_kind({"optimize"}, "data_bytes_added")
        for name in SPARK_METRICS:
            m[f"spark.{name}"] = per_round(lambda op: op["spark"][name])
        m["driver.self_s"] = per_round(lambda op: op["wall_s"] - op["spark"]["job_s"])
        # overhead: per op kind, the traced median minus the untraced
        # median, times the kind's ops per traced round (kinds run only
        # in traced rounds have no untraced twin and are left out)
        plain = [op for op in self.ops if not op["traced"]]
        overhead = 0.0
        for kind in {op["kind"] for op in plain}:
            walls = [op["wall_s"] for op in traced if op["kind"] == kind]
            if walls:
                base = statistics.median(op["wall_s"] for op in plain if op["kind"] == kind)
                overhead += (statistics.median(walls) - base) * len(walls) / n_rounds
        m["trace.overhead_s"] = overhead

        per_op: dict[str, dict] = {}
        for kind in sorted({op["kind"] for op in traced}):
            ops = [op for op in traced if op["kind"] == kind]
            n = len(ops)
            row = {"n": n}
            for name in SPARK_METRICS:
                row[f"spark.{name}"] = sum(op["spark"][name] for op in ops) / n
            row["delta.writer.files_added"] = (
                sum(op["data_files_added"] for op in ops) / n if kind == "append" else 0.0)
            row["delta.log.checkpoints_written"] = sum(op["checkpoints_written"] for op in ops) / n
            row["delta.mutate.files_rewritten"] = sum(
                op["counts"].get("delta.mutate.files_rewritten", 0) for op in ops) / n
            row["driver.self_s"] = sum(op["wall_s"] - op["spark"]["job_s"] for op in ops) / n
            row["ungrouped_jobs"] = sum(op["ungrouped_jobs"] for op in ops)
            per_op[kind] = row
        return m, {"per_op": per_op, "self_s": dict(self_s), "traced_rounds": len(rounds)}


def interleave(heavy: list, *light: list) -> None:
    """Run the ``heavy`` ops in order with the ops of each ``light``
    list spread evenly between them: op ``i`` of a light list of ``n``
    runs at fraction ``(i + 0.5) / n`` of the round. Millisecond ops
    sampled in one burst catch the host at one instant; spread over the
    round, each kind's median reflects the whole round, as the heavy
    ops' timings do."""
    keyed = [((i + 0.5) / len(ops), k, op) for k, ops in enumerate(light) for i, op in enumerate(ops)]
    merged = [op for _, _, op in sorted(keyed, key=lambda t: t[:2])]
    for k, op in enumerate(heavy):
        op()
        for light_op in merged[k * len(merged) // len(heavy):(k + 1) * len(merged) // len(heavy)]:
            light_op()


class Workload:
    """One workload. ``run.py`` calls, in order: ``prepare`` (seeded
    inputs, pure Python; it runs while Spark starts, so it must not use
    Spark), ``bind``, ``setup`` (engine calls that build the tables),
    ``warm`` (the untimed warm pass), ``round`` once per measured round,
    and ``finish`` (final checks, run as unmeasured ops)."""

    round_s = 10.0  # nominal duration of one round on a 4-core host

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def prepare(self) -> None:
        pass

    def bind(self, rec: Recorder, ddl, spark) -> None:
        self.rec, self.ddl, self.spark = rec, ddl, spark

    def setup(self) -> None:
        pass

    def warm(self) -> None:
        self.round(-1)

    def round(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass


def emit(result: dict, record: dict, record_path: str | None) -> None:
    """Write the detailed record, print it, then print the one-line
    result last."""
    if record_path:
        os.makedirs(os.path.dirname(os.path.abspath(record_path)), exist_ok=True)
        with open(record_path, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    print("RECORD " + json.dumps(record, default=str))
    print(json.dumps(result))
    sys.stdout.flush()
