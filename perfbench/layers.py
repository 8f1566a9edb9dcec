"""Per-layer metrics of a traced run.

Two sources, both kept in memory or in the run's own files:

- Spans recorded by this module around the engine's public calls:
  ``IceboxSink.apply`` and ``compact``, and the ``collect_evolutions`` and
  ``emit_lineage`` calls the sink makes.
  A span keeps its name, start, end, its parent span and the micro-batch
  id (spans inside one ``apply`` share its ``batch_id``).
- Spark's event log (uncompressed, not rolling): per-task CPU, GC,
  shuffle and output bytes; SQL metrics per stage (scan rows, Python UDF
  time and bytes) and per execution (bytes of files a scan read);
  streaming progress (trigger durations).

Each Spark job is attributed to the innermost span open when it was
submitted. Within ``apply`` a job's stages are classified by plan shape
(the operator scopes of their RDDs): source scan, LWW exchange and
aggregate, the ``normalize_text`` Arrow UDF, the bucketed write, and the
Python-RDD footer-stats job. A layer the engine no longer has shows up as
an absent metric, not an error.

``Tracer.stop`` switches both sources off within a run, so a run can time
the same work untraced after its traced window. Only jobs and spans
inside the timed window count. A figure about one
micro-batch (rows, bytes, seconds, tasks of the batch's jobs) is the mean
over the window's batches; ``_p50`` is a median; ``stream.batches``,
``sink.compactions``, ``sink.ledger_skips``, ``spark.executor_cpu_s`` and
``spark.gc_s`` are totals over the window. Times are seconds unless the
name has ``_ms``.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time

# (owner import path, attribute, span name)
_TRACED = [
    ("merlin_spark.sink:IceboxSink", "apply", "sink.apply"),
    ("merlin_spark.sink:IceboxSink", "compact", "sink.compact"),
    ("merlin_spark.sink", "collect_evolutions", "apply.collect_evolutions"),
    ("merlin_spark.sink", "emit_lineage", "lineage.emit_lineage"),
]


def _source_scan(node: str) -> bool:
    """A plan node that reads the change log. ``Scan ExistingRDD`` only
    re-wraps the micro-batch's rows, so counting it would count them twice."""
    return "Scan" in node and "ExistingRDD" not in node


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if "_ms" in name:
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


class Tracer:
    """Records spans around the engine's public calls; turns them and the
    event log into per-layer metrics."""

    def __init__(self, eventlog_dir: str):
        import importlib

        self.eventlog_dir = eventlog_dir
        self.spans: list[dict] = []
        self.window = (0.0, 0.0)
        self._ids = itertools.count()
        self._tls = threading.local()
        self._restore = []
        for owner_path, attr, name in _TRACED:
            mod, _, cls = owner_path.partition(":")
            owner = importlib.import_module(mod)
            if cls:
                owner = getattr(owner, cls, None)
            orig = getattr(owner, attr, None) if owner is not None else None
            if orig is None:
                continue  # layer removed: its metrics are absent
            setattr(owner, attr, self._wrap(orig, name))
            self._restore.append((owner, attr, orig))

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._tls.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            batch = parent["batch"] if parent else None
            if name == "sink.apply":
                batch = kwargs.get("batch_id", args[2] if len(args) > 2 else None)
            span = {"name": name, "t0": time.time(), "t1": None,
                    "batch": batch, "parent": parent["id"] if parent else None,
                    "id": next(tracer._ids),
                    "result_none": False}
            stack.append(span)
            try:
                out = fn(*args, **kwargs)
                span["result_none"] = out is None
                return out
            finally:
                span["t1"] = time.time()
                stack.pop()
                tracer.spans.append(span)

        return traced

    def begin(self) -> None:
        self.window = (time.time(), float("inf"))

    def end(self) -> None:
        self.window = (self.window[0], time.time())

    def close(self) -> None:
        for owner, attr, orig in self._restore:
            setattr(owner, attr, orig)
        self._restore = []

    def stop(self, spark) -> None:
        """Stop tracing for the rest of the run: unwrap the engine calls
        and detach Spark's event log listener from the listener bus (the
        log file stays open until Spark stops)."""
        self.close()
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().removeListener(sc.eventLogger().get())

    # ------------------------------------------------------- metrics

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of the timed window. Call after the Spark
        session stopped (the event log is complete then)."""
        w0, w1 = self.window
        spans = [s for s in self.spans if w0 <= s["t0"] <= w1]
        log = _EventLog(self.eventlog_dir)
        out: dict[str, float] = {}

        # stream: one progress event per micro-batch
        prog = [p for p in log.progress
                if w0 <= p["t"] <= w1 and "addBatch" in p["durationMs"]]
        if prog:
            d = [p["durationMs"] for p in prog]
            out["stream.batches"] = len(prog)
            out["stream.trigger_ms_p50"] = _med(x["triggerExecution"] for x in d)
            out["stream.overhead_ms_p50"] = _med(
                x["triggerExecution"] - x["addBatch"] for x in d)
            if all("latestOffset" in x for x in d):
                out["stream.latest_offset_ms_p50"] = _med(x["latestOffset"] for x in d)

        # jobs → innermost open span → its root span
        by_id = {s["id"]: s for s in self.spans}
        roots: dict[int, list[dict]] = {}
        window_jobs = []
        for job in log.jobs.values():
            t = job["submit"]
            if not (w0 <= t <= w1):
                continue
            window_jobs.append(job)
            inner = None
            for s in spans:
                if s["t0"] <= t <= s["t1"] and (inner is None or s["t0"] >= inner["t0"]):
                    inner = s
            if inner is None:
                continue
            root = inner
            while root["parent"] is not None and root["parent"] in by_id:
                root = by_id[root["parent"]]
            roots.setdefault(root["id"], []).append(job)

        applies = [s for s in spans if s["name"] == "sink.apply" and not s["result_none"]]
        per_batch = [(s, roots.get(s["id"], [])) for s in applies]
        if applies:
            out["sink.apply_ms_p50"] = _med((s["t1"] - s["t0"]) * 1e3 for s in applies)
            out["sink.apply_self_ms_p50"] = _med(
                (s["t1"] - s["t0"] - _covered(s, jobs)) * 1e3 for s, jobs in per_batch)
            out["sink.ledger_skips"] = sum(
                1 for s in spans if s["name"] == "sink.apply" and s["result_none"])
            out["spark.jobs_per_batch"] = _mean(len(j) for _, j in per_batch)

            def stages(jobs, pred=lambda st: True):
                return [st for j in jobs for st in log.job_stages(j) if pred(st)]

            def per(fn):
                return _mean(fn(jobs) for _, jobs in per_batch)

            out["spark.tasks_per_batch"] = per(lambda js: sum(st["tasks"] for st in stages(js)))
            scans = [len({j["exec"] for j in js
                          if any(st["scan"] for st in log.job_stages(j))})
                     for _, js in per_batch]
            out["source.scans_per_batch"] = _med(scans)
            out["source.rows_read"] = per(lambda js: sum(
                log.node_metric(st, _source_scan, "number of output rows") for st in stages(js)))
            out["source.bytes_read"] = per(lambda js: sum(
                log.driver_metric(e, _source_scan, "size of files read")
                for e in {j["exec"] for j in js}) + sum(
                log.node_metric(st, _source_scan, "data returned from Python workers")
                for st in stages(js)))
            out["source.scan_cpu_s"] = per(lambda js: sum(
                st["cpu_s"] for st in stages(js, lambda st: st["scan"])))

            def lww_map(st):
                return st["agg"] and not st["udf"] and st["shuffle_write_bytes"] > 0

            def lww_reduce(st):
                return st["agg"] and st["shuffle_read_bytes"] > 0

            if any(stages(js, lww_map) for _, js in per_batch):
                out["lww.shuffle_bytes"] = per(lambda js: sum(
                    st["shuffle_write_bytes"] for st in stages(js, lww_map)))
                out["lww.cpu_s"] = per(lambda js: sum(
                    st["cpu_s"] for st in stages(js, lambda st: st["agg"])))
                rows_in = sum(log.node_metric(st, _source_scan, "number of output rows")
                              for _, js in per_batch for st in stages(js, lww_map))
                rows_out = sum(st["shuffle_write_records"]
                               for _, js in per_batch for st in stages(js, lww_map))
                if rows_in:
                    out["lww.combine_ratio"] = rows_out / rows_in
                skew = [max(st["task_read"]) / max(statistics.median(st["task_read"]), 1)
                        for _, js in per_batch for st in stages(js, lww_reduce)
                        if st["task_read"]]
                if skew:
                    out["lww.skew_ratio"] = _med(skew)
            if any(stages(js, lambda st: st["udf"]) for _, js in per_batch):
                def udf(metric):
                    return per(lambda js: sum(log.node_metric(
                        st, lambda n: n == "ArrowEvalPython", metric) for st in stages(js)))

                out["textnorm.rows"] = udf("number of output rows")
                out["textnorm.python_s"] = udf("time to run Python workers") / 1e3
                out["textnorm.bytes_to_python"] = udf("data sent to Python workers")
            write = stages([j for _, js in per_batch for j in js], lambda st: st["write"])
            if write:
                out["sink.write_s"] = per(lambda js: sum(
                    st["wall_s"] for st in stages(js, lambda st: st["write"])))
                out["sink.write_tasks_per_batch"] = per(lambda js: sum(
                    st["tasks"] for st in stages(js, lambda st: st["write"])))
                out["sink.write_bytes"] = per(lambda js: sum(
                    st["output_bytes"] for st in stages(js, lambda st: st["write"])))
            footer = [[j for j in js if log.job_stages(j)
                       and all(st["python_rdd"] for st in log.job_stages(j))]
                      for _, js in per_batch]
            if any(footer):
                out["sink.commit_stats_s"] = _mean(
                    sum(j["end"] - j["submit"] for j in f) for f in footer)

        compacts = [s for s in spans if s["name"] == "sink.compact"]
        out["sink.compactions"] = len(compacts)
        if compacts:
            out["sink.compact_s"] = _mean(s["t1"] - s["t0"] for s in compacts)
            out["sink.compact_bytes"] = _mean(
                sum(st["output_bytes"] for j in roots.get(s["id"], [])
                    for st in log.job_stages(j)) for s in compacts)
        emits = [s for s in spans if s["name"] == "lineage.emit_lineage"]
        if emits:
            out["lineage.emit_ms_p50"] = _med((s["t1"] - s["t0"]) * 1e3 for s in emits)

        stg = [st for j in window_jobs for st in log.job_stages(j)]
        out["spark.executor_cpu_s"] = sum(st["cpu_s"] for st in stg)
        out["spark.gc_s"] = sum(st["gc_s"] for st in stg)
        return {k: (float(v), unit(k)) for k, v in out.items()}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _covered(span: dict, jobs: list[dict]) -> float:
    """Seconds of ``span`` covered by the union of its jobs' run time."""
    iv = sorted((max(j["submit"], span["t0"]), min(j["end"], span["t1"])) for j in jobs)
    total, cur0, cur1 = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        total += cur1 - cur0
    return total


class _EventLog:
    """The parts of a Spark event log the metrics need."""

    def __init__(self, directory: str):
        files = sorted(glob.glob(os.path.join(directory, "*")))
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.progress: list[dict] = []
        self.acc_node: dict[int, tuple[str, str]] = {}  # acc id -> (node, metric)
        self.driver_acc: dict[str, dict[int, int]] = {}  # execution -> acc -> value
        stage_job: dict[int, int] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), stage_job)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_write_records": 0, "output_bytes": 0,
            "task_read": [], "acc": {}, "wall_s": 0.0, "scopes": set(),
            "scan": False, "agg": False, "udf": False, "write": False,
            "python_rdd": False, "job": None})

    def _event(self, e: dict, stage_job: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {"id": e["Job ID"], "submit": e["Submission Time"] / 1e3,
                   "end": e["Submission Time"] / 1e3, "stages": [],
                   "exec": props.get("spark.sql.execution.id")}
            self.jobs[job["id"]] = job
            for info in e["Stage Infos"]:
                sid = info["Stage ID"]
                st = self._stage(sid)
                names = set()
                for rdd in info.get("RDD Info", []):
                    names.add(rdd.get("Name", ""))
                    if rdd.get("Scope"):
                        names.add(json.loads(rdd["Scope"]).get("name", ""))
                st["scopes"] |= names
                st["scan"] = any("Scan" in n for n in st["scopes"])
                st["agg"] = any(n.endswith("Aggregate") for n in st["scopes"])
                st["udf"] = "ArrowEvalPython" in st["scopes"]
                st["write"] = "WriteFiles" in st["scopes"]
                st["python_rdd"] = "PythonRDD" in st["scopes"]
                if sid not in stage_job:
                    stage_job[sid] = job["id"]
                    job["stages"].append(sid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_read_bytes"] += read
            if read:
                st["task_read"].append(read)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.isdigit()):
                    st["acc"][acc["ID"]] = st["acc"].get(acc["ID"], 0) + int(upd)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            if "Submission Time" in info and "Completion Time" in info:
                st["wall_s"] = (info["Completion Time"] - info["Submission Time"]) / 1e3
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            todo = [e["sparkPlanInfo"]]
            while todo:
                node = todo.pop()
                todo.extend(node.get("children", []))
                for m in node.get("metrics", []):
                    self.acc_node[m["accumulatorId"]] = (node["nodeName"], m["name"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            acc = self.driver_acc.setdefault(str(e["executionId"]), {})
            for acc_id, value in e["accumUpdates"]:
                acc[acc_id] = acc.get(acc_id, 0) + value
        elif kind.endswith("QueryProgressEvent"):
            p = e["progress"]
            from datetime import datetime

            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            self.progress.append({"t": t, "durationMs": p.get("durationMs", {})})

    def job_stages(self, job: dict) -> list[dict]:
        """Stages a job executed (skipped stages have no tasks)."""
        return [self.stages[s] for s in job["stages"] if self.stages[s]["tasks"]]

    def _sum(self, accs: dict, node, metric: str) -> int:
        total = 0
        for acc, v in accs.items():
            n = self.acc_node.get(acc)
            if n and n[1] == metric and node(n[0]):
                total += v
        return total

    def driver_metric(self, execution, node, metric: str) -> int:
        """Sum of one driver-side SQL metric (such as the bytes of files a
        scan planned) of one execution over the plan nodes ``node`` accepts."""
        return self._sum(self.driver_acc.get(str(execution), {}), node, metric)

    def node_metric(self, stage: dict, node, metric: str) -> int:
        """Sum of one SQL metric over the tasks of ``stage``, for the plan
        nodes ``node`` accepts."""
        return self._sum(stage["acc"], node, metric)
