"""Outside-in layer tracing for the benchmark.

Spans are recorded around the calls the benchmark makes into each layer, and
around the layer functions it can reach from outside the program:

- ``api``      the ``Engine`` call the benchmark makes (``api.query``,
               ``api.update_where``, ...);
- ``plans``    each registry entry's ``spark_fn`` (the plan build inside
               ``Engine.query``), wrapped in the registry dict;
- ``session``  ``ingest_tables`` / ``delete_where`` / ``update_where`` /
               ``merge_into`` / ``compact_table``, which ``Engine`` imports
               at call time, so module-level wrappers see every call;
- ``spark``    the ``toArrow()`` that executes a built query and fetches it.

Each op (one timed unit of a pass) is a root span and runs under its own
Spark job group, so the op's jobs, stages and task metrics are read back
from the status store afterwards. Bytes and files written are counted as
new (path, inode) entries under the private ingest root. A streaming
listener collects micro-batch progress. None of this touches the program's
code; with ``active`` unset (the untraced run) every hook does nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from workloads import MUTATION_KINDS, READ_KINDS

ARTIFACT_MARKERS = (
    ".aggproj", ".joinproj", ".topkproj", ".resultproj",
    ".vecproj", ".keydict", ".colstats", ".bucketed",
)
SESSION_FNS = (
    "ingest_tables", "delete_where", "update_where", "merge_into", "compact_table",
)
LAYERS = ("bench", "api", "plans", "session", "spark")
_SPARK_STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_bytes": lambda s: s.inputBytes(),
    "shuffle_bytes": lambda s: s.shuffleReadBytes() + s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "result_bytes": lambda s: s.resultSize(),
    "tasks": lambda s: s.numCompleteTasks(),
}


def inode_sizes(root: str) -> dict[tuple[str, int], int]:
    """(path, inode) -> size for every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[(p, st.st_ino)] = st.st_size
    return out


def space_split(root: str) -> tuple[int, int]:
    """(live bytes, bytes held only by ``.snaps``) under ``root``; a
    hardlinked snapshot file shares its inode with the live copy and costs
    no extra space."""
    live, snap = {}, {}
    for (p, ino), size in inode_sizes(root).items():
        (snap if ".snaps" in p else live)[ino] = size
    return sum(live.values()), sum(s for i, s in snap.items() if i not in live)


class Tracer:
    """Spans and per-op counters for one traced run; ``close()`` writes the
    spans as JSON lines and removes every wrapper it installed. Hooks record
    only while ``active`` is set, so one run can interleave traced and
    untraced passes."""

    active = False

    def __init__(self, spark, ingest_root: str, spans_path: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.ingest_root = ingest_root
        self.spans_path = spans_path
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.stream_progress: list[dict] = []
        self._stack: list[int] = []
        self._op_id = 0
        self._restore: list[tuple] = []
        self._listener = None
        self.snapshot_ratios: list[float] = []

    # -- installation ---------------------------------------------------------

    def install(self) -> None:
        import dataclasses

        from data_etl_sh_lianjia_spark import session
        from data_etl_sh_lianjia_spark.plans import registry

        registry.all_queries()  # load every registering module first
        for name, dq in list(registry._REGISTRY.items()):
            wrapped = dataclasses.replace(dq, spark_fn=self._wrap("plans.build", dq.spark_fn))
            self._patch(registry._REGISTRY, name, wrapped, item=True)
        for fn in SESSION_FNS:
            self._patch(session, fn, self._wrap(f"session.{fn}", getattr(session, fn)))
        self._listener = _progress_listener(self.stream_progress)
        self.spark.streams.addListener(self._listener)

    def _patch(self, owner, key, new, item: bool = False) -> None:
        old = owner[key] if item else getattr(owner, key)
        self._restore.append((owner, key, old, item))
        if item:
            owner[key] = new
        else:
            setattr(owner, key, new)

    def _wrap(self, span_name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def close(self) -> None:
        for owner, key, old, item in reversed(self._restore):
            if item:
                owner[key] = old
            else:
                setattr(owner, key, old)
        self._restore.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
        if not self.spans:
            return
        os.makedirs(os.path.dirname(self.spans_path), exist_ok=True)
        with open(self.spans_path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- spans and ops ----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": self._op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, kind: str, name: str):
        """Root span of one op, run under its own Spark job group. Yields the
        op record (None while inactive); the caller may add fields."""
        if not self.active:
            yield None
            return
        self._op_id += 1
        group = f"perfbench-{os.getpid()}-{self._op_id}"
        writes = kind in MUTATION_KINDS + ("ingest",)
        before = inode_sizes(self.ingest_root) if writes else None
        rec = {"op": self._op_id, "kind": kind, "name": name}
        self.sc.setJobGroup(group, name, False)
        try:
            with self.span(f"bench.{kind}"):
                yield rec
        finally:
            self.sc.setJobGroup(f"perfbench-{os.getpid()}-idle", "idle", False)
            rec.update(self._spark_stats(group))
            if writes:
                after = inode_sizes(self.ingest_root)
                new = {k: v for k, v in after.items() if k not in before}
                rec["files_written"] = len(new)
                rec["bytes_written"] = sum(new.values())
            self.ops.append(rec)

    def query_done(self, rec: dict, df) -> None:
        """Record the Catalyst phase time and serve route of the query that
        op ``rec`` just executed."""
        if rec is None:
            return
        ms = 0
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            summ = it.next()._2()
            ms += summ.endTimeMs() - summ.startTimeMs()
        rec["catalyst_ms"] = ms
        files = list(df.inputFiles())
        rec["input_files"] = len(files)
        rec["artifact_hit"] = bool(files) and all(
            any(m in f for m in ARTIFACT_MARKERS) for f in files
        )

    def _spark_stats(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {k: 0 for k in _SPARK_STAGE_FIELDS}
        jobs = list(tracker.getJobIdsForGroup(group))
        exec_ms = 0
        for jid in jobs:
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                exec_ms += (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                )
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                sd = store.lastStageAttempt(sid)
                for k, get in _SPARK_STAGE_FIELDS.items():
                    out[k] += get(sd)
        out["jobs"] = len(jobs)
        out["exec_ms"] = exec_ms
        return out

    def end_pass(self) -> None:
        live, snap = space_split(self.ingest_root)
        self.snapshot_ratios.append(snap / live if live else 0.0)

    def drain_listener(self) -> None:
        """Wait until queued listener events (stream progress) are delivered."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    # -- summaries --------------------------------------------------------------

    def self_times_ms(self, ops: set[int]) -> dict[str, float]:
        """Total self time per layer over ``ops`` (a span's duration minus
        the time its child spans cover), in ms."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s, c in zip(self.spans, child):
            if s["op"] in ops:
                layer = s["name"].split(".", 1)[0]
                out[layer] += (s["end"] - s["start"] - c) * 1000
        return out

    def span_ms(self, op: int, name: str) -> float:
        return sum(
            (s["end"] - s["start"]) * 1000
            for s in self.spans
            if s["op"] == op and s["name"] == name
        )


def _progress_listener(sink: list[dict]):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "duration_ms": dict(p.durationMs),
                "state_commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def layer_metrics(tracer: Tracer, run, landed: dict) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, from the traced passes' op records and spans;
    0 where the workload does not exercise the layer."""
    ops = [o for o in tracer.ops if o["kind"] in READ_KINDS + MUTATION_KINDS]
    reads = [o for o in ops if o["kind"] in READ_KINDS]
    n_ops = max(1, len(ops))

    def mean(key, recs=ops):
        return sum(o.get(key, 0) for o in recs) / max(1, len(recs))

    m: dict[str, tuple[float, str]] = {
        "plans.build_ms": (median(tracer.span_ms(o["op"], "plans.build") for o in reads), "ms"),
        "spark.catalyst_ms": (median(o.get("catalyst_ms") for o in reads), "ms"),
        "spark.exec_ms": (median(o["exec_ms"] for o in ops), "ms"),
        "spark.jobs_per_op": (mean("jobs"), "count"),
        "spark.tasks_per_op": (mean("tasks"), "count"),
        "spark.result_bytes": (mean("result_bytes"), "B"),
        "spark.executor_run_ms": (mean("executor_run_ms"), "ms"),
        "spark.executor_cpu_ms": (mean("executor_cpu_ms"), "ms"),
        "spark.gc_ms": (mean("gc_ms"), "ms"),
        "spark.input_bytes": (mean("input_bytes"), "B"),
        "spark.shuffle_bytes": (mean("shuffle_bytes"), "B"),
        "spark.spill_bytes": (mean("spill_bytes"), "B"),
        "session.artifact_hit_ratio": (mean("artifact_hit", reads), "ratio"),
        "session.input_files_per_query": (mean("input_files", reads), "count"),
    }
    ingest = [o for o in tracer.ops if o["kind"] == "ingest"]
    m["session.ingest_s"] = (
        sum(tracer.span_ms(o["op"], "session.ingest_tables") for o in ingest) / 1000, "s"
    )
    m["session.ingest_bytes_written"] = (sum(o.get("bytes_written", 0) for o in ingest), "B")

    # bytes of one changed row: the table's in-memory Arrow bytes per row
    row_bytes = {t: tbl.nbytes / max(1, tbl.num_rows) for t, tbl in landed.items()}
    written = changed = 0.0
    rebind = []
    for kind in MUTATION_KINDS:
        recs = [o for o in ops if o["kind"] == kind]
        for key, unit in (("jobs", "count"), ("bytes_written", "B"),
                          ("files_written", "count"), ("rows", "count")):
            m[f"session.{kind}.{key}"] = (median(o.get(key, 0) for o in recs), unit)
        for o in recs:
            api = tracer.span_ms(o["op"], f"api.{o['name']}")
            sess = sum(
                tracer.span_ms(o["op"], f"session.{fn}") for fn in SESSION_FNS
            )
            rebind.append(api - sess)
            if kind != "compact":
                written += o.get("bytes_written", 0)
                changed += o.get("rows", 0) * row_bytes.get(o.get("table"), 0.0)
    m["session.write_amp"] = (written / changed if changed else 0.0, "ratio")
    m["session.snapshot_space_ratio"] = (
        tracer.snapshot_ratios[-1] if tracer.snapshot_ratios else 0.0, "ratio"
    )
    m["api.rebind_ms"] = (median(rebind), "ms")
    for kind in MUTATION_KINDS + ("fresh_read", "merge_read"):
        m[f"api.{kind}_ms"] = (median(run.samples.get(kind, [])), "ms")

    prog = tracer.stream_progress
    m["streaming.batches"] = (len(prog), "count")
    for key, src in (("trigger_ms", "triggerExecution"), ("addbatch_ms", "addBatch"),
                     ("planning_ms", "queryPlanning")):
        m[f"streaming.{key}"] = (median(p["duration_ms"].get(src, 0) for p in prog), "ms")
    m["streaming.state_commit_ms"] = (median(p["state_commit_ms"] for p in prog), "ms")

    self_ms = tracer.self_times_ms({o["op"] for o in ops})
    for layer in LAYERS:
        m[f"self.{layer}_ms_per_op"] = (self_ms.get(layer, 0.0) / n_ops, "ms")
    return m
