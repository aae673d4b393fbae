"""Per-layer spans and counts for a traced benchmark run.

The program is not edited.  ``Tracer.install`` replaces the function at
each layer boundary with a wrapper that records a span around the call and
``uninstall`` puts the originals back; the untraced run never installs
them.  A span records its name, start and end, its parent span, the id of
the client statement (or wave step) it belongs to, and the Spark job-id
range submitted while it was open (``DAGScheduler.numTotalJobs`` before
and after).  Spans stay in memory; ``write`` dumps them as JSON when the
run ends.

Parents come from a per-thread stack.  A boundary reached on a worker
thread the program started has an empty stack, so its parent is the
statement's root span.  Self time is a span's duration minus the part of
its interval covered by its children; self jobs likewise subtract the
children's jobs.  Job details (tasks run, job group) are read once at the
end from the status store, which Spark keeps with the UI off.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

#: (span name, module, attribute path) of every wrapped layer boundary
BOUNDARIES = [
    ("engine.execute_statement", "incresql_spark.engine", "Engine.execute_statement"),
    ("engine.dispatch", "incresql_spark.engine", "Engine._dispatch"),
    ("engine.register_all", "incresql_spark.engine", "Engine._register_all"),
    ("dialect.rewrite", "incresql_spark.dialect", "rewrite"),
    ("dialect.rewrite", "incresql_spark.sketch_sql", "expand_sketch_calls"),
    ("frequency.insert", "incresql_spark.frequency", "FreqTable.insert"),
    ("frequency.delete_where", "incresql_spark.frequency", "FreqTable.delete_where"),
    ("frequency.scan", "incresql_spark.frequency", "FreqTable.scan"),
    ("frequency.delta", "incresql_spark.frequency", "FreqTable.delta"),
    ("frequency.compact", "incresql_spark.frequency", "FreqTable.compact"),
    ("materialize.delta_plan", "incresql_spark.materialize",
     "AggregateJoinMaterializedView._delta_plan"),
    ("materialize.prepare_refresh", "incresql_spark.materialize",
     "MaterializedView._prepare_agg_window"),
    ("materialize.commit_refresh", "incresql_spark.materialize",
     "MaterializedView._commit_agg_window"),
    ("materialize.refresh", "incresql_spark.materialize", "MaterializedView.refresh"),
    ("materialize.refresh", "incresql_spark.materialize",
     "AggregateJoinMaterializedView.refresh"),
    ("materialize.read", "incresql_spark.materialize", "MaterializedView.read"),
    ("commit.seal_segment", "incresql_spark.commit", "RenameCommitBackend.seal_segment"),
    ("commit.seal_segment", "incresql_spark.commit", "CasPointerCommitBackend.seal_segment"),
    ("commit.publish_manifest", "incresql_spark.commit",
     "RenameCommitBackend.publish_manifest"),
    ("commit.publish_manifest", "incresql_spark.commit",
     "CasPointerCommitBackend.publish_manifest"),
    ("streaming.hll.add_batch", "incresql_spark.streaming.hll_incremental",
     "IncrementalHll.add_batch"),
    ("streaming.cms.add_batch", "incresql_spark.streaming.cms_incremental",
     "IncrementalCms.add_batch_counters"),
    ("streaming.quantile.add_batch", "incresql_spark.streaming.quantile_incremental",
     "IncrementalQuantileGrouped.add_batch"),
    ("streaming.minhash.add_batch", "incresql_spark.streaming.minhash_incremental",
     "IncrementalMinHashDedup.add_batch"),
]

#: layer spans reported as ``<name>.calls`` / ``.ms`` (self) / ``.jobs``
LAYER_SPANS = [
    "engine.register_all", "engine.dispatch", "dialect.rewrite",
    "frequency.insert", "frequency.delete_where", "frequency.scan",
    "frequency.delta", "frequency.compact",
    "materialize.delta_plan", "materialize.prepare_refresh",
    "materialize.commit_refresh", "materialize.refresh", "materialize.read",
    "materialize.write_buckets",
    "commit.seal_segment", "commit.publish_manifest",
    "streaming.hll.add_batch", "streaming.cms.add_batch",
    "streaming.quantile.add_batch", "streaming.minhash.add_batch",
]
#: spans that never run Spark work get no ``.jobs`` metric
NO_JOBS = {"dialect.rewrite", "commit.seal_segment", "commit.publish_manifest"}
#: statement / wave-step kinds reported under ``spark.*.<kind>``
KINDS = ["insert", "delete", "refresh", "select", "compact",
         "land", "hll", "cms", "quantile", "minhash", "read_state", "compact_state"]


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    names = ["server.calls", "server.self_ms", "server.stream_ms",
             "server.stream_jobs", "engine.untagged_jobs",
             "engine.register_all.per_cycle"]
    for s in LAYER_SPANS:
        names += [f"{s}.calls", f"{s}.ms"]
        if s not in NO_JOBS:
            names.append(f"{s}.jobs")
    names += ["materialize.buckets_touched_ratio", "commit.allocate_seq.conflicts",
              "frequency.segments.max", "frequency.segments.total",
              "spark.jobs", "spark.tasks", "spark.tasks_per_job"]
    for k in KINDS:
        names += [f"spark.jobs_per_call.{k}", f"spark.tasks_per_job.{k}"]
    names += ["trace.spans", "trace.cycle_p50_ms", "trace.overhead_pct"]
    return names


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, attr


class NullTracer:
    """The untraced run: every hook is a no-op."""

    def statement(self, kind: str):
        return nullcontext()

    def start(self) -> None:
        pass

    def stop(self) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        #: [id, name, start, end, parent, stmt, job0, job1, busy]
        self.spans: list[list] = []
        self._root: tuple[int, int] | None = None  # (span id, statement id)
        self._stmt_ids = itertools.count(1)
        self.job_range = [0, 0]
        self.allocate_conflicts = 0
        self.buckets_rewritten = 0
        self.buckets_changed = 0

    # -- recording -------------------------------------------------------------
    def _jobs(self) -> int:
        return self._dag.numTotalJobs()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, busy: list | None = None):
        stack = self._stack()
        root = self._root
        parent = stack[-1] if stack else (root[0] if root else None)
        sid = next(self._ids)
        rec = [sid, name, time.perf_counter(), None, parent,
               root[1] if root else None, self._jobs(), None, None]
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec[7] = self._jobs()
            rec[3] = time.perf_counter()
            if busy is not None:
                rec[8] = busy[0]
            self.spans.append(rec)

    @contextmanager
    def statement(self, kind: str):
        """Root span of one client statement or wave step; spans on any
        thread without an open span of their own hang under it."""
        with self.span(f"stmt.{kind}") as rec:
            rec[5] = next(self._stmt_ids)
            self._root = (rec[0], rec[5])
            try:
                yield rec
            finally:
                self._root = None

    # -- wrapping ----------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def start(self) -> None:
        """Install the wrappers and open the measured job-id range."""
        self.job_range = [self._jobs(), None]
        self.install()

    def stop(self) -> None:
        self.uninstall()
        self.job_range[1] = self._jobs()

    def install(self) -> None:
        for name, module, path in BOUNDARIES:
            owner, attr = _resolve(module, path)
            self._patch(owner, attr, self._wrap(name, owner.__dict__[attr]))
        self._install_stream()
        self._install_allocate_seq()
        self._install_write_buckets()

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _install_stream(self) -> None:
        """``EngineResult.iter_rows`` is a generator the server drains row by
        row between socket writes: its span covers the whole drain, and its
        busy time counts only the time spent inside the generator."""
        from incresql_spark.engine import EngineResult

        tracer, original = self, EngineResult.__dict__["iter_rows"]

        def iter_rows(res):
            busy = [0.0]
            with tracer.span("server.stream", busy):
                it = original(res)
                try:
                    while True:
                        t0 = time.perf_counter()
                        try:
                            row = next(it)
                        except StopIteration:
                            return
                        finally:
                            busy[0] += time.perf_counter() - t0
                        yield row
                finally:
                    it.close()

        self._patch(EngineResult, "iter_rows", iter_rows)

    def _install_allocate_seq(self) -> None:
        from incresql_spark import commit

        tracer, original = self, commit.__dict__["allocate_seq"]

        def allocate_seq(*args, **kwargs):
            try:
                return original(*args, **kwargs)
            except commit.CommitConflict:
                tracer.allocate_conflicts += 1
                raise

        self._patch(commit, "allocate_seq", allocate_seq)

    def _install_write_buckets(self) -> None:
        """Span ``materialize.write_buckets`` and count how many of the
        buckets it rewrites actually changed content.  The comparison reads
        the old and new bucket versions with pyarrow (no Spark job) inside
        a ``trace.probe`` child span, so it is left out of every layer's
        self time."""
        from incresql_spark.materialize import AggState

        tracer, original = self, AggState.__dict__["write_buckets"]

        def write_buckets(state, merged, keys, touched, *args, **kwargs):
            with tracer.span("materialize.write_buckets"):
                with tracer.span("trace.probe"):
                    before = state.backend.load_manifest(state.path)
                result = original(state, merged, keys, touched, *args, **kwargs)
                with tracer.span("trace.probe"):
                    after = state.backend.load_manifest(state.path)
                    tracer.buckets_rewritten += len(touched)
                    tracer.buckets_changed += sum(
                        _bucket_changed(state, before, after, k) for k in touched
                    )
            return result

        self._patch(AggState, "write_buckets", write_buckets)

    # -- reporting ---------------------------------------------------------------
    def job_details(self) -> dict[int, tuple[int, str | None]]:
        """job id → (tasks run, job group) for every job of the run."""
        sc = self._sc._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        out = {}
        for j in range(*self.job_range):
            try:
                jd = store.job(j)
            except Py4JJavaError:  # not in the store: evicted or never registered
                continue
            group = jd.jobGroup()
            out[j] = (jd.numCompletedTasks(),
                      group.get() if group.isDefined() else None)
        return out

    def per_layer(self, cycles: int, cycle_ms: list[float],
                  segments: dict[str, int], loop_s: float) -> dict[str, float]:
        spans = self.spans
        cost_ms = self.span_cost_ms()
        children: dict[int, list[list]] = defaultdict(list)
        for s in spans:
            if s[4] is not None:
                children[s[4]].append(s)
        jobs = self.job_details()

        def self_ms(s) -> float:
            dur = s[8] if s[8] is not None else s[3] - s[2]
            if s[8] is None:
                dur -= _covered(s[2], s[3], children.get(s[0], ()))
            return max(dur, 0.0) * 1000

        def self_jobs(s) -> int:
            own = s[7] - s[6]
            return max(own - sum(c[7] - c[6] for c in children.get(s[0], ())), 0)

        m: dict[str, float] = defaultdict(float)
        for s in spans:
            if s[1] in LAYER_SPANS:
                m[f"{s[1]}.calls"] += 1
                m[f"{s[1]}.ms"] += self_ms(s)
                if s[1] not in NO_JOBS:
                    m[f"{s[1]}.jobs"] += self_jobs(s)
        wire = [s for s in spans if s[1].startswith("stmt.")
                and s[1][5:] in ("insert", "delete", "refresh", "select", "compact")]
        engine = [s for s in spans if s[1] == "engine.execute_statement"]
        stream = [s for s in spans if s[1] == "server.stream"]
        m["server.calls"] = len(wire)
        m["server.stream_ms"] = sum(s[8] or 0.0 for s in stream) * 1000
        m["server.self_ms"] = max(
            sum(s[3] - s[2] for s in wire) * 1000
            - sum(s[3] - s[2] for s in engine) * 1000
            - m["server.stream_ms"], 0.0)
        m["server.stream_jobs"] = sum(s[7] - s[6] for s in stream)
        m["engine.untagged_jobs"] = sum(
            1 for s in engine + stream for j in range(s[6], s[7])
            if not (jobs.get(j, (0, None))[1] or "").startswith("incresql-session-")
        )
        m["engine.register_all.per_cycle"] = (
            m["engine.register_all.calls"] / cycles if cycles else 0.0)
        m["materialize.buckets_touched_ratio"] = (
            self.buckets_changed / self.buckets_rewritten
            if self.buckets_rewritten else 0.0)
        m["commit.allocate_seq.conflicts"] = self.allocate_conflicts
        m["frequency.segments.max"] = max(segments.values(), default=0)
        m["frequency.segments.total"] = sum(segments.values())
        m["spark.jobs"] = len(jobs)
        m["spark.tasks"] = sum(t for t, _ in jobs.values())
        m["spark.tasks_per_job"] = m["spark.tasks"] / len(jobs) if jobs else 0.0
        for kind in KINDS:
            roots = [s for s in spans if s[1] == f"stmt.{kind}"]
            ids = [j for s in roots for j in range(s[6], s[7])]
            tasks = sum(jobs.get(j, (0, None))[0] for j in ids)
            m[f"spark.jobs_per_call.{kind}"] = len(ids) / len(roots) if roots else 0.0
            m[f"spark.tasks_per_job.{kind}"] = tasks / len(ids) if ids else 0.0
        m["trace.spans"] = len(spans)
        # compare with the untraced run's cycle_p50_ms for the same seed
        m["trace.cycle_p50_ms"] = _median(cycle_ms)
        # recording every span, plus the bucket probes' own reads
        probe_ms = sum(s[3] - s[2] for s in spans if s[1] == "trace.probe") * 1000
        m["trace.overhead_pct"] = (
            (len(spans) * cost_ms + probe_ms) / (loop_s * 1000) * 100 if loop_s else 0.0)
        return {name: round(float(m.get(name, 0.0)), 4)
                for name in per_layer_names()}

    def span_cost_ms(self, n: int = 2000) -> float:
        """Measured cost of recording one span, for the overhead estimate."""
        saved, self.spans = self.spans, []
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate"):
                pass
        cost = (time.perf_counter() - t0) / n * 1000
        self.spans = saved
        return cost

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ["id", "name", "start", "end", "parent", "stmt",
                "job_first", "job_end", "busy"]
        with open(path, "w") as fh:
            json.dump([dict(zip(keys, s)) for s in self.spans], fh)


def _covered(t0: float, t1: float, kids) -> float:
    """Length of [t0, t1] covered by the union of the children's intervals."""
    iv = sorted((max(c[2], t0), min(c[3], t1)) for c in kids)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _median(xs: list[float]) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _bucket_changed(state, before: dict | None, after: dict | None, k: int) -> bool:
    import pyarrow.parquet as pq

    old = (before or {}).get("buckets", {}).get(str(k))
    new = (after or {}).get("buckets", {}).get(str(k))
    if old == new:
        return False
    if old is None or new is None:
        return True
    tables = []
    for v in (old, new):
        t = pq.read_table(os.path.join(state.path, f"b-{k}", state._vdir(v)))
        tables.append(t.sort_by([(c, "ascending") for c in t.column_names]))
    return not tables[0].equals(tables[1])
