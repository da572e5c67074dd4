"""Traced-run mode: spans around calls into each layer's public functions,
one Spark job group per span, and stage metrics read back from Spark's
AppStatusStore through py4j (populated with the UI off).

The wrappers are installed from the benchmark's own files by replacing
module and class attributes for the lifetime of the run; the program's
code is unchanged. Spans are kept in memory and written when the run
ends. A job is charged to the span whose group it carries; jobs the
program submits from its own threads (the build's side-table pool, the
streaming micro-batch thread) carry no span group and are charged to the
innermost write-path span open at their submission time.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

from perfbench.harness import median

REQ_HEADER = "X-Perfbench-Id"
WRITE_LAYERS = ("build", "ingest")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # ---------------------------------------------------------- spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, layer: str, name: str, fn, args, kwargs, jobs=True,
             req=None):
        b0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        span = {
            "id": next(self._ids), "layer": layer, "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else None, "req": req,
        }
        if span["root"] is None:
            span["root"] = span["id"]
        st.append(span)
        if jobs:
            self.sc.setJobGroup(f"pb-{span['id']}", name, False)
        span["book_s"] = time.perf_counter() - b0
        span["t0"] = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span["t1"] = time.time()
            b1 = time.perf_counter()
            st.pop()
            if jobs:
                if parent is not None:
                    self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"],
                                        False)
                else:
                    self.sc._jsc.clearJobGroup()
            span["book_s"] += time.perf_counter() - b1
            with self._lock:
                self.spans.append(span)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             jobs: bool = True) -> None:
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(layer, label, orig, args, kwargs, jobs=jobs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of every layer but serve (whose
        handler class exists only once a server is made)."""
        from apt_search_engine_spark.indexing import blocks, build, deletes
        from apt_search_engine_spark.query import engine, wand
        from apt_search_engine_spark.streaming import ingest

        se = engine.SearchEngine
        for m in ("search", "search_prefix", "search_fuzzy", "search_near",
                  "search_sloppy", "search_wildcard", "search_bm25_df",
                  "suggest_spelling", "term_dfs", "refresh"):
            self.wrap(se, m, "engine")
        for m in ("expand_prefix", "expand_fuzzy", "expand_wildcard"):
            self.wrap(se, m, "engine", "expand")
        self.wrap(wand, "translate_topk", "wand")
        self.wrap(engine, "generate_snippet", "snippets", jobs=False)
        for m in ("build", "analyze", "merge_and_write"):
            self.wrap(build.IndexBuilder, m, "build")
        self.wrap(blocks, "write_blocks", "build")
        for m in ("stream_analyze", "compact", "recompact"):
            self.wrap(ingest, m, "ingest")
        self.wrap(deletes, "delete_docs", "ingest")

    def install_serve(self, httpd) -> None:
        handler = httpd.RequestHandlerClass
        orig = handler.do_GET
        tracer = self

        def do_GET(h):
            return tracer.call("serve", "request", orig, (h,), {},
                               req=h.headers.get(REQ_HEADER))

        handler.do_GET = do_GET
        self._patches.append((handler, "do_GET", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------- status store
    def read_store(self) -> tuple[list[dict], dict[int, dict]]:
        """All jobs and stage attempts of the application, as dicts."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway

        def opt_ms(o):
            return o.get().getTime() / 1000.0 if o.isDefined() else None

        jobs = []
        seq = store.jobsList(None)
        for i in range(seq.length()):
            j = seq.apply(i)
            sids = j.stageIds()
            group = j.jobGroup()
            jobs.append({
                "id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "submit": opt_ms(j.submissionTime()),
                "done": opt_ms(j.completionTime()),
                "stages": [sids.apply(k) for k in range(sids.length())],
            })
        stages: dict[int, dict] = {}
        seq = store.stageList(None, False, False,
                              gw.new_array(gw.jvm.double, 0),
                              gw.jvm.java.util.ArrayList())
        for i in range(seq.length()):
            s = seq.apply(i)
            if str(s.status()) == "SKIPPED":
                continue
            d = stages.setdefault(s.stageId(), {
                "id": s.stageId(), "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
                "input": 0, "shuffle_read": 0, "shuffle_write": 0,
                "spill": 0, "waits": [],
            })
            d["tasks"] += s.numTasks()
            d["run_ms"] += s.executorRunTime()
            d["cpu_ms"] += s.executorCpuTime() / 1e6
            d["input"] += s.inputBytes()
            d["shuffle_read"] += s.shuffleReadBytes()
            d["shuffle_write"] += s.shuffleWriteBytes()
            d["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, first = opt_ms(s.submissionTime()), opt_ms(s.firstTaskLaunchedTime())
            if sub is not None and first is not None:
                d["waits"].append((first - sub) * 1000.0)
            d["attempt"] = s.attemptId()
        return jobs, stages

    def task_skew(self, stage: dict) -> float:
        """max / median executor run time over the tasks of one stage."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summ = store.taskSummary(stage["id"], stage["attempt"], qs)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of (a, b) intervals clipped to [lo, hi]."""
    xs = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                if a is not None and b is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in xs:
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
    return total * 1000.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Trace:
    """Spans joined with the jobs and stages they submitted."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.spans = {s["id"]: s for s in tracer.spans}
        self.children: dict[int, list[dict]] = {}
        for s in self.spans.values():
            s["jobs"] = []
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.jobs, self.stages = tracer.read_store()
        write_spans = sorted(
            (s for s in self.spans.values() if s["layer"] in WRITE_LAYERS),
            key=lambda s: s["t0"],
        )
        for j in self.jobs:
            g = j["group"] or ""
            sid = int(g[3:]) if g.startswith("pb-") and g[3:].isdigit() else None
            span = self.spans.get(sid)
            if span is None and j["submit"] is not None:
                # charged by submission time to the innermost open
                # write-path span (latest start wins)
                for s in write_spans:
                    if s["t0"] <= j["submit"] <= s["t1"]:
                        span = s
            if span is not None:
                span["jobs"].append(j)

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], ()))
        return out

    def jobs_of(self, span: dict) -> list[dict]:
        return [j for s in self.subtree(span) for j in s["jobs"]]

    def stages_of(self, jobs) -> list[dict]:
        ids = {sid for j in jobs for sid in j["stages"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def self_ms(self, span: dict) -> float:
        kids = self.children.get(span["id"], ())
        covered = _union_ms([(c["t0"], c["t1"]) for c in kids],
                            span["t0"], span["t1"])
        return (span["t1"] - span["t0"]) * 1000.0 - covered

    def driver_ms(self, span: dict) -> float:
        """Span time not covered by any Spark job it submitted."""
        covered = _union_ms([(j["submit"], j["done"]) for j in self.jobs_of(span)],
                            span["t0"], span["t1"])
        return (span["t1"] - span["t0"]) * 1000.0 - covered

    def named(self, name: str, layer: str | None = None) -> list[dict]:
        return [s for s in self.spans.values() if s["name"] == name
                and (layer is None or s["layer"] == layer)]

    def top(self, spans) -> list[dict]:
        """The given spans that are not nested inside another of them."""
        ids = {s["id"] for s in spans}
        out = []
        for s in spans:
            p = self.spans.get(s["parent"])
            while p is not None and p["id"] not in ids:
                p = self.spans.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def layer(self, *layers: str) -> list[dict]:
        return [s for s in self.spans.values() if s["layer"] in layers]

    def total_ms(self, spans) -> float:
        return sum((s["t1"] - s["t0"]) * 1000.0 for s in spans)


def layer_metrics(trace: Trace, requests: dict, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics (the fixed set every workload reports) and the
    workload-specific report. `requests` maps the client's request id to
    (family, Response) for the timed requests."""
    reqs = [s for s in trace.named("request", "serve") if s["req"] in requests]
    missed = [s for s in reqs if requests[s["req"]][1].cache != "hit"]
    engine_calls = [c for s in missed for c in trace.children.get(s["id"], ())
                    if c["layer"] == "engine"]

    def per_req(fn):
        return _mean(fn(s) for s in missed)

    def req_stages(s):
        return trace.stages_of(trace.jobs_of(s))

    m: dict[str, float] = {}
    m["serve.self_ms"] = median([trace.self_ms(s) for s in reqs])
    m["serve.wait_ms"] = median(
        [(s["t0"] - requests[s["req"]][1].t_send) * 1000.0 for s in reqs])
    m["serve.cache_hit_ratio"] = _mean(
        1.0 if requests[s["req"]][1].cache == "hit" else 0.0 for s in reqs)
    m["engine.call_ms"] = median(
        [(c["t1"] - c["t0"]) * 1000.0 for c in engine_calls])
    m["engine.driver_ms"] = median([trace.driver_ms(c) for c in engine_calls])
    m["engine.jobs"] = per_req(lambda s: len(trace.jobs_of(s)))
    m["engine.stages"] = per_req(lambda s: len(req_stages(s)))
    m["engine.tasks"] = per_req(lambda s: sum(x["tasks"] for x in req_stages(s)))
    m["engine.executor_run_ms"] = per_req(
        lambda s: sum(x["run_ms"] for x in req_stages(s)))
    m["engine.executor_cpu_ms"] = per_req(
        lambda s: sum(x["cpu_ms"] for x in req_stages(s)))
    m["engine.task_wait_ms"] = median(
        [w for s in missed for x in req_stages(s) for w in x["waits"]])
    m["engine.input_bytes"] = per_req(
        lambda s: sum(x["input"] for x in req_stages(s)))
    m["engine.shuffle_bytes"] = per_req(
        lambda s: sum(x["shuffle_read"] + x["shuffle_write"]
                      for x in req_stages(s)))
    tdfs = trace.named("term_dfs", "engine")
    m["engine.term_dfs_ms"] = median([(s["t1"] - s["t0"]) * 1000.0 for s in tdfs])
    m["engine.term_dfs_jobs"] = _mean(len(trace.jobs_of(s)) for s in tdfs)
    m["engine.refresh_count"] = float(len(trace.named("refresh", "engine")))
    tk = trace.named("translate_topk", "wand")
    m["wand.translate_topk_ms"] = median([(s["t1"] - s["t0"]) * 1000.0 for s in tk])
    m["wand.translate_topk_jobs"] = _mean(len(trace.jobs_of(s)) for s in tk)

    # write path: the batch build and the stream path share the analyze
    # kernel, the posting merge and write_blocks. `build.*` covers every
    # write-path span (batch build, stream analyze, compact, deletes);
    # `ingest.*` only the stream path and deletes. `search` writes only when
    # it fills its index cache, so write-path timings go to the report (a
    # timing that reads 0 on every run is not a measurement) and `metrics`
    # keeps the exact counts
    write_top = trace.top(trace.layer(*WRITE_LAYERS))
    write_jobs = [j for s in write_top for j in trace.jobs_of(s)]
    write_stages = trace.stages_of(write_jobs)
    run_ms = float(sum(x["run_ms"] for x in write_stages))
    wall_ms = trace.total_ms(write_top)
    m["build.jobs"] = float(len(write_jobs))
    m["build.tasks"] = float(sum(x["tasks"] for x in write_stages))
    m["build.shuffle_write_bytes"] = float(
        sum(x["shuffle_write"] for x in write_stages))
    m["build.spill_bytes"] = float(sum(x["spill"] for x in write_stages))
    m["build.core_busy_frac"] = run_ms / (wall_ms * cores) if wall_ms else 0.0
    biggest = max(write_stages, key=lambda x: x["shuffle_write"], default=None)
    m["build.merge.task_skew"] = (
        trace.tracer.task_skew(biggest) if biggest else 0.0)
    ingest_top = trace.top(trace.layer("ingest"))
    ingest_jobs = [j for s in ingest_top for j in trace.jobs_of(s)]
    ingest_stages = trace.stages_of(ingest_jobs)
    m["ingest.jobs"] = float(len(ingest_jobs))
    m["ingest.tasks"] = float(sum(x["tasks"] for x in ingest_stages))
    m["ingest.shuffle_write_bytes"] = float(
        sum(x["shuffle_write"] for x in ingest_stages))

    m["trace.overhead_ms"] = median(
        [sum(x["book_s"] for x in trace.subtree(s)) * 1000.0 for s in reqs])

    # -- workload-specific detail (printed, not compared) -------------
    report: dict = {}
    fams: dict[str, list] = {}
    for s in missed:
        fams.setdefault(requests[s["req"]][0], []).append(s)
    for fam, ss in sorted(fams.items()):
        report[f"engine.call_ms.{fam}"] = median(
            [(c["t1"] - c["t0"]) * 1000.0 for s in ss
             for c in trace.children.get(s["id"], ()) if c["layer"] == "engine"])
        report[f"engine.jobs.{fam}"] = _mean(len(trace.jobs_of(s)) for s in ss)
        report[f"engine.stages.{fam}"] = _mean(len(req_stages(s)) for s in ss)
        report[f"engine.tasks.{fam}"] = _mean(
            sum(x["tasks"] for x in req_stages(s)) for s in ss)
    report["engine.expand_ms"] = trace.total_ms(trace.named("expand"))
    report["snippets.ms"] = per_req(
        lambda s: trace.total_ms(x for x in trace.subtree(s)
                                 if x["layer"] == "snippets"))
    hits = [requests[s["req"]][1].ms for s in reqs
            if requests[s["req"]][1].cache == "hit"]
    report["serve.hit_ms"] = median(hits) if hits else None
    report["build.analyze_ms"] = trace.total_ms(
        trace.named("analyze", "build") + trace.named("stream_analyze", "ingest"))
    report["build.merge_ms"] = trace.total_ms(trace.top(
        trace.named("merge_and_write") + trace.named("compact")))
    report["blocks.write_ms"] = trace.total_ms(trace.named("write_blocks"))
    report["build.executor_run_ms"] = run_ms
    report["build.executor_cpu_ms"] = sum(x["cpu_ms"] for x in write_stages)
    for name in ("stream_analyze", "compact", "recompact", "delete_docs"):
        report[f"ingest.{name}_ms"] = trace.total_ms(trace.named(name, "ingest"))
    report["ingest.executor_run_ms"] = sum(x["run_ms"] for x in ingest_stages)
    report["ingest.recompact_count"] = len(trace.named("recompact", "ingest"))
    phases: dict[str, list] = {}
    for s in write_top:
        for x in trace.subtree(s):
            phases.setdefault(x["name"], []).append(x)
    for name, ss in sorted(phases.items()):
        st = trace.stages_of([j for x in ss for j in x["jobs"]])
        report[f"phase.{name}.jobs"] = sum(len(x["jobs"]) for x in ss)
        report[f"phase.{name}.executor_run_ms"] = sum(x["run_ms"] for x in st)
        report[f"phase.{name}.shuffle_write_bytes"] = sum(
            x["shuffle_write"] for x in st)
    return m, report
