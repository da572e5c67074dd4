"""The workloads. Each drives the public surfaces from one process:
`IndexBuilder.build`, the streaming `stream_analyze` / `compact` /
`delete_docs` write path, and the `serve` HTTP round trip (whose handler
calls `engine.search(..., with_snippets=True)` and the other engine
entry points). Layer calls go through module attributes so that the
traced run's wrappers see them.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
import shutil
import threading
import time

from perfbench import checks, inputs
from perfbench.harness import CACHE_ROOT, ROOT, T_START, get, hd_median, median
from perfbench.tracing import REQ_HEADER

# a failed request counts as the request timeout, slower than every
# successful one
FAILED_MS = 120_000.0
# untimed first requests of `search` (the first families of another
# seed's log): the first requests of a process pay for Spark's start-up
WARM = 2
# reference-route requests sent after each `ingest` cycle
DEFAULT_ROUTE = 2
# seed of the pinned corpora, the ROADMAP's canonical one. --seed drives
# the queries, the increments and the deletes
CORPUS_SEED = 42


class Client:
    """Closed-loop HTTP client state shared by the workload's threads:
    numbers every request (sent as the REQ_HEADER header, which the traced
    run matches to its server span) and keeps (Req, Response) per id."""

    def __init__(self, base: str):
        self.base = base
        self.ids = itertools.count(1)
        self.log: dict[str, tuple] = {}
        self._lock = threading.Lock()

    def send(self, req) -> tuple:
        rid = str(next(self.ids))
        resp = get(self.base, req.path, headers={REQ_HEADER: rid})
        with self._lock:
            self.log[rid] = (req, resp)
        return rid, resp


def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
            except OSError:
                pass
    return n_bytes, n_files


INDEX_TABLES = ("postings", "blocks", "lexicon", "doc_map", "doc_len",
                "doc_meta", "analyzed", "lineage")


def index_usage(index_dir: str) -> dict[str, float]:
    out = {}
    for t in INDEX_TABLES:
        b, f = _dir_usage(os.path.join(index_dir, t))
        out[f"index.bytes.{t}"] = float(b)
        out[f"index.files.{t}"] = float(f)
    return out


def query_p50_ms(resps, failed_ids) -> float:
    """Median latency (Harrell-Davis estimate, see harness.hd_median); a
    failed request counts as slower than every successful one."""
    return hd_median([FAILED_MS if rid in failed_ids else r.ms
                      for rid, r in resps])


class Result:
    """What one workload run measured, checked and reports."""

    def __init__(self):
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []  # reasons for wrong answers
        self.errors: list[str] = []  # reasons for other failed operations
        self.client: Client | None = None
        self.report: dict = {}
        self.index_dir: str | None = None
        self.timed_ids: set[str] = set()  # the requests measured
        self._last = T_START

    def mark(self, phase: str) -> float:
        """Record the set-up time since the previous mark under
        `setup.<phase>_s`; returns it."""
        now = time.perf_counter()
        dt = now - self._last
        self.report[f"setup.{phase}_s"] = dt
        self._last = now
        return dt

    def fail(self, reason: str, wrong: bool) -> None:
        self.failed += 1
        (self.wrong if wrong else self.errors).append(reason)


def _family_latency(res: Result, timed) -> None:
    """Median latency per query family into the report."""
    by_fam: dict[str, list] = {}
    for rid, resp in timed:
        by_fam.setdefault(res.client.log[rid][0].family, []).append(resp.ms)
    for fam, ms in sorted(by_fam.items()):
        res.report[f"latency_ms.{fam}"] = median(ms)


def _check_all(res: Result, timed, tombstoned) -> set:
    failed = set()
    for rid, resp in timed:
        why = checks.check_response(resp, tombstoned)
        if why is not None:
            failed.add(rid)
            res.fail(f"{res.client.log[rid][0].family}: {why}",
                     wrong=resp.status == 200)
    return failed


def _program_key(*params) -> str:
    """Digest of `params` and the program's source, naming a cached input
    built by that program version."""
    key = hashlib.sha1(repr(params).encode())
    pkg = os.path.join(ROOT, "apt_search_engine_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    key.update(f.encode() + fh.read())
    return key.hexdigest()[:16]


def _search_index(run, spark, size, res) -> str:
    """Copy of the batch-built index of the pinned corpus. It is built by
    `IndexBuilder(spark, dir, n_batches=1).build(...)` on the first run in a
    checkout (and program version) and kept in `.perfbench_cache/`: a
    server opens an index, it does not rebuild it per start."""
    from apt_search_engine_spark.corpus import gen_corpus_spark
    from apt_search_engine_spark.indexing import build

    cached = os.path.join(CACHE_ROOT, "search-index-" + _program_key(
        size.search_convs, CORPUS_SEED))
    if not os.path.isdir(cached):
        tmp = f"{cached}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build.IndexBuilder(spark, tmp, n_batches=1).build(
            gen_corpus_spark(spark, size.search_convs, seed=CORPUS_SEED))
        res.report["search.cache_build_s"] = res.mark("build")
        try:
            os.replace(tmp, cached)
        except OSError:  # a concurrent run filled the cache first
            shutil.rmtree(tmp, ignore_errors=True)
    idx = run.path("index")
    shutil.copytree(cached, idx)
    return idx


def run_search(run, spark, size, seed: int, seconds: float, tracer) -> Result:
    """One client, distinct requests over the SEARCH_FAMILIES mix, against
    serve over a batch-built index."""
    from apt_search_engine_spark.query.engine import SearchEngine

    res = Result()
    res.mark("spark")
    pdf = inputs.conversations(0, size.search_convs, CORPUS_SEED)
    idx = res.index_dir = _search_index(run, spark, size, res)
    engine = SearchEngine(spark, index_dir=idx)
    httpd, base = run.serve(engine)
    if tracer is not None:
        tracer.install_serve(httpd)
    client = res.client = Client(base)
    res.mark("index+serve")
    warm = inputs.search_log(pdf, -seed - 1, rounds=1)[:WARM]
    rounds = 1 + int(seconds)  # a round takes well over a second
    timed_log = [r for r in inputs.search_log(pdf, seed, rounds=rounds)
                 if r not in warm]
    for req in warm:
        client.send(req)
    res.mark("warm-up")

    # whole rounds of the family mix, at least `seconds` long: every run
    # measures the same families the same number of times
    res.metrics["setup_s"] = time.perf_counter() - T_START
    n_fam = len(inputs.SEARCH_FAMILIES)
    timed = []
    t0 = time.perf_counter()
    for i, req in enumerate(timed_log):
        if i % n_fam == 0 and time.perf_counter() - t0 >= seconds:
            break
        timed.append(client.send(req))
    elapsed = time.perf_counter() - t0
    if len(timed) == len(timed_log):
        raise RuntimeError("search log exhausted before the run ended")

    # -- checks (outside the timed region) ---------------------------
    failed = _check_all(res, timed, frozenset())
    oracle = checks.make_oracle(pdf)
    rng = random.Random(f"oracle-{seed}")
    ref = [rid for rid, _ in timed if rid not in failed
           and client.log[rid][0].family in inputs.ORACLE_FAMILIES]
    for rid in rng.sample(ref, min(size.oracle_checks, len(ref))):
        why = checks.check_oracle(oracle, *client.log[rid])
        if why is not None:
            failed.add(rid)
            res.fail(why, wrong=True)

    res.attempted = len(timed)
    _family_latency(res, timed)
    res.metrics.update({
        "query_p50_ms": query_p50_ms(timed, failed),
        "query_qps": len(timed) / elapsed,
        "index_bytes_per_text_byte":
            _dir_usage(idx)[0] / inputs.text_bytes(pdf),
    })
    res.timed_ids = {rid for rid, _ in timed}
    return res


def _read_phase(client: Client, log, lock, clients: int, per_client: int):
    """`clients` closed-loop client threads, each sending `per_client`
    requests drawn in turn from the shared iterator `log`. Returns the
    (id, Response) pairs and the phase's wall seconds."""
    outs = [[] for _ in range(clients)]

    def loop(out: list) -> None:
        for _ in range(per_client):
            with lock:
                req = next(log)
            out.append(client.send(req))

    t = time.perf_counter()
    threads = [threading.Thread(target=loop, args=(o,)) for o in outs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return [x for o in outs for x in o], time.perf_counter() - t


def _land(pdf, inp: str, name: str) -> None:
    """Land transcripts as one parquet file in the stream's input
    directory, the way an outside producer would (no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(inp, exist_ok=True)
    tmp = os.path.join(inp, f".{name}.parquet.tmp")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp,
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    os.rename(tmp, os.path.join(inp, f"{name}.parquet"))


def _stream_index(run, spark, pdf, res):
    """Land the corpus as parquet in a stream input directory and build a
    fresh index from it with `stream_analyze` + `compact` (defaults: the
    bootstrap compaction). Returns (input dir, index dir)."""
    from apt_search_engine_spark.streaming import ingest

    inp, idx = run.path("incoming"), run.path("index")
    _land(pdf, inp, "base")
    t = time.perf_counter()
    ingest.stream_analyze(spark, inp, idx)
    ingest.compact(spark, idx)
    res.report["stream.freshness_s"] = time.perf_counter() - t
    res.report["stream.turns_per_s"] = len(pdf) / (time.perf_counter() - t)
    res.mark("stream-build")
    return inp, idx


def run_stream(run, spark, size, seed: int, seconds: float, tracer) -> Result:
    """Set-up streams the pinned corpus into a fresh index (stream_analyze
    + compact), serves it and tombstones a few seeded doc_ids; then `cores`
    clients read it through serve with scorer=bm25, every 4th request
    repeating an earlier query. Reads follow the writes: see README.md for
    why they do not overlap."""
    from apt_search_engine_spark.indexing import deletes
    from apt_search_engine_spark.query.engine import SearchEngine

    res = Result()
    res.mark("spark")
    pdf = inputs.conversations(0, size.stream_convs, CORPUS_SEED)
    _, idx = _stream_index(run, spark, pdf, res)
    res.index_dir = idx
    engine = SearchEngine(spark, index_dir=idx)
    httpd, base = run.serve(engine)
    if tracer is not None:
        tracer.install_serve(httpd)
    client = res.client = Client(base)
    tombstoned = frozenset(
        inputs.pick_doc_ids(pdf, seed, size.deletes, "stream-delete"))
    deletes.delete_docs(spark, idx, sorted(tombstoned))
    # one untimed read per client: the engine's refresh after the delete
    # commit lands here, not in the timed reads
    log = inputs.hot_log(pdf, seed)
    lock = threading.Lock()
    _read_phase(client, log, lock, run.cores, 1)
    res.mark("serve+delete")
    res.metrics["setup_s"] = time.perf_counter() - T_START

    # every read below starts after delete_docs returned
    timed, read_s = [], 0.0
    while not timed or read_s < seconds:
        got, dt = _read_phase(client, log, lock, run.cores,
                              max(1, size.reads_per_phase // run.cores))
        timed += got
        read_s += dt

    failed = _check_all(res, timed, tombstoned)
    res.attempted = len(timed)
    res.metrics.update({
        "query_p50_ms": query_p50_ms(timed, failed),
        "query_qps": len(timed) / read_s,
        "index_bytes_per_text_byte":
            _dir_usage(idx)[0] / inputs.text_bytes(pdf),
    })
    res.timed_ids = {rid for rid, _ in timed}
    return res


def run_ingest(run, spark, size, seed: int, seconds: float,
                    tracer) -> Result:
    """Incremental ingest under a live reader, run by hand (not in
    BENCHMARK.json: one cycle takes ~15 s and its operations fail on the
    current engine, see README.md). The pinned corpus is streamed into a
    served index; each cycle lands an increment of new conversations (ids
    above the corpus), runs stream_analyze + compact (defaults,
    auto-recompact on) and delete_docs while one client keeps querying
    serve with scorer=bm25, then sends DEFAULT_ROUTE reference-route
    requests, which read doc_meta. Runs at least `seconds`; 9 cycles make
    auto-recompact fire at the default 8 segments per term."""
    from apt_search_engine_spark.indexing import deletes
    from apt_search_engine_spark.query.engine import SearchEngine
    from apt_search_engine_spark.streaming import ingest

    res = Result()
    res.mark("spark")
    pdf = inputs.conversations(0, size.stream_convs, CORPUS_SEED)
    inp, idx = _stream_index(run, spark, pdf, res)
    res.index_dir = idx
    engine = SearchEngine(spark, index_dir=idx)
    httpd, base = run.serve(engine)
    if tracer is not None:
        tracer.install_serve(httpd)
    client = res.client = Client(base)
    log = inputs.hot_log(pdf, seed)
    client.send(next(log))
    res.mark("base")
    res.metrics["setup_s"] = time.perf_counter() - T_START
    bytes_before = _dir_usage(idx)[0]

    # (delete_docs return time, doc_ids): a response must not contain a
    # doc tombstoned before its request was sent
    delete_log: list[tuple[float, list]] = []
    stop = threading.Event()
    timed: list = []

    def reader() -> None:
        while not stop.is_set():
            timed.append(client.send(next(log)))

    fresh_s, landed_turns, landed_bytes = [], 0, 0
    reader_thread = threading.Thread(target=reader)
    t0 = time.perf_counter()
    reader_thread.start()
    try:
        for cycle in itertools.count():
            lo = size.stream_convs + cycle * size.inc_convs
            inc = inputs.conversations(lo, lo + size.inc_convs, seed)
            _land(inc, inp, f"cycle-{cycle}")
            t_land = time.perf_counter()
            ingest.stream_analyze(spark, inp, idx)
            ingest.compact(spark, idx)
            fresh_s.append(time.perf_counter() - t_land)
            landed_turns += len(inc)
            landed_bytes += inputs.text_bytes(inc)
            dels = inputs.pick_doc_ids(inc, seed, size.deletes, f"ingest-{cycle}")
            deletes.delete_docs(spark, idx, dels)
            delete_log.append((time.time(), dels))
            for q in inputs.search_log(inc, seed + cycle, 1)[:DEFAULT_ROUTE]:
                timed.append(client.send(q))
            if time.perf_counter() - t0 >= seconds:
                break
    finally:
        stop.set()
        reader_thread.join()
    elapsed = time.perf_counter() - t0

    failed = set()
    for rid, resp in timed:
        tomb = frozenset(d for t, ds in delete_log if t < resp.t_send for d in ds)
        failed |= _check_all(res, [(rid, resp)], tomb)
    res.attempted = len(timed)
    res.metrics.update({
        "query_p50_ms": query_p50_ms(timed, failed),
        "query_qps": (len(timed) - len(failed)) / elapsed,
        "index_turns_per_s": landed_turns / sum(fresh_s),
        "index_bytes_per_text_byte": _dir_usage(idx)[0] / (
            inputs.text_bytes(pdf) + landed_bytes),
    })
    res.report.update({
        "ingest.cycles": len(fresh_s),
        "ingest.freshness_p50_s": median(fresh_s),
        "ingest.write_amp": (_dir_usage(idx)[0] - bytes_before) / landed_bytes,
    })
    res.timed_ids = {rid for rid, _ in timed}
    return res


# the workloads of BENCHMARK.json, then the one run by hand
WORKLOADS = {"search": run_search, "stream": run_stream,
             "ingest": run_ingest}
