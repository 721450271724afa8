"""The four workloads: ``build``, ``serve``, ``spark_query``, ``ingest``.

Each runs in its own process with its own Spark session (``run.py``
starts one process per workload), in four steps:

1. set-up: session, seeded corpus, index build, warm-up -- ``setup_s``;
2. the measured window (``Run.window``), ``--seconds`` long;
3. correctness checks, outside the window and outside ``setup_s``;
   every mismatch counts as a failed operation;
4. clean-up: server, Spark JVM and Python workers stopped and
   waited for, scratch files removed.

The engine sees only inputs the benchmark generated from ``--seed``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

import pyarrow.compute as pc
import pyarrow.parquet as pq

import hoststat
import loadgen
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# corpus shape: the dictionary (~7.9k terms) is larger than
# LocalSearcher's 4,096-term decoded-postings cache, so the tail of
# the Zipf query mix misses it
N_DOCS = 2000
VOCAB = 8000
TOKENS = (20, 300)
N_CHUNKS = 2
N_BUCKETS = 16
# the generator appends a topic passage to the docs of this many of its
# 97 hosts; each host is a contiguous doc-id run, so the topic terms'
# block maxima are skewed -- the shape block-max pruning can skip on
ENRICH_HOSTS = 10
TOPIC_WORDS = "quorum blockmax thetacut replicas converged"
# serve
SERVE_WARMUP_S = 0.5
# spark_query
SPARK_WARMUP_S = 5.0
BATCH_QUERIES = 200
BATCH_REPEATS = 3  # batch_topk_qps is the median of these calls
# A single query counts toward the bounded metrics only if the VM lost
# less than this share of its CPU time to other guests (steal) while it
# ran: each query is hundreds of cross-thread hand-offs, and at 10-15 %
# steal they come out 50-80 % slower.  Under load the window is
# extended, by at most --seconds, until QUIET_MIN queries have counted.
QUIET_STEAL_PCT = 2.0
QUIET_MIN = 12
# ingest
BATCH_DOCS = 200
# a fixed count, so a faster engine does the same work, not more of it
N_BATCHES = 2
READ_RATE = 20.0  # open-loop reader, requests per second
N_DELETE = 20
PINNED_SAMPLE = 6
# correctness sample sizes
CHECK_LOCAL = 12
CHECK_SPARK_VECTOR = 1
CHECK_SPARK_BOOL = 1

LAYERS = ["tokenizer", "porter2", "codec", "scoring", "index_build",
          "serve_local", "httpserver", "query_vector", "query_bool",
          "incremental", "delete", "compact"]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def index_sizes(index_dir: str) -> dict[str, int]:
    return {s: dir_bytes(os.path.join(index_dir, s))
            for s in ("postings", "dictionary", "docs")}


def corpus_text_bytes(pages_path: str) -> int:
    t = pq.read_table(pages_path, columns=["text"])
    return int(pc.sum(pc.binary_length(t.column("text"))).as_py())


def corpus_rows(pages_path: str) -> list[tuple[str, str]]:
    t = pq.read_table(pages_path, columns=["url", "text"])
    return list(zip(t.column("url").to_pylist(),
                    t.column("text").to_pylist()))


class Run:
    """State of one workload run."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.nproc = len(os.sched_getaffinity(0))
        self.base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(self.base, f"run-{os.getpid()}")
        self.trace_dir = os.path.join(self.work, "trace")
        os.makedirs(self.trace_dir, exist_ok=True)
        self.tr = spans.Tracer() if trace else None
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict[str, dict] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = defaultdict(float)
        self.setup_s = 0.0
        self.spark = None
        self.server = None
        self.port = None
        self.ops: list[tuple[str, str]] = []
        # job-group ids never repeat within a run, so the status tracker
        # cannot mix warm-up jobs into a measured operation's group
        self._group_ids = itertools.count()
        self.window_s = 0.0
        self.window_cpu_s = 0.0
        self.client_service: list[float] = []
        self._setup_totals: dict = {}
        self._setup_spans: list = []
        self._workers0: dict = {}
        self._stem0 = (0, 0)
        self.worker_totals: dict = {"totals": {}, "counters": {}}
        self.main_totals: dict = {"totals": {}, "counters": {}}
        self.server_doc: dict = {"totals": {}, "counters": {}}
        self.spark_ops: dict[str, list[int]] = {}

    # ---- bookkeeping -------------------------------------------------

    def span(self, name: str):
        return self.tr.span(name) if self.tr else contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, name: str):
        """One measured operation: a span and, when tracing, its own
        Spark job group so the status tracker can count its jobs."""
        sc = self.spark.sparkContext if self.spark else None
        if self.tr and sc is not None:
            group = f"pb{next(self._group_ids)}"
            sc.setJobGroup(group, name)
            self.ops.append((name, group))
        try:
            with self.span(name):
                yield
        finally:
            if self.tr and sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def put(self, name: str, value: float, unit: str, n: int) -> None:
        """A metric under the name the workload's users know it by,
        with its sample count."""
        self.report[name] = {"value": value, "unit": unit, "n": n}

    # ---- set-up pieces -------------------------------------------------

    def start_spark(self) -> None:
        from rechercheinfoweb_spark import session
        extra = [os.environ["PYTHONPATH"]] if os.environ.get(
            "PYTHONPATH") else []
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + extra)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark")
        # ample for the 2k-page corpus; a small heap also keeps the
        # JVM's share of peak_pss_mb from swinging with GC timing
        os.environ["SPARK_DRIVER_MEMORY"] = "1g"
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.makedirs(os.environ["TMPDIR"], exist_ok=True)
        # keep every file the JVMs write inside the checkout: the
        # performance-counter file would otherwise go to /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.tr:
            os.environ["PERFBENCH_TRACE_DIR"] = self.trace_dir
            conf["spark.python.daemon.module"] = "worker_daemon"
            self._instrument_main()
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = session.get_spark(
                app_name="perfbench", master=f"local[{self.nproc}]",
                extra_conf=conf)
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def _instrument_main(self) -> None:
        from rechercheinfoweb_spark.operators import (
            compact, index_build, query_vector,
        )
        from rechercheinfoweb_spark.streaming import incremental
        spans.instrument_kernels(self.tr)
        spans.instrument_local_searcher(self.tr)
        spans.wrap(self.tr, [index_build, incremental, compact],
                   "finalize_index", "index_build.finalize_index")
        spans.wrap(self.tr, [query_vector.IndexReader], "term_params",
                   "query_vector.term_params")

    def corpus(self) -> str:
        from rechercheinfoweb_spark.sources import web_pages
        path = os.path.join(self.work, "pages")
        t0 = time.perf_counter()
        with self.span("web_pages.corpus_gen"):
            web_pages.synthetic_web_pages(
                self.spark, N_DOCS, seed=self.seed, vocab_size=VOCAB,
                tokens_lo=TOKENS[0], tokens_hi=TOKENS[1],
                partitions=self.nproc,
                enrich_hosts=ENRICH_HOSTS).write.parquet(path)
        self.layer["web_pages.corpus_gen_s"] = time.perf_counter() - t0
        return path

    def build(self, pages_path: str, out: str):
        from rechercheinfoweb_spark.operators import index_build
        return index_build.build_index(
            self.spark, self.spark.read.parquet(pages_path), out,
            n_chunks=N_CHUNKS, n_buckets=N_BUCKETS)

    def setup_index(self) -> tuple[str, str]:
        """Session, corpus and index shared by every workload but
        ``build``; records the index-size metrics."""
        self.start_spark()
        pages = self.corpus()
        idx = os.path.join(self.work, "index")
        self.stage_metrics([self.build(pages, idx)])
        self.index_metrics(idx, pages)
        return pages, idx

    def stage_metrics(self, results: list) -> None:
        """Mean build stage times; ``stage1`` is what ``stage_secs``
        leaves out of the wall time."""
        for key in ("stage0", "finalize"):
            self.layer[f"index_build.{key}_s"] = statistics.fmean(
                r.stage_secs.get(key, 0.0) for r in results)
        self.layer["index_build.stage1_s"] = statistics.fmean(
            r.wall_secs - r.stage_secs.get("stage0", 0.0)
            - r.stage_secs.get("finalize", 0.0) for r in results)

    def index_metrics(self, idx: str, pages: str) -> None:
        sizes = index_sizes(idx)
        self.layer["index_build.postings_bytes"] = sizes["postings"]
        self.layer["index_build.docs_bytes"] = sizes["docs"]
        ratio = sum(sizes.values()) / corpus_text_bytes(pages)
        self.e2e["index_bytes_per_text_byte"] = ratio
        self.put("index_bytes_per_text_byte", ratio, "ratio", 1)

    def start_server(self, index_dir: str) -> None:
        cmd = [sys.executable, os.path.join(HERE, "search_server.py"),
               index_dir]
        if self.tr:
            cmd += ["--trace-out", os.path.join(self.trace_dir,
                                                "server.json")]
        self.server = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                       stdout=subprocess.PIPE, text=True)
        line = self.server.stdout.readline()
        if not line.startswith("port "):
            raise RuntimeError("search server did not start")
        self.port = int(line.split()[1])

    def stop_server(self) -> None:
        if self.server is None:
            return
        with contextlib.suppress(OSError):
            self.server.stdin.close()
        try:
            self.server.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.server.kill()
            self.server.wait()
        self.server = None

    # ---- the measured window ------------------------------------------

    @contextlib.contextmanager
    def window(self):
        if self.tr:
            # a worker saves its totals just after its task returns
            time.sleep(0.3)
            self._workers0 = spans.merge_worker_totals(self.trace_dir)
            self._setup_totals = self.tr.snapshot()
            self._setup_spans = list(self.tr.spans)
            self.tr.reset()
            self._stem0 = spans.stem_cache_info()
            self.ops = []
            if self.server is not None:
                self.server.stdin.write("reset\n")
                self.server.stdin.flush()
        c0, t0 = self.cpu_s(), time.perf_counter()
        yield
        self.window_s = time.perf_counter() - t0
        self.window_cpu_s = self.cpu_s() - c0
        if self.tr:
            time.sleep(0.3)
            self.worker_totals = spans.diff_totals(
                spans.merge_worker_totals(self.trace_dir), self._workers0)
            spans.stem_cache_counters(self.tr, since=self._stem0)
            self.main_totals = self.tr.snapshot()
            self._count_spark_jobs()
            if self.server is not None:
                self.server.stdin.write("save\n")
                self.server.stdin.flush()
                if self.server.stdout.readline().strip() != "saved":
                    raise RuntimeError("search server did not save its trace")
                with open(os.path.join(self.trace_dir, "server.json")) as f:
                    self.server_doc = json.load(f)

    @staticmethod
    def cpu_s() -> float:
        """CPU seconds of this process and everything it started: JVM,
        Python workers, search server."""
        return hoststat.tree_cpu_s(os.getpid())

    def _count_spark_jobs(self) -> None:
        st = self.spark.sparkContext.statusTracker()
        for name, group in self.ops:
            jobs = st.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    sinfo = st.getStageInfo(s)
                    tasks += sinfo.numTasks if sinfo else 0
            agg = self.spark_ops.setdefault(name, [0, 0, 0])
            agg[0] += 1
            agg[1] += len(jobs)
            agg[2] += tasks

    # ---- clean-up -------------------------------------------------------

    def close(self) -> None:
        self.stop_server()
        children = hoststat.descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext
            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    with contextlib.suppress(OSError):
                        proc.stdin.close()
                    proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        # Spark's Python workers outlive the JVM briefly, and are no
        # longer our descendants once it has exited
        hoststat.wait_gone(children + hoststat.descendants(os.getpid()), 30)
        if self.tr:
            self.save_trace()
        shutil.rmtree(self.work, ignore_errors=True)

    def save_trace(self) -> None:
        out = os.path.join(self.base, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}.json")
        self.tr.save(path, extra={
            "setup": {"totals": self._setup_totals.get("totals", {}),
                      "spans": spans.span_dicts(self._setup_spans)},
            "workers": self.worker_totals,
            "server": self.server_doc,
            "spark_ops": self.spark_ops,
        })
        self.trace_path = path

    # ---- per-layer numbers (traced run) ----------------------------------

    def layer_metrics(self) -> dict[str, float]:
        procs = [self.main_totals, self.worker_totals, self.server_doc]
        tot: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        cnt: dict[str, float] = defaultdict(float)
        for doc in procs:
            spans.add_totals({"totals": tot, "counters": cnt}, doc)

        def calls(name):
            return tot[name][0] if name in tot else 0

        def wall(name):
            return tot[name][1] if name in tot else 0.0

        def mean(name):
            return wall(name) / calls(name) if calls(name) else 0.0

        def ratio(a, b):
            return a / b if b else 0.0

        m = dict(self.layer)
        n_ops = sum(v[0] for v in self.spark_ops.values())
        m["spark.jobs"] = ratio(sum(v[1] for v in self.spark_ops.values()),
                                n_ops)
        m["spark.tasks"] = ratio(sum(v[2] for v in self.spark_ops.values()),
                                 n_ops)
        m["spark.worker_task_s"] = wall("spark_worker.task")
        # finalize calls in the window (appends, compaction) when there
        # are any, else the set-up build's
        if calls("index_build.finalize_index"):
            m["index_build.finalize_s"] = mean("index_build.finalize_index")
        raw = cnt["tokenizer.raw_tokens"]
        tok_s = wall("tokenizer.raw_tokens") + wall("tokenizer.map_tokens")
        m["tokenizer.ktok_per_s"] = ratio(raw, tok_s) / 1e3
        m["tokenizer.unique_token_frac"] = ratio(
            cnt["tokenizer.mapped_tokens"], raw)
        m["porter2.cache_hit_rate"] = ratio(
            cnt["porter2.cache_hits"],
            cnt["porter2.cache_hits"] + cnt["porter2.cache_misses"])
        m["codec.pack_mb_per_s"] = ratio(cnt["codec.pack_bytes"],
                                         wall("codec.pack")) / 1e6
        m["codec.blocks_decoded"] = cnt["codec.blocks_decoded"]
        m["codec.unpack_ms"] = tot["codec.unpack"][2] * 1e3
        m["scoring.postings_weighted"] = cnt["scoring.postings_weighted"]
        m["scoring.weights_ms"] = tot["scoring.posting_weights"][2] * 1e3
        m["serve_local.vector_query_ms"] = mean(
            "serve_local.vector_query") * 1e3
        m["serve_local.boolean_query_ms"] = mean(
            "serve_local.boolean_query") * 1e3
        m["serve_local.postings_per_result"] = ratio(
            cnt["serve_local.postings_touched"], cnt["serve_local.results"])
        m["serve_local.bucket_reads"] = cnt["serve_local.bucket_reads"]
        m["serve_local.bucket_read_ms"] = wall(
            "serve_local.read_bucket") * 1e3
        m["serve_local.decoded_hit_rate"] = ratio(
            cnt["serve_local.decoded_hits"],
            cnt["serve_local.decoded_hits"]
            + cnt["serve_local.decoded_misses"])
        m["serve_local.open_s"] = mean("serve_local.open")
        acq = cnt["httpserver.lock_acquires"]
        m["httpserver.lock_wait_ms"] = ratio(
            cnt["httpserver.lock_wait_s"], acq) * 1e3
        m["httpserver.lock_held_ms"] = ratio(
            cnt["httpserver.lock_held_s"], acq) * 1e3
        if self.client_service and calls("httpserver.search"):
            m["httpserver.overhead_ms"] = (
                statistics.fmean(self.client_service)
                - mean("httpserver.search")) * 1e3
        m["query_vector.term_params_ms"] = mean(
            "query_vector.term_params") * 1e3
        vt = self.spark_ops.get("query_vector.vector_topk")
        m["query_vector.jobs_per_query"] = ratio(vt[1], vt[0]) if vt else 0.0
        blocks = m.get("query_vector.blocks_total", 0.0)
        m["query_vector.skip_rate"] = (1.0 - ratio(
            m.get("query_vector.blocks_scored", 0.0), blocks)
            if blocks else 0.0)
        m["query_bool.search_ms"] = mean("query_bool.boolean_search") * 1e3
        m["incremental.append_s"] = mean("incremental.append_batch")
        m["incremental.refresh_s"] = mean("incremental.refresh")
        m["delete.delete_s"] = wall("delete.delete_docs")
        m["compact.compact_s"] = wall("compact.compact_chunks")
        for layer in LAYERS:
            m[f"{layer}.self_s"] = sum(v[2] for k, v in tot.items()
                                       if k.split(".", 1)[0] == layer)
        return m


# ---- correctness -----------------------------------------------------------


def same_ranking(a: list, b: list, exact: bool = True) -> bool:
    """Same doc ids in the same order, scores equal (exactly, or to
    1e-9 relative when one side is the pure-Python oracle)."""
    if [d for d, _ in a] != [d for d, _ in b]:
        return False
    if exact:
        return [s for _, s in a] == [s for _, s in b]
    return all(math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
               for (_, x), (_, y) in zip(a, b))


def check_local_vs_oracle(run: Run, ls, oracle, vector: list[tuple],
                          boolean: list[str]) -> None:
    for q, weight, k in vector:
        run.check(same_ranking(ls.vector_query(q, scheme=weight, k=k),
                               oracle.vector_query(q, scheme=weight, k=k),
                               exact=False),
                  f"oracle vector {q!r} {weight}")
    for q in boolean:
        run.check(ls.boolean_query(q) == oracle.boolean_query(q),
                  f"oracle boolean {q!r}")


def check_http_vs_local(run: Run, ls, requests: list[dict]) -> None:
    for r in requests:
        ans = loadgen.fetch(run.port, r)
        got = [(x["doc_id"], x["score"]) for x in ans["results"]]
        off = r["offset"]
        if r["type"] == "boolean":
            ids = ls.boolean_query(r["search"])
            size = len(ids)
            off = off if 0 < off < size else 0
            want = [(d, None) for d in ids[off:off + 20]]
        else:
            rows, size = ls.vector_query(r["search"], scheme=r["weight"],
                                         k=off + 20, with_total=True)
            off = off if 0 < off < size else 0
            want = rows[off:off + 20]
        run.check(ans["size"] == size and same_ranking(got, want),
                  f"http vs local {r}")


def oracle_index(pages: str):
    from oracle.pyoracle import OracleIndex
    return OracleIndex.build(corpus_rows(pages))


# ---- workloads ---------------------------------------------------------------


def wl_build(run: Run) -> None:
    """A full build_index over the seeded corpus, after an untimed
    warm-up build, repeated until ``--seconds`` have passed."""
    t0 = time.perf_counter()
    run.start_spark()
    pages = run.corpus()
    out = os.path.join(run.work, "index")
    results = [run.build(pages, out)]
    run.setup_s = time.perf_counter() - t0
    walls = []
    with run.window():
        deadline = time.perf_counter() + run.seconds
        while not walls or time.perf_counter() < deadline:
            t = time.perf_counter()
            with run.op("index_build.build_index"):
                r = run.build(pages, out)
            walls.append(time.perf_counter() - t)
            results.append(r)
            run.attempted += 1
    stats = pq.read_table(os.path.join(out, "corpus_stats")).to_pylist()[0]
    run.check(stats["n_docs"] == N_DOCS, "corpus_stats.n_docs")
    for r in results:
        run.check(r.n_docs == N_DOCS, "BuildResult.n_docs")
    run.index_metrics(out, pages)
    run.stage_metrics(results[1:])
    dps = N_DOCS * len(walls) / sum(walls)
    run.e2e.update(cpu_ms_per_op=run.window_cpu_s * 1e3
                   / (N_DOCS * len(walls)),
                   latency_p50_ms=statistics.median(walls) * 1e3)
    run.put("build_docs_per_s", dps, "docs/s", len(walls))
    run.put("build_wall_p50_s", statistics.median(walls), "s", len(walls))
    run.put("build_cpu_ms_per_doc", run.e2e["cpu_ms_per_op"], "ms",
            N_DOCS * len(walls))


def wl_serve(run: Run) -> None:
    """Closed loop of ``nproc`` client threads against the HTTP server
    in its own process."""
    from rechercheinfoweb_spark.operators.serve_local import LocalSearcher
    t0 = time.perf_counter()
    pages, idx = run.setup_index()
    vocab = loadgen.dictionary_terms(idx)
    requests = loadgen.serve_mix(run.rng, vocab, 20000)
    warm = loadgen.serve_mix(random.Random(run.seed + 1), vocab, 2000)
    run.start_server(idx)
    loadgen.closed_loop(run.port, warm, run.nproc, SERVE_WARMUP_S)
    run.setup_s = time.perf_counter() - t0
    with run.window():
        lat, fails = loadgen.closed_loop(run.port, requests, run.nproc,
                                         run.seconds)
    run.attempted += len(lat) + fails
    run.failed += fails
    if fails:
        run.problems.append(f"{fails} HTTP requests failed")
    run.client_service = lat
    if not lat:
        raise RuntimeError("no request completed")
    qps = len(lat) / run.window_s
    run.e2e.update(cpu_ms_per_op=run.window_cpu_s * 1e3 / len(lat),
                   latency_p50_ms=statistics.median(lat) * 1e3)
    run.put("serve_qps", qps, "req/s", len(lat))
    run.put("serve_p50_ms", statistics.median(lat) * 1e3, "ms", len(lat))
    run.put("serve_p90_ms", pct(lat, 90) * 1e3, "ms", len(lat))
    run.put("serve_p99_ms", pct(lat, 99) * 1e3, "ms", len(lat))
    run.put("serve_cpu_ms_per_request", run.e2e["cpu_ms_per_op"], "ms",
            len(lat))

    # correctness: HTTP == in-process LocalSearcher == oracle on a
    # seeded sample; Spark vector_topk / boolean_search on a smaller one
    sample = random.Random(run.seed + 2).sample(requests, CHECK_LOCAL)
    ls = LocalSearcher(idx)
    check_http_vs_local(run, ls, sample)
    vec = [(r["search"], r["weight"], r["offset"] + 20) for r in sample
           if r["type"] == "vectorial"]
    boo = [r["search"] for r in sample if r["type"] == "boolean"]
    check_local_vs_oracle(run, ls, oracle_index(pages), vec, boo)
    check_spark_vs_local(run, idx, ls, vec[:CHECK_SPARK_VECTOR],
                         boo[:CHECK_SPARK_BOOL])


def check_spark_vs_local(run: Run, idx: str, ls, vector: list[tuple],
                         boolean: list[str]) -> None:
    from rechercheinfoweb_spark.operators.query_bool import boolean_search
    from rechercheinfoweb_spark.operators.query_vector import (
        IndexReader, vector_topk,
    )
    reader = IndexReader(run.spark, idx)
    for q, weight, k in vector:
        rows = [(r["doc_id"], r["score"]) for r in vector_topk(
            run.spark, reader, q, scheme=weight, k=k).collect()]
        run.check(same_ranking(rows, ls.vector_query(q, scheme=weight,
                                                     k=k)),
                  f"spark vector {q!r} {weight}")
    for q in boolean:
        ids = [r["doc_id"] for r in boolean_search(run.spark, reader,
                                                   q).collect()]
        run.check(ids == ls.boolean_query(q), f"spark boolean {q!r}")


def spark_query_stream(rng: random.Random, vocab: list[tuple[str, int]],
                       n: int) -> list[tuple[str, str, str]]:
    """(kind, query, weight), cycling through four kinds: vector
    queries of common terms only (block-max pruning cannot skip), a
    common term with a clustered topic term (it can), a common term
    with a rare term scattered over the corpus, and boolean queries."""
    from rechercheinfoweb_spark.functions.tokenizer import (
        vector_query_terms,
    )
    df = dict(vocab)
    common = [w for w, d in vocab if d > N_DOCS // 4]
    topic = [w for w in vector_query_terms(TOPIC_WORDS) if w in df]
    rare = [w for w, d in vocab if N_DOCS // 200 <= d <= N_DOCS // 20]
    kinds = ("common", "topic", "rare", "boolean")
    out = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "common":
            q = " ".join(rng.sample(common, 3))
        elif kind == "topic":
            q = f"{rng.choice(common)} {rng.choice(topic)}"
        elif kind == "rare":
            q = f"{rng.choice(common)} {rng.choice(rare)}"
        else:
            a, b = rng.choice(common), rng.choice(rare)
            q = rng.choice([f"{a} AND {b}", f"{b} OR {rng.choice(rare)}",
                            f"{a} AND NOT {b}"])
        out.append((kind, q, rng.choice(loadgen.WEIGHTS)))
    return out


def wl_spark_query(run: Run) -> None:
    """The distributed query path over one IndexReader: a stream of
    single vector_topk / boolean_search calls, then one
    vector_topk_batch."""
    from rechercheinfoweb_spark.operators.query_bool import boolean_search
    from rechercheinfoweb_spark.operators.query_vector import (
        IndexReader, vector_topk, vector_topk_batch,
    )
    from rechercheinfoweb_spark.operators.serve_local import LocalSearcher
    t0 = time.perf_counter()
    pages, idx = run.setup_index()
    vocab = loadgen.dictionary_terms(idx)
    stream = spark_query_stream(run.rng, vocab, 1000)
    batch_stream = spark_query_stream(random.Random(run.seed + 1), vocab,
                                      3 * BATCH_QUERIES)
    batch = dict(enumerate([q for kind, q, _ in batch_stream
                            if kind != "boolean"][:BATCH_QUERIES]))
    reader = IndexReader(run.spark, idx)
    counters = None
    if run.tr:
        sc = run.spark.sparkContext
        counters = {"blocks_total": sc.accumulator(0),
                    "blocks_scored": sc.accumulator(0)}

    def one(kind: str, q: str, weight: str) -> list:
        if kind == "boolean":
            with run.op("query_bool.boolean_search"):
                return [r["doc_id"] for r in boolean_search(
                    run.spark, reader, q).collect()]
        with run.op("query_vector.vector_topk"):
            return [(r["doc_id"], r["score"]) for r in vector_topk(
                run.spark, reader, q, scheme=weight, k=20,
                counters=counters).collect()]

    # warm-up: a fresh JVM and its Python workers answer the first
    # ~25 single queries up to twice as slowly as later ones, a one-time
    # cost users do not pay per query.  One batch call warms every
    # worker at once; single queries then warm the per-query path.
    warm = spark_query_stream(random.Random(run.seed + 2), vocab,
                              3 * BATCH_QUERIES)
    vector_topk_batch(run.spark, reader, dict(enumerate(
        [q for kind, q, _ in warm if kind != "boolean"][:BATCH_QUERIES])),
        scheme="bm25", k=20).collect()
    warm_until = time.perf_counter() + SPARK_WARMUP_S
    for i, s in enumerate(warm):
        if i >= 4 and time.perf_counter() >= warm_until:
            break
        one(*s)
    run.setup_s = time.perf_counter() - t0
    for acc in (counters or {}).values():
        acc.value = 0  # count the measured queries only
    answers, samples = [], []  # samples: (latency s, CPU s, steal %)
    with run.window():
        deadline = time.perf_counter() + run.seconds
        n_quiet = 0
        for i, s in enumerate(stream):
            now = time.perf_counter()
            if i >= 4 and now >= deadline and (
                    n_quiet >= QUIET_MIN or now >= deadline + run.seconds):
                break
            h0, c0 = hoststat.cpu_snapshot(), run.cpu_s()
            t = time.perf_counter()
            answers.append((s, one(*s)))
            d = time.perf_counter() - t
            samples.append((d, run.cpu_s() - c0, hoststat.steal_pct(
                h0, hoststat.cpu_snapshot())))
            n_quiet += samples[-1][2] < QUIET_STEAL_PCT
        batch_s = []
        for _ in range(BATCH_REPEATS):
            t = time.perf_counter()
            with run.op("query_vector.vector_topk_batch"):
                brows = vector_topk_batch(run.spark, reader, batch,
                                          scheme="bm25", k=20).collect()
            batch_s.append(time.perf_counter() - t)
    run.attempted += len(answers) + BATCH_REPEATS
    if counters:
        run.layer["query_vector.blocks_total"] = counters[
            "blocks_total"].value
        run.layer["query_vector.blocks_scored"] = counters[
            "blocks_scored"].value
    bqps = len(batch) / statistics.median(batch_s)
    run.layer["query_vector.batch_qps"] = bqps
    lat = [x[0] for x in samples]
    quiet = [x for x in samples if x[2] < QUIET_STEAL_PCT]
    # too few quiet queries (a host loaded all along): count them all
    counted = quiet if len(quiet) >= QUIET_MIN else samples
    q_lat = [x[0] for x in counted]
    run.e2e.update(
        cpu_ms_per_op=statistics.fmean(x[1] for x in counted) * 1e3,
        latency_p50_ms=statistics.median(q_lat) * 1e3)
    run.put("spark_query_p50_ms", run.e2e["latency_p50_ms"], "ms",
            len(q_lat))
    run.put("spark_query_p90_ms", pct(q_lat, 90) * 1e3, "ms", len(q_lat))
    run.put("spark_query_cpu_ms", run.e2e["cpu_ms_per_op"], "ms",
            len(counted))
    run.put("spark_query_quiet_frac", len(quiet) / len(lat), "ratio",
            len(lat))
    run.put("spark_query_qps", len(lat) / sum(lat), "queries/s", len(lat))
    run.put("batch_topk_qps", bqps, "queries/s", len(batch) * BATCH_REPEATS)

    # correctness: every Spark answer of a seeded sample against the
    # in-process LocalSearcher and the pure-Python oracle
    ls = LocalSearcher(idx)
    crng = random.Random(run.seed + 3)
    for (kind, q, weight), got in crng.sample(answers,
                                              min(CHECK_LOCAL, len(answers))):
        want = (ls.boolean_query(q) if kind == "boolean"
                else ls.vector_query(q, scheme=weight, k=20))
        run.check(got == want if kind == "boolean"
                  else same_ranking(got, want), f"spark {kind} {q!r}")
    by_qid = defaultdict(list)
    for r in sorted(brows, key=lambda r: (r["qid"], r["rank"])):
        by_qid[r["qid"]].append((r["doc_id"], r["score"]))
    for qid in crng.sample(sorted(batch), CHECK_LOCAL):
        run.check(same_ranking(by_qid[qid], ls.vector_query(
            batch[qid], scheme="bm25", k=20)), f"batch qid {qid}")
    sample = crng.sample([s for s, _ in answers],
                         min(CHECK_LOCAL, len(answers)))
    check_local_vs_oracle(
        run, ls, oracle_index(pages),
        [(q, w, 20) for kind, q, w in sample if kind != "boolean"],
        [q for kind, q, _ in sample if kind == "boolean"])


def ingest_batch(run: Run, b: int, marker: str):
    """Seeded new pages for append number *b*: fresh urls, and the
    batch's marker term (absent from the base corpus) in every text."""
    from pyspark.sql import functions as F
    from rechercheinfoweb_spark.sources import web_pages
    df = web_pages.synthetic_web_pages(
        run.spark, BATCH_DOCS, seed=run.seed * 1000 + b + 1,
        vocab_size=VOCAB, tokens_lo=TOKENS[0], tokens_hi=TOKENS[1],
        partitions=run.nproc)
    return (df.withColumn("url", F.concat(F.lit(f"https://b{b}-"),
                                          F.substring("url", 9, 200)))
            .withColumn("text", F.concat_ws(" ", "text", F.lit(marker))))


def wl_ingest(run: Run) -> None:
    """Appends beside reads: N_BATCHES x (append_batch, refresh, fresh reader
    polls for the batch's marker), then delete_docs and
    compact_chunks, while an open-loop reader queries a server pinned
    to the pre-ingest snapshot."""
    from rechercheinfoweb_spark.functions.xxhash import spark_term_bucket
    from rechercheinfoweb_spark.operators import compact, delete
    from rechercheinfoweb_spark.operators.serve_local import LocalSearcher
    from rechercheinfoweb_spark.streaming import incremental
    t0 = time.perf_counter()
    pages, idx = run.setup_index()
    vocab = loadgen.dictionary_terms(idx)
    run.start_server(idx)
    # the pinned server must hold every dictionary and postings bucket
    # of its snapshot before refreshes retire that snapshot's files
    per_bucket = {}
    for w, _ in vocab:
        per_bucket.setdefault(spark_term_bucket(w, N_BUCKETS), w)
    for w in per_bucket.values():
        loadgen.fetch(run.port, {"search": w, "type": "vectorial",
                                 "weight": "bm25", "offset": 0})
    reads = loadgen.serve_mix(run.rng, vocab, 5000)
    pinned = random.Random(run.seed + 2).sample(reads, PINNED_SAMPLE)
    baseline = [loadgen.fetch(run.port, r)["results"] for r in pinned]
    markers = [f"zqx{run.seed}mark{b}q" for b in range(N_BATCHES)]
    dead = sorted(random.Random(run.seed + 3).sample(
        range(1, N_DOCS // N_CHUNKS + 1), N_DELETE))
    run.setup_s = time.perf_counter() - t0

    def pinned_same(when: str) -> None:
        now = [loadgen.fetch(run.port, r)["results"] for r in pinned]
        run.check(now == baseline, f"pinned reader changed {when}")

    appends, fresh, n_new = [], [], []
    loop = loadgen.OpenLoop(run.port, reads, READ_RATE)
    with run.window():
        loop.start()
        try:
            for b in range(N_BATCHES):
                ta = time.perf_counter()
                with run.op("incremental.append_batch"):
                    info = incremental.append_batch(
                        run.spark, ingest_batch(run, b, markers[b]), idx,
                        batch_id=b)
                t_ref = time.perf_counter()
                with run.op("incremental.refresh"):
                    incremental.refresh(run.spark, idx)
                found = 0
                for _ in range(300):
                    found = len(LocalSearcher(idx).boolean_query(markers[b]))
                    if found:
                        break
                    time.sleep(0.1)
                fresh.append(time.perf_counter() - ta)
                appends.append(t_ref - ta)
                n_new.append(info["n_docs"])
                run.attempted += 2
                run.check(found == info["n_docs"] == BATCH_DOCS,
                          f"marker of batch {b}: {found} docs")
                pinned_same(f"after append {b}")
            with run.op("delete.delete_docs"):
                delete.delete_docs(run.spark, idx, doc_ids=dead)
            tc = time.perf_counter()
            with run.op("compact.compact_chunks"):
                cinfo = compact.compact_chunks(
                    run.spark, idx,
                    target_docs=N_DOCS // N_CHUNKS + sum(n_new))
            compact_s = time.perf_counter() - tc
            run.attempted += 2
        finally:
            loop.stop()
    run.attempted += len(loop.latencies) + loop.failures
    run.failed += loop.failures
    if loop.failures:
        run.problems.append(f"{loop.failures} reader requests failed")
    pinned_same("after compaction")
    fresh_ls = LocalSearcher(idx)
    run.check(fresh_ls.n_docs == N_DOCS + sum(n_new) - N_DELETE,
              f"n_docs after compaction {fresh_ls.n_docs}")
    run.check(not set(dead) & set(fresh_ls.boolean_query("webpage")),
              "deleted docs still returned")
    for b in range(len(n_new)):
        run.check(len(fresh_ls.boolean_query(markers[b])) == BATCH_DOCS,
                  f"marker {b} after compaction")
    run.client_service = loop.service
    run.layer["compact.chunks_before"] = cinfo["n_chunks_before"]
    run.layer["compact.chunks_after"] = cinfo["n_chunks_after"]
    run.layer["compact.bytes_written"] = sum(
        dir_bytes(os.path.join(idx, "postings", b, f"salt={c}"))
        for c in cinfo.get("new_chunks", ())
        for b in os.listdir(os.path.join(idx, "postings"))) + sum(
        dir_bytes(os.path.join(idx, "docs", f"chunk={c}"))
        for c in cinfo.get("new_chunks", ()))
    run.layer["loadgen.lateness_ms"] = pct(loop.lateness, 99) * 1e3
    dps = sum(n_new) / sum(appends)
    reads_ms = [x * 1e3 for x in loop.latencies]
    run.e2e.update(cpu_ms_per_op=run.window_cpu_s * 1e3 / sum(n_new),
                   latency_p50_ms=statistics.median(fresh) * 1e3)
    run.put("append_docs_per_s", dps, "docs/s", sum(n_new))
    run.put("freshness_p50_s", statistics.median(fresh), "s", len(fresh))
    run.put("ingest_cpu_ms_per_doc", run.e2e["cpu_ms_per_op"], "ms",
            sum(n_new))
    run.put("compact_s", compact_s, "s", 1)
    run.put("ingest_read_p90_ms", pct(reads_ms, 90), "ms", len(reads_ms))
    run.put("ingest_read_p99_ms", pct(reads_ms, 99), "ms", len(reads_ms))
    run.put("reader_lateness_p99_ms", pct(loop.lateness, 99) * 1e3, "ms",
            len(loop.lateness))


WORKLOADS = {"build": wl_build, "serve": wl_serve,
             "spark_query": wl_spark_query, "ingest": wl_ingest}
