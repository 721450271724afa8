"""PySpark daemon for the traced run.

Spark starts it in place of ``pyspark.daemon`` (conf
``spark.python.daemon.module``).  It wraps the worker-side layer
functions once, before the daemon forks any worker, and after every
task each worker writes its running totals to
``$PERFBENCH_TRACE_DIR/worker-<pid>.json``.  The benchmark reads
those files at the start and the end of its measured window and
keeps the difference.
"""

import os

import pyspark.daemon as daemon

import spans


def main() -> None:
    tr = spans.Tracer(keep_spans=False)
    spans.instrument_kernels(tr)
    out = os.path.join(os.environ["PERFBENCH_TRACE_DIR"],
                       "worker-{}.json")
    run_task = daemon.worker_main

    def traced_task(infile, outfile):
        try:
            with tr.span("spark_worker.task"):
                run_task(infile, outfile)
        finally:
            spans.stem_cache_counters(tr)
            tr.save(out.format(os.getpid()))

    daemon.worker_main = traced_task
    daemon.manager()


if __name__ == "__main__":
    main()
