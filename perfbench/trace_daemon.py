"""Python worker daemon for the traced run (``spark.python.daemon.module``).

Installs the tracer's wrappers into sketchlib *before* the daemon forks its
workers, so every worker inherits them, and writes each worker's spans out
after every task it runs.  Spark starts it as ``python -m
perfbench.trace_daemon``; the span directory comes from the environment
the JVM passes down (``PERFBENCH_TRACE_DIR``).
"""

from __future__ import annotations

import os

import pyspark.daemon as daemon

from perfbench import trace


def main() -> None:
    tracer = trace.Tracer(os.environ["PERFBENCH_TRACE_DIR"], in_worker=True)
    trace.install(tracer)
    run_task = daemon.worker_main

    def worker_main(infile, outfile):
        try:
            run_task(infile, outfile)
        finally:
            tracer.flush()

    daemon.worker_main = worker_main
    daemon.manager()


if __name__ == "__main__":
    main()
