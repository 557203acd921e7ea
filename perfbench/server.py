"""Dashboard server process for the ``dashboard`` workload.

Builds the warehouse with the program's ``run_etl``, then serves it
with ``serve.make_server(DashboardApp(...))`` on an ephemeral port.
(``serve.main`` cannot be used: it calls ``download_csv`` with one of
its two required arguments and raises ``TypeError``.)

Protocol with the benchmark: once serving, writes ``{"port": ...}``
plus its set-up timings to ``<out>.ready``; serves until a line arrives
on stdin (or stdin closes); then, in a traced run, writes its spans to
``<out>.spans``, stops Spark (which closes the event log) and its JVM, and exits.

    python3 perfbench/server.py --csv wide.csv --warehouse wh --out state [--trace]
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import runtime  # noqa: E402
import spans  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--csv", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()

    from world_vaccination_coverage_etl_spark.plans import pipeline
    from world_vaccination_coverage_etl_spark.serve import DashboardApp, make_server

    spark, session_s = runtime.start_spark("perfbench-dashboard", args.trace)
    tracer = spans.Tracer(spark.sparkContext) if args.trace else None
    if tracer:
        spans.install(tracer)
    t0 = time.time()
    with runtime.op_span(tracer, "op.refresh", phase="setup"):
        clean = pipeline.run_etl(spark, args.csv, args.warehouse)
    refresh_s = time.time() - t0

    app = DashboardApp(spark, clean)
    server = make_server(app, port=0)
    if tracer:
        spans.trace_app(tracer, app, server)
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    runtime.write_json(args.out + ".ready", {
        "port": server.server_address[1], "session_s": session_s, "refresh_s": refresh_s,
    })
    sys.stdin.readline()
    server.shutdown()
    server.server_close()
    serving.join(timeout=30)
    if tracer:
        runtime.write_json(args.out + ".spans", tracer.spans)
    runtime.stop_spark(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
