"""Benchmark of the vaccination-coverage engine: two workloads, each
measured from outside through the program's public functions.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 20 --trace 0

``etl_refresh``
    One closed-loop caller re-runs ``plans.pipeline.run_etl`` on a
    seeded OWID-shaped CSV into the same warehouse (the weekly refresh).
``dashboard``
    Two closed-loop HTTP clients against ``serve.make_server`` over a
    ``DashboardApp``, in a server process the benchmark launches (the
    widget -> query -> render loop).

An operation is one warm refresh or one HTTP request.  Every operation
is checked against answers computed from the generator, outside its
timing; one that raises, times out, returns the wrong status or fails
its check counts as failed.  The last stdout line is the result JSON;
the line before it carries the details (pins, load average, sample
counts, tail percentile).  See README.md for the metrics and the
traced run (``--trace 1``).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure  # noqa: E402
import runtime  # noqa: E402
import spans  # noqa: E402

ENTITIES = 250  # OWID size: 250 entities x 15 antigens = 3,750 series
WARMUP_REFRESHES = 2  # the first warm refreshes run 30-50% slow
WARMUP_S = 12.0  # dashboard: both clients send requests this long before timing
CLIENTS = 2
REQUEST_TIMEOUT_S = 60.0
SERVER_START_TIMEOUT_S = 150.0

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_cpu_ms": "ms",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "csv_source.read_s": "s",
    "csv_source.jobs": "count",
    "pipeline.plan_ms": "ms",
    "pipeline.unique_check_s": "s",
    "pipeline.jobs": "count",
    "warehouse.write_raw_s": "s",
    "warehouse.write_clean_s": "s",
    "warehouse.clean_files": "count",
    "warehouse.clean_bytes": "bytes",
    "analytics.series_ms": "ms",
    "analytics.compare_ms": "ms",
    "analytics.index_ms": "ms",
    "analytics.jobs_per_req": "count",
    "stats.pyworker_cpu_ms": "ms",
    "dashboard.render_ms": "ms",
    "serve.lock_wait_ms": "ms",
    "serve.http_ms": "ms",
    "spark.stage_busy_s": "s",
    "spark.outside_stage_s": "s",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "trace.coverage": "ratio",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


# ------------------------------------------------------------ HTTP clients


def client_loop(port, plan, deadline, rid_prefix, tracer, phase) -> list[dict]:
    """Closed loop: send each request of `plan` after the previous one
    completes, until `deadline` (epoch s; None = the whole plan)."""
    out = []
    for i, req in enumerate(plan):
        if deadline is not None and time.time() >= deadline:
            break
        rid = f"{rid_prefix}-{i}"
        rec = {"req": req, "rid": rid}
        sep = "&" if "?" in req.path else "?"
        with runtime.op_span(tracer, "op.request", rid=rid, phase=phase):
            t0 = time.perf_counter()
            try:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
                try:
                    conn.request("GET", f"{req.path}{sep}rid={rid}")
                    resp = conn.getresponse()
                    rec["status"], rec["body"] = resp.status, resp.read().decode("utf-8")
                finally:
                    conn.close()
            except (OSError, http.client.HTTPException) as e:
                rec["error"] = repr(e)
            rec["latency_s"] = time.perf_counter() - t0
        out.append(rec)
    return out


def run_clients(port, plans, deadline, tracer, phase) -> list[dict]:
    results: list[list[dict]] = [[] for _ in plans]

    def one(k):
        results[k] = client_loop(port, plans[k], deadline, f"{phase}{k}", tracer, phase)

    threads = [threading.Thread(target=one, args=(k,)) for k in range(len(plans))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in results for r in rs]


_KPI = '<div class="v">([^<]*)</div><div class="l">{}</div>'


def check_response(rec: dict, exp: gen.Expected) -> str | None:
    """None if the response is right, else what is wrong with it."""
    req = rec["req"]
    if "error" in rec:
        return rec["error"]
    if rec["status"] != req.status:
        return f"{req.path}: status {rec['status']}, expected {req.status}"
    body = rec["body"]
    if req.kind == "index" and f"<p>{len(exp.series)} (country, antigen) series" not in body:
        return "index page does not list every series"
    if req.kind != "dashboard":
        return None
    s = req.start_year
    windows = {"avg before": (s - req.pre_years, s - 1), "avg after": (s, s + req.post_years)}
    for label, (lo, hi) in windows.items():
        m = re.search(_KPI.format(label), body)
        want = exp.window_mean(req.pair, lo, hi)
        got = m.group(1) if m else "<missing>"
        ok = got == "n/a" if want is None else (
            got.endswith("%") and abs(float(got[:-1]) - want) <= 0.05 + 1e-9)
        if not ok:
            return f"{req.path}: {label} {got}, expected {want}"
    return None


def _failures(recs: list[dict], exp: gen.Expected) -> list[str]:
    return [e for e in (check_response(r, exp) for r in recs) if e]


# --------------------------------------------------------------- workloads


def _check_clean(clean, exp: gen.Expected) -> str | None:
    from pyspark.sql import functions as F

    row = clean.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("coverage_pct") * 10).cast("long")).alias("tenths"),
    ).first()
    if (row["n"], row["tenths"]) != (exp.clean_rows, exp.coverage_tenths):
        return (f"clean table has {row['n']} rows / {row['tenths']} tenths, expected "
                f"{exp.clean_rows} / {exp.coverage_tenths}")
    return None


def _warehouse_layout(warehouse: str) -> dict[str, float]:
    files = n_bytes = 0
    for dirpath, _dirs, names in os.walk(os.path.join(warehouse, "immunization")):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
    return {"warehouse.clean_files": files, "warehouse.clean_bytes": n_bytes}


def _serve_check(spark, clean, exp, seed, tracer):
    from world_vaccination_coverage_etl_spark.serve import DashboardApp, make_server

    app = DashboardApp(spark, clean)
    server = make_server(app, port=0)
    spans.trace_app(tracer, app, server)
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    plan = gen.request_plan(seed, 0, sorted(exp.series), 6)[2:]  # dash, index, dash, 404
    client_tracer = spans.Tracer(prefix="c")
    try:
        recs = client_loop(server.server_address[1], plan, None, "check", client_tracer, "check")
    finally:
        server.shutdown()
        server.server_close()
        serving.join(timeout=30)
    return recs, client_tracer


def etl_refresh(args, work: str) -> dict:
    from world_vaccination_coverage_etl_spark.plans import pipeline

    csv, wh = os.path.join(work, "wide.csv"), os.path.join(work, "warehouse")
    phases = {"start": time.time() - T_START}
    exp = gen.make_wide_csv(csv, args.seed, ENTITIES)
    phases["generate"] = time.time() - T_START
    spark, session_s = runtime.start_spark("perfbench-etl", args.trace)
    phases["session"] = time.time() - T_START
    tracer = spans.Tracer(spark.sparkContext) if args.trace else None
    if tracer:
        spans.install(tracer)
    errors: list[str] = []

    def refresh(phase):
        with runtime.op_span(tracer, "op.refresh", phase=phase):
            clean = pipeline.run_etl(spark, csv, wh)
        return clean

    for phase in ["setup"] + ["warmup"] * WARMUP_REFRESHES:
        clean = refresh(phase)
        phases["cold_refresh" if phase == "setup" else "warmup"] = time.time() - T_START
        err = _check_clean(clean, exp)
        if err:
            errors.append(err)

    me = os.getpid()
    window_start = time.time()
    setup_s = window_start - T_START
    deadline = window_start + args.seconds
    split0 = measure.cpu_split(me)
    wall, cpu, attempted, failed = [], [], 0, 0
    while time.time() < deadline:
        attempted += 1
        c0, t0 = measure.tree_cpu_s(me), time.perf_counter()
        try:
            clean = refresh("timed")
        except Exception as e:  # a failed refresh is counted, not fatal
            failed += 1
            errors.append(repr(e))
            continue
        wall.append(time.perf_counter() - t0)
        cpu.append(measure.tree_cpu_s(me) - c0)
        err = _check_clean(clean, exp)
        if err:
            failed += 1
            errors.append(err)
    window_s = time.time() - window_start
    split1 = measure.cpu_split(me)
    peak_rss = measure.tree_peak_rss_mb(me)

    if tracer:
        # the serve-side layers, measured on the refreshed warehouse:
        # a few requests through the program's server, checked like the
        # dashboard workload's (after the timed window)
        smoke, client_tracer = _serve_check(spark, clean, exp, args.seed, tracer)
        smoke_errors = _failures(smoke, exp)
        attempted, failed = attempted + len(smoke), failed + len(smoke_errors)
        errors += smoke_errors
    runtime.stop_spark(spark)

    n = max(len(wall), 1)
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "phases": phases,
        "samples_ms": [w * 1e3 for w in wall],
        "e2e": {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(wall) * 1e3 if wall else 0.0,
            "op_cpu_ms": statistics.median(cpu) * 1e3 if cpu else 0.0,
            "ops_per_s": len(wall) / window_s,
        },
        "peak_rss_mb": peak_rss,
    }
    if tracer:
        result["layers"] = {
            "session.start_s": session_s,
            **_warehouse_layout(wh),
            **{f"cpu.{k}_s": (split1[k] - split0[k]) / n for k in split0},
        }
        result["spans"] = tracer.spans + client_tracer.spans
        result["main_op"] = "op.refresh"
    return result


def dashboard(args, work: str) -> dict:
    csv, wh = os.path.join(work, "wide.csv"), os.path.join(work, "warehouse")
    state = os.path.join(work, "server")
    exp = gen.make_wide_csv(csv, args.seed, ENTITIES)
    pairs = sorted(exp.series)
    phases = {"generate": time.time() - T_START}
    cmd = [sys.executable, os.path.join(runtime.ROOT, "perfbench", "server.py"),
           "--csv", csv, "--warehouse", wh, "--out", state] + (["--trace"] if args.trace else [])
    with open(os.path.join(work, "server.log"), "w") as log:
        child = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=log, stderr=log, text=True)
    try:
        return _drive_server(args, child, state, exp, pairs, phases)
    finally:
        if child.poll() is None:
            child.stdin.close()
            try:
                child.wait(timeout=60)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()


def _drive_server(args, child, state, exp, pairs, phases) -> dict:
    give_up = time.time() + SERVER_START_TIMEOUT_S
    while not os.path.exists(state + ".ready"):
        if child.poll() is not None or time.time() > give_up:
            log = open(os.path.join(os.path.dirname(state), "server.log")).read()
            raise RuntimeError(f"dashboard server did not start:\n{log[-3000:]}")
        time.sleep(0.05)
    with open(state + ".ready") as f:
        ready = json.load(f)
    port = ready["port"]
    phases.update(server_ready=time.time() - T_START, server_session=ready["session_s"],
                  server_cold_refresh=ready["refresh_s"])
    tracer = spans.Tracer(prefix="c") if args.trace else None

    # warm-up, then the timed window; each client has its own seeded plan
    plans = [gen.request_plan(args.seed, k, pairs, 10_000) for k in range(CLIENTS)]
    warm_plans = [gen.request_plan(args.seed, CLIENTS + k, pairs, 10_000) for k in range(CLIENTS)]
    warm = run_clients(port, warm_plans, time.time() + WARMUP_S, tracer, "warmup")
    errors = _failures(warm, exp)
    phases["warmup"] = time.time() - T_START

    window_start = time.time()
    split0 = measure.cpu_split(child.pid)
    timed = run_clients(port, plans, window_start + args.seconds, tracer, "timed")
    window_s = time.time() - window_start
    split1 = measure.cpu_split(child.pid)
    peak_rss = measure.tree_peak_rss_mb(child.pid)

    child.stdin.write("stop\n")
    child.stdin.close()
    child.wait(timeout=60)

    timed_errors = _failures(timed, exp)
    errors += timed_errors
    lat = [r["latency_s"] for r in timed]
    n = max(len(timed), 1)
    cpu_s = sum(split1.values()) - sum(split0.values())
    result = {
        "attempted": len(timed),
        "failed": len(timed_errors),
        "errors": errors,
        "phases": phases,
        "samples_ms": [x * 1e3 for x in lat],
        "e2e": {
            "setup_s": window_start - T_START,
            "op_p50_ms": statistics.median(lat) * 1e3,
            "op_cpu_ms": cpu_s * 1e3 / n,
            "ops_per_s": len(timed) / window_s,
        },
        "peak_rss_mb": peak_rss,
    }
    if tracer:
        with open(state + ".spans") as f:
            server_spans = json.load(f)
        result["layers"] = {
            "session.start_s": ready["session_s"],
            **_warehouse_layout(os.path.join(os.path.dirname(state), "warehouse")),
            **{f"cpu.{k}_s": (split1[k] - split0[k]) / n for k in split0},
        }
        result["spans"] = server_spans + tracer.spans
        result["main_op"] = "op.request"
    return result


WORKLOADS = {"etl_refresh": etl_refresh, "dashboard": dashboard}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(runtime.ROOT, runtime.PROGRAM)):
        print(f"program package {runtime.PROGRAM} not found under {runtime.ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(runtime.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pins = runtime.pin_env(work)
    load_before, steal_before = os.getloadavg(), measure.steal_s()
    try:
        res = WORKLOADS[args.workload](args, work)
        groups = spans.fold_event_log(runtime.event_log_dir()) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = measure.summarize(res["samples_ms"]) if res["samples_ms"] else {"n": 0}
    if args.trace:
        values = {**spans.layer_metrics(res["spans"], groups, res["main_op"]), **res["layers"]}
        values.update({f"traced.{k}": v for k, v in res["e2e"].items()})
        units = PER_LAYER
    else:
        values, units = res["e2e"], END_TO_END
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "pins": pins, "nproc": os.cpu_count(), "cpus_usable": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "cpu_steal_s": measure.steal_s() - steal_before,
        "op_ms": summary, "samples_ms": [round(x, 1) for x in res["samples_ms"]],
        "peak_rss_mb": res["peak_rss_mb"], "phases_s": res.get("phases"), "errors": res["errors"][:20],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
