"""The one measuring harness: warm-up, timed runs and the scale probe.

Every number the repo's tools report about a registry query is taken
the same way, by the functions here:

- ``warm_up``: q1, one scan of every star table, the Python worker
  spawn — before anything is timed.
- ``time_query``: ``clear_pools()`` when the sample must be cold, a
  full JVM GC, then one timed run through the ``noop`` sink.
- ``probe``: the cost curve of registry queries across warehouses of
  growing scale, checked against a survival bound.

``bench.py``, ``tools/record_baseline.py`` and ``tools/stage_profile.py``
call the first two.

Usage::

    python tools/measure.py time --sf DIR query [query ...]
    python tools/measure.py probe --sf A,B[,C] [query ...]

``time`` prints ``name: min=… runs=[…]``, best-of-2 per query, with the
first sample of a pooled query cold (bench.py's rule).

``probe`` runs each query at each warehouse (smallest first; the
decorrelated 10x/100x ones come from ``tools/make_sf1.py``), merges the
records into ``.scale/probe.json``, regenerates this sf set's section
of SCALING.md and exits 1 if any recorded query of the set is over its
bound.  Named queries are measured again; with no names every registry
query not yet recorded for the set is measured, so a killed run
resumes where it stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from world_vaccination_coverage_etl_spark.queries import REGISTRY  # noqa: E402
from world_vaccination_coverage_etl_spark.queries._core import (  # noqa: E402
    POOLED_QUERIES,
    clear_pools,
)
from world_vaccination_coverage_etl_spark.schemas import STAR_TABLES  # noqa: E402
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402
from world_vaccination_coverage_etl_spark.sources.registry import load_table  # noqa: E402
from world_vaccination_coverage_etl_spark.sources.warehouse import (  # noqa: E402
    footer_row_count,
)

PROBE_JSON = os.path.join(REPO, ".scale", "probe.json")
SCALING_MD = os.path.join(REPO, "SCALING.md")

# A query whose input workload is another query's OUTPUT (a pass over
# E edges cannot run in o(E)) lifts its bound by that companion's
# output ratio.  Empty since r10: `fuzzy_entity_clusters` runs
# connected components over the group-compacted star graph, not the
# quadratic doc-pair expansion, so the plain bound applies again.
WORKLOAD_OF: dict[str, str] = {}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM, codegen and Python worker pools outside any timing.

    q1 warms codegen; ONE scan of every star table pages each table in,
    so no timed query depends on a neighbour having done it (r10: the
    timed pass runs in sorted order, independent of the registry
    rotation); the full Python worker pool is spawned up front, because
    the fanned-out Arrow queries run one worker per core and whichever
    such query ran first would otherwise pay the spawn storm.
    """
    _noop(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    for t in STAR_TABLES:
        _noop(load_table(spark, sf_dir, t))
    dp = spark.sparkContext.defaultParallelism
    _noop(
        spark.range(dp * 4, numPartitions=dp).mapInPandas(lambda it: it, "id long")
    )


def time_query(spark, sf_dir: str, name: str, cold: bool) -> float:
    """Seconds (3 decimals) for one run of ``name`` through the noop sink.

    All operators execute and nothing is collected to the driver.
    ``cold`` drops every result pool first, so a pooled query runs its
    real computation instead of a pool hit.  The full GC before the
    clock starts is local-mode hygiene: tens of varied queries in one
    JVM leave garbage and weakly referenced cleaner state that only a
    full GC releases, and without it later Arrow-UDF queries measured
    3-8x slower (31.7 s -> 3.9 s on one query), which a cluster with a
    heap per executor never sees.
    """
    if cold:
        clear_pools()
    spark._jvm.System.gc()
    t0 = time.time()
    _noop(REGISTRY[name].fn(spark, sf_dir))
    return round(time.time() - t0, 3)


def executor_totals(spark) -> dict:
    """Cumulative executor and stage counters from the app status store.

    Per-sample DELTAS attribute a slow sample to spill, GC or shuffle
    instead of leaving a 5x swing unexplained (r9 verdict item 5).
    Reads the store the UI serves; no UI or event log needed.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    ds = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    st = store.stageList(None, *ds)
    spill = run_ms = shw = peak = 0
    for i in range(st.size()):
        s = st.apply(i)
        spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        run_ms += s.executorRunTime()
        shw += s.shuffleWriteBytes()
        peak = max(peak, s.peakExecutionMemory())
    ex = store.executorList(True)
    gc_ms = sum(ex.apply(i).totalGCTime() for i in range(ex.size()))
    return {
        "spill": spill, "run_ms": run_ms, "shuffle_w": shw,
        "peak": peak, "gc_ms": gc_ms,
    }


def executor_delta(before: dict, after: dict) -> dict:
    mb = 1024 * 1024
    return {
        "spill_mb": round((after["spill"] - before["spill"]) / mb, 1),
        "gc_s": round((after["gc_ms"] - before["gc_ms"]) / 1000, 1),
        "cpu_s": round((after["run_ms"] - before["run_ms"]) / 1000, 1),
        "shuffle_w_mb": round(
            (after["shuffle_w"] - before["shuffle_w"]) / mb, 1
        ),
        "peak_exec_mb": round(after["peak"] / mb, 1),
    }


def survival_bound(input_ratio: float, output_ratio: float) -> float:
    """Largest time ratio a query may show between two warehouses.

    Input x1.5, lifted to output x1.5 where the true answer grows faster
    than the input: a pair enumerator cannot emit R rows in o(R) time.
    A plan that is mildly quadratic on a linear-output query gets no
    lift.  Covers the streaming rule too: throughput retention >= 0.5
    is time ratio <= 2x input.
    """
    return round(1.5 * max(input_ratio, output_ratio), 1)


def star_rows(sf_dir: str) -> int:
    """Rows over all star tables of a warehouse, from parquet footers."""
    return sum(
        footer_row_count(os.path.join(sf_dir, f"{t}.parquet"))
        for t in STAR_TABLES
    )


def _release(spark) -> None:
    # heavy sf10 queries localCheckpoint multi-GB intermediates; kept
    # across a probe session they starved a later broadcast build
    # (dup_graph_triangles OOM'd in-session, passed alone), so each
    # measurement starts from released storage
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark._jvm.System.gc()


def _output_rows(spark, sf_dir: str, name: str) -> int:
    # an extra pass, so the timed samples stay exactly bench.py's
    obs = Observation()
    _noop(
        REGISTRY[name]
        .fn(spark, sf_dir)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    )
    return obs.get["rows"]


def _measure_at(spark, sf_dir: str, name: str) -> dict:
    runs, metrics = [], []
    for _ in range(2):
        before = executor_totals(spark)
        runs.append(time_query(spark, sf_dir, name, cold=True))
        metrics.append(executor_delta(before, executor_totals(spark)))
    rec = {"s": min(runs), "runs": runs, "metrics": metrics}
    if name in POOLED_QUERIES:
        # the production shape is materialize once, consume many: the
        # steady-state consumer cost; the bound binds on the cold min
        rec["pooled_s"] = time_query(spark, sf_dir, name, cold=False)
    rec["rows"] = _output_rows(spark, sf_dir, name)
    _release(spark)
    return rec


def _label(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def probe(spark, sf_dirs: list[str], queries: list[str],
          cache_path: str = PROBE_JSON) -> dict:
    """Measure ``queries`` at each of ``sf_dirs`` (smallest first).

    Per query and warehouse: the min of 2 cold samples with executor
    deltas per sample, a pool-warm sample for a pooled query, and the
    output rows.  The time ratio and the input and output ratios are
    taken between the first and the last warehouse; the input ratio
    comes from the star tables' parquet footers.  Each record is merged
    into ``cache_path`` as soon as it is taken.  With no ``queries``,
    every registry query not yet recorded for this sf set is measured.
    Returns the sf set's merged {query: record} map.
    """
    labels = [_label(d) for d in sf_dirs]
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    results = cache.setdefault(",".join(labels), {})
    todo = list(queries) or [n for n in sorted(REGISTRY) if n not in results]
    if not todo:
        return results
    input_ratio = round(star_rows(sf_dirs[-1]) / star_rows(sf_dirs[0]), 2)
    for d in sf_dirs:
        warm_up(spark, d)
    for name in todo:
        at = {lab: _measure_at(spark, d, name) for lab, d in zip(labels, sf_dirs)}
        first, last = at[labels[0]], at[labels[-1]]
        rec = {
            "sf": at,
            "input_ratio": input_ratio,
            "output_ratio": round(last["rows"] / max(first["rows"], 1), 2),
            "time_ratio": round(last["s"] / max(first["s"], 1e-3), 2),
        }
        lift = rec["output_ratio"]
        companion = WORKLOAD_OF.get(name)
        if companion in results:
            lift = max(lift, results[companion]["output_ratio"])
            rec["workload_of"] = companion
        rec["bound"] = survival_bound(input_ratio, lift)
        results[name] = rec
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(
            f"[probe] {name}: " + " -> ".join(f"{at[b]['s']}s" for b in labels)
            + f" ratio {rec['time_ratio']} bound {rec['bound']}",
            file=sys.stderr, flush=True,
        )
    return results


def over_bound(results: dict) -> list[str]:
    return sorted(n for n, r in results.items() if r["time_ratio"] > r["bound"])


def write_scaling(path: str, labels: list[str], results: dict) -> None:
    """Regenerate this sf set's SCALING.md section from its records."""
    heading = f"## Scale probe: {' → '.join(labels)}"
    over = over_bound(results)
    inputs = {r["input_ratio"] for r in results.values()}
    lines = [
        heading,
        "",
        "Generated by `tools/measure.py probe --sf "
        f"{','.join(labels)}`.  Per query and warehouse: the min of 2 "
        "cold samples (`clear_pools()`, full GC, noop sink) after "
        "bench.py's warm-up; a pooled query adds one pool-warm sample "
        "(`pooled`).  Output rows come from one extra observed pass.  "
        "Input ratio (star-table rows from the parquet footers, last "
        f"over first warehouse): {', '.join(f'{x:g}x' for x in sorted(inputs))}.  "
        "Survival bound per query: time ratio <= 1.5 x max(input "
        "ratio, output ratio).",
        "",
        f"**Queries over their bound: {len(over)}**"
        + (f" — {', '.join(over)}" if over else ""),
        "",
        "| query | "
        + " | ".join(f"{b} (s)" for b in labels)
        + " | time ratio | output rows | output ratio | bound | "
        f"pooled {labels[-1]} (s) |",
        "|---|" + "---|" * (len(labels) + 5),
    ]
    for name, r in sorted(results.items(), key=lambda kv: -kv[1]["time_ratio"]):
        at = r["sf"]
        lines.append(
            f"| {name} | "
            + " | ".join(str(at[b]["s"]) for b in labels)
            + f" | {r['time_ratio']}x | {at[labels[0]]['rows']}→"
            f"{at[labels[-1]]['rows']} | {r['output_ratio']}x | "
            f"{r['bound']}x | {at[labels[-1]].get('pooled_s', '—')} |"
        )
    lines.append("")
    text = open(path).read() if os.path.exists(path) else ""
    if heading in text:
        head, _, rest = text.partition(heading)
        nxt = rest.find("\n## ")
        text = head + "\n".join(lines) + (rest[nxt:] if nxt != -1 else "")
    else:
        text = text.rstrip() + "\n\n" + "\n".join(lines)
    with open(path, "w") as fh:
        fh.write(text)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("time", help="best-of-2 per query at one warehouse")
    t.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    t.add_argument("queries", nargs="+")
    p = sub.add_parser("probe", help="cost curve across 2-3 warehouses")
    p.add_argument("--sf", required=True,
                   help="comma-separated warehouse dirs, smallest first")
    p.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.queries) - set(REGISTRY))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    if args.cmd == "time":
        spark = get_spark("measure_time")
        warm_up(spark, args.sf)
        for name in args.queries:
            runs = [
                time_query(spark, args.sf, name,
                           cold=i == 0 and name in POOLED_QUERIES)
                for i in range(2)
            ]
            print(f"{name}: min={min(runs)} runs={runs}", flush=True)
        return 0

    sf_dirs = [os.path.abspath(d) for d in args.sf.split(",")]
    if not 2 <= len(sf_dirs) <= 3:
        ap.error("--sf takes 2 or 3 comma-separated warehouse dirs")
    results = probe(get_spark("measure_probe"), sf_dirs, args.queries)
    write_scaling(SCALING_MD, [_label(d) for d in sf_dirs], results)
    over = over_bound(results)
    print(json.dumps({"probed": len(results), "over_bound": over}))
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
