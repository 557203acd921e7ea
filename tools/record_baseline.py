"""Record the BASELINE.md per-query table at current HEAD.

Rule (r8 verdict item 2, tightened late-r9): best-of-2 (min) per
query for the >= 1 s cohort; the sub-second cohort — overhead-
dominated and host-noisy — takes a third pass and records the
MEDIAN-of-3.  A min can be one lucky-fast sample (measured: q6 at
0.207 s during one recording vs a 0.555 s quiet-host best-of-3 ten
minutes later — a 2.7x swing on a plan-identical pushed-down
scan-agg), and since this table is the DENOMINATOR of the 2x bound a
lucky denominator manufactures false breaches.  The median still
reflects the plan; a real plan regression shifts all three samples.
The table this emits is what ``bench.py`` normalizes against
(tools/bench_compare.load_baseline_md parses ``| name | sec |``
rows), so the recording and comparison rules must stay in sync —
bench.py's numerator stays best-of-2-with-suspect-re-measure, which
only adds headroom on this cohort.

Provenance recorded alongside the table: date, HEAD commit, load
average at start/end, and the sub-second cohort size.  Run this ONLY
on a quiet host (check ``vmstat``/loadavg first) — the point of the
re-record is that raw 2x means "plan regressed" again, not "host
drifted".

Usage::

    python tools/record_baseline.py            # prints the markdown block
    python tools/record_baseline.py --out F    # also writes it to F
    python tools/record_baseline.py --only a,b # rows for NEW queries only
                                               # (append to BASELINE.md by
                                               # hand; merges the json)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from measure import time_query, warm_up  # noqa: E402

from world_vaccination_coverage_etl_spark.queries import REGISTRY  # noqa: E402
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402


def _loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def main() -> int:
    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        missing = only - set(REGISTRY)
        if missing:
            raise SystemExit(f"unknown queries: {sorted(missing)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
        capture_output=True, text=True,
    ).stdout.strip()
    load_start = _loadavg()
    spark = get_spark("record_baseline")
    # recording and comparison MUST share measurement context
    warm_up(spark, sf_dir)

    per_query: dict[str, float] = {}
    t_wall = time.time()
    # sorted order, matching bench.py's rotation-independent pass
    # (r10), with bench.py's r11 INTERLEAVED passes: the whole list
    # runs once, then again, so each query's two samples sit a full
    # pass apart — decorrelated from the minutes-long host-speed
    # windows that poison back-to-back samples together (see
    # bench.py's loop comment for the measured evidence)
    names = sorted(REGISTRY) if only is None else sorted(only & set(REGISTRY))
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _pass in range(2):
        for name in names:
            samples[name].append(time_query(spark, sf_dir, name, cold=False))
    for name in names:
        a, b = samples[name]
        if min(a, b) < 1.0:  # sub-second cohort: MEDIAN-of-3
            best = sorted((a, b, time_query(spark, sf_dir, name, cold=False)))[1]
        else:  # plan-dominated cohort: best-of-2 min (bench.py's rule)
            best = min(a, b)
        per_query[name] = round(best, 3)
        print(f"[record] {name} {per_query[name]}s", file=sys.stderr, flush=True)
    wall = round(time.time() - t_wall, 1)
    load_end = _loadavg()
    total = round(sum(per_query.values()), 3)
    n_sub = sum(1 for v in per_query.values() if v < 1.0)

    lines = [
        f"**Total (sum of per-query recorded times): {total} s for "
        f"{len(per_query)} queries; wall of all passes {wall} s.**",
        "",
        f"Provenance: recorded {time.strftime('%Y-%m-%d')} at HEAD "
        f"`{head}`, loadavg {load_start} -> {load_end}, "
        f"{n_sub} sub-second queries recorded as median-of-3 "
        f"(>= 1 s cohort: best-of-2 min).",
        "",
        "| query | sec |",
        "|---|---|",
    ]
    lines += [f"| {q} | {v} |" for q, v in per_query.items()]
    block = "\n".join(lines)
    print(block)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(block + "\n")
    jpath = os.path.join(REPO, ".scale", "baseline_record.json")
    rec = {
        "head": head,
        "date": time.strftime("%Y-%m-%d %H:%M:%S"),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "queries": per_query,
        "wall_sec": wall,
    }
    if only is not None and os.path.exists(jpath):
        # incremental rows merge into the full record; provenance of
        # the full table stays the full run's
        prior = json.load(open(jpath))
        prior["queries"].update(per_query)
        prior.setdefault("incremental", []).append(
            {k: rec[k] for k in ("head", "date", "loadavg_start",
                                 "loadavg_end")}
            | {"queries": sorted(per_query)}
        )
        rec = prior
    with open(jpath, "w") as fh:
        json.dump(rec, fh, indent=1)
    return 0


if __name__ == "__main__":
    os.makedirs(os.path.join(REPO, ".scale"), exist_ok=True)
    sys.exit(main())
