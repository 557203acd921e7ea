"""Per-stage empirical profile of one registry query (guide §1.1).

Runs the named query (bench-faithful warmup + noop sink), then dumps
per-stage metrics from the Spark UI REST API: executor run time,
shuffle read/write bytes, task counts, python boundary time.  This is
the "open the Stages tab" loop from the optimization guide, scripted
for a headless sandbox.

Usage::

    python tools/stage_profile.py [--sf DIR] [--runs N] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from measure import time_query, warm_up  # noqa: E402

from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402


def rest(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.loads(r.read())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark("stage_profile", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.port": "4050",
    })
    sc = spark.sparkContext
    base = sc.uiWebUrl + "/api/v1/applications/" + sc.applicationId

    warm_up(spark, args.sf)
    dp = sc.defaultParallelism

    for name in args.queries:
        for run_i in range(args.runs):
            jobs_before = {j["jobId"] for j in rest(base, "/jobs")}
            sc.setJobDescription(f"profile:{name}")
            wall = time_query(spark, args.sf, name, cold=False)
            sc.setJobDescription(None)

            jobs = [j for j in rest(base, "/jobs")
                    if j["jobId"] not in jobs_before]
            stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
            print(f"\n=== {name} run {run_i}: wall {wall:.3f}s, "
                  f"{len(jobs)} jobs, {len(stage_ids)} stages ===")
            rows = []
            for sid in stage_ids:
                try:
                    infos = rest(base, f"/stages/{sid}")
                except Exception:
                    continue
                for s in infos:
                    if s["status"] == "SKIPPED":
                        rows.append((sid, 0.0, 0, "SKIPPED", "", 0, 0, 0.0))
                        continue
                    rows.append((
                        sid,
                        (s.get("executorRunTime") or 0) / 1e3,
                        s.get("numCompleteTasks") or s.get("numTasks"),
                        s.get("name", "")[:60],
                        s.get("details", "").split("\n")[0][:60],
                        s.get("shuffleReadBytes", 0),
                        s.get("shuffleWriteBytes", 0),
                        (s.get("executorDeserializeTime") or 0) / 1e3,
                    ))
            # submissionTime-ordered wall attribution is messy in local
            # mode (stages overlap); report executor time as the cost
            # signal, which is what we can actually reduce.
            rows.sort(key=lambda r: -r[1])
            tot = sum(r[1] for r in rows)
            print(f"  total executorRunTime {tot:.2f}s "
                  f"(x{tot/wall if wall else 0:.1f} of wall on {dp} cores)")
            for sid, rt, nt, nm, det, srd, swr, deser in rows[:14]:
                extra = ""
                if srd or swr:
                    extra = f" shufR={srd/1e6:.1f}MB shufW={swr/1e6:.1f}MB"
                if deser > 0.05 * max(rt, 0.01):
                    extra += f" deser={deser:.2f}s"
                if det:
                    extra += f"  [{det}]"
                print(f"  stage {sid:>4} {rt:7.2f}s exec, {nt:>3} tasks  "
                      f"{nm}{extra}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
