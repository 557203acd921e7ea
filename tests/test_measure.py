"""The measuring harness (tools/measure.py): the probe's record shape,
cold samples, input ratio and survival bound, and that no other tool
times queries its own way."""

from __future__ import annotations

import dataclasses
import importlib.util
import json
import os
import re
from pathlib import Path

import pytest

from world_vaccination_coverage_etl_spark.queries import REGISTRY
from world_vaccination_coverage_etl_spark.schemas import STAR_TABLES
from world_vaccination_coverage_etl_spark.sources.warehouse import footer_row_count

ROOT = Path(__file__).resolve().parent.parent
_SPEC = importlib.util.spec_from_file_location(
    "tools_measure", ROOT / "tools" / "measure.py"
)
measure = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(measure)

PLAIN = "q1_pricing_summary"
POOLED = "dup_graph_triangles"
PAIRS = "minhash_near_dup"  # emits near-duplicate pairs
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.fixture(scope="module")
def probed(spark, tmp_path_factory):
    """One probe of three queries; logs every pool clear and every run
    of the pooled query, in order."""
    events = []
    real_clear = measure.clear_pools
    pooled_fn = REGISTRY[POOLED].fn

    def clear():
        events.append("clear")
        real_clear()

    def run_pooled(spark, sf_dir):
        events.append("run")
        return pooled_fn(spark, sf_dir)

    cache = tmp_path_factory.mktemp("probe") / "probe.json"
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(measure, "clear_pools", clear)
        mp.setitem(
            REGISTRY, POOLED, dataclasses.replace(REGISTRY[POOLED], fn=run_pooled)
        )
        results = measure.probe(spark, SF_DIRS, [PLAIN, POOLED, PAIRS], str(cache))
    return results, cache, events


def test_probe_writes_record_per_query_and_sf(spark, probed):
    results, cache, _ = probed
    on_disk = json.loads(cache.read_text())
    assert on_disk == {"sf0.001,sf0.01": results}
    assert set(results) == {PLAIN, POOLED, PAIRS}
    for name, rec in results.items():
        assert set(rec) == {
            "sf", "input_ratio", "output_ratio", "time_ratio", "bound"
        }
        assert set(rec["sf"]) == {"sf0.001", "sf0.01"}
        for at in rec["sf"].values():
            assert len(at["runs"]) == 2 and at["s"] == min(at["runs"])
            assert len(at["metrics"]) == 2
            assert set(at["metrics"][0]) == {
                "spill_mb", "gc_s", "cpu_s", "shuffle_w_mb", "peak_exec_mb"
            }
            assert ("pooled_s" in at) == (name == POOLED)
            assert at["rows"] > 0
        first, last = rec["sf"]["sf0.001"], rec["sf"]["sf0.01"]
        assert rec["time_ratio"] == round(last["s"] / first["s"], 2)
        assert rec["output_ratio"] == round(last["rows"] / first["rows"], 2)
        assert rec["bound"] == measure.survival_bound(
            rec["input_ratio"], rec["output_ratio"]
        )
    # the output rows are the query's result size
    assert results[PLAIN]["sf"]["sf0.01"]["rows"] == (
        REGISTRY[PLAIN].fn(spark, SF_DIRS[1]).count()
    )


def test_probe_clears_pools_before_each_cold_sample(probed):
    _, _, events = probed
    # per sf: two cold samples, then the pool-warm sample and the
    # observed pass, which reuse the pool; the plain and pair queries'
    # cold samples (2 per sf) clear the pools too
    per_sf = ["clear", "run", "clear", "run", "run", "run"]
    assert events == ["clear"] * 4 + per_sf * 2 + ["clear"] * 4


def test_input_ratio_is_footer_row_ratio(probed):
    results, _, _ = probed

    def rows(sf_dir):
        return sum(
            footer_row_count(os.path.join(sf_dir, f"{t}.parquet"))
            for t in STAR_TABLES
        )

    want = round(rows(SF_DIRS[1]) / rows(SF_DIRS[0]), 2)
    assert want != 10.0  # documents and embeddings do not grow here
    assert {r["input_ratio"] for r in results.values()} == {want}


def test_bound_takes_output_ratio_when_output_grows_faster():
    assert measure.survival_bound(10.0, 2.0) == 15.0
    assert measure.survival_bound(10.0, 40.0) == 60.0


def test_write_scaling_regenerates_only_its_section(probed, tmp_path):
    results, _, _ = probed
    md = tmp_path / "SCALING.md"
    md.write_text("# S\n\n## Other\n\nkept\n")
    labels = ["sf0.001", "sf0.01"]
    measure.write_scaling(str(md), labels, results)
    measure.write_scaling(str(md), labels, results)
    text = md.read_text()
    assert text.count("## Scale probe: sf0.001 → sf0.01") == 1
    assert "## Other\n\nkept\n" in text
    assert "**Queries over their bound: " in text
    assert all(f"| {name} |" in text for name in results)


def test_only_measure_calls_system_gc():
    files = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
    callers = [p.name for p in files if re.search(r"System\.gc\(\)", p.read_text())]
    assert callers == ["measure.py"]
