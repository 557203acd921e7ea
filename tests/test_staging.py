"""``operators/staging.py`` is the one place the package materializes an
intermediate, and its parquet read-back runs no job.

The guard scans code tokens, as ``tests/test_exports_used.py`` does, so
a ``localCheckpoint()`` named in a message string or a docstring is
not a call.
"""

from __future__ import annotations

import io
import tokenize
from pathlib import Path

from world_vaccination_coverage_etl_spark.operators.staging import stage
from world_vaccination_coverage_etl_spark.queries import _core

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "world_vaccination_coverage_etl_spark"
STAGING = PKG / "operators" / "staging.py"
# parquet writes to the warehouse, sinks and files belong to sources/,
# streaming/ and functions/; inside these no `.write` is a sink
NO_WRITE = {"queries", "operators"}


def materializations(source: str, writes: bool) -> list[tuple[int, str]]:
    """(line, what) for each ``localCheckpoint(`` call in ``source`` and,
    when ``writes``, each ``.write`` attribute."""
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type in (tokenize.NAME, tokenize.OP)
    ]
    found = []
    for prev, tok, nxt in zip([None, *toks], toks, [*toks[1:], None]):
        if tok.string == "localCheckpoint" and nxt is not None and nxt.string == "(":
            found.append((tok.start[0], "localCheckpoint("))
        elif writes and tok.string == "write" and prev is not None and prev.string == ".":
            found.append((tok.start[0], ".write"))
    return found


def test_scan_reads_code_not_strings():
    src = (
        "x = df.localCheckpoint(eager=True)\n"
        '"""call localCheckpoint() first"""\n'
        "# df.write.parquet(p)\n"
        "df.write.parquet(p)\n"
    )
    assert materializations(src, writes=True) == [(1, "localCheckpoint("), (4, ".write")]
    assert materializations(src, writes=False) == [(1, "localCheckpoint(")]


def test_only_staging_materializes():
    found = [
        f"{path.relative_to(ROOT)}:{line}: {what}"
        for path in sorted(PKG.rglob("*.py"))
        if path != STAGING
        for line, what in materializations(
            path.read_text(), writes=path.relative_to(PKG).parts[0] in NO_WRITE
        )
    ]
    assert not found, "materialize through operators.staging.stage:\n" + "\n".join(found)


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _df(spark):
    return spark.range(0, 50, numPartitions=2).selectExpr("id", "id * 2 AS twice")


def test_staged_read_back_runs_no_job(spark, tmp_path):
    """The write is the only job: the read-back carries the schema it
    wrote, so no footer job infers it."""
    out = {}

    def run():
        out["df"] = stage(_df(spark), "x", eager=True, staging_dir=str(tmp_path))
        out["schema"] = out["df"].schema

    assert _jobs(spark, "stage-read-back", run) == 1
    assert out["schema"].names == ["id", "twice"]
    assert sorted(out["df"].collect()) == sorted(_df(spark).collect())


def test_pooled_hit_reads_back_without_a_job(spark, monkeypatch):
    monkeypatch.setattr(_core, "_MATERIALIZE_POOL", {})
    built = []

    def build(spark, sf_dir):
        built.append(sf_dir)
        return _df(spark)

    miss = _core.pooled_parquet("stage_test", spark, "sf", build)
    miss_rows = sorted(miss.collect())
    out = {}

    def hit():
        out["df"] = _core.pooled_parquet("stage_test", spark, "sf", build)
        out["schema"] = out["df"].schema

    assert _jobs(spark, "pool-hit", hit) == 0
    assert built == ["sf"]
    assert sorted(out["df"].collect()) == miss_rows
