"""JSONL (newline-delimited JSON) export.

The handoff format of LLM training pipelines: one JSON object per
line, schema carried in-band, consumable by any loader.  Spark's
native ``json`` source IS JSONL (one object per line, partition-
parallel both ways), so ``write_jsonl`` is a thin contract over it: a
partition-parallel export (the 100 TB path), or a deterministic single
file (coalesce(1) + optional sort) for handoff artifacts small enough
to hand to a tokenizer driver.  Read it back with an explicit schema
(``spark.read.schema(ddl).json(path)``): inference over 100 TB of JSON
is a full extra scan and can widen or narrow types between runs.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_jsonl(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    order_by: list[str] | None = None,
) -> str:
    """Write ``df`` as JSONL.  Default: a partition-parallel directory
    of ``part-*.json`` files.  ``single_file=True``: one ``.jsonl``
    file at exactly ``path`` (deterministic when ``order_by`` pins the
    line order) — the small-artifact handoff shape only.
    """
    if not single_file:
        df.write.mode("overwrite").json(path)
        return path
    staging = path + "._staging"
    out = df.orderBy(*order_by) if order_by else df
    out.coalesce(1).write.mode("overwrite").json(staging)
    part = glob.glob(os.path.join(staging, "part-*"))
    if len(part) != 1:  # pragma: no cover - coalesce(1) guarantees one
        raise RuntimeError(f"expected one part file, found {part}")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    shutil.move(part[0], path)
    shutil.rmtree(staging)
    return path
