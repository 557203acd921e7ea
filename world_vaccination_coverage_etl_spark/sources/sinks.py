"""Artifact-name helper and parquet compaction.

The reference names its per-series CSV artifacts
``clean_{country}_{antigen}.csv`` (reference etl_pipeline.py:152-153,
dashboard download buttons streamlit_app.py:309-314,476-494);
``sanitize_filename`` is that templating.  The CLI writes the collected
series rows itself (cli.py).
"""

from __future__ import annotations

import re


def sanitize_filename(name: str) -> str:
    """Artifact-name templating (reference etl_pipeline.py:152,170):
    spaces → ``_``, path separators → ``-``, strip anything else
    outside ``[A-Za-z0-9._-]``."""
    name = name.replace(" ", "_").replace("/", "-").replace("\\", "-")
    return re.sub(r"[^A-Za-z0-9._-]", "", name)


def compact_parquet(
    spark,
    in_dir: str,
    out_dir: str,
    target_file_mb: int = 128,
    mode: str = "overwrite",
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    roughly ``target_file_mb`` each.  Returns the output file count.

    The 100 TB problem this solves: streaming sinks, per-micro-batch
    appends, and over-parallel writes leave thousands of tiny files;
    every downstream scan then pays per-file open/footer costs and the
    scheduler per-split overhead.  Sizing is derived from the INPUT's
    on-disk bytes (no data scan), and the rewrite is one pass —
    ``coalesce`` avoids a shuffle when shrinking the file count, which
    is the compaction direction.

    On a real deployment this is the nightly table-maintenance job
    (OPTIMIZE in table-format terms); here it is an explicit operator
    so pipelines can stage-materialize without inheriting tiny files.
    """
    import math
    import os

    total_bytes = 0
    for root, _dirs, files in os.walk(in_dir):
        for f in files:
            if f.endswith(".parquet"):
                total_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(in_dir)
    df.coalesce(n_files).write.mode(mode).parquet(out_dir)
    written = 0
    for root, _dirs, files in os.walk(out_dir):
        written += sum(1 for f in files if f.endswith(".parquet"))
    return written
