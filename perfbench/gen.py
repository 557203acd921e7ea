"""Seeded OWID-shaped inputs and the answers the program must give.

`make_wide_csv` writes the wide coverage CSV the ETL reads (one row per
(entity, year), one ``coverage__*`` column per antigen, plus an
unrelated ``code`` column) and returns `Expected`: what the clean
warehouse table must hold after the clamp to [1980, 2100], the null
drop and the key dedup, computed here in plain Python.

Duplicated (entity, year) rows are exact copies, so which copy the
dedup keeps cannot change the answer.  Values carry one decimal, so
the coverage sum is checked exactly as an integer count of tenths.

`request_plan` turns a seed into one dashboard client's request list.
"""

from __future__ import annotations

import bisect
import csv
import random
from dataclasses import dataclass, field
from urllib.parse import urlencode

YEAR_MIN, YEAR_MAX = 1980, 2100  # the ETL's clamp
FIRST_YEAR, LAST_YEAR = 1978, 2023  # 1978-79 fall outside the clamp
N_ANTIGENS = 15
NULL_FRAC = 0.15
DUP_FRAC = 0.01


@dataclass
class Expected:
    clean_rows: int = 0
    coverage_tenths: int = 0  # sum of round(coverage_pct * 10)
    # (country, antigen) -> {year: coverage_pct}, clean rows only
    series: dict[tuple[str, str], dict[int, float]] = field(default_factory=dict)

    def window_mean(self, pair, first: int, last: int) -> float | None:
        vals = [v for y, v in self.series[pair].items() if first <= y <= last]
        return sum(vals) / len(vals) if vals else None


def entity_name(i: int) -> str:
    return f"Land {i:04d}"


def antigen_name(j: int) -> str:
    return f"coverage__ag{j:02d}"


def make_wide_csv(path: str, seed: int, entities: int) -> Expected:
    rnd = random.Random(seed)
    antigens = [antigen_name(j) for j in range(N_ANTIGENS)]
    exp = Expected()
    rows = []
    for i in range(entities):
        country = entity_name(i)
        levels = [rnd.uniform(30.0, 90.0) for _ in antigens]
        trends = [rnd.uniform(-0.5, 1.0) for _ in antigens]
        for year in range(FIRST_YEAR, LAST_YEAR + 1):
            cells = []
            for j, ag in enumerate(antigens):
                if rnd.random() < NULL_FRAC:
                    cells.append("")
                    continue
                v = levels[j] + trends[j] * (year - FIRST_YEAR) + rnd.gauss(0.0, 4.0)
                tenths = round(min(100.0, max(0.0, v)) * 10)
                cells.append(f"{tenths // 10}.{tenths % 10}")
                if YEAR_MIN <= year <= YEAR_MAX:
                    exp.clean_rows += 1
                    exp.coverage_tenths += tenths
                    exp.series.setdefault((country, ag), {})[year] = tenths / 10
            row = [country, str(year), f"C{i:04d}"] + cells
            rows.append(row)
            if rnd.random() < DUP_FRAC:
                rows.append(list(row))
    rnd.shuffle(rows)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["entity", "year", "code"] + antigens)
        w.writerows(rows)
    return exp


@dataclass(frozen=True)
class Request:
    kind: str  # "dashboard" (200), "index" (200) or "unknown" (404)
    path: str
    pair: tuple[str, str] | None = None
    start_year: int = 0
    pre_years: int = 0
    post_years: int = 0

    @property
    def status(self) -> int:
        return 404 if self.kind == "unknown" else 200


def _dashboard_path(country, antigen, start, pre, post) -> str:
    q = urlencode(
        {
            "country": country,
            "antigen": antigen,
            "start_year": start,
            "pre_years": pre,
            "post_years": post,
        }
    )
    return f"/dashboard?{q}"


def request_plan(seed: int, client: int, pairs: list[tuple[str, str]], n: int) -> list[Request]:
    """`n` requests for one closed-loop client.

    Pairs are Zipf-popular (weight 1/rank over a seeded ranking).  Every
    20th request is ``GET /`` and every 50th names an unknown pair, at
    fixed offsets so that even a short run sends some of each.
    """
    rnd = random.Random(seed * 1009 + client)
    ranked = sorted(pairs)
    random.Random(seed).shuffle(ranked)
    cum, total = [], 0.0
    for rank in range(1, len(ranked) + 1):
        total += 1.0 / rank
        cum.append(total)
    out = []
    for i in range(n):
        start, pre, post = rnd.randint(2000, 2015), rnd.randint(3, 7), rnd.randint(3, 7)
        if i % 20 == 3:
            out.append(Request("index", "/"))
        elif i % 50 == 5:
            ghost = (f"Nowhere {rnd.randint(0, 999):03d}", ranked[0][1])
            out.append(Request("unknown", _dashboard_path(*ghost, start, pre, post), ghost))
        else:
            pair = ranked[bisect.bisect_left(cum, rnd.random() * total)]
            out.append(
                Request("dashboard", _dashboard_path(*pair, start, pre, post), pair, start, pre, post)
            )
    return out
