"""Sample statistics and metric-name rules for the lifecycle benchmark.

Every reported metric is a summary of the samples one run took: the
median, the highest percentile that still has at least ten samples
beyond it (none when a run took fewer than eleven), and the sample
count. Runs are never folded together: a run's figures come from that
run's samples only.
"""

from __future__ import annotations

import math
import re
import statistics

# metric names: a letter or digit first, then at most 63 more letters,
# digits, '_', '.' or '-'
_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# units: at most 16 letters, digits, '_', '/', '%', '.' or '-'
_UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# beyond-samples a reported high percentile must keep
TAIL_SAMPLES = 10


def valid_name(name: str) -> bool:
    return bool(_NAME_RE.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT_RE.fullmatch(unit))


def high_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile p with at least ``TAIL_SAMPLES``
    samples strictly above its rank, as (p, value), or None when the
    samples are too few for any percentile to have that tail.

    With n sorted samples, the value at rank r (0-based) has n - 1 - r
    samples beyond it, so the highest admissible rank is
    n - 1 - TAIL_SAMPLES; p is the largest whole percentile whose
    nearest-rank position does not exceed it."""
    n = len(values)
    top_rank = n - 1 - TAIL_SAMPLES
    if top_rank < 0:
        return None
    s = sorted(values)
    # nearest-rank: percentile p selects rank ceil(p/100 * n) - 1
    p = 0
    for q in range(99, 0, -1):
        if math.ceil(q / 100 * n) - 1 <= top_rank:
            p = q
            break
    if p == 0:
        return None
    return p, s[math.ceil(p / 100 * n) - 1]


def summarize(values: list[float]) -> dict:
    """{"median", "n", and "p"/"p_value" when a tail percentile exists}."""
    if not values:
        raise ValueError("no samples to summarize")
    out = {"median": statistics.median(values), "n": len(values)}
    hp = high_percentile(values)
    if hp is not None:
        out["p"], out["p_value"] = hp
    return out


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``, exclusive method)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    if med == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(med)


def check_metric_specs(specs: list[dict], bounded: bool) -> list[str]:
    """Problems with a BENCHMARK.json metric list (empty when valid):
    exact keys, name and unit rules, direction, and the bound limit."""
    keys = {"name", "unit", "better"} | ({"bound"} if bounded else set())
    problems = []
    seen = set()
    for m in specs:
        name = m.get("name", "")
        if set(m) != keys:
            problems.append(f"{name or m}: keys {sorted(m)} != {sorted(keys)}")
        if not valid_name(name):
            problems.append(f"{name!r}: invalid metric name")
        if name in seen:
            problems.append(f"{name}: used twice")
        seen.add(name)
        if not valid_unit(m.get("unit", "")):
            problems.append(f"{name}: invalid unit {m.get('unit')!r}")
        if m.get("better") not in ("lower", "higher"):
            problems.append(f"{name}: better must be lower or higher")
        if bounded:
            b = m.get("bound")
            if not isinstance(b, (int, float)) or not 0 < b <= 0.25:
                problems.append(f"{name}: bound {b!r} not in (0, 0.25]")
    return problems
