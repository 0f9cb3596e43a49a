"""Statistics and record schema for the benchmark (pure functions, no I/O).

Every summary here is a plain order statistic, so it reads the same
however the samples were produced:

* ``geomean`` — the geometric mean of positive samples;
* ``median`` and ``quartiles`` (``statistics.quantiles(n=4)``, the
  default exclusive method), and ``spread`` = (Q3 - Q1) / median;
* ``tail`` — the highest whole percentile that still has at least
  ``min_beyond`` samples strictly above it, reported with the
  percentile and the sample count (so a p90 of 12 samples is never
  claimed);
* ``growth`` — median of the last quarter of a series over the median
  of its first quarter (1.0 = flat);
* ``regressed`` — the bound rule: the new median is worse than the
  parent's by more than ``bound`` as a share of the parent's median.
"""
import math
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean(values):
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartiles(values):
    """(Q1, Q2, Q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, _, q3 = quartiles(values)
    m = median(values)
    return (q3 - q1) / m if m else math.inf


def percentile(values, p):
    """Nearest-rank percentile, p in (0, 100]."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(values, min_beyond=10):
    """Highest whole percentile p with at least `min_beyond` samples
    strictly above its value: {"value", "percentile", "samples"}, or
    None when there are too few samples for any percentile >= 50."""
    for p in range(99, 49, -1):
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= min_beyond:
            return {"value": v, "percentile": p, "samples": len(values)}
    return None


def growth(series):
    """Median of the last quarter over the median of the first quarter
    (at least one sample each)."""
    if not series:
        raise ValueError("growth of no samples")
    q = max(1, len(series) // 4)
    first = median(series[:q])
    return median(series[-q:]) / first if first else math.inf


def regressed(parent_median, new_median, bound, better):
    """True when new_median is worse than parent_median by more than
    bound (a share of parent_median) in the metric's `better` direction."""
    if better == "lower":
        return new_median > parent_median * (1.0 + bound)
    if better == "higher":
        return new_median < parent_median * (1.0 - bound)
    raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")


RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


def check_result(result, bench, trace):
    """Problems with a result line against BENCHMARK.json (empty = valid).

    The metrics must be exactly the end_to_end metrics (trace 0) or the
    per_layer metrics (trace 1), each a finite number with the declared
    unit."""
    errs = []
    if tuple(sorted(result)) != tuple(sorted(RESULT_KEYS)):
        errs.append(f"keys {sorted(result)} != {sorted(RESULT_KEYS)}")
        return errs
    if not isinstance(result["correct"], bool):
        errs.append("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool):
            errs.append(f"{k} is not a whole number")
    if isinstance(result["attempted"], int) and result["attempted"] < 1:
        errs.append("attempted < 1")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(want):
        errs.append(f"metrics missing {sorted(set(want) - set(got))} "
                    f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if set(m) != {"value", "unit"}:
            errs.append(f"{name}: keys {sorted(m)}")
            continue
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            errs.append(f"{name}: value {v!r} is not a finite number")
        if name in want and m["unit"] != want[name]:
            errs.append(f"{name}: unit {m['unit']!r} != {want[name]!r}")
    return errs
