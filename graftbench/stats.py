"""Statistics the benchmark reports, kept apart so they can be tested."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    """Metric and workload names: a letter or digit, then up to 63 of
    letters, digits, `_`, `.` and `-`."""
    return bool(NAME_RE.match(name))


def median(values):
    """Median; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them
    (the 'exclusive' method); a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median (0 for one value)."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def tail(values, beyond=10):
    """The highest percentile that leaves at least `beyond` samples above
    it: the sample at rank n - beyond - 1 of the sorted values.

    Returns (value, percentile, n). With 100 samples that is p90. With
    `beyond` samples or fewer no percentile qualifies, and the maximum is
    returned with percentile 100."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no values")
    s = sorted(values)
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond - 1
    return s[k], 100.0 * (k + 1) / n, n


def wins(a_values, b_values, better="lower"):
    """Pairs in which B beats A, pairs in which A beats B, and pairs run.
    Ties count for neither side."""
    b_win = a_win = 0
    for a, b in zip(a_values, b_values):
        if a == b:
            continue
        if (b < a) == (better == "lower"):
            b_win += 1
        else:
            a_win += 1
    return b_win, a_win, min(len(a_values), len(b_values))


def verdict(a_values, b_values, better, bound, win_share=0.9):
    """Verdict on change B against parent A for one metric.

    - "improved": B wins at least `win_share` of all pairs run (ties count
      for neither) and the medians differ, in B's favour, by more than
      A's own inter-quartile distance;
    - "unresolved": A's run-to-run spread is wider than the bound, so a
      worsening within it cannot be excluded, unless every B run reads
      better than every A run;
    - "worse": B's median is worse than A's by more than the bound;
    - "no worse": otherwise.
    """
    b_win, _, pairs = wins(a_values, b_values, better)
    a_q1, a_med, a_q3 = quartiles(a_values)
    b_med = median(b_values)
    gain = (a_med - b_med) if better == "lower" else (b_med - a_med)
    if pairs and b_win >= win_share * pairs and gain > (a_q3 - a_q1):
        return "improved"
    if better == "lower":
        all_better = max(b_values) < min(a_values)
    else:
        all_better = min(b_values) > max(a_values)
    if spread(a_values) > bound and not all_better:
        return "unresolved"
    if -gain > bound * abs(a_med):
        return "worse"
    return "no worse"
