"""Order statistics and metric-name rules shared by the runner and its tests."""
import math
import re

# A metric name: letters, digits, '_', '.', '-'; starts with a letter or digit.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between closest
    ranks (numpy's default method). Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def valid_name(name):
    return bool(NAME_RE.match(name))
