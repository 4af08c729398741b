"""Scalar string-distance references for the ``score_bulk`` output check.

Written from the textbook definitions, independently of the package's own
kernels, so that a change to the vectorized scorers is checked against code
it cannot have changed.
"""

from __future__ import annotations


def osa(a: str, b: str) -> float:
    """Optimal string alignment distance: insertions, deletions,
    substitutions and transpositions of adjacent characters, with no
    substring edited twice."""
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            best = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                best = min(best, d[i - 2][j - 2] + 1)
            d[i][j] = best
    return float(d[la][lb])


def jaro(a: str, b: str) -> float:
    """Jaro similarity in [0, 1]."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(max(la, lb) // 2 - 1, 0)
    used = [False] * lb
    a_hits = []
    for i, ch in enumerate(a):
        for j in range(max(0, i - window), min(lb, i + window + 1)):
            if not used[j] and b[j] == ch:
                used[j] = True
                a_hits.append(ch)
                break
    m = len(a_hits)
    if m == 0:
        return 0.0
    b_hits = [b[j] for j in range(lb) if used[j]]
    half_transpositions = sum(x != y for x, y in zip(a_hits, b_hits))
    t = half_transpositions // 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler_dist(a: str, b: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """``1 - Jaro-Winkler similarity`` with prefix scale ``p``."""
    sim = jaro(a, b)
    prefix = 0
    for x, y in zip(a[:max_prefix], b[:max_prefix]):
        if x != y:
            break
        prefix += 1
    return 1.0 - (sim + prefix * p * (1.0 - sim))


def jaccard_dist(a: str, b: str, q: int = 2) -> float:
    """Set jaccard distance over the full-length ``q``-grams of each string;
    two empty sets are at distance 0."""
    ga = {a[i : i + q] for i in range(len(a) - q + 1)}
    gb = {b[i : i + q] for i in range(len(b) - q + 1)}
    union = len(ga | gb)
    return 0.0 if union == 0 else 1.0 - len(ga & gb) / union
