"""Minimal special-function kit: Student-t p-values + Benjamini-Hochberg.

scipy is absent in this sandbox, so the regularized incomplete beta
function is implemented directly (Lentz's continued fraction, the
classic public formulation used by every stats library). Used by the
checkRelevance analog (tsraster/calculate.py:366-423 delegates to
tsfresh's per-feature hypothesis tests + FDR).
"""

from __future__ import annotations

import math


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (modified Lentz): at
    most 200 terms, stopping once a term changes the product by < 3e-14."""
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < 1e-300:
        d = 1e-300
    d = 1.0 / d
    h = d
    for m in range(1, 201):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < 1e-300:
            d = 1e-300
        c = 1.0 + aa / c
        if abs(c) < 1e-300:
            c = 1e-300
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < 1e-300:
            d = 1e-300
        c = 1.0 + aa / c
        if abs(c) < 1e-300:
            c = 1e-300
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 3e-14:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1.0 - x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def t_sf_two_sided(t: float, df: float) -> float:
    """Two-sided p-value for a Student-t statistic."""
    if df <= 0:
        return float("nan")
    x = df / (df + t * t)
    return betainc_reg(df / 2.0, 0.5, x)


def pearson_p_value(r: float, n: int) -> float:
    """Two-sided p-value of Pearson r under H0: rho = 0 (t-test with
    n-2 df, the test tsfresh uses for real-valued target relevance)."""
    if n < 3 or r != r:
        return float("nan")
    r = max(min(r, 1.0 - 1e-15), -1.0 + 1e-15)
    t = r * math.sqrt((n - 2) / (1.0 - r * r))
    return t_sf_two_sided(t, n - 2)


def benjamini_hochberg(p_values: dict[str, float]) -> dict[str, bool]:
    """BH step-up procedure at FDR level 0.05 (the tsfresh default FDR
    control). NaN p-values are never relevant."""
    valid = [(k, p) for k, p in p_values.items() if p == p]
    # ties broken by key so the decision is engine-reproducible (the
    # DuckDB twin orders BY p_value, feature)
    valid.sort(key=lambda kv: (kv[1], kv[0]))
    m = len(valid)
    cutoff_rank = 0
    for i, (_, p) in enumerate(valid, start=1):
        if p <= 0.05 * i / m:
            cutoff_rank = i
    relevant = {k: (i <= cutoff_rank) for i, (k, _) in enumerate(valid, start=1)}
    return {k: relevant.get(k, False) for k in p_values}
