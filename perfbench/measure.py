"""Pure helpers: latency summaries and result comparison."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10
# Spark and DuckDB sum doubles in different orders, so results differ in
# their last bits: floats match within a relative 1e-9.
FLOAT_REL_TOL = 1e-9
# The registry's oracles round with FLOOR(x / step + 0.5) * step. A value
# that sits on a rounding boundary rounds either way under that float noise,
# so two results one rounding step apart also match, when the step is a
# decimal one (0.01 .. 0.0001) and small against the value.
ROUNDING_STEPS = (1e-2, 1e-3, 1e-4)
STEP_REL_MAX = 1e-2


def tail_rank(n: int) -> int | None:
    """0-based rank of the highest sample with at least ten samples beyond it.

    ``None`` when there are not enough samples for any such rank."""
    r = n - 1 - TAIL_MIN_BEYOND
    return r if r >= 0 else None


def latency_summary(latencies: list[float]) -> dict:
    """Median, the tail value, which percentile it is, and the sample count.

    The tail is the nearest-rank percentile of ``tail_rank``. With ten
    samples or fewer no percentile has ten beyond it; the maximum is
    reported then, as percentile 100."""
    xs = sorted(latencies)
    n = len(xs)
    r = tail_rank(n)
    if r is None:
        r = n - 1
    return {
        "p50": statistics.median(xs),
        "tail": xs[r],
        "tail_pct": round(100.0 * (r + 1) / n, 2),
        "n": n,
    }


def _cell(value):
    if value is None:
        return None
    if isinstance(value, bool):
        return float(value)
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else value
    if isinstance(value, int):
        return value
    return str(value)


def _order_cell(x):
    # numbers before text before NULL; floats order by 6 significant digits,
    # so float noise never reorders rows
    if x is None:
        return (2, 0)
    if isinstance(x, str):
        return (1, x)
    return (0, float(f"{x:.6g}") if isinstance(x, float) else x)


def _order_key(row: tuple) -> tuple:
    return tuple(map(_order_cell, row))


def canonical(rows, columns) -> list[tuple]:
    """Rows with columns in name order, cells normalized, rows sorted.

    Same rules as the oracle-parity test: NULL stays NULL, NaN becomes a
    marker, bools compare as floats, everything else not numeric as text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(row[i]) for i in order) for row in rows]
    return sorted(out, key=_order_key)


def _on_step(x: float, step: float) -> bool:
    return math.isclose(x / step, round(x / step), abs_tol=1e-6)


def _one_step_apart(a: float, b: float) -> bool:
    d = abs(a - b)
    return any(
        math.isclose(d, step, rel_tol=1e-6)
        and d <= STEP_REL_MAX * max(abs(a), abs(b))
        and _on_step(a, step)
        and _on_step(b, step)
        for step in ROUNDING_STEPS
    )


def _same_cell(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_REL_TOL) or (
            isinstance(a, float) and isinstance(b, float) and _one_step_apart(a, b)
        )
    return a == b


def same_result(rows_a, cols_a, rows_b, cols_b) -> bool:
    """Order-insensitive equality of two result sets, floats within tolerance."""
    cols_a = [c.lower() for c in cols_a]
    cols_b = [c.lower() for c in cols_b]
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    for ra, rb in zip(canonical(rows_a, cols_a), canonical(rows_b, cols_b)):
        if len(ra) != len(rb) or not all(_same_cell(x, y) for x, y in zip(ra, rb)):
            return False
    return True
