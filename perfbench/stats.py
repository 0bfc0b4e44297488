"""Summary statistics, the output-check comparison and the run tally."""

from __future__ import annotations

import math
import statistics

# A p90 has 10% of its samples beyond it; below 100 samples that is
# fewer than ten, too few for the percentile to repeat run to run.
MIN_P90_SAMPLES = 100


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    """90th percentile, refused below MIN_P90_SAMPLES samples."""
    if len(xs) < MIN_P90_SAMPLES:
        raise ValueError(
            f"p90 needs at least {MIN_P90_SAMPLES} samples, got {len(xs)}"
        )
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def canon(v):
    """One value in the form the oracle rehearsal compares
    (scripts/rehearse_driver_gate.py): NaN as a token, numpy scalars as
    Python values, everything else as is."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(v)
    if hasattr(v, "item"):
        return canon(v.item())
    return v


def _row_key(row):
    return tuple((x is None, str(x)) for x in row)


def canon_rows(columns, rows) -> list[tuple]:
    """Rows as canonical tuples, columns in name order, rows sorted, so
    two engines' results compare equal whatever their column or row
    order."""
    idx = [columns.index(c) for c in sorted(columns)]
    return sorted(
        (tuple(canon(r[i]) for i in idx) for r in rows), key=_row_key
    )


class Tally:
    """Operations attempted and failed in one run; a failed output
    check counts as a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok
