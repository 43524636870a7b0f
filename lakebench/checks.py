"""Output checks.  Each check returns an error string, or None when the
program's output is correct; :class:`Ops` counts an operation as failed
when it raised or its check returned an error."""

from __future__ import annotations

import hashlib
import sys
from decimal import Decimal


class Ops:
    """Attempted/failed operation counts for one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.errors: list[str] = []

    def record(self, op: str, error: str | None) -> bool:
        self.attempted += 1
        if error is not None:
            self.errors.append(f"{op}: {error}")
            print(f"# FAILED {op}: {error}", file=sys.stderr)
        return error is None

    @property
    def failed(self) -> int:
        return len(self.errors)

    @property
    def failed_frac(self) -> float:
        return self.failed / max(1, self.attempted)


def result_hash(cols: list[str], rows: list[tuple], norm_rows) -> str:
    """Order-insensitive hash of a query result, canonicalized by the
    same ``norm_rows`` the repository's oracle harness uses."""
    return hashlib.sha256(repr(norm_rows(list(cols), [tuple(r) for r in rows])).encode()).hexdigest()


def check_query(cols, rows, expected: str, norm_rows) -> str | None:
    got = result_hash(cols, rows, norm_rows)
    return None if got == expected else f"result hash {got[:12]} != oracle {expected[:12]} ({len(rows)} rows)"


def check_ingest(added: list[tuple], expected: list[tuple]) -> str | None:
    """``added``: (folder, name, size, mtime, sha256) for every log row
    the run appended; ``expected``: the generator's change set manifest."""
    added = sorted(added)
    if added == expected:
        return None
    missing = sorted(set(expected) - set(added))
    extra = sorted(set(added) - set(expected))
    return f"log delta {len(added)} rows vs {len(expected)} expected; missing {missing[:2]} extra {extra[:2]}"


def silver_expectation(frame) -> dict[int, tuple[int, Decimal]]:
    """Per-year (row count, exact price sum) of an expected-state frame."""
    cents = (frame["o_totalprice"] * 100).round().astype("int64")
    by = cents.groupby(frame["order_year"]).agg(["count", "sum"])
    return {int(y): (int(r["count"]), Decimal(int(r["sum"])) / 100) for y, r in by.iterrows()}


def check_silver(rows: list[tuple], expected: dict[int, tuple[int, Decimal]]) -> str | None:
    """``rows``: (year, count, distinct keys, decimal price sum) per year
    as read back from the silver table."""
    got = {}
    for year, n, n_keys, total in rows:
        if n != n_keys:
            return f"year {year}: {n} rows but {n_keys} distinct keys"
        got[int(year)] = (int(n), Decimal(total).quantize(Decimal("0.01")))
    want = {y: (n, s.quantize(Decimal("0.01"))) for y, (n, s) in expected.items()}
    if got == want:
        return None
    bad = sorted(y for y in set(got) | set(want) if got.get(y) != want.get(y))
    return f"years {bad}: got {[got.get(y) for y in bad][:2]} want {[want.get(y) for y in bad][:2]}"
