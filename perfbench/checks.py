"""Output checks shared by the workloads.

Registry results are compared with their DuckDB oracle using the strict
``canon`` form of ``scripts/parity.py``: columns sorted by name, rows
sorted, every value compared as its ``str()`` with no float rounding.
"""

from __future__ import annotations

import functools
import importlib.util
import os
from collections.abc import Sequence


@functools.cache
def _canon():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_parity_canon", os.path.join(root, "scripts", "parity.py"))
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    return parity.canon


def compare(got_cols: Sequence[str], got_rows: Sequence[tuple],
            want_cols: Sequence[str], want_rows: Sequence[tuple]) -> str | None:
    """None when the result equals the oracle's, else what differs."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    canon = _canon()
    got, want = canon(got_rows, list(got_cols)), canon(want_rows, list(want_cols))
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    if bad:
        return f"{len(bad)} rows differ, first {bad[0][0]} != {bad[0][1]}"
    return None
