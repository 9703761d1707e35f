"""Independent oracle: expected per-sink counts from the generated
pandas input, with plain regexes written here rather than imported
from ``sparkcollector.parse`` — a parse or routing regression cannot
also move the expectation.

Routing is the default first-match-wins rule set: a span marker goes
to ``traces``; a tool call on a real tool goes to ``metrics``;
everything else (with or without a severity) goes to ``events``.
"""

from __future__ import annotations

import pandas as pd

SINKS = ("metrics", "events", "traces")

_SPAN = r"span id=[0-9a-f]{16} parent=(?:[0-9a-f]{16}|-) op=\w+"
_CALL = r"CALL \w+\(args=[^)]*\) -> status=\w+ dur=\d+ms"


def expected_sinks(turns: pd.DataFrame) -> dict[str, int]:
    """Rows each sink must receive for ``turns``."""
    span = turns["text"].str.contains(_SPAN, regex=True)
    call = turns["text"].str.contains(_CALL, regex=True) & (turns["tool"] != "none")
    traces = int(span.sum())
    metrics = int((call & ~span).sum())
    return {"metrics": metrics, "events": len(turns) - traces - metrics, "traces": traces}


def add_counts(a: dict[str, int], b: dict[str, int]) -> dict[str, int]:
    return {s: a.get(s, 0) + b.get(s, 0) for s in SINKS}


def committed_sinks(snapshots) -> dict[str, int]:
    """Per-sink rows recorded by routed-table commits (``sink`` is the
    partition value of each committed file)."""
    got = dict.fromkeys(SINKS, 0)
    for snap in snapshots:
        for f in snap.files:
            got[f["sink"]] = got.get(f["sink"], 0) + f["rows"]
    return got


def committed_agg_total(snapshots) -> int:
    """Sum of ``n`` over the files of ``agg_counts`` commits, read with
    pyarrow so the check needs no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        int(pq.read_table(f["path"], columns=["n"]).column("n").to_numpy().sum())
        for snap in snapshots
        for f in snap.files
    )


def mismatches(expected: dict[str, int], got_sinks: dict[str, int],
               got_total: int, agg_total: int | None) -> list[str]:
    """Human-readable differences between a commit and the oracle;
    empty when the op is correct."""
    want_total = sum(expected.values())
    out = [
        f"sink {s}: {got_sinks.get(s, 0)} rows, expected {expected[s]}"
        for s in SINKS
        if got_sinks.get(s, 0) != expected[s]
    ]
    extra = set(got_sinks) - set(SINKS)
    if extra:
        out.append(f"unexpected sinks {sorted(extra)}")
    if got_total != want_total:
        out.append(f"total {got_total} rows, expected {want_total}")
    if agg_total is not None and agg_total != want_total:
        out.append(f"agg_counts sums to {agg_total}, expected {want_total}")
    return out
