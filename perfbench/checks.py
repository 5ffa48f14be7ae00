"""Correctness checks run on every benchmark run.

Each check takes plain Python values collected after the timed window and
returns a list of failure messages (empty when it passes), so the checks
run and are tested without Spark.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from tools.diffcheck import _normalize


def check_rows(table: str, counted: int, expected: int) -> list[str]:
    """Rows the server counted in inflated bodies vs valid rows generated."""
    if counted != expected:
        return [f"{table}: server counted {counted} rows, generated {expected} valid"]
    return []


def check_whole_rows(table: str, commas: int, rows: int, fields: int) -> list[str]:
    """Every row that reached the server has exactly `fields` fields."""
    if commas != rows * (fields - 1):
        return [f"{table}: {commas} commas in {rows} rows of {fields} fields"]
    return []


def check_no_dup_tokens(dropped: int) -> list[str]:
    if dropped:
        return [f"{dropped} insert(s) dropped as duplicate dedup tokens"]
    return []


def latest_state(events: list[tuple], before_seq: int | None = None
                 ) -> dict[str, tuple[dt.date, str]]:
    """filename -> (create_date, status) of its highest-seq event, over the
    events (filename, create_date, status, seq, batch_id) with
    seq < `before_seq` — the registry's latest-wins rule."""
    best: dict[str, tuple] = {}
    for name, date, status, seq, _ in events:
        if before_seq is not None and seq >= before_seq:
            continue
        if name not in best or seq > best[name][2]:
            best[name] = (date, status, seq)
    return {n: (d, s) for n, (d, s, _) in best.items()}


def unfinished(state: dict[str, tuple[dt.date, str]], names) -> list[str]:
    """Generated files that are not FINISHED in the registry state."""
    return [n for n in names if state.get(n, (None, "missing"))[1] != "FINISHED"]


def cleanup_eligible(events: list[tuple], cleanup_cycles: list[int],
                     today: str) -> set[str]:
    """Files the retention rule makes deletable in the given cleanup cycles.

    A cycle `c` cleans against the state after its own upload (all events
    with seq < 10 * (c + 1)). It is skipped when the FINISHED dates span one
    day or their minimum is today or yesterday; otherwise every FINISHED
    file dated before (latest FINISHED date - 1 day) is eligible."""
    day = dt.date.fromisoformat(today)
    out: set[str] = set()
    for c in cleanup_cycles:
        done = {n: d for n, (d, s) in latest_state(events, 10 * (c + 1)).items()
                if s == "FINISHED"}
        if not done:
            continue
        lo, hi = min(done.values()), max(done.values())
        if lo == hi or lo == day or lo + dt.timedelta(days=1) == day:
            continue
        cutoff = hi - dt.timedelta(days=1)
        out.update(n for n, d in done.items() if d < cutoff)
    return out


def check_cleanup(deleted: set[str], eligible: set[str], reported: int
                  ) -> list[str]:
    """Cleanup removed exactly the eligible files and said how many."""
    out = []
    if deleted != eligible:
        extra, missed = sorted(deleted - eligible), sorted(eligible - deleted)
        out.append(f"cleanup deleted {len(extra)} ineligible file(s) "
                   f"{extra[:3]} and kept {len(missed)} eligible {missed[:3]}")
    if reported != len(deleted):
        out.append(f"cleanup reported {reported} deletions, {len(deleted)} files gone")
    return out


def check_frame(key: str, got, want) -> list[str]:
    """A query result (pandas) equals its oracle's exactly, in any row
    order — the repo's differential gate (`tools/diffcheck.py`)."""
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        return [f"{key}: columns {list(g.columns)} != oracle {list(w.columns)}"]
    if len(g) != len(w):
        return [f"{key}: {len(g)} rows != oracle {len(w)}"]
    try:
        pd.testing.assert_frame_equal(g, w)
    except AssertionError as exc:
        return [f"{key}: " + " ".join(str(exc).split())[:300]]
    return []
