"""Sample statistics, the frame-offset → commit join and the pairing of
ticker spans into tick attempts."""

from __future__ import annotations

import bisect
import math

# Candidate tail percentiles, highest first.
TAIL_LADDER = (0.999, 0.99, 0.9, 0.75, 0.5)
MIN_BEYOND = 10


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples
    (the epsilon keeps 0.9 * 100 from rounding up to rank 91)."""
    return max(1, math.ceil(q * n - 1e-9))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(q, len(s)) - 1]


def tail_quantile(n: int) -> float | None:
    """The highest ladder percentile that leaves at least ten samples
    beyond it, or None when ``n`` supports none (fewer than 20)."""
    for q in TAIL_LADDER:
        if n > 0 and n - _rank(q, n) >= MIN_BEYOND:
            return q
    return None


def summarize(values) -> dict:
    """Median, tail and sample count. The tail is the highest percentile
    with at least ten samples beyond it; with fewer than 20 samples none
    above the median is supported, so the tail is the maximum and
    ``tail_q`` says so."""
    values = list(values)
    if not values:
        return {"n": 0, "p50": None, "tail": None, "tail_q": None}
    q = tail_quantile(len(values))
    return {"n": len(values), "p50": percentile(values, 0.5),
            "tail": percentile(values, q) if q else max(values),
            "tail_q": q if q else "max"}


def commit_for_offsets(epochs, n_frames: int) -> list:
    """Join each frame offset to the commit time of the first epoch
    whose end offset covers it.

    ``epochs``: (end_offset, commit_ms) pairs in batch order; a frame at
    offset ``i`` is covered by the first epoch with ``end_offset > i``.
    Returns one commit time per offset, None where no epoch covers it."""
    ends, commits = [], []
    for end, commit_ms in epochs:
        if ends and end <= ends[-1]:
            continue  # an epoch that admitted no new frames
        ends.append(end)
        commits.append(commit_ms)
    out = []
    for i in range(n_frames):
        k = bisect.bisect_right(ends, i)
        out.append(commits[k] if k < len(ends) else None)
    return out


def canon(v) -> str:
    """A result value as comparable text: floats by repr (NaN as one
    token), bytes as hex — the canonical form of tests/test_parity.py."""
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def split_snapshots(times, gap_s: float = 0.3) -> list[list[int]]:
    """Group one connection's receipt times into snapshots: a tick's
    records arrive back to back, ticks are at least a second apart.
    Returns lists of record indices."""
    groups: list[list[int]] = []
    last = None
    for i, t in enumerate(times):
        if last is None or t - last > gap_s:
            groups.append([])
        groups[-1].append(i)
        last = t
    return groups


def tick_attempts(spans) -> list[dict]:
    """One attempt per ticker iteration, in start order.

    An iteration reads the latest table (span ``serve.latest``) and, if
    that returned, runs the tick (span ``serve.tick``). The ticker runs
    one iteration at a time, so each tick belongs to the latest read
    just before it. An attempt fails if either call raised; ``error``
    is the first exception class."""
    calls = sorted((s for s in spans if s["name"] in ("serve.latest", "serve.tick")),
                   key=lambda s: s["start"])
    attempts: list[dict] = []
    for s in calls:
        if s["name"] == "serve.latest" or not attempts or attempts[-1]["tick"]:
            attempts.append({"start": s["start"], "end": s["end"],
                             "error": s.get("error"), "latest": None, "tick": None})
        a = attempts[-1]
        a["latest" if s["name"] == "serve.latest" else "tick"] = s
        a["end"] = s["end"]
        a["error"] = a["error"] or s.get("error")
    return attempts
