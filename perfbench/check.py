"""Reference checker: expected results from the generated feed, in plain
Python (no Spark), compared row by row with what the pipeline wrote.

Semantics reproduced:
- tumbling/hopping counts over epoch-aligned [start, end) windows; a
  streaming run emits a window once some event has event time at or past
  `end + delay` (the watermark), so the last open windows are never
  emitted; a batch run emits every window;
- per-row trailing count over RANGE `frame` PRECEDING: for each event,
  the events of its key with `t - frame <= ts <= t`, peers included; one
  row per (key, ts).

`python3 check.py` runs the hand-built cases at the bottom.
"""

import bisect
from collections import defaultdict


def window_starts(t, size, slide):
    start = t - t % slide
    while start > t - size:
        yield start
        start -= slide


def window_counts(evs, size, slide):
    """evs: (key, t_us) in feed order. Every window's count, as a batch
    run emits them: {(key, start, end): count}."""
    counts = defaultdict(int)
    for key, t in evs:
        for s in window_starts(t, size, slide):
            counts[(key, s, s + size)] += 1
    return dict(counts)


def closed(counts, evs, delay):
    """The windows a streaming run has emitted once it has read `evs`:
    those the final watermark (max event time - delay) has passed."""
    watermark = max(t for _, t in evs) // 1000 * 1000 - delay  # Spark keeps event time in ms
    return {w: c for w, c in counts.items() if w[2] <= watermark}


def window_ready(evs, dues, size, slide, delay, windows):
    """ready_at for each window: the later of the due time of its last
    contributing event and that of the first event at or past
    end + delay."""
    last_due = {}
    for (key, t), due in zip(evs, dues):
        for s in window_starts(t, size, slide):
            last_due[(key, s, s + size)] = due
    ends = sorted({w[2] for w in windows})
    closer, j, max_t = {}, 0, None
    for (_, t), due in zip(evs, dues):
        max_t = t if max_t is None else max(max_t, t)
        while j < len(ends) and max_t >= ends[j] + delay:
            closer[ends[j]] = due
            j += 1
    return {w: max(last_due[w], closer[w[2]]) for w in windows}


def sliding_counts(evs, frame):
    """{(key, ts): trailing count} with RANGE peers included."""
    by_key = defaultdict(list)
    for key, t in evs:
        by_key[key].append(t)
    out = {}
    for key, ts in by_key.items():
        ts.sort()
        for t in ts:
            out[(key, t)] = bisect.bisect_right(ts, t) - bisect.bisect_left(ts, t - frame)
    return out


def compare(expected, got):
    """got: {row key: count} as read back. Returns (missing, wrong, extra)."""
    missing = sum(1 for k in expected if k not in got)
    wrong = sum(1 for k, c in expected.items() if k in got and got[k] != c)
    extra = sum(1 for k in got if k not in expected)
    return missing, wrong, extra


def _self_test():
    m = 60_000_000
    def streamed(evs, size, slide, delay):
        return closed(window_counts(evs, size, slide), evs, delay)
    # window boundary: t = end belongs to the next window only
    assert streamed([("a", 0), ("a", m - 1), ("a", m), ("a", 2 * m)], m, m, 0) == {
        ("a", 0, m): 2, ("a", m, 2 * m): 1}
    # the last open window is never emitted in streaming, always in batch
    assert streamed([("a", 2 * m)], m, m, 0) == {}
    assert window_counts([("a", 2 * m)], m, m) == {("a", 2 * m, 3 * m): 1}
    # hopping: an event lands in size/slide windows
    assert streamed([("a", 45_000_000), ("a", 200 * m)], m, m // 2, 0) == {
        ("a", 0, m): 1, ("a", m // 2, 3 * m // 2): 1}
    # displaced events inside the delay still count, and the window closes
    # only once an event reaches end + delay
    d = 10_000_000
    evs = [("a", 50_000_000), ("a", 61_000_000), ("a", 55_000_000), ("a", m + d - 1)]
    assert streamed(evs, m, m, d) == {}
    evs.append(("b", m + d))
    assert streamed(evs, m, m, d) == {("a", 0, m): 2}
    dues = [1, 2, 3, 4, 5]
    assert window_ready(evs, dues, m, m, d, [("a", 0, m)]) == {("a", 0, m): 5}
    # ready_at is the last contributor when it comes after the closer
    assert window_ready([("a", 0), ("b", m), ("a", 1)], [1, 2, 3], m, m, 0,
                        [("a", 0, m)]) == {("a", 0, m): 3}
    # equal-timestamp peers see each other; frame start is inclusive
    f = 1800 * 1_000_000
    got = sliding_counts([("a", 0), ("a", 5), ("a", 5), ("a", f + 5), ("b", 5)], f)
    assert got == {("a", 0): 1, ("a", 5): 3, ("a", f + 5): 3, ("b", 5): 1}
    assert compare({1: 1, 2: 2, 3: 3}, {1: 1, 2: 5, 4: 1}) == (1, 1, 1)
    print("check.py self-test: 10 cases ok")


if __name__ == "__main__":
    _self_test()
