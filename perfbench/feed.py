"""Workload definitions and the open-loop GeoJSON feed generator.

Run as a process (`python3 feed.py <workload> <seed> <feed_dir>
<live_seconds> [<copy_dir>]`), the generator uses one thread:

1. it writes the backlog, each file published atomically (write to a
   dot-file, set its mtime, rename), then prints one JSON line and waits
   for a line on stdin;
2. on that line it runs the live phase as an open loop: every
   `FILE_MS` it publishes one file with every event whose due time has
   passed, whether or not the consumer keeps up;
3. it prints a JSON report (due-time schedule, lateness, feed hash) and
   exits.

Event `i` of the live phase is due at `t_start + i / rate`; backlog events
are due when the backlog is published. The report carries those times, so
every event's due time is known to the checker without being written into
the feed, which keeps the lines send.py-shaped.

The checker imports `events()` to replay the same (class, event time)
stream from the seed; the cosmetic fields come from a second random
stream so the replay never formats a line.
"""

import hashlib
import json
import os
import random
import sys
import time

FILE_MS = 50
MAX_FILES_PER_TRIGGER = 40
T0_US = 1600075200 * 1_000_000  # 2020-09-14T09:20:00Z, the repo's fixture epoch
RAILWAY_CLASSES = ["11", "12", "13", "14", "15", "16", "17", "18"]

# job: which pipeline the JVM side composes (see PipelineBench.scala).
# size_s: window length (tumble) or trailing frame (sliding).
# spacing_us: event-time step between consecutive events; together with
#   rate it sets the event-time compression (spacing_us * rate / 1e6).
# rate: offered live rate in events per wall-clock second, about a third of
#   what the pipeline sustains, so that latency does not include a growing
#   queue even when the machine is slowed by its neighbours.
# backlog / file_lines: catch-up backlog size and lines per backlog file;
#   with MAX_FILES_PER_TRIGGER this makes 4 (tumble) or 3 (sliding) batches.
# backfill_reps: batch backfills per run, median reported (a tumbling
#   backfill takes ~1.5 s, too short for one sample to be steady).
WORKLOADS = {
    # 1-min windows close every 50 ms of wall time, 8 rows each
    "tumble_8class": dict(
        job="tumble", size_s=60, spacing_us=200_000, rate=6_000, backlog=192_000,
        file_lines=1_200, backfill_reps=3),
    # each key's 30-min frame holds ~1900 timestamps once the backlog is in
    "sliding30m_8class": dict(
        job="sliding", size_s=1800, spacing_us=120_000, rate=1_000, backlog=24_000,
        file_lines=200, backfill_reps=1),
}

_N02_002 = ["1", "2", "3", "4", "5"]
_LINES = ["joetsu-shinkansen", "kyushu-shinkansen", "hokkaido-shinkansen",
          "hokuriku-shinkansen", "sanyo-shinkansen", "tohoku-shinkansen",
          "tokaido-shinkansen"]
_OPERATORS = ["jr-east", "jr-west"]


def events(spec, seed, count):
    """Yield `count` (class, event_time_us) pairs in event-time order, one
    send.py railway class each; same seed, same stream. Event times are
    strictly increasing, so no two events share a timestamp."""
    rng = random.Random(f"{seed}:events")
    n = len(RAILWAY_CLASSES)
    for i in range(count):
        yield RAILWAY_CLASSES[int(rng.random() * n)], T0_US + i * spec["spacing_us"]


class LineWriter:
    """Formats send.py-shaped Feature lines and publishes them as files."""

    def __init__(self, seed):
        self.rng = random.Random(f"{seed}:cosmetic")
        self.sec_cache = (None, "")
        self.digest = hashlib.sha256()

    def _iso(self, t_us):
        sec, us = divmod(t_us, 1_000_000)
        if self.sec_cache[0] != sec:
            self.sec_cache = (sec, time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)))
        return f"{self.sec_cache[1]}.{us:06d}"

    def line(self, cls, t_us):
        r = self.rng
        n2 = r.choice(_N02_002)
        return ('{"type":"Feature","properties":{"RECEIVED_ON":"%s","N02_001":"%s",'
                '"N02_002":"%s","N02_003":"%s","N02_004":"%s","ID":"%s_%d","COUNT":%d}}'
                % (self._iso(t_us), cls, n2, r.choice(_LINES), r.choice(_OPERATORS),
                   n2, r.randint(1, 101), r.randint(10, 20)))

    def publish(self, dirs, name, batch, mtime_s):
        data = ("\n".join(self.line(c, t) for c, t in batch) + "\n").encode()
        self.digest.update(data)
        for d in dirs:
            tmp = os.path.join(d, "." + name)
            with open(tmp, "wb") as f:
                f.write(data)
            # the file source orders new files by mtime: make it strictly
            # increasing in publication order
            os.utime(tmp, (mtime_s, mtime_s))
            os.rename(tmp, os.path.join(d, name))


def main(argv):
    workload, seed, feed_dir, live_s = argv[:4]
    copy_dirs = argv[4:]
    spec, seed, live_s = WORKLOADS[workload], int(seed), float(live_s)
    rate = spec["rate"]
    n_backlog, n_live = spec["backlog"], int(rate * live_s)
    for d in [feed_dir, *copy_dirs]:
        os.makedirs(d, exist_ok=True)

    out = LineWriter(seed)
    stream = events(spec, seed, n_backlog + n_live)
    base = time.time() - 3600  # backlog mtimes: 1 ms apart, in the past
    files = 0
    for k in range(0, n_backlog, spec["file_lines"]):
        batch = [next(stream) for _ in range(min(spec["file_lines"], n_backlog - k))]
        out.publish([feed_dir, *copy_dirs], f"back-{files:05d}.json", batch, base + files / 1000)
        files += 1
    backlog_ms = time.time() * 1000
    print(json.dumps({"backlog_events": n_backlog, "backlog_files": files}), flush=True)
    sys.stdin.readline()

    # open loop: the schedule never waits for the consumer
    t_start = time.time()
    sent, tick, late_ms = 0, 0, []
    while sent < n_live:
        tick += 1
        due_s = t_start + tick * FILE_MS / 1000
        now = time.time()
        if now < due_s:
            time.sleep(due_s - now)
        now = time.time()
        upto = min(n_live, int((now - t_start) * rate) + 1)
        if upto <= sent:
            continue
        batch = [next(stream) for _ in range(upto - sent)]
        # lateness of the file's last event: publication minus its due time
        out.publish([feed_dir], f"live-{tick:06d}.json", batch, now)
        late_ms.append((time.time() - (t_start + (upto - 1) / rate)) * 1000)
        sent = upto
    late_ms.sort()
    print(json.dumps({
        "backlog_events": n_backlog, "live_events": n_live, "rate": rate,
        "backlog_published_ms": backlog_ms, "live_start_ms": t_start * 1000,
        "live_end_ms": time.time() * 1000, "live_files": len(late_ms),
        "late_ms_p50": late_ms[len(late_ms) // 2] if late_ms else 0.0,
        "late_ms_p99": late_ms[int(len(late_ms) * 0.99)] if late_ms else 0.0,
        "late_ms_max": late_ms[-1] if late_ms else 0.0,
        "feed_sha256": out.digest.hexdigest()}), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
