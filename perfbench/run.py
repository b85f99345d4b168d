"""Railway-pipeline benchmark: one command per workload run.

    python3 perfbench/run.py --workload tumble_8class --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program with the benchmark's
JVM side (build.py), starts the feed generator (feed.py) and one Spark JVM
(src/PipelineBench.scala), runs catch-up, live and backfill, checks every
sink table against the reference (check.py) and prints each metric by name
and unit, then one JSON line. `--trace 1` reports the per-layer metrics
instead and writes spans and per-layer metrics to perfbench/out/<workload>/.
Exits non-zero on any result mismatch. See NOTES.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import feed  # noqa: E402

END_TO_END = {"setup_s": "s", "catch_up_eps": "events/s", "latency_p50_s": "s",
              "latency_p99_s": "s", "backfill_eps": "events/s", "live_heap_mb": "MB"}
PER_LAYER = {
    "sources.read_s": "s", "sources.list_ms_p50": "ms", "sources.input_rows": "count",
    "sources.lag_events_end": "count",
    "ingest.parse_s": "s", "ingest.parse_eps": "events/s",
    "ops.window_s": "s", "ops.out_rows": "count", "ops.shuffle_write_bytes": "bytes",
    "ops.reduce_skew": "ratio",
    "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.commit_ms_p50": "ms",
    "streaming.state_rows_max": "count", "streaming.state_bytes_max": "bytes",
    "streaming.state_commit_ms_p50": "ms", "streaming.state_update_ms": "ms",
    "streaming.dropped_by_watermark": "count",
    "upsert_sink.write_s": "s", "upsert_sink.rows_written": "count",
    "upsert_sink.batch_ms_p50": "ms", "upsert_sink.upserts_per_result": "ratio",
    "loadgen.late_ms_p99": "ms", "loadgen.events": "count",
    "baseline.catch_up_eps": "events/s", "baseline.catch_up_eps_1core": "events/s",
    "trace.overhead_ratio": "ratio",
}
DEADLINE_S = 175
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def pct(xs, p):
    """The p-quantile by rank, with the count of samples above it."""
    s = sorted(xs)
    i = min(len(s) - 1, int(p * len(s)))
    return s[i], len(s) - 1 - i


def read_table(path, sliding):
    """{row key: (count, written_at_ms)} from a JVM table dump."""
    out = {}
    with open(path) as f:
        for line in f:
            k, cnt, a, b, written = line.rstrip("\n").split("\t")
            key = (k, int(a)) if sliding else (k, int(a), int(b))
            out[key] = (int(cnt), int(written))
    return out


def expected_rows(spec, evs):
    """(rows a streaming run must have written after `evs`, rows a batch run writes)."""
    size = spec["size_s"] * 1_000_000
    if spec["job"] == "sliding":
        rows = check.sliding_counts(evs, size)
        return rows, rows
    every = check.window_counts(evs, size, size)
    return check.closed(every, evs, 0), every


def ready_times(spec, evs, dues, rows):
    """ready_at (epoch ms) per streamed result row: the event's own due
    time for per-row results, the window's for window results."""
    if spec["job"] == "sliding":
        return dict(zip(evs, dues))
    size = spec["size_s"] * 1_000_000
    return check.window_ready(evs, dues, size, size, 0, rows)


def self_times(spans):
    """Per span name: count, total ms, and self ms (duration minus the
    part its children cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_ms"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                end = hi
        dur = s["end_ms"] - s["start_ms"]
        agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["count"] += 1
        agg["total_ms"] += dur
        agg["self_ms"] += dur - covered
    return out


class Deadline(Exception):
    pass


def _alarm(*_):
    raise Deadline()


def run(args, procs, work, cp):
    spec = feed.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(work, k) for k in ("feed", "replay", "jvm", "tmp")}
    for d in ("jvm", "tmp"):
        os.makedirs(dirs[d])
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"

    t_run = time.time()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "feed.py"), args.workload, str(args.seed),
         dirs["feed"], str(args.seconds)] + ([dirs["replay"]] if args.trace else []),
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    procs.append(gen)
    json.loads(gen.stdout.readline())  # backlog published
    t_jvm = time.time()

    log = open(os.path.join(work, "jvm.log"), "w")
    jvm = subprocess.Popen(
        ["java", *JVM_OPTS, f"-Djava.io.tmpdir={dirs['tmp']}",
         f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
         "-cp", cp, "perfbench.PipelineBench",
         f"job={spec['job']}", f"size_s={spec['size_s']}", f"backlog={spec['backlog']}",
         f"feed={dirs['feed']}", f"replay={dirs['replay']}", f"out={dirs['jvm']}", f"cores={cores}",
         f"max_files={feed.MAX_FILES_PER_TRIGGER}", f"backfill_reps={spec['backfill_reps']}",
         f"trace={args.trace}", f"run_id={run_id}"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log, text=True)
    procs.append(jvm)

    def await_line(marker):
        for line in jvm.stdout:
            if line.strip() == marker:
                return
        jvm.wait()
        log.flush()
        sys.stderr.write(open(log.name).read()[-6000:])
        sys.exit(f"perfbench: JVM exited with code {jvm.returncode} before {marker}")

    await_line("@@CATCHUP_DONE")
    gen.stdin.write("go\n")
    gen.stdin.flush()
    g = json.loads(gen.stdout.readline())
    gen.wait()
    jvm.stdin.write(f"go {g['backlog_events'] + g['live_events']}\n")
    jvm.stdin.flush()
    await_line("@@DONE")
    jvm.wait()
    t_check = time.time()
    with open(os.path.join(dirs["jvm"], "jvm.json")) as f:
        j = json.load(f)

    # ---- reference check -------------------------------------------------
    n_b, n_l = g["backlog_events"], g["live_events"]
    evs = list(feed.events(spec, args.seed, n_b + n_l))
    dues = [g["backlog_published_ms"]] * n_b + [
        g["live_start_ms"] + i * 1000.0 / g["rate"] for i in range(n_l)]
    sliding = spec["job"] == "sliding"
    streamed, batch = expected_rows(spec, evs)
    ready = ready_times(spec, evs, dues, streamed)
    tables = {"results": streamed, "backfill": batch}
    tables.update({f"backfill{r}": batch for r in range(2, spec["backfill_reps"] + 1)})
    if args.trace:
        backlog_rows = expected_rows(spec, evs[:n_b])[0]
        tables.update({f"replay_{k}": backlog_rows for k in ("plain", "traced", "plain2", "1core")})
    attempted, failed, detail = 0, 0, {}
    got_results = None
    for name, exp in tables.items():
        got = read_table(os.path.join(dirs["jvm"], name + ".tsv"), sliding)
        if name == "results":
            got_results = got
        miss, wrong, extra = check.compare(exp, {k: v[0] for k, v in got.items()})
        detail[name] = {"expected": len(exp), "missing": miss, "wrong": wrong, "extra": extra}
        attempted += len(exp)
        failed += miss + wrong + extra

    # latency of live-ready results; backlog-ready ones must be written by
    # the end of catch-up
    live_start = g["live_start_ms"]
    lat, late_catch_up = [], 0
    for key, ready_ms in ready.items():
        if key not in got_results:
            continue
        written = got_results[key][1]
        if ready_ms >= live_start:
            lat.append((written - ready_ms) / 1000.0)
        elif written > j["catch_up_end_ms"]:
            late_catch_up += 1
    failed += late_catch_up
    detail["results"]["written_after_catch_up"] = late_catch_up
    if not lat:
        sys.exit("perfbench: the live phase produced no results")
    p50, _ = pct(lat, 0.50)
    p99, beyond = pct(lat, 0.99)

    m = {
        "setup_s": j["setup_s"],
        "catch_up_eps": j["catch_up_events"] / j["catch_up_s"],
        "latency_p50_s": p50,
        "latency_p99_s": p99,
        "backfill_eps": (n_b + n_l) / j["backfill_s"],
        "live_heap_mb": j["live_heap_mb"],
    }
    behind = g["late_ms_p99"] > feed.FILE_MS
    walls = (f"backlog {t_jvm - t_run:.1f} s, JVM {t_check - t_jvm:.1f} s, "
             f"check {time.time() - t_check:.1f} s")
    print(f"perfbench {args.workload} seed={args.seed} live={args.seconds}s cores={cores} "
          f"trace={args.trace} feed_sha256={g['feed_sha256']}")
    for k, unit in END_TO_END.items():
        print(f"  {k:<16} {m[k]:>14.6g} {unit}")
    print(f"  samples: setup 1 (session {j['session_s']:.3f} s + first batch); "
          f"catch-up {j['catch_up_events']:.0f} events after the first batch; "
          f"latency n={len(lat)} ({beyond} beyond p99); backfill {n_b + n_l} events, "
          f"median of {spec['backfill_reps']}; heap 3 forced-GC samples")
    print(f"  failed_ratio     {failed / attempted:>14.6g} ratio "
          f"({failed} of {attempted} expected rows)")
    print(f"  reference check: {'PASS' if failed == 0 else 'FAIL'} {json.dumps(detail)}")
    print(f"  loadgen: {n_l} live events at {g['rate']}/s, late p50 {g['late_ms_p50']:.2f} ms "
          f"p99 {g['late_ms_p99']:.2f} ms max {g['late_ms_max']:.2f} ms"
          + ("  ** GENERATOR FELL BEHIND SCHEDULE **" if behind else ""))
    print(f"  wall: {walls}; JVM phases: catch-up {j['catch_up_s']:.1f} s, "
          f"live drain {j['live_drain_s']:.1f} s, backfill {j['backfill_s']:.1f} s")

    out_dir = os.path.join(HERE, "out", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    summary = {"run": run_id, "seed": args.seed, "feed_sha256": g["feed_sha256"],
               "generator_behind": behind, "check": detail, "jvm": j, "loadgen": g,
               "end_to_end": m, "latency_samples": len(lat)}
    metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    if args.trace:
        with open(os.path.join(dirs["jvm"], "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        layers = self_times(spans)
        batch_ms = sorted(s["end_ms"] - s["start_ms"] for s in spans
                          if s["name"] == "upsert_sink.batch_write")

        def self_s(name):
            return layers[name]["self_ms"] / 1000.0
        pl = {k: j[k] for k in PER_LAYER if k in j}
        pl.update({
            "sources.read_s": self_s("sources.read"),
            "ingest.parse_s": self_s("ingest.parse"),
            "ingest.parse_eps": j["ingest.rows"] / self_s("ingest.parse"),
            "ops.window_s": self_s("ops.window"),
            "upsert_sink.write_s": self_s("upsert_sink.write"),
            "upsert_sink.batch_ms_p50": pct(batch_ms, 0.5)[0] if batch_ms else 0.0,
            "upsert_sink.upserts_per_result": j["upsert_sink.rows_written"] / max(1, len(got_results)),
            "loadgen.late_ms_p99": g["late_ms_p99"],
            "loadgen.events": n_l,
            "baseline.catch_up_eps": j["replay_plain_eps"],
            "baseline.catch_up_eps_1core": j["replay_1core_eps"],
        })
        missing = [k for k in PER_LAYER if k not in pl]
        if missing:
            sys.exit(f"perfbench: per-layer metrics not measured: {missing}")
        print("  per-layer (traced run):")
        for k, unit in PER_LAYER.items():
            print(f"    {k:<34} {pl[k]:>14.6g} {unit}")
        print("  self time by span (ms): " + ", ".join(
            f"{k}={v['self_ms']:.0f}" for k, v in sorted(layers.items())))
        shutil.copy(os.path.join(dirs["jvm"], "spans.jsonl"), os.path.join(out_dir, "spans.jsonl"))
        with open(os.path.join(out_dir, "per_layer.json"), "w") as f:
            json.dump({"run": run_id, "per_layer": pl, "self_times": layers}, f, indent=1)
        metrics = {k: {"value": pl[k], "unit": u} for k, u in PER_LAYER.items()}
        summary["per_layer"] = pl
    with open(os.path.join(out_dir, f"last_trace{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(feed.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.chdir(os.path.dirname(HERE))
    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: program sources (src/main/scala) not found next to perfbench/")
    cp = build.build()
    work = os.path.abspath(os.path.join(".bench_build", f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    procs = []
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)
    try:
        code = run(args, procs, work, cp)
    except Deadline:
        sys.stderr.write(f"perfbench: run exceeded {DEADLINE_S} s\n")
        code = 3
    finally:
        signal.alarm(0)
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
