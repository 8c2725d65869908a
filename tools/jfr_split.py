#!/usr/bin/env python3
"""Split a JFR profile of a perfbench run by stage role and by frame.

Usage:
  tools/jfr_split.py <recording.jfr> <run-record.json> [--top N]
                     [--frames-from PREFIX ...]

<run-record.json> is the record perfbench writes to
.bench_build/results/<workload>-seed<N>-trace<T>.json. The executor-thread
(`Executor task launch worker-*`) samples that fall inside a timed
operation window (ops of kind `op`) are counted, in two sets of tables:
`jdk.ExecutionSample` (threads running Java code) and then
`jdk.NativeMethodSample` (threads inside a native method: JNI compression,
file reads and writes, a forked process such as Hadoop's `chmod`). With a
traced record (`--trace 1`) each sample is put in the role (`map`,
`reduce`, `sample`) of the stage of that window that was running at its
time; stages of one sort run one after another, so the time says which
one. Without stage spans every sample is in `op`. In each role the
samples are bucketed by their top frame, or, with --frames-from, by the
topmost frame whose class name starts with one of the given prefixes
(for example `--frames-from graft. org.apache.spark.`).

The samples come from the JDK's `jfr print --json` (no other dependency).
Record a run with, for example:

  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \\
    python3 perfbench/run.py --workload terasort --seed 7002 --seconds 6 --trace 1
"""
import argparse
import collections
import datetime
import json
import subprocess
import sys


def epoch_ms(iso):
    """Milliseconds since the epoch of a JFR ISO-8601 UTC time."""
    head, _, frac = iso.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(head).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() * 1000 + float("0." + (frac or "0")) * 1000


def frame_name(f):
    return f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("jfr")
    ap.add_argument("record")
    ap.add_argument("--top", type=int, default=12, help="frames listed per role")
    ap.add_argument("--frames-from", nargs="+", default=[], metavar="PREFIX")
    a = ap.parse_args()

    rec = json.load(open(a.record))
    ops = [o for o in rec.get("spans", {}).get("ops", rec["ops"]) if o.get("kind", "op") == "op"]
    if not ops:
        sys.exit(f"no timed ops in {a.record}")
    windows = [(o["start_ms"], o["end_ms"], o.get("stages", [])) for o in ops]

    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64", "--events",
                          "jdk.ExecutionSample,jdk.NativeMethodSample", a.jfr],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]

    def role(t):
        for start, end, stages in windows:
            if start <= t <= end:
                for s in stages:
                    if s["submitted_ms"] <= t <= s["completed_ms"]:
                        return s["role"]
                return "op" if not stages else "between stages"
        return None

    kinds = (("jdk.ExecutionSample", "executor samples"),
             ("jdk.NativeMethodSample", "native executor samples"))
    counts = {k: collections.defaultdict(collections.Counter) for k, _ in kinds}
    for e in events:
        v = e["values"]
        if e["type"] not in counts or \
                not v["sampledThread"]["javaName"].startswith("Executor task launch worker"):
            continue
        r = role(epoch_ms(v["startTime"]))
        frames = (v.get("stackTrace") or {}).get("frames") or []
        if r is None or not frames:
            continue
        names = [frame_name(f) for f in frames]
        pick = next((n for n in names if n.startswith(tuple(a.frames_from))), names[0]) \
            if a.frames_from else names[0]
        counts[e["type"]][r][pick] += 1

    for kind, label in kinds:
        by_role = counts[kind]
        total = sum(sum(c.values()) for c in by_role.values())
        print(f"{total} {label} in {len(ops)} `op` windows "
              f"({sum(e - s for s, e, _ in windows) / 1000:.2f} s)\n")
        for r in sorted(by_role, key=lambda r: -sum(by_role[r].values())):
            c = by_role[r]
            n = sum(c.values())
            print(f"| {r}: {n} samples | share |\n|---|---|")
            for name, k in c.most_common(a.top):
                print(f"| `{name}` | {k} ({100 * k / n:.0f} %) |")
            rest = n - sum(k for _, k in c.most_common(a.top))
            if rest:
                print(f"| other frames | {rest} ({100 * rest / n:.0f} %) |")
            print()


if __name__ == "__main__":
    main()
