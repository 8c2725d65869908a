#!/usr/bin/env bash
# Parent-vs-change A/B on one benchmark workload.
#
# Usage: tools/perf_ab.sh <parent-ref> <workload> <pairs>
#
# The change is the working tree this script runs from; the parent is
# <parent-ref>, extracted with `git archive` into a directory outside the
# repo (reused while the ref is the same, so its .bench_build survives).
# Each side first runs one unreported warm-up (it builds the harness).
# Then pair i runs `perfbench/run.py --workload <workload> --seed <seed_i>
# --seconds 6 --trace <0|1>` on both sides, the parent first in odd pairs and
# the change first in even ones, with one seed per pair. Results come only
# from run.py's last stdout line (its JSON), so nothing under perfbench/
# is read or changed.
#
# Prints, for the five end-to-end metrics: the per-pair table, Q1 / median
# / Q3 per side, change ÷ parent medians, the change's wins (lower is
# better; ties count for neither side) and each run's failed count. With
# GRAFT_PERF_AB_TRACE=1 the runs are traced (`--trace 1`) and the same
# tables cover `trace.pass_s` and the TeraSort layers in place of the
# end-to-end metrics: the time and CPU layers (`map_s`, `reduce_s`,
# `task_cpu_s`, `gc_s`), the exchange (`shuffle_bytes`, `fetch_wait_s`),
# the validation read (`sources.read_s`) and the counters that should not
# move (`map_passes`, `scan_amplification`, `spill_bytes`).
#
# Environment:
#   GRAFT_PERF_AB_DIR   parent checkouts go under it (default /tmp/graft_ab; keep
#                       it short: sbt's socket path under it must fit 104 bytes)
#   GRAFT_PERF_AB_OUT   raw JSON lines (default /tmp/graft_perf_ab_out/<workload>,
#                       with a -trace suffix for a traced A/B)
#   GRAFT_PERF_AB_SEED  seed of pair 1; pair i uses seed + i - 1 (default 1001)
#   GRAFT_PERF_AB_TRACE 1 runs the traced A/B described above (default 0)
set -euo pipefail
[ $# -eq 3 ] || { echo "usage: $0 <parent-ref> <workload> <pairs>" >&2; exit 2; }
PARENT_REF=$1
WORKLOAD=$2
PAIRS=$3
ROOT=$(git rev-parse --show-toplevel)
SHA=$(git -C "$ROOT" rev-parse --verify "$PARENT_REF^{commit}")
PARENT_DIR=${GRAFT_PERF_AB_DIR:-/tmp/graft_ab}/${SHA:0:7}
TRACE=${GRAFT_PERF_AB_TRACE:-0}
[ "$TRACE" = 0 ] || [ "$TRACE" = 1 ] || { echo "GRAFT_PERF_AB_TRACE must be 0 or 1" >&2; exit 2; }
OUT=${GRAFT_PERF_AB_OUT:-/tmp/graft_perf_ab_out/$WORKLOAD$([ "$TRACE" = 0 ] || echo -trace)}
SEED0=${GRAFT_PERF_AB_SEED:-1001}

if [ ! -f "$PARENT_DIR/.perf_ab_ref" ]; then
  rm -rf "$PARENT_DIR"
  mkdir -p "$PARENT_DIR"
  git -C "$ROOT" archive "$SHA" | tar -x -C "$PARENT_DIR"
  echo "$SHA" > "$PARENT_DIR/.perf_ab_ref"
fi
mkdir -p "$OUT"
rm -f "$OUT"/*.json "$OUT"/*.err

run() { # $1=side $2=seed $3=run name; writes $OUT/<name>.json and .err
  local dir=$ROOT
  [ "$1" = parent ] && dir=$PARENT_DIR
  echo "[perf_ab] $3: $1, seed $2" >&2
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$2" \
    --seconds 6 --trace "$TRACE" 2>"$OUT/$3.err" | tail -1 >"$OUT/$3.json") || true
  if ! grep -q '"metrics"' "$OUT/$3.json"; then
    echo "[perf_ab] $3 printed no result:" >&2
    tail -3 "$OUT/$3.err" >&2
    echo '{}' >"$OUT/$3.json"
    return 1
  fi
}

# the warm-ups build each side; a side that cannot run stops the A/B
run parent "$SEED0" warmup_parent
run change "$SEED0" warmup_change
for i in $(seq 1 "$PAIRS"); do
  seed=$((SEED0 + i - 1))
  if [ $((i % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do run "$side" "$seed" "${side}_$i" || true; done
done

python3 - "$OUT" "$PAIRS" "$SEED0" "${SHA:0:9}" "$TRACE" <<'EOF'
import json, statistics, sys
out, pairs, seed0, sha, trace = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], sys.argv[5] == "1"
if trace:
    metrics = [("trace.pass_s", 3)] + [(f"terasort.{m}", 3) for m in ("map_s", "reduce_s", "task_cpu_s", "gc_s")] \
        + [("terasort.shuffle_bytes", 0), ("terasort.fetch_wait_s", 3), ("sources.read_s", 3)] \
        + [("terasort.map_passes", 1), ("terasort.scan_amplification", 2), ("terasort.spill_bytes", 0)]
else:
    metrics = [("pass_s", 3), ("op_p50_s", 3), ("setup_s", 1), ("peak_rss_mb", 0), ("peak_live_mb", 0)]
load = lambda side, i: json.load(open(f"{out}/{side}_{i}.json"))
runs = {s: [load(s, i) for i in range(1, pairs + 1)] for s in ("parent", "change")}
val = lambda r, m: r.get("metrics", {}).get(m, {}).get("value")
fmt = lambda v, d: "—" if v is None else f"{v:.{d}f}"

print(f"{'Traced A/B' if trace else 'A/B'} of the working tree against {sha}: "
      f"{pairs} pairs, first seed {seed0}\n")
print("| pair | seed | first | " + "".join(f"`{m}` | | " for m, _ in metrics) + "failed |")
print("|---|---|---|" + "---|---|" * len(metrics) + "---|")
for i in range(pairs):
    p, c = runs["parent"][i], runs["change"][i]
    cells = " | ".join(f"{fmt(val(p, m), d)} | {fmt(val(c, m), d)}" for m, d in metrics)
    failed = f"{p.get('failed', '—')} / {c.get('failed', '—')}"
    first = "parent" if i % 2 == 0 else "change"
    print(f"| {i + 1} | {seed0 + i} | {first} | {cells} | {failed} |")
print("\nValues are parent | change; failed is parent / change.\n")

def q(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (None,) * 3
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

print("| metric | parent Q1 / median / Q3 | change Q1 / median / Q3 | change ÷ parent (medians) | change wins |")
print("|---|---|---|---|---|")
for m, d in metrics:
    ps = [v for v in (val(r, m) for r in runs["parent"]) if v is not None]
    cs = [v for v in (val(r, m) for r in runs["change"]) if v is not None]
    pq, cq = q(ps), q(cs)
    both = [(val(p, m), val(c, m)) for p, c in zip(runs["parent"], runs["change"])]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    wins = sum(b < a for a, b in both)
    ratio = f"{cq[1] / pq[1]:.2f}" if pq[1] and cq[1] is not None else "—"
    show = lambda t: " / ".join(fmt(v, max(d, 1)) for v in t)
    print(f"| `{m}` | {show(pq)} | {show(cq)} | {ratio} | {wins}/{len(both)} |")
failed = {s: sum(r.get("failed", 0) for r in runs[s]) for s in runs}
missing = {s: sum("metrics" not in r for r in runs[s]) for s in runs}
print(f"\nFailed operations: parent {failed['parent']}, change {failed['change']}; "
      f"runs with no result: parent {missing['parent']}, change {missing['change']}.")
EOF
