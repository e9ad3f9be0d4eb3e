#!/usr/bin/env bash
# Two-cluster-size scaling protocol (BASELINE.md): the corpus is written
# once as a docs snapshot table, then each parallelism level runs the
# shipped full build (Pipeline.runFromTable) in its OWN JVM with heap and
# GC threads scaled to its core count — the faithful local analogy of an
# N-executor vs 4N-executor cluster (a real 4N cluster has 4x heap and 4x
# GC threads too). Rewrites BENCH.md.
#
# Usage: tools/scaling.sh [nDocs] [N]      (defaults 400000, 2)
set -euo pipefail
cd "$(dirname "$0")/.."
NDOCS="${1:-400000}"
N="${2:-2}"
N4=$((N * 4))
DIR=$(mktemp -d /tmp/graft-scaling-XXXX)
CORPUS="$DIR/corpus"

echo "prep: $NDOCS docs -> $CORPUS" >&2
SPARK_DRIVER_MEM=16g sbt -batch "runMain graft.ScalingBench prep $NDOCS $CORPUS" >/dev/null 2>&1

run_level() {
  local cores=$1 mem=$2
  SPARK_DRIVER_MEM="$mem" SPARK_GC_THREADS="$cores" \
    sbt -batch "runMain graft.ScalingBench level $cores $NDOCS $CORPUS" 2>/dev/null \
    | grep -o '{.*}' | tail -1
}

LO=$(run_level "$N" "$((N * 3))g")
HI=$(run_level "$N4" "$((N4 * 3))g")
echo "$LO"
echo "$HI"

python3 - "$LO" "$HI" "$N" "$NDOCS" <<'EOF'
import json, sys
lo, hi = json.loads(sys.argv[1]), json.loads(sys.argv[2])
n, ndocs = int(sys.argv[3]), int(sys.argv[4])
eff = (hi["triples_per_sec"] / lo["triples_per_sec"]) / 4
print(json.dumps({"metric": "scaling_efficiency", "value": round(eff, 3),
                  "n_cores": n, "4n_cores": 4 * n, "n_docs": ndocs,
                  "gate": 0.8, "pass": eff >= 0.8}))
stages = list(lo["stage_sec"])
md = f"""# BENCH — scaling evidence (local[N] vs local[4N], separate JVMs)

Protocol (BASELINE.md): identical job, identical deterministic input
({ndocs} docs, corpus pre-materialized as a docs snapshot table), two
parallelism levels, each level in its own JVM with heap and GC threads
scaled to its core count (the local analogy of N vs 4N executors),
shuffle partitions = cores, a warm-up build before the timed window,
best of two timed builds.

Command: `tools/scaling.sh {ndocs} {n}`

| cores | wall (s) | triples | docs/sec | triples/sec | {" | ".join(s + " (s)" for s in stages)} | graph write (s) |
|---|---|---|---|---|{"---|" * (len(stages) + 1)}
""" + "".join(
    f"| {l['cores']} | {l['wall_sec']} | {l['triples']} | {l['docs_per_sec']} | "
    f"{l['triples_per_sec']} | {' | '.join(str(l['stage_sec'][s]) for s in stages)} | "
    f"{l['graph_s']} |\n"
    for l in (lo, hi)) + f"""
**Scaling efficiency = (throughput@{4*n} / throughput@{n}) / 4 = {eff:.3f}**
(gate >= 0.8: {"PASS" if eff >= 0.8 else "FAIL"})

Headline metric: end-to-end `Pipeline.runFromTable` triples/sec (every
stage write and the graph table commit included). Stages 10_extract,
20_link and 30_triples are the extract -> emit share; 40_canonical is
canonicalization; graph write is the graph table write and commit; the
rest of the wall time is the docs read and driver work between them.
"""
import os
if os.path.exists("BENCH_NOTES.md"):
    md += "\n" + open("BENCH_NOTES.md").read()
open("BENCH.md", "w").write(md)
EOF
rm -rf "$DIR"
