#!/usr/bin/env bash
# spark-submit deployment path (north rule: "run via spark-submit on a
# multi-executor cluster"). Locally this submits the packaged jar to
# local[N]; on a cluster swap --master for yarn/k8s and the same jar,
# classes, and env contract apply unchanged (no assembly needed: the
# engine depends only on Spark itself).
#
# Usage:
#   tools/submit.sh bench   [cores] [sfDir]
#   tools/submit.sh verify  [cores] [sfDir] [outDir]
#   tools/submit.sh scaling [cores] [nDocs] [corpusDir]   (one level)
#
# scaling's corpusDir is the docs snapshot table that
# `ScalingBench prep <nDocs> <corpusDir>` writes.
set -euo pipefail
cd "$(dirname "$0")/.."

MODE="${1:-bench}"
CORES="${2:-32}"
SPARK_SUBMIT="${SPARK_HOME:-/opt/spark}/bin/spark-submit"

sbt -batch package >/dev/null
JAR=$(ls target/scala-2.13/metrinkgspark_*.jar | head -1)

case "$MODE" in
  bench)
    SFDIR="${3:-/root/testdata/sf0.1}"
    SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CORES" \
      "$SPARK_SUBMIT" --master "local[$CORES]" --driver-memory 16g \
      --class graft.Bench "$JAR"
    ;;
  verify)
    SFDIR="${3:-/root/testdata/sf0.01}"
    OUT="${4:-/tmp/verify_out}"
    SPARK_GRAFT_CPUS="$CORES" \
      "$SPARK_SUBMIT" --master "local[$CORES]" --driver-memory 16g \
      --class graft.Verify "$JAR" "$SFDIR" "$OUT"
    ;;
  scaling)
    NDOCS="${3:-400000}"
    CORPUS="${4:-/tmp/graft-corpus}"
    "$SPARK_SUBMIT" --master "local[$CORES]" --driver-memory "$((CORES * 3))g" \
      --class graft.ScalingBench "$JAR" level "$CORES" "$NDOCS" "$CORPUS"
    ;;
  *)
    echo "unknown mode: $MODE" >&2; exit 2
    ;;
esac
