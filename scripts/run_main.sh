#!/bin/bash
# Run a graft main (Bench/Verify/Prof/SkewProbe/StreamIngestBench/
# ScaleUp/cli loaders) via plain java — avoids the single sbt lock so
# tests and long benches can run concurrently.
# Usage: scripts/run_main.sh graft.Bench [args...]
# Every main runs at local[nproc] (graft.GraftSession). Env:
# SPARK_DRIVER_MEM (default: scripts/host_heap.sh, half of MemTotal
# clamped to 2-8 g), plus whatever the main reads: the harness mains
# share graft.Runner's SPARK_GRAFT_ITERS (min-of-N, default 2) and
# SPARK_GRAFT_ONLY (query-name prefixes, Bench and Verify);
# SPARK_GRAFT_SF_DIR for Bench/Prof; graft.Bench also SPARK_GRAFT_CPUS.
# graft.Bench always calibrates and warms up; no variable turns either off.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="${SPARK_DRIVER_MEM:-$(scripts/host_heap.sh)}"
# GCLockerRetryAllocationCount (default 2!): executor threads in JNI
# critical regions (parquet native decompression) can starve the GC
# lock; after 2 failed retries HotSpot throws a spurious heap-space OOM
# no matter how empty the heap is (JDK-8192647 class). Raising the
# retry count to 64 removes the spurious throw; genuinely-full heaps
# still OOM normally.
exec java -Xmx"$HEAP" $ADD_OPENS \
  -XX:ReservedCodeCacheSize=1g \
  -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 \
  -cp "$CP" "$@"
