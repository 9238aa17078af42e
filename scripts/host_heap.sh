#!/bin/sh
# Print the default JVM heap for this host: half of physical RAM, clamped
# to 2-8 g (e.g. "7g"). build.sbt and run_main.sh use it when
# SPARK_DRIVER_MEM is unset.
awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g
