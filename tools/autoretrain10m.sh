#!/bin/bash
# The auto-retrain TRIGGER driven on real drift at 10 M through the
# production job surface (VERDICT r16 item 3): VectorGen writes the
# drift bench's exact 10 M corpus (bootstrap = ids [2.5M,10M) window 0,
# day d = ids [(d-1)*500k, d*500k) window d), then SemIndexJob runs
# train -> bootstrap -> day x5 with --auto-retrain=10 -- each command a
# cold JVM, like a production daily tick. Flags mirror the combined
# bench posture (probes=2 margin=1.02 tau=0.9). Per-day planted recall
# is computed from the emitted pair parquet by tools/recall.py.
set -u -o pipefail
export SPARK_GRAFT_CPUS=32   # match the r16 10 M CLI drive (cold JVMs, 32 threads)
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JVM="-Xmx20g -XX:+UseParallelGC -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"
ROOT="${1:-/tmp/semcli10m}"
FLAGS="--probes=2 --margin=1.02 --tau=0.9"

j() {
  echo "=== $1 (start $(date -u +%H:%M:%S)) ==="; local tag="$1"; shift
  # fail the whole campaign loudly on the first failed step: a swallowed
  # train/bootstrap failure would cascade stale-state day ticks for an
  # hour and emit numbers that look measured (review r17 second pass)
  java $JVM $OPENS -cp "$CP" "$@" 2>&1 | grep '"metric"' || {
    echo "=== $tag FAILED (exit $?) — aborting campaign ==="; exit 1; }
}

mkdir -p "$ROOT"
j gen-boot graft.gen.VectorGen 2500000 10000000 mog "$ROOT/boot" --window=0
for d in 1 2 3 4 5; do
  lo=$(( (d-1) * 500000 )); hi=$(( d * 500000 ))
  j gen-day$d graft.gen.VectorGen $lo $hi mog "$ROOT/day$d" --window=$d
done

j train graft.jobs.SemIndexJob train "$ROOT/boot" "$ROOT/index"
j bootstrap graft.jobs.SemIndexJob bootstrap "$ROOT/boot" "$ROOT/index" \
  "$ROOT/standing" "$ROOT/pairs_boot" $FLAGS
for d in 1 2 3 4 5; do
  j day$d graft.jobs.SemIndexJob day "$ROOT/day$d" "$ROOT/index" \
    "$ROOT/standing" "$ROOT/pairs_day$d" $FLAGS --auto-retrain=10 \
    --batch-id=day$d
done

for d in 1 2 3 4 5; do
  python3 /root/repo/tools/recall.py "$ROOT/pairs_day$d" 50000
done
