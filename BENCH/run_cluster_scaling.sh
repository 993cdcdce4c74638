#!/bin/bash
# North-rule-literal scaling campaign: spark-submit the SAME job to a
# REAL standalone cluster at two cluster sizes — 1 vs 4 executor JVMs,
# each 4 cores + 20g heap (its own worker daemon, heap, GC, and netty
# shuffle server). Sides interleaved 1,4,1,4,... per round so co-tenant
# interference hits both with equal probability; `ScalingBench submit
# report` takes per-workload MINS across rounds (the local estimator).
#
# Per side: boot master + the side's worker set, spark-submit
# `graft.ScalingBench submit <n>`, tear everything down. Runs from a
# fixed jar (JAR=...) so the sbt dev loop can keep compiling.
#   Usage: BENCH/run_cluster_scaling.sh <rounds> [scale] [passes]
set -u
cd "$(dirname "$0")/.."
ROUNDS=${1:-3}
export SPARK_GRAFT_SCALE=${2:-64}
export SPARK_GRAFT_PASSES=${3:-3}
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
JAR=${JAR:-target/scala-2.13/polylabelrsspark_2.13-0.1.0.jar}
SPARK_HOME=/opt/spark
MASTER_URL=spark://127.0.0.1:7077
LOGDIR=/tmp/graft-cluster-logs
mkdir -p "$LOGDIR"
PIDS=()

start_cluster() { # $1 = worker count
  "$SPARK_HOME"/bin/spark-class org.apache.spark.deploy.master.Master \
    -h 127.0.0.1 -p 7077 --webui-port 8090 >"$LOGDIR/master.log" 2>&1 &
  PIDS+=($!)
  # loop var must NOT be `i`: the caller's round counter is `i`, and a
  # clobber here mislabels every later round's progress line
  for w in $(seq 1 "$1"); do
    # one executor per worker: worker cores == spark.executor.cores
    SPARK_LOCAL_DIRS=/dev/shm/graft-worker$w \
    "$SPARK_HOME"/bin/spark-class org.apache.spark.deploy.worker.Worker \
      "$MASTER_URL" -c 4 -m 24g -d "/tmp/graft-worker$w" --webui-port 0 \
      >"$LOGDIR/worker$w.log" 2>&1 &
    PIDS+=($!)
  done
  # registration is cheap to await here; ScalingBench re-checks and
  # records the OBSERVED executor count in the sample line regardless
  for _ in $(seq 1 60); do
    n=$(grep -c "Registering worker" "$LOGDIR/master.log" 2>/dev/null || true)
    [ "${n:-0}" -ge "$1" ] && break
    sleep 1
  done
}

stop_cluster() {
  kill "${PIDS[@]}" 2>/dev/null
  wait "${PIDS[@]}" 2>/dev/null
  PIDS=()
  [ -z "${KEEP_WORKER_DIRS:-}" ] && rm -rf /dev/shm/graft-worker* /tmp/graft-worker* 2>/dev/null
}
trap stop_cluster EXIT

run_side() { # $1 = executor count
  start_cluster "$1"
  "$SPARK_HOME"/bin/spark-submit --master "$MASTER_URL" --deploy-mode client \
    --class graft.ScalingBench --driver-memory 12g \
    --conf spark.executor.cores=4 --conf spark.executor.memory=20g \
    --conf spark.cores.max=$((4 * $1)) \
    --conf spark.locality.wait="${LOCALITY_WAIT:-0s}" \
    --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC \
    --conf spark.executor.extraJavaOptions=-XX:+UseParallelGC \
    "$JAR" submit "$1" 2>>"$LOGDIR/submit.log"
  stop_cluster
}

SIDES=${SIDES:-"1 4"}
for i in $(seq 1 "$ROUNDS"); do
  for s in $SIDES; do
    echo "[run_cluster] round $i/$ROUNDS executors=$s $(date -u +%H:%M:%S)"
    run_side "$s"
  done
done
echo "[run_cluster] done $(date -u +%H:%M:%S)"
