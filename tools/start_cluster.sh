#!/bin/bash
# Start a local Spark standalone cluster: 1 master + 4 workers
# (CORES_PER_WORKER cores / MEM_PER_WORKER each, default 4 / 16g; tmpfs
# shuffle dirs) at spark://127.0.0.1:7077, for running tools/submit_cli.py
# under spark-submit.
set -e
export SPARK_LOCAL_IP=127.0.0.1
export SPARK_MASTER_HOST=127.0.0.1
SPARK_HOME=${SPARK_HOME:-/opt/spark}
CORES_PER_WORKER=${CORES_PER_WORKER:-4}
MEM_PER_WORKER=${MEM_PER_WORKER:-16g}

"$SPARK_HOME/sbin/start-master.sh" --host 127.0.0.1 --port 7077 --webui-port 8090 || true
sleep 3
for i in 1 2 3 4; do
  SPARK_IDENT_STRING=w$i \
  SPARK_LOCAL_DIRS=/dev/shm/spark-local-w$i \
  SPARK_WORKER_DIR=/dev/shm/spark-worker-$i \
  "$SPARK_HOME/sbin/start-worker.sh" spark://127.0.0.1:7077 \
      -c "$CORES_PER_WORKER" -m "$MEM_PER_WORKER" -h 127.0.0.1 -p $((7200+i)) --webui-port $((8190+i)) || true
done
sleep 5
grep -hc "Registering worker" "$SPARK_HOME"/logs/*Master*.out || true
