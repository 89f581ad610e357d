#!/bin/bash
# Start/stop a local Spark standalone cluster: 1 master + 4 workers
# (8 cores / 6g each = the same 32 cores as local[32], but with real
# process boundaries: serialized shuffles, per-executor Python workers,
# broadcast copies). Drive the engine at it with
#   SPARK_GRAFT_EXTRA_CONF=spark.master=spark://127.0.0.1:7077 python bench.py ...
# (session.py sets spark.executorEnv.PYTHONPATH automatically so executor
# Python workers can import the engine package; a multi-node deployment
# ships a wheel via --py-files instead.)
#
# Usage: tools/standalone_cluster.sh start|stop|status
set -u
P=$(python -c "import pyspark,os;print(os.path.dirname(pyspark.__file__))")
BASE=/tmp/spark_standalone
mkdir -p "$BASE/logs"

case "${1:-status}" in
  start)
    nohup "$P/bin/spark-class" org.apache.spark.deploy.master.Master \
      -h 127.0.0.1 -p 7077 --webui-port 8080 \
      > "$BASE/logs/master.log" 2>&1 &
    echo "master pid $!"
    sleep 5
    for i in 1 2 3 4; do
      SPARK_WORKER_DIR="$BASE/work$i" SPARK_LOCAL_DIRS="$BASE/local$i" \
      nohup "$P/bin/spark-class" org.apache.spark.deploy.worker.Worker \
        spark://127.0.0.1:7077 -c 8 -m 6g -h 127.0.0.1 \
        --webui-port "809$i" > "$BASE/logs/worker$i.log" 2>&1 &
      echo "worker$i pid $!"
    done
    sleep 5
    grep -l "Worker: Successfully registered" "$BASE"/logs/worker*.log \
      2>/dev/null | wc -l | xargs echo "registered workers:"
    ;;
  stop)
    pkill -f org.apache.spark.deploy.worker.Worker
    pkill -f org.apache.spark.deploy.master.Master
    echo stopped
    ;;
  status)
    pgrep -af "org.apache.spark.deploy" | sed 's/ -Xmx.*deploy/ .../' || echo "not running"
    ;;
esac
