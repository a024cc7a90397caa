#!/bin/bash
# VERDICT r13 next #4: quantify "executor count divides throughput".
# Same 10-query spread as SCALE_PROBE_r13_localcluster_sf1.json, same sf1
# data, same 32 total cores and 8 GiB total executor memory — only the
# number of executor JVMs dividing them varies. Emits one JSON line per
# config (graft.Bench's self-adjudicating tail included).
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/tmp/graft_sf1}
export SPARK_GRAFT_ONLY=q_ann_ivf_fixedk,q_audio_energy,q_bm25,q_pagerank,q_dedup_minhash,q_fato_vendas,q_exact_substr,q_split_leakage_safe,q_tokenize,q_winnow
export SPARK_GRAFT_SHUFFLE_PARTITIONS=32
export SPARK_GRAFT_CPUS=32
OUT=${1:-/tmp/executor_scaling}
mkdir -p "$OUT"
run() { # $1 = master, $2 = executor mem, $3 = tag
  echo "=== $3: $1 (executor mem $2) ==="
  SPARK_GRAFT_MASTER="$1" SPARK_GRAFT_EXECUTOR_MEM="$2" \
    ./run_graft.sh graft.Bench 2>"$OUT/$3.err" | tail -1 > "$OUT/$3.json"
  tail -c 300 "$OUT/$3.json"; echo
}
run "local-cluster[1,32,8192]" 7g nexec1
run "local-cluster[2,16,4096]" 3g  nexec2
run "local-cluster[4,8,2048]"  1700m nexec4
