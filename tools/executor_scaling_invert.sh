#!/bin/bash
# Round-14 follow-up to tools/executor_scaling.sh: that probe held TOTAL
# executor memory fixed (8 GiB divided across 1/2/4 JVMs) and read the
# 4-JVM +15-35% as GC amplification from heap division plus stage-tail
# scheduling, asserting both effects INVERT on a real fleet where each
# executor ADDS memory instead of splitting a fixed pool. This probe
# MEASURES that assertion: same 32 total cores, same sf1 data and
# 10-query spread, but a CONSTANT 7g heap per executor (the real-cluster
# shape — fleet memory grows with executor count: 7/14/28 GiB total).
# If the degradation is heap division, it should vanish here and leave
# only the stage-tail scheduling residue.
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/tmp/graft_sf1}
export SPARK_GRAFT_ONLY=q_ann_ivf_fixedk,q_audio_energy,q_bm25,q_pagerank,q_dedup_minhash,q_fato_vendas,q_exact_substr,q_split_leakage_safe,q_tokenize,q_winnow
export SPARK_GRAFT_SHUFFLE_PARTITIONS=32
export SPARK_GRAFT_CPUS=32
OUT=${1:-/tmp/executor_scaling_invert}
mkdir -p "$OUT"
run() { # $1 = master, $2 = executor mem, $3 = tag
  echo "=== $3: $1 (executor mem $2) ==="
  SPARK_GRAFT_MASTER="$1" SPARK_GRAFT_EXECUTOR_MEM="$2" \
    ./run_graft.sh graft.Bench 2>"$OUT/$3.err" | tail -1 > "$OUT/$3.json"
  tail -c 300 "$OUT/$3.json"; echo
}
run "local-cluster[1,32,8192]" 7g nexec1_7g
run "local-cluster[2,16,8192]" 7g nexec2_7g
run "local-cluster[4,8,8192]"  7g nexec4_7g
