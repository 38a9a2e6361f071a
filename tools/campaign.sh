#!/bin/bash
# Scale campaign: build the 1000x documents+embeddings replica of an
# sf0.1 dir with graft.ScaleUp if SCALED_DIR does not exist yet (every
# other table is copied 1x so the Tables loaders still resolve), then
# bench the scale subset with graft.Bench under the fixed campaign conf
# that BENCH_queries_1000x.json records:
#   local[24], shuffle=96, AQE initialPartitionNum=2048, reps=2,
#   shuffled-hash-join threshold 64m
# plus an untimed GC after each sample, which frees a finished query's
# dead shuffle files before the next one runs.
#
# Usage: tools/campaign.sh SRC_SF_DIR SCALED_DIR [query,query,...]
# The default query list is the 37 rows of BENCH_queries_1000x.json, so a
# re-run measures the same rows it overwrites. SPARK_GRAFT_WARMUP_DIR
# (the sf0.001 dir) is passed through to Bench when set.
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: $0 SRC_SF_DIR SCALED_DIR [query,query,...]" >&2
  exit 2
fi
SRC="$1"
SCALED="$2"
QUERIES="${3:-corpus_dup_stats_near,corpus_filter,corpus_funnel,corpus_shard,corpus_shard_near,corpus_verdict,dedup_clusters,dedup_keep_best,dedup_minhash,dedup_minhash_tune,dedup_simhash,dedup_simhash_audit,dedup_simhash_load,dedup_span_removal,dedup_span_stats,emb_ann_bitq,emb_ann_filtered,emb_ann_filtered_pq,emb_ann_filtered_pq_recall,emb_ann_filtered_recall,emb_ann_ivf_served,emb_ann_ivfpq,emb_ann_lsh,emb_clusters,emb_cosine_pairs,emb_dup_sweep,emb_keep_best,emb_knn,emb_knn_purity,emb_lsh_load,mm_dedup_clusters,mm_keep_best,mm_phash,mm_phash_audit,mm_phash_load,mm_shard,text_quality}"
cd "$(dirname "$0")/.."

export SPARK_DRIVER_MEM=32g SPARK_GRAFT_CPUS=24

if [ ! -d "$SCALED" ]; then
  sbt -batch "runMain graft.ScaleUp $SRC $SCALED 1000 documents,embeddings"
fi

SPARK_GRAFT_SHUFFLE=96 SPARK_GRAFT_INITIAL_PARTITIONS=2048 \
  SPARK_GRAFT_SHJ_THRESHOLD=64m SPARK_GRAFT_REPS=2 SPARK_GRAFT_GC_EACH=1 \
  SPARK_GRAFT_SF_DIR="$SCALED" SPARK_GRAFT_ONLY="$QUERIES" \
  SPARK_GRAFT_BENCH_OUT=BENCH_queries_1000x.json \
  SPARK_GRAFT_PROVENANCE="local[24], shuffle=96, AQE initial=2048, reps=2, SHJ=64m, GC after each sample (tools/campaign.sh)" \
  sbt -batch "runMain graft.Bench"
