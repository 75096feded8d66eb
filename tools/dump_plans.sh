#!/bin/bash
# Regenerate PLANS.md: formatted physical plans for the headline queries.
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do echo -n "--add-opens=java.base/$p=ALL-UNNAMED "; done)
{
  echo "# Physical plans (sf0.1, local[8], AQE on)"
  echo
  echo "Regenerate with \`tools/dump_plans.sh\`. What to look for:"
  echo "- \`PushedFilters\` / pruned \`ReadSchema\` on every parquet scan"
  echo "- \`BroadcastHashJoin\` on every dim hop (fact side never shuffles)"
  echo "- \`partial_topkbyscore\` before the exchange in the top-k aggregate"
  echo "- single \`Exchange hashpartitioning\` per logical shuffle step"
  echo
  for q in q_serve_total q_snowflake q_order_wide_full q_perceptron q_bpe_encode q_snap_neardup q_contrastive_pairs q_corpus_shuffle q_ann_topk_agg q_ann_ivf q_ann_pq q_ann_ivfpq q_ivf_stats q_ann_recall q_semdedup q_semdedup_scaled q_minhash_lsh q_source_overlap q_split_leakage q_lsh_recall q_lsh_tuning q_kmeans_tuning q_pq_tuning q_ivf_probe_tuning q_dedup_tau_sweep x_source_overlap_fast x_minhash_lsh_fast x_simhash_fast q_tfidf q_bigram_lm q_asof_join q_range_join q_dup_components q_contamination q_contamination_bloom q_repetition q_curation q_curation_funnel q_minhash_oracle q_sql_volume q_copurchase_lift q_triangles q_pagerank q_gapfill q_merge_orders q_wau q_chunk_scrub x_chunk_scrub_fast q_index_drift q_embed_pca q_embed_project q_embed_quantize q_gopher_rules q_token_budget q_embed_neardup q_simhash q_sim_degree q_simhash_clusters q_contamination_groups q_mm_dedup q_mm_fetch_plan q_mm_parse q_mm_resize q_mm_decode q_mm_phash_dedup q_snap_decode q_quality_clf q_mm_pack q_mm_audio_fp q_mm_frames q_mm_align q_mm_keyframes q_mm_align_stats q_mm_fetch_stats q_mm_vframes q_mm_vdedup q_substr_dedup q_substr_stats q_substr_intra q_substr_scrub q_snap_substr q_contamination_spans q_contamination_scrub q_serve_detail; do
    echo "## $q"
    echo '```'
    # a JVM can die under host load (observed: truncated PLANS.md after
    # grep's empty-output exit killed the set -e loop) — retry once, and
    # anchor completeness on the "rep 1" TERMINATOR so a JVM dying
    # mid-plan (partial tree printed) is caught, not just total death
    raw=$(SPARK_GRAFT_CPUS=8 java $ADD_OPENS -Xmx8g -Dspark.sql.session.timeZone=UTC \
      -cp "$CP" graft.Tools explain "$q" /root/testdata/sf0.1 1 2>/dev/null || true)
    case "$raw" in *"rep 1"*) ;; *)
      raw=$(SPARK_GRAFT_CPUS=8 java $ADD_OPENS -Xmx8g -Dspark.sql.session.timeZone=UTC \
        -cp "$CP" graft.Tools explain "$q" /root/testdata/sf0.1 1 2>/dev/null || true)
    ;; esac
    case "$raw" in
      *"rep 1"*)
        printf '%s\n' "$raw" | sed -n '/^== Physical Plan ==/,/^rep 1/p' \
          | grep -v "^rep 1" || true
        ;;
      *)
        echo "(explain died before completing twice — rerun tools/dump_plans.sh on a quiet host)"
        failed=1
        ;;
    esac
    echo '```'
    echo
  done
} > PLANS.md
if [ -n "${failed:-}" ]; then
  echo "wrote PLANS.md WITH MISSING SECTIONS — rerun on a quiet host" >&2
  exit 1
fi
echo "wrote PLANS.md"
