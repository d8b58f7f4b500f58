"""Empty-input contract: EVERY registered query must degrade to an
empty (or formula-only) result on zero-row tables — never crash. At
100 TB an empty input is routine (a filter that matched nothing, a new
partition, a cold bootstrap), and ADVICE r6 flagged the first violator
(psi_drift_stream int(None)); a full sweep this round found 28 more in
three families, all fixed:

* at-rest artifact round-trips: Spark writes NO part files for an
  empty DataFrame, so ``spark.read.parquet`` on the artifact dir threw
  UNABLE_TO_INFER_SCHEMA → ``io.write_artifact``/``read_artifact`` now
  record the writer's schema and fall back to it ONLY when inference
  fails (22 queries);
* the GEMM kNN tiers raised ValueError("empty query set") → they now
  return an empty result with the tier's contract schema (3);
* foreachBatch streams asserted multi-epoch arrival → an empty source
  (zero or one empty micro-batch file) degrades to an empty snapshot;
  the multi-epoch invariant still holds whenever data arrived (3).

Always-on tier: the 28 former crashers, plus every stream that runs
through ``streaming.ops.drain_file_stream``, which must return its
typed frame. ``OVS_SCALE_STRESS=1`` sweeps the full registry (the
sweep that found these).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from oracle_vector_search_spark.io import TABLES
from oracle_vector_search_spark.queries import REGISTRY, load_all_modules

load_all_modules()

STRESS = os.environ.get("OVS_SCALE_STRESS") == "1"
SRC_SF = "/root/testdata/sf0.001"

FORMER_CRASHERS = [
    "ann_recall_vs_exact_clustered",
    "bm25_retrieval_top10",
    "boolean_and_retrieval_top20",
    "doc_top_keywords",
    "dpp_pruned_event_revenue",
    "index_health_audit",
    "index_upsert_merge",
    "ivf_index_upsert",
    "ivfpq_ann_topk",
    "ivfpq_residual_fidelity",
    "knn_exact_cosine_top5_gemm",
    "knn_exact_gemm_int8",
    "lsh_ann_topk",
    "lsh_bucket_distribution",
    "lsh_multiprobe_topk",
    "lsh_recall_audit",
    "lsh_similarity_join_approx",
    "multiprobe_recall_audit",
    "phrase3_retrieval_top20",
    "phrase_retrieval_top20",
    "pipeline_index_build",
    "pipeline_query_topk",
    "sq8_recall_refine_audit",
    "streaming_corpus_admission",
    "streaming_index_maintenance",
    "streaming_upsert_snapshot",
    "term_doc_frequency_top20",
    "tfidf_cosine_top5",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet("
            f"'{SRC_SF}/{t}.parquet') LIMIT 0) "
            f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


NAMES = sorted(REGISTRY) if STRESS else FORMER_CRASHERS


@pytest.mark.parametrize("name", NAMES)
def test_empty_input_never_crashes(spark, empty_sf, name):
    df = REGISTRY[name][0](spark, empty_sf)
    df.count()  # must evaluate without raising; row count is free-form
    # (formula-only queries legitimately return rows on empty tables)



# The streams fed through streaming.ops.drain_file_stream, and the
# typed frame each returns on the LIMIT-0 fixture.
DRIVER_STREAMS = {
    "streaming_audio_vad_admission": "struct<clip_id:bigint,"
    "n_frames:bigint,n_voiced:bigint,admitted:int>",
    "streaming_corpus_admission": "struct<doc_id:bigint,"
    "classifier_keep:int,dup_of:bigint,admitted:int>",
    "streaming_index_maintenance": "struct<band:int,bucket:int,"
    "n_vectors:bigint,id_sum:bigint>",
    "streaming_knn_scores": "struct<query_id:bigint,neighbor_id:bigint,"
    "score:double,rank:int>",
    "streaming_pass_at_k_stats": "struct<task_id:bigint,n:bigint,"
    "c:bigint,pass_at_1:double,pass_at_5:double,pass_at_10:double>",
    "streaming_preference_bt_stats": "struct<source:string,wins:bigint,"
    "n_matches:bigint,pi_step1:double>",
    "streaming_upsert_snapshot": "struct<user_id:bigint,ts_us:bigint,"
    "event_id:bigint,event_type:string,value_cents:bigint>",
    "streaming_weighted_reservoir": "struct<doc_id:bigint,source:string,"
    "w:int,aes_key:double,rnk:int>",
}


@pytest.mark.parametrize("name", sorted(DRIVER_STREAMS))
def test_driver_stream_returns_typed_empty_frame(spark, empty_sf, name):
    from oracle_vector_search_spark.streaming.ops import SAVA_CLIPS

    df = REGISTRY[name][0](spark, empty_sf)
    assert df.schema.simpleString() == DRIVER_STREAMS[name]
    # the VAD stream synthesizes its clips and reads nothing from sf_dir
    n = SAVA_CLIPS if name == "streaming_audio_vad_admission" else 0
    assert df.count() == n
