"""A repeated query pays nothing the session has already paid: no class
compiled again, no schema inference job run again."""

from __future__ import annotations

import bench
from sqldataintegrationfunctiontriggerapp_spark import plans
from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.plans import _util

# the perfbench llm_pipeline entries
_NAMES = ("bm25_topk", "hybrid_rrf_fusion", "lm_bigram_score",
          "multimodal_decode_gif")


def _compiles_in_pass(spark, sf_dir) -> int:
    """Classes compiled by one pass over _NAMES, with this dir's shared
    stages dropped first so the pass rebuilds them."""
    app = spark.sparkContext.applicationId
    for key in [k for k in _util._STAGE_CACHE if k[:2] == (app, sf_dir)]:
        _util.drop_stage(spark, sf_dir, key[2])
    before = bench.codegen_counts(spark)[0]
    for name in _NAMES:
        plans.QUERIES[name](spark, sf_dir).write.mode("overwrite") \
            .format("noop").save()
        spark.catalog.clearCache()
    return bench.codegen_counts(spark)[0] - before


def test_second_pass_compiles_nothing_and_reopens_run_no_job(
        spark, sf_dir, count_jobs):
    _compiles_in_pass(spark, sf_dir)
    assert _compiles_in_pass(spark, sf_dir) == 0
    _, jobs = count_jobs(load_table, spark, sf_dir, "documents")
    assert jobs == 0
