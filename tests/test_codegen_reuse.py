"""Identical operations reuse the code they already compiled.

Spark keeps compiled generated classes in one JVM-wide LRU cache keyed
by the generated source.  An operation recompiles classes it already
had when that cache is smaller than the session's plan working set
(``spark.sql.codegen.cache.maxEntries`` in ``session.STATIC_CONFS``),
when AQE's codegen stage numbers land in class names
(``spark.sql.codegen.useIdInClassName`` in ``session.ENGINE_CONFS``),
or when the operation embeds a per-call value as a plan literal
(DESIGN.md, "Generated-code reuse").  Here the second of two identical
operations must compile nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.operators.retrieval import bm25_topk
from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
    ann_topk_ivf,
    hash_embed,
)
from haensel_ams_data_engineer_challenge_spark.plans.pipeline import run_pipeline
from haensel_ams_data_engineer_challenge_spark.sources import load_table


def _compiles(spark) -> int:
    """Classes the JVM has compiled since it started (cache misses)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiled_by(spark, op) -> int:
    before = _compiles(spark)
    op()
    return _compiles(spark) - before


def test_repeated_pipeline_run_compiles_nothing(spark, sf_dir, tmp_path):
    def fresh_sink_run(i):
        run_pipeline(spark, sf_dir, str(tmp_path / f"acj{i}"), str(tmp_path / f"rep{i}"),
                     report_csv_path=str(tmp_path / f"rep{i}.csv"))

    _compiled_by(spark, lambda: fresh_sink_run(0))
    assert _compiled_by(spark, lambda: fresh_sink_run(1)) == 0


def test_repeated_search_requests_compile_nothing(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = str(tmp_path / "ann_index")
    qid = docs.agg(F.min("doc_id")).first()[0]
    query = docs.filter(F.col("doc_id") == qid).withColumnRenamed("doc_id", "query_id")
    ann_topk_ivf(hash_embed(docs), hash_embed(query, id_col="query_id"),
                 k=5, index_path=index).collect()  # builds the persisted index

    def request_pair():
        bm25 = bm25_topk(docs, query, k=5, exclude_self=False).collect()
        ann = ann_topk_ivf(hash_embed(docs), hash_embed(query, id_col="query_id"),
                           k=5, index_path=index).collect()
        assert len(bm25) == len(ann) == 5

    _compiled_by(spark, request_pair)
    assert _compiled_by(spark, request_pair) == 0
