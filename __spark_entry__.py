"""Driver contract (PySpark target).

``entry`` runs the flagship KG-extraction query at sf0.001; ``queries`` maps
the 11 ``scikg_spark.ops.kg`` queries and the training-data operators (text,
dedup, sampling, multimodal) to ``(spark, sf_dir) -> DataFrame`` callables;
``oracle_sql`` carries the DuckDB mirror of every SQL-expressible query. The
KG extraction/linking queries are rows-only by nature: their oracle is the
pure-Python reference decode gated in tests/test_pipeline_spark.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


_SHIPPED_APPS: set[str] = set()


def _repo_on_executors(spark: SparkSession) -> None:
    # driver-created sessions don't run through scikg's get_spark(); make the
    # package importable inside Python workers regardless. Once per
    # application: every query calls this, and re-zipping the package per
    # query would waste driver time.
    root = os.path.dirname(os.path.abspath(__file__))
    current = os.environ.get("PYTHONPATH", "")
    if root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + current if current else "")
    try:
        app = spark.sparkContext.applicationId
        if app in _SHIPPED_APPS:
            return
        from scikg_spark.jobs.package import build_zip

        spark.sparkContext.addPyFile(build_zip())
        _SHIPPED_APPS.add(app)
    except Exception:
        pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> pages -> statements -> decoded triples."""
    _repo_on_executors(spark)
    from scikg_spark.ops.kg import kg_triples

    return kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from scikg_spark.ops import dedup, kg, multimodal, sampling, text

    def wrap(fn):
        def run(spark, sf_dir):
            _repo_on_executors(spark)
            return fn(spark, sf_dir)
        return run

    # Extraction/linking queries are rows-only (decode semantics are non-SQL;
    # their oracle is the reference decode, gated in pytest); the downstream
    # aggregations read the materialized tuples/edges parquet and carry
    # DuckDB mirrors (kg.ORACLE).
    qs = {
        "kg_triples": kg.kg_triples,
        "kg_top_facts": kg.kg_top_facts,
        "kg_entity_nodes": kg.kg_entity_nodes,
        "kg_entity_edges": kg.kg_entity_edges,
        "kg_statement_stats": kg.kg_statement_stats,
        "kg_entity_cooccurrence": kg.kg_entity_cooccurrence,
        "kg_degree_stats": kg.kg_degree_stats,
        "kg_synonym_clusters": kg.kg_synonym_clusters,
        "kg_pagerank": kg.kg_pagerank,
        "kg_triangle_count": kg.kg_triangle_count,
        "kg_fact_conditions": kg.kg_fact_conditions,
        # text analysis
        "q_token_counts": text.q_token_counts,
        "q_quality": text.q_quality,
        "q_lang_stats": text.q_lang_stats,
        "q_fingerprint": text.q_fingerprint,
        "q_langid": text.q_langid,
        "q_token_regex": text.q_token_regex,
        "q_winnow_fingerprints": text.q_winnow_fingerprints,
        "q_repetition_stats": text.q_repetition_stats,
        "q_tfidf_topk": text.q_tfidf_topk,
        "q_pii_redact": text.q_pii_redact,
        "q_filter_policy": text.q_filter_policy,
        "q_url_dedup": text.q_url_dedup,
        # rows-only by nature: zlib exists in neither SQL engine
        "q_compression_ratio": text.q_compression_ratio,
        # rows-only by nature: LSTM-LM perplexity scoring (CCNet-style) and
        # the LM-gated composite policy; the LM is pinned by
        # tests/test_trained_checkpoints.py and the SQL-expressible policy
        # slice duels via q_filter_policy
        "q_lm_perplexity": text.q_lm_perplexity,
        "q_filter_policy_lm": text.q_filter_policy_lm,
        # deduplication + contamination
        "q_dedup_exact": dedup.q_dedup_exact,
        "q_minhash_dup_pairs": dedup.q_minhash_dup_pairs,
        "q_ngram_jaccard_pairs": dedup.q_ngram_jaccard_pairs,
        "q_simhash_buckets": dedup.q_simhash_buckets,
        "q_dedup_keep_policy": dedup.q_dedup_keep_policy,
        "q_contamination": dedup.q_contamination,
        "q_contamination_eval": dedup.q_contamination_eval,
        # dataset management: deterministic splits & stratified sampling
        "q_train_split": sampling.q_train_split,
        "q_split_stats": sampling.q_split_stats,
        "q_stratified_sample": sampling.q_stratified_sample,
        "q_group_sample_topk": sampling.q_group_sample_topk,
        # multimodal plumbing (decode stubbed behind a deterministic fake
        # container)
        "q_media_features": multimodal.q_media_features,
        "q_frame_sample_stats": multimodal.q_frame_sample_stats,
    }
    return {name: wrap(fn) for name, fn in qs.items()}


def oracle_sql() -> dict[str, str]:
    from scikg_spark.ops import dedup, kg, multimodal, sampling, text

    out: dict[str, str] = {}
    for module in (text, dedup, sampling, multimodal, kg):
        out.update(module.ORACLE)
        # entries that need file IO to render (e.g. the eval-gram parquet)
        # are deferred to a per-module hook so importing the ops package
        # never stats or writes anything
        if hasattr(module, "render_oracle"):
            out.update(module.render_oracle())
    return out
