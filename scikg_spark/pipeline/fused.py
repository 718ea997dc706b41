"""Fused extraction passes — the scale-critical execution mode.

Chained mapInPandas operators each hold their own Python worker per task, so
a 3-deep Python chain at 32 task slots runs 96 interpreter processes and
drowns in pipe/context-switch overhead (measured: 22% sys time, 41% idle,
and 8-core runs BEATING 32-core runs on this box). Two rules follow for a
1000-executor cluster:

  1. fuse consecutive Python work into ONE mapInPandas per stage boundary
     (this module);
  2. materialize (snapshot) between stages that must stay separate — the
     runner's per-stage Iceberg/parquet checkpoints already do that, which
     also buys resumability.

Measured on local[8] -> local[32], same input: unfused 3-chain scaled at
0.22 efficiency; fused single-pass at ~0.6-0.7 (the box's pure-Python
multiprocessing ceiling is ~0.72 — VM frequency/steal bounds it).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from scikg_spark.core.decoder import NIL, post_decode
from scikg_spark.core.serialize import serialize_tuple
from scikg_spark.pipeline.stage1 import _page_html, _statement_batches
from scikg_spark.pipeline.stage2 import (
    TUPLES_SCHEMA, _corrector, _load_tagger, _tag_input, _tagged)


def _span_dict(slot):
    if slot == NIL:
        return None
    return {"text": slot[0], "start": slot[1], "end": slot[2]}


def _decode_rows(url, doc_id, stmt_id, words, fact_tags, cond_tags):
    out = []
    for kind, tags in (("f", fact_tags), ("c", cond_tags)):
        for idx, rec in enumerate(post_decode(words, tags)):
            subj, pred, obj = serialize_tuple(rec)
            out.append((
                url, doc_id, stmt_id, kind, idx + 1, subj, pred, obj,
                _span_dict(rec[0]), _span_dict(rec[1]), _span_dict(rec[2]),
                _span_dict(rec[3]), _span_dict(rec[4])))
    return out


_COLS = ["url", "doc_id", "stmt_id", "kind", "tuple_idx",
         "subj", "pred", "obj", "s_c", "s_a", "p", "o_c", "o_a"]


def _tuple_batches(batches, tag, correct):
    """Statement batches -> tuple batches: tag, correct, decode."""
    for pdf in batches:
        urls, doc_ids = pdf["url"].tolist(), pdf["doc_id"].tolist()
        stmt_ids = pdf["stmt_id"].tolist()
        rows = []
        for i, words, ft, ct in _tagged(pdf, tag, correct):
            rows.extend(_decode_rows(urls[i], doc_ids[i], stmt_ids[i], words, ft, ct))
        if rows:
            yield pd.DataFrame(rows, columns=_COLS)


def extract_tuples(statements: DataFrame, ar=None, use_tc=False,
                   use_tcdel=False, use_sh=False, use_del=False,
                   tagger: str = "rule", gold: DataFrame | None = None,
                   weights_path: str | None = None) -> DataFrame:
    """statements -> tuples: tag + correct + decode in ONE Python pass.
    ``tagger`` takes every mode of
    :func:`~scikg_spark.pipeline.stage2.tag_statements`, with the same
    ``gold``/``weights_path`` rules; gold tags are broadcast-joined on ahead
    of the pass."""
    source = _tag_input(statements, tagger, gold, weights_path)
    correct = _corrector(ar, use_tc, use_tcdel, use_sh, use_del)

    def gen(batches):
        return _tuple_batches(batches, _load_tagger(tagger, weights_path), correct)

    return source.mapInPandas(gen, schema=TUPLES_SCHEMA)


def pages_to_tuples(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """pages -> tuples in ONE Python pass (extract_text + parse + rule tag +
    decode, no correction), for builds that keep no statements table:
    ``ops.kg.materialize_kg_tables`` and bench.py's live rows. The
    checkpointing runner keeps the two-pass form, because it commits the
    statements for resume and catch-up."""

    def gen(batches):
        return _tuple_batches(
            _statement_batches(batches), _load_tagger("rule", None),
            correct=None)

    return _page_html(pages, lang).mapInPandas(gen, schema=TUPLES_SCHEMA)
