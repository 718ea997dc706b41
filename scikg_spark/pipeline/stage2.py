"""Stage 2: statements -> tagged statements.

The paper's extraction chain per statement is tagger (rule, gold or MIMO
net) -> AR/TC/SH/DEL correction (pipeline flags, mirroring
self_train/self_train.py:49-53) -> tuple decoding. This module holds the
per-batch helpers of the first two links; :mod:`scikg_spark.pipeline.fused`
adds decoding and runs the whole chain in ONE mapInPandas pass.
:func:`tag_statements` runs the same helpers in its one pass and stops at
the tags, for the training and pseudo-label jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from scikg_spark.core.correct import ARCorrecter, correct_tags
from scikg_spark.core.tagger import rule_tag

TAGGED_SCHEMA = (
    "url string, doc_id string, stmt_id int, "
    "words array<string>, postags array<string>, caps array<string>, "
    "fact_tags array<string>, cond_tags array<string>"
)

_SPAN = "struct<text:string,start:int,end:int>"
TUPLES_SCHEMA = (
    "url string, doc_id string, stmt_id int, kind string, tuple_idx int, "
    "subj string, pred string, obj string, "
    f"s_c {_SPAN}, s_a {_SPAN}, p {_SPAN}, o_c {_SPAN}, o_a {_SPAN}"
)

# model mode -> the kind of tagger checkpoint its weights_path must hold
_MODELS = {"neural": "single", "probe": "probe", "ensemble": "ensemble"}


def _check_tagger(mode: str, gold: DataFrame | None,
                  weights_path: str | None) -> None:
    """Raise ValueError on tagger arguments no tagging pass can run with,
    including a checkpoint of another kind than the mode loads: the driver
    reads its npz keys, so a wrong file fails before any executor work."""
    if weights_path is not None and mode not in _MODELS:
        raise ValueError(
            "weights_path requires mode='neural', 'probe' or 'ensemble'")
    if mode in _MODELS and weights_path is None:
        raise ValueError(f"{mode} mode needs a trained weights_path")
    if mode == "gold" and gold is None:
        raise ValueError("gold mode needs a gold DataFrame")
    if mode not in ("rule", "gold", *_MODELS):
        raise ValueError(f"unknown tagger mode {mode!r}")
    if weights_path is not None:
        from scikg_spark.core.neural import _checkpoint_kind

        kind = _checkpoint_kind(weights_path)
        if kind != _MODELS[mode]:
            raise ValueError(
                f"mode {mode!r} needs a checkpoint of kind {_MODELS[mode]!r}; "
                f"{weights_path} is of kind {kind!r}")


def _tag_input(statements: DataFrame, mode: str, gold: DataFrame | None,
               weights_path: str | None) -> DataFrame:
    """Check the tagger arguments; -> the frame the tagging pass reads: the
    statements, with the gold tags broadcast-joined on (doc_id, stmt_id) in
    gold mode — the P/R gate path."""
    _check_tagger(mode, gold, weights_path)
    if mode == "gold":
        return statements.join(
            F.broadcast(gold.select("doc_id", "stmt_id", "fact_tags", "cond_tags")),
            on=["doc_id", "stmt_id"],
            how="inner",
        ).select(
            "url", "doc_id", "stmt_id", "words", "postags", "caps",
            "fact_tags", "cond_tags")
    return statements


def _load_tagger(mode: str, weights_path: str | None):
    """-> ``tag(words_col, postags_col, caps_col)``, one (fact_tags,
    cond_tags) pair per statement; None in gold mode, whose tags ride the
    input frame. Called inside the pass; a model loads on the first call,
    which :func:`_tagged` makes only for a non-empty batch, so a task with
    no statements opens no checkpoint. Nothing outlives the task."""
    if mode == "gold":
        return None
    if mode == "rule":
        return lambda words, postags, caps: map(rule_tag, words, postags, caps)
    model = None

    def tag(words, postags, caps):
        nonlocal model
        if model is None:
            from scikg_spark.core.neural import load_tagger

            # _check_tagger required weights_path and matched its kind
            model = load_tagger(weights_path)
        return model.predict_tags(words, postags, caps)

    return tag


def _corrector(ar: ARCorrecter | None, use_tc: bool, use_tcdel: bool,
               use_sh: bool, use_del: bool):
    """-> ``correct(fact_tags, cond_tags, words, postags)``: the corrected
    tags, or None for a statement the chain drops (self_train.py:117-203).
    None when no correction is asked for, so the pass skips the
    per-statement lower-casing."""
    if ar is None and not (use_tc or use_tcdel or use_sh or use_del):
        return None

    def correct(fact_tags, cond_tags, words, postags):
        return correct_tags(
            fact_tags, cond_tags, [w.lower() for w in words], postags,
            ar=ar, use_tc=use_tc, use_tcdel=use_tcdel, use_sh=use_sh,
            use_del=use_del)

    return correct


def _tagged(pdf, tag, correct):
    """One Arrow batch of statements -> ``(row position, words, fact_tags,
    cond_tags)`` per statement the corrections keep."""
    if not len(pdf):
        return  # empty batches degrade list cols to float64 (Arrow)
    words_col = [list(w) for w in pdf["words"]]
    pos_col = [list(p) for p in pdf["postags"]]
    if tag is None:  # gold: the tags rode in on the join
        pairs = [(list(ft), list(ct))
                 for ft, ct in zip(pdf["fact_tags"], pdf["cond_tags"])]
    else:
        pairs = tag(words_col, pos_col, [list(c) for c in pdf["caps"]])
    for i, (words, postags, (ft, ct)) in enumerate(zip(words_col, pos_col, pairs)):
        if correct is not None:
            res = correct(ft, ct, words, postags)
            if res is None:
                continue
            ft, ct = res
        yield i, words, ft, ct


def tag_statements(
    statements: DataFrame,
    mode: str = "rule",
    gold: DataFrame | None = None,
    ar: ARCorrecter | None = None,
    use_tc: bool = False,
    use_tcdel: bool = False,
    use_sh: bool = False,
    use_del: bool = False,
    weights_path: str | None = None,
) -> DataFrame:
    """Attach ``fact_tags``/``cond_tags``.

    mode='gold': broadcast-join pre-collapsed gold rows on (doc_id, stmt_id)
    — a pure join when no correction flag is set. mode='rule':
    deterministic mention-role tagger. mode='neural'/'ensemble'/'probe':
    the MIMO models (``weights_path``: a trained checkpoint of the mode's
    kind, required). Correction flags drop statements exactly like the
    reference's pseudo-labeling filter chain (self_train.py:117-203),
    inside the one tagging pass.
    """
    source = _tag_input(statements, mode, gold, weights_path)
    correct = _corrector(ar, use_tc, use_tcdel, use_sh, use_del)
    if mode == "gold" and correct is None:
        return source

    def gen(batches):
        tag = _load_tagger(mode, weights_path)
        for pdf in batches:
            kept = list(_tagged(pdf, tag, correct))
            if kept:
                yield pdf.iloc[[k[0] for k in kept]].assign(
                    fact_tags=[k[2] for k in kept],
                    cond_tags=[k[3] for k in kept])

    return source.mapInPandas(gen, schema=TAGGED_SCHEMA)
