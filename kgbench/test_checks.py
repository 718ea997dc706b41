"""The benchmark's output checks must catch a corrupted result.

Run from the repository root: ``python3 -m pytest kgbench -q -p no:cacheprovider``.
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import inputs  # noqa: E402


@pytest.fixture(scope="module")
def pages():
    return inputs.pages_rows(inputs.build_corpus(7, 30, 300), 0)


@pytest.fixture(scope="module")
def oracle(pages):
    return checks.Oracle().add_pages(pages)


def _program_rows(pages):
    """Tuple rows as the program's fused pass shapes them."""
    from scikg_spark.core.parsing import parse_annotated
    from scikg_spark.core.tagger import rule_tag
    from scikg_spark.core.textextract import extract_text
    from scikg_spark.pipeline.fused import _decode_rows

    rows = []
    for page in pages:
        url = page["url"]
        for i, line in enumerate(extract_text(page["html"]).split("\n")):
            words, postags, caps = parse_annotated(line, lower=False)
            ft, ct = rule_tag(words, postags, caps)
            rows += _decode_rows(url, url.rsplit("/", 1)[-1], i + 1, words, ft, ct)
    return [(r[0], r[2], r[3], r[4], r[5], r[6], r[7]) for r in rows], rows


def test_oracle_matches_program_rows(pages, oracle):
    rows, full = _program_rows(pages)
    assert rows and oracle.statements > 0
    assert checks.check_tuples(rows, oracle) == []
    mentions = {r[i]["text"] for r in full for i in (8, 11) if r[i] is not None}
    assert mentions == oracle.mentions


@pytest.mark.parametrize("corrupt", ["drop", "duplicate", "swap_kind",
                                     "edit_obj", "shift_stmt"])
def test_tuple_corruption_is_caught(pages, oracle, corrupt):
    rows, _ = _program_rows(pages)
    bad = list(rows)
    if corrupt == "drop":
        bad.pop(3)
    elif corrupt == "duplicate":  # same count, different multiset
        bad[3] = bad[4]
    elif corrupt == "swap_kind":
        r = bad[5]
        bad[5] = (r[0], r[1], "c" if r[2] == "f" else "f") + r[3:]
    elif corrupt == "edit_obj":
        bad[7] = bad[7][:6] + (bad[7][6] + "x",)
    else:
        bad[2] = (bad[2][0], bad[2][1] + 1) + bad[2][2:]
    assert checks.check_tuples(bad, oracle)


def test_link_checks(oracle):
    phrases = sorted(oracle.mentions)
    assert checks.check_links(10, 10, phrases, oracle) == []
    assert checks.check_links(9, 10, phrases, oracle)  # an edge row lost
    assert checks.check_links(10, 10, phrases + phrases[:1], oracle)  # 2 ids
    assert checks.check_links(10, 10, phrases[1:], oracle)  # mention unlinked
    assert checks.check_links(10, 10, phrases + ["zzz"], oracle)


def test_query_check():
    duck = pd.DataFrame({"entity_id": [1, 2, 3], "rank": [0.5, 0.25, 0.125]})
    same = pd.DataFrame({"rank": [0.125, 0.5, 0.25], "entity_id": [3, 1, 2]})
    assert checks.check_query("q", same, duck) == []
    assert checks.check_query("q", same.assign(rank=[0.125, 0.5, 0.26]), duck)
    assert checks.check_query("q", same.iloc[:2], duck)
    assert checks.check_query("q", same.rename(columns={"rank": "r"}), duck)


def test_warehouse_check_catches_corrupt_snapshot(tmp_path, pages, oracle):
    """End to end: a committed warehouse passes; the same warehouse with one
    tuples row rewritten, or its entity map deduplicated away, fails."""
    import workloads
    from pyspark.sql import functions as F
    from scikg_spark.pipeline.runner import run_pipeline
    from scikg_spark.pipeline.session import get_spark
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    spark = get_spark(cores=2)
    src = str(tmp_path / "pages")
    workloads.write_pages(pages, src, files=2)
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, spark.read.parquet(src), cat, resume=False)
    assert workloads.warehouse_problems(spark, cat, oracle) == []

    clean = str(tmp_path / "clean")
    shutil.copytree(cat.base_dir, clean)
    t = cat.read("tuples")
    edited = t.withColumn("obj", F.when(
        F.col("stmt_id") == 1, F.concat("obj", F.lit("x"))).otherwise(F.col("obj")))
    cat.write(edited.localCheckpoint(), "tuples", partition_by=("kind",))
    assert workloads.warehouse_problems(spark, cat, oracle)

    cat = SnapshotCatalog(spark, clean)
    m = cat.read("entity_map")
    cat.write(m.filter(F.col("phrase") != m.first()["phrase"]).localCheckpoint(),
              "entity_map")
    assert workloads.warehouse_problems(spark, cat, oracle)
