"""Stage 3 (entity linking) and stage 4 (snapshots/lineage/resume) tests."""

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from scikg_spark.pipeline.stage1 import build_pages_from_documents
from scikg_spark.pipeline.stage3 import (
    connected_components,
    exact_edges,
    lsh_candidate_pairs,
    link_entities,
    mention_phrases,
    merge_synonyms,
    verify_jaccard,
)
from scikg_spark.pipeline.stage4 import SnapshotCatalog
from scikg_spark.pipeline.runner import run_pipeline

SF_DIR = "/root/testdata/sf0.001"


def phrases_df(spark, phrases):
    df = spark.createDataFrame([(p,) for p in phrases], "phrase string")
    return df.select(
        "phrase",
        F.xxhash64("phrase").alias("phrase_id"),
        F.lower(F.regexp_replace("phrase", "_", " ")).alias("norm"))


class TestLinking:
    def test_exact_edges_group_case_variants(self, spark):
        df = phrases_df(spark, ["T_cells", "t_cells", "T_CELLS", "B_cells"])
        edges = exact_edges(df).collect()
        assert len(edges) == 2  # star over the 3 t-cell variants

    def test_lsh_finds_near_duplicates(self, spark):
        df = phrases_df(spark, [
            "immune_response_in_mice", "immune_responses_in_mice",
            "completely_different_phrase"])
        pairs = lsh_candidate_pairs(df, max_bucket=16)
        verified = verify_jaccard(pairs, df, threshold=0.6).collect()
        assert len(verified) == 1

    def test_connected_components_chain(self, spark):
        # chain 1-2-3, isolated 4 -> comps {1,2,3}->1, {4}->4
        edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        verts = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
        comp = {r.id: r.comp for r in connected_components(edges, verts).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 4}

    def test_link_entities_end_to_end(self, spark):
        from scikg_spark.pipeline.fused import extract_tuples
        from scikg_spark.pipeline.stage1 import extract_statements

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)
        tuples = extract_tuples(
            extract_statements(build_pages_from_documents(docs)))
        nodes, phrase_map = link_entities(tuples)
        n_phrases = mention_phrases(tuples).count()
        assert phrase_map.count() == n_phrases  # every phrase mapped
        assert 0 < nodes.count() <= n_phrases
        # entity ids are component minima: stable across reruns
        again, _ = link_entities(tuples)
        assert sorted(r.entity_id for r in nodes.collect()) == \
               sorted(r.entity_id for r in again.collect())


@pytest.fixture(scope="module")
def sf_tuples(spark):
    """Tuples of the whole sf0.001 corpus, materialized once."""
    from scikg_spark.pipeline.fused import extract_tuples
    from scikg_spark.pipeline.stage1 import extract_statements

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return extract_tuples(
        extract_statements(build_pages_from_documents(docs))).localCheckpoint()


def _mention_tuples(spark, phrases):
    """A tuples frame whose subject mentions are exactly ``phrases``."""
    return spark.createDataFrame([(p,) for p in phrases], "t string").select(
        F.struct(F.col("t").alias("text")).alias("s_c"),
        F.struct(F.lit(None).cast("string").alias("text")).alias("o_c"))


class TestLinkingRegimes:
    """link_entities gives the same entity_map and entity_nodes (schema and
    row multiset) in its driver regime and in its distributed one, which
    DRIVER_PHRASES = 0 forces; so do the synonym merges of the two."""

    @staticmethod
    def _both(monkeypatch, tuples, bounds=(0,), synonyms=None, **kw):
        """Links ``tuples`` in the driver regime, then once with
        DRIVER_PHRASES set to each of ``bounds``, each of which must send it
        to the distributed path; all outputs must agree. With ``synonyms``,
        the merged entity_nodes join the outputs compared and come back as
        ``{canonical: (entity_id, n_phrases)}``; else the entity_map comes
        back as ``{phrase: entity_id}``."""
        from scikg_spark.pipeline import stage3

        def frames():
            nodes, pmap = link_entities(tuples, **kw)
            dfs = [nodes, pmap]
            if synonyms is not None:
                dfs.append(merge_synonyms(nodes, pmap, synonyms))
            return [(df.schema, sorted(map(tuple, df.collect()))) for df in dfs]

        def refuse(*a, **k):
            raise AssertionError("input is driver-sized")

        with monkeypatch.context() as m:
            m.setattr(stage3, "_link_distributed", refuse)
            driver = frames()
        distributed = stage3._link_distributed
        for bound in bounds:
            calls = []
            with monkeypatch.context() as m:
                m.setattr(stage3, "DRIVER_PHRASES", bound)
                m.setattr(stage3, "_link_distributed",
                          lambda *a: calls.append(1) or distributed(*a))
                other = frames()
            assert calls, bound
            assert driver == other, bound
        if synonyms is not None:
            return {c: (e, n) for e, c, n in driver[2][1]}
        return {p: e for p, _, e in driver[1][1]}

    def test_sf_tuples(self, spark, sf_tuples, monkeypatch):
        ids = self._both(monkeypatch, sf_tuples)
        assert len(ids) == mention_phrases(sf_tuples).count()

    def test_without_lsh(self, spark, sf_tuples, monkeypatch):
        self._both(monkeypatch, sf_tuples, use_lsh=False)

    def test_with_synonyms(self, spark, sf_tuples, monkeypatch):
        from scikg_spark.ops import kg

        merged = self._both(monkeypatch, sf_tuples,
                            synonyms=kg.load_synonyms(spark))
        n_linked = link_entities(sf_tuples)[0].count()
        assert len(merged) < n_linked
        assert sum(n for _, n in merged.values()) \
            == mention_phrases(sf_tuples).count()

    def test_crafted_edge_cases(self, spark, monkeypatch):
        # 70 norms with one shingle set, all in one hot prefix shingle:
        # Jaccard 1.0 links them all (capped LSH buckets used to drop them)
        wide = ["abc" * k for k in range(2, 72)]
        short = ["ab", "abc", "x"]  # norms of shingle_k chars or fewer
        variants = ["T_cells", "t cells", "T CELLS", "t_Cells"]
        near = ["regulatory_t_cell_activation",  # Jaccard 0.828
                "regulatory_t_cells_activation"]
        below = ["immune_response_in_mice",  # Jaccard 0.792
                 "immune_responses_in_mice"]
        # Python's lower: 'ΟΔΟΣ' -> 'οδος' (final sigma); 'İ' -> 'i' plus a
        # combining dot, so 'İzmir' and 'izmir' share 2 of 5 shingles
        accents = ["Straße", "straße", "STRASSE", "ΟΔΟΣ", "οδος",
                   "İzmir", "izmir"]
        phrases = wide + short + variants + near + below + accents
        tuples = _mention_tuples(spark, phrases)
        # 0 skips the driver regime; 5 sends it over the bound
        ids = self._both(monkeypatch, tuples, bounds=(0, 5))
        assert len({ids[p] for p in wide}) == 1
        assert len({ids[p] for p in short}) == len(short)
        assert len({ids[p] for p in variants}) == 1
        assert ids[near[0]] == ids[near[1]]  # a Jaccard edge
        assert ids[below[0]] != ids[below[1]]
        assert ids["Straße"] == ids["straße"] != ids["STRASSE"]
        assert ids["ΟΔΟΣ"] == ids["οδος"]
        assert ids["İzmir"] != ids["izmir"]

        # a merged pair; an absent, a same-norm and a null one; and a chain
        # through the Jaccard edge between the two `near` phrases
        pairs = [("T_CELLS", "immune_response_in_mice"),
                 ("ab", "no_such_mention"), ("abc", "ABC"), (None, "x"),
                 ("regulatory_t_cells_activation", "immune_responses_in_mice")]
        pairs += [(f"absent_{i}", f"absent_{i + 1}") for i in range(100)]
        syn = spark.createDataFrame(pairs, "phrase_a string, phrase_b string")
        merged = self._both(monkeypatch, tuples, bounds=(0, 5), synonyms=syn)
        assert merged["immune response in mice"] == (
            min(ids["t cells"], ids[below[0]]), len(variants) + 1)
        assert merged["immune responses in mice"] == (
            min(ids[near[0]], ids[below[1]]), 3)
        assert all(merged[p] == (ids[p], 1) for p in short)
        assert len(merged) == len(set(ids.values())) - 2


def _rule_labels(phrases, ids, threshold=0.8):
    """The linking rule by brute force: norm = '_' -> ' ' then str.lower;
    an edge for equal norms and for every pair of norms whose 3-char
    shingle sets have Jaccard >= threshold; each phrase labelled with the
    minimum of ``ids`` over its connected component."""
    norm = {p: p.replace("_", " ").lower() for p in phrases}
    norms = sorted(set(norm.values()))
    sh = {n: {n} if len(n) <= 3 else {n[i:i + 3] for i in range(len(n) - 2)}
          for n in norms}
    parent = {n: n for n in norms}

    def find(n):
        while parent[n] != n:
            n = parent[n]
        return n

    for i, a in enumerate(norms):
        for b in norms[i + 1:]:
            x, y = sh[a], sh[b]
            if len(x & y) / float(len(x | y)) >= threshold:
                parent[find(a)] = find(b)
    label = {}
    for p in phrases:
        r = find(norm[p])
        label[r] = min(label.get(r, ids[p]), ids[p])
    return {p: label[find(norm[p])] for p in phrases}


# words that lower-case past ASCII: 'ß' stays, final 'Σ' -> 'ς', 'İ' -> two
# code points; and norms of 3 chars or fewer
_SPECIAL = ["Straße", "STRASSE", "straße", "ΟΔΟΣ", "οδος", "Οδός", "İzmir",
            "izmir", "IZMIR", "ab", "x", "abc", "a_b"]


@st.composite
def _vocabularies(draw):
    """Small phrase vocabularies: words over a 7-char alphabet (so shingles
    are hot and shared), the words above, and case, '_' and one-letter
    suffix variants of them."""
    base = draw(st.lists(st.one_of(st.text("abcAB_ ", min_size=1, max_size=12),
                                   st.sampled_from(_SPECIAL)), max_size=16))
    out = set(base)
    for w in base:
        if draw(st.booleans()):
            out.add(w.upper())
        if draw(st.booleans()):
            out.add(w.replace(" ", "_").swapcase())
        if draw(st.booleans()):
            out.add(w + draw(st.sampled_from("as")))
    return sorted(out)


class TestLinkingRule:
    """Both regimes link exactly what the rule names: their entity labels
    equal a union-find over brute-force all-pairs Jaccard edges."""

    @staticmethod
    def _check(spark, vocab, labels):
        tuples = _mention_tuples(spark, vocab)
        ids = dict(mention_phrases(tuples).select("phrase", "phrase_id")
                   .collect())
        assert labels(tuples) == _rule_labels(vocab, ids)

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(vocab=_vocabularies())
    def test_driver_regime(self, spark, monkeypatch, vocab):
        from scikg_spark.pipeline import stage3

        def refuse(*a, **k):
            raise AssertionError("input is driver-sized")

        with monkeypatch.context() as m:
            m.setattr(stage3, "_link_distributed", refuse)
            self._check(spark, vocab,
                        lambda t: {r.phrase: r.entity_id
                                   for r in link_entities(t)[1].collect()})

    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(vocab=_vocabularies())
    def test_distributed_regime(self, spark, monkeypatch, vocab):
        self._check(spark, vocab,
                    lambda t: TestLinkingRegimes._both(monkeypatch, t))


class TestSnapshots:
    def test_write_read_roundtrip_and_lineage(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        df = spark.range(100).withColumn("v", F.col("id") * 2)
        manifest = cat.write(df, "t1")
        assert manifest["status"] == "committed"
        assert manifest["rows"] == 100
        # the fold observed inside the write job equals one re-derived from
        # the committed data
        assert SnapshotCatalog._partition_lineage(cat.read("t1")) == {
            "rows": 100, "checksum": manifest["checksum"]}
        assert cat.read("t1").count() == 100

    def test_snapshot_increments(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        cat.write(spark.range(5), "t")
        m2 = cat.write(spark.range(7), "t")
        assert m2["snapshot_id"] == 2 and m2["parent"] == 1
        assert cat.read("t").count() == 7

    def test_time_travel_history_rollback(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        cat.write(spark.range(5), "t")
        cat.write(spark.range(9), "t")
        # time travel: every committed snapshot stays readable
        assert cat.read("t").count() == 9
        assert cat.read("t", snapshot_id=1).count() == 5
        hist = cat.history("t")
        assert [m["snapshot_id"] for m in hist] == [1, 2]
        assert hist[1]["parent"] == 1
        # rollback is a pointer swap; data untouched
        cat.rollback("t", 1)
        assert cat.read("t").count() == 5
        # a write after rollback gets a FRESH id (snap-2 is never clobbered)
        m3 = cat.write(spark.range(3), "t")
        assert m3["snapshot_id"] == 3 and m3["parent"] == 1
        assert cat.read("t", snapshot_id=2).count() == 9
        with pytest.raises(FileNotFoundError):
            cat.read("t", snapshot_id=99)

    def test_incremental_read(self, spark, tmp_path):
        """Iceberg incremental-consumption semantics: (added, removed)
        between two snapshots, multiset-exact, default to the pointer."""
        from pyspark.sql import functions as F

        cat = SnapshotCatalog(spark, str(tmp_path))
        cat.write(spark.range(5), "t")                       # 0..4
        cat.write(spark.range(8).filter(F.col("id") != 2), "t")  # 0..7 minus 2
        added, removed = cat.incremental_read("t", from_snapshot=1)
        assert sorted(r["id"] for r in added.collect()) == [5, 6, 7]
        assert sorted(r["id"] for r in removed.collect()) == [2]
        # explicit to_snapshot and the no-change identity
        a2, r2 = cat.incremental_read("t", from_snapshot=2, to_snapshot=2)
        assert a2.count() == 0 and r2.count() == 0

    def test_expire_snapshots(self, spark, tmp_path):
        """Iceberg expireSnapshots semantics: old snapshots vacuumed, the
        keep_last newest AND the current pointer always survive."""
        cat = SnapshotCatalog(spark, str(tmp_path))
        for n in (3, 5, 7, 9):
            cat.write(spark.range(n), "t")
        # roll back to snap-2 so current pointer != newest
        cat.rollback("t", 2)
        removed = cat.expire_snapshots("t", keep_last=2)
        assert removed == [1]  # 3,4 newest; 2 is the live pointer
        assert cat.read("t").count() == 5          # live data intact
        assert cat.read("t", snapshot_id=4).count() == 9
        assert [m["snapshot_id"] for m in cat.history("t")] == [2, 3, 4]
        with pytest.raises(FileNotFoundError):
            cat.read("t", snapshot_id=1)           # expired = gone
        # next write still gets a fresh id above the surviving history
        assert cat.write(spark.range(2), "t")["snapshot_id"] == 5

        # append snapshots share their parent's data directories: expiring
        # the parents keeps every directory the live snapshot lists
        from scikg_spark.pipeline.stage4 import verify_snapshot

        cat.write(spark.range(3), "a")
        cat.write(spark.range(3, 5), "a", append=True)
        cat.write(spark.range(5, 9), "a", append=True)
        assert cat.expire_snapshots("a", keep_last=1) == [1, 2]
        assert sorted(r["id"] for r in cat.read("a").collect()) == list(range(9))
        assert verify_snapshot(cat, "a")["ok"]
        # once no kept manifest lists them, the shared directories go too
        cat.write(spark.range(2), "a")
        assert cat.expire_snapshots("a", keep_last=1) == [3]
        assert sorted(os.listdir(tmp_path / "a")) == [
            ".lock", "manifest-4.json", "manifest.json", "snap-4"]

    def test_partitioned_commit_writes_one_file_per_value(self, spark,
                                                          tmp_path):
        """A partitioned commit is hash-distributed by its partition
        columns: a frame spread over several input partitions still lands
        as one file per partition value, on a fresh write and on an
        append, and the fold the write observed matches its re-read."""
        from scikg_spark.pipeline.stage4 import verify_snapshot

        def split_input(name, ids, kinds):
            rows = spark.range(*ids).select(
                F.col("id"),
                F.element_at(F.array(*map(F.lit, kinds)),
                             (F.col("id") % len(kinds) + 1).cast("int"))
                .alias("kind"),
                (F.col("id") % 4).cast("int").alias("url_bucket"))
            path = str(tmp_path / name)
            rows.repartition(4).write.parquet(path)
            df = spark.read.parquet(path)
            assert df.rdd.getNumPartitions() >= 4
            return df

        cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
        for df, append in ((split_input("base", (0, 400), ["f", "c"]), False),
                           (split_input("delta", (400, 480), ["f"]), True)):
            m = cat.write(df, "e", partition_by=("kind", "url_bucket"),
                          append=append)
            snap = tmp_path / "wh" / "e" / f"snap-{m['snapshot_id']}"
            files = sorted(str(p.parent.relative_to(snap))
                           for p in snap.rglob("*.parquet"))
            values = sorted(f"kind={r.kind}/url_bucket={r.url_bucket}" for r in
                            df.select("kind", "url_bucket").distinct().collect())
            assert files == values and m["added_files"] == len(values)
            assert verify_snapshot(cat, "e")["ok"]
            assert SnapshotCatalog._partition_lineage(cat.read("e")) == {
                "rows": m["rows"], "checksum": m["checksum"]}
        assert m["rows"] == 480 and len(m["dirs"]) == 2

    def test_racing_commits(self, spark, tmp_path, monkeypatch):
        """Two writers commit to one table from the same parent: they claim
        different snapshot ids, exactly one pointer swap wins, the other
        raises, and the loser's rows are never readable."""
        import threading

        from scikg_spark.pipeline.stage4 import CommitConflict, verify_snapshot

        cat = SnapshotCatalog(spark, str(tmp_path))
        cat.write(spark.range(5), "t")
        barrier = threading.Barrier(2, timeout=300)
        claimed, results = {}, {}
        real_swap = SnapshotCatalog._swap_pointer

        def swap(self, table, manifest):
            claimed[manifest["rows"]] = manifest["snapshot_id"]
            barrier.wait()  # both writers hold the same parent here
            return real_swap(self, table, manifest)

        monkeypatch.setattr(SnapshotCatalog, "_swap_pointer", swap)

        def commit(n):
            try:
                results[n] = cat.write(spark.range(n), "t")
            except CommitConflict as exc:
                results[n] = exc

        threads = [threading.Thread(target=commit, args=(n,)) for n in (7, 9)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)

        assert len(set(claimed.values())) == 2
        won = [n for n, r in results.items() if isinstance(r, dict)]
        lost = [n for n, r in results.items() if isinstance(r, CommitConflict)]
        assert len(won) == 1 and len(lost) == 1, results
        assert cat.manifest("t")["snapshot_id"] == claimed[won[0]]
        assert verify_snapshot(cat, "t")["ok"]
        assert cat.read("t").count() == won[0]
        assert [m["snapshot_id"] for m in cat.history("t")] == [1, claimed[won[0]]]
        with pytest.raises(FileNotFoundError):
            cat.read("t", snapshot_id=claimed[lost[0]])
        assert not os.path.exists(tmp_path / "t" / f"snap-{claimed[lost[0]]}")

    def test_incomplete_table_not_readable(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        os.makedirs(tmp_path / "broken" / "snap-1")
        assert not cat.is_complete("broken")
        with pytest.raises(FileNotFoundError):
            cat.read("broken")


class TestResume:
    def test_kill_and_resume(self, spark, tmp_path):
        """Run stages 1-2, 'kill' before stage 3 completes, rerun: completed
        stages are served from snapshots (not recomputed) and final tables
        are identical to a clean run."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
        pages = build_pages_from_documents(docs).cache()

        base = str(tmp_path / "wh")
        cat = SnapshotCatalog(spark, base)
        run_pipeline(spark, pages, catalog=cat, use_lsh=False)

        # simulate a crash between stage-2 commit and stage-3 commit: wipe the
        # later tables' manifests
        for t in ("entity_nodes", "entity_map", "edges"):
            os.remove(os.path.join(base, t, "manifest.json"))

        cat2 = SnapshotCatalog(spark, base)
        run_pipeline(spark, pages, catalog=cat2, use_lsh=False)

        metrics = [json.loads(l) for l in open(os.path.join(base, "_metrics.jsonl"))]
        second = metrics[5:]
        resumed = {m["stage"] for m in second if m.get("resumed")}
        assert {"statements", "tuples"} <= resumed          # not recomputed
        assert "edges" not in resumed                        # recomputed

        # identical final table vs a clean-room run
        clean = SnapshotCatalog(spark, str(tmp_path / "clean"))
        run_pipeline(spark, pages, catalog=clean, use_lsh=False)
        a = sorted(map(str, cat2.read("edges").collect()))
        b = sorted(map(str, clean.read("edges").collect()))
        assert a == b


def test_committed_edges_prune_partitions(spark, tmp_path):
    """The runner commits ``edges`` partitioned by (kind, url_bucket): a
    kind/bucket predicate on a consumer's read reaches the scan as
    PartitionFilters (no full-table read at 10^12 docs), and the rows
    survive the partitioned round-trip."""
    from scikg_spark.pipeline.stage4 import verify_snapshot

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, build_pages_from_documents(docs), catalog=cat,
                 use_lsh=False)
    assert cat.manifest("edges")["partition_by"] == ["kind", "url_bucket"]
    assert verify_snapshot(cat, "edges")["ok"]
    facts = cat.read("edges").filter("kind = 'f' AND url_bucket = 2")
    plan = facts._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "kind" in plan.split("PartitionFilters")[1][:200]
    n_facts = cat.read("tuples").filter("kind = 'f'").count()
    assert n_facts > 0
    assert cat.read("edges").filter("kind = 'f'").count() == n_facts


class TestSynonymEdges:
    def test_synonyms_merge_components(self, spark):
        from scikg_spark.pipeline.stage2 import TUPLES_SCHEMA

        def span(text, start):
            return {"text": text, "start": start, "end": start + 1}

        rows = [
            ("u1", "d1", 1, "f", 1, "tumor#0", "causes#1", "pain#2",
             span("tumor", 0), None, span("causes", 1), span("pain", 2), None),
            ("u1", "d1", 2, "f", 1, "neoplasm#0", "causes#1", "ache#2",
             span("neoplasm", 0), None, span("causes", 1), span("ache", 2), None),
        ]
        tuples = spark.createDataFrame(rows, schema=TUPLES_SCHEMA)
        syn = spark.createDataFrame(
            [("tumor", "neoplasm")], "phrase_a string, phrase_b string")

        nodes, pmap = link_entities(tuples, use_lsh=False)
        with_syn = merge_synonyms(nodes, pmap, syn)
        assert with_syn.count() == nodes.count() - 1  # two phrases merged
        ids = {r.phrase: r.entity_id for r in pmap.collect()}
        merged = {r.canonical: (r.entity_id, r.n_phrases)
                  for r in with_syn.collect()}
        assert merged["neoplasm"] == (min(ids["tumor"], ids["neoplasm"]), 2)
        assert merged["pain"] == (ids["pain"], 1)
        assert merged["ache"] == (ids["ache"], 1)


class TestCCNonConvergence:
    def test_raises_on_diameter_exceeding_budget(self, spark):
        import pytest

        from scikg_spark.pipeline.stage3 import connected_components

        # chain of 12 nodes, max_iter=1 -> 2 hops: cannot converge, and split
        # labels must not come back
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "src long, dst long")
        verts = spark.createDataFrame([(i,) for i in range(12)], "id long")
        with pytest.raises(RuntimeError, match="did not converge within 1 "):
            connected_components(edges, verts, max_iter=1, driver_threshold=0)

    def test_long_chain_converges_within_budget(self, spark):
        from scikg_spark.pipeline.stage3 import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "src long, dst long")
        verts = spark.createDataFrame([(i,) for i in range(12)], "id long")
        comp = connected_components(edges, verts, max_iter=10,
                                    driver_threshold=0).collect()
        assert {r.comp for r in comp} == {0}

    def test_driver_union_find_matches_distributed(self, spark):
        import random

        from scikg_spark.pipeline.stage3 import connected_components

        rng = random.Random(7)
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
        e = spark.createDataFrame(edges, "src long, dst long")
        v = spark.createDataFrame([(i,) for i in range(40)], "id long")
        via_driver = {r.id: r.comp
                      for r in connected_components(e, v).collect()}
        distributed = {r.id: r.comp
                       for r in connected_components(
                           e, v, driver_threshold=0).collect()}
        assert via_driver == distributed
        # isolated vertices map to themselves on both paths
        assert all(via_driver[i] == i for i in range(40)
                   if all(i not in p for p in edges))

        # a self-loop and an isolated vertex, on both paths
        e = spark.createDataFrame([(5, 5), (1, 2)], "src long, dst long")
        v = spark.createDataFrame([(i,) for i in (1, 2, 5, 9)], "id long")
        for threshold in (1 << 18, 0):
            comp = {r.id: r.comp for r in connected_components(
                e, v, driver_threshold=threshold).collect()}
            assert comp == {1: 1, 2: 1, 5: 5, 9: 9}, threshold


class TestSnapshotVerify:
    def test_intact_snapshot_verifies(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from scikg_spark.pipeline.stage4 import SnapshotCatalog, verify_snapshot

        cat = SnapshotCatalog(spark, str(tmp_path))
        cat.write(spark.range(50).withColumn("v", F.col("id") * 3), "t")
        assert verify_snapshot(cat, "t")["ok"]

    def test_corruption_detected(self, spark, tmp_path):
        import glob
        import os

        from pyspark.sql import functions as F

        from scikg_spark.pipeline.stage4 import SnapshotCatalog, verify_snapshot

        cat = SnapshotCatalog(spark, str(tmp_path))
        cat.write(spark.range(50).withColumn("v", F.col("id") * 3), "t")
        # delete one data file out from under the manifest
        victim = sorted(glob.glob(str(tmp_path / "t" / "snap-1" / "*.parquet")))[0]
        os.remove(victim)
        assert not verify_snapshot(cat, "t")["ok"]

        # an append snapshot reads its parent's directory too: a file lost
        # from that inherited directory is caught on the child
        cat.write(spark.range(50).withColumn("v", F.col("id") * 3), "a")
        cat.write(spark.range(50, 80).withColumn("v", F.col("id") * 3), "a",
                  append=True)
        assert verify_snapshot(cat, "a")["ok"]
        victim = sorted(glob.glob(str(tmp_path / "a" / "snap-1" / "*.parquet")))[0]
        os.remove(victim)
        assert not verify_snapshot(cat, "a")["ok"]


def test_run_pipeline_with_trained_ensemble(spark, tmp_path):
    """The production runner accepts the trained-checkpoint taggers
    (round 4: run_pipeline grew weights_path; the job exposes --tagger
    neural/ensemble --weights). The trained ensemble reproduces the rule
    teacher's tuple multiset on fresh docs (1.0-F1 checkpoints)."""
    import os

    from scikg_spark.pipeline.runner import run_pipeline
    from scikg_spark.pipeline.stage1 import build_pages_from_documents

    weights = "/root/repo/checkpoints/ensemble_111.npz"
    if not os.path.exists(weights):
        import pytest

        pytest.skip("trained ensemble not present")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(40)
    pages = build_pages_from_documents(docs).cache()
    ens = run_pipeline(spark, pages, SnapshotCatalog(spark, str(tmp_path / "ens")),
                       tagger="ensemble", weights_path=weights)["tuples"]
    rule = run_pipeline(spark, pages, SnapshotCatalog(spark, str(tmp_path / "rule")),
                        tagger="rule")["tuples"]
    cols = ["doc_id", "stmt_id", "kind", "subj", "pred", "obj"]
    n_rule = rule.count()
    n_match = ens.select(*cols).intersect(rule.select(*cols)).count()
    assert n_rule > 0
    assert n_match / n_rule >= 0.9
