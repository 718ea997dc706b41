"""Stage 3: entity linking & canonicalization.

The reference canonicalizes nodes only by exact ``phrase#offset`` string
(MIMO_Extractor.py:170-221); cross-document linking is absent there. This
stage is the rebuild's scale extension mandated by the north rule. Its rule:
two mention phrases are one entity when their normalized strings
(:func:`_norm_text`: '_' -> ' ', then Python's ``str.lower``) are equal, or
when the 3-char shingle sets of their norms have Jaccard
``|a & b| / float(|a | b|) >= 0.8``; the entities are the connected
components of those edges. Linking is exact: every pair the rule names gets
its edge, in one of two regimes sized by the mention vocabulary.

  - Up to :data:`DRIVER_PHRASES` distinct phrases, ONE bounded collect
    brings ``(phrase, phrase_id)`` to the driver. Python norms them, links
    same-norm phrases by a star to the minimum phrase_id, joins one
    representative per norm with :func:`_jaccard_pairs` and runs
    :func:`_union_find`. No norm, shingle or hash is computed in the JVM.
  - Over the bound, Spark builds the same edges: the norm by a vectorized
    UDF of the same function, the star by a window, the Jaccard edges by
    :func:`_prefix_candidate_pairs` and :func:`verify_jaccard`, and CC by
    :func:`connected_components`.

Both regimes give identical outputs by construction. The Jaccard join is
the prefix filter of *Scalable and Robust Set Similarity Join* (ICDE'18):
with shingles in one global order, rarest first, two sets at Jaccard >= t
share one of the first ``|x| - ceil(t * |x|) + 1`` shingles of each, and
the smaller holds at least ``t`` times the larger's shingles (the length
filter). The filters only admit candidates, with an epsilon that can only
lengthen a prefix; the Jaccard verify decides every edge. A hot prefix
shingle is not capped: a cap would drop pairs the rule names.

:func:`link_entities` is the one linking pass, for the pipeline runner and
the ``ops.kg`` tables alike. :func:`attach_entities` then joins its phrase ->
entity map back onto the tuples, the one edge-attach step. Curated synonym
pairs do not relink: :func:`merge_synonyms` merges the linked entities'
labels, as the reference canonicalizes nodes it has already built.

:func:`lsh_candidate_pairs` (MinHash-LSH blocking with capped buckets) and
:func:`exact_edges` no longer take part in linking; kgbench's traced run
still counts their work.
"""

from __future__ import annotations

import math
from itertools import chain

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType


def _norm_text(s: str | None) -> str | None:
    """The normalized string linking groups by: '_' -> ' ', then lower case
    (Python's ``str.lower``, in both regimes)."""
    return None if s is None else s.replace("_", " ").lower()


@F.arrow_udf(StringType())
def _norm(col: pa.Array) -> pa.Array:
    # _norm_text as Spark's one vectorized UDF of the norm
    return pa.array([_norm_text(s) for s in col.to_pylist()], pa.string())


def mention_phrases(tuples: DataFrame) -> DataFrame:
    """Distinct concept phrases from subject/object slots ->
    (phrase, phrase_id, norm). A projection without ``norm`` plans no
    Python evaluation."""
    phrases = (
        tuples.select(
            F.explode(F.array(F.col("s_c.text"), F.col("o_c.text"))).alias("phrase"))
        .filter(F.col("phrase").isNotNull())
        .distinct()
    )
    return phrases.select(
        "phrase",
        F.xxhash64("phrase").alias("phrase_id"),
        _norm("phrase").alias("norm"),
    )


# LSH geometry of lsh_candidate_pairs: 16 minhashes in bands of 4 over
# 3-char shingles; buckets wider than 64 ids are dropped (the hot-block cap)
_N_HASHES, _BAND_SIZE, _SHINGLE_K, _MAX_BUCKET = 16, 4, 3, 64

# slack on every ceil(t * n) of the filters: float error can then only
# lengthen a prefix or widen a length bound, never drop a pair
_EPS = 1e-9


def _shingles(name: str, k: int):
    # k-char shingles of column `name`; short strings contribute themselves once
    return F.expr(
        f"case when length({name}) <= {k} then array({name}) "
        f"else transform(sequence(0, length({name}) - {k}), "
        f"i -> substring({name}, i + 1, {k})) end"
    )


def _shingle_set(name: str, k: int):
    """Distinct k-char shingles of string column ``name``."""
    return F.array_distinct(_shingles(name, k))


def _shingle_set_text(s: str) -> set:
    """:func:`_shingle_set` of one string at ``_SHINGLE_K``, in Python (both
    count code points)."""
    k = _SHINGLE_K
    if len(s) <= k:
        return {s}
    return {s[i:i + k] for i in range(len(s) - k + 1)}


def _band_keys(sh: str, n_hashes: int, band_size: int):
    """The ``n_hashes // band_size`` LSH band keys of shingle-array column
    ``sh`` as one array: band b's key hashes minhashes ``b * band_size`` to
    ``(b + 1) * band_size - 1``. The minhashes are computed IN PLACE with
    array expressions (array_min over transform) — no shingle explode, no
    distinct, no shuffle; at web scale this removes a full (id, shingle)
    shuffle."""
    assert n_hashes % band_size == 0
    h = [F.expr(f"array_min(transform({sh}, s -> "
                f"xxhash64(concat('seed{i}:', s))))") for i in range(n_hashes)]
    return F.array(*[F.xxhash64(*h[b:b + band_size])
                     for b in range(0, n_hashes, band_size)])


def _pairs_sql(ids: str, a_name: str = "doc_a", b_name: str = "doc_b") -> str:
    """All (a < b) pairs from a collected id array — the in-place form of
    the band-bucket self-join. Bounded by the bucket cap applied before
    this expression, so at most C(64, 2) structs per group."""
    return (f"flatten(transform({ids}, a -> "
            f"transform(filter({ids}, b -> b > a), "
            f"b -> named_struct('{a_name}', a, '{b_name}', b))))")


def exact_edges(phrases: DataFrame) -> DataFrame:
    """Edges between phrases sharing the normalized string: star to the
    min phrase_id per group (avoids quadratic within-group pairs)."""
    grouped = phrases.groupBy("norm").agg(F.min("phrase_id").alias("root"))
    return (
        phrases.join(grouped, "norm")
        .filter(F.col("phrase_id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("phrase_id").alias("dst"))
    )


def lsh_candidate_pairs(
    phrases: DataFrame,
    n_hashes: int = _N_HASHES,
    band_size: int = _BAND_SIZE,
    shingle_k: int = _SHINGLE_K,
    max_bucket: int = _MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH candidate pairs (src < dst) over the ``norm`` strings."""
    sh = phrases.select("phrase_id", _shingle_set("norm", shingle_k).alias("sh"))
    banded = sh.select(
        "phrase_id",
        F.posexplode(_band_keys("sh", n_hashes, band_size)).alias("band", "key"))
    # cap bucket width: hot buckets (near-stopword phrases) are dropped, not
    # exploded into O(n^2) pairs. Round 6: pairs are expanded IN PLACE on
    # the collected bucket (bounded by the cap) instead of a band self-join
    # — the join form planned as a BroadcastHashJoin whose build side re-ran
    # the whole signature pipeline (scan + shingles + hashes twice); the
    # grouped form computes signatures once and needs ONE grouping shuffle.
    # size(ids) is exactly the old window count, so cap semantics are
    # unchanged.
    grouped = banded.groupBy("band", "key").agg(
        F.collect_list("phrase_id").alias("ids"))
    return (
        grouped
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.explode(F.expr(_pairs_sql("ids", "src", "dst"))).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def _prefix_candidate_pairs(phrases: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs (src < dst) over the ``norm`` strings of
    (phrase_id, norm) rows: every pair at shingle Jaccard >= ``threshold``
    and others, for :func:`verify_jaccard` to decide. Each row keeps its
    prefix, its ``n - ceil(threshold * n) + 1`` rarest shingles by global
    frequency (ties by shingle); pairs share a prefix shingle and pass the
    length filter. No prefix shingle is capped, however hot."""
    from pyspark.sql.window import Window

    sh = phrases.select("phrase_id", _shingle_set("norm", _SHINGLE_K).alias("sh"))
    toks = sh.select("phrase_id", F.size("sh").alias("n"),
                     F.explode("sh").alias("s"))
    freq = toks.groupBy("s").agg(F.count("*").alias("f"))
    rank = F.row_number().over(Window.partitionBy("phrase_id").orderBy("f", "s"))
    prefix = toks.join(freq, "s").withColumn("r", rank).filter(
        F.col("r") <= F.col("n") - F.ceil(F.col("n") * threshold - _EPS) + 1)
    a = prefix.select(F.col("phrase_id").alias("src"), F.col("n").alias("n_a"), "s")
    b = prefix.select(F.col("phrase_id").alias("dst"), F.col("n").alias("n_b"), "s")
    return (
        a.join(b, "s")
        .filter((F.col("src") < F.col("dst"))
                & (F.least("n_a", "n_b")
                   >= F.greatest("n_a", "n_b") * threshold - _EPS))
        .select("src", "dst")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, phrases: DataFrame, shingle_k: int = _SHINGLE_K,
    threshold: float = 0.8
) -> DataFrame:
    """True shingle-set Jaccard filter on candidate pairs — pure JVM
    (array_intersect / array_union over distinct shingle arrays; no Python
    worker round-trip in the verification path)."""
    sh = phrases.select("phrase_id", _shingle_set("norm", shingle_k).alias("sh"))
    withs = (
        pairs.join(sh.select(F.col("phrase_id").alias("src"),
                             F.col("sh").alias("sh_a")), "src")
        .join(sh.select(F.col("phrase_id").alias("dst"),
                        F.col("sh").alias("sh_b")), "dst")
    )
    union_size = F.size(F.array_union("sh_a", "sh_b"))
    return (
        withs.withColumn(
            "jaccard",
            F.when(union_size == 0, F.lit(1.0))
            .otherwise(F.size(F.array_intersect("sh_a", "sh_b")) /
                       union_size.cast("double")))
        .filter(F.col("jaccard") >= threshold)
        .select("src", "dst")
    )


def _jaccard_pairs(sets: dict, threshold: float):
    """Yields ``(a, b)`` for every two keys of ``sets`` (key -> shingle set)
    with ``|a & b| / float(|a | b|) >= threshold``, each pair once: the exact
    AllPairs join (Bayardo et al., WWW'07). Shingles are ranked rarest
    first; the sets are visited by size. Each set probes the inverted index
    with its prefix of ``n - ceil(t * n) + 1`` shingles, skipping posted
    sets shorter than ``t * n`` (a posting list holds its sets by size), and
    then posts its mid-prefix of ``n - ceil(2t / (1 + t) * n) + 1``
    shingles: a later, larger partner at Jaccard >= t shares one of those.
    Every candidate is verified."""
    from bisect import bisect_left
    from collections import Counter

    freq = Counter(s for sh in sets.values() for s in sh)
    rank = {s: r for r, s in
            enumerate(sorted(freq, key=lambda s: (freq[s], s)))}
    keys = sorted(sets, key=lambda k: len(sets[k]))
    toks = [sorted(rank[s] for s in sets[k]) for k in keys]
    members = [frozenset(t) for t in toks]
    mid = 2 * threshold / (1 + threshold)
    index: dict = {}  # rank -> ([size], [position in keys]), sizes ascending
    for i, tok in enumerate(toks):
        n = len(tok)
        cand = set()
        for r in tok[:n - math.ceil(threshold * n - _EPS) + 1]:
            posted = index.get(r)
            if posted:
                cand.update(posted[1][bisect_left(posted[0],
                                                  threshold * n - _EPS):])
        mine = members[i]
        for j in cand:
            both = len(mine & members[j])
            if both / float(n + len(members[j]) - both) >= threshold:
                yield keys[j], keys[i]
        for r in tok[:n - math.ceil(mid * n - _EPS) + 1]:
            sizes, at = index.setdefault(r, ([], []))
            sizes.append(n)
            at.append(i)


def _union_find(edges) -> dict:
    """Connected components of a driver-held edge list: classic union-find,
    returned as ``{id: minimum id of its component}`` for every id an edge
    touches (identical labels to the distributed hash-min)."""
    parent: dict = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    root_min: dict = {}
    for node in parent:
        r = find(node)
        m = root_min.get(r)
        if m is None or node < m:
            root_min[r] = node
    return {node: root_min[find(node)] for node in parent}


def _driver_union_find(rows, vertices: DataFrame) -> DataFrame:
    """CC for a DRIVER-SIZED edge list via :func:`_union_find`. The mapping
    is broadcast back over ``vertices`` (which may be huge): every column of
    ``vertices``, then ``comp``."""
    comp = _union_find(rows)
    spark = vertices.sparkSession
    # Arrow local-relation build (round 6): createDataFrame over a plain
    # Python list parallelizes through Python-RDD tasks — 32 Python workers
    # launched to ship a broadcast-sized mapping (measured 7-35 CPU-s when
    # workers are cold, on a sub-1k-row table). A pyarrow.Table plans as a
    # LocalTableScan whether or not the session enables Arrow for pandas
    # conversion, so the executors decode pure JVM.
    mapping = spark.createDataFrame(pa.table({
        "id": pa.array(list(comp), pa.int64()),
        "comp": pa.array(list(comp.values()), pa.int64()),
    }))
    return (
        vertices.join(F.broadcast(mapping.withColumnRenamed("comp", "_c")),
                      "id", "left")
        .withColumn("comp", F.coalesce("_c", "id")).drop("_c")
    )


def connected_components(edges: DataFrame, vertices: DataFrame,
                         max_iter: int = 20,
                         driver_threshold: int = 1 << 18,
                         bidir: DataFrame | None = None) -> DataFrame:
    """Hash-min label propagation: (id) -> (id, comp) with comp = min id in
    the component. Iterative joins with localCheckpoint per round (bounded by
    ``max_iter``; converges in O(component diameter) rounds — phrase
    similarity components are shallow). :func:`link_entities` calls it only
    for a vocabulary over :data:`DRIVER_PHRASES`; a driver-sized one runs
    :func:`_union_find` on its own edges without any Spark edge list.

    ``bidir`` optionally passes an ALREADY-SYMMETRIZED, already-materialized
    edge list (both directions present, e.g. a localCheckpoint the caller
    still needs for its vertex set) — the union+checkpoint here is then
    skipped, one materialization instead of two (round 6: the linking chain
    is latency-bound on its job count, not on data volume).

    Edge lists at or under ``driver_threshold`` rows short-circuit to a
    driver-side union-find — the same size rationale as a broadcast join,
    and it replaces tens of iterative-join Spark jobs with one collect. The
    probe is a COUNT over the already-checkpointed adjacency (pennies), so
    the expensive upstream (LSH + Jaccard verify) materializes exactly once
    whichever path runs, and rows are collected only when the graph is
    actually under the threshold. The default is 256k edges: Python Row
    overhead is hundreds of bytes per edge, so that is tens of MB of driver
    heap — broadcast-table territory — not the raw 16 B/edge a binary layout
    would suggest. Edge sets over the threshold take the distributed
    iterative path; pass ``driver_threshold=0`` to force it."""
    if bidir is None:
        bidir = edges.union(edges.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
        # materialize the adjacency ONCE before any probe/iteration: both
        # the driver short-circuit and the distributed rounds reuse this
        bidir = bidir.localCheckpoint()
    n_edges = bidir.count()
    if driver_threshold and n_edges <= driver_threshold:
        return _driver_union_find(bidir.collect(), vertices)
    # size the per-round shuffles to the actual edge count: tiny graphs get a
    # handful of partitions instead of spark.sql.shuffle.partitions-many
    # micro-tasks per iteration (at 10^12-doc scale the default takes over)
    n_parts = max(2, min(int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")), n_edges // 50_000 + 2))
    bidir = bidir.repartition(n_parts, "src")
    comp = vertices.select(F.col("id"), F.col("id").alias("comp"))
    # cut the vertex lineage too: the initial comp frame is referenced three
    # times per round (two propagate hops + the convergence join) — without a
    # checkpoint each materialization would recompute the full upstream
    # pipeline (LSH + verification UDFs) that produced the vertex set
    comp = comp.repartition(n_parts, "id").localCheckpoint()

    def propagate(frame):
        nbr_min = (
            bidir.join(frame, bidir["src"] == frame["id"])
            .groupBy(bidir["dst"].alias("id2"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return (
            frame.join(nbr_min, frame["id"] == nbr_min["id2"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"))
        )

    for _ in range(max_iter):
        # two hops per materialized round halves the number of Spark jobs
        # (convergence checks + checkpoints dominate on small graphs)
        updated = (
            propagate(propagate(comp))
            .withColumnRenamed("comp", "new_comp")
            .join(comp.withColumnRenamed("comp", "old_comp"), "id")
            .localCheckpoint()  # eager: one materialization per round
        )
        comp = updated.select("id", F.col("new_comp").alias("comp"))
        if updated.filter(F.col("new_comp") != F.col("old_comp")).limit(1).count() == 0:
            return comp.localCheckpoint()
    # never return plausible wrong labels: a component with diameter
    # > 2*max_iter would end up split into several entity ids
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} rounds "
        f"(component diameter > {2 * max_iter}); raise max_iter")


# Distinct-phrase count up to which link_entities runs in the driver (see
# _link_in_driver). 0 disables the driver regime. At the bound, on a 4-core
# host, 32,768 kgbench-style phrases of 1-3 words (870 Jaccard edges) link
# in 11.4-12.3 CPU-s as the first link of a fresh session, against 107
# distributed; the driver's peak Python heap is 164 MB (5.1 KB a phrase,
# tracemalloc over link_entities), the order of connected_components'
# driver_threshold.
# Worst case: the join enumerates every pair at Jaccard >= 0.8, so a
# vocabulary of near-duplicates is quadratic in both regimes. 2,048 norms
# "regulatory protein kinase activation <3-char code>" (2.1M pairs, one
# entity) take 6.3-7.4 CPU-s in the driver against 182 distributed; 32,768
# of them would be 5.4e8 pairs, about 12 minutes in the driver.
DRIVER_PHRASES = 1 << 15


def link_entities(tuples: DataFrame, lsh_threshold: float = 0.8,
                  use_lsh: bool = True) -> tuple[DataFrame, DataFrame]:
    """tuples -> (entity_nodes, phrase_map).

    entity_nodes: entity_id, canonical (deterministic min norm in the
    component), n_phrases. phrase_map: phrase, norm (:func:`_norm_text`),
    entity_id. Curated synonyms merge the linked entities afterwards
    (:func:`merge_synonyms`, which looks the phrase_map up by norm).

    Same-norm phrases are always one entity. ``use_lsh`` switches the
    Jaccard edges: every pair of norms whose 3-char shingle sets have
    Jaccard at or above ``lsh_threshold``, found exactly (the names are
    kept from the MinHash-LSH blocking these edges once came from).

    A vocabulary of at most :data:`DRIVER_PHRASES` distinct phrases links
    in the driver after one bounded collect; a bigger one takes the
    distributed path, which evaluates the mention table again (the bounded
    collect stops at the bound, it does not keep what it read). Both give
    identical outputs.
    """
    phrases = mention_phrases(tuples)
    mapped = (_link_in_driver(phrases, lsh_threshold, use_lsh)
              if DRIVER_PHRASES else None)
    if mapped is None:
        mapped = _link_distributed(phrases, lsh_threshold, use_lsh)
    nodes = mapped.groupBy("entity_id").agg(
        F.min("norm").alias("canonical"),
        F.countDistinct("phrase").alias("n_phrases"),
    )
    return nodes, mapped


def _link_in_driver(phrases: DataFrame, lsh_threshold: float,
                    use_lsh: bool) -> DataFrame | None:
    """The driver regime of :func:`link_entities`: (phrase, norm, entity_id)
    as a JVM-local relation, or None when the vocabulary has more than
    :data:`DRIVER_PHRASES` rows.

    Spark computes only the distinct phrases and their phrase_id: one
    ``limit``-bounded collect of ``(phrase, phrase_id)``, so an over-bound
    vocabulary never lands whole on the driver, and the projection prunes
    the norm UDF. The driver then builds the rule's edges: a star to the
    minimum phrase_id per :func:`_norm_text` norm, and, with ``use_lsh``,
    :func:`_jaccard_pairs` over one representative per norm; a union-find
    labels each component with its minimum phrase_id."""
    rows = phrases.select("phrase", "phrase_id") \
        .limit(DRIVER_PHRASES + 1).collect()
    if len(rows) > DRIVER_PHRASES:
        return None

    # plain column tuples: a Row's field access by name is a Python call
    phrase, pid = zip(*rows) if rows else ((), ())
    norm = [_norm_text(p) for p in phrase]
    root: dict = {}  # norm -> minimum phrase_id
    for p, n in zip(pid, norm):
        root[n] = min(p, root.get(n, p))
    edges = [(root[n], p) for p, n in zip(pid, norm) if p != root[n]]
    if use_lsh:  # streamed: the union-find holds no list of the pairs
        edges = chain(edges, _jaccard_pairs(
            {p: _shingle_set_text(n) for n, p in root.items()}, lsh_threshold))
    comp = _union_find(edges)
    # entity_id is never null, as coalesce(comp, phrase_id) is not in Spark
    schema = pa.schema([("phrase", pa.string()), ("norm", pa.string()),
                        pa.field("entity_id", pa.int64(), nullable=False)])
    # one partition, like the AQE-coalesced distributed frame: a local
    # relation otherwise splits over every core, and each commit of it and
    # of the nodes grouped from it runs one task per split
    return phrases.sparkSession.createDataFrame(pa.table({
        "phrase": list(phrase),
        "norm": norm,
        "entity_id": [comp.get(p, p) for p in pid],
    }, schema=schema)).coalesce(1)


def _link_distributed(phrases: DataFrame, lsh_threshold: float,
                      use_lsh: bool) -> DataFrame:
    """The over-bound regime of :func:`link_entities`: edges built in Spark,
    CC by :func:`connected_components`; returns the checkpointed
    (phrase, norm, entity_id) frame."""
    from pyspark.sql.window import Window

    # Materialize the distinct-mention + window pass ONCE (round 6): the
    # frame fans out into several consumers (star edges, the prefix join,
    # both Jaccard-verify sides, x2 for the symmetrizing union) and the
    # localCheckpoint/AQE execution path gives no subtree reuse — a
    # `.cache()` here lost the race when AQE materialized those stage jobs
    # concurrently, so the explode+distinct over the wide tuples cache ran
    # 8x (measured: 8 racing 32-task stages, ~10 CPU-s each at sf0.1, for a
    # 917-row result). The checkpoint is the distinct-mention table — the
    # same thing the cache held, eagerly and exactly once, norm UDF
    # included. The Jaccard join runs over ONE representative per distinct
    # norm (same-norm phrases are already connected by the star), which
    # shrinks it by the duplication factor — at web scale duplicate surface
    # forms dominate the mention table.
    with_root = phrases.withColumn(
        "root", F.min("phrase_id").over(Window.partitionBy("norm"))) \
        .localCheckpoint()
    phrases = with_root.select("phrase", "phrase_id", "norm")
    edges = (
        with_root.filter(F.col("phrase_id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("phrase_id").alias("dst"))
    )
    if use_lsh:
        reps = with_root.filter(F.col("phrase_id") == F.col("root")) \
                        .select("phrase_id", "norm")
        cand = _prefix_candidate_pairs(reps, lsh_threshold)
        edges = edges.union(verify_jaccard(cand, reps, threshold=lsh_threshold))
    # materialize the edge pipeline (prefix join + Jaccard verify) exactly
    # once, already SYMMETRIZED: the CC adjacency and the vertex set both
    # read this one checkpoint (round 6 — previously the directed edges and
    # the bidirectional adjacency were two separate materializations)
    bidir = edges.union(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))) \
                 .localCheckpoint()
    # CC only over vertices an edge touches; singleton phrases (the vast
    # majority) skip the iterative rounds entirely and map to themselves.
    # src of the symmetrized list covers both endpoints of every edge.
    touched = bidir.select(F.col("src").alias("id")).distinct()
    comp = connected_components(edges, touched, bidir=bidir)
    # materialize the phrase -> entity join ONCE and derive both outputs
    # from it: callers checkpoint nodes AND phrase_map, which previously
    # re-ran this join (phrases x comp) for each — round 6, one pass
    return phrases.join(comp, phrases["phrase_id"] == comp["id"], "left").select(
        "phrase", "norm",
        F.coalesce("comp", "phrase_id").alias("entity_id")).localCheckpoint()


def merge_synonyms(nodes: DataFrame, phrase_map: DataFrame,
                   synonyms: DataFrame) -> DataFrame:
    """Merge linked entities by curated synonym pairs (phrase_a, phrase_b),
    the reference's ``n: [C1, as, C2]`` label tuples (utils.py:638-644),
    which canonicalize nodes already built: a merge of entity labels, not a
    second linking pass. Returns entity_nodes with the same columns.

    The pairs come from a label file the driver parses whole, so the driver
    norms them (:func:`_norm_text`) and joins them, by norm, onto the
    (norm, entity_id) rows of ``phrase_map`` whose norm a pair names (one
    bounded collect of the norm the linking pass computed; nothing is
    normed again). A pair naming two different entities is a label edge, and
    :func:`_driver_union_find` merges over those edges. Each merged group of
    ``nodes`` becomes one entity: entity_id the minimum label (the minimum
    phrase_id of the union, as linking labels), canonical the minimum
    canonical, n_phrases the sum."""
    pairs = [(_norm_text(a), _norm_text(b)) for a, b in
             synonyms.select("phrase_a", "phrase_b").collect()]
    named = list({n for pair in pairs for n in pair if n is not None})
    label = dict(phrase_map.filter(F.col("norm").isin(named))
                 .select("norm", "entity_id").collect())
    edges = [(label[a], label[b]) for a, b in pairs
             if a in label and b in label and label[a] != label[b]]
    merged = _driver_union_find(edges, nodes.withColumnRenamed("entity_id", "id"))
    return merged.groupBy(F.col("comp").alias("entity_id")).agg(
        F.min("canonical").alias("canonical"),
        F.sum("n_phrases").alias("n_phrases"),
    )


# phrase_map row count at or under which the entity attach broadcasts the
# map (hash join, no shuffle of the big tuples side); above it, the salted
# join spreads hot mentions ("patients"-like surface forms) across reducers.
BROADCAST_MAP_ROWS = 2_000_000


def attach_entities(tuples: DataFrame, phrase_map: DataFrame,
                    map_rows: int) -> DataFrame:
    """Join subject/object entity ids onto the tuples: every tuples column,
    then ``subj_entity`` and ``obj_entity`` (null for an unlinked mention).

    ``map_rows`` is the phrase_map's row count, which callers already hold
    (a snapshot manifest, a cached count), so picking the join strategy
    costs no Spark job. Maps up to :data:`BROADCAST_MAP_ROWS` broadcast —
    a hash join where hot mention strings never concentrate on one reducer.
    Bigger maps take :func:`scikg_spark.pipeline.skew.salted_join`
    (left-join safe), the skew strategy for broadcast-ineligible hot-key
    dimensions."""
    src = phrase_map.select(
        F.col("phrase").alias("_sp"), F.col("entity_id").alias("subj_entity"))
    dst = phrase_map.select(
        F.col("phrase").alias("_op"), F.col("entity_id").alias("obj_entity"))
    if map_rows <= BROADCAST_MAP_ROWS:
        joined = (
            tuples.join(F.broadcast(src), tuples["s_c.text"] == F.col("_sp"), "left")
            .join(F.broadcast(dst), tuples["o_c.text"] == F.col("_op"), "left")
        )
    else:
        from scikg_spark.pipeline.skew import salted_join

        big = tuples.withColumn("_sp", F.col("s_c.text")) \
                    .withColumn("_op", F.col("o_c.text"))
        joined = salted_join(salted_join(big, src, "_sp", how="left"),
                             dst, "_op", how="left")
    return joined.drop("_sp", "_op")
