"""Stage 3: entity linking & canonicalization.

The reference canonicalizes nodes only by exact ``phrase#offset`` string
(MIMO_Extractor.py:170-221); cross-document linking is absent there. This
stage is the rebuild's scale extension mandated by the north rule: group
mention phrases into entities via

  1. exact normalized-string grouping (lower, '_' -> ' '),
  2. MinHash-LSH blocking over character shingles for near-duplicates,
  3. connected components over the union of (1)+(2) edges: a driver
     union-find for driver-sized edge lists, else iterative hash-min joins
     (no GraphFrames dependency), ``localCheckpoint`` per round to cut
     lineage.

:func:`attach_entities` then joins the resulting phrase -> entity map back
onto the tuples; it is the one edge-attach step for the pipeline runner and
the ``ops.kg`` queries.

Scale design: minhash signatures are computed IN PLACE with JVM array
expressions (array_min over transform of the shingle array — zero shuffle,
zero Python, no shingle explode); LSH buckets are capped (``max_bucket``) so
a hot block (stopword-like phrases) cannot produce a quadratic pair
explosion — the cap plus AQE skew-join handling is the documented skew
strategy; candidate pairs are verified with a true-Jaccard JVM expression
(array_intersect / array_union) before becoming edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def mention_phrases(tuples: DataFrame) -> DataFrame:
    """Distinct concept phrases from subject/object slots ->
    (phrase, phrase_id, norm)."""
    phrases = (
        tuples.select(
            F.explode(F.array(F.col("s_c.text"), F.col("o_c.text"))).alias("phrase"))
        .filter(F.col("phrase").isNotNull())
        .distinct()
    )
    return phrases.select(
        "phrase",
        F.xxhash64("phrase").alias("phrase_id"),
        F.lower(F.regexp_replace("phrase", "_", " ")).alias("norm"),
    )


def _shingles(name: str, k: int):
    # k-char shingles of column `name`; short strings contribute themselves once
    return F.expr(
        f"case when length({name}) <= {k} then array({name}) "
        f"else transform(sequence(0, length({name}) - {k}), "
        f"i -> substring({name}, i + 1, {k})) end"
    )


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
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """MinHash-LSH candidate pairs (src < dst) over the ``norm`` strings."""
    assert n_hashes % band_size == 0
    # signatures are computed IN PLACE with array expressions (array_min over
    # transform) — no shingle explode, no distinct, no shuffle until the band
    # self-join; at web scale this removes a full (id, shingle) shuffle
    sh = phrases.select(
        "phrase_id", F.array_distinct(_shingles("norm", shingle_k)).alias("sh"))
    sig = sh.select("phrase_id", *[
        F.expr(f"array_min(transform(sh, s -> "
               f"xxhash64(concat('seed{i}:', s))))").alias(f"h{i}")
        for i in range(n_hashes)
    ])
    n_bands = n_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        parts = [F.col(f"h{b * band_size + j}") for j in range(band_size)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*parts).alias("key")).alias(f"b{b}"))
    banded = sig.select("phrase_id", F.explode(F.array(*band_cols)).alias("bk")) \
                .select("phrase_id", "bk.band", "bk.key")
    # cap bucket width: hot buckets (near-stopword phrases) are dropped, not
    # exploded into O(n^2) pairs. Round 6: pairs are expanded IN PLACE on
    # the collected bucket (bounded by the cap) instead of a band self-join
    # — the join form planned as a BroadcastHashJoin whose build side re-ran
    # the whole signature pipeline (scan + shingles + hashes twice); the
    # grouped form computes signatures once and needs ONE grouping shuffle.
    # size(ids) is exactly the old window count, so cap semantics are
    # unchanged.
    from scikg_spark.ops.dedup import _pairs_sql

    grouped = banded.groupBy("band", "key").agg(
        F.collect_list("phrase_id").alias("ids"))
    return (
        grouped
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.explode(F.expr(_pairs_sql("ids", "src", "dst"))).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, phrases: DataFrame, shingle_k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """True shingle-set Jaccard filter on candidate pairs — pure JVM
    (array_intersect / array_union over distinct shingle arrays; no Python
    worker round-trip in the verification path)."""
    sh = phrases.select(
        "phrase_id", F.array_distinct(_shingles("norm", shingle_k)).alias("sh"))
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


def _driver_union_find(rows, vertices: DataFrame) -> DataFrame:
    """CC for a DRIVER-SIZED edge list: classic union-find, then comp = min
    member id per component (identical labels to the distributed hash-min).
    The mapping is broadcast back over ``vertices`` (which may be huge)."""
    parent: dict = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for r in rows:
        s, d = r[0], r[1]
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
    spark = vertices.sparkSession
    # Arrow local-relation build (round 6): createDataFrame over a plain
    # Python list parallelizes through Python-RDD tasks — 32 Python workers
    # launched to ship a broadcast-sized mapping (measured 7-35 CPU-s when
    # workers are cold, on a sub-1k-row table). A pyarrow.Table plans as a
    # LocalTableScan whether or not the session enables Arrow for pandas
    # conversion, so the executors decode pure JVM.
    import pyarrow as pa

    mapping = spark.createDataFrame(pa.table({
        "id": pa.array([int(n) for n in parent], pa.int64()),
        "comp": pa.array([int(root_min[find(n)]) for n in parent], pa.int64()),
    }))
    return (
        vertices.join(F.broadcast(mapping.withColumnRenamed("comp", "_c")),
                      "id", "left")
        .select("id", F.coalesce("_c", "id").alias("comp"))
    )


def connected_components(edges: DataFrame, vertices: DataFrame,
                         max_iter: int = 20,
                         driver_threshold: int = 1 << 18,
                         bidir: DataFrame | None = None) -> DataFrame:
    """Hash-min label propagation: (id) -> (id, comp) with comp = min id in
    the component. Iterative joins with localCheckpoint per round (bounded by
    ``max_iter``; converges in O(component diameter) rounds — phrase
    similarity components are shallow).

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

    converged = False
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
            converged = True
            break
    if not converged:
        # never return silently-wrong labels: a component with diameter
        # > 2*max_iter would end up split into several entity ids
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iter} rounds "
            f"(component diameter > {2 * max_iter}); labels may split "
            f"components — raise max_iter", RuntimeWarning, stacklevel=2)
    return comp.localCheckpoint()


def synonym_phrase_edges(phrases: DataFrame, synonyms: DataFrame) -> DataFrame:
    """Synonym pairs (the reference's ``n: [C1, as, C2]`` label tuples,
    utils.py:638-644) as entity-linking edges: join both phrase columns onto
    the mention table by normalized string."""
    a = synonyms.select(
        F.lower(F.regexp_replace("phrase_a", "_", " ")).alias("na"),
        F.lower(F.regexp_replace("phrase_b", "_", " ")).alias("nb"))
    pa = phrases.select(F.col("norm").alias("na"), F.col("phrase_id").alias("src"))
    pb = phrases.select(F.col("norm").alias("nb"), F.col("phrase_id").alias("dst"))
    return (
        a.join(pa, "na").join(pb, "nb")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def link_entities(tuples: DataFrame, lsh_threshold: float = 0.8,
                  use_lsh: bool = True,
                  synonyms: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """tuples -> (entity_nodes, phrase_map).

    entity_nodes: entity_id, canonical (deterministic min norm in the
    component), n_phrases. phrase_map: phrase -> entity_id. ``synonyms``
    optionally contributes curated pair edges (phrase_a, phrase_b).
    """
    from pyspark.sql.window import Window

    # Materialize the distinct-mention + window pass ONCE (round 6): the
    # frame fans out into FOUR consumers per side of the symmetrizing union
    # (star edges, LSH signatures, both Jaccard-verify sides) and the
    # localCheckpoint/AQE execution path gives no subtree reuse — a
    # `.cache()` here lost the race when AQE materialized those stage jobs
    # concurrently, so the explode+distinct over the wide tuples cache ran
    # 8x (measured: 8 racing 32-task stages, ~10 CPU-s each at sf0.1, for a
    # 917-row result). The checkpoint is the distinct-mention table — the
    # same thing the cache held, eagerly and exactly once. LSH still runs
    # over ONE representative per distinct norm (same-norm phrases are
    # already connected by the star), which shrinks the signature
    # computation and band join by the duplication factor — at web scale
    # duplicate surface forms dominate the mention table.
    with_root = mention_phrases(tuples).withColumn(
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
        cand = lsh_candidate_pairs(reps)
        edges = edges.union(verify_jaccard(cand, reps, threshold=lsh_threshold))
    if synonyms is not None:
        edges = edges.union(synonym_phrase_edges(phrases, synonyms))
    # materialize the edge pipeline (LSH bands + Jaccard verify) exactly
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
    mapped = phrases.join(comp, phrases["phrase_id"] == comp["id"], "left").select(
        "phrase", "norm",
        F.coalesce("comp", "phrase_id").alias("entity_id")).localCheckpoint()
    nodes = mapped.groupBy("entity_id").agg(
        F.min("norm").alias("canonical"),
        F.countDistinct("phrase").alias("n_phrases"),
    )
    return nodes, mapped.select("phrase", "entity_id")


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
