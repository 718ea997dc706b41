"""Similarity search over ``embeddings(vec_id, embedding: array<float>,
label)``.

Baseline: brute-force cosine with JVM-side array math (``aggregate`` +
``zip_with`` — no Python in the hot path). Scale path: random-hyperplane LSH
that turns the O(n^2) pair space into equi-joins on (table, bucket) keys —
the same blocking discipline as stage 3 — with a bucket-width cap so a hot
bucket cannot explode quadratically.

Plane weights are plan-time md5-derived literal arrays (``_plane_weights``)
sliced to each row's dim — executors need no shared state, no job runs at
plan-build time, rows pay one multiply-add per component, and the weights
are engine-neutral so the DuckDB oracles reproduce the buckets exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)")


def _emb(spark, sf_dir):
    # per-row vector math (dot products, hyperplane projections) is
    # compute-bound: track cores, not input splits (see helper doc)
    from scikg_spark.pipeline.session import parallelize_scan

    return parallelize_scan(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _cosine(a: str, b: str) -> str:
    return (f"{_DOT.format(a=a, b=b)} / "
            f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))")


def _norm(a: str) -> str:
    """sqrt(self-dot) — staged per ROW by the pair-heavy queries so each
    vector's norm is computed once instead of once per pair; the division
    dot/(norm_a*norm_b) is the same float expression _cosine evaluates, so
    the values (and every rounded output) are identical."""
    return f"sqrt({_DOT.format(a=a, b=a)})"


def _cosine_pre(ab_dot: str, norm_a: str, norm_b: str) -> str:
    return f"{ab_dot} / ({norm_a} * {norm_b})"


# Hyperplane weights are PLAN-TIME literal arrays, not per-row hash calls:
# md5-derived in Python at plan-build time (deterministic, engine-neutral —
# the DuckDB oracles embed the SAME literals), folded once by Tungsten, and
# sliced to the row's dim so no plan-time dim probe is needed. Rows pay one
# multiply-add per component instead of one 64-bit hash per component.
_MAX_DIM = 256


def _plane_weights(p: int, prefix: str = "") -> list[float]:
    """Component weights of pseudo-random plane ``p``: the first 4 hex
    digits of md5('{prefix}plane{p}:{i}') / 65536 - 0.5 — exact dyadic
    doubles, so their decimal literals parse identically on both engines."""
    import hashlib

    return [
        int(hashlib.md5(f"{prefix}plane{p}:{i}".encode()).hexdigest()[:4], 16)
        / 65536.0 - 0.5
        for i in range(_MAX_DIM)
    ]


def _plane_dot(p: int, prefix: str = "") -> str:
    w = ", ".join(repr(v) for v in _plane_weights(p, prefix))
    return (
        f"aggregate(zip_with(embedding, slice(array({w}), 1, size(embedding)), "
        "(x, wv) -> cast(x as double) * wv), "
        "cast(0.0 as double), (acc, v) -> acc + v)")


def _bucket_col(n_planes: int, prefix: str = ""):
    """Sign pattern of ``n_planes`` hyperplane dots -> bucket key string.

    Rows wider than ``_MAX_DIM`` raise instead of silently bucketing wrong:
    the literal plane arrays are _MAX_DIM long, so a longer embedding would
    NULL-pad the zip_with, NULL the dot, and collapse every over-wide vector
    into one bucket (quadratic blocking + one-sided oracle divergence)."""
    bucket = F.concat(*[
        F.when(F.expr(_plane_dot(p, prefix)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(n_planes)])
    return F.when(
        F.size("embedding") > _MAX_DIM,
        F.raise_error(F.lit(
            f"hyperplane LSH supports embedding dim <= {_MAX_DIM} "
            f"(literal plane arrays; raise similarity._MAX_DIM for wider "
            f"vectors)"))
    ).otherwise(bucket)


def q_embedding_norms(spark, sf_dir):
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.round(F.expr("sqrt(" + _DOT.format(a="embedding", b="embedding") + ")"), 4)
        .alias("l2_norm"),
        "label")


# Defaults shared between the Spark function signatures and the DuckDB
# mirrors below (the ORACLE strings are generated from these same values, so
# oracle parity holds exactly for default arguments — non-default calls are
# explicitly outside the duel contract).
N_QUERY, TOP_K = 10, 5
NEARDUP_THRESHOLD = 0.95
IVF_N_CENT, IVF_N_PROBE = 8, 2


def q_cosine_topk(spark, sf_dir, n_query: int = N_QUERY, k: int = TOP_K):
    """Top-k cosine neighbors for the first ``n_query`` vec_ids (brute force,
    JVM-side). Deterministic tie-break by neighbor id.

    The BROADCAST side is the bounded query set (<= n_query rows); the full
    embedding table is the streamed/scanned side — at 100x the table the
    broadcast stays constant-size instead of OOMing the executors.
    """
    emb = _emb(spark, sf_dir)
    # norms staged per ROW (once per vector, not once per (q, n) pair —
    # cuts the per-pair array math from 3 dots to 1; values identical)
    queries = emb.filter(F.col("vec_id") < n_query).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        F.expr(_norm("embedding")).alias("q_nrm"))
    neighbors = emb.select(F.col("vec_id").alias("n_id"),
                           F.col("embedding").alias("n_emb"),
                           F.expr(_norm("embedding")).alias("n_nrm"))
    pairs = neighbors.join(F.broadcast(queries), F.col("q_id") != F.col("n_id"))
    scored = pairs.select(
        "q_id", "n_id",
        F.expr(_cosine_pre(_DOT.format(a="q_emb", b="n_emb"),
                           "q_nrm", "n_nrm")).alias("cos"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("long").alias("rank"),
                F.round("cos", 4).alias("cos_r"))
    )


def lsh_bucketed(emb, n_tables: int = 1, n_planes: int = 8):
    """(vec_id, tbl, bucket) rows: each vector lands in one bucket per hash
    table. Multiple tables = OR-amplified recall for candidate generation."""
    tables = [
        F.struct(F.lit(t).alias("tbl"),
                 _bucket_col(n_planes, f"t{t}:" if n_tables > 1 else "")
                 .alias("bucket"))
        for t in range(n_tables)]
    return (
        emb.select("vec_id", F.explode(F.array(*tables)).alias("tb"))
        .select("vec_id", "tb.tbl", "tb.bucket")
    )


def q_ann_lsh_buckets(spark, sf_dir, n_planes: int = 8):
    """Random-hyperplane LSH bucket histogram (buckets holding >1 vector).
    Fully oracle-checked: the plane weights are literals shared with the
    DuckDB SQL, so both engines compute identical buckets."""
    bucketed = lsh_bucketed(_emb(spark, sf_dir), n_tables=1, n_planes=n_planes)
    return (
        bucketed.groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
        .filter(F.col("n_vecs") > 1)
        .select("bucket", "n_vecs")
    )


def lsh_candidate_pairs(emb, n_tables: int = 8, n_planes: int = 8,
                        max_bucket: int = 1024):
    """Candidate (id_a < id_b) pairs sharing any (table, bucket); hot
    buckets wider than ``max_bucket`` are dropped, not self-joined (the
    stage-3 cap pattern). Round 6: pairs are expanded in place on the
    collected bucket instead of a count-join + self-join — the join form
    evaluated the hyperplane-projection pipeline once per subtree (three
    times total); the grouped form projects each vector once and needs one
    grouping shuffle. size(ids) equals the old group count, so the cap
    semantics are unchanged."""
    from scikg_spark.pipeline.stage3 import _pairs_sql

    bucketed = lsh_bucketed(emb, n_tables=n_tables, n_planes=n_planes)
    grouped = bucketed.groupBy("tbl", "bucket").agg(
        F.collect_list("vec_id").alias("ids"))
    return (
        grouped
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.explode(F.expr(_pairs_sql("ids", "id_a", "id_b"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def q_embedding_neardup(spark, sf_dir, threshold: float = NEARDUP_THRESHOLD,
                        n_tables: int = 8, n_planes: int = 8):
    """Embedding-cosine near-duplicate pairs, LSH-BLOCKED: candidates come
    from 8 OR-ed hyperplane hash tables (equi-join on (table, bucket)), and
    only candidates get the exact cosine verification — no non-equi join
    anywhere in the plan. For cos >= 0.95 a pair agrees on one 8-plane table
    w.p. >= 0.43, so 8 tables give ~99% recall; the duel's brute-force oracle
    cross-checks equality at test scale (and
    tests/test_similarity_lsh.py plants near-identical dups to exercise the
    non-empty case)."""
    emb = _emb(spark, sf_dir)
    cand = lsh_candidate_pairs(emb, n_tables=n_tables, n_planes=n_planes)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "id_a").join(eb, "id_b")
        .withColumn("cos", F.expr(_cosine("ea", "eb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos_r"))
    )


def q_ann_ivf_topk(spark, sf_dir, n_query: int = N_QUERY, k: int = TOP_K,
                   n_cent: int = IVF_N_CENT, n_probe: int = IVF_N_PROBE):
    """IVF-flat ANN (the inverted-file scale path next to the LSH one):

      1. centroids = the ``n_cent`` vectors with the smallest
         md5(vec_id) — deterministic, engine-neutral sampling (no kmeans
         fit step, so the WHOLE scheme is SQL-expressible and the duel
         checks it end-to-end);
      2. every vector joins the BROADCAST centroid set and keeps its
         nearest centroid via ``max_by`` (partial aggregation — one row per
         vector reaches the shuffle, no window sort over the full table);
      3. queries probe only their ``n_probe`` nearest centroids' inverted
         lists (equi-join on cent_id) — the scan is bounded by
         n_probe/n_cent of the table instead of all of it.

    At 10^12 rows the centroid set stays broadcast-sized (thousands), the
    assignment is a map-side pass, and the probe join is an equi-join on a
    bounded key — no all-pairs anywhere."""
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir)
    cents = (
        emb.select("vec_id", "embedding",
                   F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")  # TakeOrdered n_cent, not a global sort
        .limit(n_cent)
        # constant partition key: the frame is n_cent rows post-limit, so a
        # single-partition window is the intent. substr(h,1,0)='' is constant
        # per row but column-dependent, so Catalyst can't fold it away (a
        # plain lit() is folded and WindowExec then cries no-partition over
        # an 8-row frame — noise that buries real single-partition bugs)
        .withColumn("cent_id", F.row_number().over(
            Window.partitionBy(F.col("h").substr(1, 0)).orderBy("h", "vec_id")))
        .select("cent_id", F.col("embedding").alias("c_emb"),
                F.expr(_norm("embedding")).alias("c_nrm"))
    )
    # norms staged per ROW (each vector's self-dot once, not once per
    # centroid pairing — 8x less array math in the assignment pass; the
    # cosine values are identical, see _norm)
    emb_n = emb.select("vec_id", "embedding",
                       F.expr(_norm("embedding")).alias("e_nrm"))
    scored = emb_n.join(F.broadcast(cents)).withColumn(
        "sim", F.expr(_cosine_pre(_DOT.format(a="embedding", b="c_emb"),
                                  "e_nrm", "c_nrm")))
    assigned = (
        scored.groupBy("vec_id")
        .agg(F.expr("max_by(named_struct('cent_id', cent_id, "
                    "'embedding', embedding, 'e_nrm', e_nrm), "
                    "named_struct('s', sim, 'c', -cent_id))").alias("m"))
        .select("vec_id", F.col("m.cent_id").alias("cent_id"),
                F.col("m.embedding").alias("embedding"),
                F.col("m.e_nrm").alias("e_nrm"))
    )
    queries = emb_n.filter(F.col("vec_id") < n_query).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        F.col("e_nrm").alias("q_nrm"))
    probes = (
        queries.join(F.broadcast(cents))
        .withColumn("sim", F.expr(_cosine_pre(
            _DOT.format(a="q_emb", b="c_emb"), "q_nrm", "c_nrm")))
        .withColumn("prn", F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cent_id"))))
        .filter(F.col("prn") <= n_probe)
        .select("q_id", "q_emb", "q_nrm", "cent_id")
    )
    # probes is bounded by n_query * n_probe rows — always the broadcast side
    cand = F.broadcast(probes).join(assigned, "cent_id").filter(
        F.col("q_id") != F.col("vec_id"))
    w_k = Window.partitionBy("q_id").orderBy(
        F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("cos", F.expr(_cosine_pre(
            _DOT.format(a="q_emb", b="embedding"), "q_nrm", "e_nrm")))
        .withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("n_id"),
                F.col("rank").cast("long").alias("rank"),
                F.round("cos", 4).alias("cos_r"))
    )


def embedding_neardup_bruteforce(spark, sf_dir, threshold: float = NEARDUP_THRESHOLD):
    """Exact all-pairs reference for the LSH-blocked query (test/oracle-scale
    only — the non-equi join is intentionally NOT the registered query)."""
    emb = _emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.expr(_cosine("ea", "eb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos_r"))
    )


ORACLE = {
    "q_embedding_norms": """
        SELECT vec_id,
               round(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
               label
        FROM embeddings
    """,
    "q_cosine_topk": f"""
        WITH scored AS (
            SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                   list_dot_product(
                       list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(n.embedding, x -> CAST(x AS DOUBLE)))
                   / (sqrt(list_dot_product(
                          list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                          list_transform(q.embedding, x -> CAST(x AS DOUBLE))))
                      * sqrt(list_dot_product(
                          list_transform(n.embedding, x -> CAST(x AS DOUBLE)),
                          list_transform(n.embedding, x -> CAST(x AS DOUBLE)))))
                       AS cos
            FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
            WHERE q.vec_id < {N_QUERY}
        ),
        ranked AS (
            SELECT q_id, n_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id ASC) AS rank
            FROM scored
        )
        SELECT q_id, n_id, rank, round(cos, 4) AS cos_r
        FROM ranked WHERE rank <= {TOP_K}
    """,
    # exact brute force: the LSH-blocked Spark query must reproduce it at
    # test scale (recall is ~1 for the thresholds/data under duel)
    "q_embedding_neardup": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                 list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
                 / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                          list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                            list_transform(b.embedding, x -> CAST(x AS DOUBLE))))),
                 4) AS cos_r
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                               list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
              / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
                 * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                         list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
              >= {NEARDUP_THRESHOLD}
    """,
}


def _duck_plane_dot(p: int, prefix: str = "") -> str:
    """DuckDB dot of ``embedding`` with plane ``p`` — THE SAME literal
    weights as the Spark side (generated by the same Python); ``prefix``
    selects a hash table's plane family exactly like ``_plane_weights``."""
    w = ", ".join(repr(v) for v in _plane_weights(p, prefix))
    return (f"list_dot_product(list_transform(embedding, "
            f"x -> CAST(x AS DOUBLE)), ([{w}])[1:len(embedding)])")


ORACLE["q_ann_lsh_buckets"] = f"""
    WITH bucketed AS (
        SELECT vec_id,
               {" || ".join(f"(CASE WHEN {_duck_plane_dot(p)} >= 0 "
                            f"THEN '1' ELSE '0' END)" for p in range(8))}
                   AS bucket
        FROM embeddings
    )
    SELECT bucket, count(*) AS n_vecs
    FROM bucketed GROUP BY bucket HAVING count(*) > 1
"""


def _duck_cos(a: str, b: str) -> str:
    """DuckDB cosine between two embedding list columns (double math)."""
    def dot(x, y):
        return (f"list_dot_product(list_transform({x}, v -> CAST(v AS DOUBLE)), "
                f"list_transform({y}, v -> CAST(v AS DOUBLE)))")
    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


ORACLE["q_ann_ivf_topk"] = f"""
    WITH cents AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cent_id,
               embedding AS c_emb
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {IVF_N_CENT}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cent_id,
               {_duck_cos('e.embedding', 'c.c_emb')} AS sim
        FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cent_id, embedding FROM (
            SELECT vec_id, cent_id, embedding,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cent_id ASC) AS arn
            FROM scored)
        WHERE arn = 1
    ),
    probes AS (
        SELECT q_id, q_emb, cent_id FROM (
            SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.cent_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_duck_cos('q.embedding', 'c.c_emb')} DESC,
                                               c.cent_id ASC) AS prn
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < {N_QUERY})
        WHERE prn <= {IVF_N_PROBE}
    ),
    cand AS (
        SELECT p.q_id, a.vec_id AS n_id,
               {_duck_cos('p.q_emb', 'a.embedding')} AS cos
        FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
        WHERE p.q_id != a.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id ASC) AS rank
        FROM cand
    )
    SELECT q_id, n_id, rank, round(cos, 4) AS cos_r
    FROM ranked WHERE rank <= {TOP_K}
"""


def _recall_vs_exact(exact, ann):
    """Per-query recall bookkeeping shared by the IVF and LSH recall
    queries: (q_id, n_exact, n_hits, recall) from two (q_id, n_id)
    frames — an equi-join of two k*n_query-row frames, so the measurement
    itself costs nothing at any scale."""
    ann = ann.select(F.col("q_id").alias("a_q_id"),
                     F.col("n_id").alias("a_n_id"))
    hits = exact.join(
        ann, (F.col("q_id") == F.col("a_q_id"))
        & (F.col("n_id") == F.col("a_n_id")), "left")
    return (
        hits.groupBy("q_id")
        .agg(F.count("*").alias("n_exact"),
             F.count("a_n_id").alias("n_hits"))
        .withColumn("recall", F.round(
            F.col("n_hits").cast("double") / F.col("n_exact"), 4))
    )


def q_ann_recall(spark, sf_dir, n_query: int = N_QUERY, k: int = TOP_K,
                 n_cent: int = IVF_N_CENT, n_probe: int = IVF_N_PROBE):
    """Measured recall@k of the IVF ANN path against the EXACT cosine top-k
    on the same embeddings — the quality dial a real pipeline tunes nprobe /
    centroid count against (approximate retrieval without a measured recall
    is a guess). Per query: how many of the true top-k the ANN list found.

    Composition of two already-duelled queries joined on (q_id, n_id); see
    :func:`_recall_vs_exact`. Fully SQL-expressible (the oracle composes
    the same two mirrors), so the recall NUMBER duels, not just the lists.
    """
    exact = q_cosine_topk(spark, sf_dir, n_query, k).select("q_id", "n_id")
    ann = q_ann_ivf_topk(spark, sf_dir, n_query, k, n_cent, n_probe)
    return _recall_vs_exact(exact, ann)


def q_ann_lsh_recall(spark, sf_dir, n_query: int = N_QUERY, k: int = TOP_K,
                     n_tables: int = 8, n_planes: int = 8):
    """Measured recall@k of the hyperplane-LSH ANN path: candidates are
    vectors sharing any (table, bucket) with the query across ``n_tables``
    OR-ed hash tables, ranked by exact cosine, cut at k — recalled against
    the exact top-k. The second tuning dial next to :func:`q_ann_recall`
    (bands/tables for LSH, nprobe for IVF).

    Scale shape: the query side is n_query*n_tables rows (broadcast); the
    candidate join is an equi-join on (tbl, bucket). A production variant
    composes with ``lsh_candidate_pairs``'s hot-bucket cap; the duel keeps
    the uncapped form so the oracle's candidate set matches exactly (the
    plane weights are the same literals on both engines)."""
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir)
    bucketed = lsh_bucketed(emb, n_tables=n_tables, n_planes=n_planes)
    qb = bucketed.filter(F.col("vec_id") < n_query).select(
        F.col("vec_id").alias("q_id"), "tbl", "bucket")
    cand = (F.broadcast(qb).join(bucketed, ["tbl", "bucket"])
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", F.col("vec_id").alias("n_id")).distinct())
    qe = emb.select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_emb"))
    ne = emb.select(F.col("vec_id").alias("n_id"),
                    F.col("embedding").alias("n_emb"))
    scored = (cand.join(F.broadcast(qe), "q_id").join(ne, "n_id")
              .withColumn("cos", F.expr(_cosine("q_emb", "n_emb"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    ann = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k).select("q_id", "n_id"))
    exact = q_cosine_topk(spark, sf_dir, n_query, k).select("q_id", "n_id")
    return _recall_vs_exact(exact, ann)


ORACLE["q_ann_recall"] = f"""
    WITH exact AS ({ORACLE["q_cosine_topk"]}),
         ann AS ({ORACLE["q_ann_ivf_topk"]})
    SELECT e.q_id,
           count(*) AS n_exact,
           count(a.n_id) AS n_hits,
           round(CAST(count(a.n_id) AS DOUBLE) / count(*), 4) AS recall
    FROM exact e
    LEFT JOIN ann a ON e.q_id = a.q_id AND e.n_id = a.n_id
    GROUP BY e.q_id
"""


def _duck_lsh_bucket(prefix: str, n_planes: int = 8) -> str:
    return " || ".join(
        f"(CASE WHEN {_duck_plane_dot(p, prefix)} >= 0 "
        f"THEN '1' ELSE '0' END)" for p in range(n_planes))


ORACLE["q_ann_lsh_recall"] = f"""
    WITH bucketed AS (
        {" UNION ALL ".join(
            f"SELECT vec_id, {t} AS tbl, {_duck_lsh_bucket(f't{t}:')} AS bucket FROM embeddings"
            for t in range(8))}
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
        FROM bucketed q
        JOIN bucketed n ON q.tbl = n.tbl AND q.bucket = n.bucket
        WHERE q.vec_id < {N_QUERY} AND n.vec_id != q.vec_id
    ),
    scored AS (
        SELECT c.q_id, c.n_id,
               {_duck_cos('qe.embedding', 'ne.embedding')} AS cos
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.q_id
        JOIN embeddings ne ON ne.vec_id = c.n_id
    ),
    ann AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id, row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
            FROM scored)
        WHERE rank <= {TOP_K}
    ),
    exact AS ({ORACLE["q_cosine_topk"]})
    SELECT e.q_id,
           count(*) AS n_exact,
           count(a.n_id) AS n_hits,
           round(CAST(count(a.n_id) AS DOUBLE) / count(*), 4) AS recall
    FROM exact e
    LEFT JOIN ann a ON e.q_id = a.q_id AND e.n_id = a.n_id
    GROUP BY e.q_id
"""
