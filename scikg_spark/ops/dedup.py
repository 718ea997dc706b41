"""Deduplication operators over ``documents``:

  * exact        — md5(text) hash-groupBy
  * MinHash-LSH  — word-3-gram shingles -> 8 md5-minhashes -> bands of 2 ->
                   candidate pairs sharing a band (banding is pure SQL on both
                   engines, so the oracle checks the full scheme)
  * n-gram Jaccard — word-bigram set overlap within (lang, source) blocks
  * SimHash      — 16-bit token sketch with engine-neutral bit math
                   (md5/substring/instr/floor agree on Spark and DuckDB,
                   so the full sketch is oracle-checked)

Scale notes: all pair generation goes through explode + equi-join on a
blocking key (band / bucket+bigram) — never a cross join; bucket widths are
bounded by the group-by-count guard (``_MAX_BUCKET``, same pattern as
stage3.lsh_candidate_pairs) so a hot band key / stop-bigram cannot explode
into O(n^2) pairs. The DuckDB oracles carry the identical cap, so the duels
check the capped semantics."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from scikg_spark.pipeline.stage3 import _pairs_sql

_N_HASHES = 8
_BAND_SIZE = 2
# a blocking key seen in more than this many docs is dropped, not self-joined
_MAX_BUCKET = 64

# MinHash via ONE md5 per distinct shingle + N_HASHES Carter-Wegman mixes
# ((a*h + b) mod P over the 32-bit md5 prefix) instead of N_HASHES md5 calls
# per shingle — 8x less hashing, and the mix constants are md5-derived
# Python literals embedded in BOTH engines' SQL, so the duel still checks
# the whole scheme. a*h < 2^31 * 2^32 < 2^63: plain bigint math agrees.
_MINHASH_P = 2_147_483_647


def _mix_consts(i: int) -> tuple[int, int]:
    d = hashlib.md5(f"minhash-mix:{i}".encode()).digest()
    a = int.from_bytes(d[:4], "big") % (_MINHASH_P - 1) + 1
    b = int.from_bytes(d[4:8], "big") % _MINHASH_P
    return a, b


_MIX = [_mix_consts(i) for i in range(_N_HASHES)]


def _docs(spark, sf_dir):
    # every dedup op does per-doc token/shingle/hash work on the scan side,
    # so parallelism must track cores, not input splits (see helper doc)
    from scikg_spark.pipeline.session import parallelize_scan

    return parallelize_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_dedup_exact(spark, sf_dir):
    # one md5 per doc is metadata-rate work: the parallelize_scan shuffle
    # would dominate it (measured 0.27 s -> 1.3 s), so read the raw scan
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def _gram_sql(k: int, col: str = "toks") -> str:
    """Spark-SQL text for the word k-gram array over a pre-split token
    column. Referencing a `toks` ATTRIBUTE inside the lambda is the whole
    point: the previous form inlined split(text) into the transform lambda,
    which re-split the document once PER GRAM (O(n^2) per doc — measured 6x
    slower on the bigram pass). The guard keeps sequence() from running
    backwards on short docs (sequence(1, 0) steps -1)."""
    if k == 2:
        body = (f"zip_with(slice({col}, 1, size({col}) - 1), "
                f"slice({col}, 2, size({col}) - 1), "
                "(a, b) -> concat(a, ' ', b))")
    else:
        parts = ", ' ', ".join(
            f"element_at({col}, i + {j})" for j in range(k))
        body = (f"transform(sequence(1, size({col}) - {k - 1}), "
                f"i -> concat({parts}))")
    return f"case when size({col}) < {k} then array() else {body} end"


def _word_shingles(k: int):
    """word k-gram strings of a pre-split `toks` column (empty array when
    too short) — callers project ``F.split("text", " ").alias("toks")``
    first (one split per row, reused by every gram)."""
    return F.expr(_gram_sql(k))


def q_minhash_dup_pairs(spark, sf_dir):
    """Candidate near-duplicate pairs: docs sharing >= 1 LSH band.

    Plan shape (round 6): ONE subtree — scan -> split once -> distinct
    3-gram shingles -> one md5 per shingle + Carter-Wegman mixes -> band
    explode -> groupBy (band, key) collect_list -> in-place pair expansion
    -> distinct. The previous self-join form planned the capped-band frame
    as a BroadcastHashJoin whose build side re-ran the whole signature
    pipeline (two scans, two shingle+md5 passes, two window shuffles), and
    its expensive size(shingles)>0 filter was pushed below the
    parallelize_scan exchange where it ran inside the 1-2 scan tasks:
    measured 12.1 s -> 1.5 s at sf1.0 for identical output. The word-count
    gate is the cheap equivalent (>= 3 words <=> >= 1 shingle, the oracle's
    own guard) so nothing heavy runs before the round-robin exchange."""
    docs = _docs(spark, sf_dir).filter(F.size(F.split("text", " ")) >= 3)
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    sh = toked.select(
        "doc_id", F.expr(f"array_distinct({_gram_sql(3)})").alias("sh"))
    hb = sh.select("doc_id", F.expr(
        "transform(sh, s -> cast(conv(substring(md5(s), 1, 8), 16, 10) "
        "as bigint))").alias("hb"))
    sig = hb.select("doc_id", *[
        F.expr(f"array_min(transform(hb, h -> "
               f"({a} * h + {b}) % {_MINHASH_P}))").alias(f"h{i}")
        for i, (a, b) in enumerate(_MIX)
    ])
    bands = []
    for b in range(_N_HASHES // _BAND_SIZE):
        cols = [F.col(f"h{b * _BAND_SIZE + j}") for j in range(_BAND_SIZE)]
        bands.append(F.struct(
            F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("key")))
    banded = (
        sig.select("doc_id", F.explode(F.array(*bands)).alias("bk"))
        .select("doc_id", "bk.band", "bk.key")
    )
    # bucket cap: a hot band key (boilerplate-heavy shingles) is dropped, not
    # exploded quadratically — size(ids) is exactly the old window count.
    # Pair generation happens in place on the collected bucket (<= 64 ids),
    # so the whole query needs one grouping shuffle + the distinct, and the
    # signature pipeline is computed exactly once.
    grouped = banded.groupBy("band", "key").agg(
        F.collect_list("doc_id").alias("ids"))
    return (
        grouped
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _MAX_BUCKET))
        .select(F.explode(F.expr(_pairs_sql("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def q_ngram_jaccard_pairs(spark, sf_dir, threshold: float = 0.5):
    """Word-bigram Jaccard >= threshold within (lang, source) blocks.

    Plan shape (round 6): scan once -> split once -> hashed distinct bigram
    set per doc (60-bit md5-prefix ints, engine-neutral; per-doc dedup in
    place mirrors the oracle's DISTINCT-on-hash even under a collision) ->
    set size captured in the SAME pass (no separate sizes subtree
    re-running every md5) -> window cap -> localCheckpoint -> shuffled-hash
    band self-join -> ONE pair aggregation. The previous form evaluated the
    whole gram pipeline once per join side plus twice more for the size
    joins, and its expensive >=1-bigram filter (which built the gram array
    just to test emptiness) was pushed below the parallelize_scan exchange
    into the 1-2 scan tasks; the cheap word-count gate (>= 2 words <=> >= 1
    bigram, the oracle's own guard) plus the checkpointed single subtree
    cut sf1.0 from 27.1 s to ~16 s for identical output. The intermediate
    is inherently heavy on this corpus (34M capped pair instances -> 12M
    distinct pairs; the cap and the blocking keys are duel-frozen), so the
    remaining cost is the pair aggregation itself. Union sizes stay exact —
    n_grams is computed before the cap; the hot-gram cap (a stop-bigram in
    > _MAX_BUCKET docs of one block is excluded from PAIR GENERATION) is
    the window count, mirrored in the oracle."""
    docs = _docs(spark, sf_dir).filter(F.size(F.split("text", " ")) >= 2)
    toked = docs.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("toks"))
    hashed = toked.select(
        "doc_id", "lang", "source",
        F.expr(f"array_distinct(transform(array_distinct({_gram_sql(2)}), "
               "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)))"
               ).alias("grams"))
    # materialize the gram table once: every consumer below (hot-gram
    # counts, both self-join sides) reads this checkpoint instead of
    # re-running the scan+md5 pipeline
    grams = hashed.select(
        "doc_id", "lang", "source", F.size("grams").alias("n_grams"),
        F.explode("grams").alias("gram_h")).localCheckpoint()
    # hot-gram cap as a broadcast ANTI-join: the >cap keys are a tiny
    # fraction of the gram vocabulary (7.3k of 91.6k groups at sf1.0), so
    # dropping them map-side beats sorting the whole gram table under a
    # window (measured ~2 s at sf1.0 in like-for-like weather). At a scale
    # where the hot list itself outgrows a broadcast (a web corpus's
    # stop-bigram vocabulary), swap this back to the window-count form —
    # semantics identical either way.
    hot = (grams.groupBy("lang", "source", "gram_h").count()
           .filter(F.col("count") > _MAX_BUCKET)
           .select("lang", "source", "gram_h")
           # materialized: both join sides broadcast this list, and the
           # planner does not reuse the aggregation between them
           .localCheckpoint())
    capped = grams.join(F.broadcast(hot), ["lang", "source", "gram_h"],
                        "left_anti")
    a = capped.select("lang", "source", "gram_h",
                      F.col("doc_id").alias("doc_a"),
                      F.col("n_grams").alias("na"))
    b = capped.select("lang", "source", "gram_h",
                      F.col("doc_id").alias("doc_b"),
                      F.col("n_grams").alias("nb"))
    # explicit hash repartition by the pair key, THEN aggregate: the pair
    # stream has ~3 instances per distinct pair, so map-side partial
    # aggregation builds million-entry hash tables for almost no row
    # reduction — pre-partitioning lets Spark plan ONE complete-mode
    # aggregation instead of partial+final (measured 11-15 s -> 6-8 s for
    # this stage at sf1.0, interleaved A/B across host-load levels).
    # Identical results: hash partitioning is deterministic on the key and
    # count/min are order-insensitive. Width follows the cluster (2x
    # defaultParallelism), not a local constant.
    n_parts = 2 * spark.sparkContext.defaultParallelism
    inter = (
        a.join(b.hint("shuffle_hash"), ["lang", "source", "gram_h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .repartition(n_parts, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"),
             # na/nb are functionally dependent on doc_a/doc_b (one gram-set
             # size per doc); min() is just the deterministic picker
             F.min("na").alias("na"), F.min("nb").alias("nb"))
    )
    return (
        inter
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") /
                    (F.col("na") + F.col("nb") - F.col("n_common")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _simhash_bit_expr(j: int) -> str:
    """Bit j (0..15) of an engine-neutral 16-bit token hash: hex digit
    ``j // 4`` of md5(tok), bit ``j % 4`` — identical SQL on Spark and
    DuckDB (md5 / substring / instr / floor / %% agree)."""
    p = j // 4 + 1
    return (f"cast(floor((instr('0123456789abcdef', "
            f"substring(md5(tok), {p}, 1)) - 1) / {2 ** (j % 4)}) as int) % 2")


def q_simhash_buckets(spark, sf_dir):
    """16-bit SimHash over distinct tokens; returns buckets with >1 doc.
    The bit math is engine-neutral SQL, so the full sketch is oracle-checked."""
    docs = _docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    bits = toks.select(
        "doc_id",
        *[F.expr(f"2 * ({_simhash_bit_expr(i)}) - 1").alias(f"b{i}")
          for i in range(16)])
    agg = bits.groupBy("doc_id").agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(16)])
    simhash = agg.select(
        "doc_id",
        sum([
            F.when(F.col(f"s{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
            for i in range(16)
        ], F.lit(0)).cast("long").alias("simhash"))
    return (
        simhash.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .filter(F.col("n_docs") > 1)
    )


def _sql_shingles(k: int) -> str:
    toks = "string_split(text, ' ')"
    return (f"list_transform(generate_series(1, len({toks}) - {k - 1}), "
            f"i -> array_to_string({toks}[i:i+{k - 1}], ' '))")


ORACLE = {
    "q_dedup_exact": """
        SELECT md5(text) AS text_hash, count(*) AS n_dups,
               min(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
    "q_minhash_dup_pairs": f"""
        WITH shingled AS (
            SELECT DISTINCT doc_id, unnest({_sql_shingles(3)}) AS shingle
            FROM documents WHERE len(string_split(text, ' ')) >= 3
        ),
        based AS (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h
            FROM shingled
        ),
        sig AS (
            SELECT doc_id,
                   {', '.join(f"min(({a} * h + {b}) % {_MINHASH_P}) AS h{i}"
                              for i, (a, b) in enumerate(_MIX))}
            FROM based GROUP BY doc_id
        ),
        banded AS (
            {' UNION ALL '.join(
                f"SELECT doc_id, {b} AS band, "
                f"h{b * _BAND_SIZE} || '|' || h{b * _BAND_SIZE + 1} AS key FROM sig"
                for b in range(_N_HASHES // _BAND_SIZE))}
        ),
        kept AS (
            SELECT bd.* FROM banded bd
            JOIN (SELECT band, key FROM banded GROUP BY band, key
                  HAVING count(*) <= {_MAX_BUCKET}) cap
              ON bd.band = cap.band AND bd.key = cap.key
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
    "q_ngram_jaccard_pairs": f"""
        WITH raw_grams AS (
            SELECT doc_id, lang, source,
                   unnest({_sql_shingles(2)}) AS gram
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ),
        grams AS (
            SELECT DISTINCT doc_id, lang, source,
                   ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gram_h
            FROM raw_grams
        ),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
        kept AS (
            SELECT g.* FROM grams g
            JOIN (SELECT lang, source, gram_h FROM grams GROUP BY 1, 2, 3
                  HAVING count(*) <= {_MAX_BUCKET}) cap
              ON g.lang = cap.lang AND g.source = cap.source
             AND g.gram_h = cap.gram_h
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM kept a JOIN kept b
              ON a.lang = b.lang AND a.source = b.source
             AND a.gram_h = b.gram_h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common), 4)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common), 4) >= 0.5
    """,
}


def q_dedup_keep_policy(spark, sf_dir):
    """Near-duplicate REMOVAL: cluster MinHash candidate pairs with connected
    components and keep min(doc_id) per cluster — the actual training-data
    dedup action (rows-only: CC is iterative, not SQL). Returns the kept doc
    set with cluster sizes."""
    from pyspark.sql import functions as F

    from scikg_spark.pipeline.stage3 import connected_components

    # raw scan, not parallelize_scan: the vertex list is a metadata-rate
    # doc_id projection (same rule as q_dedup_exact — the round-robin
    # exchange would cost more than the scan)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    pairs = q_minhash_dup_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(edges, docs.select(F.col("doc_id").alias("id")))
    return (
        comp.groupBy(F.col("comp").alias("keep_doc_id"))
        .agg(F.count("*").alias("cluster_size"))
    )


# Connected components IS SQL-expressible at oracle scale via a recursive
# CTE (transitive closure + min-reachable-id), so the keep-policy query gets
# a full rows/schema/hash duel — the Spark side stays the iterative hash-min
# CC (closure would explode at web scale; the recursion is oracle-only).
ORACLE["q_dedup_keep_policy"] = f"""
    WITH RECURSIVE pairs AS ({ORACLE["q_minhash_dup_pairs"]}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
        SELECT doc_id AS a, doc_id AS b FROM documents
        UNION
        SELECT r.a, e.dst AS b FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (SELECT a, min(b) AS comp FROM reach GROUP BY a)
    SELECT comp AS keep_doc_id, count(*) AS cluster_size
    FROM comp GROUP BY comp
"""


ORACLE["q_simhash_buckets"] = f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE n_chars > 0
    ),
    bits AS (
        SELECT doc_id,
               {', '.join(f"2 * ({_simhash_bit_expr(i)}) - 1 AS b{i}"
                          for i in range(16))}
        FROM toks
    ),
    agg AS (
        SELECT doc_id, {', '.join(f"sum(b{i}) AS s{i}" for i in range(16))}
        FROM bits GROUP BY doc_id
    ),
    sim AS (
        SELECT doc_id,
               CAST({' + '.join(f"CASE WHEN s{i} > 0 THEN {2**i} ELSE 0 END"
                                for i in range(16))} AS BIGINT) AS simhash
        FROM agg
    )
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc
    FROM sim GROUP BY simhash HAVING count(*) > 1
"""


# -- benchmark-contamination check -------------------------------------------

CONTAM_K = 8          # word k-grams (the n-gram size eval-contamination
                      # scans usually use)
CONTAM_BAND = "0"     # benchmark set = docs whose salted md5 starts with
                      # this hex digit (~1/16 of the corpus) — deterministic,
                      # engine-neutral stand-in for a real eval-set table


def _capped_gram_groups(spark, sf_dir):
    """(gram_h, ids) groups of the word-8-gram table, hot grams dropped —
    the shared corpus side of both contamination scans. One scan, one split
    per doc, per-doc dedup in place (double array_distinct mirrors the
    oracle's DISTINCT-on-hash exactly), ONE grouping shuffle; size(ids) is
    exactly the old window count, so the cap semantics are unchanged."""
    docs = _docs(spark, sf_dir).filter(
        F.size(F.split("text", " ")) >= CONTAM_K)
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    grams = toked.select("doc_id", F.explode(F.expr(
        f"array_distinct(transform(array_distinct({_gram_sql(CONTAM_K)}), "
        "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)))"
    )).alias("gram_h"))
    return (grams.groupBy("gram_h")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") <= _MAX_BUCKET))


def q_contamination(spark, sf_dir):
    """Benchmark-contamination scan: corpus documents sharing at least one
    word-8-gram with any held-out 'benchmark' document. The real-world op
    joins training docs against an eval-set gram table; here the benchmark
    band is carved deterministically out of the same corpus so the whole
    scheme duels.

    Plan shape (round 6): the capped gram groups come from ONE grouping
    shuffle (:func:`_capped_gram_groups`); the bench/corpus split and the
    corpus x bench matches are expanded IN PLACE per gram group (both
    bounded by the _MAX_BUCKET cap), replacing the previous window-cap +
    self-join form that evaluated the 8-gram md5 pipeline once per join
    side. Output: one row per contaminated corpus doc with distinct
    shared-gram and benchmark-doc counts — identical to the join form."""
    grouped = _capped_gram_groups(spark, sf_dir)
    is_b = (f"substring(md5(concat('bench:', cast(d as string))), 1, 1) "
            f"= '{CONTAM_BAND}'")
    split_ = grouped.select(
        "gram_h",
        F.expr(f"filter(ids, d -> {is_b})").alias("bench"),
        F.expr(f"filter(ids, d -> not ({is_b}))").alias("corp"))
    matches = (
        split_
        .filter((F.size("bench") > 0) & (F.size("corp") > 0))
        .select("gram_h", F.explode(F.expr(
            "flatten(transform(corp, c -> transform(bench, b -> "
            "named_struct('doc_id', c, 'bench_doc', b))))")).alias("p"))
        .select("gram_h", "p.doc_id", "p.bench_doc")
    )
    return (
        matches.groupBy("doc_id")
        .agg(F.countDistinct("gram_h").alias("n_shared_grams"),
             F.countDistinct("bench_doc").alias("n_bench_docs"))
    )


ORACLE["q_contamination"] = f"""
    WITH grams AS (
        SELECT DISTINCT doc_id,
               ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gram_h
        FROM (SELECT doc_id, unnest({_sql_shingles(CONTAM_K)}) AS gram
              FROM documents
              WHERE len(string_split(text, ' ')) >= {CONTAM_K}) g
    ),
    capped AS (
        SELECT gr.* FROM grams gr
        JOIN (SELECT gram_h FROM grams GROUP BY gram_h
              HAVING count(*) <= {_MAX_BUCKET}) cap
          ON gr.gram_h = cap.gram_h
    ),
    flagged AS (
        SELECT *, substring(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 1)
                      = '{CONTAM_BAND}' AS is_bench
        FROM capped
    )
    SELECT c.doc_id,
           count(DISTINCT c.gram_h) AS n_shared_grams,
           count(DISTINCT b.doc_id) AS n_bench_docs
    FROM flagged c
    JOIN flagged b ON c.gram_h = b.gram_h
    WHERE NOT c.is_bench AND b.is_bench
    GROUP BY c.doc_id
"""


# -- contamination against the REAL held-out eval corpus ----------------------

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# overridable so the library runs on layouts without the reference checkout
# (the committed checkpoints/eval_grams parquet then serves as the shipped
# benchmark-gram artifact)
_EVAL_TSV = os.environ.get("SPARK_GRAFT_EVAL_TSV",
                           "/root/reference/data/stmts-eval.tsv")
_EVAL_GRAMS_DIR = os.path.join(_REPO_ROOT, "checkpoints", "eval_grams")


def eval_gram_table(tsv_path: str = _EVAL_TSV,
                    out_dir: str = _EVAL_GRAMS_DIR) -> str:
    """Materialize the held-out benchmark's word-8-gram table from the
    reference's annotated eval TSV (statement token streams, S2 parser) as a
    small parquet of (stmt_id, gram_h) — ``gram_h`` hashed exactly like the
    corpus grams (md5 15-hex-digit prefix as bigint), so it equi-joins
    against the corpus gram table on either engine. Fingerprinted by the
    TSV's content hash (a byte-identical copy at another path or mtime
    hits; any edit misses); DuckDB mirrors read the same file. At
    production scale this table is tiny (benchmarks are KBs-MBs) and
    broadcasts.

    When the source TSV is unavailable (no reference checkout) or the
    checkpoint tree is read-only, the previously-materialized parquet is
    served as the shipped artifact — freshness can't be re-verified without
    the source, and a benchmark-gram table is immutable in practice anyway."""
    import pandas as pd

    pq_path_shipped = os.path.join(out_dir, "grams.parquet")
    if not os.path.isfile(tsv_path):
        if os.path.isfile(pq_path_shipped):
            # freshness can't be re-verified without the source TSV — say so
            # instead of silently serving a possibly-stale artifact (ADVICE
            # r5): a reappearing TSV re-runs the fingerprint check above.
            import sys

            print(f"eval_gram_table: source TSV {tsv_path!r} missing; "
                  f"serving shipped gram table {pq_path_shipped!r} "
                  f"without a freshness check", file=sys.stderr)
            return pq_path_shipped
        raise FileNotFoundError(
            f"benchmark TSV {tsv_path!r} missing and no materialized "
            f"gram table at {pq_path_shipped!r}")
    h = hashlib.sha256()
    with open(tsv_path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    fp = f"v2:sha256:{h.hexdigest()}"
    fp_path = os.path.join(out_dir, "FINGERPRINT")
    pq_path = os.path.join(out_dir, "grams.parquet")
    if os.path.isfile(fp_path) and os.path.isfile(pq_path):
        with open(fp_path) as fh:
            if fh.read().strip() == fp:
                return pq_path
    from scikg_spark.core.parsing import parse_stmt_blocks

    rows = []
    with open(tsv_path) as fh:
        for sid, block in enumerate(parse_stmt_blocks(fh)):
            words = list(block["words"])
            for i in range(len(words) - CONTAM_K + 1):
                gram = " ".join(words[i:i + CONTAM_K])
                h = int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)
                rows.append((sid, h))
    os.makedirs(out_dir, exist_ok=True)
    pd.DataFrame(rows, columns=["stmt_id", "gram_h"]) \
        .drop_duplicates().to_parquet(pq_path, index=False)
    with open(fp_path, "w") as fh:
        fh.write(fp + "\n")
    return pq_path


def q_contamination_eval(spark, sf_dir):
    """Contamination against the ACTUAL held-out benchmark: corpus documents
    sharing a word-8-gram with the reference's eval corpus
    (data/stmts-eval.tsv) — the real-world version of
    :func:`q_contamination` (whose benchmark band is a same-corpus
    carve-out proving the join shape).

    Scale shape: the corpus side is the shared capped gram-group pipeline
    (:func:`_capped_gram_groups` — one scan, one grouping shuffle); the
    benchmark gram table is broadcast (benchmarks are tiny next to a
    100-TB corpus) so the big side never shuffles. Empty output means the
    training corpus is clean — the expected state."""
    grouped = _capped_gram_groups(spark, sf_dir)
    bench = spark.read.parquet(eval_gram_table()).select(
        F.col("stmt_id").alias("bench_stmt"), "gram_h")
    return (
        grouped.join(F.broadcast(bench), "gram_h")
        .select("gram_h", "bench_stmt", F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.countDistinct("gram_h").alias("n_shared_grams"),
             F.countDistinct("bench_stmt").alias("n_bench_stmts"))
    )


def _contamination_eval_oracle() -> str:
    # rendered at call time so the fingerprint-checked parquet exists and the
    # path tracks eval_gram_table()'s output
    pq = eval_gram_table()
    return f"""
    WITH grams AS (
        SELECT DISTINCT doc_id,
               ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gram_h
        FROM (SELECT doc_id, unnest({_sql_shingles(CONTAM_K)}) AS gram
              FROM documents
              WHERE len(string_split(text, ' ')) >= {CONTAM_K}) g
    ),
    capped AS (
        SELECT gr.* FROM grams gr
        JOIN (SELECT gram_h FROM grams GROUP BY gram_h
              HAVING count(*) <= {_MAX_BUCKET}) cap
          ON gr.gram_h = cap.gram_h
    )
    SELECT c.doc_id,
           count(DISTINCT c.gram_h) AS n_shared_grams,
           count(DISTINCT b.stmt_id) AS n_bench_stmts
    FROM capped c
    JOIN read_parquet('{pq}') b ON c.gram_h = b.gram_h
    GROUP BY c.doc_id
"""


def render_oracle() -> dict[str, str]:
    """Oracle entries whose rendering needs file IO (the eval-gram parquet
    must exist on disk before the SQL string can reference it). Called
    lazily by ``__spark_entry__.oracle_sql()`` / the parity harness — never
    at import time, so importing this module neither stats the reference
    checkout nor writes checkpoints (ADVICE r4, medium)."""
    try:
        return {"q_contamination_eval": _contamination_eval_oracle()}
    except FileNotFoundError:
        # no reference checkout and no shipped gram table: the query can't
        # run either, so omitting its mirror is the consistent degradation
        return {}
