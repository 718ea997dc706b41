"""Salting utilities: results must equal the unsalted equivalents, including
on pathologically hot keys."""

from pyspark.sql import functions as F

from scikg_spark.pipeline.skew import salted_join


def _skewed(spark, n_hot=5000, n_cold=200):
    hot = spark.range(n_hot).select(
        F.lit("hot_key").alias("k"), F.col("id").alias("v"))
    cold = spark.range(n_cold).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v"))
    return hot.union(cold)


def test_salted_join_equals_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot_key", "H"), ("k3", "C3"), ("k7", "C7")], "k string, attr string")
    plain = big.join(small, "k").select("k", "v", "attr")
    salted = salted_join(big, small, "k").select("k", "v", "attr")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_left_join(spark):
    big = _skewed(spark, n_hot=100, n_cold=50)
    small = spark.createDataFrame([("hot_key", "H")], "k string, attr string")
    plain = big.join(small, "k", "left").select("k", "v", "attr")
    salted = salted_join(big, small, "k", how="left").select("k", "v", "attr")
    assert sorted(map(lambda r: (r.k, r.v, r.attr), salted.collect())) == \
           sorted(map(lambda r: (r.k, r.v, r.attr), plain.collect()))


def test_salt_distribution_spreads_hot_key(spark):
    # the hot key's rows must land in >1 salt bucket
    big = _skewed(spark, n_hot=1000, n_cold=0)
    n = (big.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("v").cast("string")), F.lit(16)))
         .filter(F.col("k") == "hot_key")
         .select("__salt").distinct().count())
    assert n > 8


def test_attach_entities_salted_equals_broadcast(spark):
    """stage3.attach_entities: the over-threshold salted path must return
    exactly the broadcast path's rows on a skewed fixture (one hot mention string
    dominating the tuples side)."""
    from pyspark.sql import functions as F

    from scikg_spark.pipeline.stage3 import BROADCAST_MAP_ROWS, attach_entities

    rows = []
    for i in range(400):
        subj = "patients" if i % 4 else f"drug_{i}"  # hot key 3/4 of rows
        rows.append((i // 3, i, "f", 0, subj, "treats", f"disease_{i % 7}"))
    tuples = spark.createDataFrame(
        rows, "doc_id long, stmt_id long, kind string, tuple_idx long, "
              "subj string, pred string, obj string"
    ).withColumn("s_c", F.struct(F.col("subj").alias("text"))) \
     .withColumn("o_c", F.struct(F.col("obj").alias("text")))
    phrase_map = spark.createDataFrame(
        [("patients", 1)] + [(f"disease_{k}", 100 + k) for k in range(7)]
        + [(f"drug_{i}", 1000 + i) for i in range(0, 400, 8)],
        "phrase string, entity_id long")

    map_rows = phrase_map.count()
    via_broadcast = attach_entities(tuples, phrase_map, map_rows).collect()
    via_salted = attach_entities(tuples, phrase_map,
                                 map_rows=BROADCAST_MAP_ROWS + 1).collect()
    # same columns in the same order: the runner commits either path's frame
    assert via_salted[0].__fields__ == via_broadcast[0].__fields__
    assert sorted(map(tuple, via_salted), key=lambda t: t) \
        == sorted(map(tuple, via_broadcast), key=lambda t: t)
    assert {r["subj_entity"] for r in via_salted
            if r["subj"] == "patients"} == {1}
