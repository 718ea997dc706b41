"""Hot-key skew handling: a salted join.

AQE's skew-join splitting (on in session defaults) handles sort-merge joins;
:func:`salted_join` covers the case AQE doesn't: broadcast-ineligible
dimension joins against hot keys (SURVEY.md §4 item 1 — hot entities like
"patients"/"cells" dominate stage-3 joins at 10^12-doc scale).

Salting is deterministic: the salt derives from xxhash64 of the row's other
columns, never from random() — reruns and resumed stages reproduce bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salt: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join where ``small`` is replicated n_salt ways and ``big`` rows
    scatter across salts, so one hot key spreads over n_salt reducers.

    ``small`` must be the smaller side (it is exploded n_salt times) but too
    big / too skewed to broadcast. Only inner/left are supported: for
    right/full joins, unmatched small-side rows would surface once per salt
    replica (n_salt duplicates).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only (got {how!r}): "
            "replicating the small side would duplicate its unmatched rows")
    other_cols = [c for c in big.columns if c != key]
    salt_src = F.xxhash64(*[F.col(c).cast("string") for c in other_cols]) \
        if other_cols else F.xxhash64(F.col(key).cast("string"))
    big_s = big.withColumn("__salt", F.pmod(salt_src, F.lit(n_salt)).cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    out = big_s.join(small_s, [key, "__salt"], how)
    return out.drop("__salt")
