"""Output checks, run outside every timed region.

* ``core_oracle`` re-derives the tuples of a set of pages single-threaded in
  pure Python with the program's ``core`` functions, timing each one (the
  traced run reports those times as ``core.*_us``).
* ``check_warehouse`` compares a committed warehouse against the oracle:
  the ``tuples`` table's row count and xor row digest, edge rows equal to
  tuple rows, and exactly one ``entity_id`` per concept mention.
* ``check_query`` compares a Spark analytics result with its DuckDB mirror.

Each check returns a list of problems; an empty list means the output is
correct.
"""

from __future__ import annotations

import hashlib
import math
import time

TUPLE_KEY = ("url", "stmt_id", "kind", "tuple_idx", "subj", "pred", "obj")
CORE_FUNCS = ("extract_text", "parse_annotated", "rule_tag", "post_decode",
              "serialize_tuple")


def row_hash(row) -> int:
    return int.from_bytes(
        hashlib.blake2b(repr(row).encode(), digest_size=8).digest(), "little")


def digest(rows) -> tuple[int, int]:
    """(row count, xor of row hashes): order-free, multiset-sensitive."""
    n = x = 0
    for row in rows:
        n += 1
        x ^= row_hash(row)
    return n, x


class Oracle:
    """Expected tuples of a page set: digest, concept mentions, statement
    count, and the single-thread seconds spent in each core function."""

    def __init__(self):
        self.n_rows = 0
        self.xor = 0
        self.mentions: set[str] = set()
        self.statements = 0
        self.seconds = dict.fromkeys(CORE_FUNCS, 0.0)

    def add_pages(self, pages: list[dict]) -> "Oracle":
        from scikg_spark.core.decoder import NIL, post_decode
        from scikg_spark.core.parsing import parse_annotated
        from scikg_spark.core.serialize import serialize_tuple
        from scikg_spark.core.tagger import rule_tag
        from scikg_spark.core.textextract import extract_text

        clock = time.perf_counter
        sec = self.seconds
        for page in pages:
            url = page["url"]
            t0 = clock()
            text = extract_text(page["html"])
            sec["extract_text"] += clock() - t0
            for i, line in enumerate(text.split("\n")):
                if not line:
                    continue
                t0 = clock()
                try:
                    words, postags, caps = parse_annotated(line, lower=False)
                except (ValueError, AssertionError):
                    continue
                t1 = clock()
                ft, ct = rule_tag(words, postags, caps)
                t2 = clock()
                sec["parse_annotated"] += t1 - t0
                sec["rule_tag"] += t2 - t1
                self.statements += 1
                for kind, tags in (("f", ft), ("c", ct)):
                    t0 = clock()
                    recs = post_decode(words, tags)
                    sec["post_decode"] += clock() - t0
                    for idx, rec in enumerate(recs):
                        t0 = clock()
                        subj, pred, obj = serialize_tuple(rec)
                        sec["serialize_tuple"] += clock() - t0
                        self.n_rows += 1
                        self.xor ^= row_hash(
                            (url, i + 1, kind, idx + 1, subj, pred, obj))
                        for slot in (rec[0], rec[3]):
                            if slot != NIL:
                                self.mentions.add(slot[0])
        return self

    def core_us(self) -> dict[str, float]:
        """Single-thread microseconds per statement for each core function."""
        n = max(1, self.statements)
        return {name: s * 1e6 / n for name, s in self.seconds.items()}


def check_tuples(rows, oracle: Oracle) -> list[str]:
    """``rows``: the committed tuples table's ``TUPLE_KEY`` columns."""
    n, x = digest(rows)
    problems = []
    if n != oracle.n_rows:
        problems.append(f"tuples: {n} rows, oracle {oracle.n_rows}")
    if x != oracle.xor:
        problems.append("tuples: row digest differs from the oracle")
    return problems


def check_links(n_edges: int, n_tuples: int, mapped_phrases,
                oracle: Oracle) -> list[str]:
    """Edges keep every tuple row; the phrase map holds each concept mention
    of the oracle exactly once (so each has exactly one entity_id)."""
    problems = []
    if n_edges != n_tuples:
        problems.append(f"edges: {n_edges} rows, tuples {n_tuples}")
    phrases = list(mapped_phrases)
    distinct = set(phrases)
    if len(phrases) != len(distinct):
        problems.append(
            f"entity_map: {len(phrases) - len(distinct)} mentions with "
            f"more than one entity_id")
    if distinct != oracle.mentions:
        problems.append(
            f"entity_map: {len(oracle.mentions - distinct)} mentions missing, "
            f"{len(distinct - oracle.mentions)} unexpected")
    return problems


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def normalized(df) -> list[tuple]:
    """Order-free, column-order-free, float-tolerant rows of a pandas frame."""
    cols = sorted(df.columns)
    return sorted(tuple(_cell(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))


def check_query(name: str, spark_df, duck_df) -> list[str]:
    """Compare a query's Spark result with its DuckDB mirror (both pandas)."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"{name}: columns {sorted(spark_df.columns)} vs "
                f"{sorted(duck_df.columns)}"]
    a, b = normalized(spark_df), normalized(duck_df)
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows, oracle {len(b)}"]
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return [f"{name}: {bad} rows differ from the oracle"] if bad else []
