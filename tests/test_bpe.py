"""Unit tests for the distributed BPE merge trainer (operators/bpe.py)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from datagouv_tools_spark.operators.bpe import (
    _merge_fold,
    bpe_oracle_sql,
    bpe_train,
)


def test_bpe_classic_example(spark):
    """The Sennrich et al. toy vocabulary: first merges are pinned by
    hand so a regression in pair counting OR tie-breaking is visible."""
    words = spark.createDataFrame(
        [("low", 2), ("lower", 1), ("newest", 2), ("widest", 1)],
        "w string, wc long",
    )
    rows = bpe_train(words, rounds=3).collect()
    got = [(r.merge_round, r.lft, r.rgt, r.merged, r.cnt) for r in rows]
    # round 1 pair counts: 'es' 3 (newest x2, widest), 'st' 3, 'lo' 3,
    # 'ne' 2, 'we' 2 ... — count ties broken lexicographically: 'es'.
    assert got[0] == (1, "e", "s", "es", 3)
    # round 2: 'es'+'t' now 3, 'lo' 3 — 'es' < 'lo' lexicographically.
    assert got[1] == (2, "es", "t", "est", 3)
    assert got[2] == (3, "l", "o", "lo", 3)


def test_merge_fold_greedy_overlap(spark):
    """'a a a a' with pair (a, a) must merge greedily left-to-right into
    'aa aa' — never 'aaa a' or a re-merge into the fresh tail."""
    df = spark.createDataFrame([("a a a a",), ("b a a b",), ("a",)], "s string")
    out = df.select(
        _merge_fold(F.split("s", " "), F.lit("a"), F.lit("a")).alias("m")
    ).collect()
    assert [r.m for r in out] == ["aa aa", "b aa b", "a"]


def test_merge_fold_sql_equals_column_form(spark):
    """The single-expr SQL fold the trainer/apply paths now build must
    equal the Column-operator fold for every (sequence, pair) case —
    including pairs containing quotes/backslashes (literal escaping)."""
    from datagouv_tools_spark.operators.bpe import _merge_fold_sql

    import random

    rng = random.Random(7)
    alphabet = ["a", "b", "ab", "ba", "aa", "x", "xa", "o'x", "b\\c"]
    rows = []
    for _ in range(100):
        n = rng.randint(1, 9)
        rows.append((" ".join(rng.choice(alphabet) for _ in range(n)),))
    df = spark.createDataFrame(rows, "s string")
    for lft, rgt in [("a", "a"), ("ab", "a"), ("o'x", "b\\c"), ("x", "xa")]:
        got = df.select(F.expr(_merge_fold_sql(lft, rgt)).alias("m")).collect()
        want = df.select(
            _merge_fold(F.split("s", " "), F.lit(lft), F.lit(rgt)).alias("m")
        ).collect()
        assert [r.m for r in got] == [r.m for r in want], (lft, rgt)


def test_merge_fold_sql_under_escaped_string_literals(spark):
    """With ``spark.sql.parser.escapedStringLiterals`` on, the parsed SQL
    fold still equals the Column fold, for a pair holding a quote and a
    backslash as well as for a plain one."""
    from datagouv_tools_spark.operators.bpe import _merge_fold_sql

    df = spark.createDataFrame(
        [("o'x b\\c o'x",), ("a a a",), ("b\\c o'x b\\c",), ("a",)], "s string"
    )
    key = "spark.sql.parser.escapedStringLiterals"
    for lft, rgt in [("o'x", "b\\c"), ("a", "a")]:
        want = df.select(
            _merge_fold(F.split("s", " "), F.lit(lft), F.lit(rgt)).alias("m")
        ).collect()
        spark.conf.set(key, "true")
        try:
            got = df.select(F.expr(_merge_fold_sql(lft, rgt)).alias("m")).collect()
        finally:
            spark.conf.unset(key)
        assert [r.m for r in got] == [r.m for r in want], (lft, rgt)


def test_merge_fold_suffix_boundary(spark):
    """A symbol that merely ENDS with the left token must not merge:
    'xa b' with pair (a, b) stays intact."""
    df = spark.createDataFrame([("xa b",), ("a b",)], "s string")
    out = df.select(
        _merge_fold(F.split("s", " "), F.lit("a"), F.lit("b")).alias("m")
    ).collect()
    assert [r.m for r in out] == ["xa b", "ab"]


def test_bpe_spark_matches_duckdb_on_adversarial_corpus(spark):
    """Repeated-symbol and suffix-colliding words through BOTH engines:
    the full 4-round trainer must agree bit-for-bit."""
    text = "aaaa aaaa aaa banana banana bandana ana na xa ab ab"
    words = (
        spark.createDataFrame([(text,)], "text string")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    got = [
        (r.merge_round, r.lft, r.rgt, r.merged, r.cnt)
        for r in bpe_train(words, rounds=4).collect()
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT '{text}' AS text")
    sql = bpe_oracle_sql(
        4,
        "list_filter(string_split_regex(lower(text), ' +'), t -> t != '')",
    )
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert got == want


def _py_greedy_merge(syms: list[str], lft: str, rgt: str) -> str:
    """Reference greedy left-to-right merge (the BPE scan order)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
            out.append(lft + rgt)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return " ".join(out)


def test_merge_fold_three_way_property(spark):
    """200 seeded random symbol sequences (alphabet crafted so symbols
    are prefixes/suffixes of each other) through the Spark fold, the
    DuckDB list_reduce fold, and a Python reference — all three must
    agree exactly."""
    import random

    rng = random.Random(42)
    alphabet = ["a", "b", "ab", "ba", "aa", "x", "xa"]
    cases = []
    for _ in range(200):
        n = rng.randint(1, 9)
        syms = [rng.choice(alphabet) for _ in range(n)]
        lft, rgt = rng.choice(alphabet), rng.choice(alphabet)
        cases.append((" ".join(syms), lft, rgt))

    df = spark.createDataFrame(cases, "s string, lft string, rgt string")
    got = (
        df.select(
            "s",
            "lft",
            "rgt",
            _merge_fold(F.split("s", " "), F.col("lft"), F.col("rgt")).alias(
                "m"
            ),
        )
        .orderBy("s", "lft", "rgt")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cases (s VARCHAR, lft VARCHAR, rgt VARCHAR)"
    )
    con.executemany("INSERT INTO cases VALUES (?, ?, ?)", cases)
    duck = {
        (r[0], r[1], r[2]): r[3]
        for r in con.execute(
            """
            SELECT s, lft, rgt,
                   list_reduce(string_split(s, ' '), (acc, x) -> CASE
                     WHEN x = rgt
                          AND substr(acc, len(acc) - len(lft) + 1) = lft
                          AND (len(acc) = len(lft)
                               OR substr(acc, len(acc) - len(lft), 1) = ' ')
                     THEN substr(acc, 1, len(acc) - len(lft)) || lft || rgt
                     ELSE acc || ' ' || x END) AS m
            FROM cases
            """
        ).fetchall()
    }
    for r in got:
        want = _py_greedy_merge(r.s.split(" "), r.lft, r.rgt)
        assert r.m == want, (r.s, r.lft, r.rgt, r.m, want)
        assert duck[(r.s, r.lft, r.rgt)] == want, (r.s, r.lft, r.rgt)


def test_bpe_train_corpus_equals_apply(spark):
    """``return_corpus=True`` must hand back exactly what
    ``bpe_apply(words, winners)`` computes — the invariant that lets
    doc_bpe_apply_compression reuse the trainer's final corpus instead
    of re-running the fold chain (mirroring the oracle's ``c6``)."""
    from datagouv_tools_spark.operators.bpe import bpe_apply

    text = "aaaa aaaa aaa banana banana bandana ana na xa ab ab low lower"
    words = (
        spark.createDataFrame([(text,)], "text string")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    winners, corpus = bpe_train(words, rounds=4, return_corpus=True)
    merges = [(r.lft, r.rgt) for r in winners.collect()]
    assert len(merges) == 4
    got = {(r.w, r.wc): r.s for r in corpus.collect()}
    want = {(r.w, r.wc): r.s for r in bpe_apply(words, merges).collect()}
    assert got == want
    # the corpus really merged something (not the raw spaced chars)
    assert any(" " not in s or len(s.split(" ")) < len(w) for (w, _), s in got.items())
