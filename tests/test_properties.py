"""Property-based tests (hypothesis) for the pure-Python helpers.

The reference tests these with hand-picked doctests; hypothesis covers
the input space — idempotence, output invariants, length bounds — the
way SURVEY §5 prescribes extending the reference's strategy.
"""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from datagouv_tools_spark.functions.names import sanitize, to_snake
from datagouv_tools_spark.schema.ddl import c_escape, shorten_identifier

ident = st.text(
    alphabet=string.ascii_letters + string.digits + "_", min_size=1, max_size=40
)


@given(ident)
@settings(max_examples=200)
def test_to_snake_idempotent(name):
    once = to_snake(name)
    assert to_snake(once) == once


@given(ident)
def test_to_snake_output_shape(name):
    out = to_snake(name)
    # lowercase, no double underscores introduced by splitting
    assert out == out.lower()
    assert re.fullmatch(r"[a-z0-9_]*", out)


@given(st.text(min_size=0, max_size=60))
def test_sanitize_ascii_and_idempotent(text):
    out = sanitize(text)
    assert out == sanitize(out)
    assert all(ord(ch) < 128 for ch in out)
    assert " " not in out


@given(st.lists(ident, min_size=1, max_size=6), st.integers(min_value=8, max_value=64))
def test_shorten_identifier_bounded(parts, max_len):
    out = shorten_identifier(parts, max_len=max_len)
    # vowel-stripping may not suffice for pathological inputs, but the
    # common case must fit; at minimum the function never raises and
    # returns a non-empty joined identifier
    assert out
    joined = "_".join(parts)
    if len(joined) <= max_len:
        assert out == joined


@given(st.text(min_size=0, max_size=60))
def test_c_escape_roundtrippable_shape(text):
    out = c_escape(text)
    # always a complete E'…' literal with balanced quoting: every
    # single quote in the body is escaped
    assert out.startswith("E'") and out.endswith("'")
    body = out[2:-1]
    assert re.search(r"(?<!\\)'", body) is None


# --- cross-engine determinism: Spark expressions vs DuckDB -----------------
#
# The oracle gate only proves agreement on the testdata corpus; these
# properties prove it for ADVERSARIAL strings (control chars incl. the
# Java-vs-RE2 \x0B whitespace divergence, unicode, quotes, emoji) by
# running the same batch through both engines.

_nasty_text = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x09, max_codepoint=0x0D),  # \t\n\x0B\f\r
        st.just(" "),
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from("éàüß日本語🙂  "),  # incl. unicode spaces
    ),
    max_size=60,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(_nasty_text, min_size=1, max_size=8))
def test_tokenizer_and_hash_match_duckdb(spark, texts):
    import duckdb

    from datagouv_tools_spark.functions.text import fingerprint_md5, token_count
    from datagouv_tools_spark.functions.xhash import md5_hash60

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r["i"]: (r["n"], r["fp"], r["h"])
        for r in df.select(
            "i",
            token_count("text").alias("n"),
            fingerprint_md5("text").alias("fp"),
            md5_hash60("text").alias("h"),
        ).collect()
    }
    con = duckdb.connect()
    from datagouv_tools_spark.queries import _SQL_FP, _SQL_TOKENS

    for i, t in enumerate(texts):
        n, fp, h = con.execute(
            f"SELECT len({_SQL_TOKENS}), {_SQL_FP},"
            " ('0x' || substr(md5(text), 1, 15))::BIGINT"
            " FROM (SELECT ? AS text)",
            [t],
        ).fetchone()
        assert got[i] == (n, fp, h), f"diverged on {t!r}: spark={got[i]} duckdb={(n, fp, h)}"


@settings(max_examples=12, deadline=None)
@given(
    st.lists(_nasty_text, min_size=1, max_size=6),
    st.integers(min_value=1, max_value=5),
)
def test_segment_dedup_matches_bruteforce(spark, texts, seg_len):
    """segment_dedup_marks (operators/dedup) vs a pure-Python
    brute-force reference on adversarial strings: identical segment
    counts and identical keep/drop verdicts — the distributed
    groupBy-min + hash-join machinery must equal 'first occurrence in
    (doc_id, seg_idx) order' exactly, including empty docs, whitespace
    runs, and sub-seg_len tails."""
    import math

    from datagouv_tools_spark.operators.dedup import segment_dedup_marks

    # Python reference, mirroring functions/text.tokens (split on the
    # pinned whitespace class, lowercase, drop empties)
    ref_segs = []
    for doc_id, text in enumerate(texts):
        toks = [t for t in re.split("[ \t\r\n\f\x0b]+", text.lower()) if t]
        for i in range(math.ceil(len(toks) / seg_len)):
            ref_segs.append(
                (doc_id, i, " ".join(toks[i * seg_len: (i + 1) * seg_len]))
            )
    first: dict[str, tuple[int, int]] = {}
    for doc_id, i, seg in sorted(ref_segs):
        first.setdefault(seg, (doc_id, i))
    expect = {
        (doc_id, i): first[seg] == (doc_id, i) for doc_id, i, seg in ref_segs
    }

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["seg_idx"]): r["kept"]
        for r in segment_dedup_marks(
            df, "doc_id", "text", seg_len=seg_len
        ).collect()
    }
    assert got == expect, f"texts={texts!r} seg_len={seg_len}"


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_nasty_text, min_size=1, max_size=5),
    st.integers(min_value=1, max_value=4),
)
def test_scrub_reassembly_matches_bruteforce(spark, texts, seg_len):
    """Boilerplate-scrub reassembly (segment_dedup_marks +
    functions/curation.reassembled_kept_text — the expression shared by
    the batch query, the curate pipeline, and the streaming gate) vs a
    pure-Python reference: per-doc cleaned text must match exactly on
    adversarial strings."""
    import math

    from datagouv_tools_spark.functions.curation import reassembled_kept_text
    from datagouv_tools_spark.operators.dedup import segment_dedup_marks

    ref_segs = []
    for doc_id, text in enumerate(texts):
        toks = [t for t in re.split("[ \t\r\n\f\x0b]+", text.lower()) if t]
        for i in range(math.ceil(len(toks) / seg_len)):
            ref_segs.append(
                (doc_id, i, " ".join(toks[i * seg_len: (i + 1) * seg_len]))
            )
    first: dict[str, tuple[int, int]] = {}
    for doc_id, i, seg in sorted(ref_segs):
        first.setdefault(seg, (doc_id, i))
    expect = {
        doc_id: " ".join(
            seg
            for d2, i, seg in sorted(ref_segs)
            if d2 == doc_id and first[seg] == (d2, i)
        )
        for doc_id in range(len(texts))
        if any(d == doc_id for d, _, _ in ref_segs)
    }

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    marks = segment_dedup_marks(
        df, "doc_id", "text", seg_len=seg_len, keep_seg_text=True
    )
    got = {
        r["doc_id"]: r["cleaned"]
        for r in marks.groupBy("doc_id")
        .agg(reassembled_kept_text().alias("cleaned"))
        .collect()
    }
    assert got == expect, f"texts={texts!r} seg_len={seg_len}"


@given(st.dictionaries(
    st.sampled_from(["host", "port", "dbname", "user", "password", "options"]),
    st.text(max_size=20),
))
def test_conninfo_roundtrips_through_the_dsn_parser(params):
    """Any text value, quotes, backslashes, spaces and newlines
    included, reads back from the key=value text ``_conninfo`` writes."""
    from datagouv_tools_spark.sinks.pg_copy import _conninfo, _dsn_params

    assert _dsn_params(_conninfo(params)) == params
