"""Each functions.text Column builder equals its ``sql_*`` twin in
DuckDB on hostile documents: NULL, empty and whitespace-only text,
docs shorter than a gram, repeated trigrams, tab/newline, vertical-tab
and form-feed runs, a no-break space inside a word, and docs on either
side of the chunk and paragraph window widths. The md5 sampling keys
of operators.similarity are checked against their twins on the same
rows."""

import pytest

_WINDOW_SIZES = (31, 32, 33, 64, 65, 112, 113)

DOCS = [
    None,
    "",
    "   \t ",
    "one",
    "two words",
    "the cat sat",
    "the cat sat on mats",
    "x y z x y z x y z x y z",
    "  lead\t\ttab\n\nnewline  runs\r\n end ",
    # ≥ 20 tokens: passes every gate
    " ".join(f"w{i}" for i in range(12)) + " the a of and in to is the",
    # ≥ 20 tokens, stopword ratio over the gate
    " ".join(["the a of and in"] * 4) + " cat",
    # ≥ 20 tokens, low stopword ratio, repeated trigrams over the gate
    " ".join(["red green blue"] * 8),
    # a vertical tab is whitespace on both engines (Java's \s has it,
    # RE2's does not)
    "a\x0bb c",
    "Form\f\f\ffeed, run!\x0b\x0b end.",
    "non\u00a0breaking space; A1 b2?",
    # n tokens, one window or block more at each width boundary
    *(" ".join(f"w{i}" for i in range(n)) for n in _WINDOW_SIZES),
]

# (width, step) of plans.text.doc_chunks and plans.dedup.paragraph_dedup
_WINDOWS = ((64, 48), (32, 32))


@pytest.fixture(scope="module")
def twins(spark):
    """{doc_id: (spark row, duckdb row)} of every signal, both engines,
    each a {signal: value} dict."""
    import duckdb
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.functions import num as N
    from immoeliza_pipeline_spark.functions import text as T
    from immoeliza_pipeline_spark.operators import similarity as S

    rows = list(enumerate(DOCS))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    t = docs.select("doc_id", "text", T.tokens(F.col("text")).alias("t"))
    g = t.select("doc_id", "text", "t",
                 T.word_shingles(F.col("t"), 3).alias("g3"),
                 T.word_shingles(F.col("t"), 5).alias("g5"))

    def windows(w, s):
        count = T.window_count(F.size("t"), w, s)
        return [count.alias(f"w{w}"), F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: T.window_slice(F.col("t"), i, w, s)).alias(f"p{w}")]

    sig = g.select(
        "doc_id", "t", T.token_count(F.col("text")).alias("n"), "g3", "g5",
        T.stopword_ratio(F.col("t")).alias("sw"),
        T.dup_trigram_frac(F.col("g3")).alias("rep"),
        T.lang_score(F.col("text"), "en").alias("en"),
        N.quantize(T.avg_word_len(F.col("t")), 10000).alias("awl"),
        N.quantize(T.punct_ratio(F.col("text")), 10000).alias("punct"),
        T.fingerprint(F.col("text")).alias("fp"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(T.SUBWORD), F.lit(0)))
        .alias("sub"),
        *[c for w, s in _WINDOWS for c in windows(w, s)],
        S.md5_bucket16(F.col("doc_id")).alias("b16"),
        S.md5_prefix(F.col("doc_id"), 2).alias("p2"))
    engine = sig.select(
        "*", T.quality_gate(F.col("n"), F.col("sw"), F.col("rep"))
        .alias("gate")).collect()

    sql_windows = ", ".join(
        f"{T.sql_window_count('len(t)', w, s)} AS w{w}, list_transform(range(0, "
        f"{T.sql_window_count('len(t)', w, s)}), i -> {T.sql_window_slice('t', 'i', w, s)})"
        f" AS p{w}" for w, s in _WINDOWS)
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    cur = con.execute(f"""
WITH t AS (SELECT doc_id, text, {T.sql_tokens("text")} AS t FROM docs),
g AS (SELECT *, {T.sql_word_shingles("t", 3)} AS g3,
             {T.sql_word_shingles("t", 5)} AS g5 FROM t),
sig AS (
  SELECT doc_id, t, {T.sql_token_count("text")} AS n, g3, g5,
         {T.sql_stopword_ratio("t")} AS sw, {T.sql_dup_trigram_frac("g3")} AS rep,
         {T.sql_lang_score("t", "en")} AS en,
         {N.sql_quantize(T.sql_avg_word_len("t"), 10000)} AS awl,
         {N.sql_quantize(T.sql_punct_ratio("text"), 10000)} AS punct,
         {T.sql_fingerprint("text")} AS fp,
         len(regexp_extract_all(lower(text), '{T.SUBWORD}')) AS sub,
         {sql_windows},
         {S.sql_md5_bucket16("doc_id")} AS b16, {S.sql_md5_prefix("doc_id", 2)} AS p2
  FROM g
)
SELECT *, {T.sql_quality_gate("n", "sw", "rep")} AS gate FROM sig
""")
    names = [d[0] for d in cur.description]
    oracle = [dict(zip(names, r)) for r in cur.fetchall()]
    return {o["doc_id"]: (e.asDict(), o) for e, o in
            zip(sorted(engine, key=lambda e: e.doc_id),
                sorted(oracle, key=lambda o: o["doc_id"]))}


@pytest.mark.parametrize("doc_id", range(len(DOCS)))
def test_builder_equals_sql_twin(twins, doc_id):
    engine, oracle = twins[doc_id]
    assert engine == oracle, DOCS[doc_id]


def test_gate_decides_each_rule(twins):
    """The long docs pass, fail on stopword ratio and fail on
    repetition, so the twins agree on every outcome, not only on
    NULLs."""
    assert [twins[i][0]["gate"] for i in (9, 10, 11)] == [True, False, False]
    assert twins[7][0]["rep"] == 0.7  # 10 trigrams, 3 distinct


def test_null_and_short_docs_signal_null(twins):
    """A NULL doc has NULL signals and no grams on both engines; a doc
    with fewer than 3 tokens has no duplicate-trigram fraction."""
    engine, _ = twins[0]
    signals = {k: v for k, v in engine.items() if k not in ("doc_id", "b16", "p2")}
    assert signals == {**dict.fromkeys(signals), "g3": [], "g5": []}
    for doc_id in (1, 2, 3, 4):
        assert twins[doc_id][0]["rep"] is None


def test_vertical_tab_and_form_feed_split_tokens(twins):
    """U+000B and U+000C separate tokens; a no-break space does not."""
    assert twins[12][0]["t"] == ["a", "b", "c"]
    assert twins[13][0]["t"] == ["Form", "feed,", "run!", "end."]
    assert twins[14][0]["t"] == ["non\u00a0breaking", "space;", "A1", "b2?"]


def test_window_counts_at_each_width_boundary(twins):
    """1 window up to the width, then one more per started step: the
    64/48 chunks and the 32-token paragraphs of 31…113-token docs."""
    first = DOCS.index(" ".join(f"w{i}" for i in range(_WINDOW_SIZES[0])))
    got = [(twins[i][0]["w64"], twins[i][0]["w32"])
           for i in range(first, first + len(_WINDOW_SIZES))]
    assert got == [(1, 1), (1, 1), (1, 2), (1, 2), (2, 3), (2, 4), (3, 4)]
    pieces = twins[first + len(_WINDOW_SIZES) - 1][0]["p64"]  # 113 tokens
    assert [len(p) for p in pieces] == [64, 64, 17]
    assert pieces[1][0] == "w48"


# (array, packed int): empty, all negative, both zeros, a NULL element,
# one element, 16 positives, and a NULL array
SIGNS = [([], 0), ([-1.0, -2.5, -3.0], 0), ([0.0, -0.0], 0),
         ([1.0, None, 2.0], 5), ([3.0], 1), ([0.5] * 16, 65535), (None, 0)]


def test_pack_sign_bits_equals_sql_twin(spark):
    """functions.num.pack_sign_bits equals sql_pack_sign_bits over the
    first 16 elements (DuckDB reads an index past the end as NULL)."""
    import duckdb
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.functions import num as N

    rows = [(i, a) for i, (a, _) in enumerate(SIGNS)]
    engine = spark.createDataFrame(rows, "i int, a array<double>").select(
        "i", N.pack_sign_bits(F.col("a")).alias("bits")).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, a DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    terms = [f"a[{j + 1}]" for j in range(16)]
    oracle = con.execute(
        f"SELECT i, {N.sql_pack_sign_bits(terms)} FROM t ORDER BY i").fetchall()
    assert sorted((r.i, r.bits) for r in engine) == oracle
    assert [bits for _, bits in oracle] == [bits for _, bits in SIGNS]
