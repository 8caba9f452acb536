"""Each functions.text Column builder equals its ``sql_*`` twin in
DuckDB on hostile documents: NULL, empty and whitespace-only text,
docs shorter than a gram, repeated trigrams and tab/newline runs."""

import pytest

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
]


@pytest.fixture(scope="module")
def twins(spark):
    """{doc_id: (spark row, duckdb row)} of every signal, both engines."""
    import duckdb
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.functions import text as T

    rows = list(enumerate(DOCS))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    t = docs.select("doc_id", "text", T.tokens(F.col("text")).alias("t"))
    g = t.select("doc_id", "text", "t",
                 T.word_shingles(F.col("t"), 3).alias("g3"),
                 T.word_shingles(F.col("t"), 5).alias("g5"))
    sig = g.select(
        "doc_id", T.token_count(F.col("text")).alias("n"), "g3", "g5",
        T.stopword_ratio(F.col("t")).alias("sw"),
        T.dup_trigram_frac(F.col("g3")).alias("rep"),
        T.lang_score(F.col("text"), "en").alias("en"))
    engine = sig.select(
        "*", T.quality_gate(F.col("n"), F.col("sw"), F.col("rep"))
        .alias("gate")).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    oracle = con.execute(f"""
WITH t AS (SELECT doc_id, text, {T.sql_tokens("text")} AS t FROM docs),
g AS (SELECT *, {T.sql_word_shingles("t", 3)} AS g3,
             {T.sql_word_shingles("t", 5)} AS g5 FROM t),
sig AS (
  SELECT doc_id, {T.sql_token_count("text")} AS n, g3, g5,
         {T.sql_stopword_ratio("t")} AS sw, {T.sql_dup_trigram_frac("g3")} AS rep,
         {T.sql_lang_score("t", "en")} AS en
  FROM g
)
SELECT *, {T.sql_quality_gate("n", "sw", "rep")} AS gate FROM sig
""").fetchall()
    return {r[0]: (tuple(e), r) for e, r in
            zip(sorted(engine, key=lambda e: e.doc_id), sorted(oracle))}


@pytest.mark.parametrize("doc_id", range(len(DOCS)))
def test_builder_equals_sql_twin(twins, doc_id):
    engine, oracle = twins[doc_id]
    names = ("doc_id", "n", "g3", "g5", "sw", "rep", "en", "gate")
    assert dict(zip(names, engine)) == dict(zip(names, oracle)), DOCS[doc_id]


def test_gate_decides_each_rule(twins):
    """The long docs pass, fail on stopword ratio and fail on
    repetition, so the twins agree on every outcome, not only on
    NULLs."""
    assert [twins[i][0][-1] for i in (9, 10, 11)] == [True, False, False]
    assert twins[7][0][5] == 0.7  # 10 trigrams, 3 distinct


def test_null_and_short_docs_signal_null(twins):
    """A NULL doc has NULL signals and no grams on both engines; a doc
    with fewer than 3 tokens has no duplicate-trigram fraction."""
    engine, _ = twins[0]
    assert engine[1:] == (None, [], [], None, None, None, None)
    for doc_id in (1, 2, 3, 4):
        assert twins[doc_id][0][5] is None  # rep
