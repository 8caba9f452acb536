"""Text-analysis queries over the documents table (SURVEY.md §2.5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import num as N
from immoeliza_pipeline_spark.functions import text as T
from immoeliza_pipeline_spark.sources.readers import load_table

_TOKS = T.sql_tokens("text")


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id, {T.sql_token_count("text")} AS n_tokens, length(text) AS n_chars_actual
FROM documents
"""


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword / punctuation / word-length quality signals
    — the standard cheap pre-training text filters."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(text).alias("n_tokens"),
        N.quantize(T.stopword_ratio(T.tokens(text)), 10000).alias("stopword_ratio"),
        N.quantize(T.avg_word_len(T.tokens(text)), 10000).alias("avg_word_len"),
        N.quantize(T.punct_ratio(text), 10000).alias("punct_ratio"),
        T.quality_gate(T.token_count(text), T.stopword_ratio(T.tokens(text)))
        .alias("passes_quality"),
    )


QUALITY_SQL = f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
SELECT doc_id,
       len(t) AS n_tokens,
       {N.sql_quantize(T.sql_stopword_ratio("t"), 10000)} AS stopword_ratio,
       {N.sql_quantize(T.sql_avg_word_len("t"), 10000)} AS avg_word_len,
       {N.sql_quantize(T.sql_punct_ratio("text"), 10000)} AS punct_ratio,
       {T.sql_quality_gate("len(t)", T.sql_stopword_ratio("t"))} AS passes_quality
FROM d
"""

_LANGS = sorted(T.LANG_STOPWORDS)  # de, en, es, fr, zh


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-count language ID: argmax score, ties broken by
    language code ascending. A heuristic — deterministic, oracled."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang",
        *[T.lang_score(F.col("text"), lang).alias(f"s_{lang}") for lang in _LANGS],
    )
    m = F.greatest(*[F.col(f"s_{lang}") for lang in _LANGS])
    pred = None
    for lang in _LANGS:
        cond = F.col(f"s_{lang}") == m
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return scored.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("matches_label"),
    )


_SCORES = ", ".join(f"{T.sql_lang_score('t', lang)} AS s_{lang}" for lang in _LANGS)
_MAXS = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"
_PRED = "CASE " + " ".join(
    f"WHEN s_{lang} = {_MAXS} THEN '{lang}'" for lang in _LANGS) + " END"

LANG_ID_SQL = f"""
WITH d AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
scored AS (SELECT doc_id, lang, {_SCORES} FROM d)
SELECT doc_id, {_PRED} AS pred_lang, ({_PRED} = lang) AS matches_label
FROM scored
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-of-normalized-text fingerprints + per-fingerprint dup
    counts (exact content dedup at any scale). ONE window shuffle on
    the fingerprint, so every document is normalized and hashed once
    (the oracle's count(*) OVER (PARTITION BY fp))."""
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    return fp.withColumn(
        "n_docs_with_fp",
        F.count(F.lit(1)).over(Window.partitionBy("fp")))


FINGERPRINT_SQL = f"""
WITH fp AS (SELECT doc_id, {T.sql_fingerprint("text")} AS fp FROM documents)
SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs_with_fp
FROM fp
"""


def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword counting: a GPT-style pre-tokenizer regex
    (letter runs / digits / punctuation) plus the chars/4 rule of
    thumb — the two standard cheap token estimators."""
    docs = load_table(spark, sf_dir, "documents")
    subwords = F.size(F.regexp_extract_all(
        F.lower("text"), F.lit(T.SUBWORD), F.lit(0)))
    return docs.select(
        "doc_id",
        subwords.alias("n_subwords"),
        F.ceil(F.length("text") / 4).cast("bigint").alias("est_tokens_chars4"),
    )


BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{T.SUBWORD}')) AS n_subwords,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens_chars4
FROM documents
"""


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher-style 'duplicate
    n-gram fraction' quality rule): fraction of a doc's word trigrams
    that are repeats of an earlier trigram in the SAME doc. Pure
    array expressions per row — embarrassingly parallel, no shuffle.
    NULL without trigrams; the pass threshold compares the rounded
    fraction, so both engines decide ties identically."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("__toks"))
    grams = toks.select(
        "doc_id", T.word_shingles(F.col("__toks"), 3).alias("__grams"))
    counted = grams.select(
        "doc_id",
        F.size("__grams").alias("n_trigrams"),
        F.size(F.array_distinct("__grams")).alias("n_distinct_trigrams"),
        T.dup_trigram_frac(F.col("__grams")).alias("dup_trigram_frac"))
    return counted.select(
        "*", T.quality_gate(rep=F.col("dup_trigram_frac")).alias("passes_repetition"))


REPETITION_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gr AS (SELECT doc_id, {T.sql_word_shingles("t", 3)} AS g FROM d)
SELECT doc_id,
       -- CAST AS INT: Spark emits these via F.size (IntegerType);
       -- DuckDB len() is BIGINT and the driver's normalizer is
       -- integer-width-sensitive (the r07 HUGEINT lesson)
       CAST(len(g) AS INT) AS n_trigrams,
       CAST(len(list_distinct(g)) AS INT) AS n_distinct_trigrams,
       {T.sql_dup_trigram_frac("g")} AS dup_trigram_frac,
       {T.sql_quality_gate(rep="dup_trigram_frac")} AS passes_repetition
FROM gr
"""


def vocabulary_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary over the corpus (the tokenizer-
    training precursor): per token, total occurrences, document
    frequency, frequency rank, and cumulative corpus-coverage
    fraction. One explode + one groupBy; rank and running coverage
    come from the distributed-exact global_rank_cumsum (range
    partition + local windows + broadcast prefix offsets), NOT a
    single-partition global window — a web-corpus vocabulary is
    10⁸ rows."""
    from immoeliza_pipeline_spark.operators.ranking import global_rank_cumsum
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"))
    ranked = global_rank_cumsum(
        counts, [F.col("n_occurrences").desc(), F.col("token").asc()],
        "n_occurrences")
    # coverage denominator = total token occurrences, from a doc-level
    # scan (sum of per-doc token counts; the same integer) so the
    # explode + vocab groupBy runs once
    total = docs.agg(
        F.sum(T.token_count(F.col("text")).cast("long")).alias("__total"))
    return (ranked.crossJoin(F.broadcast(total))
            .select("token", "n_occurrences", "n_docs", "rank",
                    N.quantize(F.col("cum_value") / F.col("__total"), 10000)
                    .alias("cum_coverage")))


_COVERAGE = """CAST(sum(n_occurrences) OVER (ORDER BY n_occurrences DESC, token ASC
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
               / CAST(sum(n_occurrences) OVER () AS BIGINT)::DOUBLE"""

VOCAB_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM toks GROUP BY token
)
SELECT token, n_occurrences, n_docs,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS BIGINT)
           AS rank,
       {N.sql_quantize(_COVERAGE, 10000)} AS cum_coverage
FROM counts
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf × (N/df) — term
    frequency times LINEAR inverse document frequency. Linear idf
    keeps the score a ratio of exact integers (cross-engine
    bit-exact and rank-equivalent to tf·(N/df); swap in log() for
    the classic damped variant — rankings change, plumbing doesn't).
    The (doc,token) count frame is persisted and feeds all three
    consumers (scores, doc lengths, document frequencies), so the
    expensive tokenize+explode pass over the corpus runs ONCE."""
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf_count")).persist()
    doc_len = tf.groupBy("doc_id").agg(F.sum("tf_count").alias("doc_len"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (tf.join(doc_len, "doc_id").join(df_, "token")
              .crossJoin(F.broadcast(n_docs))
              .select("doc_id", "token",
                      N.quantize((F.col("tf_count") / F.col("doc_len"))
                                 * (F.col("n_total") / F.col("df")), 1000000)
                      .alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (scored.withColumn("term_rank", F.row_number().over(w))
            .filter(F.col("term_rank") <= 3))


TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf_count FROM toks GROUP BY doc_id, token),
doc_len AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY doc_id),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         {N.sql_quantize("(tf_count / doc_len::DOUBLE) * (n_total / df::DOUBLE)", 1000000)} AS score
  FROM tf JOIN doc_len USING (doc_id) JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, score, term_rank
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, token ASC) AS INT)
          AS term_rank
      FROM scored)
WHERE term_rank <= 3
"""


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_STEP = CHUNK_TOKENS - CHUNK_OVERLAP


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: split each doc into
    CHUNK_TOKENS-token windows overlapping by CHUNK_OVERLAP.
    posexplode over the chunk-start sequence + array slice — one
    narrow transform per doc, no shuffle; chunk content is exported
    as an md5 fingerprint (compact, engine-exact).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("__toks"))
    chunked = toks.select("doc_id", "__toks", F.posexplode(F.sequence(F.lit(0), T.window_count(
        F.size("__toks"), CHUNK_TOKENS, _STEP) - 1)).alias("chunk_idx", "_i"))
    piece = T.window_slice(F.col("__toks"), F.col("chunk_idx"), CHUNK_TOKENS, _STEP)
    return chunked.select(
        "doc_id", "chunk_idx",
        (F.col("chunk_idx") * _STEP).cast("int").alias("chunk_start"),
        F.size(piece).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", piece).cast("binary")).alias("chunk_md5"))


CHUNKS_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sized AS (SELECT doc_id, t, {T.sql_window_count("len(t)", CHUNK_TOKENS, _STEP)} AS k FROM d),
chunked AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx, CAST(i * {_STEP} AS INT) AS chunk_start,
         {T.sql_window_slice("t", "i", CHUNK_TOKENS, _STEP)} AS piece
  FROM sized, unnest(range(0, k)) AS u(i)
)
SELECT doc_id, chunk_idx, chunk_start, CAST(len(piece) AS INT) AS n_chunk_tokens,
       md5(array_to_string(piece, ' ')) AS chunk_md5
FROM chunked
"""


# per-rule match counts of functions.text.PII_RULES, taken on the
# progressively-redacted text so no span is counted twice
_PII_COUNTS = ("n_emails", "n_ips", "n_phones")


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / IPv4s / phone-shaped digit runs from every
    document, reporting per-category counts and the redacted text.
    Pure JVM-side regexp_replace/extract_all — one scan, no shuffle,
    embarrassingly parallel at 100 TB."""
    out = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("__t"))
    for (pattern, mark), name in zip(T.PII_RULES, _PII_COUNTS):
        out = out.select(
            *out.columns[:-1],
            F.size(F.regexp_extract_all("__t", F.lit(pattern), F.lit(0))).alias(name),
            F.regexp_replace("__t", pattern, mark).alias("__t"))
    return out.withColumnRenamed("__t", "text_redacted")


_PII_CTES = ",\n".join(["e0 AS (SELECT doc_id, text AS t FROM documents)"] + [
    f"""e{i} AS (
  SELECT {", ".join(("doc_id",) + _PII_COUNTS[:i - 1])},
         CAST(len(regexp_extract_all(t, '{pattern}')) AS INT) AS {name},
         regexp_replace(t, '{pattern}', '{mark}', 'g') AS t
  FROM e{i - 1}
)""" for i, ((pattern, mark), name) in enumerate(zip(T.PII_RULES, _PII_COUNTS), 1)])

PII_SQL = f"""
WITH {_PII_CTES}
SELECT {", ".join(("doc_id",) + _PII_COUNTS)}, t AS text_redacted FROM e{len(_PII_COUNTS)}
"""


def _mean_logprob():
    """Mean of a doc's integer-millionth log-probs, half-up to 1e-4:
    the exact sum divided once by count·100 (``_MEAN_LP_SQL``)."""
    return N.half_up(F.sum("lp_units") / (F.count(F.lit(1)) * F.lit(100.0))) / 10000


_MEAN_LP_SQL = f"{N.sql_half_up('CAST(sum(lp) AS BIGINT) / (count(*) * 100e0)')} / 1e4"


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (the CCNet-style perplexity signal,
    self-trained on the corpus): per doc, the mean over its tokens of
    ln(count(token)/N). Gibberish and boilerplate-free rare-token text
    scores low; fluent common-token text scores high. One explode
    feeding both the count table and the scoring join; the per-token
    log-probs are quantized to exact integer millionths BEFORE the
    mean so the aggregation is accumulation-order independent (the
    repo's standard cross-engine float discipline; ln() itself is the
    same documented ≤1-ulp library class as temperature_sample's pow).
    At 100 TB the count join is token-keyed (vocab is data-sized, not
    broadcastable) — hot tokens are exactly what AQE skew-join
    handles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")).persist()
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    # the corpus token total is the SUM over the (vocab-sized) count
    # table, not a second full pass over the exploded tokens — the
    # same pattern vocabulary_build uses for its coverage denominator
    total = counts.agg(F.sum("n_tok").alias("__N"))
    scored = (toks.join(counts, "token")
              .crossJoin(F.broadcast(total))
              .select("doc_id",
                      N.exact_units(F.log(F.col("n_tok") / F.col("__N")))
                      .alias("lp_units")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 _mean_logprob().alias("mean_logprob")))


UNIGRAM_LP_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
counts AS (SELECT token, count(*) AS n_tok FROM toks GROUP BY token),
tot AS (SELECT count(*) AS n FROM toks),
scored AS (
  SELECT doc_id,
         {N.sql_exact_units("ln(n_tok / (SELECT n FROM tot))")} AS lp
  FROM toks JOIN counts USING (token)
)
SELECT doc_id, count(*) AS n_tokens,
       {_MEAN_LP_SQL} AS mean_logprob
FROM scored GROUP BY doc_id
"""


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score — the CCNet-style signal
    unigram_logprob_scores approximates, improved with one token of
    context: per doc, the mean over its bigrams (w1, w2) of
    ln(0.5·P(w2|w1) + 0.5·P(w2)), with P(w2|w1) = c(w1 w2)/c(w1·)
    (prefix-conditioned MLE) and the unigram term both the
    interpolation backoff AND the smoothing (every bigram's second
    word exists in the corpus, so the argument is never 0 — no
    add-k constant to disagree on). All probabilities are ratios of
    exact integer counts; per-bigram log-probs are quantized to
    integer millionths BEFORE the mean (order-independent agg; ln is
    the same documented ≤1-ulp class as the unigram score). Join
    shape at 100 TB: the bigram-occurrence table is persisted once and
    feeds its own count tables; scoring is three token-keyed joins
    (bigram, prefix, unigram) — vocab-sized sides, not broadcastable,
    exactly what AQE skew-join handles. Docs with <2 tokens have no
    bigram and are (deliberately) absent."""
    docs = load_table(spark, sf_dir, "documents")
    # The token arrays are NOT persisted: materializing the wide array
    # cache costs more than the second tokenize it saves. The bigram
    # OCCURRENCE table below is persisted: it feeds two count tables
    # and the scoring join, three consumers, heavy to rebuild.
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("__toks"))
    pair_t = "array<struct<w1:string,w2:string>>"
    bi = (toks.select(
        "doc_id",
        F.explode(F.when(
            F.size("__toks") >= 2,
            F.expr("zip_with(slice(__toks, 1, size(__toks) - 1), "
                   "slice(__toks, 2, size(__toks) - 1), "
                   "(x, y) -> struct(x AS w1, y AS w2))"))
            .otherwise(F.lit(None).cast(pair_t))).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")).persist()
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    pc = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    uni = docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    uc = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c2"))
    total = uc.agg(F.sum("c2").alias("__N"))
    prob = (F.lit(0.5) * (F.col("c12") / F.col("c1"))
            + F.lit(0.5) * (F.col("c2") / F.col("__N")))
    # The count joins chain onto the persisted bi: a per-distinct-
    # bigram lp table first (bc⋈pc⋈uc, then one bi join) is itself
    # corpus-sized on near-dup-free corpora and adds a fourth big
    # shuffle (123.7 s vs 23.3 s at 100×; 1.28 s vs 1.66 s at sf0.1).
    scored = (bi.join(bc, ["w1", "w2"]).join(pc, "w1")
              .join(uc, F.col("w2") == F.col("token"))
              .crossJoin(F.broadcast(total))
              .select("doc_id",
                      N.exact_units(F.log(prob)).alias("lp_units")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 _mean_logprob().alias("mean_logprob")))


BIGRAM_LP_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM d, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
pc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
uni AS (SELECT unnest(t) AS token FROM d),
uc AS (SELECT token, count(*) AS c2 FROM uni GROUP BY token),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
scored AS (
  SELECT doc_id,
         {N.sql_exact_units('''ln(0.5 * (c12 / CAST(c1 AS DOUBLE))
                       + 0.5 * (c2 / CAST((SELECT n FROM tot) AS DOUBLE)))''')} AS lp
  FROM bi JOIN bc USING (w1, w2) JOIN pc USING (w1)
          JOIN uc ON uc.token = bi.w2
)
SELECT doc_id, count(*) AS n_bigrams,
       {_MEAN_LP_SQL} AS mean_logprob
FROM scored GROUP BY doc_id
"""


def chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SUBSTRING duplication signal (the Lee et al.
    'deduplicating training data' measurement, chunk-granular): a
    doc's 64-token windows are fingerprinted (reuses doc_chunks) and
    a chunk counts as shared when its md5 occurs in ≥2 distinct docs;
    the per-doc shared fraction flags documents that embed copied
    passages even when whole-doc Jaccard stays low. One md5-keyed
    groupBy + join — AQE skew-join handles boilerplate chunks at
    100 TB. The chunk table feeds both the collision count and the
    per-doc stats, so it is persisted."""
    ch = doc_chunks(spark, sf_dir).select("doc_id", "chunk_md5").persist()
    docs_per = ch.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("nd"))
    joined = ch.join(docs_per, "chunk_md5")
    frac = N.quantize(F.sum((F.col("nd") >= 2).cast("int"))
                      / F.count(F.lit(1)), 10000)
    return (joined.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum((F.col("nd") >= 2).cast("int")).cast("long")
                 .alias("n_shared_chunks"),
                 frac.alias("shared_chunk_frac")))


CHUNK_DEDUP_SQL = f"""
WITH chunks AS ({CHUNKS_SQL}),
docs_per AS (
  SELECT chunk_md5, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk_md5
)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_chunks,
       {N.sql_quantize("sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*)::DOUBLE", 10000)}
           AS shared_chunk_frac
FROM chunks JOIN docs_per USING (chunk_md5)
GROUP BY doc_id
"""


# the funnel's cumulative gates: length, + stopword ratio, + repetition
_FUNNEL = ("pass_length", "pass_stopword", "pass_repetition")


def quality_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-build ops report: how many docs each quality gate
    drops, cumulatively in the build's filter order (length →
    stopword ratio → within-doc repetition). One scan with
    conditional aggregates — no shuffle beyond the single-row agg;
    signals and gate are functions.text's, the ones corpus._gate
    applies, so the report is the build's ground truth, not an
    estimate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("__toks"),
        T.stopword_ratio(T.tokens(F.col("text"))).alias("__sw"))
    grams = toks.select(
        "__sw", F.size("__toks").alias("__n"),
        T.word_shingles(F.col("__toks"), 3).alias("__g"))
    signals = (F.col("__n"), F.col("__sw"), T.dup_trigram_frac(F.col("__g")))
    return grams.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(T.quality_gate(*signals[:k]).cast("int")).cast("long").alias(name)
          for k, name in enumerate(_FUNNEL, 1)])


_FUNNEL_SUMS = ",\n       ".join(
    f"CAST(sum(CASE WHEN {T.sql_quality_gate(*('n', 'sw', 'rep')[:k])} "
    f"THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
    for k, name in enumerate(_FUNNEL, 1))

QUALITY_FUNNEL_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gr AS (SELECT t, {T.sql_word_shingles("t", 3)} AS g FROM d),
sig AS (
  SELECT len(t) AS n, {T.sql_stopword_ratio("t")} AS sw,
         {T.sql_dup_trigram_frac("g")} AS rep
  FROM gr
)
SELECT count(*) AS n_docs,
       {_FUNNEL_SUMS}
FROM sig
"""


QUERIES: dict[str, tuple] = {
    "token_counts": (token_counts, TOKEN_COUNTS_SQL),
    "bigram_logprob_scores": (bigram_logprob_scores, BIGRAM_LP_SQL),
    "chunk_dedup_rate": (chunk_dedup_rate, CHUNK_DEDUP_SQL),
    "quality_funnel_report": (quality_funnel_report, QUALITY_FUNNEL_SQL),
    "pii_redaction": (pii_redaction, PII_SQL),
    "unigram_logprob_scores": (unigram_logprob_scores, UNIGRAM_LP_SQL),
    "doc_repetition_scores": (doc_repetition_scores, REPETITION_SQL),
    "vocabulary_build": (vocabulary_build, VOCAB_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    "doc_chunks": (doc_chunks, CHUNKS_SQL),
    "bpe_token_estimate": (bpe_token_estimate, BPE_SQL),
    "doc_quality_scores": (doc_quality_scores, QUALITY_SQL),
    "lang_id_heuristic": (lang_id_heuristic, LANG_ID_SQL),
    "doc_fingerprints": (doc_fingerprints, FINGERPRINT_SQL),
}
