"""Training-corpus construction (the end-to-end training-data
pipeline over documents): quality filter → near-dup removal (keep
each cluster's canonical doc) → deterministic stratified sampling →
token accounting. Composes the §2.4/§2.5 operators into one lazy
plan; the oracle rebuilds the same CTE chain.

Sampling is SYSTEMATIC (md5-prefix threshold per stratum), not
random: reproducible across engines, reruns, and cluster sizes —
the property a 100 TB corpus build actually needs (a re-run must
produce the same corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import text as T
from immoeliza_pipeline_spark.operators import dedup as D
from immoeliza_pipeline_spark.functions.num import quantize
from immoeliza_pipeline_spark.operators.similarity import md5_bucket16
from immoeliza_pipeline_spark.plans.dedup import components_ctes, pairs_ctes
from immoeliza_pipeline_spark.plans.text import _STOP_IN, _TOKS
from immoeliza_pipeline_spark.sources.readers import load_table

# per-language sampling rates as md5-prefix hex thresholds:
# keep iff substr(md5(doc_id), 1, 2) < threshold  →  rate ≈ int(hex)/256
SAMPLE_THRESHOLDS = {
    "en": "cc",   # ≈ 80%
    "de": "66",   # ≈ 40%
    "es": "66",
    "fr": "66",
    "zh": "66",
}


def _sample_keep(doc_id_col, lang_col):
    prefix = F.substring(F.md5(doc_id_col.cast("string").cast("binary")), 1, 2)
    expr = None
    for lang, thr in SAMPLE_THRESHOLDS.items():
        cond = lang_col == lang
        expr = F.when(cond, prefix < thr) if expr is None else expr.when(cond, prefix < thr)
    return expr.otherwise(F.lit(False))


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling of documents."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.filter(_sample_keep(F.col("doc_id"), F.col("lang")))
            .select("doc_id", "lang"))


_THRESH_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN '{thr}'" for lang, thr in SAMPLE_THRESHOLDS.items()
) + " ELSE '00' END"

STRATIFIED_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < {_THRESH_CASE}
"""

def _gate(docs: DataFrame, max_rep: float | None = None) -> DataFrame:
    """(doc_id, lang, text, __n): the (doc_id, lang, text) docs that
    pass the quality gates — ≥20 tokens, stopword ratio ≤ 0.5 and,
    when ``max_rep`` is given, duplicate-trigram fraction ≤ max_rep.
    __n is the token count, kept so the accounting sums it instead of
    re-tokenizing.

    The signal frame is PERSISTED between the signal projection and
    the filter: an optimizer barrier, not a cache nicety. Predicate
    pushdown would otherwise substitute the staged __toks/__g aliases
    back into the filter condition, and inside word_shingles' per-gram
    lambda there is no CSE — the tokenize chain would re-run per gram,
    O(tokens²) per row. Production pipelines write the corpus +
    signals at this same stage boundary."""
    toks = docs.withColumn("__toks", T.tokens(F.col("text")))
    signals = [
        "doc_id", "lang", "text", F.size("__toks").alias("__n"),
        # stopword ratio from the staged __toks (same token array ⇒
        # identical value), not stopword_ratio(text) which re-splits
        (F.size(F.filter(F.col("__toks"), lambda t: t.isin(*T.STOPWORDS)))
         / F.size("__toks")).alias("__sw")]
    keep = (F.col("__n") >= 20) & (F.col("__sw") <= 0.5)
    if max_rep is not None:
        toks = toks.withColumn("__g", T.word_shingles(F.col("__toks"), 3))
        signals.append(quantize(
            (F.size("__g") - F.size(F.array_distinct("__g"))) / F.size("__g"),
            10000).alias("__rep"))
        keep &= F.col("__rep") <= max_rep
    return (toks.select(*signals).persist().filter(keep)
            .select("doc_id", "lang", "text", "__n"))


def _drop_near_dups(gated: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_id, lang, __n) of ``gated`` minus every doc that is not its
    near-dup cluster's canonical (min-id) doc: connected components
    over the (id1, id2) ``edges``, then a left-anti join. Text is not
    needed past the edge generation, so the anti-join runs on the
    narrow projection."""
    clusters = D.connected_components(edges, "id1", "id2")
    non_canonical = clusters.filter(
        F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    return (gated.select("doc_id", "lang", "__n")
            .join(non_canonical, "doc_id", "left_anti"))


def _account(frame: DataFrame) -> DataFrame:
    """Per-language corpus accounting: docs and tokens (sum of __n)."""
    return (frame.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__n").alias("n_tokens")))


def _blocklist(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(h,) for h in BLOCKED_HOSTS], "host string")


def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus build as ONE composed plan:

    1. quality gate (≥20 tokens, stopword ratio ≤ 0.5),
    2. drop near-dup cluster members, keeping the min-id canonical
       doc of each Jaccard≥0.8 cluster,
    3. deterministic stratified sample per language,
    4. per-language corpus accounting (docs, tokens).

    Dedup runs on the quality-FILTERED frame (shingling a doc the
    quality gate already discarded is wasted shuffle at 100 TB), with
    the fractional stop-shingle guard on.
    """
    quality = _gate(load_table(spark, sf_dir, "documents"))
    deduped = _drop_near_dups(quality, D.jaccard_pairs(
        quality, "doc_id", "text", n=3, threshold=0.8,
        max_df=D.DEFAULT_MAX_DF_FRAC))
    return _account(deduped.filter(_sample_keep(F.col("doc_id"),
                                                F.col("lang"))))


TRAINING_CORPUS_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
quality AS (
  SELECT d.doc_id, d.lang, toks.t
  FROM documents d JOIN toks ON d.doc_id = toks.doc_id
  WHERE len(t) >= 20
    AND len(list_filter(t, x -> x IN ({_STOP_IN}))) / len(t)::DOUBLE <= 0.5
),
{pairs_ctes("quality", 0.8)},
{components_ctes("pairs")},
non_canonical AS (SELECT doc_id FROM reps WHERE doc_id <> cluster_rep),
deduped AS (
  SELECT * FROM quality
  WHERE doc_id NOT IN (SELECT doc_id FROM non_canonical)
),
sampled AS (
  SELECT * FROM deduped
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < {_THRESH_CASE}
)
SELECT lang, count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS n_tokens
FROM sampled
GROUP BY lang
"""


SEQ_LEN = 2048  # tokens per packed training sequence


def pack_layout(counted: DataFrame, seq_len: int = SEQ_LEN) -> DataFrame:
    """Concat-and-chunk packing layout over a (doc_id, lang,
    n_tokens) frame: per language, docs are laid out in deterministic
    doc_id order, token offsets accumulate, and each doc learns which
    fixed-seq_len training sequences it lands in. One window shuffle
    on (lang); integer arithmetic end to end, so the layout is
    reproducible on any engine or cluster size."""
    from pyspark.sql import Window
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("n_tokens").over(w)
    laid = counted.select(
        "doc_id", "lang", "n_tokens",
        (cum - F.col("n_tokens")).alias("start_offset"),
        cum.alias("end_offset"))
    return laid.select(
        "doc_id", "lang", "n_tokens", "start_offset",
        F.floor(F.col("start_offset") / F.lit(float(seq_len))).alias("first_seq"),
        F.when(F.col("n_tokens") > 0,
               F.floor((F.col("end_offset") - 1) / F.lit(float(seq_len))))
        .alias("last_seq"))


def sequence_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (how GPT-style pre-training actually consumes
    a corpus) over the documents table — see pack_layout."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id", "lang", T.token_count(F.col("text")).alias("n_tokens"))
    return pack_layout(counted, SEQ_LEN)


SEQUENCE_PACK_SQL = f"""
WITH toks AS (SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents),
laid AS (
  SELECT doc_id, lang, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens
             AS start_offset,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset
  FROM toks
)
SELECT doc_id, lang, n_tokens, start_offset,
       CAST(floor(start_offset / {SEQ_LEN}e0) AS BIGINT) AS first_seq,
       CASE WHEN n_tokens > 0
            THEN CAST(floor((end_offset - 1) / {SEQ_LEN}e0) AS BIGINT)
       END AS last_seq
FROM laid
"""


# temperature exponent α−1 written as ONE double constant used
# verbatim by both engines (computing 0.7 − 1.0 in floats yields
# −0.30000000000000004, a DIFFERENT double than the −0.3 a SQL
# literal parses to — pow would then diverge across engines)
TEMP_EXP = -0.3  # α = 0.7


def _temper(frame: DataFrame) -> DataFrame:
    """The rows of ``frame`` (doc_id, lang, ...) the temperature
    sampler keeps: per language, md5_bucket16(doc_id) <
    floor((n_l / n_min)^(α−1) · 65536). The K-row language stats are
    persisted: they feed both the n_min broadcast and the rates
    projection, and each un-persisted consumer would re-run the
    corpus-sized subtree below them."""
    stats = frame.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l")).persist()
    n_min = stats.agg(F.min("n_l").alias("n_min"))
    rates = (stats.crossJoin(F.broadcast(n_min))
             .select("lang",
                     F.floor(F.pow(F.col("n_l") / F.col("n_min"),
                                   F.lit(TEMP_EXP)) * 65536)
                     .cast("int").alias("keep_thr")))
    return (frame.join(F.broadcast(rates), "lang")
            .filter(md5_bucket16(F.col("doc_id")) < F.col("keep_thr")))


def temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced language sampling (the multilingual
    pre-training mixer): target distribution q_l ∝ p_l^α flattens the
    language skew, realized as pure per-language DOWN-sampling with
    rate_l = (n_l / n_min)^(α−1) — the rarest language keeps 100%,
    dominant languages shed mass toward the tempered mix. The keep
    decision is a deterministic md5-prefix threshold (16-bit bucket vs
    floor(rate·65536)), so the sampled corpus is identical across
    engines, reruns, and cluster sizes. One K-row language-stats agg
    broadcast back — no data-sized driver state.

    Cross-engine caveat (bounded, accepted): pow() is the one
    library-dependent transcendental on the parity path (Java
    Math.pow and DuckDB's libm each guarantee ≤1 ulp, not correct
    rounding), so floor(pow·65536) could in principle differ if a
    language ratio lands within ~1 ulp of a bucket boundary —
    probability ≈ K·65536·2⁻⁵² per dataset, ~10⁻¹¹ here. Every other
    cross-engine float in the repo sticks to IEEE-defined +/·/÷."""
    return (_temper(load_table(spark, sf_dir, "documents"))
            .select("doc_id", "lang"))


TEMPERATURE_SQL = f"""
WITH stats AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
mn AS (SELECT min(n_l) AS n_min FROM stats),
rates AS (
  SELECT lang, CAST(floor(pow(n_l / n_min, {TEMP_EXP!r}e0) * 65536) AS INT)
           AS keep_thr
  FROM stats, mn
)
SELECT doc_id, lang
FROM documents JOIN rates USING (lang)
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
      < keep_thr
"""


# URL/domain blocklist hygiene: the testdata has no URL column, so a
# deterministic URL is synthesized from (source, doc_id) and then
# PARSED BACK — the parse + broadcast anti-join is the real operator
# shape; swap the synthesized column for a crawl's real url without
# touching the plan. Host extraction uses the same regex on both
# engines (DuckDB has no parse_url).
BLOCKED_HOSTS = ["src3.example.com", "src7.example.com",
                 "src13.example.com"]
_HOST_RE = r"^https?://([^/]+)/"


def url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop documents whose URL host is on a blocklist (standard
    crawl hygiene): synthesize url → extract host → broadcast
    LEFT-ANTI join against the blocklist table. Corpus-side work is
    one scan; the blocklist is dimension-sized and broadcasts at any
    corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/page/"), F.col("doc_id"))
        .alias("url"))
    hosted = with_url.select(
        "doc_id", "url",
        F.regexp_extract("url", _HOST_RE, 1).alias("host"))
    return (hosted.join(F.broadcast(_blocklist(spark)), "host", "left_anti")
            .select("doc_id", "host", "url"))


_BLOCKED_IN = ", ".join(f"'{h}'" for h in BLOCKED_HOSTS)

URL_BLOCKLIST_SQL = f"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/page/' || doc_id AS url
  FROM documents
),
hosted AS (
  SELECT doc_id, url, regexp_extract(url, '{_HOST_RE}', 1) AS host FROM u
)
SELECT doc_id, host, url
FROM hosted ANTI JOIN (SELECT unnest([{_BLOCKED_IN}]) AS host) b
USING (host)
"""


PACK_SEQ_LENS = (512, 1024, 2048)


def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'which seq_len should we train at' report: for each
    candidate sequence length, total corpus tokens, padding wasted by
    per-document packing (every doc padded to a multiple of seq_len —
    the no-cross-doc-attention layout), padding wasted by
    concat-and-chunk packing (only each language's final partial
    sequence pads — pack_layout's layout), and the per-doc waste
    fraction. Integer arithmetic end to end except one rounded
    fraction; one narrow (doc, lang, n) stats pass crossed with the
    K-row seq-len table, so the report costs one corpus scan at any
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "lang", T.token_count(F.col("text")).alias("n"))
    # ONE corpus pass: a single per-language aggregate carries the
    # language token total AND the per-seq-len padding sums; everything
    # downstream is a #languages×#seq_lens-row reshape. Integer
    # addition regroups exactly, so per-language partials summed again
    # equal the direct global sums the oracle computes.
    lang_stats = counted.groupBy("lang").agg(
        F.sum("n").alias("tot"),
        *[F.sum(F.ceil(F.col("n") / F.lit(s)) * s - F.col("n"))
          .alias(f"__pad{s}") for s in PACK_SEQ_LENS])
    pads = lang_stats.select(
        "tot",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("seq_len"),
                     F.col(f"__pad{s}").alias("pad"))
            for s in PACK_SEQ_LENS])).alias("__p")
    ).select("tot", "__p.seq_len", "__p.pad")
    report = (pads.groupBy("seq_len")
              .agg(F.sum("tot").alias("n_tokens"),
                   F.sum("pad").alias("per_doc_pad"),
                   F.sum(F.ceil(F.col("tot") / F.col("seq_len"))
                         * F.col("seq_len") - F.col("tot"))
                   .alias("concat_pad")))
    frac = quantize(F.col("per_doc_pad")
                    / (F.col("n_tokens") + F.col("per_doc_pad")), 10000)
    return report.select("seq_len", "n_tokens", "per_doc_pad",
                         "concat_pad", frac.alias("per_doc_pad_frac"))


_SEQ_VALUES = ", ".join(f"({s})" for s in PACK_SEQ_LENS)

PACKING_EFFICIENCY_SQL = f"""
WITH counted AS (SELECT lang, len({_TOKS}) AS n FROM documents),
seqs AS (SELECT * FROM (VALUES {_SEQ_VALUES}) s(seq_len)),
per_doc AS (
  SELECT seq_len, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(ceil(n / seq_len::DOUBLE) AS BIGINT) * seq_len - n)
              AS BIGINT) AS per_doc_pad
  FROM counted CROSS JOIN seqs GROUP BY seq_len
),
lang_tot AS (SELECT lang, sum(n) AS tot FROM counted GROUP BY lang),
concat_pad AS (
  SELECT seq_len,
         CAST(sum(CAST(ceil(tot / seq_len::DOUBLE) AS BIGINT) * seq_len - tot)
              AS BIGINT) AS concat_pad
  FROM lang_tot CROSS JOIN seqs GROUP BY seq_len
)
SELECT seq_len, n_tokens, per_doc_pad, concat_pad,
       floor((per_doc_pad / (n_tokens + per_doc_pad)::DOUBLE) * 10000 + 0.5)
           / 10000 AS per_doc_pad_frac
FROM per_doc JOIN concat_pad USING (seq_len)
"""


# cosine threshold for the SEMANTIC dedup edges composed into the
# full build. Production embedding models put paraphrase-duplicates
# around cos 0.9; the synthetic embeddings' pair similarities top out
# near 0.6, so the composed query uses the same 0.45 the registered
# embedding_near_dup queries calibrate against — the composition
# shape (union both edge sets, ONE connected-components pass) is
# what carries to production, not the constant.
_SEMANTIC_COS = 0.45


def llm_corpus_build(spark: SparkSession, sf_dir: str,
                     semantic: bool = False) -> DataFrame:
    """The FULL modern LLM-corpus pipeline as one composed lazy plan —
    every hygiene stage the individual queries implement, in
    production order:

    1. PII redaction (emails → IPv4 → phone runs, the pii_redaction
       order) — redact FIRST so tokens/shingles never see raw PII;
    2. URL/domain blocklist (broadcast anti-join on the host);
    3. quality gates on the redacted text: ≥20 tokens, stopword
       ratio ≤ 0.5, duplicate-trigram fraction ≤ 0.2;
    4. near-dup removal at Jaccard ≥ 0.8 (df≥2-prefiltered
       inverted-index join, fractional stop-shingle guard sized to
       the GATED corpus, connected components, keep min-id). With
       ``semantic=True`` the banded hyperplane-LSH embedding pairs
       (cos ≥ 0.45 over the gated docs' vectors, auto band width
       from the gated count) are UNIONED into the edge set before
       the SINGLE connected-components pass — lexical and semantic
       duplicates merge into one cluster space, the shape real
       pipelines use;
    5. temperature-balanced language sampling (α = 0.7) with rates
       computed from the DEDUPED per-language stats;
    6. per-language corpus accounting (docs, tokens of the redacted
       text).

    Stage order is load-bearing and mirrored verbatim by the oracle:
    redaction changes tokens, dedup runs only on surviving docs, and
    the sampler's rates see post-dedup counts."""
    from immoeliza_pipeline_spark.plans.text import (_PII_EMAIL, _PII_IP,
                                                     _PII_PHONE)
    docs = load_table(spark, sf_dir, "documents")
    red = docs.select(
        "doc_id", "lang", "source",
        F.regexp_replace(F.regexp_replace(F.regexp_replace(
            F.col("text"), _PII_EMAIL, "[EMAIL]"), _PII_IP, "[IP]"),
            _PII_PHONE, "[PHONE]").alias("text"))
    allowed = (red.withColumn(
        "host", F.concat(F.col("source"), F.lit(".example.com")))
        .join(F.broadcast(_blocklist(spark)), "host", "left_anti")
        .select("doc_id", "lang", "text"))
    gated = _gate(allowed, max_rep=0.2)

    edges = D.jaccard_pairs(gated, "doc_id", "text", n=3, threshold=0.8,
                            max_df=D.DEFAULT_MAX_DF_FRAC).select("id1", "id2")
    if semantic:
        from immoeliza_pipeline_spark.operators import similarity as S
        from immoeliza_pipeline_spark.sources.readers import spread

        # spread() BEFORE the banding: the embeddings parquet is a
        # couple of files, and the projection + band self-join would
        # otherwise run at file-partition parallelism
        raw_emb = load_table(spark, sf_dir, "embeddings")
        # band width from the RAW embeddings count (a parquet-metadata
        # scan), not the gated subset, whose count would execute the
        # whole redact→gate chain once more. An upper-bound n only
        # picks an equal-or-finer r on the integer ladder; the oracle
        # mirrors the same count.
        r = S.auto_rows_per_band(raw_emb.count())
        sem_src = spread(raw_emb).join(
            gated.select(F.col("doc_id").alias("vec_id")),
            "vec_id", "left_semi")
        # no .distinct(): connected_components symmetrizes and
        # distincts its edge input
        edges = edges.unionByName(S.near_dup_pairs_bucketed(
            sem_src, "vec_id", "embedding", dim=64,
            threshold=_SEMANTIC_COS, bands=5,
            rows_per_band=r).select("id1", "id2"))
    return _account(_temper(_drop_near_dups(gated, edges)))


def llm_corpus_build_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_corpus_build with the semantic (embedding near-dup) edge
    set composed into the dedup stage — see llm_corpus_build stage 4."""
    return llm_corpus_build(spark, sf_dir, semantic=True)


def _semantic_ctes() -> str:
    """DuckDB mirror of the composed semantic edge set: the SAME
    banded hyperplane-LSH fragments plans.similarity's
    embedding_near_dup_bucketed oracle uses (md5 Rademacher plane
    signs, integer r ladder, left-to-right projection sums), but over
    the GATED docs' vectors — the auto band width derives from the
    gated count, exactly as the Spark side's corpus.count() does."""
    from immoeliza_pipeline_spark.plans import similarity as PS
    return f"""emb_g AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM gated)
),
rr AS (SELECT {PS._R_LADDER} AS r
       FROM (SELECT count(*) AS n FROM embeddings)),
proj AS (SELECT vec_id, v, {PS._PROJ_COLS} FROM emb_g),
banded AS MATERIALIZED (SELECT vec_id, v, {PS._BAND_CASES} FROM proj, rr),
sem_pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM banded a JOIN banded b ON a.vec_id < b.vec_id AND ({PS._ANY_BAND})
  WHERE (floor(({PS._cos_sql('a.v', 'b.v')}) * 10000 + 0.5) / 10000) >= {_SEMANTIC_COS!r}
),
all_pairs AS (SELECT id1, id2 FROM pairs
              UNION SELECT id1, id2 FROM sem_pairs),
"""


def _llm_build_sql(semantic: bool = False) -> str:
    from immoeliza_pipeline_spark.plans.text import (_PII_EMAIL, _PII_IP,
                                                     _PII_PHONE)
    blocked = ", ".join(f"'{h}'" for h in BLOCKED_HOSTS)
    ep = "all_pairs" if semantic else "pairs"
    rep = ("floor(((len(t) - 2 - len(list_distinct(list_transform("
           "range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' "
           "|| t[i+2])))) / (len(t) - 2)::DOUBLE) * 10000 + 0.5) / 10000")
    return f"""
WITH red AS (
  SELECT doc_id, lang, source,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '[EMAIL]', 'g'),
             '{_PII_IP}', '[IP]', 'g'),
             '{_PII_PHONE}', '[PHONE]', 'g') AS text
  FROM documents
),
allowed AS (
  SELECT doc_id, lang, text FROM red
  WHERE source || '.example.com' NOT IN ({blocked})
),
d AS (SELECT doc_id, lang, text, {_TOKS} AS t FROM allowed),
gated AS MATERIALIZED (
  SELECT doc_id, lang, text, t FROM d
  WHERE len(t) >= 20
    AND len(list_filter(t, x -> x IN ({_STOP_IN}))) / len(t)::DOUBLE <= 0.5
    AND {rep} <= 0.2
),
{pairs_ctes("gated", 0.8)},
{_semantic_ctes() if semantic else ''}{components_ctes(ep)},
non_canonical AS (SELECT doc_id FROM reps WHERE doc_id <> cluster_rep),
deduped AS (
  SELECT * FROM gated
  WHERE doc_id NOT IN (SELECT doc_id FROM non_canonical)
),
stats AS (SELECT lang, count(*) AS n_l FROM deduped GROUP BY lang),
mn AS (SELECT min(n_l) AS n_min FROM stats),
rates AS (
  SELECT lang, CAST(floor(pow(n_l / n_min, {TEMP_EXP!r}e0) * 65536) AS INT)
           AS keep_thr
  FROM stats, mn
),
sampled AS (
  SELECT deduped.* FROM deduped JOIN rates USING (lang)
  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
        < keep_thr
)
SELECT lang, count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS n_tokens
FROM sampled GROUP BY lang
"""


LLM_CORPUS_SQL = _llm_build_sql()
LLM_CORPUS_SEMANTIC_SQL = _llm_build_sql(semantic=True)


QUERIES: dict[str, tuple] = {
    "stratified_sample": (stratified_sample, STRATIFIED_SQL),
    "llm_corpus_build": (llm_corpus_build, LLM_CORPUS_SQL),
    "llm_corpus_build_semantic": (llm_corpus_build_semantic,
                                  LLM_CORPUS_SEMANTIC_SQL),
    "packing_efficiency_report": (packing_efficiency_report,
                                  PACKING_EFFICIENCY_SQL),
    "temperature_sample": (temperature_sample, TEMPERATURE_SQL),
    "url_blocklist_filter": (url_blocklist_filter, URL_BLOCKLIST_SQL),
    "training_corpus_build": (training_corpus_build, TRAINING_CORPUS_SQL),
    "sequence_pack_plan": (sequence_pack_plan, SEQUENCE_PACK_SQL),
}
