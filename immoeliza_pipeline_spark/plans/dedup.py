"""Near-duplicate detection queries over documents (SURVEY.md §2.4).

The Spark plans are the scalable forms (inverted-index joins, banded
LSH buckets). The DuckDB oracles reproduce identical RESULTS with
simpler SQL (cross joins are fine at oracle scale) — md5-based
hashing makes every signature bit-reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import num as N
from immoeliza_pipeline_spark.functions import text as T
from immoeliza_pipeline_spark.operators import dedup as D
from immoeliza_pipeline_spark.sources.readers import load_table, spread

_TOKS = T.sql_tokens("text")
_DOC_TOKS = f"toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)"


def _shingle_rows(src: str, n: int = 3) -> str:
    """DuckDB SELECT of the distinct (id, shingle) word n-grams of the
    (doc_id, t) rows of ``src`` — operators.dedup.shingle_table."""
    return (f"SELECT DISTINCT q.doc_id AS id, shingle\n"
            f"  FROM {src} q, unnest({T.sql_word_shingles('t', n)}) AS u(shingle)")


def any_band_sql(bands: int, b: str = "b") -> str:
    """DuckDB join condition: rows ``a`` and ``b`` agree on at least one
    of ``bands`` band columns — the OR-construction banded_self_join
    evaluates as a key join."""
    return " OR ".join(f"a.band{i} = {b}.band{i}" for i in range(bands))


def pairs_ctes(src: str, threshold: float, old: str | None = None) -> str:
    """DuckDB CTEs ending in ``pairs(id1, id2, jaccard)``: the
    near-dup pair rule of operators.dedup over the (doc_id, t) token
    arrays of the ``src`` CTE. Without ``old`` it is jaccard_pairs'
    self-join (id1 < id2); with ``old`` it is jaccard_pairs_between,
    id1 from ``src`` and id2 from ``old``. Distinct word trigrams held
    by more than ceil(DEFAULT_MAX_DF_FRAC × rows) docs of the indexed
    side (``old``, else ``src``) are anti-joined away from the join
    and the sizes alike — an anti-join, so a batch-only shingle still
    counts in its doc's size; jaccard is |A∩B| / |A∪B| quantized to
    1/10000 and kept at ≥ threshold. Shared CTEs are MATERIALIZED:
    DuckDB otherwise re-evaluates a CTE at every reference."""
    sides = {"a": src} if old is None else {"a": src, "b": old}
    b = "a" if old is None else "b"
    shingled = ",\n".join(f"sh_{k}_all AS MATERIALIZED ({_shingle_rows(q)})"
                         for k, q in sides.items())
    kept = ",\n".join(
        f"sh_{k} AS MATERIALIZED (SELECT id, shingle FROM sh_{k}_all "
        f"ANTI JOIN stop USING (shingle)),\n"
        f"cnt_{k} AS (SELECT id, count(*) AS n_sh FROM sh_{k} GROUP BY id)"
        for k in sides)
    return f"""{shingled},
stop AS (
  SELECT shingle FROM sh_{b}_all GROUP BY shingle
  HAVING count(*) > ceil((SELECT count(*) FROM {sides[b]}) * {D.DEFAULT_MAX_DF_FRAC})
),
{kept},
common AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS common
  FROM sh_a a JOIN sh_{b} b ON a.shingle = b.shingle{" AND a.id < b.id" if old is None else ""}
  GROUP BY 1, 2
),
scored AS (
  SELECT id1, id2,
         {N.sql_quantize("common * 1.0 / (ca.n_sh + cb.n_sh - common)", 10000)} AS jaccard
  FROM common JOIN cnt_a ca ON ca.id = id1 JOIN cnt_{b} cb ON cb.id = id2
),
pairs AS MATERIALIZED (
  SELECT id1, id2, jaccard FROM scored WHERE jaccard >= {threshold!r}
)"""


def components_ctes(pairs: str, by: str | None = None) -> str:
    """DuckDB CTEs ending in ``reps(doc_id, cluster_rep)``: every doc
    of the (id1, id2) ``pairs`` CTE with the minimum id of its
    connected component, by recursive transitive closure — the
    answer operators.dedup.connected_components reaches by label
    propagation. With ``by``, a column of ``pairs``, each of its
    values has its own components. ``edges`` is MATERIALIZED: every
    recursion step reads it, and would re-evaluate ``pairs``."""
    k, r = (f"{by}, ", f"r.{by}, ") if by else ("", "")
    same = f" AND r.{by} = e.{by}" if by else ""
    return f"""edges AS MATERIALIZED (SELECT {k}id1 AS src, id2 AS dst FROM {pairs}
                       UNION SELECT {k}id2, id1 FROM {pairs}),
reach AS (
  WITH RECURSIVE r({k}src, dst) AS (
    SELECT {k}src, dst FROM edges
    UNION
    SELECT {r}r.src, e.dst FROM r JOIN edges e ON r.dst = e.src{same}
  )
  SELECT * FROM r
),
reps AS (SELECT {k}src AS doc_id, least(src, min(dst)) AS cluster_rep
         FROM reach GROUP BY {k}src)"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard ≥ 0.8 via inverted-index self-join
    (candidates ∝ Σ df(shingle)², not n²), with the fractional
    stop-shingle guard on (max_df = 2% of corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8,
                           max_df=D.DEFAULT_MAX_DF_FRAC)


JACCARD_SQL = f"""
WITH {_DOC_TOKS},
{pairs_ctes("toks", 0.8)}
SELECT id1, id2, jaccard FROM pairs
"""

_H = D.DEFAULT_NUM_HASHES
_B = D.DEFAULT_BANDS
_R = _H // _B


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (md5-min, one shuffle) + banded LSH bucket
    join; pairs sharing ≥1 band, est_sim = matching fraction ≥ 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=_H, n=3)
    return D.lsh_candidates(sigs, num_hashes=_H, bands=_B, est_threshold=0.5)


_SIG_AGGS = ", ".join(
    f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(_H))
_BAND_EXPRS = ", ".join(
    "md5(" + " || '|' || ".join(f"h{b * _R + r}" for r in range(_R)) + f") AS band{b}"
    for b in range(_B))
_MATCHES = " + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(_H))

MINHASH_SQL = f"""
WITH {_DOC_TOKS},
sh AS ({_shingle_rows("toks")}),
sigs AS (SELECT id, {_SIG_AGGS} FROM sh GROUP BY id),
banded AS (SELECT *, {_BAND_EXPRS} FROM sigs)
SELECT a.id AS id1, b.id AS id2,
       {N.sql_quantize(f"({_MATCHES}) / {_H}.0", 10000)} AS est_sim
FROM banded a JOIN banded b ON a.id < b.id AND ({any_band_sql(_B)})
WHERE ({_MATCHES}) / {_H}.0 >= 0.5
"""


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc (16-hex-char fingerprint) + bucket size
    (identical fingerprints = exact-dup candidates; near-dups probe
    via banded segments, see simhash_near_dup)."""
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    # bucket size via ONE window shuffle on the fingerprint (the
    # oracle's count(*) OVER (PARTITION BY simhash)): fp has a single
    # consumer, so the tokenize/hash/vote pipeline runs once unpersisted
    fp = (D.simhash_table(docs, "doc_id", "text")
          .select(F.col("id").alias("doc_id"), "simhash"))
    return fp.withColumn(
        "bucket_size",
        F.count(F.lit(1)).over(Window.partitionBy("simhash")))


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming ≤ 3 of the 64-bit SimHash via
    the banded bucket probe (sound by pigeonhole: 4 bands of 16 bits,
    ≤3 flipped bits leave ≥1 band identical)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)


# DuckDB mirror of the 64-bit fingerprint: nibble j of each token's
# md5 (value via strpos on the hex alphabet), bit b = sign of the
# +1/-1 vote on bit b%4 of nibble b//4, band i = bits 16i..16i+15.
_NIBS = "[" + ", ".join(
    f"strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1"
    for j in range(16)) + "]"


def _vote(b: int) -> str:
    j, k = b // 4, b % 4
    return (f"list_sum(list_transform(ns, n -> CASE WHEN (n[{j + 1}] & {1 << k}) != 0 "
            f"THEN 1 ELSE -1 END))")


_BANDS = ", ".join(
    N.sql_pack_sign_bits([_vote(i * 16 + k) for k in range(16)]) + f" AS band{i}"
    for i in range(4))

_SIMHASH_FP_CTE = f"""
  d AS (SELECT doc_id, list_transform(list_distinct({_TOKS}), x -> md5(x)) AS hs
        FROM documents),
  nibs AS (SELECT doc_id, list_transform(hs, h -> {_NIBS}) AS ns FROM d),
  fp AS (SELECT doc_id, {_BANDS} FROM nibs)
"""

SIMHASH_SQL = f"""
WITH {_SIMHASH_FP_CTE},
hexed AS (SELECT doc_id, printf('%04x%04x%04x%04x', band0, band1, band2, band3) AS simhash
          FROM fp)
SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS bucket_size
FROM hexed
"""

_XOR_HAMMING = " + ".join(
    f"bit_count(xor(a.band{i}, b.band{i}))" for i in range(4))

SIMHASH_NEAR_DUP_SQL = f"""
WITH {_SIMHASH_FP_CTE}
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST({_XOR_HAMMING} AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ({any_band_sql(4)})
WHERE {_XOR_HAMMING} <= 3
"""


def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: near-dups of a NEW batch (doc_id %
    5 == 0) against the EXISTING corpus (doc_id % 5 != 0) — the
    per-batch shape that never re-shingles the whole corpus; the
    existing side's shingle index is what production persists between
    batches. Stop-shingle guard on the index at 2% of the existing
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return D.jaccard_pairs_between(new, old, "doc_id", "text", n=3,
                                   threshold=0.8,
                                   max_df=D.DEFAULT_MAX_DF_FRAC)


INCREMENTAL_SQL = f"""
WITH {_DOC_TOKS},
new AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
old AS (SELECT * FROM toks WHERE doc_id % 5 != 0),
{pairs_ctes("new", 0.8, old="old")}
SELECT id1 AS new_id, id2 AS old_id, jaccard FROM pairs
"""


def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a stand-in benchmark set (doc_id % 29
    == 0): per non-benchmark doc, how many distinct word 5-grams it
    shares with any benchmark doc. Broadcast semi-join on the (small)
    benchmark shingle set — swap the filter for a real eval-suite
    table without changing the plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    return D.contamination_overlap(
        docs, "doc_id", "text", lambda i: i % 29 == 0, n=5)


# Production benchmarks are FIXED-size eval suites; the %29 stand-in
# above grows WITH the corpus (so its 100x scaling row measures the
# synthetic benchmark growth, not the operator). This variant pins the
# benchmark to ids below a constant, which the scale-up generator
# never replicates (replica keys shift above the source max id) —
# corpus-side cost is the only thing that grows, the real shape.
_BENCH_MAX_ID = 29_000  # ~1k bench docs at full %29 density


def benchmark_decontamination_fixed(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Decontamination against a FIXED benchmark (doc_id % 29 == 0
    AND doc_id < 29000): per non-benchmark doc, distinct shared word
    5-grams with any benchmark doc. Same broadcast semi-join plan as
    benchmark_decontamination; the pinned benchmark makes the scale
    law visible — the benchmark shingle set is constant, so the wall
    tracks the corpus shingle scan LINEARLY at 10x/100x."""
    docs = load_table(spark, sf_dir, "documents")
    return D.contamination_overlap(
        docs, "doc_id", "text",
        lambda i: (i % 29 == 0) & (i < _BENCH_MAX_ID), n=5)


# distinct word 5-grams per doc, shared by both decontamination oracles
_SH5_CTES = f"""{_DOC_TOKS},
sh AS ({_shingle_rows("toks", 5)})"""

DECONTAMINATION_FIXED_SQL = f"""
WITH {_SH5_CTES},
bench AS (SELECT DISTINCT shingle FROM sh
          WHERE id % 29 = 0 AND id < {_BENCH_MAX_ID})
SELECT id AS doc_id, count(*) AS n_overlap
FROM sh
WHERE NOT (id % 29 = 0 AND id < {_BENCH_MAX_ID})
  AND shingle IN (SELECT shingle FROM bench)
GROUP BY id
"""

DECONTAMINATION_SQL = f"""
WITH {_SH5_CTES},
bench AS (SELECT DISTINCT shingle FROM sh WHERE id % 29 = 0)
SELECT id AS doc_id, count(*) AS n_overlap
FROM sh
WHERE id % 29 != 0 AND shingle IN (SELECT shingle FROM bench)
GROUP BY id
"""


# a paragraph is a 32-token window of the doc: the synthetic corpus has no
# blank lines (real text: operators.dedup.blank_line_paragraphs)
_PARA_BLOCK = 32


def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup, keep-first ACROSS documents: the
    corpus-hygiene stage that strips repeated boilerplate
    (headers/footers) that document-level Jaccard misses
    (chunk_dedup_rate MEASURES the phenomenon; this removes it).
    Paragraphize → md5 → one hash-keyed keep-first window → reassemble
    kept paragraphs in original order. Linear at 100 TB: one window
    shuffle on the paragraph hash + one doc-keyed reassembly groupBy,
    no candidate pairs, no join — totals and kept stats fold into the
    single reassembly aggregation via a keep flag."""
    toks = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", T.tokens(F.col("text")).alias("__toks"))
    idx = toks.select("doc_id", "__toks", F.posexplode(F.sequence(F.lit(0), T.window_count(
        F.size("__toks"), _PARA_BLOCK, _PARA_BLOCK) - 1)).alias("idx", "_i"))
    paras = idx.select("doc_id", "idx", F.concat_ws(" ", T.window_slice(
        F.col("__toks"), F.col("idx"), _PARA_BLOCK, _PARA_BLOCK)).alias("para"))
    # ONE pass over the paragraph frame: flag each paragraph with the
    # keep-first rule and fold totals and kept stats into one
    # groupBy(doc_id). collect_list skips the NULLs F.when leaves on
    # dropped paragraphs, so dedup_text sees exactly the kept (idx,
    # para) set; a doc whose every paragraph is dropped gets n_kept 0
    # and dedup_text '', as the oracle's left-join coalesces give.
    flagged = paras.withColumn(
        "__keep", D.first_paragraph_occurrence().cast("int"))
    return (flagged.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_paragraphs"),
                 F.sum("__keep").cast("long").alias("n_kept"),
                 F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("__keep") == 1,
                                F.struct("idx", "para")))),
                     lambda s: s["para"])).alias("dedup_text")))


PARAGRAPH_DEDUP_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sized AS (SELECT doc_id, t, {T.sql_window_count("len(t)", _PARA_BLOCK, _PARA_BLOCK)} AS k FROM d),
paras AS (
  SELECT doc_id, CAST(i AS INT) AS idx,
         array_to_string({T.sql_window_slice("t", "i", _PARA_BLOCK, _PARA_BLOCK)}, ' ') AS para
  FROM sized, unnest(range(0, k)) u(i)
),
kept AS (
  SELECT doc_id, idx, para FROM (
    SELECT doc_id, idx, para,
           row_number() OVER (PARTITION BY md5(para)
                              ORDER BY doc_id, idx) AS rn
    FROM paras) WHERE rn = 1
),
tot AS (SELECT doc_id, count(*) AS n_paragraphs FROM paras GROUP BY doc_id),
ka AS (SELECT doc_id, count(*) AS n_kept,
              string_agg(para, ' ' ORDER BY idx) AS dedup_text
       FROM kept GROUP BY doc_id)
SELECT tot.doc_id, n_paragraphs,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(dedup_text, '') AS dedup_text
FROM tot LEFT JOIN ka USING (doc_id)
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → canonical (min-id)
    representative per cluster. The iterative Spark propagation must
    agree with the oracle's recursive-CTE transitive closure."""
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    return D.connected_components(pairs, "id1", "id2")


CLUSTERS_SQL = f"""
WITH {_DOC_TOKS},
{pairs_ctes("toks", 0.8)},
{components_ctes("pairs")}
SELECT doc_id, cluster_rep FROM reps
"""


SWEEP_THRESHOLDS = (0.7, 0.8, 0.9)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'how aggressive should dedup be' calibration report: pair
    counts and REMOVAL counts at Jaccard ≥ 0.7 / 0.8 / 0.9, from ONE
    inverted-index pass (candidates generated once at the lowest
    threshold, then filtered per threshold) — never one shingling run
    per threshold. Removals are computed the way dedup_clusters
    actually removes: connected components of the thresholded pair
    set, count of non-min members. (A pair-local countDistinct(id2)
    undercounts — a doc whose only above-threshold partner has a
    LARGER id still gets removed when its component min is elsewhere,
    e.g. edges (3,7),(5,7): keep-min removes both 5 and 7, but only 7
    ever appears as id2.) Three CC passes over already-thresholded
    pair subsets — the pair set is the expensive part and is built
    once and persisted. Thresholds compare against the quantized
    jaccard (k/10000), so both engines bucket ties identically."""
    from functools import reduce
    docs = load_table(spark, sf_dir, "documents")
    k = len(SWEEP_THRESHOLDS)
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3,
                            threshold=min(SWEEP_THRESHOLDS),
                            max_df=D.DEFAULT_MAX_DF_FRAC).persist()
    # ONE label-propagation loop for all thresholds: encode the
    # threshold index into the node id (doc_id·k + i — edge sets
    # never cross indices, so components stay within one threshold
    # and the composite min decodes back to the per-threshold min
    # doc_id). One loop pays each round's fixed cost, and does one
    # edge shuffle per round, once for all thresholds.
    subs = [pairs.filter(F.col("jaccard") >= t).select(
                (F.col("id1") * k + i).alias("id1"),
                (F.col("id2") * k + i).alias("id2"))
            for i, t in enumerate(SWEEP_THRESHOLDS)]
    clusters = D.connected_components(
        reduce(DataFrame.unionByName, subs), "id1", "id2")
    rem = (clusters.filter(F.col("doc_id") != F.col("cluster_rep"))
           .groupBy((F.col("doc_id") % k).cast("int").alias("tidx"))
           .agg(F.count(F.lit(1)).alias("n_docs_removed")))
    thr = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SWEEP_THRESHOLDS)],
        "tidx int, threshold double")
    np_ = (pairs.crossJoin(F.broadcast(thr))
           .filter(F.col("jaccard") >= F.col("threshold"))
           .groupBy("tidx").agg(F.count(F.lit(1)).alias("n_pairs")))
    return (thr.join(np_, "tidx", "left").join(rem, "tidx", "left")
            .select("threshold",
                    F.coalesce("n_pairs", F.lit(0).cast("long"))
                    .alias("n_pairs"),
                    F.coalesce("n_docs_removed", F.lit(0).cast("long"))
                    .alias("n_docs_removed")))


_THR_VALUES = ", ".join(f"({t!r})" for t in SWEEP_THRESHOLDS)

THRESHOLD_SWEEP_SQL = f"""
WITH {_DOC_TOKS},
{pairs_ctes("toks", min(SWEEP_THRESHOLDS))},
thr AS (SELECT * FROM (VALUES {_THR_VALUES}) t(threshold)),
tp AS (SELECT threshold, id1, id2 FROM pairs CROSS JOIN thr
       WHERE jaccard >= threshold),
{components_ctes("tp", by="threshold")},
rem AS (SELECT threshold, count(*) AS n_docs_removed FROM reps
        WHERE doc_id <> cluster_rep GROUP BY threshold),
np AS (SELECT threshold, count(*) AS n_pairs FROM tp GROUP BY threshold)
SELECT t.threshold,
       CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(n_docs_removed, 0) AS BIGINT) AS n_docs_removed
FROM thr t LEFT JOIN np USING (threshold) LEFT JOIN rem USING (threshold)
"""


QUERIES: dict[str, tuple] = {
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, JACCARD_SQL),
    "paragraph_dedup": (paragraph_dedup, PARAGRAPH_DEDUP_SQL),
    "dedup_threshold_sweep": (dedup_threshold_sweep, THRESHOLD_SWEEP_SQL),
    "dedup_clusters": (dedup_clusters, CLUSTERS_SQL),
    "minhash_lsh_candidates": (minhash_lsh_candidates, MINHASH_SQL),
    "simhash_fingerprints": (simhash_fingerprints, SIMHASH_SQL),
    "simhash_near_dup": (simhash_near_dup, SIMHASH_NEAR_DUP_SQL),
    "benchmark_decontamination": (benchmark_decontamination,
                                  DECONTAMINATION_SQL),
    "benchmark_decontamination_fixed": (benchmark_decontamination_fixed,
                                        DECONTAMINATION_FIXED_SQL),
    "incremental_near_dup": (incremental_near_dup, INCREMENTAL_SQL),
}
