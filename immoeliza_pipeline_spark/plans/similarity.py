"""Similarity-search queries over the embeddings table
(SURVEY.md §2.4 #37-39)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import num as N
from immoeliza_pipeline_spark.operators import similarity as S
from immoeliza_pipeline_spark.sources.readers import load_table, spread


def _cos_sql(a: str, b: str) -> str:
    """Cosine of DuckDB lists ``a`` and ``b``: dot and norms with the
    same left-to-right double accumulation Spark uses."""
    return (f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
            f" / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
            f" * sqrt(list_sum(list_transform({b}, x -> x * x))))")


def cosine_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-5 cosine neighbors for every 100th
    vector (the ANN ground-truth baseline)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)


TOPK_COS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         (floor(({_cos_sql('a.v', 'q.v')}) * 10000 + 0.5) / 10000) AS cos_sim
  FROM e a, q
  WHERE a.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
"""


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine ≥ 0.45 — the GROUND-TRUTH
    BASELINE (quadratic; oracle-scale only). The registered scale
    path is embedding_near_dup_bucketed."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return S.near_dup_pairs(emb, "vec_id", "embedding", threshold=0.45)


NEAR_DUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       (floor(({_cos_sql('a.v', 'b.v')}) * 10000 + 0.5) / 10000) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE (floor(({_cos_sql('a.v', 'b.v')}) * 10000 + 0.5) / 10000) >= 0.45
"""


_LSH_BANDS = 5


def embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup: cosine ≥ 0.45 restricted to
    pairs agreeing on ANY of 5 hyperplane-LSH bands (the standard
    OR-construction) — band bucket-equality joins, never an all-pairs
    product. The band width r is AUTO-TUNED from the corpus row count
    (auto_rows_per_band: bucket load capped at 512, so candidate
    volume stays ~linear in n; r=3 at ≤4k vectors — the width the
    measured ~79% recall vs the exact baseline refers to — r=6 at
    20k, r=8 at 200k, exactly the retunes the r9 scale laps made by
    hand). The oracle reproduces the banding bit-for-bit: the same
    integer r ladder over count(*), the same md5 plane-sign literals,
    the same left-to-right double projection sum."""
    raw = load_table(spark, sf_dir, "embeddings")
    # band width from the RAW table's count: same value as counting
    # the spread frame (spread only repartitions), without paying the
    # repartition exchange inside the count job
    r = S.auto_rows_per_band(raw.count())
    emb = spread(raw)
    return S.near_dup_pairs_bucketed(emb, "vec_id", "embedding", dim=64,
                                     threshold=0.45, bands=_LSH_BANDS,
                                     rows_per_band=r)


def _proj_sql(j: int, dim: int = 64) -> str:
    """DuckDB mirror of plane ``j`` of operators.similarity.
    hyperplane_projections over the list ``v``: the same ±1.0 sign
    list (md5-derived at build time) multiplied into the vector and
    left-to-right summed — list_sum(list_transform(zip)) matches
    Spark's zip_with+aggregate bit-for-bit."""
    signs = "[" + ", ".join(
        ("1.0" if S._rademacher(j, d) > 0 else "-1.0")
        for d in range(dim)) + "]"
    return f"list_sum(list_transform(list_zip(v, {signs}), p -> p[1] * p[2]))"


def _bucket_sql(planes: list[str]) -> str:
    """LSH band bucket: bit jj set where projection planes[jj] > 0."""
    return " + ".join(f"(CASE WHEN {p} > 0 THEN {1 << jj} ELSE 0 END)"
                      for jj, p in enumerate(planes))


_ANY_BAND = " OR ".join(f"a.band{i} = b.band{i}" for i in range(_LSH_BANDS))

# Dynamic-r mirror: the same integer ladder over count(*) as
# operators.similarity.auto_rows_per_band (smallest r in [3, 8] with
# 512·2^r ≥ n — integer comparisons, no cross-engine log2), all
# bands×r_max plane projections staged once, and each band's bucket a
# CASE over r reading planes [i·r, (i+1)·r) — the identical plane
# indexing the Spark side uses for whichever r the ladder picks.
_LSH_R_MIN, _LSH_R_MAX = 3, 8
_R_LADDER = "CASE " + " ".join(
    f"WHEN n <= {S.LSH_TARGET_BUCKET_LOAD * (1 << r)} THEN {r}"
    for r in range(_LSH_R_MIN, _LSH_R_MAX)) + f" ELSE {_LSH_R_MAX} END"


_PROJ_COLS = ", ".join(f"{_proj_sql(j)} AS p{j}"
                       for j in range(_LSH_BANDS * _LSH_R_MAX))


def _band_case(i: int) -> str:
    branches = [
        f"WHEN {r} THEN {_bucket_sql([f'p{i * r + jj}' for jj in range(r)])}"
        for r in range(_LSH_R_MIN, _LSH_R_MAX + 1)]
    return "CASE r " + " ".join(branches) + f" END AS band{i}"


_BAND_CASES = ", ".join(_band_case(i) for i in range(_LSH_BANDS))

NEAR_DUP_BUCKETED_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
rr AS (SELECT {_R_LADDER} AS r FROM (SELECT count(*) AS n FROM e)),
proj AS (SELECT vec_id, v, {_PROJ_COLS} FROM e),
banded AS (SELECT vec_id, v, {_BAND_CASES} FROM proj, rr)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       (floor(({_cos_sql('a.v', 'b.v')}) * 10000 + 0.5) / 10000) AS cos_sim
FROM banded a JOIN banded b ON a.vec_id < b.vec_id AND ({_ANY_BAND})
WHERE (floor(({_cos_sql('a.v', 'b.v')}) * 10000 + 0.5) / 10000) >= 0.45
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean vector per label (the centroid computation
    a real IVF/k-means step needs): posexplode → groupBy (label,
    dim) → avg. Long output format — one shuffle, no array
    reassembly, scales to any dimension count."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "val"))
    return (exploded.groupBy("label", "dim")
            .agg(N.quantize(F.avg("val"), 1000000).alias("mean_val"),
                 F.count(F.lit(1)).alias("n_vectors")))


# dim bound derived from the data (see _kmeans_round): a changed
# embedding width diverges loudly instead of silently truncating
CENTROIDS_SQL = """
SELECT label, i - 1 AS dim,
       (floor((avg(e[i])) * 1000000 + 0.5) / 1000000) AS mean_val, count(*) AS n_vectors
FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
     unnest(range(1, len(e) + 1)) t(i)
GROUP BY label, i
"""


_ANN_BANDS = 6
_ANN_ROWS = 3


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (multi-probe) LSH approximate top-5: candidates agree
    with the query on ANY of 6 hyperplane bands (3 planes each) and
    are ranked exactly. recall@5 = 0.88 vs the brute-force ground
    truth at sf0.01 (gated in tests/test_dedup_text_similarity.py);
    the old single-AND-bucket form measured recall 0. Fully oracled:
    every band is mirrored in SQL via the same md5-derived sign
    lists."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ann_lsh_topk(emb, queries, "vec_id", "embedding", dim=64, k=5,
                          bands=_ANN_BANDS, rows_per_band=_ANN_ROWS)


_ANN_BAND_COLS = ", ".join(
    f"{_bucket_sql([_proj_sql(i * _ANN_ROWS + jj) for jj in range(_ANN_ROWS)])}"
    f" AS band{i}" for i in range(_ANN_BANDS))
_ANN_ANY_BAND = " OR ".join(
    f"a.band{i} = q.band{i}" for i in range(_ANN_BANDS))

ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {_ANN_BAND_COLS} FROM e),
q AS (SELECT vec_id AS query_id, v AS qv,
             {", ".join(f"band{i}" for i in range(_ANN_BANDS))}
      FROM b WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         (floor(({_cos_sql('q.qv', 'a.v')}) * 10000 + 0.5) / 10000) AS cos_sim
  FROM b a JOIN q ON ({_ANN_ANY_BAND}) AND a.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


_IVF_NPROBE = 2


def _ivf_k(n: int) -> int:
    """Cell count k = max(3, ⌈√n / 4⌉) for an n-vector corpus."""
    import math
    return max(3, math.ceil(math.sqrt(n) / 4))


def _ivf_seed_modulus(n: int) -> int:
    """Seed-selection modulus for k ∝ √n coarse cells — the real IVF
    scaling law (k ≈ √n centroids makes assignment n·k and per-query
    scan nprobe·n/k both ~n^1.5/√n, sub-quadratic by construction;
    the old vec_id % 97 rule grew k linearly WITH n, so assignment was
    n²/97 — the 10× lap measured it 8.6× wall). k = ⌈√n / 4⌉ anchors
    sf0.01 at 6 cells, the cell count the recall gate was measured at.
    Deterministic cross-engine: IEEE sqrt is correctly rounded, /4 is
    exact, // is integer floor — the DuckDB mirror computes the
    identical k and m from count(*)."""
    return max(1, n // _ivf_k(n))


def ivf_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic seed centroids every ⌊n/⌈√n/4⌉⌋-th
    vec_id (k ∝ √n cells — see _ivf_seed_modulus), nearest-seed cell
    assignment, exact ranking within the query's nprobe=2 nearest
    cells (recall@5 vs brute force at sf0.01 gated in tests). The
    scale path writes the corpus partitioned by cell so each query
    scans ~nprobe/k of the data."""
    raw = load_table(spark, sf_dir, "embeddings")
    m = _ivf_seed_modulus(raw.count())  # same count, no repartition job
    emb = spread(raw)
    seeds = emb.filter(F.col("vec_id") % m == 0)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ivf_topk(emb, queries, seeds, "vec_id", "embedding", k=5,
                      nprobe=_IVF_NPROBE).select(
        "query_id", "neighbor_id", "cell", "cos_sim", "rank")


IVF_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
-- mirror of _ivf_seed_modulus: m = max(1, n // max(3, ceil(sqrt(n)/4)))
params AS (
  SELECT greatest(1, count(*) // greatest(3, CAST(ceil(sqrt(count(*)) / 4)
                                                 AS BIGINT))) AS m
  FROM e
),
seeds AS (SELECT vec_id AS seed_id, v FROM e, params WHERE vec_id % m = 0),
assign AS (
  SELECT e.vec_id AS vid, e.v,
         min(struct_pack(negsim := (floor((-({_cos_sql('e.v', 's.v')})) * 1000000 + 0.5) / 1000000), seed_id := s.seed_id)).seed_id AS cell
  FROM e CROSS JOIN (SELECT seed_id, v FROM seeds) s(seed_id, v)
  GROUP BY e.vec_id, e.v
),
q AS (
  SELECT vid AS query_id, v AS qv, seed_id AS cell
  FROM (
    SELECT e.vec_id AS vid, e.v, s.seed_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY (floor((-({_cos_sql('e.v', 's.v')})) * 1000000 + 0.5) / 1000000),
                      s.seed_id) AS rn
    FROM e CROSS JOIN (SELECT seed_id, v FROM seeds) s(seed_id, v)
    WHERE e.vec_id % 100 = 0
  )
  WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT q.query_id, a.vid AS neighbor_id, a.cell,
         (floor(({_cos_sql('q.qv', 'a.v')}) * 10000 + 0.5) / 10000) AS cos_sim
  FROM assign a JOIN q ON a.cell = q.cell AND a.vid <> q.query_id
)
SELECT query_id, neighbor_id, cell, cos_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


_KMEANS_ITER = 2
# Lloyd rounds train on a deterministic md5-bucket sample of ~256·k
# rows (k ∝ √n, so per-round cost 256·k² ≈ 16·n — linear); only the
# single final assignment touches all n·k pairs. 65536 = keep all:
# at oracle scale (n ≤ 256·k) the threshold computes to 65536, so
# sampled and full training coincide exactly.
_KMEANS_SAMPLE_PER_CELL = 256


def _kmeans_sample_threshold(n: int) -> int:
    """16-bit md5-bucket cutoff targeting 256·k training rows.
    Integer-exact cross-engine: min(65536, (65536·256·k) // n) — the
    DuckDB mirror computes the identical value from count(*). An empty
    corpus keeps all (65536), as DuckDB's least(65536, NULL) does."""
    if n == 0:
        return 65536
    return min(65536, (65536 * _KMEANS_SAMPLE_PER_CELL * _ivf_k(n)) // n)


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means over the embeddings (k ∝ √n via
    the IVF seed rule, 2 assignment+update rounds on the md5-sampled
    training set, one final full-corpus assignment) — the trainer
    that turns ivf_topk's deterministic seed cells into real
    centroids. Distances AND centroid components are quantized to
    integer millionths each round, so the oracle (the same rounds
    unrolled as a CTE chain, training CTE mirrored via the same
    16-bit md5 bucket) reproduces the full trajectory exactly."""
    raw = load_table(spark, sf_dir, "embeddings")
    n = raw.count()  # same count, no repartition job
    emb = spread(raw)
    return S.kmeans_iterations(
        emb, "vec_id", "embedding", seed_modulus=_ivf_seed_modulus(n),
        n_iter=_KMEANS_ITER,
        sample_threshold=_kmeans_sample_threshold(n)).select(
        F.col("vid").alias("vec_id"), F.col("cid").alias("cluster"),
        "sq_dist")


def _dq(a: str, b: str) -> str:
    """Quantized squared euclidean distance (DuckDB), matching
    operators.similarity.sq_dist + the millionths floor."""
    return (f"floor(list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1]-p[2])*(p[1]-p[2]))) * 1e6 + 0.5)/1e6")


def _kmeans_round(src_c: str, out_a: str, out_m: str, out_c: str,
                  src_e: str = "e") -> str:
    """One unrolled Lloyd round: assign ``src_e`` (the training CTE)
    against ``src_c``, then the quantized per-(cid, dim) means
    reassembled in dim order. The dim bound is derived from the data
    (unnest(range(1, len(v)+1))) — no hardcoded dimensionality, so a
    changed embedding width diverges loudly instead of silently
    truncating."""
    return f"""
{out_a} AS (
  SELECT {src_e}.vec_id AS vid, {src_e}.v,
         min(struct_pack(d := {_dq(f'{src_e}.v', f'{src_c}.c')}, cid := {src_c}.cid)) AS best
  FROM {src_e} CROSS JOIN {src_c} GROUP BY {src_e}.vec_id, {src_e}.v
),
{out_m} AS (
  SELECT best.cid AS cid, i - 1 AS dim,
         floor(avg(v[i]) * 1e6 + 0.5)/1e6 AS mv
  FROM {out_a}, unnest(range(1, len(v) + 1)) t(i) GROUP BY 1, 2
),
{out_c} AS (SELECT cid, list(mv ORDER BY dim) AS c FROM {out_m} GROUP BY cid)"""


# mirror of _ivf_seed_modulus + _kmeans_sample_threshold: k, m, and
# the 16-bit training-sample cutoff all from count(*), integer-exact
_KM_PARAMS_CTE = f"""params AS (
  SELECT greatest(1, count(*) // greatest(3, CAST(ceil(sqrt(count(*)) / 4)
                                                 AS BIGINT))) AS m,
         least(65536,
               (CAST(65536 AS BIGINT) * {_KMEANS_SAMPLE_PER_CELL}
                * greatest(3, CAST(ceil(sqrt(count(*)) / 4) AS BIGINT)))
               // count(*)) AS thr
  FROM e
),
tr AS (
  SELECT vec_id, v FROM e, params
  WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INT)
        < thr
)"""

KMEANS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_KM_PARAMS_CTE},
c0 AS (SELECT vec_id AS cid, v AS c FROM e, params WHERE vec_id % m = 0),
{_kmeans_round('c0', 'a1', 'm1', 'c1', src_e='tr')},
{_kmeans_round('c1', 'a2', 'm2', 'c2', src_e='tr')},
final AS (
  SELECT e.vec_id AS vid,
         min(struct_pack(d := {_dq('e.v', 'c2.c')}, cid := c2.cid)) AS best
  FROM e CROSS JOIN c2 GROUP BY e.vec_id
)
SELECT vid AS vec_id, best.cid AS cluster, best.d AS sq_dist FROM final
"""


def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED cells — kmeans_clusters composed into
    the ANN query: unit-normalize, 2 Lloyd rounds from the √n seed
    init on the md5-sampled training set (linear per round — see
    _kmeans_sample_threshold), ONE full-corpus assignment to the
    trained centroids, probe each query's 2 nearest centroids, rank
    exactly by cosine. recall@5 = 0.68 vs brute force at sf0.01
    (raw-seed IVF at the same nprobe: 0.64; nprobe=1: 0.56 trained vs
    0.40 raw — training pays; at oracle scale the sample threshold is
    65536 = full corpus, so these numbers are unchanged). Fully
    oracled: the mirror unrolls normalization, the sample predicate,
    both Lloyd rounds, assignment, probing, and ranking."""
    raw = load_table(spark, sf_dir, "embeddings")
    n = raw.count()  # same count, no repartition job
    emb = spread(raw)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ivf_kmeans_topk(emb, queries, "vec_id", "embedding",
                             seed_modulus=_ivf_seed_modulus(n), k=5,
                             nprobe=_IVF_NPROBE, n_iter=_KMEANS_ITER,
                             sample_threshold=_kmeans_sample_threshold(n)
                             ).select(
        "query_id", "neighbor_id", "cell", "cos_sim", "rank")


_UNIT = ("list_transform(raw, x -> x / "
         "sqrt(list_sum(list_transform(raw, y -> y * y))))")

IVF_KMEANS_SQL = f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
e AS (SELECT vec_id, {_UNIT} AS v FROM e0),
{_KM_PARAMS_CTE},
c0 AS (SELECT vec_id AS cid, v AS c FROM e, params WHERE vec_id % m = 0),
{_kmeans_round('c0', 'a1', 'm1', 'c1', src_e='tr')},
{_kmeans_round('c1', 'a2', 'm2', 'c2', src_e='tr')},
cells AS (
  SELECT e.vec_id AS vid, e.v,
         min(struct_pack(d := {_dq('e.v', 'c2.c')}, cid := c2.cid)).cid AS cid
  FROM e CROSS JOIN c2 GROUP BY e.vec_id, e.v
),
q AS (
  SELECT query_id, qv, cid FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, c2.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_dq('e.v', 'c2.c')}, c2.cid) AS rn
    FROM e CROSS JOIN c2 WHERE e.vec_id % 100 = 0)
  WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT q.query_id, a.vid AS neighbor_id, a.cid AS cell,
         floor(list_sum(list_transform(list_zip(q.qv, a.v), p -> p[1] * p[2]))
               * 10000 + 0.5) / 10000 AS cos_sim
  FROM cells a JOIN q USING (cid) WHERE a.vid <> q.query_id
)
SELECT query_id, neighbor_id, cell, cos_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


QUERIES: dict[str, tuple] = {
    "cosine_topk_neighbors": (cosine_topk_neighbors, TOPK_COS_SQL),
    "kmeans_clusters": (kmeans_clusters, KMEANS_SQL),
    "ivf_kmeans_topk": (ivf_kmeans_topk, IVF_KMEANS_SQL),
    "ivf_topk_neighbors": (ivf_topk_neighbors, IVF_SQL),
    "label_centroids": (label_centroids, CENTROIDS_SQL),
    "embedding_near_dup_pairs": (embedding_near_dup_pairs, NEAR_DUP_SQL),
    "embedding_near_dup_bucketed": (embedding_near_dup_bucketed,
                                    NEAR_DUP_BUCKETED_SQL),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_SQL),
}
