"""Dedup / text-analysis / similarity queries vs DuckDB at sf0.001."""

import os

import pytest

from immoeliza_pipeline_spark.plans import dedup, similarity, text
from tests.test_analytic import assert_matches_oracle

ALL = [("dedup", n) for n in sorted(dedup.QUERIES)] + \
      [("text", n) for n in sorted(text.QUERIES)] + \
      [("similarity", n) for n in sorted(similarity.QUERIES)]
MODS = {"dedup": dedup, "text": text, "similarity": similarity}


@pytest.mark.parametrize("mod,name", ALL)
def test_query(spark, sf_dir, mod, name):
    fn, sql = MODS[mod].QUERIES[name]
    sdf = fn(spark, sf_dir)
    if sql is None:
        assert sdf.count() >= 0
    else:
        assert_matches_oracle(sdf, sql, sf_dir)


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """The LSH candidates should include every exact-Jaccard≥0.8 pair
    (near-dups agree on ≥1 band with overwhelming probability)."""
    exact = {(r.id1, r.id2) for r in
             dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
    approx = {(r.id1, r.id2) for r in
              dedup.minhash_lsh_candidates(spark, sf_dir).collect()}
    assert exact <= approx


def test_ann_recall_vs_brute_force(spark, sf_dir):
    """LSH ANN results must be a (bucket-restricted) subset of the
    full ranking universe and self-consistent."""
    ann = similarity.ann_lsh_topk(spark, sf_dir)
    rows = ann.collect()
    assert all(r.rank <= 5 for r in rows)
    assert all(r.query_id != r.neighbor_id for r in rows)


def test_ann_recall_gate_sf001():
    """recall@5 vs the exact brute-force ground truth at sf0.01 —
    hash-parity with each algorithm's own oracle mirror says nothing
    about retrieval QUALITY, so this gates it. Measured on these
    near-uniform synthetic embeddings (worst case for LSH — real
    corpora cluster): banded LSH (6 bands × 3 planes) = 0.88, IVF
    nprobe=2 = 0.64 with the √n seed rule (6 cells at sf0.01; the
    r9 %97 rule's 6 cells measured 0.68 — same cell count, slightly
    different seed positions); the single-AND-bucket LSH form this
    replaced measured 0.00. Floors sit a notch under measured to
    absorb testdata regeneration."""
    import os

    from immoeliza_pipeline_spark.session import get_spark
    sf = os.environ.get("RECALL_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="recall_gate", cpus="8")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk_neighbors(spark, sf).collect()}
    assert exact
    lsh = {(r.query_id, r.neighbor_id)
           for r in similarity.ann_lsh_topk(spark, sf).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in similarity.ivf_topk_neighbors(spark, sf).collect()}
    trained = {(r.query_id, r.neighbor_id)
               for r in similarity.ivf_kmeans_topk(spark, sf).collect()}
    assert len(exact & lsh) / len(exact) >= 0.80, (exact, lsh)
    assert len(exact & ivf) / len(exact) >= 0.60, (exact, ivf)
    # trained cells must not LOSE recall vs the raw-seed cells
    # (measured 0.68 trained vs 0.64 raw at nprobe=2)
    assert len(exact & trained) / len(exact) >= 0.60, (exact, trained)


def test_incremental_dedup_multi_batch_persisted_index(tmp_path, spark, sf_dir):
    """The production ingestion loop end to end: the corpus shingle
    index is PERSISTED to parquet once, then 3 successive batches are
    deduped against the index read back from disk (never re-shingling
    the corpus) and appended to it. The union of all cross-batch
    pairs plus within-batch pairs must equal the pair set batch-mode
    dedup finds on the full corpus — proving the persisted-index
    claim, not just the single-call operator."""
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.operators import dedup as D
    from immoeliza_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batches = [docs.filter((F.col("doc_id") % 5 == 0)
                           & ((F.col("doc_id") / 5).cast("long") % 3 == k))
               for k in range(3)]
    idx_path = str(tmp_path / "shingle_index")
    # bootstrap: dedup the initial corpus once, shingle it ONCE,
    # persist the index
    D.shingle_table(base, "doc_id", "text", n=3).write.parquet(idx_path)
    got = {frozenset((r.id1, r.id2))
           for r in D.jaccard_pairs(base, "doc_id", "text", n=3,
                                    threshold=0.8).collect()}
    for batch in batches:
        # the per-batch unpersist boundary the operator's docstring
        # requires of production ingestion loops
        spark.catalog.clearCache()
        index = spark.read.parquet(idx_path)
        cross = D.jaccard_pairs_against_index(
            batch, index, "doc_id", "text", n=3, threshold=0.8)
        within = D.jaccard_pairs(batch, "doc_id", "text", n=3, threshold=0.8)
        got |= {frozenset((r.new_id, r.old_id)) for r in cross.collect()}
        got |= {frozenset((r.id1, r.id2)) for r in within.collect()}
        # append the batch's shingles — the next batch dedups against
        # corpus + all earlier batches without re-shingling either
        D.shingle_table(batch, "doc_id", "text", n=3) \
            .write.mode("append").parquet(idx_path)

    expected = {frozenset((r.id1, r.id2))
                for r in D.jaccard_pairs(docs, "doc_id", "text", n=3,
                                         threshold=0.8).collect()}
    assert got == expected
    assert expected  # the check must not pass vacuously


def test_decontamination_flags_only_nonbench_overlaps(spark, sf_dir):
    """Benchmark docs themselves are never flagged, and every flagged
    doc genuinely shares a 5-gram with some benchmark doc."""
    from immoeliza_pipeline_spark.operators import dedup as D
    from immoeliza_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    flagged = dedup.benchmark_decontamination(spark, sf_dir).collect()
    assert all(r.doc_id % 29 != 0 for r in flagged)
    assert all(r.n_overlap >= 1 for r in flagged)
    sh = D.shingle_table(docs, "doc_id", "text", n=5)
    bench = {r.shingle for r in
             sh.filter("id % 29 = 0").select("shingle").distinct().collect()}
    for r in flagged[:5]:
        mine = {x.shingle for x in sh.filter(f"id = {r.doc_id}").collect()}
        assert len(mine & bench) == r.n_overlap


def test_doc_chunks_tile_documents(spark, sf_dir):
    """Chunk windows must tile each doc: first chunk starts at 0,
    consecutive starts advance by the stride, the final chunk reaches
    the last token, and every chunk except possibly the last is
    full-width."""
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.functions import text as T
    from immoeliza_pipeline_spark.plans.text import (
        CHUNK_OVERLAP, CHUNK_TOKENS, doc_chunks)
    from immoeliza_pipeline_spark.sources.readers import load_table

    step = CHUNK_TOKENS - CHUNK_OVERLAP
    n_tokens = {r.doc_id: r.n for r in
                load_table(spark, sf_dir, "documents").select(
                    "doc_id", F.size(T.tokens(F.col("text"))).alias("n")).collect()}
    by_doc = {}
    for r in doc_chunks(spark, sf_dir).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_tokens)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = n_tokens[doc_id]
        for i, r in enumerate(chunks):
            assert r.chunk_idx == i and r.chunk_start == i * step
            assert r.n_chunk_tokens == min(CHUNK_TOKENS, n - r.chunk_start)
        last = chunks[-1]
        assert last.chunk_start + last.n_chunk_tokens == n  # reaches the end
        if len(chunks) > 1:
            assert chunks[-2].chunk_start + CHUNK_TOKENS >= last.chunk_start


def test_guard_paths_raise_loudly(spark, sf_dir):
    """Unsound configurations must fail at plan-build time, not
    produce silently-wrong results."""
    import pytest

    from immoeliza_pipeline_spark.operators import dedup as D
    from immoeliza_pipeline_spark.sources.readers import load_table
    docs = load_table(spark, sf_dir, "documents").limit(5)
    # Hamming budget >= band count breaks the pigeonhole soundness
    with pytest.raises(ValueError, match="pigeonhole|sound"):
        D.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=4)
    # LSH banding must consume every hash
    with pytest.raises(ValueError, match="divisible"):
        D.lsh_candidates(D.minhash_signatures(docs, "doc_id", "text",
                                              num_hashes=10), num_hashes=10,
                         bands=4)


def test_operators_tolerate_empty_input(spark, sf_dir):
    """Empty partitions (and empty batches) are normal at scale —
    every dedup/similarity/packing operator must return an empty,
    correctly-schemaed frame, not throw."""
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.operators import dedup as D
    from immoeliza_pipeline_spark.operators import similarity as S
    from immoeliza_pipeline_spark.plans.corpus import pack_layout
    from immoeliza_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(0)
    emb = load_table(spark, sf_dir, "embeddings").limit(0)
    assert D.jaccard_pairs(docs, "doc_id", "text", max_df=0.02).count() == 0
    assert D.simhash_near_dup_pairs(docs, "doc_id", "text").count() == 0
    assert D.contamination_overlap(docs, "doc_id", "text",
                                   lambda i: i % 29 == 0).count() == 0
    assert S.near_dup_pairs_bucketed(emb, "vec_id", "embedding",
                                     dim=64).count() == 0
    empty_counts = docs.select("doc_id", "lang",
                               F.lit(0).cast("long").alias("n_tokens"))
    assert pack_layout(empty_counts).count() == 0


def test_embedding_bucketed_pair_recall():
    """Pair recall of the banded embedding near-dup vs the exact
    quadratic baseline at sf0.01 — the docstring's ~79% claim held to
    a floor, and precision must be 1.0 (every emitted pair really is
    above threshold: candidates are exactly-scored before the
    filter, so a subset relation must hold)."""
    from immoeliza_pipeline_spark.session import get_spark
    spark = get_spark(app_name="pair_recall_gate", cpus="8")
    sf = "/root/testdata/sf0.01"
    exact = {(r.id1, r.id2)
             for r in similarity.embedding_near_dup_pairs(spark, sf).collect()}
    banded = {(r.id1, r.id2)
              for r in similarity.embedding_near_dup_bucketed(spark, sf).collect()}
    assert exact  # not vacuous
    assert banded <= exact  # exact scoring after banding: no false pairs
    assert len(banded & exact) / len(exact) >= 0.6, (len(banded), len(exact))


def test_blank_line_paragraph_dedup_removes_boilerplate(spark):
    """The production paragraphizer (split on blank lines) + keep-first
    paragraph dedup: a footer repeated across docs survives only in the
    smallest (doc_id, idx) occurrence, within-doc repeats are dropped,
    and reassembly order follows the original paragraph positions."""
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.operators.dedup import (
        blank_line_paragraphs, dedup_paragraphs)

    footer = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [(1, f"alpha body one\n\n{footer}"),
         (2, f"beta body two\n\n  \n{footer}"),          # blank line w/ spaces
         (3, f"{footer}\n\ngamma body three\n\n{footer}")],  # repeat in-doc
        "doc_id long, text string")
    paras = blank_line_paragraphs(docs, "doc_id", "text")
    assert paras.count() == 7  # whitespace-only segment dropped
    kept = dedup_paragraphs(paras).collect()
    foot = [(r.doc_id, r.idx) for r in kept if r.para == footer]
    assert foot == [(1, 1)]  # smallest (doc_id, idx) wins, all others drop
    bodies = {(r.doc_id, r.para) for r in kept if r.para != footer}
    assert bodies == {(1, "alpha body one"), (2, "beta body two"),
                      (3, "gamma body three")}

    # reassembly preserves original order for doc 3 (footer stripped)
    re3 = (dedup_paragraphs(paras).filter("doc_id = 3")
           .groupBy("doc_id")
           .agg(F.concat_ws("\n\n", F.transform(
               F.array_sort(F.collect_list(F.struct("idx", "para"))),
               lambda s: s["para"])).alias("t")).collect()[0].t)
    assert re3 == "gamma body three"


def test_connected_components_duplicate_edges_and_chains(spark):
    """Pins the r11 connected-components internals: edges are
    symmetrized via one explode (no self-union) and NOT deduped, and
    propagation round 1 is folded into the label init. Duplicate
    edges (the corpus builds' lexical ∪ semantic union has overlap
    multiplicity 2) must not change any label; a diameter-4 chain
    exercises several convergence-counted rounds beyond the folded
    first one; a reversed (id1 > id2) pair must still cluster."""
    from immoeliza_pipeline_spark.operators.dedup import (
        connected_components)

    pairs = spark.createDataFrame(
        [(3, 7), (3, 7),                      # duplicate edge
         (5, 7),                              # star sharing node 7
         (10, 11), (11, 12), (12, 13), (13, 14),  # diameter-4 chain
         (31, 30)],                           # reversed order
        "id1 long, id2 long")
    got = {r.doc_id: r.cluster_rep
           for r in connected_components(pairs).collect()}
    assert got == {3: 3, 5: 3, 7: 3,
                   10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                   30: 30, 31: 30}


@pytest.mark.parametrize("case", ["top1_is_slot1", "tie_to_smaller_cid",
                                  "empty_centers"])
def test_nearest_centers(spark, case):
    """The shared assignment primitive on hand-built frames: the n = 1
    argmin is slot 1 of the n = 3 ranking, a tie on d goes to the
    smaller cid, and no centers give no rows."""
    from immoeliza_pipeline_spark.operators.similarity import (
        nearest_centers, sq_dist)

    vectors = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [3.0, 2.0])],
        "vid long, v array<double>")
    # vid 1 and vid 2 are at d = 1 from both cid 10 and cid 11
    centers = spark.createDataFrame(
        [(11, [1.0, 0.0]), (10, [0.0, 1.0]), (12, [3.0, 3.0])],
        "cid long, c array<double>")
    if case == "empty_centers":
        empty = centers.limit(0)
        assert nearest_centers(vectors, empty, sq_dist).count() == 0
        assert nearest_centers(vectors, empty, sq_dist, n=3).count() == 0
        return
    top1 = {r.vid: (r.d, r.cid)
            for r in nearest_centers(vectors, centers, sq_dist).collect()}
    if case == "tie_to_smaller_cid":
        assert top1 == {1: (1.0, 10), 2: (1.0, 10), 3: (1.0, 12)}
        return
    ranked: dict[int, list] = {}
    for r in nearest_centers(vectors, centers, sq_dist, n=3).collect():
        ranked.setdefault(r.vid, []).append((r.d, r.cid))
    assert all(len(v) == 3 for v in ranked.values())
    assert top1 == {vid: min(v) for vid, v in ranked.items()}


def test_empty_embeddings_match_oracle(tmp_path, spark, sf_dir):
    """An empty embeddings table is legal input: the k-means and IVF
    queries return the oracle's zero rows instead of raising."""
    import shutil

    import pyarrow.parquet as pq

    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), tmp_path / f)
    emb = tmp_path / "embeddings.parquet"
    pq.write_table(pq.read_table(emb).slice(0, 0), emb)
    for name in ("kmeans_clusters", "ivf_kmeans_topk", "ivf_topk_neighbors"):
        fn, sql = similarity.QUERIES[name]
        assert_matches_oracle(fn(spark, str(tmp_path)), sql, str(tmp_path))
