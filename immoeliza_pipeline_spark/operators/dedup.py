"""Near-duplicate detection operators (SURVEY.md §2.4).

Four families, all shuffle-architected for 100 TB:

- exact: hash groupBy / window keep-first (see plans.prep).
- n-gram Jaccard: shingle-explode → inverted-index self-join. The
  join key is the shingle, so candidate generation is proportional to
  sum over shingles of df(s)², not n² — word n-grams (n≥3) keep df
  small. ``max_df`` drops stop-shingles, the standard scale guard.
- MinHash+LSH: fixed-size signatures (one shuffle: explode → groupBy
  doc with H min-aggregates), banded bucket join → candidates ~
  linear in corpus size. Hashing is md5-based so any engine (and the
  DuckDB oracle) reproduces it bit-for-bit; min over hex strings is
  plain lexicographic min.
- SimHash: token-hash bit votes → one fingerprint per doc; duplicates
  collide exactly, near-duplicates within small Hamming distance.

No UDFs anywhere — md5/explode/min/CASE are all codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import pack_sign_bits, quantize
from immoeliza_pipeline_spark.functions.text import (WS, tokens, window_slice,
                                                     word_shingles)
from immoeliza_pipeline_spark.sources.readers import spread as _spread

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4
# default stop-shingle cap as a fraction of corpus size: a shingle in
# more than 2% of docs is boilerplate, not dedup signal, and generates
# O(df²) candidate pairs in the inverted-index join
DEFAULT_MAX_DF_FRAC = 0.02


def shingle_table(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3) -> DataFrame:
    """(id, shingle) pairs, distinct per doc.

    The token array is MATERIALIZED as its own projection before the
    n-gram transform: expressions inside higher-order-function
    lambdas are re-evaluated per element (no CSE), so inlining
    tokens() would re-run the regex split 3× per gram.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
    return toks.select(
        "id",
        F.explode(F.array_distinct(
            word_shingles(F.col("__toks"), n))).alias("shingle"),
    )


def _doc_freq(sh: DataFrame) -> DataFrame:
    """(shingle, __df): the number of docs of ``sh`` holding each shingle."""
    return sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))


def _sizes(sh: DataFrame) -> DataFrame:
    """(id, __n): each doc's shingle count — a Jaccard denominator term."""
    return sh.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))


def _cap(frame: DataFrame, max_df: float) -> DataFrame:
    """1-row ``__cap`` = ceil(max_df × rows of ``frame``): the
    stop-shingle cap as a share of the corpus, so the guard stays
    proportional as the corpus grows. A scalar frame crossed onto the
    doc-freq rows keeps it lazy and distributed — no collect."""
    return frame.agg(F.ceil(F.count(F.lit(1)) * max_df).alias("__cap"))


def _scored_pairs(a: DataFrame, b: DataFrame, on: Column | str,
                  names: tuple[str, str],
                  sizes_a: DataFrame, sizes_b: DataFrame,
                  threshold: float) -> DataFrame:
    """The near-dup pair rule: (names[0], names[1], jaccard) for every
    doc pair of the (id, shingle) frames ``a`` ⋈ ``b`` (aliased "a"
    and "b" for ``on``) with quantized |A∩B| / |A∪B| ≥ threshold.
    |A∩B| is the joined shingle count; |A∪B| = n_a + n_b − |A∩B| from
    the (id, __n) ``sizes_*``, which must count the same shingle
    universe as the join sides' stop-shingle filter."""
    id1, id2 = names
    common = (a.alias("a").join(b.alias("b"), on)
              .groupBy(F.col("a.id").alias(id1), F.col("b.id").alias(id2))
              .agg(F.count(F.lit(1)).alias("common")))
    jac = F.col("common") / (F.col("__n1") + F.col("__n2") - F.col("common"))
    return (common
            .join(sizes_a.select(F.col("id").alias(id1),
                                 F.col("__n").alias("__n1")), id1)
            .join(sizes_b.select(F.col("id").alias(id2),
                                 F.col("__n").alias("__n2")), id2)
            .withColumn("jaccard", quantize(jac, 10000))
            .filter(F.col("jaccard") >= threshold)
            .select(id1, id2, "jaccard"))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  threshold: float = 0.8,
                  max_df: float | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for all candidate pairs
    sharing ≥1 shingle; returns pairs ≥ threshold. ``max_df`` drops
    stop-shingles held by more than ceil(max_df × docs) docs from
    both the join and the sizes.

    Candidate prefilter (result-identical): a shingle with document
    frequency 1 can never produce a pair, and in a real corpus most
    shingles are unique, so both join sides are semi-joined down to
    df ≥ 2 shingles first. Sizes keep counting every non-stop
    shingle: the Jaccard denominator includes a doc's unique ones.

    The persist sits on the RAW shingle table, so the doc-frequency
    aggregation reads the cache instead of re-running the
    tokenize/explode pipeline. Only the doc-freq rows with df ≥ 2 are
    kept (and persisted): the candidate keep set is 2 ≤ df ≤ cap, and
    the stop set df > cap implies df ≥ 2 because cap ≥ 1, so the
    sizes universe is an ANTI-join against the tiny stop set
    (df ≤ cap ≡ NOT df > cap over a total doc-freq table). The per-doc
    sizes stay persisted too: they feed both size joins.
    """
    sh_raw = shingle_table(df, id_col, text_col, n).persist()
    rep = _doc_freq(sh_raw).filter(F.col("__df") >= 2)
    if max_df is None:
        stop_cond = F.lit(False)
    else:
        rep = rep.crossJoin(F.broadcast(_cap(df, max_df)))
        stop_cond = F.col("__df") > F.col("__cap")
    # one small cache feeds every probe: stop = rep[stop_cond],
    # candidate keep set = rep[~stop_cond]
    rep = rep.persist()
    sh = sh_raw if max_df is None else sh_raw.join(
        rep.filter(stop_cond).select("shingle"), "shingle", "left_anti")
    sizes = _sizes(sh).persist()
    sh_c = sh_raw.join(rep.filter(~stop_cond).select("shingle"),
                       "shingle", "left_semi")
    return _scored_pairs(
        sh_c, sh_c,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.id") < F.col("b.id")),
        ("id1", "id2"), sizes, sizes, threshold)


def _band_keys(frame: DataFrame, cols: list, band_cols: list[str]) -> DataFrame:
    """``cols`` once per band of ``band_cols``, with its (__bi, __bv)."""
    return frame.select(*cols, F.posexplode(F.array(*[
        F.col(c) for c in band_cols])).alias("__bi", "__bv"))


def _first_band_match(a: str, b: str, pair: Column,
                      earlier: list[str]) -> Column:
    """banded_self_join's first-matching-band condition on two
    _band_keys tables aliased ``a``/``b`` (``earlier``: the band
    columns before the last), ANDed with ``pair`` after the key."""
    cond = ((F.col(f"{a}.__bi") == F.col(f"{b}.__bi"))
            & (F.col(f"{a}.__bv") == F.col(f"{b}.__bv")) & pair)
    for p, c in enumerate(earlier):
        cond &= F.when(F.col(f"{a}.__bi") <= p, F.lit(True)).otherwise(
            ~F.coalesce(F.col(f"{a}.{c}") == F.col(f"{b}.{c}"), F.lit(False)))
    return cond


def banded_self_join(frame: DataFrame, band_cols: list[str], id_col: str,
                     pair_select) -> DataFrame:
    """OR-construction candidate generation shared by every banded-LSH
    probe (SimHash Hamming, MinHash, embedding near-dup): the pairs
    agreeing on ANY band, each exactly once, projected through
    ``pair_select(a_prefix, b_prefix) -> list[Column]`` (the "a."/"b."
    prefixes address the two frame sides). NULL band values never
    match (SQL equality), matching the property tests.

    Shape: the band values explode into a LIGHT (id, band_idx,
    band_val, earlier bands) key table; ONE self-join on (band_idx,
    band_val) generates candidates, and a FIRST-MATCHING-BAND
    predicate inside the join (for every band p before the matched
    one, the two rows' band-p values must differ) keeps each pair
    exactly once — the same pair set a distinct would produce,
    without shuffling the (much larger) candidate set. Earlier-band
    comparisons use NULL→no-match semantics (~coalesce(=, false)),
    so NULL bands neither match nor suppress later matches. The frame
    then joins back once per side to feed pair_select. ``frame``
    should be persisted by the caller — it feeds the key table and
    both payload sides."""
    earlier = [f"__b{i}" for i in range(len(band_cols) - 1)]
    keys = _band_keys(frame, [F.col(id_col).alias("__id"), *[
        F.col(c).alias(e) for c, e in zip(band_cols, earlier)]], band_cols)
    cond = _first_band_match("ka", "kb", F.col("ka.__id") < F.col("kb.__id"),
                             earlier)
    pairs = (keys.alias("ka").join(keys.alias("kb"), cond)
        .select(F.col("ka.__id").alias("__id1"),
                F.col("kb.__id").alias("__id2")))
    return (pairs
            .join(frame.alias("a"),
                  F.col("__id1") == F.col(f"a.{id_col}"))
            .join(frame.alias("b"),
                  F.col("__id2") == F.col(f"b.{id_col}"))
            .select(*pair_select("a", "b")))


def contamination_overlap(df: DataFrame, id_col: str, text_col: str,
                          bench_filter, n: int = 5) -> DataFrame:
    """Benchmark decontamination: for every non-benchmark doc, the
    number of distinct word n-grams it shares with the benchmark set
    (docs matching ``bench_filter``). The standard pre-training
    hygiene op: drop/flag training docs that leak eval data.

    Scale shape: benchmark sets are small (eval suites), so their
    shingle table broadcasts; candidate generation is a broadcast
    semi-join keyed on the shingle — corpus-side work is one shingle
    scan, no self-join. The semi-join's hash build dedups the
    benchmark shingles itself, so the probe side takes no distinct.
    The shingle table feeds both the benchmark side and the corpus
    side, so it is persisted to keep the tokenize/explode pass single."""
    sh = shingle_table(df, id_col, text_col, n).persist()
    bench_shingles = (sh.filter(bench_filter(F.col("id")))
                      .select("shingle"))
    return (sh.filter(~bench_filter(F.col("id")))
            .join(F.broadcast(bench_shingles), "shingle", "left_semi")
            .groupBy("id").agg(F.count(F.lit(1)).alias("n_overlap"))
            .select(F.col("id").alias("doc_id"), "n_overlap"))


def jaccard_pairs_between(new_df: DataFrame, old_df: DataFrame,
                          id_col: str, text_col: str, n: int = 3,
                          threshold: float = 0.8,
                          max_df: float | None = None) -> DataFrame:
    """Incremental near-dup detection: Jaccard ≥ threshold pairs of a
    NEW batch against an EXISTING corpus — the ingestion-time shape at
    100 TB, where re-shingling the whole corpus per batch is the thing
    you must never do. The existing side's shingle table is what a
    production pipeline persists between batches (id, shingle) —
    candidate generation is a new-side shingle scan joined against
    that index, so per-batch cost is proportional to the BATCH, not
    the corpus. ``max_df`` (a share of the existing corpus's docs)
    drops STOP-shingles (existing-corpus doc freq above the cap) from
    BOTH sides — sizes must count the same shingle universe as the
    intersection, or a boilerplate-heavy exact duplicate scores 0.7
    instead of 1.0 and escapes the filter. The filter is an ANTI-join
    against the stop set, NOT a semi-join against the kept set: a
    shingle that only appears in the NEW batch has existing-corpus
    df = 0 (it is absent from the index's doc-freq table entirely),
    and a semi-join would silently drop it from n_new — a new doc
    that merely CONTAINS a small old doc plus novel text would then
    score jaccard 1.0 and be falsely flagged as a near-dup."""
    return jaccard_pairs_against_index(
        new_df, shingle_table(old_df, id_col, text_col, n), id_col,
        text_col, n=n, threshold=threshold,
        cap=None if max_df is None else _cap(old_df, max_df))


def jaccard_pairs_against_index(new_df: DataFrame, index: DataFrame,
                                id_col: str, text_col: str, n: int = 3,
                                threshold: float = 0.8,
                                cap: DataFrame | None = None) -> DataFrame:
    """jaccard_pairs_between with the existing corpus already in
    shingle-index form — ``index`` is an (id, shingle) frame, e.g.
    read back from the parquet a production pipeline persists between
    ingestion batches. The corpus is never re-shingled here; every
    per-batch cost is driven by the batch and the index join.
    ``cap`` (a 1-row ``__cap`` frame, see _cap) turns on the
    stop-shingle guard: index shingles held by more than __cap index
    docs are anti-joined away from both sides.

    Persist scope: the returned plan depends on persisted
    intermediates (stop/index/batch shingles), which therefore cannot
    be unpersisted here. Callers looping over ingestion batches MUST
    release them once the batch's result is materialized —
    ``spark.catalog.clearCache()`` per batch (what the registry's
    _pinned boundary and the multi-batch test do), or executor
    storage grows by ~3 frames per batch."""
    # the RAW shingle tables are persisted, so the (corpus-sized)
    # index pipeline runs once even though the stop set derives from
    # it; the broadcast anti-join against the tiny stop set is
    # re-evaluated per consumer from the cache
    sh_new = shingle_table(new_df, id_col, text_col, n).persist()
    idx = index.select(F.col("id"), F.col("shingle")).persist()
    if cap is not None:
        # stop sets are tiny by construction (boilerplate only) —
        # persist so the existing-corpus doc-freq agg runs once for
        # the anti-join consumers
        stop = (_doc_freq(idx).crossJoin(F.broadcast(cap))
                .filter(F.col("__df") > F.col("__cap"))
                .select("shingle").persist())
        idx = idx.join(stop, "shingle", "left_anti")
        sh_new = sh_new.join(stop, "shingle", "left_anti")
    # candidate prefilter (result-identical): only index shingles that
    # also occur in the BATCH can produce a pair, so the (corpus-sized)
    # index join side is semi-joined down to the batch's shingle set —
    # batch-sized, so AQE turns this into a broadcast semi-join. A
    # semi-join ignores right-side multiplicity, so the probe side
    # takes no distinct.
    idx_c = idx.join(sh_new.select("shingle"), "shingle", "left_semi")
    return _scored_pairs(sh_new, idx_c, "shingle", ("new_id", "old_id"),
                         _sizes(sh_new), _sizes(idx), threshold)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = DEFAULT_NUM_HASHES, n: int = 3) -> DataFrame:
    """One row per doc with columns h0..h{H-1}: h_i = min over the
    doc's shingles of md5(i || '|' || shingle). A single groupBy with
    H min-aggregates — map-side partials make this one cheap shuffle
    regardless of corpus size."""
    sh = shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")).cast("binary"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def lsh_candidates(signatures: DataFrame,
                   num_hashes: int = DEFAULT_NUM_HASHES,
                   bands: int = DEFAULT_BANDS,
                   est_threshold: float = 0.5) -> DataFrame:
    """Band the signature, bucket-join on (band_idx, band_hash), then
    estimate similarity as the matching-component fraction. Candidate
    volume is ~linear: only docs agreeing on a full band ever meet."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}); trailing hashes would silently drop from "
            f"every band and lower recall")
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts).cast("binary")).alias(f"band{b}"))
    # the banded signature frame feeds 2×bands join branches — persist
    # so the shingle→signature pipeline runs once, not 8 times
    banded = signatures.select(
        "id", *[F.col(f"h{i}") for i in range(num_hashes)], *band_cols).persist()

    def pair_select(a, b):
        matches = sum((F.col(f"{a}.h{i}") == F.col(f"{b}.h{i}")).cast("int")
                      for i in range(num_hashes))
        return [F.col(f"{a}.id").alias("id1"), F.col(f"{b}.id").alias("id2"),
                (matches / num_hashes).alias("est_sim")]

    candidates = banded_self_join(
        banded, [f"band{b}" for b in range(bands)], "id", pair_select)
    return (candidates
            .filter(F.col("est_sim") >= est_threshold)
            .select("id1", "id2",
                    quantize(F.col("est_sim"), 10000).alias("est_sim")))


CC_MAX_ROUNDS = 20


def connected_components(pairs: DataFrame, id1: str = "id1",
                         id2: str = "id2") -> DataFrame:
    """Cluster near-dup candidate pairs into connected components and
    assign each member the component's minimum id as representative
    (the 'keep one canonical doc per dup cluster' step).

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; stop when no
    label changes. Rounds needed = graph diameter — near-dup clusters
    are small, so this converges in 2-4 rounds; each round is one
    shuffle on the edge key, no driver-side graph.
    """
    # Symmetrized by one explode, so ``pairs``' upstream plan is
    # referenced (and run) once. Duplicate edges need no distinct: the
    # per-round min absorbs them. The edge checkpoint is shuffled on
    # dst, the per-round join key, and truncates the pair lineage.
    both_dirs = F.explode(F.array(
        F.struct(F.col(id1).alias("src"), F.col(id2).alias("dst")),
        F.struct(F.col(id2).alias("src"), F.col(id1).alias("dst"))))
    edges = (
        pairs.select(both_dirs.alias("__e")).select("__e.src", "__e.dst")
        .repartition(F.col("dst"))
        .localCheckpoint(eager=True)
    )
    # Round 1 from identity labels is least(s, min neighbour) per src.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(F.col("src").alias("id"),
                F.least(F.col("src"), F.col("nmin")).alias("label"))
        .localCheckpoint(eager=True)
    )
    def propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.dst == lbl.id)
            .groupBy("src").agg(F.min("label").alias("nmin"))
        )
        new_label = F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label")))
        return (
            lbl.join(neighbor_min, lbl.id == neighbor_min.src, "left")
            .select(F.col("id"), new_label.alias("label"),
                    # labels only ever decrease, so "changed" is known
                    # right here — no extra old-vs-new join per round
                    (new_label < F.col("label")).alias("changed"))
        )

    from pyspark.sql import Observation
    changed = 0
    for _ in range(1, CC_MAX_ROUNDS):
        # Each round is localCheckpointed: propagate() references
        # `labels` twice, so an untruncated plan doubles per round.
        # The convergence count rides the checkpoint job through
        # observe(); a sum over zero rows is NULL, i.e. converged.
        obs = Observation()
        updated = (propagate(labels)
                   .observe(obs, F.sum(F.col("changed").cast("long"))
                            .alias("n_changed"))
                   .localCheckpoint(eager=True))
        changed = int(obs.get["n_changed"] or 0)
        labels = updated  # prior checkpoints are GC-reclaimed
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} "
            f"iterations ({changed} labels still changing); the graph "
            f"diameter exceeds CC_MAX_ROUNDS")
    # labels is checkpointed; the edge list is no longer reachable
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_rep"))


SIMHASH_BITS = 64
SIMHASH_BANDS = 4          # 16 bits per band
_BAND_WIDTH = SIMHASH_BITS // SIMHASH_BANDS


def token_hashes(col: Column) -> Column:
    """md5 hex of each distinct token — materialize this as its own
    projection before the vote aggregate (lambda bodies are
    re-evaluated per use: inlining would tokenize+hash per bit)."""
    return F.transform(F.array_distinct(tokens(col)),
                       lambda t: F.md5(t.cast("binary")))


def token_nibbles(hashes: Column) -> Column:
    """First 16 hex nibbles of each token hash as an int array —
    staged so conv() runs 16× per token, not 64× (bit b reads nibble
    b//4, and there is no CSE inside lambda bodies)."""
    return F.transform(hashes, lambda h: F.transform(
        F.sequence(F.lit(1), F.lit(SIMHASH_BITS // 4)),
        lambda j: F.conv(F.substring(h, j, 1), 16, 10).cast("int")))


def simhash_votes(nibbles: Column) -> Column:
    """The 64 vote counters as one array<int>, in ONE traversal of the
    tokens: counter b (bit b%4 of nibble b//4) gains +1 from a token
    whose hash has that bit set, else -1."""
    # F.shiftright takes a constant shift only; the SQL function does not
    def step(acc, x):
        return F.transform(acc, lambda c, b: c + 2 * F.call_function(
            "shiftright", x[F.shiftright(b, 2)], b % 4).bitwiseAND(1) - 1)

    return F.aggregate(nibbles, F.array_repeat(F.lit(0), SIMHASH_BITS), step)


def simhash_bands(votes: Column) -> list[Column]:
    """The 64-bit fingerprint as 4 × 16-bit band ints (band i covers
    bits 16i..16i+15, bit b set where vote b is positive). Bands ARE
    the fingerprint — and the LSH probe key: two fingerprints within
    Hamming distance 3 must agree exactly on at least one band
    (pigeonhole: 3 flipped bits touch at most 3 of the 4 bands)."""
    return [pack_sign_bits(window_slice(votes, i, _BAND_WIDTH, _BAND_WIDTH))
            .alias(f"band{i}") for i in range(SIMHASH_BANDS)]


def simhash_fingerprint_hex(*bands: Column) -> Column:
    """Render the 4 band ints as the canonical 16-hex-char
    fingerprint (band0 first). DuckDB printf('%04x') mirrors it."""
    return F.format_string("%04x" * SIMHASH_BANDS, *bands)


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, band0..band3, simhash) — one 64-bit SimHash per doc.
    Each stage is materialized as its own projection (no CSE inside
    higher-order-function lambdas)."""
    hashed = _spread(df).select(
        F.col(id_col).alias("id"), token_hashes(F.col(text_col)).alias("__hs"))
    nibs = hashed.select("id", token_nibbles(F.col("__hs")).alias("__nibs"))
    voted = nibs.select("id", simhash_votes(F.col("__nibs")).alias("__votes"))
    banded = voted.select("id", *simhash_bands(F.col("__votes")))
    return banded.withColumn(
        "simhash", simhash_fingerprint_hex(
            *[F.col(f"band{i}") for i in range(SIMHASH_BANDS)]))


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs within Hamming ≤ max_hamming over the 64-bit
    fingerprint. Candidate generation is a banded bucket join (any of
    the 4 band values equal), NOT all pairs: sound for max_hamming ≤ 3
    by pigeonhole, and candidate volume stays proportional to bucket
    occupancy at 100 TB. Exact Hamming distance (popcount of XOR per
    band) filters the candidates."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"banded probe is only sound for max_hamming < {SIMHASH_BANDS} "
            f"(got {max_hamming}): more flipped bits than spare bands "
            "means a true pair can differ in every band")
    fp = simhash_table(df, id_col, text_col).persist()

    def pair_select(a, b):
        hamming = sum(
            F.bit_count(F.col(f"{a}.band{i}").bitwiseXOR(F.col(f"{b}.band{i}")))
            for i in range(SIMHASH_BANDS))
        return [F.col(f"{a}.id").alias("id1"), F.col(f"{b}.id").alias("id2"),
                hamming.cast("int").alias("hamming")]

    candidates = banded_self_join(
        fp, [f"band{i}" for i in range(SIMHASH_BANDS)], "id", pair_select)
    return candidates.filter(F.col("hamming") <= max_hamming)


def blank_line_paragraphs(df: DataFrame, id_col: str,
                          text_col: str) -> DataFrame:
    """(doc_id, idx, para): documents split on blank lines — the
    production paragraphizer for real web/corpus text (headers,
    footers, and nav boilerplate repeat as whole paragraphs).
    Empty/whitespace-only segments are dropped; idx is the paragraph's
    position in the ORIGINAL document, so reassembly preserves order."""
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), rf"\n{WS}*\n"))
        .alias("idx", "para"))
    return paras.filter(F.trim(F.col("para")) != "")


def dedup_paragraphs(paras: DataFrame) -> DataFrame:
    """Cross-document paragraph-level EXACT dedup, keep-first: among
    all occurrences of an identical paragraph (md5 of its text,
    anywhere in the corpus — including repeats inside one document),
    only the occurrence with the smallest (doc_id, idx) survives.
    This removes the repeated boilerplate (headers/footers/nav) that
    document-level Jaccard misses because each containing document is
    otherwise unique — the standard corpus-hygiene stage between
    exact-doc and near-dup passes.

    Shuffle shape: ONE hash-keyed window (row_number over
    md5(para)) — linear at 100 TB; no joins, no candidate pairs.
    Input is a (doc_id, idx, para) frame, e.g. blank_line_paragraphs'
    output; output is the kept subset."""
    return (paras.withColumn("__keep", first_paragraph_occurrence())
            .filter(F.col("__keep"))
            .select("doc_id", "idx", "para"))


def first_paragraph_occurrence() -> Column:
    """The keep-first rule over a (doc_id, idx, para) frame: true on
    the occurrence of each distinct paragraph text (md5 of para) with
    the smallest (doc_id, idx), false on every later one. A window
    expression — stage it as a column before filtering on it."""
    from pyspark.sql import Window
    w = Window.partitionBy(F.md5(F.col("para").cast("binary"))) \
        .orderBy("doc_id", "idx")
    return F.row_number().over(w) == 1
