"""Property-based tests (hypothesis) for the expression-level
operators: each property generates adversarial inputs, runs the JVM
expression once over the whole batch, and compares to a pure-Python
reference."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

WORD = st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126),
               min_size=1, max_size=8)
TEXT = st.lists(WORD, min_size=1, max_size=12).map(" ".join)


def _py_capitalize_words(s: str) -> str:
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" "))


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=60))
def test_capitalize_words_matches_python(spark, texts):
    from immoeliza_pipeline_spark.operators.cleaning import capitalize_words
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.out for r in
           df.select(capitalize_words(F.col("t")).alias("out")).collect()]
    assert got == [_py_capitalize_words(t) for t in texts]


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 4), st.integers(0, 10_000)),
                min_size=2, max_size=120))
def test_sessionize_matches_python(spark, rows):
    """Random (user, second-offset) events: the window sessionizer
    must match a straightforward per-user Python scan."""
    from immoeliza_pipeline_spark.operators.window_ops import sessionize
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    data = [(i, u, base + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "event_id long, user_id long, ts timestamp")
    df = df.withColumn("ts_us", F.unix_micros("ts"))
    out = sessionize(df, "user_id", "ts_us", gap_seconds=600,
                     order_tiebreak="event_id")
    got = {(r.event_id): r.session_id for r in out.collect()}

    expected = {}
    by_user = {}
    for i, u, ts in sorted(data, key=lambda x: (x[1], x[2], x[0])):
        last, sess = by_user.get(u, (None, 0))
        if last is None or (ts - last).total_seconds() > 600:
            sess += 1
        by_user[u] = (ts, sess)
        expected[i] = sess
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(st.lists(st.floats(-89, 89), min_size=2, max_size=2),
       st.lists(st.floats(-179, 179), min_size=2, max_size=2))
def test_haversine_symmetry_and_bounds(spark, lats, lons):
    from immoeliza_pipeline_spark.operators.geo import haversine_km
    df = spark.createDataFrame(
        [(lats[0], lons[0], lats[1], lons[1])],
        "lat1 double, lon1 double, lat2 double, lon2 double")
    r = df.select(
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d"),
        haversine_km(F.col("lat2"), F.col("lon2"), F.col("lat1"), F.col("lon1")).alias("d_rev"),
    ).first()
    assert abs(r.d - r.d_rev) < 1e-9          # symmetric
    assert 0 <= r.d <= 20_038                  # ≤ half circumference + eps


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """Pairs with higher exact Jaccard must not get systematically
    lower MinHash estimates (rank agreement on a planted spectrum)."""
    from immoeliza_pipeline_spark.operators.dedup import (
        lsh_candidates, minhash_signatures)
    base = [f"w{i}" for i in range(40)]
    docs = [(0, " ".join(base)),
            (1, " ".join(base[:36] + ["x1", "x2", "x3", "x4"])),   # high overlap
            (2, " ".join(base[:20] + [f"y{i}" for i in range(20)]))]  # medium
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=12, n=3)
    cand = {(r.id1, r.id2): r.est_sim
            for r in lsh_candidates(sigs, 12, 4, est_threshold=0.0).collect()}
    assert cand.get((0, 1), 0) > cand.get((0, 2), 0)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3),
                          st.integers(0, 3)),
                min_size=2, max_size=40))
def test_banded_self_join_equals_naive_or_scan(spark, rows):
    """banded_self_join must produce EXACTLY the pairs agreeing on
    any band, each exactly once (the first-matching-band branches are
    disjoint and complete) — compared against a naive Python scan."""
    from immoeliza_pipeline_spark.operators.dedup import banded_self_join
    data = [(i, b0, b1, b2) for i, (b0, b1, b2) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, band0 int, band1 int, band2 int")
    out = banded_self_join(
        df, ["band0", "band1", "band2"], "id",
        lambda a, b: [F.col(f"{a}.id").alias("id1"),
                      F.col(f"{b}.id").alias("id2")]).collect()
    got = [(r.id1, r.id2) for r in out]
    expected = {(a[0], b[0]) for a in data for b in data
                if a[0] < b[0] and any(a[k] == b[k] for k in (1, 2, 3))}
    assert set(got) == expected
    assert len(got) == len(expected)  # disjoint branches: no dup pairs


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(0, 5000), min_size=1, max_size=50))
def test_sequence_packing_is_contiguous(spark, token_counts):
    """The PRODUCTION pack_layout: offsets tile the token stream with
    no gaps/overlaps and chunk ids follow integer division — against
    a Python accumulator."""
    from immoeliza_pipeline_spark.plans.corpus import SEQ_LEN, pack_layout
    data = [(i, "en", n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(data, "doc_id long, lang string, n_tokens long")
    out = pack_layout(df).orderBy("doc_id").collect()
    acc = 0
    for r in out:
        assert r.start_offset == acc
        assert r.first_seq == acc // SEQ_LEN
        if r.n_tokens > 0:
            assert r.last_seq == (acc + r.n_tokens - 1) // SEQ_LEN
        else:
            assert r.last_seq is None
        acc += r.n_tokens


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 2)),
                          st.one_of(st.none(), st.integers(0, 2)),
                          st.one_of(st.none(), st.integers(0, 2))),
                min_size=2, max_size=40))
def test_banded_self_join_null_bands(spark, rows):
    """The NULL-band regression property (this exclusion logic was
    wrong twice: plain != null-rejects whole branches, ~eqNullSafe
    treats NULL=NULL as 'already matched'): with nullable bands, the
    result must be exactly the pairs sharing ≥1 NON-NULL equal band
    (SQL equality never matches NULL), each exactly once."""
    from immoeliza_pipeline_spark.operators.dedup import banded_self_join
    data = [(i, b0, b1, b2) for i, (b0, b1, b2) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, band0 int, band1 int, band2 int")
    got = [(r.id1, r.id2) for r in banded_self_join(
        df, ["band0", "band1", "band2"], "id",
        lambda a, b: [F.col(f"{a}.id").alias("id1"),
                      F.col(f"{b}.id").alias("id2")]).collect()]
    expected = {(a[0], b[0]) for a in data for b in data
                if a[0] < b[0]
                and any(a[k] is not None and a[k] == b[k] for k in (1, 2, 3))}
    assert set(got) == expected
    assert len(got) == len(expected)


def test_pii_redaction_is_idempotent_and_conservative(spark):
    """Redacting already-redacted text is a no-op (the placeholder
    tokens match none of the patterns), and a second pass finds zero
    occurrences — the property that makes re-running the hygiene
    stage safe."""
    from immoeliza_pipeline_spark.functions.text import PII_RULES
    samples = [
        "contact me at jane.doe+spam@mail.example.org today",
        "server 192.168.001.1 answered, backup at 10.0.0.7.",
        "call +32 2 555 12 34 or (02) 555-1234 now",
        "no pii here at all",
        "mixed: a@b.co via 8.8.8.8 dial 070 123 456",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "doc_id long, text string")

    def redact(frame, col):
        out = frame.withColumn("t", F.col(col))
        for pat, rep in PII_RULES:
            out = out.withColumn("t", F.regexp_replace("t", pat, rep))
        return out

    once = redact(df, "text").select("doc_id", F.col("t").alias("r1"))
    twice = redact(once, "r1").select("doc_id", F.col("t").alias("r2"))
    rows = {r.doc_id: (r.r1, r.r2) for r in
            once.join(twice, "doc_id").collect()}
    assert all(r1 == r2 for r1, r2 in rows.values())
    assert "@" not in rows[0][0] and "[EMAIL]" in rows[0][0]
    assert "192.168" not in rows[1][0] and "[IP]" in rows[1][0]
    assert rows[3][0] == samples[3]  # clean text untouched


def test_temperature_sample_keeps_rarest_language(spark, sf_dir):
    """rate = (n_l/n_min)^(α−1) is 1.0 for the rarest language — every
    one of its docs must survive the tempered downsampling, and no
    language may be upsampled (kept ≤ present)."""
    from pyspark.sql import functions as _F

    from immoeliza_pipeline_spark.plans.corpus import temperature_sample
    from immoeliza_pipeline_spark.sources.readers import load_table
    docs = load_table(spark, sf_dir, "documents")
    present = {r.lang: r.n for r in
               docs.groupBy("lang").agg(_F.count("*").alias("n")).collect()}
    kept = {r.lang: r.n for r in
            temperature_sample(spark, sf_dir).groupBy("lang")
            .agg(_F.count("*").alias("n")).collect()}
    rarest = min(present, key=lambda k: (present[k], k))
    assert kept.get(rarest) == present[rarest]
    assert all(kept.get(lang, 0) <= n for lang, n in present.items())
