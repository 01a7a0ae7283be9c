"""Unit tests for dedup operators beyond the oracle parity suite."""

from __future__ import annotations

from pyspark.sql import functions as F

from syslog_handler_with_clickhouse_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different words appear here today"),
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup_clusters(_df(spark), "text", "doc_id").collect()
    clusters = {r.keeper_id: r.cnt for r in out}
    assert clusters[0] == 2  # docs 0 and 3
    assert clusters[1] == 1 and clusters[2] == 1


def test_jaccard_finds_near_dup(spark):
    pairs = dedup.jaccard_pairs(_df(spark), "text", "doc_id", n=3, threshold=0.5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert (0, 3) in got and got[(0, 3)] == 1.0   # exact dup
    assert (0, 1) in got and 0.5 <= got[(0, 1)] < 1.0  # near dup
    assert (1, 3) in got
    assert not any(2 in p for p in got)


def test_jaccard_max_df_drops_stop_shingles(spark):
    # every doc shares shingles from doc 0/1/3's common prefix; max_df=2
    # drops shingles present in >2 docs, so the (0,1)/(0,3)/(1,3) overlap
    # shrinks to the rarer shingles only.
    uncapped = dedup.jaccard_pairs(_df(spark), "text", "doc_id", n=3, threshold=0.1)
    capped = dedup.jaccard_pairs(
        _df(spark), "text", "doc_id", n=3, threshold=0.1, max_df=2
    )
    un = {(r.doc_a, r.doc_b): r.inter for r in uncapped.collect()}
    cap = {(r.doc_a, r.doc_b): r.inter for r in capped.collect()}
    # shared-by-all-three shingles removed → intersections strictly smaller
    assert cap.get((0, 1), 0) < un[(0, 1)]


def test_minhash_estimates_jaccard(spark):
    est = dedup.minhash_jaccard_estimate(
        _df(spark), "text", "doc_id", n=3, threshold=0.4
    )
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in est.collect()}
    assert got.get((0, 3)) == 1.0  # identical docs → identical signatures
    assert (0, 1) in got  # near-dup caught by banding
    assert not any(2 in p for p in got)


def test_simhash_identical_docs_same_signature(spark):
    sig = {r.doc: r.simhash for r in
           dedup.simhash(_df(spark), "text", "doc_id").collect()}
    assert sig[0] == sig[3]
    assert sig[0] != sig[2]


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "other")],
        "doc_id long, text string",
    )
    out = dedup.fingerprint_dedup(df, "text", "doc_id").collect()
    clusters = {r.keeper_id: r.cnt for r in out}
    assert clusters[0] == 2 and clusters[2] == 1


def test_cluster_assignments_transitive_chain(spark):
    # components: {1,2,3,4} via chain 1-2, 2-3, 3-4 (needs >1 propagation
    # round for 4 to learn label 1) and {10,11}; 99 pairs with nothing.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.doc: r.cluster for r in dedup.cluster_assignments(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_hll_sketch_rollup_accuracy(spark):
    # union of per-day sketches must estimate total distinct users within
    # HLL error bounds (lgConfigK=12 default → ~1.6% standard error);
    # q79 now carries the tolerance check in-query as a pinned boolean
    from conftest import SF_DIR
    from syslog_handler_with_clickhouse_spark.queries import QUERIES
    from syslog_handler_with_clickhouse_spark.sources.testdata import load_table

    row = QUERIES["q79_hll_sketch_rollup"](spark, SF_DIR).collect()[0]
    ev = load_table(spark, SF_DIR, "events")
    exact = ev.select("user_id").distinct().count()
    assert row.total_users_exact == exact
    assert row.est_within_5pct is True
    assert row.n_days >= 1


def test_winnowing_substring_guarantee(spark):
    """The winnowing theorem: any shared token run of length >= w+k-1
    (here 6) yields at least one shared fingerprint — even when the
    snippet is buried inside an otherwise unrelated document."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        winnow_fingerprints,
    )

    quoted = "alpha bravo charlie delta echo foxtrot golf hotel"
    host = (
        "completely different prefix words here "
        + quoted
        + " and unrelated suffix tokens follow after"
    )
    df = spark.createDataFrame(
        [(1, quoted), (2, host), (3, "nothing in common at all whatsoever")],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "text", "doc_id", k=3, w=4)
    by_doc = {
        r.doc: set(x.fp for x in rows)
        for r in fp.select("doc").distinct().collect()
        for rows in [fp.filter(F.col("doc") == r.doc).collect()]
    }
    assert by_doc[1] & by_doc[2], "quoted run must share a fingerprint"
    assert not (by_doc[1] & by_doc.get(3, set()))


def test_winnowing_density_and_short_docs(spark):
    """Selected positions ~2/(w+1) of gram count; docs shorter than one
    window still emit >=1 fingerprint; docs below k words emit none."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        winnow_fingerprints,
    )

    long_text = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, long_text), (2, "just four words here"), (3, "two words")],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "text", "doc_id", k=3, w=4)
    counts = {r[0]: r[1] for r in fp.groupBy("doc").count().collect()}
    # 198 distinct grams, window w=4: density ~2/(w+1) — wide slack
    assert 40 <= counts[1] <= 120, counts
    assert counts[2] >= 1  # 2 grams < w -> one window over all grams
    assert 3 not in counts  # 2 words < k -> no grams at all


def test_simhash_pigeonhole_index_no_false_negatives(spark):
    """The 4x15-bit block index must find EVERY pair within Hamming
    distance 3 — compare against a brute-force all-pairs check on a
    small corpus with planted near-identical docs."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import simhash

    base = " ".join(f"tok{i}" for i in range(60))
    rows = [(1, base), (2, base + " extra"), (3, base.replace("tok5", "zzz"))]
    rows += [(10 + i, " ".join(f"w{i}_{j}" for j in range(40))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r.doc: r.simhash for r in simhash(df, "text", "doc_id").collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    truth = {
        (a, b)
        for a in sig
        for b in sig
        if a < b and ham(sig[a], sig[b]) <= 3
    }
    assert truth, "fixture must contain at least one near-dup pair"

    blocks = {}
    for doc, s in sig.items():
        for b in range(4):
            blocks.setdefault((b, (s >> (15 * b)) & 0x7FFF), []).append(doc)
    cands = {
        (a, b)
        for docs in blocks.values()
        for a in docs
        for b in docs
        if a < b
    }
    found = {(a, b) for a, b in cands if ham(sig[a], sig[b]) <= 3}
    assert truth <= found  # pigeonhole completeness: no false negatives


def test_dedup_components_transitive_closure(spark):
    """A chain (1,2),(2,3) plus a disjoint pair (10,11): components must
    transitively close the chain even though (1,3) never surfaced as a
    candidate pair, and the min-id member is the canonical keeper."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 7)], "doc_a long, doc_b long"
    )
    got = {r.node: r.comp for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_dedup_components_long_path_converges(spark):
    """A 12-node path is the worst diameter case for label propagation:
    the min label must walk the whole chain."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    got = {r.node: r.comp for r in dedup_components(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def test_pagerank_hand_computed_star(spark):
    """3-node star a->c, b->c (+ c->a to avoid dangling-only sinks):
    one power iteration from uniform 1/3 has closed-form values —
    pins the damping, out-degree division, and no-inlink base case."""
    from syslog_handler_with_clickhouse_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 2), (1, 2), (2, 0)], "src long, dst long"
    )
    got = {r.node: r.pr for r in pagerank(edges, iters=1).collect()}
    base = 0.15 / 3
    assert abs(got[0] - (base + 0.85 * (1 / 3))) < 1e-12       # from c
    assert abs(got[1] - base) < 1e-12                          # no in-links
    assert abs(got[2] - (base + 0.85 * (1 / 3 + 1 / 3))) < 1e-12
    # ranks stay a probability mass when every node has out-links
    edges2 = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 2)], "src long, dst long"
    )
    total = sum(
        r.pr for r in pagerank(edges2, iters=8).collect()
    )
    assert abs(total - 1.0) < 1e-9


def test_pagerank_convergence_probe(spark):
    """tol-mode: iterate to a fixpoint (cycle graph converges to the
    uniform distribution) and raise on an impossible tolerance cap."""
    import pytest as _pytest

    from syslog_handler_with_clickhouse_spark.operators.graph import pagerank

    # directed 4-cycle: stationary distribution is exactly uniform
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    got = {r.node: r.pr for r in pagerank(edges, tol=1e-10).collect()}
    for v in got.values():
        assert abs(v - 0.25) < 1e-8
    with _pytest.raises(RuntimeError, match="converge"):
        pagerank(edges, tol=0.0, max_iter=2)


# ------------------------------------------------------- round 13 additions


def test_star_edges_same_components_as_pairs(spark):
    """The star-edge emission must be component-invariant: closing the
    star edges gives bit-identical (node, comp) labels to closing the
    all-pairs emission, on a corpus with multi-member clusters."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
        minhash_lsh_star_edges,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy"
    rows = [(i, f"{base} dog variant {i % 2}") for i in range(8)]
    rows += [(100 + i, "totally unrelated text block number %d" % i) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df, "text", "doc_id").localCheckpoint(eager=True)
    pairs = minhash_lsh_pairs(sig=sig)
    stars = minhash_lsh_star_edges(sig=sig)
    n_pairs, n_stars = pairs.count(), stars.count()
    assert n_stars <= n_pairs  # Σ(b-1) ≤ Σ b(b-1)/2 per bucket
    got_p = {r.node: r.comp for r in dedup_components(pairs).collect()}
    got_s = {r.node: r.comp for r in dedup_components(stars).collect()}
    assert got_p == got_s and got_p  # identical labels, non-empty
    # orientation contract: doc_a = bucket min < doc_b
    assert stars.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0


def test_star_edges_linear_in_hot_bucket(spark):
    """A planted boilerplate family (identical text ⇒ one hot bucket per
    band) must emit b-1 star edges, not b(b-1)/2 pairs."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        minhash_lsh_star_edges,
    )

    b = 500
    df = spark.createDataFrame(
        [(i, "exactly the same boilerplate text every single time") for i in range(b)],
        "doc_id long, text string",
    )
    stars = minhash_lsh_star_edges(df, "text", "doc_id")
    # all 16 bands map identical docs to the same bucket → b-1 distinct edges
    assert stars.count() == b - 1
    assert stars.agg(F.min("doc_a")).collect()[0][0] == 0


def test_lsh_pairs_bucket_cap_bounds_and_telemetry(spark):
    """max_bucket bounds a planted hot bucket's pair output and surfaces
    dropped counts (stats + warning) instead of silently truncating."""
    import warnings as _warnings

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    b, cap = 300, 20
    df = spark.createDataFrame(
        [(i, "exactly the same boilerplate text every single time") for i in range(b)],
        "doc_id long, text string",
    )
    stats: list = []
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        pairs = minhash_lsh_pairs(df, "text", "doc_id", max_bucket=cap, stats=stats)
        n = pairs.count()
    assert n == cap * (cap - 1) // 2  # one surviving bucket of `cap` docs
    assert stats and stats[0]["max_bucket"] == cap
    assert stats[0]["rows_dropped"] == (b - cap) * 16  # 16 bands
    assert stats[0]["buckets_capped"] == 16
    assert any("bucket cap" in str(x.message) for x in w)
    # uncapped path is unchanged (default max_bucket=None)
    assert minhash_lsh_pairs(df, "text", "doc_id").count() == b * (b - 1) // 2


def test_lsh_pairs_bucket_cap_noop_under_cap(spark):
    """Buckets at or under the cap are untouched — same pair set, zero
    telemetry, no warning."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sig = minhash_signatures(_df(spark), "text", "doc_id").localCheckpoint(
        eager=True
    )
    stats: list = []
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(sig=sig, max_bucket=100, stats=stats).collect()
    }
    plain = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(sig=sig).collect()
    }
    assert capped == plain
    assert stats == [{"max_bucket": 100, "rows_dropped": 0, "buckets_capped": 0}]


def test_minhash_shingle_guard_huge_doc(spark):
    """Property (round-12 what's-wrong #3): a planted 10⁶-token document
    completes with a bounded base array, and every doc at or under the
    cap keeps a bit-identical signature."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        MINHASH_MAX_SHINGLES,
        minhash_signatures,
    )

    monster = " ".join(f"t{i}" for i in range(1_000_000))
    rows = [(1, monster)] + DOCS
    df = spark.createDataFrame(
        [(1_000_000, monster)] + DOCS, "doc_id long, text string"
    )
    sigs = {r.doc: r.sig for r in minhash_signatures(df, "text", "doc_id").collect()}
    assert len(sigs[1_000_000]) == 64
    plain = {
        r.doc: r.sig
        for r in minhash_signatures(_df(spark), "text", "doc_id").collect()
    }
    for d, s in plain.items():
        assert sigs[d] == s, f"under-cap doc {d} signature changed"
    assert MINHASH_MAX_SHINGLES < 1_000_000 - 2  # the monster was actually capped


def test_dedup_components_self_pairs_are_singletons(spark):
    """Driver-advice r12: nodes appearing ONLY as self-pairs label as
    singleton components; self-pairs on connected nodes are ignored."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 2), (9, 9)], "doc_a long, doc_b long"
    )
    got = {r.node: r.comp for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 5: 5, 9: 9}


def test_dedup_components_empty_and_selfonly_inputs(spark):
    """Empty input returns an empty (node, comp) frame without leaking a
    persisted RDD; all-self-pair input returns pure singletons."""
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
    )

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup_components(empty)
    assert out.columns == ["node", "comp"] and out.count() == 0
    only_selfs = spark.createDataFrame([(3, 3), (8, 8)], "doc_a long, doc_b long")
    got = {r.node: r.comp for r in dedup_components(only_selfs).collect()}
    assert got == {3: 3, 8: 8}
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    # only the two checkpoints BACKING the returned frames may remain
    # (empty-path out + self-only selfs); the raw edge checkpoints are
    # freed with blocking=True on this path
    assert after <= before + 2


def test_star_edges_hot_bucket_telemetry(spark):
    """Round-14 telemetry: a planted 10⁵-member bucket (identical text
    ⇒ every doc shares every band bucket) must surface in the opt-in
    stats record and trip the hot-bucket warning; a cold corpus must
    append a record without warning."""
    import warnings

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        N_BANDS,
        minhash_lsh_star_edges,
    )

    # planted hot bucket: one constant signature for 100k docs — bands
    # built straight from the sig frame, no text shingling needed
    sig = spark.range(100_000).select(
        F.col("id").alias("doc"),
        F.array(*[F.lit(7)] * 64).alias("sig"),
    )
    stats: list = []
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        edges = minhash_lsh_star_edges(sig=sig, stats=stats)
        n = edges.count()
    assert n == 100_000 - 1  # one star, linear
    assert len(stats) == 1
    rec = stats[0]
    assert rec["max_bucket_size"] == 100_000
    assert rec["top_bucket_edges"] == 100_000 - 1
    assert rec["n_buckets"] == N_BANDS  # same (band, bh) per band
    assert rec["rows"] == 100_000 * N_BANDS
    hot = [w for w in caught if "hottest LSH bucket" in str(w.message)]
    assert len(hot) == 1 and "100000 members" in str(hot[0].message)

    # cold corpus: telemetry records, no warning
    sig2 = spark.range(20).select(
        F.col("id").alias("doc"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.col("id") * 100 + i,
        ).alias("sig"),
    )
    stats2: list = []
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        minhash_lsh_star_edges(sig=sig2, stats=stats2).count()
    assert stats2 and stats2[0]["max_bucket_size"] == 1
    assert not [w for w in caught2 if "hottest" in str(w.message)]


def test_incremental_dedup_matches_full(spark):
    """Round-14 incremental funnel maintenance: fold three batches into
    the (buckets, labels) state and require label-for-label equality
    with a full star-edge + dedup_components recompute over the union —
    including the BRIDGE case: two exact-dup families inserted in
    different batches form two components, and a third-batch doc whose
    text is the concat of both family texts (searched offline so its
    LSH bands overlap BOTH families under the repo's minhash constants)
    must MERGE the two existing components via the relabel map."""
    import random

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
        incremental_dedup_init,
        incremental_dedup_insert,
        minhash_lsh_star_edges,
    )

    words = [f"w{i}" for i in range(1000)]

    def mk(seed, n=30):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    ta, tb = mk(1003), mk(2003)  # seed 3 of the offline band-overlap search
    rows = [
        (10, ta), (11, ta),                 # family A — batch 1
        (20, tb), (21, tb),                 # family B — batch 2
        (30, ta + " " + tb),                # bridge   — batch 3
        (40, "zz yy xx ww vv uu tt ss"),    # unrelated singleton — batch 1
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    # full recompute (singletons filled in)
    full = dedup_components(
        minhash_lsh_star_edges(corpus, "text", "doc_id")
    )
    fl = {
        r.node: r.comp
        for r in corpus.select(F.col("doc_id").alias("node"))
        .join(full, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
        .collect()
    }
    assert fl[30] == 10 and fl[20] == 10  # the bridge really bridges
    assert fl[40] == 40

    stats: list = []
    st = incremental_dedup_init(spark)
    for pred in (
        F.col("doc_id").isin(10, 11, 40),
        F.col("doc_id").isin(20, 21),
        F.col("doc_id") == 30,
    ):
        st = incremental_dedup_insert(
            st, corpus.filter(pred), stats=stats
        )
    il = {r.node: r.comp for r in st["labels"].collect()}
    assert il == fl
    # batches 1-2 formed separate components (no cross-batch merge);
    # batch 3 merged EXISTING components — visible as relabels
    assert stats[0]["relabeled_comps"] == 0
    assert stats[1]["relabeled_comps"] == 0
    assert stats[2]["relabeled_comps"] >= 1


def test_incremental_dedup_edgeless_batches(spark):
    """Batches with no candidates at all (every doc a singleton, empty
    mini graph) must still label every doc as its own component."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        incremental_dedup_init,
        incremental_dedup_insert,
    )

    texts = [
        (1, "aa bb cc dd ee ff gg hh"),
        (2, "one two three four five six seven"),
        (3, "red green blue cyan magenta yellow black"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    st = incremental_dedup_init(spark)
    for i in (1, 2, 3):
        st = incremental_dedup_insert(st, df.filter(F.col("doc_id") == i))
    got = {r.node: r.comp for r in st["labels"].collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_incremental_dedup_over_snapshot_changefeed(spark, tmp_path):
    """The deployment wiring (round-13 verdict directive 1): document
    batches arrive as SNAPSHOT COMMITS, and the maintenance state folds
    each version's changefeed (snapshot_diff inserts) — labels after
    the last commit equal a full recompute over read_snapshot()."""
    import random

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
        incremental_dedup_init,
        incremental_dedup_insert,
        minhash_lsh_star_edges,
    )
    from syslog_handler_with_clickhouse_spark.sources.snapshots import (
        read_snapshot,
        snapshot_diff,
        write_snapshot,
    )

    words = [f"w{i}" for i in range(1000)]

    def mk(seed, n=30):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    ta, tb = mk(1003), mk(2003)
    path = str(tmp_path / "docsnap")
    batches = [
        [(10, ta), (11, ta), (40, "zz yy xx ww vv uu tt ss")],
        [(20, tb), (21, tb)],
        [(30, ta + " " + tb)],
    ]
    st = incremental_dedup_init(spark)
    prev_v = None
    for rows in batches:
        v = write_snapshot(
            spark.createDataFrame(rows, "doc_id long, text string"), path
        )
        if prev_v is None:
            batch = read_snapshot(spark, path, version=v)
        else:
            batch = (
                snapshot_diff(spark, path, prev_v, v)
                .filter(F.col("_change_type") == "insert")
                .drop("_change_type")
            )
        st = incremental_dedup_insert(st, batch)
        prev_v = v
    il = {r.node: r.comp for r in st["labels"].collect()}

    corpus = read_snapshot(spark, path)
    full = dedup_components(
        minhash_lsh_star_edges(corpus, "text", "doc_id")
    )
    fl = {
        r.node: r.comp
        for r in corpus.select(F.col("doc_id").alias("node"))
        .join(full, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
        .collect()
    }
    assert il == fl and fl[30] == 10  # bridge merged through the feed


def test_incremental_dedup_store_multihop_chain(spark, tmp_path):
    """Bucketed-table maintenance state (round 14): append-only base
    labels + relabel deltas.  Five batches build a 2-hop relabel chain
    (B merges into A, then A∪B merges into the lower-id family C), so
    reading node 21's label must resolve base 20 → 10 → 5 through the
    pointer-doubling closure; compact folds the chain away and the
    resolved labels must not change.  Labels are checked against a
    full star-edge recompute of the union."""
    import random

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
        incremental_dedup_store_compact,
        incremental_dedup_store_init,
        incremental_dedup_store_insert,
        incremental_dedup_store_labels,
        minhash_lsh_star_edges,
    )

    words = [f"w{i}" for i in range(1000)]

    def mk(seed, n=30):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    ta, tb, tc = mk(1003), mk(2003), mk(3000)  # offline-searched bridges
    rows = [
        (10, ta), (11, ta),
        (20, tb), (21, tb),
        (30, ta + " " + tb),   # bridges A-B  -> relabel 20 -> 10
        (5, tc), (6, tc),
        (50, tc + " " + ta),   # bridges C-AB -> relabel 10 -> 5
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    prefix = "t14chain"
    incremental_dedup_store_init(
        spark, prefix, num_buckets=4, location=str(tmp_path)
    )
    try:
        stats: list = []
        for pred in (
            F.col("doc_id").isin(10, 11),
            F.col("doc_id").isin(20, 21),
            F.col("doc_id") == 30,
            F.col("doc_id").isin(5, 6),
            F.col("doc_id") == 50,
        ):
            incremental_dedup_store_insert(
                spark, prefix, corpus.filter(pred), stats=stats
            )
        assert [s["relabeled_comps"] for s in stats] == [0, 0, 1, 0, 1]

        full = dedup_components(
            minhash_lsh_star_edges(corpus, "text", "doc_id")
        )
        fl = {
            r.node: r.comp
            for r in corpus.select(F.col("doc_id").alias("node"))
            .join(full, "node", "left")
            .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
            .collect()
        }
        got = {
            r.node: r.comp
            for r in incremental_dedup_store_labels(spark, prefix).collect()
        }
        assert got == fl and got[21] == 5  # the 2-hop resolution

        # the chain is really 2 hops in the delta table before compact
        rel = {
            r.old_comp: r.new_comp
            for r in spark.table(f"{prefix}_relabel").collect()
        }
        assert rel == {20: 10, 10: 5}

        incremental_dedup_store_compact(spark, prefix)
        assert spark.table(f"{prefix}_relabel").count() == 0
        got2 = {
            r.node: r.comp
            for r in incremental_dedup_store_labels(spark, prefix).collect()
        }
        assert got2 == fl
    finally:
        for t in (f"{prefix}_buckets", f"{prefix}_labels",
                  f"{prefix}_relabel"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_incremental_dedup_store_joins_shuffle_free(spark, tmp_path):
    """The point of the bucketed state: with broadcast disabled, the
    insert-path joins must read the stored tables' bucketed scans with
    NO exchange on the stored side (only the O(batch) side shuffles)."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        incremental_dedup_store_init,
        incremental_dedup_store_insert,
    )

    prefix = "t14plan"
    incremental_dedup_store_init(
        spark, prefix, num_buckets=4, location=str(tmp_path)
    )
    try:
        incremental_dedup_store_insert(
            spark,
            prefix,
            spark.createDataFrame(
                [(1, "aa bb cc dd ee ff"), (2, "aa bb cc dd ee ff")],
                "doc_id long, text string",
            ),
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            nb = spark.createDataFrame(
                [(9, 0, 123)], "doc long, band int, bh bigint"
            )
            j = nb.join(spark.table(f"{prefix}_buckets"), ["band", "bh"])
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # exactly one exchange — the batch side; the bucketed FileScan
        # feeds the join through sort only
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    finally:
        for t in (f"{prefix}_buckets", f"{prefix}_labels",
                  f"{prefix}_relabel"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_incremental_survivors_merge_updates_best(spark):
    """Round-14 survivor maintenance: when a bridge merges two existing
    components, the merged argmax must take the better doc across BOTH
    — including the case where the later-inserted family carries the
    higher score; untouched components pass through unchanged."""
    import random

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        incremental_dedup_init,
        incremental_dedup_insert,
    )

    words = [f"w{i}" for i in range(1000)]

    def mk(seed, n=30):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    ta, tb = mk(1003), mk(2003)
    # scores: family B's doc 21 is the global best of the merged cluster
    rows = [
        (10, ta, 100), (11, ta, 90),
        (20, tb, 120), (21, tb, 500),
        (30, ta + " " + tb, 10),          # bridge, low quality
        (40, "zz yy xx ww vv uu tt ss", 7),  # untouched singleton
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, score long"
    )
    st = incremental_dedup_init(spark, with_scores=True)
    for pred in (
        F.col("doc_id").isin(10, 11, 40),
        F.col("doc_id").isin(20, 21),
        F.col("doc_id") == 30,
    ):
        st = incremental_dedup_insert(
            st, corpus.filter(pred), score_col="score"
        )
    best = {r.comp: (r.best_score, r.best_doc)
            for r in st["best"].collect()}
    # after batch 3 the A/B comps merged under label 10 with best = 21
    assert best[10] == (500, 21)
    assert best[40] == (7, 40)
    assert 20 not in best  # the merged-away label's row is gone
    # exactly one best row per live component
    comps = {r.comp for r in st["labels"].collect()}
    assert set(best) == comps


def test_incremental_dedup_score_state_mismatch_raises(spark):
    """Round-15 ADVICE fix: score_col against an unscored state used to
    die with an opaque KeyError; omitting score_col on a scored state
    silently dropped the scores/best keys, corrupting the state for the
    next insert.  Both directions now raise descriptive ValueErrors."""
    import pytest

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        incremental_dedup_init,
        incremental_dedup_insert,
    )

    batch = spark.createDataFrame(
        [(1, "aa bb cc dd ee", 7)], "doc_id long, text string, q long"
    )
    with pytest.raises(ValueError, match="with_scores=True"):
        incremental_dedup_insert(
            incremental_dedup_init(spark), batch, score_col="q"
        )
    with pytest.raises(ValueError, match="score_col"):
        incremental_dedup_insert(
            incremental_dedup_init(spark, with_scores=True), batch
        )


def test_incremental_dedup_store_auto_compact_fires(spark, tmp_path):
    """Round-15 relabel-chain policy: three cascading merges drive the
    delta chain to depth 3; with auto_compact_depth=2 the third insert
    must fire the compact (delta table left empty), stats must record
    the measured depth per insert, and the resolved labels must equal
    a full star-edge recompute — compaction is pure I/O scheduling."""
    import random

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        dedup_components,
        incremental_dedup_store_init,
        incremental_dedup_store_insert,
        incremental_dedup_store_labels,
        minhash_lsh_star_edges,
    )

    words = [f"w{i}" for i in range(1000)]

    def mk(seed, n=30):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    ta, tb, tc, td = mk(1003), mk(2003), mk(3000), mk(4001)
    rows = [
        (10, ta), (11, ta),
        (20, tb), (21, tb),
        (30, ta + " " + tb),   # merge 1: relabel 20 -> 10 (depth 1)
        (5, tc), (6, tc),
        (50, tc + " " + ta),   # merge 2: relabel 10 -> 5 (depth 2)
        (3, td), (4, td),
        (60, td + " " + tc),   # merge 3: relabel 5 -> 3 (depth 3) -> compact
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    prefix = "t15auto"
    incremental_dedup_store_init(
        spark, prefix, num_buckets=4, location=str(tmp_path)
    )
    try:
        stats: list = []
        for pred in (
            F.col("doc_id").isin(10, 11),
            F.col("doc_id").isin(20, 21),
            F.col("doc_id") == 30,
            F.col("doc_id").isin(5, 6),
            F.col("doc_id") == 50,
            F.col("doc_id").isin(3, 4),
            F.col("doc_id") == 60,
        ):
            incremental_dedup_store_insert(
                spark, prefix, corpus.filter(pred), stats=stats,
                auto_compact_depth=2,
            )
        assert [s["relabel_depth"] for s in stats] == [0, 0, 1, 1, 2, 2, 3]
        # depth 3 > 2 -> the last insert compacted the chain away
        assert spark.table(f"{prefix}_relabel").count() == 0

        full = dedup_components(
            minhash_lsh_star_edges(corpus, "text", "doc_id")
        )
        fl = {
            r.node: r.comp
            for r in corpus.select(F.col("doc_id").alias("node"))
            .join(full, "node", "left")
            .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
            .collect()
        }
        got = {
            r.node: r.comp
            for r in incremental_dedup_store_labels(spark, prefix).collect()
        }
        assert got == fl and got[21] == 3  # the compacted 3-hop resolution
    finally:
        for t in (f"{prefix}_buckets", f"{prefix}_labels",
                  f"{prefix}_relabel"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_incremental_dedup_store_compact_elides_stored_sort(spark, tmp_path):
    """Round 15: the state tables are written bucketBy+sortBy, so after
    a compact (one file per bucket) a session with
    spark.sql.legacy.bucketedTableScan.outputOrdering=true reads the
    labels scan ALREADY SORTED — the SMJ keeps only the O(batch) side's
    sort.  (With multiple append files per bucket Spark correctly
    re-sorts; compaction is what buys the sort-free scan — the LSM
    trade, documented in PERF.md.)"""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        DEDUP_STORE,
        incremental_dedup_store_compact,
        incremental_dedup_store_init,
        incremental_dedup_store_insert,
    )
    from syslog_handler_with_clickhouse_spark.operators.store import resolve

    prefix = "t15sort"
    incremental_dedup_store_init(
        spark, prefix, num_buckets=4, location=str(tmp_path)
    )
    try:
        incremental_dedup_store_insert(
            spark,
            prefix,
            spark.createDataFrame(
                [(i, f"w{i} x{i} y{i} z{i} q{i} r{i}") for i in range(40)],
                "doc_id long, text string",
            ),
        )
        incremental_dedup_store_compact(spark, prefix)
        # the compact swapped the labels generation — plan the current one
        labels = resolve(spark, DEDUP_STORE, prefix)[1]
        old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
        old_ord = spark.conf.get(key, "false")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(key, "true")
            batch = spark.createDataFrame([(1,), (7,)], "node long")
            plan = (
                batch.join(spark.table(labels), "node")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            spark.conf.set(key, old_ord)
        # exactly ONE sort (the batch side) and one exchange — the
        # compacted, sorted bucketed scan feeds the SMJ directly
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Sort ") == 1, plan
    finally:
        for t in (f"{prefix}_buckets", f"{prefix}_labels",
                  f"{prefix}_relabel"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_incremental_dedup_store_file_depth_auto_compact(spark, tmp_path):
    """Round 16: the bm25/ivfpq-store file-depth policy applied to the
    dedup store — appends accumulate one file per bucket of the
    buckets/labels tables, auto_compact_files=1 fires the FULL compact
    (buckets rewritten to one sorted file each, the one table the
    label compact never touched), stats record the measured depth, and
    resolved labels are unchanged by the rewrite."""
    import random

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        DEDUP_STORE,
        dedup_components,
        incremental_dedup_store_init,
        incremental_dedup_store_insert,
        incremental_dedup_store_labels,
        minhash_lsh_star_edges,
    )
    from syslog_handler_with_clickhouse_spark.operators.store import (
        _bucket_file_depth,
        resolve,
    )

    words = [f"w{i}" for i in range(1000)]

    def mk(seed, n=30):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    ta, tb = mk(1003), mk(2003)
    rows = [(10, ta), (11, ta), (20, tb), (21, tb), (30, ta + " " + tb)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    prefix = "t16filedepth"
    incremental_dedup_store_init(
        spark, prefix, num_buckets=4, location=str(tmp_path)
    )
    try:
        stats: list = []
        for pred in (
            F.col("doc_id").isin(10, 11),
            F.col("doc_id").isin(20, 21),
            F.col("doc_id") == 30,
        ):
            incremental_dedup_store_insert(
                spark, prefix, corpus.filter(pred), stats=stats,
                auto_compact_files=1,
            )
        # append 1: depth 1, no compact; appends 2/3: depth 2 -> compact
        assert [s["file_depth"] for s in stats] == [1, 2, 2]
        # the full compact swapped generations — measure the current ones
        tb, tl, _ = resolve(spark, DEDUP_STORE, prefix)
        assert _bucket_file_depth(spark, tb) == 1
        assert _bucket_file_depth(spark, tl) == 1

        full = dedup_components(
            minhash_lsh_star_edges(corpus, "text", "doc_id")
        )
        fl = {
            r.node: r.comp
            for r in corpus.select(F.col("doc_id").alias("node"))
            .join(full, "node", "left")
            .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
            .collect()
        }
        got = {
            r.node: r.comp
            for r in incremental_dedup_store_labels(spark, prefix).collect()
        }
        assert got == fl and got
    finally:
        for t in (f"{prefix}_buckets", f"{prefix}_labels",
                  f"{prefix}_relabel"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_file_depth_guards_are_loud():
    """Round 17 (r16 verdict, What's wrong #3): a Spark upgrade that
    changes the writer's file-name pattern must NOT silently return
    depth 0 and disarm every auto-compact trigger — a non-empty
    listing that matches nothing raises.  Spark-free: the helpers only
    touch spark.table(t).inputFiles()."""
    import pytest

    from syslog_handler_with_clickhouse_spark.operators.store import (
        _bucket_file_depth,
        _partition_file_depth,
    )

    class _FakeDF:
        def __init__(self, files):
            self._files = files

        def inputFiles(self):
            return self._files

    class _FakeSpark:
        def __init__(self, files):
            self._files = files

        def table(self, name):
            return _FakeDF(self._files)

    good = [
        "file:/w/t/part-00000-abc_00003.c000.snappy.parquet",
        "file:/w/t/part-00001-abc_00003.c000.snappy.parquet",
        "file:/w/t/part-00002-abc_00007.c000.snappy.parquet",
    ]
    assert _bucket_file_depth(_FakeSpark(good), "t") == 2
    assert _bucket_file_depth(_FakeSpark([]), "t") == 0
    doctored = ["file:/w/t/data-00000.snappy.parquet"]
    with pytest.raises(AssertionError, match="naming convention"):
        _bucket_file_depth(_FakeSpark(doctored), "t")

    part = [
        "file:/w/t/cluster=0/f1.parquet",
        "file:/w/t/cluster=0/f2.parquet",
        "file:/w/t/cluster=1/f3.parquet",
    ]
    assert _partition_file_depth(_FakeSpark(part), "t") == 2
    assert _partition_file_depth(_FakeSpark([]), "t") == 0
    flat = ["file:/w/t/f1.parquet", "file:/w/t/f2.parquet"]
    with pytest.raises(AssertionError, match="partition directory"):
        _partition_file_depth(_FakeSpark(flat), "t")
