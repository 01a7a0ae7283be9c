"""Unit tests for exact-integer BM25 (`operators/retrieval.py`) and
exact-substring duplication coverage (`operators/dedup.
duplicated_ngram_coverage`) on hand-computed fixtures."""

from __future__ import annotations

import re

import pytest

from syslog_handler_with_clickhouse_spark.functions.text import TOKEN_RE
from syslog_handler_with_clickhouse_spark.operators.dedup import (
    duplicated_ngram_coverage,
)
from syslog_handler_with_clickhouse_spark.operators.retrieval import bm25_topk


def _py_bm25(docs: dict[int, str], queries: dict[int, str], k=5,
             max_df_num=1, max_df_den=4):
    """Independent pure-Python mirror of the integer BM25 contract."""
    tok = {d: re.findall(TOKEN_RE, t.lower()) for d, t in docs.items()}
    n_docs = len(tok)
    corpus_tokens = sum(len(v) for v in tok.values())
    am = corpus_tokens * 1000 // n_docs
    tf = {d: {} for d in tok}
    for d, ts in tok.items():
        for t in ts:
            tf[d][t] = tf[d].get(t, 0) + 1
    df = {}
    for d in tf:
        for t in tf[d]:
            df[t] = df.get(t, 0) + 1
    out = {}
    for qid, qt in queries.items():
        terms = set(re.findall(TOKEN_RE, qt.lower()))
        scores = {}
        for t in terms:
            if t not in df or df[t] * max_df_den > n_docs * max_df_num:
                continue
            idf = n_docs // df[t]
            for d, tfs in tf.items():
                if d == qid or t not in tfs:
                    continue
                f, dl = tfs[t], len(tok[d])
                ppm = (22 * f * am * 1_000_000) // (
                    10 * f * am + 3 * am + 9000 * dl
                )
                scores[d] = scores.get(d, 0) + idf * ppm
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [(r + 1, d, s) for r, (d, s) in enumerate(ranked)]
    return out


def test_bm25_matches_python_reference(spark):
    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "quick brown foxes are quick and brown",
        3: "the lazy dog sleeps all day long every day",
        4: "a fox and a dog met a lazy fox",
        5: "nothing in common here whatsoever tonight",
        6: "quick thinking saves the day for the fox",
        7: "dogs and foxes and wolves roam the woods",
        8: "day after day the quick fox ran far away",
    }
    queries = {2: docs[2], 4: docs[4], 8: docs[8]}
    ddf = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id bigint, text string"
    )
    qdf = spark.createDataFrame(
        [(d, t) for d, t in queries.items()], "query_id bigint, text string"
    )
    rows = bm25_topk(ddf, qdf, k=5, max_df_num=1, max_df_den=2).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    want = _py_bm25(docs, queries, k=5, max_df_num=1, max_df_den=2)
    want = {q: v for q, v in want.items() if v}
    assert got == want


def test_bm25_rarer_term_scores_higher(spark):
    # same tf/dl everywhere; the query term appearing in fewer docs must
    # out-rank the common one through the integer idf.
    docs = {
        1: "alpha beta", 2: "alpha gamma", 3: "alpha delta",
        4: "zeta beta", 5: "eta theta", 6: "iota kappa",
        7: "lam mu", 8: "nu xi",
    }
    ddf = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id bigint, text string"
    )
    qdf = spark.createDataFrame(
        [(100, "alpha zeta")], "query_id bigint, text string"
    )
    rows = bm25_topk(ddf, qdf, k=8, max_df_num=1, max_df_den=1).collect()
    by_doc = {r.doc_id: r.score for r in rows}
    # 'zeta' df=1 (idf 8) vs 'alpha' df=3 (idf 2): doc 4 carries zeta.
    assert by_doc[4] > by_doc[2] == by_doc[3]
    # doc 1 has alpha AND nothing else from the query: same alpha-only
    # score as docs 2/3.
    assert by_doc[1] == by_doc[2]


def test_dup_coverage_sweep_line_overlap(spark):
    # doc 1 and doc 2 share two OVERLAPPING 3-gram windows
    # ("a b c", "b c d" at positions 1 and 2 of both) -> union covers
    # positions 1..4 = 4 tokens, not 6.
    docs = [
        (1, "a b c d x y z q w"),
        (2, "a b c d p q r s t"),
        (3, "unrelated words only here nothing shared at all ok"),
    ]
    ddf = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in duplicated_ngram_coverage(ddf, w=3, min_count=2).collect()
    }
    assert out[1].dup_starts == 2 and out[1].dup_cov == 4
    assert out[2].dup_starts == 2 and out[2].dup_cov == 4
    assert out[1].dup_ppm == 4 * 1_000_000 // 9
    assert out[3].dup_starts == 0 and out[3].dup_cov == 0 and out[3].dup_ppm == 0


def test_dup_coverage_intra_doc_repeat_counts(spark):
    # Lee et al. count intra-document repeats: one doc repeating its own
    # 3-gram twice is duplicated even if no other doc shares it.
    ddf = spark.createDataFrame(
        [(7, "p q r z z p q r k"), (8, "totally different words here now")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in duplicated_ngram_coverage(ddf, w=3, min_count=2).collect()
    }
    # "p q r" occurs at positions 1 and 6: two disjoint windows of 3.
    assert out[7].dup_starts == 2 and out[7].dup_cov == 6
    assert out[8].dup_cov == 0


def test_dup_coverage_short_docs_excluded(spark):
    ddf = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e f g h")], "doc_id bigint, text string"
    )
    rows = duplicated_ngram_coverage(ddf, w=8, min_count=2).collect()
    assert [r.doc_id for r in rows] == [2]


def test_triangle_counts_k4_plus_tail(spark):
    from syslog_handler_with_clickhouse_spark.operators.graph import (
        triangle_counts,
    )

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant edge 4-5
    # (no triangle) + duplicate/reversed/self edges that must be ignored.
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (2, 1), (3, 1),          # reversed duplicates
        (4, 5), (5, 5),          # pendant + self-loop
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {r.node: r.tri_cnt for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_hub_no_triangle(spark):
    from syslog_handler_with_clickhouse_spark.operators.graph import (
        triangle_counts,
    )

    # star graph: hub 0 with 20 leaves — zero triangles, and under the
    # degree orientation every edge points leaf->hub, so the hub's
    # oriented out-degree is 0 (the wedge join never fans out on it).
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 21)], "src bigint, dst bigint"
    )
    assert triangle_counts(df).count() == 0


def test_bpe_train_classic_corpus(spark):
    from syslog_handler_with_clickhouse_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id bigint, text string",
    )
    rows = [tuple(r) for r in bpe_train(docs, 6).collect()]
    assert rows == [
        (1, "l", "o", 5),
        (2, "lo", "w", 5),
        (3, "e", "w", 4),
        (4, "n", "ew", 4),
        (5, "e", "r", 2),   # tie with (e,s)/(s,t) broken by (l, r) order
        (6, "e", "s", 2),
    ]


def test_bpe_greedy_nonoverlapping_merge(spark):
    from syslog_handler_with_clickhouse_spark.operators.bpe import bpe_train

    # 'aaaa' must merge into [aa, aa] (twice), 'aaa' into [aa, a] (once):
    # round 1 (a,a) weight 3+2=5; round 2 sees (aa,aa) and (aa,a) once
    # each — tie broken to (aa, a) by rhs order.
    docs = spark.createDataFrame(
        [(1, "aaaa aaa")], "doc_id bigint, text string"
    )
    rows = [tuple(r) for r in bpe_train(docs, 2).collect()]
    assert rows == [(1, "a", "a", 5), (2, "aa", "a", 1)]


def test_bpe_exhausts_pairs_early(spark):
    from syslog_handler_with_clickhouse_spark.operators.bpe import bpe_train

    # single two-letter word: one merge possible, then no pairs remain.
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id bigint, text string")
    rows = [tuple(r) for r in bpe_train(docs, 5).collect()]
    assert rows == [(1, "a", "b", 2)]


def test_pca_power_iteration_matches_numpy_mirror(spark):
    """Independent pure-numpy replay of the exact integer recurrence,
    plus a semantic check that the found direction is the dominant one."""
    import numpy as np

    from syslog_handler_with_clickhouse_spark.operators.pca import (
        power_iteration_top_component,
    )

    rng = np.random.RandomState(7)
    dim, n = 8, 40
    # dominant direction along axis 2: big variance there, noise elsewhere
    base = rng.normal(0, 0.05, (n, dim))
    base[:, 2] += rng.normal(0, 2.0, n)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r.dim: (r.v, r.mv)
        for r in power_iteration_top_component(emb, dim=dim, iters=4).collect()
    }

    # integer mirror (float32 widen, round-half-away, trunc division)
    q = np.round(base.astype(np.float32).astype(np.float64) * 1000).astype(
        np.int64
    )
    g = q.T @ q
    v = np.full(dim, 1000, dtype=np.int64)
    for _ in range(4):
        u = g @ v
        m1000 = np.max(np.abs(u)) // 1000 + 1
        v = np.sign(u) * (np.abs(u) // m1000)
    mv = g @ v
    for i in range(dim):
        assert got[i] == (v[i], mv[i]), f"dim {i}: {got[i]} != {(v[i], mv[i])}"
    # the dominant axis carries the peak magnitude
    assert max(range(dim), key=lambda i: abs(got[i][0])) == 2


def test_holt_linear_hand_computed(spark):
    from syslog_handler_with_clickhouse_spark.operators.forecast import (
        holt_linear,
    )

    # series 10, 12, 11, 15 (milli: 10000, 12000, 11000, 15000)
    # L1=10000 B1=2000
    # t2: pred=12000 err=0;  L=(12000+3*12000)/4=12000 B=(2000+2000)/2=2000
    # t3: pred=14000 err=3000; L=(11000+42000)/4=13250 B=(1250+2000)/2=1625
    # t4: pred=14875 err=125; L=(15000+44625)/4=14906 B=(1656+1625)/2=1640
    rows = [("a", i, y) for i, y in enumerate([10, 12, 11, 15])]
    df = spark.createDataFrame(rows, "g string, t int, y bigint")
    out = holt_linear(df, "g", "t", "y").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_points, r.level_milli, r.trend_milli) == (4, 14906, 1640)
    assert r.forecast_milli == 14906 + 1640
    assert r.sae_milli == 0 + 3000 + 125


def test_holt_linear_negative_trend_division(spark):
    from syslog_handler_with_clickhouse_spark.operators.forecast import (
        holt_linear,
    )

    # strictly decreasing series exercises the sign-split division on a
    # negative trend: floor-vs-trunc would differ here.
    rows = [("d", i, y) for i, y in enumerate([100, 90, 79, 67, 54])]
    df = spark.createDataFrame(rows, "g string, t int, y bigint")
    r = holt_linear(df, "g", "t", "y").collect()[0]
    assert r.trend_milli < 0
    # python mirror
    tdiv = lambda x, d: -((-x) // d) if x < 0 else x // d
    ys = [y * 1000 for y in [100, 90, 79, 67, 54]]
    lev, tr, sae = ys[0], ys[1] - ys[0], 0
    for y in ys[1:]:
        sae += abs(y - (lev + tr))
        p = lev
        lev = tdiv(y + 3 * (lev + tr), 4)
        tr = tdiv((lev - p) + tr, 2)
    assert (r.level_milli, r.trend_milli, r.sae_milli) == (lev, tr, sae)


def test_holt_linear_single_point_dropped(spark):
    from syslog_handler_with_clickhouse_spark.operators.forecast import (
        holt_linear,
    )

    df = spark.createDataFrame(
        [("one", 1, 5), ("two", 1, 3), ("two", 2, 4)],
        "g string, t int, y bigint",
    )
    rows = holt_linear(df, "g", "t", "y").collect()
    assert [r.g for r in rows] == ["two"]


def test_bpe_encoded_words_is_training_final_state(spark):
    from syslog_handler_with_clickhouse_spark.operators.bpe import (
        bpe_encoded_words,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id bigint, text string",
    )
    # after the 6 merges of test_bpe_train_classic_corpus the vocab is:
    # low->[low], lower->[low, er], lowest->[low, es, t],
    # new->[new], newer->[new, er], newest->[new, es, t]
    got = {
        r.word: (r.freq, list(r.sym))
        for r in bpe_encoded_words(docs, 6).collect()
    }
    assert got == {
        "low": (3, ["low"]),
        "lower": (1, ["low", "er"]),
        "lowest": (1, ["low", "es", "t"]),
        "new": (2, ["new"]),
        "newer": (1, ["new", "er"]),
        "newest": (1, ["new", "es", "t"]),
    }


def test_clustering_coefficient_k4_and_star(spark):
    from syslog_handler_with_clickhouse_spark.operators.graph import (
        clustering_coefficients,
    )

    # K4: every node deg 3, tri 3 -> cc = 6/6 = 1.0 -> 1_000_000 ppm.
    # pendant node 5 on 4: deg 1 -> cc 0; node 4 gains deg 4, tri 3
    # -> cc = 6/12 = 500_000 ppm.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {r.node: (r.deg, r.tri_cnt, r.cc_ppm)
           for r in clustering_coefficients(df).collect()}
    assert out[1] == (3, 3, 1_000_000)
    assert out[4] == (4, 3, 500_000)
    assert out[5] == (1, 0, 0)


def test_cdc_chunking_shift_robustness(spark):
    """The CDC property itself: inserting a prefix shifts every byte,
    yet chunks after the first cut re-align — a fixed-size blocker
    would share nothing."""
    from syslog_handler_with_clickhouse_spark.queries.retrieval import q407
    import re as _re

    # mirror the query's hash inline to derive chunks for two texts
    def chunks_of(text, w=8, mod=1000003, base=257, mask=64):
        n = len(text)
        cuts = []
        for i in range(w, n + 1):
            h = 0
            for j in range(i - w, i):
                h = (h * base + ord(text[j])) % mod
            if h % mask == 0 and i < n:
                cuts.append(i)
        starts = [0] + cuts
        ends = cuts + [n]
        return [text[s:e] for s, e in zip(starts, ends)]

    # aperiodic content (md5-derived chars) so the 1/64 cut condition
    # fires ~23 times over 1500 positions
    import hashlib

    body = "".join(
        chr(97 + hashlib.md5(str(i).encode()).digest()[0] % 26)
        for i in range(1500)
    )
    a = chunks_of(body)
    b = chunks_of("PREFIX-INSERTED-BYTES " + body)
    assert len(a) > 3, "fixture must actually cut"
    # every interior chunk of the original reappears verbatim in the
    # shifted text: cut positions depend only on the local 8-char
    # window, so they all translate by the prefix length
    assert set(a[1:-1]) <= set(b), (a, b)
    assert len(set(a[1:-1])) >= 2


def test_sign_split_division_idiom_cross_engine(spark):
    """Several round-9-tail queries (q399 PCA, q400 Holt, q409
    decimation) rely on the sign-split idiom making Spark's truncating
    DIV and DuckDB's flooring // agree on negatives.  Drive both
    engines over a hostile value grid and pin all three-way equality
    with Python's own truncating division."""
    import duckdb
    from pyspark.sql import functions as F

    vals = [0, 1, -1, 2, -2, 3, -3, 7, -7, 63, -63, 64, -64, 65, -65,
            999, -999, 10**12, -(10**12), 10**15 + 7, -(10**15) - 7]
    divs = [2, 3, 4, 7, 64, 1000]

    rows = [(v, d) for v in vals for d in divs]
    sdf = spark.createDataFrame(rows, "x bigint, d bigint").select(
        "x", "d",
        (F.when(F.col("x") < 0, -F.lit(1)).otherwise(F.lit(1))
         * F.expr("abs(x) DIV d")).cast("bigint").alias("q"),
    )
    got = {(r.x, r.d): r.q for r in sdf.collect()}
    con = duckdb.connect()
    for v, d in rows:
        duck = con.execute(
            f"SELECT CASE WHEN {v} < 0 THEN -((-({v})) // {d}) "
            f"ELSE ({v}) // {d} END"
        ).fetchone()[0]
        py = -((-v) // d) if v < 0 else v // d
        assert got[(v, d)] == duck == py, (v, d, got[(v, d)], duck, py)


def _py_jaccard_leg(docs: dict[int, str], query_ids, k=20, max_df=None):
    """Pure-Python mirror of _rrf_jaccard_leg (Jaccard over KEPT
    shingles when max_df is set — the q195/q458 semantic)."""
    sh = {
        d: sorted(
            {
                " ".join(ws[i : i + 3])
                for ws in [t.split(" ")]
                for i in range(max(len(ws) - 2, 0))
            }
        )
        for d, t in docs.items()
    }
    if max_df is not None:
        dfc: dict[str, int] = {}
        for ss in sh.values():
            for s in ss:
                dfc[s] = dfc.get(s, 0) + 1
        sh = {d: [s for s in ss if dfc[s] <= max_df] for d, ss in sh.items()}
    out = {}
    for q in query_ids:
        scores = {}
        qs = set(sh[q])
        for d, ss in sh.items():
            if d == q:
                continue
            inter = len(qs & set(ss))
            if inter:
                scores[d] = inter * 1_000_000 // (len(qs) + len(ss) - inter)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[q] = [(d, r + 1) for r, (d, _) in enumerate(ranked)]
    return out


def test_rrf_jaccard_cap_drops_hot_shingles(spark):
    """q458's stop-shingle cap: a shingle planted in every doc must be
    dropped from the Jaccard leg (and per-doc counts recomputed over
    KEPT shingles), flipping a ranking the hot shingle alone carried —
    verified against an independent Python mirror, capped and not."""
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        _rrf_jaccard_leg,
    )

    hot = "omni present shingle"  # planted in all docs -> df = 5
    docs = {
        0: hot + " alpha beta gamma delta",
        1: hot + " alpha beta gamma epsilon",
        2: hot + " zeta eta theta iota",
        3: hot + " zeta eta kappa wow",
        4: hot + " unrelated totally different words",
    }
    sdf = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    # round 15: the leg shingles queries.text directly (external
    # queries get a real Jaccard leg), so query rows carry their text
    qdf = spark.createDataFrame(
        [(0, docs[0]), (2, docs[2])], "query_id long, text string"
    )
    for max_df in (None, 4):
        got = {
            q: []
            for q in (0, 2)
        }
        rows = _rrf_jaccard_leg(sdf, qdf, 20, max_df).collect()
        for r in sorted(rows, key=lambda r: (r.query_id, r.rk_b)):
            got[r.query_id].append((r.doc_id, r.rk_b))
        assert got == _py_jaccard_leg(docs, [0, 2], max_df=max_df), max_df
    # and the cap is not a no-op: uncapped, every doc pairs with every
    # other through the hot shingle; capped, doc 2 keeps only doc 3
    # (the shared "... shingle zeta eta ..." crossing shingles)
    uncapped = _py_jaccard_leg(docs, [0, 2], max_df=None)
    capped = _py_jaccard_leg(docs, [0, 2], max_df=4)
    assert len(uncapped[2]) == 4 and capped[2] == [(3, 1)]
    assert uncapped != capped


def test_exact_substring_rewrite_planted(spark):
    """Lee et al. §4 rewrite on a planted-duplication fixture, checked
    against an independent pure-Python mirror: cross-doc span keeps the
    canonical (lowest doc_id) copy only; intra-doc repeat keeps the
    first occurrence; overlapping duplicated windows merge into one
    span; short docs pass through untouched."""
    import re as _re

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        exact_substring_rewrite,
    )

    W = 8
    shared = "one two three four five six seven eight nine ten"
    docs = {
        1: "aa bb " + shared + " cc dd",
        2: "xx yy zz " + shared + " qq",
        3: "short doc here",
        4: ("alpha beta gamma delta epsilon zeta eta theta filler "
            "alpha beta gamma delta epsilon zeta eta theta"),
        5: shared + " " + shared,  # back-to-back repeat in one doc
    }

    def mirror():
        tok = {d: _re.findall(TOKEN_RE, t.lower()) for d, t in docs.items()}
        occ: dict[str, list] = {}
        for d, ts in sorted(tok.items()):
            for p in range(len(ts) - W + 1):
                occ.setdefault(" ".join(ts[p : p + W]), []).append((d, p))
        covered = {d: set() for d in tok}
        for g, os_ in occ.items():
            if len(os_) < 2:
                continue
            for d, p in sorted(os_)[1:]:
                covered[d].update(range(p, p + W))
        out = {}
        for d, ts in tok.items():
            keep = [t for i, t in enumerate(ts) if i not in covered[d]]
            runs = 0
            prev = -10
            for i in sorted(covered[d]):
                if i != prev + 1:
                    runs += 1
                prev = i
            out[d] = (
                " ".join(keep), len(covered[d]), runs,
                len(" ".join(ts)), len(" ".join(keep)),
            )
        return out

    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.kept_text, r.tokens_dropped, r.spans_dropped,
            r.chars_in, r.chars_kept,
        )
        for r in exact_substring_rewrite(df, w=W, min_count=2).collect()
    }
    exp = mirror()
    assert got == exp
    # and the plants behaved as designed
    assert got[1][0].startswith("aa bb one")   # canonical untouched
    assert got[2][0] == "xx yy zz qq"          # cross-doc span trimmed
    assert got[3][1] == 0                      # short doc untouched
    assert got[4][1] == 8 and got[4][2] == 1   # intra-doc second copy
    # doc 5's shared grams are canonical in doc 1, so BOTH of its
    # copies drop — the whole doc rewrites away as one span
    assert got[5][1] == 20 and got[5][2] == 1 and got[5][0] == ""


def test_bm25_incremental_index_matches_scan(spark):
    """Round-14 maintained BM25 index: folding batches (append postings
    and dl, merge df over the batch vocabulary) then scoring from the
    index must be BIT-IDENTICAL to bm25_topk over the accumulated
    corpus — including a term whose document frequency spans batches
    (df must merge, not overwrite)."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_index_init,
        bm25_index_insert,
        bm25_topk,
        bm25_topk_from_index,
    )

    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "quick brown foxes are quick and brown",
        3: "the lazy dog sleeps all day long every day",
        4: "a fox and a dog met a lazy fox",
        5: "nothing in common here whatsoever tonight",
        6: "dog dog dog and one lazy fox again",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    queries = df.filter(F.col("doc_id").isin(1, 4)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    direct = sorted(
        map(tuple, bm25_topk(df, queries, k=4, max_df_num=9,
                             max_df_den=10).collect())
    )
    idx = bm25_index_init(spark)
    for pred in (F.col("doc_id") <= 2, F.col("doc_id").isin(3, 4),
                 F.col("doc_id") >= 5):
        idx = bm25_index_insert(idx, df.filter(pred))
    # 'dog' appears in batches 1, 2 AND 3 — merged df must be 4;
    # 'fox' spans batches 1 (doc 1), 2 (doc 4) and 3 (doc 6)
    dfreq = {r.token: r.dfreq for r in idx["df"].collect()}
    assert dfreq["dog"] == 4 and dfreq["fox"] == 3
    inc = sorted(
        map(tuple, bm25_topk_from_index(idx, queries, k=4, max_df_num=9,
                                        max_df_den=10).collect())
    )
    assert inc == direct and inc


def test_rrf_external_query_gets_jaccard_leg(spark):
    """Round-15 ADVICE fix: the Jaccard leg shingles queries.text
    directly, so a query whose id is NOT a corpus doc_id still fuses
    both legs (it used to silently degrade to BM25-only,
    jaccard_rank = 0)."""
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        rrf_hybrid_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma zeta eta"),
            (3, "totally unrelated words here now"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(999, "alpha beta gamma delta zeta")],  # 999 not in corpus
        "query_id long, text string",
    )
    rows = rrf_hybrid_topk(docs, queries, k_leg=5, k_out=3).collect()
    assert rows, "external query produced no fused rows"
    by_doc = {r.doc_id: r for r in rows}
    # docs 1 and 2 share crossing 3-gram shingles with the query text
    assert any(r.jaccard_rank > 0 for r in rows), rows
    assert by_doc[1].jaccard_rank > 0


def test_bm25_store_matches_scan_and_compacts(spark, tmp_path):
    """Round-15 stored BM25 index: folding the corpus in three batches
    through the bucketed tables must reproduce bm25_topk's scan-path
    scores bit for bit (integer sums commute), before AND after the df
    partials compact; df partials really do accumulate per batch and
    compact to one row per token."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_compact,
        bm25_store_init,
        bm25_store_insert,
        bm25_store_topk,
        bm25_topk,
    )

    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "quick brown foxes are quick and brown",
        3: "the lazy dog sleeps all day long every day",
        4: "a fox and a dog met a lazy fox",
        5: "nothing in common here whatsoever tonight",
        6: "dog dog dog and one lazy fox again",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    queries = df.filter(F.col("doc_id").isin(1, 4)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    direct = sorted(
        map(tuple, bm25_topk(df, queries, k=4, max_df_num=9,
                             max_df_den=10).collect())
    )
    prefix = "t15bm25"
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    try:
        for pred in (F.col("doc_id") <= 2, F.col("doc_id").isin(3, 4),
                     F.col("doc_id") >= 5):
            bm25_store_insert(spark, prefix, df.filter(pred))
        # 'dog' hits batches 1/2/3, 'fox' batches 1/2/3 -> 3 partials
        parts = spark.table(f"{prefix}_df").filter(
            F.col("token") == "dog"
        ).collect()
        assert len(parts) == 3 and sum(r.dfreq for r in parts) == 4
        got = sorted(
            map(tuple, bm25_store_topk(spark, prefix, queries, k=4,
                                       max_df_num=9,
                                       max_df_den=10).collect())
        )
        assert got == direct and got
        bm25_store_compact(spark, prefix, full=True)
        # compaction swaps generations — resolve the physical table
        from syslog_handler_with_clickhouse_spark.operators.retrieval import (
            BM25_STORE,
        )
        from syslog_handler_with_clickhouse_spark.operators.store import resolve
        assert spark.table(resolve(spark, BM25_STORE, prefix)[2]).filter(
            F.col("token") == "dog"
        ).count() == 1
        got2 = sorted(
            map(tuple, bm25_store_topk(spark, prefix, queries, k=4,
                                       max_df_num=9,
                                       max_df_den=10).collect())
        )
        assert got2 == direct
    finally:
        for t in (f"{prefix}_postings", f"{prefix}_dl", f"{prefix}_df"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_bm25_store_joins_shuffle_free(spark, tmp_path):
    """The point of the bucketed BM25 state (the dedup-store plan-pin
    precedent): with broadcast disabled, the query-time joins read the
    stored tables' bucketed scans with NO exchange on the stored side,
    and the df merge aggregates exchange-free on the bucketed-by-token
    layout."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_df,
        bm25_store_init,
        bm25_store_insert,
    )

    prefix = "t15bm25plan"
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    try:
        bm25_store_insert(
            spark,
            prefix,
            spark.createDataFrame(
                [(1, "aa bb cc dd"), (2, "aa bb xx yy")],
                "doc_id long, text string",
            ),
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            qt = spark.createDataFrame(
                [(9, "aa"), (9, "cc")], "query_id long, token string"
            )
            jp = qt.join(spark.table(f"{prefix}_postings"), "token")
            plan_p = jp._jdf.queryExecution().executedPlan().toString()
            dd = spark.createDataFrame([(1,)], "doc_id long")
            jl = dd.join(spark.table(f"{prefix}_dl"), "doc_id")
            plan_l = jl._jdf.queryExecution().executedPlan().toString()
            plan_d = (
                bm25_store_df(spark, prefix)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # joins: exactly one exchange each — the O(batch) query side;
        # the bucketed FileScan feeds the join through sort only
        assert plan_p.count("Exchange hashpartitioning") == 1, plan_p
        assert "SelectedBucketsCount" in plan_p or "Bucketed: true" in plan_p
        assert plan_l.count("Exchange hashpartitioning") == 1, plan_l
        # df merge: ZERO exchanges — the groupBy's distribution is
        # satisfied by the bucketed layout
        assert "Exchange" not in plan_d, plan_d
    finally:
        for t in (f"{prefix}_postings", f"{prefix}_dl", f"{prefix}_df"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_bm25_hot_token_telemetry_and_absolute_cap(spark):
    """Round-15 BM25 hot-token telemetry (the star-edge stats pattern
    on the token leg) and the absolute df cap: a token planted in every
    doc surfaces as top_tokens[0] with its exact df and trips the
    warning threshold; max_df_abs prunes by absolute document
    frequency — pinned against the Python mirror via the ratio-cap
    equivalence df <= 2 on 8 docs ⟺ df·4 <= N."""
    import warnings

    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_topk,
    )

    docs = {
        1: "omni the quick brown fox jumps over the lazy dog",
        2: "omni quick brown foxes are quick and brown",
        3: "omni the lazy dog sleeps all day long every day",
        4: "omni a fox and a dog met a lazy fox",
        5: "omni nothing in common here whatsoever tonight",
        6: "omni quick thinking saves the day for the fox",
        7: "omni dogs and foxes and wolves roam the woods",
        8: "omni day after day the quick fox ran far away",
    }
    queries = {2: docs[2], 4: docs[4]}
    ddf = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id bigint, text string"
    )
    qdf = spark.createDataFrame(
        [(d, t) for d, t in queries.items()], "query_id bigint, text string"
    )
    st: list = []
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        rows = bm25_topk(
            ddf, qdf, k=5, max_df_num=1, max_df_den=1, max_df_abs=2,
            stats=st, hot_token_warn=8,
        ).collect()
    assert len(st) == 1
    assert st[0]["max_df"] == 8 and st[0]["n_docs"] == 8
    assert st[0]["top_tokens"][0] == ("omni", 8)
    assert any("omni" in str(x.message) for x in w), [str(x.message) for x in w]
    got = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    want = _py_bm25(docs, queries, k=5, max_df_num=1, max_df_den=4)
    want = {q: v for q, v in want.items() if v}
    assert got == want and got
    # and without the absolute cap (ratio 1/1 keeps everything,
    # including 'omni' at df=8) the ranking differs
    uncapped = bm25_topk(ddf, qdf, k=5, max_df_num=1, max_df_den=1).collect()
    got_un = {}
    for r in sorted(uncapped, key=lambda r: (r.query_id, r.rank)):
        got_un.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    assert got_un != got


def test_bm25_store_auto_compact_telemetry_and_assert_new(spark, tmp_path):
    """Round 16: the stored BM25 index's compaction policy + replay
    guard.  With auto_compact_files=1 every second append must trip a
    full compact (depth > 1 -> rewrite to one sorted file per bucket),
    the stats records must carry the measured file depth and the
    compact decision, serving must stay bit-equal to the scan path
    throughout, and assert_new must refuse a replayed doc_id batch
    BEFORE any write."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.store import (
        _bucket_file_depth,
    )
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_init,
        bm25_store_insert,
        bm25_store_topk,
        bm25_topk,
    )

    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "quick brown foxes are quick and brown",
        3: "the lazy dog sleeps all day long every day",
        4: "a fox and a dog met a lazy fox",
        5: "nothing in common here whatsoever tonight",
        6: "dog dog dog and one lazy fox again",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    queries = df.filter(F.col("doc_id").isin(1, 4)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    direct = sorted(
        map(tuple, bm25_topk(df, queries, k=4, max_df_num=9,
                             max_df_den=10).collect())
    )
    prefix = "t16bm25auto"
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    try:
        stats: list = []
        for pred in (F.col("doc_id") <= 2, F.col("doc_id").isin(3, 4),
                     F.col("doc_id") >= 5):
            bm25_store_insert(spark, prefix, df.filter(pred),
                              stats=stats, auto_compact_files=1)
        assert [s["batch_docs"] for s in stats] == [2, 2, 2]
        # append 1: depth 1, no compact; append 2: depth 2 -> compact;
        # append 3: depth 2 again (1 compacted file + 1 new) -> compact
        assert [s["compacted"] for s in stats] == [False, True, True]
        assert [s["file_depth"] for s in stats] == [1, 2, 2]
        from syslog_handler_with_clickhouse_spark.operators.retrieval import (
            BM25_STORE,
        )
        from syslog_handler_with_clickhouse_spark.operators.store import resolve
        phys = resolve(spark, BM25_STORE, prefix)
        assert _bucket_file_depth(spark, phys[0]) == 1
        # df partials folded to one row per token by the last compact
        assert spark.table(phys[2]).filter(
            F.col("token") == "dog"
        ).count() == 1
        got = sorted(
            map(tuple, bm25_store_topk(spark, prefix, queries, k=4,
                                       max_df_num=9,
                                       max_df_den=10).collect())
        )
        assert got == direct and got
        # replay guard: doc_id 3 is already indexed
        with pytest.raises(ValueError, match="replays already-indexed"):
            bm25_store_insert(spark, prefix, df.filter(F.col("doc_id") >= 3),
                              assert_new=True)
        # the refused insert wrote nothing: serving unchanged
        again = sorted(
            map(tuple, bm25_store_topk(spark, prefix, queries, k=4,
                                       max_df_num=9,
                                       max_df_den=10).collect())
        )
        assert again == direct
        # genuinely-new docs pass the guard
        bm25_store_insert(
            spark, prefix,
            spark.createDataFrame([(7, "a brand new fox appears")],
                                  "doc_id long, text string"),
            assert_new=True,
        )
    finally:
        for t in (f"{prefix}_postings", f"{prefix}_dl", f"{prefix}_df"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


_DOCS16 = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "quick brown foxes are quick and brown",
    3: "the lazy dog sleeps all day long every day",
    4: "a fox and a dog met a lazy fox",
    5: "nothing in common here whatsoever tonight",
    6: "dog dog dog and one lazy fox again",
}

# the caller-session confs a conf-scoped operator used to mutate
_WATCHED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled",
)


def _conf_snapshot(spark) -> tuple:
    return tuple(spark.conf.get(k) for k in _WATCHED)


def _watch_conf(spark, *fns) -> set:
    """Run each of ``fns`` on its own thread while this thread polls the
    caller session's watched confs; returns every snapshot seen.  A
    thread's exception is re-raised."""
    import threading

    errors = []

    def run(fn):
        try:
            fn()
        except BaseException as e:  # pragma: no cover - re-raised below
            errors.append(e)

    ts = [threading.Thread(target=run, args=(fn,)) for fn in fns]
    seen = {_conf_snapshot(spark)}
    for t in ts:
        t.start()
    while any(t.is_alive() for t in ts):
        seen.add(_conf_snapshot(spark))
        ts[0].join(0.005)
    for t in ts:
        t.join()
    seen.add(_conf_snapshot(spark))
    if errors:
        raise errors[0]
    return seen


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def test_bm25_store_topk_concurrent_scoped_width(spark, tmp_path,
                                                 monkeypatch):
    """The scoped-width path runs in a forked session (private
    SQLConf), so two concurrent store-topk calls with different widths
    must both return the serial answer and leave the caller session's
    conf untouched throughout."""
    import threading

    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators import retrieval
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_init,
        bm25_store_insert,
        bm25_store_topk,
    )

    df = spark.createDataFrame(list(_DOCS16.items()),
                               "doc_id long, text string")
    q14 = df.filter(F.col("doc_id").isin(1, 4)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    q25 = df.filter(F.col("doc_id").isin(2, 5)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    prefix = "t16bm25conc"
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    try:
        bm25_store_insert(spark, prefix, df)
        kw = dict(k=4, max_df_num=9, max_df_den=10)
        serial = {
            "a": _rows(bm25_store_topk(spark, prefix, q14, **kw)),
            "b": _rows(bm25_store_topk(spark, prefix, q25, **kw)),
        }
        # each thread widens to its own floor; the serial runs above
        # (main thread) kept the real, small one
        floors = {"a": 257, "b": 263}
        real = retrieval._size_floor
        monkeypatch.setattr(
            retrieval, "_size_floor",
            lambda d: floors.get(threading.current_thread().name[-1])
            or real(d),
        )
        out: dict = {}

        def run(key, queries):
            threading.current_thread().name = f"topk-{key}"
            out[key] = _rows(bm25_store_topk(spark, prefix, queries, **kw))

        before = _conf_snapshot(spark)
        seen = _watch_conf(spark, lambda: run("a", q14),
                           lambda: run("b", q25))
        assert out["a"] == serial["a"], out["a"]
        assert out["b"] == serial["b"], out["b"]
        assert seen == {before}, seen
    finally:
        for t in (f"{prefix}_postings", f"{prefix}_dl", f"{prefix}_df"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_bm25_store_topk_fork_carries_caller_conf(spark, tmp_path,
                                                  monkeypatch):
    """The widened store top-k plans in a fork that starts from the
    caller's RUNTIME conf (a session handed in by a driver gets its UTC
    zone and bucketed-scan ordering from ``apply_runtime_conf``, not
    from the SparkContext), plus the width override."""
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators import retrieval
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_init,
        bm25_store_insert,
        bm25_store_topk,
    )

    tz, order = (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.bucketedTableScan.outputOrdering",
    )
    df = spark.createDataFrame(list(_DOCS16.items()),
                               "doc_id long, text string")
    queries = df.select(F.col("doc_id").alias("query_id"), "text")
    prefix = "t16bm25forkconf"
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    prev = {k: spark.conf.get(k) for k in (tz, order)}
    try:
        bm25_store_insert(spark, prefix, df)
        kw = dict(k=4, max_df_num=9, max_df_den=10)
        serial = _rows(bm25_store_topk(spark, prefix, queries, **kw))
        seen = []
        real_score = retrieval._bm25_score

        def spy(postings, *a, **k):
            c = postings.sparkSession.conf
            seen.append((c.get(tz), c.get(order),
                         c.get("spark.sql.shuffle.partitions")))
            return real_score(postings, *a, **k)

        monkeypatch.setattr(retrieval, "_bm25_score", spy)
        monkeypatch.setattr(retrieval, "_size_floor", lambda d: 257)
        # values no SparkContext default carries
        spark.conf.set(tz, "Asia/Tokyo")
        spark.conf.set(order, "false")
        got = _rows(bm25_store_topk(spark, prefix, queries, **kw))
        assert seen == [("Asia/Tokyo", "false", "257")], seen
        assert got == serial
        assert spark.conf.get(tz) == "Asia/Tokyo"
        assert spark.conf.get("spark.sql.shuffle.partitions") != "257"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        for t in (f"{prefix}_postings", f"{prefix}_dl", f"{prefix}_df"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def _widened(op: str, **kw):
    """Site: retrieval ``op`` over the fixture, widened by a patched
    ``_size_floor``; the serial answer comes from the unpatched run."""

    def site(spark, tmp_path, monkeypatch, request):
        from pyspark.sql import functions as F

        from syslog_handler_with_clickhouse_spark.operators import retrieval

        df = spark.createDataFrame(list(_DOCS16.items()),
                                   "doc_id long, text string")
        q = df.select(F.col("doc_id").alias("query_id"), "text")
        serial = _rows(getattr(retrieval, op)(df, q, **kw))
        monkeypatch.setattr(retrieval, "_size_floor", lambda d: 257)
        return serial, lambda: _rows(getattr(retrieval, op)(df, q, **kw))

    site.__name__ = f"widened_{op}"
    return site


def _widened_dedup_components(spark, tmp_path, monkeypatch, request):
    from syslog_handler_with_clickhouse_spark.operators import dedup

    # 60 chains of 4 edges: 240 edges, one edge per partition below
    pairs = spark.createDataFrame(
        [(c * 10 + i, c * 10 + i + 1) for c in range(60) for i in range(4)],
        "doc_a long, doc_b long",
    )
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)
    serial = _rows(dedup.dedup_components(pairs))
    monkeypatch.setattr(dedup, "_CC_EDGES_PER_PARTITION", 1)
    assert 240 > max(spark.sparkContext.defaultParallelism,
                     int(spark.conf.get("spark.sql.shuffle.partitions")))
    return serial, lambda: _rows(dedup.dedup_components(pairs))


def _store_compact(spark, tmp_path, monkeypatch, request):
    from pyspark.sql import functions as F

    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_compact,
        bm25_store_init,
        bm25_store_insert,
        bm25_store_topk,
    )

    df = spark.createDataFrame(list(_DOCS16.items()),
                               "doc_id long, text string")
    q = df.select(F.col("doc_id").alias("query_id"), "text")
    prefix = "t16bm25compactconf"

    def drop():
        for t in ("postings", "dl", "df"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}__alt")

    request.addfinalizer(drop)
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    bm25_store_insert(spark, prefix, df.filter(F.col("doc_id") <= 3))
    bm25_store_insert(spark, prefix, df.filter(F.col("doc_id") > 3))
    kw = dict(k=4, max_df_num=9, max_df_den=10)
    serial = _rows(bm25_store_topk(spark, prefix, q, **kw))

    def run():
        bm25_store_compact(spark, prefix, full=True)
        return _rows(bm25_store_topk(spark, prefix, q, **kw))

    return serial, run


def _stream_query(spark, tmp_path, monkeypatch, request):
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from conftest import SF_SMALL

    from syslog_handler_with_clickhouse_spark.queries import QUERIES

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    started = []
    real_start = DataStreamWriter.start

    def start(self, *a, **k):
        q = real_start(self, *a, **k)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)

    def run():
        rows = _rows(QUERIES["q64_stream_tumbling"](spark, SF_SMALL))
        # the drained stream's state store ran at the stream width
        parts = {
            op["numShufflePartitions"]
            for p in started[-1].recentProgress
            for op in p["stateOperators"]
        }
        assert parts == {8}, parts
        return rows

    return None, run


@pytest.mark.parametrize("site", [
    _widened("bm25_topk", k=4, max_df_num=9, max_df_den=10),
    _widened("rrf_hybrid_topk", k_leg=4, k_out=3),
    _widened_dedup_components,
    _store_compact,
    _stream_query,
], ids=lambda f: f.__name__.strip("_"))
def test_conf_scoped_operator_leaves_caller_conf(spark, tmp_path,
                                                 monkeypatch, request, site):
    """Every conf-scoped operator runs its scope in a forked session:
    while one runs on another thread, the caller session's shuffle
    width, AQE advisory and auto-bucketed-scan flag never change, and
    the scoped result equals the unscoped one."""
    serial, run = site(spark, tmp_path, monkeypatch, request)
    out = []
    before = _conf_snapshot(spark)
    seen = _watch_conf(spark, lambda: out.append(run()))
    assert seen == {before}, seen
    assert out[0], "empty result"
    if serial is not None:
        assert out[0] == serial
