"""funnel (operators/events.py) and pagerank_fixed (operators/graph.py).

q116/q117 hash-gate both against DuckDB; these tests pin the properties
the oracles can't: funnel's greedy window semantics on adversarial
hand-built histories (the later-anchor-would-convert case), its
tie-exclusion contract, partitioning-invariance of the fixed-point
PageRank, and its agreement with an independent float PageRank run to
convergence (rank ORDER, not values — the fixed-point contract is
determinism, the float replay checks we compute the right quantity).
repeated_ngram_spans (operators/dedup.py, q115) gets closed-form span
merging on planted texts.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esper_tv_spark.operators.dedup import repeated_ngram_spans
from esper_tv_spark.operators.events import funnel
from esper_tv_spark.operators.graph import pagerank_fixed


def _ev(spark, rows):
    from datetime import datetime

    return spark.createDataFrame(
        [
            (i, datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"), u, t)
            for i, (ts, u, t) in enumerate(rows)
        ],
        "event_id INT, ts TIMESTAMP, user_id INT, event_type STRING",
    )


def _counts(df):
    return {r["step"]: r["users"] for r in df.collect()}


def test_funnel_strict_order_and_reach(spark):
    rows = [
        # u1 completes in order
        ("2024-01-01 00:00:00", 1, "a"),
        ("2024-01-01 01:00:00", 1, "b"),
        ("2024-01-01 02:00:00", 1, "c"),
        # u2 has b BEFORE a: reaches only stage 1
        ("2024-01-02 00:00:00", 2, "b"),
        ("2024-01-02 01:00:00", 2, "a"),
        # u3 never signs up
        ("2024-01-03 00:00:00", 3, "b"),
        ("2024-01-03 01:00:00", 3, "c"),
    ]
    out = _counts(funnel(_ev(spark, rows), ["a", "b", "c"]))
    assert out == {1: 2, 2: 1, 3: 1}


def test_funnel_same_timestamp_does_not_advance(spark):
    rows = [
        ("2024-01-01 00:00:00", 1, "a"),
        ("2024-01-01 00:00:00", 1, "b"),  # tie with the stage-1 anchor
        ("2024-01-01 00:00:01", 2, "a"),
        ("2024-01-01 00:00:02", 2, "b"),
    ]
    out = _counts(funnel(_ev(spark, rows), ["a", "b"]))
    assert out == {1: 2, 2: 1}


def test_funnel_window_is_greedy_from_first_anchor(spark):
    # u1: anchor a@00:00; the only b is 2h later -> outside a 1h window,
    # even though a second a@01:30 would put b in range.  Greedy (the
    # Amplitude convention and the min-join oracle) must NOT convert.
    rows = [
        ("2024-01-01 00:00:00", 1, "a"),
        ("2024-01-01 01:30:00", 1, "a"),
        ("2024-01-01 02:00:00", 1, "b"),
        # u2 converts inside the window
        ("2024-01-01 00:00:00", 2, "a"),
        ("2024-01-01 00:30:00", 2, "b"),
    ]
    out = _counts(funnel(_ev(spark, rows), ["a", "b"], max_gap_seconds=3600))
    assert out == {1: 2, 2: 1}


def test_funnel_rejects_bad_steps(spark):
    df = _ev(spark, [("2024-01-01 00:00:00", 1, "a")])
    with pytest.raises(ValueError):
        funnel(df, [])
    with pytest.raises(ValueError):
        funnel(df, ["a", "a"])


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src STRING, dst STRING")


def test_pagerank_zero_iters_is_initial_mass(spark):
    e = _edges(spark, [("a", "b"), ("b", "a")])
    out = {r["node"]: r["pr"] for r in pagerank_fixed(e, iters=0).collect()}
    assert out == {"a": 10**9, "b": 10**9}


def test_pagerank_matches_python_replay_exactly(spark):
    # deterministic small graph incl. a node with two out-edges and one
    # in-degree-0 node (gets base mass only)
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]
    e = _edges(spark, pairs)
    scale = 10**9
    ranks = {n: scale for n in "abcd"}
    deg = {"a": 2, "b": 1, "c": 1, "d": 1}
    for _ in range(4):
        inc = {}
        for s, d in pairs:
            inc[d] = inc.get(d, 0) + ranks[s] // deg[s]
        ranks = {n: 15 * scale // 100 + 85 * inc.get(n, 0) // 100 for n in "abcd"}
    out = {r["node"]: r["pr"] for r in pagerank_fixed(e, iters=4).collect()}
    assert out == ranks


def test_pagerank_partitioning_invariant(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(50)]
    e1 = _edges(spark, pairs)
    e2 = _edges(spark, pairs).repartition(7)
    r1 = sorted(map(tuple, pagerank_fixed(e1, iters=3).collect()))
    r2 = sorted(map(tuple, pagerank_fixed(e2, iters=3).collect()))
    assert r1 == r2


def test_pagerank_checkpoint_preserves_result(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "a")]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, pagerank_fixed(e, iters=5, checkpoint_every=2).collect()))
    b = sorted(map(tuple, pagerank_fixed(e, iters=5, checkpoint_every=100).collect()))
    assert a == b


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )


def test_repeated_spans_closed_form(spark):
    shared = "one two three four five six seven eight"  # 8 tokens
    texts = [
        f"alpha {shared} beta",      # span at tokens [1, 9)
        f"{shared} gamma delta",     # span at tokens [0, 8)
        "unrelated words only here nothing repeats at all",
    ]
    out = sorted(
        map(tuple, repeated_ngram_spans(_docs(spark, texts), n=6, min_docs=2).collect())
    )
    # 8-token shared run -> 3 overlapping 6-gram starts merging into ONE span
    assert out == [(0, 1, 9, 8, 3), (1, 0, 8, 8, 3)]


def test_repeated_spans_within_doc_repeat_not_counted(spark):
    t = "x1 x2 x3 x4 x5 x6 filler x1 x2 x3 x4 x5 x6"
    out = repeated_ngram_spans(_docs(spark, [t, "no overlap here at all ok"]), n=6, min_docs=2)
    assert out.count() == 0  # repeats only WITHIN one doc


def test_repeated_spans_max_gram_docs_cap(spark):
    boiler = "b1 b2 b3 b4 b5 b6"
    texts = [f"{boiler} unique{i}" for i in range(5)]
    uncapped = repeated_ngram_spans(_docs(spark, texts), n=6, min_docs=2)
    capped = repeated_ngram_spans(_docs(spark, texts), n=6, min_docs=2, max_gram_docs=3)
    assert uncapped.count() == 5 and capped.count() == 0


def test_repeated_spans_dup_mode_parity(spark, force_wider_than_floor):
    """The one-window collect_set shape (wider_than_floor False), the
    two-shuffle groupBy+semi-join corpus-scale shape (True) and the real
    data-adaptive rule (None) produce IDENTICAL spans — including under
    the max_gram_docs cap, where the two shapes filter at different plan
    points (r11: the window buffers hot grams' full doc sets, so
    corpus-scale inputs switch to the bounded groupBy shape)."""
    shared = "one two three four five six seven eight"
    boiler = "b1 b2 b3 b4 b5 b6"
    texts = (
        [f"alpha {shared} beta", f"{shared} gamma delta"]
        + [f"{boiler} unique{i}" for i in range(5)]
        + ["no overlap here at all ok"]
    )
    docs = _docs(spark, texts)

    def spans(cap, mode):
        force_wider_than_floor(mode)
        return sorted(
            map(
                tuple,
                repeated_ngram_spans(
                    docs, n=6, min_docs=2, max_gram_docs=cap
                ).collect(),
            )
        )

    for cap in (None, 3):
        ref = spans(cap, False)
        for mode in (True, None):
            assert spans(cap, mode) == ref, (cap, mode)


# ---------------------------------------------------------------------------
# triangle_count (q123) / cohort_retention (q124)
# ---------------------------------------------------------------------------


def test_triangle_count_closed_form(spark):
    from esper_tv_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant edge
    # and a disconnected triangle {10,11,12}; edges given in MIXED
    # direction with duplicates and a self-loop — canonicalization's job
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(2, 1), (4, 5), (5, 5), (11, 10), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {(r.node, r.triangles) for r in triangle_count(df).collect()}
    want = {(1, 3), (2, 3), (3, 3), (4, 3), (10, 1), (11, 1), (12, 1)}
    assert got == want  # node 5 (pendant/self-loop) absent


def test_triangle_count_matches_bruteforce_random(spark):
    import itertools
    import random

    from esper_tv_spark.operators.graph import triangle_count

    rng = random.Random(5)
    n = 40
    edges = [(i, j) for i, j in itertools.combinations(range(n), 2) if rng.random() < 0.15]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {(r.node, r.triangles) for r in triangle_count(df).collect()}
    es = set(edges)
    from collections import Counter

    cnt = Counter()
    for x, y, z in itertools.combinations(range(n), 3):
        if (x, y) in es and (y, z) in es and (x, z) in es:
            cnt[x] += 1
            cnt[y] += 1
            cnt[z] += 1
    assert got == {(k, v) for k, v in cnt.items()}


def test_cohort_retention_closed_form(spark):
    from datetime import datetime

    from esper_tv_spark.operators.events import cohort_retention

    rows = [
        # u1: first event Mon Jan 1 week; active weeks 0 and 2
        (0, datetime(2024, 1, 3), 1, "x"),
        (1, datetime(2024, 1, 16), 1, "x"),
        # u2: same cohort week, active week 0 only (two events, one user)
        (2, datetime(2024, 1, 2), 2, "x"),
        (3, datetime(2024, 1, 7), 2, "x"),
        # u3: cohort week of Jan 8, active weeks 0 and 1
        (4, datetime(2024, 1, 10), 3, "x"),
        (5, datetime(2024, 1, 15), 3, "x"),
    ]
    ev = spark.createDataFrame(rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING")
    got = {
        (r.cohort_start.strftime("%m-%d"), r.period_offset, r.users)
        for r in cohort_retention(ev).collect()
    }
    want = {("01-01", 0, 2), ("01-01", 2, 1), ("01-08", 0, 1), ("01-08", 1, 1)}
    assert got == want


def test_cohort_retention_rejects_bad_granularity(spark):
    import pytest as _pytest
    from datetime import datetime

    from esper_tv_spark.operators.events import cohort_retention

    ev = spark.createDataFrame(
        [(0, datetime(2024, 1, 1), 1, "x")],
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING",
    )
    with _pytest.raises(ValueError):
        cohort_retention(ev, granularity="month")
