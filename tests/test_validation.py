"""Validation operators vs hand-computed expectations."""

import pytest
from pyspark.sql import functions as F

from esper_tv_spark.domain import validation as val


@pytest.fixture(scope="module")
def detections(spark):
    # frame 1: auto a1 matches hand h1 (same box), a2 matches nothing;
    # frame 2: a3 and a4 both overlap h2, a3 has higher IoU -> greedy picks a3
    auto = spark.createDataFrame(
        [
            (1, 1, 0.1, 0.1, 0.3, 0.3),
            (2, 1, 0.6, 0.6, 0.8, 0.8),
            (3, 2, 0.1, 0.1, 0.3, 0.3),
            (4, 2, 0.12, 0.12, 0.32, 0.32),
        ],
        "id long, frame_id long, bbox_x1 double, bbox_y1 double, bbox_x2 double, bbox_y2 double",
    )
    hand = spark.createDataFrame(
        [
            (10, 1, 0.1, 0.1, 0.3, 0.3),
            (11, 2, 0.1, 0.1, 0.3, 0.3),
        ],
        "id long, frame_id long, bbox_x1 double, bbox_y1 double, bbox_x2 double, bbox_y2 double",
    )
    return auto, hand


def test_greedy_iou_matching(spark, detections):
    auto, hand = detections
    m = val.match_detections(auto, hand)
    rows = {(r["auto_id"], r["hand_id"]): r["iou"] for r in m.collect()}
    assert set(rows) == {(1, 10), (3, 11)}
    assert rows[(1, 10)] == pytest.approx(1.0)
    pr = val.precision_recall(auto, hand, m)
    assert pr["precision"] == pytest.approx(2 / 4)
    assert pr["recall"] == pytest.approx(1.0)


def test_label_confusion(spark, detections):
    auto, hand = detections
    m = val.match_detections(auto, hand)
    auto_labels = spark.createDataFrame([(1, "M"), (3, "F")], "id long, label string")
    hand_labels = spark.createDataFrame([(10, "M"), (11, "M")], "id long, label string")
    cm = {(r["auto_label"], r["hand_label"]): r["n"] for r in val.label_confusion(m, auto_labels, hand_labels).collect()}
    assert cm == {("M", "M"): 1, ("F", "M"): 1}


def test_segment_overlap_confusion(spark):
    auto = spark.createDataFrame(
        [(1, 0, 10, "sp1"), (1, 10, 20, "sp2")], "video_id long, start long, end long, label string"
    )
    hand = spark.createDataFrame(
        [(1, 0, 12, "sp1"), (1, 12, 20, "sp2")], "video_id long, start long, end long, label string"
    )
    got = {
        (r["auto_label"], r["hand_label"]): r["overlap_total"]
        for r in val.segment_overlap_confusion(auto, hand, ["video_id"]).collect()
    }
    assert got == {("sp1", "sp1"): 10, ("sp2", "sp1"): 2, ("sp2", "sp2"): 8}


def test_bootstrap_adjusted_totals_vs_python(spark):
    """The bootstrap estimator must equal a plain-Python replay of the same
    seeded Knuth draws, per class and variant, to float equality."""
    import math
    from collections import Counter

    from esper_tv_spark.domain.validation import bootstrap_adjusted_totals

    rows = []
    classes = ["a", "b", "c"]
    # deterministic noisy detections across 12 units
    for u in range(12):
        for d in range(5 + (u % 4)):
            true = classes[(u + d) % 3]
            pred = classes[(u + d + (1 if (u * 7 + d) % 5 == 0 else 0)) % 3]
            rows.append((u, pred, true))
    df = spark.createDataFrame(rows, "unit long, pred string, truth string")
    trials, k, seed, sc = 50, 8, 7, 10_000
    got = {
        (r["cls"], r["variant"]): (r["est"], r["bias"], r["std"])
        for r in bootstrap_adjusted_totals(
            df, "unit", "pred", "truth", trials=trials, k=k, seed=seed
        ).collect()
    }

    # ---- python replay ----
    cmat = Counter((t, p) for _, p, t in rows)
    colsum = Counter(p for _, p, _ in rows)
    p4 = {
        (t, p): int(round(sc * cmat[(t, p)] / colsum[p]))
        for (t, p) in cmat
    }
    unit_counts = Counter((u, p) for u, p, _ in rows)
    units = sorted({u for u, _, _ in rows})
    n = len(units)
    true_tot = Counter(t for _, _, t in rows)
    full = Counter(p for _, p, _ in rows)

    def stats_for(trial):
        drawn = [
            units[((seed + trial * k + j) * 2654435761) % 4294967296 % n]
            for j in range(k)
        ]
        tot = Counter()
        for u in drawn:
            for c in classes:
                tot[c] += unit_counts[(u, c)]
        unadj = {c: tot[c] * sc for c in classes}
        adj = {
            g: sum(tot[g2] * p4.get((g, g2), 0) for g2 in classes) for g in classes
        }
        return unadj, adj

    sums = {v: Counter() for v in ("unadjusted", "adjusted")}
    sqs = {v: Counter() for v in ("unadjusted", "adjusted")}
    for t in range(trials):
        unadj, adj = stats_for(t)
        for c in classes:
            sums["unadjusted"][c] += unadj[c]
            sqs["unadjusted"][c] += unadj[c] * unadj[c]
            sums["adjusted"][c] += adj[c]
            sqs["adjusted"][c] += adj[c] * adj[c]
    est = {
        "unadjusted": {c: full[c] * sc for c in classes},
        "adjusted": {
            g: sum(full[g2] * p4.get((g, g2), 0) for g2 in classes) for g in classes
        },
    }
    for variant in ("unadjusted", "adjusted"):
        for c in classes:
            mean = sums[variant][c] / trials / sc
            meansq = sqs[variant][c] / trials / sc / sc
            want = (
                est[variant][c] / sc,
                mean - true_tot[c],
                math.sqrt(meansq - mean * mean),
            )
            have = got[(c, variant)]
            assert have == pytest.approx(want, abs=1e-9), (c, variant)
    # adjustment must pull estimates toward truth on this noisy-classifier data
    adj_err = sum(abs(got[(c, "adjusted")][0] - true_tot[c]) for c in classes)
    unadj_err = sum(abs(got[(c, "unadjusted")][0] - true_tot[c]) for c in classes)
    assert adj_err < unadj_err


def test_bootstrap_pred_only_class_reported_with_zero_true_total(spark):
    """A class the classifier predicts but that never appears as a hand
    label must still be reported (bias computed against true_total=0), not
    silently dropped by an inner join."""
    from esper_tv_spark.domain.validation import bootstrap_adjusted_totals

    rows = [(u, "ghost" if u % 3 == 0 else "a", "a") for u in range(12)]
    labeled = spark.createDataFrame(rows, "unit long, pred string, truth string")
    out = bootstrap_adjusted_totals(labeled, "unit", "pred", "truth", trials=20, k=10, seed=1)
    got = {(r["cls"], r["variant"]): r for r in out.collect()}
    assert ("ghost", "unadjusted") in got
    g = got[("ghost", "unadjusted")]
    # bias = mean(trial totals) - 0; est is the full-sample ghost count
    assert g["est"] == 4.0
    assert g["bias"] > 0.0


def test_bootstrap_unit_guard_raises_loudly(spark):
    """The global-sort unit index is documented for hand-label-sized
    samples; make sure misuse fails with the guard message, not silently
    single-partition-sorting a huge table."""
    import pytest as _pytest

    from esper_tv_spark.domain.validation import bootstrap_adjusted_totals

    big = spark.range(0, 1_100_000).selectExpr(
        "id AS unit", "'a' AS pred", "'a' AS truth"
    )
    out = bootstrap_adjusted_totals(big, "unit", "pred", "truth", trials=2, k=2, seed=1)
    with _pytest.raises(Exception, match="hand-label-sized"):
        out.collect()


def test_bootstrap_ghost_class_spark_matches_duckdb_oracle_semantics(spark):
    """Cross-engine parity ON THE GHOST-CLASS CASE: the q77 oracle's
    outer-join spine must agree with Spark exactly when a predicted class
    never appears as a hand label — the case the driver fixture happens
    not to contain."""
    import duckdb

    from esper_tv_spark.domain.validation import bootstrap_adjusted_totals

    rows = [(u, "ghost" if u % 4 == 0 else ("a" if u % 2 else "b"),
             "a" if u % 2 else "b") for u in range(40)]
    labeled = spark.createDataFrame(rows, "unit long, pred string, truth string")
    got = {
        (r["cls"], r["variant"]): (round(r["est"], 6), round(r["bias"], 6), round(r["std"], 6))
        for r in bootstrap_adjusted_totals(
            labeled, "unit", "pred", "truth", trials=50, k=20, seed=9
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE dets AS SELECT * FROM (VALUES "
                + ",".join(f"({u}, '{p}', '{t}')" for u, p, t in rows)
                + ") AS v(unit, pred, truth)")
    sql = """
WITH cmat AS (SELECT truth, pred, count(*) AS n FROM dets GROUP BY truth, pred),
colsum AS (SELECT pred, sum(n) AS col_n FROM cmat GROUP BY pred),
p4 AS (SELECT c.truth, c.pred,
              CAST(round(10000.0 * c.n / s.col_n) AS BIGINT) AS p4
       FROM cmat c JOIN colsum s ON c.pred = s.pred),
unit_counts AS (SELECT unit, pred, count(*) AS cnt FROM dets GROUP BY unit, pred),
units AS (SELECT DISTINCT unit FROM dets),
unit_idx AS (SELECT unit, row_number() OVER (ORDER BY unit) - 1 AS idx FROM units),
nu AS (SELECT count(*) AS n_units FROM units),
grid AS (
  SELECT t.range AS t,
         ((9 + t.range * 20 + j.range)::HUGEINT * 2654435761) % 4294967296
             % (SELECT n_units FROM nu) AS idx
  FROM range(50) t, range(20) j
),
draws AS (SELECT g.t, u.unit FROM grid g JOIN unit_idx u ON g.idx = u.idx),
totals_t AS (
  SELECT d.t, c.pred, CAST(sum(c.cnt) AS BIGINT) AS total
  FROM draws d JOIN unit_counts c ON d.unit = c.unit GROUP BY d.t, c.pred
),
unadj_t AS (SELECT t, pred AS cls, total * 10000 AS s FROM totals_t),
adj_t AS (
  SELECT tt.t, p4.truth AS cls, CAST(sum(tt.total * p4.p4) AS BIGINT) AS s
  FROM totals_t tt JOIN p4 ON tt.pred = p4.pred GROUP BY tt.t, p4.truth
),
full_tot AS (SELECT pred, count(*) AS total FROM dets GROUP BY pred),
est_unadj AS (SELECT pred AS cls, total * 10000 AS est_s FROM full_tot),
est_adj AS (
  SELECT p4.truth AS cls, CAST(sum(f.total * p4.p4) AS BIGINT) AS est_s
  FROM full_tot f JOIN p4 ON f.pred = p4.pred GROUP BY p4.truth
),
true_tot AS (SELECT truth AS cls, count(*) AS true_total FROM dets GROUP BY truth),
summ_u AS (SELECT cls, CAST(sum(s) AS BIGINT) AS sum_s, CAST(sum(s*s) AS BIGINT) AS sum_sq
           FROM unadj_t GROUP BY cls),
summ_a AS (SELECT cls, CAST(sum(s) AS BIGINT) AS sum_s, CAST(sum(s*s) AS BIGINT) AS sum_sq
           FROM adj_t GROUP BY cls),
out_u AS (
  SELECT COALESCE(s.cls, e.cls) AS cls, 'unadjusted' AS variant,
         CAST(COALESCE(e.est_s, 0) AS DOUBLE) / 10000.0 AS est,
         CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 50.0 / 10000.0
           - CAST(COALESCE(tt.true_total, 0) AS DOUBLE) AS bias,
         sqrt(CAST(COALESCE(s.sum_sq, 0) AS DOUBLE) / 50.0 / 10000.0 / 10000.0
              - (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 50.0 / 10000.0)
                * (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 50.0 / 10000.0)) AS std
  FROM summ_u s FULL OUTER JOIN est_unadj e ON s.cls = e.cls
  LEFT JOIN true_tot tt ON COALESCE(s.cls, e.cls) = tt.cls
),
out_a AS (
  SELECT COALESCE(s.cls, e.cls) AS cls, 'adjusted' AS variant,
         CAST(COALESCE(e.est_s, 0) AS DOUBLE) / 10000.0 AS est,
         CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 50.0 / 10000.0
           - CAST(COALESCE(tt.true_total, 0) AS DOUBLE) AS bias,
         sqrt(CAST(COALESCE(s.sum_sq, 0) AS DOUBLE) / 50.0 / 10000.0 / 10000.0
              - (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 50.0 / 10000.0)
                * (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 50.0 / 10000.0)) AS std
  FROM summ_a s FULL OUTER JOIN est_adj e ON s.cls = e.cls
  LEFT JOIN true_tot tt ON COALESCE(s.cls, e.cls) = tt.cls
)
SELECT * FROM out_u UNION ALL SELECT * FROM out_a
"""
    want = {
        (cls, variant): (round(est, 6), round(bias, 6), round(std, 6))
        for cls, variant, est, bias, std in con.execute(sql).fetchall()
    }
    assert ("ghost", "unadjusted") in got
    assert got == want


def test_bootstrap_one_pass_parity(spark, force_wider_than_floor):
    """The single persisted groupBy(unit,pred,truth) base (wider_than_floor
    True — the corpus-scale shape), five direct aggregations (False — the
    bench-scale shape) and the real data-adaptive rule (None) produce
    IDENTICAL rows:
    every derived aggregate is an additive regroup of the base counts
    (r11, the size-adaptive switch the r10 verdict prescribed)."""
    import random

    from esper_tv_spark.domain.validation import bootstrap_adjusted_totals

    rng = random.Random(11)
    cls = ["a", "b", "c"]
    rows = [
        (i % 37, rng.choice(cls), rng.choice(cls)) for i in range(600)
    ]
    labeled = spark.createDataFrame(rows, "unit int, pred string, truth string")

    def got(mode):
        force_wider_than_floor(mode)
        return sorted(
            map(
                tuple,
                bootstrap_adjusted_totals(
                    labeled, "unit", "pred", "truth",
                    trials=25, k=12, seed=5,
                ).collect(),
            )
        )

    ref = got(False)
    assert got(True) == ref
    assert got(None) == ref
