"""Statistical validation operators — the reference's correctness
methodology (SURVEY §5) as engine primitives.

/root/reference/app/esper/validation.py establishes correctness by
comparing ML labels to hand labels:

- face detection P/R via per-frame greedy IoU>0.5 matching
  (validation.py:84-133, IoU at 51-64)
- label confusion matrices on matched pairs (validation.py:136-198)
- speaking-time accuracy via overlap-weighted confusion of auto vs hand
  segments, computed with a driver-side sort-merge sweep
  (validation.py:295-341)

Here: the greedy per-frame matching is the one genuinely sequential step
(cogrouped applyInPandas, parallel across frames); everything downstream —
P/R, confusion, overlap-weighted confusion — is joins + aggregations. The
segment-overlap confusion is a pure range join + sum(clipped length),
replacing the driver sweep entirely.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esper_tv_spark.operators.intervals import overlap_join

BBOX = ["bbox_x1", "bbox_y1", "bbox_x2", "bbox_y2"]


def _iou_py(a, b) -> float:
    ix = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
    iy = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
    inter = ix * iy
    area_a = (a[2] - a[0]) * (a[3] - a[1])
    area_b = (b[2] - b[0]) * (b[3] - b[1])
    union = area_a + area_b - inter
    return inter / union if union > 0 else 0.0


def match_detections(
    auto: DataFrame,
    hand: DataFrame,
    key_col: str = "frame_id",
    id_col: str = "id",
    iou_threshold: float = 0.5,
) -> DataFrame:
    """Greedy per-frame IoU matching (validation.py:84-133): pairs are taken
    best-IoU-first until one side is exhausted; only IoU > threshold counts.
    Returns (key, auto_id, hand_id, iou). Cogrouped applyInPandas — the
    greedy choice is order-dependent within a frame, frames parallelize."""

    def match(key, a_pdf: pd.DataFrame, h_pdf: pd.DataFrame) -> pd.DataFrame:
        pairs = []
        for _, ar in a_pdf.iterrows():
            for _, hr in h_pdf.iterrows():
                iou = _iou_py(
                    [ar[c] for c in BBOX], [hr[c] for c in BBOX]
                )
                if iou > iou_threshold:
                    pairs.append((iou, ar[id_col], hr[id_col]))
        pairs.sort(key=lambda p: (-p[0], p[1], p[2]))
        used_a, used_h, out = set(), set(), []
        for iou, aid, hid in pairs:
            if aid in used_a or hid in used_h:
                continue
            used_a.add(aid)
            used_h.add(hid)
            out.append((key[0], aid, hid, iou))
        return pd.DataFrame(out, columns=[key_col, "auto_id", "hand_id", "iou"])

    return (
        auto.groupBy(key_col)
        .cogroup(hand.groupBy(key_col))
        .applyInPandas(match, schema=f"{key_col} long, auto_id long, hand_id long, iou double")
    )


def precision_recall(auto: DataFrame, hand: DataFrame, matches: DataFrame) -> dict:
    """P/R from a match table: precision = matched/|auto|,
    recall = matched/|hand| (validation.py:120-133)."""
    # One action, not three count() jobs: tag each side and count in a
    # single union-aggregate (the three inputs share no lineage worth
    # reusing, but three separate jobs triple the scan/setup cost).
    counted = (
        matches.select(F.lit("m").alias("side"))
        .unionByName(auto.select(F.lit("a").alias("side")))
        .unionByName(hand.select(F.lit("h").alias("side")))
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    by_side = {r["side"]: r["n"] for r in counted.collect()}
    n_match = by_side.get("m", 0)
    n_auto = by_side.get("a", 0)
    n_hand = by_side.get("h", 0)
    return {
        "n_matched": n_match,
        "n_auto": n_auto,
        "n_hand": n_hand,
        "precision": n_match / n_auto if n_auto else 0.0,
        "recall": n_match / n_hand if n_hand else 0.0,
    }


def label_confusion(
    matches: DataFrame,
    auto_labels: DataFrame,
    hand_labels: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Confusion counts over matched pairs (validation.py:136-198):
    (auto_label, hand_label, n)."""
    a = auto_labels.select(F.col(id_col).alias("auto_id"), F.col(label_col).alias("auto_label"))
    h = hand_labels.select(F.col(id_col).alias("hand_id"), F.col(label_col).alias("hand_label"))
    return (
        matches.join(a, "auto_id")
        .join(h, "hand_id")
        .groupBy("auto_label", "hand_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def segment_overlap_confusion(
    auto_segments: DataFrame,
    hand_segments: DataFrame,
    key_cols: list[str],
    label_col: str = "label",
) -> DataFrame:
    """Overlap-weighted confusion of labeled time segments
    (validation.py:295-341's sort-merge sweep, fully relational): for every
    (auto_label, hand_label), the total time auto spends overlapping hand.
    Inputs: (key..., start, end, label)."""
    a = auto_segments.withColumnRenamed(label_col, "auto_label")
    h = hand_segments.withColumnRenamed(label_col, "hand_label")
    j = overlap_join(a, h, key_cols, clip=False)
    return (
        j.groupBy(F.col("a_auto_label").alias("auto_label"), F.col("b_hand_label").alias("hand_label"))
        .agg(F.sum("overlap_length").alias("overlap_total"))
    )


# --------------------------------------------------------------------------
# bootstrap bias/std estimation (validation.py:67-81, 201-292)
# --------------------------------------------------------------------------

_KNUTH = 2654435761  # engine-portable multiplicative hash (same as corpus.py)
_MOD = 4294967296


def bootstrap_adjusted_totals(
    labeled: DataFrame,
    unit_col: str,
    pred_col: str,
    true_col: str,
    trials: int = 200,
    k: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Bootstrap bias/std of per-class detection totals, with and without
    confusion-matrix adjustment — the reference's screentime_validation
    (validation.py:201-292) + bootstrap (validation.py:67-81), fully
    relational and deterministic.

    `labeled` has one row per detection: (unit_col, pred_col, true_col) —
    the sample unit (frame/video/user), the classifier label, and the hand
    label. Computes, per predicted class and variant in
    {unadjusted, adjusted}:

    - est:  the statistic on the full sample (adjusted = confusion-corrected
      multicount totals, reference's multicount_adj);
    - bias: mean over `trials` bootstrap resamples (k units drawn with
      replacement) of (stat_t - true_total);
    - std:  population std of the trial statistics (reference uses np.std).

    Determinism/portability: resampling uses the Knuth multiplicative hash
    over the trial/draw counter — idx = ((seed + t*k + j) * 2654435761 mod
    2^32) mod n_units — so a SQL engine replays the identical draws; the
    confusion correction P(true=g | pred=g2) is scaled to integer 1e-4
    precision and every per-trial statistic is an exact BIGINT, so bias/std
    come out bit-identical across engines (the only float ops are the final
    divisions and one sqrt, in a fixed expression shape). Per-trial scaled
    totals must stay under ~3e9 (k * per-unit detections * 1e4) — far above
    any hand-labeled validation sample.

    Scale shape: the validation sample is small by construction (hand
    labels), so the unit index window and the trials x draws grid
    (trials*k rows) are negligible; everything else is broadcast-sized
    joins + exact aggregations. Output: (cls, variant, est, bias, std).
    """
    sc = 10_000  # P and stat scaling: 1e-4 precision

    dets = labeled.select(
        F.col(unit_col).alias("unit"),
        F.col(pred_col).alias("pred"),
        F.col(true_col).alias("truth"),
    )
    # One pass or five is decided FROM THE DATA (r10 VERDICT #4, the
    # triangle_count broadcast-budget stance): the five aggregation
    # consumers below (cmat / unit_counts / units / full / true_tot) each
    # rescan `labeled` — five concurrent tiny aggregates WIN at bench
    # scale (the r10 one-pass rewrite measured 2.4x SLOWER at sf0.1:
    # barriers beat rescans on 100k rows), but at corpus scale five full
    # scans of the detection table dominate.  Past the input-bytes
    # threshold, ONE partial-aggregated groupBy(unit, pred, truth) is
    # site-persisted and every consumer regroups the tiny aggregate
    # (counts are additive, so each derived aggregate is IDENTICAL —
    # parity-pinned in tests/test_validation.py).
    from esper_tv_spark.plans import partitions

    # engage once the detection table is a genuinely wide scan (blowup
    # 1.0): ~4 extra rescans x input bytes vs one persisted aggregate
    if partitions.wider_than_floor(labeled, 1.0):
        from esper_tv_spark.plans.cache import register_persisted

        base = register_persisted(
            "validation.bootstrap_adjusted_totals.base",
            dets.groupBy("unit", "pred", "truth").agg(
                F.count(F.lit(1)).alias("bn")
            ),
        )
        dets_counts = base  # (unit, pred, truth, bn)
        cmat = dets_counts.groupBy("truth", "pred").agg(F.sum("bn").alias("n"))
    else:
        dets_counts = None
        cmat = dets.groupBy("truth", "pred").agg(F.count(F.lit(1)).alias("n"))
    colsum = cmat.groupBy("pred").agg(F.sum("n").alias("col_n"))
    p4 = cmat.join(colsum, "pred").select(
        "truth",
        "pred",
        F.round(F.lit(float(sc)) * F.col("n").cast("double") / F.col("col_n").cast("double"))
        .cast("long")
        .alias("p4"),
    )

    # per-unit predicted counts (the pred_sample rows) + dense 0..n-1 index.
    # Window.orderBy with no partition is a single-partition global sort —
    # correct ONLY because validation samples are hand-label-sized. The
    # raise_error guard makes misuse on a large table fail loudly at
    # execution time (data-side, so no extra driver job to check).
    if dets_counts is not None:
        unit_counts = dets_counts.groupBy("unit", "pred").agg(
            F.sum("bn").alias("cnt")
        )
        units = dets_counts.select("unit").distinct()
    else:
        unit_counts = dets.groupBy("unit", "pred").agg(F.count(F.lit(1)).alias("cnt"))
        units = dets.select("unit").distinct()
    w = Window.orderBy("unit")
    idx = F.row_number().over(w) - F.lit(1)
    unit_idx = units.withColumn(
        "__idx",
        F.when(
            idx >= F.lit(1_000_000),
            F.raise_error(
                F.lit(
                    "bootstrap_adjusted_totals: >1e6 distinct units — this "
                    "operator is for hand-label-sized validation samples "
                    "(global-sort unit index); sample first"
                )
            ).cast("int"),
        ).otherwise(idx),
    )
    n_units = units.agg(F.count(F.lit(1)).alias("n_units"))

    # trials x draws grid -> drawn unit index (Knuth hash, engine-portable)
    grid = (
        labeled.sparkSession.range(0, trials)
        .select(F.col("id").alias("t"), F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"))
        .crossJoin(F.broadcast(n_units))
        .select(
            "t",
            (
                ((F.lit(seed) + F.col("t") * F.lit(k) + F.col("j")) * F.lit(_KNUTH))
                % F.lit(_MOD)
                % F.col("n_units")
            ).alias("__idx"),
        )
    )
    draws = grid.join(F.broadcast(unit_idx), "__idx").select("t", "unit")

    # per-trial per-class totals (exact ints); a unit drawn twice counts twice
    totals_t = (
        draws.join(unit_counts, "unit").groupBy("t", "pred").agg(F.sum("cnt").alias("total"))
    )
    # unadjusted stat, scaled: total * 1e4; adjusted: sum_g2 total[g2]*P4[g,g2]
    unadj_t = totals_t.select(
        "t", F.col("pred").alias("cls"), (F.col("total") * F.lit(sc)).alias("s")
    )
    adj_t = (
        totals_t.join(p4, "pred")
        .groupBy("t", F.col("truth").alias("cls"))
        .agg(F.sum(F.col("total") * F.col("p4")).alias("s"))
    )

    # full-sample est (same scaled forms) and true totals
    if dets_counts is not None:
        full = dets_counts.groupBy("pred").agg(F.sum("bn").alias("total"))
    else:
        full = dets.groupBy("pred").agg(F.count(F.lit(1)).alias("total"))
    est_unadj = full.select(F.col("pred").alias("cls"), (F.col("total") * F.lit(sc)).alias("est_s"))
    est_adj = (
        full.join(p4, "pred")
        .groupBy(F.col("truth").alias("cls"))
        .agg(F.sum(F.col("total") * F.col("p4")).alias("est_s"))
    )
    if dets_counts is not None:
        true_tot = dets_counts.groupBy(F.col("truth").alias("cls")).agg(
            F.sum("bn").alias("true_total")
        )
    else:
        true_tot = dets.groupBy(F.col("truth").alias("cls")).agg(
            F.count(F.lit(1)).alias("true_total")
        )

    # Single-pass summarize: tag both variants and aggregate the union once
    # (one grouped exchange instead of two parallel summarize subtrees).
    stats_t = unadj_t.withColumn("variant", F.lit("unadjusted")).unionByName(
        adj_t.withColumn("variant", F.lit("adjusted"))
    )
    est = est_unadj.withColumn("variant", F.lit("unadjusted")).unionByName(
        est_adj.withColumn("variant", F.lit("adjusted"))
    )
    per_cls = stats_t.groupBy("cls", "variant").agg(
        F.sum("s").alias("sum_s"), F.sum(F.col("s") * F.col("s")).alias("sum_sq")
    )
    t = float(trials)
    scd = float(sc)
    # outer join: a class predicted in the full sample but never drawn in a
    # trial still reports (sum_s=0 -> bias=-true_total); a class that never
    # appears as a hand label is reported against true_total=0 instead of
    # being silently dropped (reference computes bias against a zero true
    # total).
    spine = per_cls.join(est, ["cls", "variant"], "full_outer").join(
        true_tot, "cls", "left"
    )
    sum_s = F.coalesce(F.col("sum_s"), F.lit(0)).cast("double")
    sum_sq = F.coalesce(F.col("sum_sq"), F.lit(0)).cast("double")
    mean = sum_s / F.lit(t) / F.lit(scd)
    meansq = sum_sq / F.lit(t) / F.lit(scd) / F.lit(scd)
    return spine.select(
        "cls",
        "variant",
        (F.coalesce(F.col("est_s"), F.lit(0)).cast("double") / F.lit(scd)).alias("est"),
        (mean - F.coalesce(F.col("true_total"), F.lit(0)).cast("double")).alias("bias"),
        F.sqrt(meansq - mean * mean).alias("std"),
    )
