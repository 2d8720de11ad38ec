"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Extra diagnostic keys make
regressions attributable run-over-run: "runs" records EVERY timed pass
per query (the headline number is the best-of-2 — plus, since r11, a
third pass whenever the first two disagree >1.5x, and one end-of-suite
revisit pass for the 8 heaviest rows, because this sandbox's noise
windows span whole minutes and can poison BOTH runs of consecutive
queries without tripping the disagreement trigger), "exchanges"
records the physical plan's shuffle count (a
plan-shape change shows up here even when timings jitter), and "load1"
records the 1-minute load average at emission time so a contended
capture is flaggable.

Each query is forced with a full collect() (the driver's correctness flow
also materializes results). A full warmup pass at sf0.001 first so
JVM/codegen startup isn't attributed to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from esper_tv_spark import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_region_revenue",
    "q06_top_order_per_customer",
    "q08_weighted_screen_time",
    "q16_events_hourly",
    "q17_event_sessions",
    "q18_interval_coalesce",
    "q20_interval_minus",
    "q21_interval_overlap_measure",
    "q24_word_counts",
    "q28_minhash_lsh_pairs",
    "q29_simhash",
    "q31_knn",
    "q32_label_centroids",
    # round-2 additions: the fused near-dup verify, the deepest composite,
    # and the new one-shuffle sweep + corpus ops
    "q37_jaccard_verify",
    "q56_commercial_detection",
    "q66_coverage_sweep",
    "q67_decontaminate",
    # round-3 additions: the banded SRP near-dup scale path, the bootstrap
    # validation estimator, and the deterministic IVF / PQ index paths
    "q51_near_dup_embeddings",
    "q77_bootstrap_validation",
    "q80_ivf_ann",
    "q81_pq_codes",
    # round-5 addition: SemDeDup (cluster-blocked semantic dedup)
    "q85_semantic_dedup",
    # round-6 additions: the persisted-store probe paths (IVF census +
    # joinless PQ ADC), the audio + video decode stages, the fused IVF-PQ
    # probe
    "q87_ivf_cell_census",
    "q88_pq_adc_topk",
    "q89_wav_decode_stats",
    "q90_avi_decode_stats",
    "q92_ivfpq_ann",
    # round-7 additions: the OPQ-rotated IVF-PQ probe (same zero-join
    # serving plan as q92; the rotation costs one GEMM at build only)
    # and the IVF-SQ8 probe (1 byte/dim scalar codes, codebook-free)
    "q94_opq_ann",
    "q95_ivfsq_ann",
    # and the indexed BATCH kNN joins (one posting-list scan amortized
    # across the query batch — the serving twins of the single probes)
    "q96_ivf_knn_join",
    "q97_ivfpq_knn_join",
    # round-8 additions: the batched-serving matrix completed — residual
    # IVF-PQ kNN join (per-(qid,cell) literal LUTs) and the IVF-SQ8 batch
    # join (query slice as a broadcast column, no LUTs at all)
    "q98_ivfpq_residual_knn_join",
    "q99_ivfsq_knn_join",
    "q100_hier_ivf_ann",
    "q101_hier_ivf_knn_join",
    "q102_ivf_delete_probe",
    "q103_trained_groups_ann",
    "q104_retired_cell_probe",
    "q105_lut_table_adc_join",
    # round-9 additions: pre-filtered ANN + range search (one semi-join
    # on the shared posting scan), the filtered batch join, hybrid
    # BM25+ANN reciprocal-rank fusion, and the two corpus-prep steps
    # (weighted sampling via TakeOrdered; shard packing's two-level
    # distributed prefix sum)
    "q106_filtered_ann",
    "q107_range_search",
    "q108_filtered_knn_join",
    "q109_hybrid_rrf_search",
    "q110_weighted_sample",
    "q111_shard_packing",
    "q112_weighted_rrf",
    # round-10 additions: the DSL-compiled hybrid (entry point A, priced
    # through the compiler), interpolation fusion, span dedup, funnel,
    # PageRank, MMR — and the exact-similarity/analytics family (PassJoin
    # edit join, gap fill + LOCF, Misra-Gries heavy hitters, AllPairs
    # set-sim join, degree-oriented triangles, cohort retention).
    # q123 is the heaviest: ~35M oriented wedges on the 1.2M-edge
    # co-purchase graph — an honest exact-triangle wall, kept.
    "q113_dsl_hybrid",
    "q114_interp_fusion",
    "q115_repeated_spans",
    "q116_event_funnel",
    "q117_pagerank",
    "q118_mmr_diversified",
    "q119_fuzzy_title_join",
    "q120_gap_fill",
    "q121_heavy_hitters",
    "q122_set_similarity_join",
    "q123_triangle_count",
    "q124_cohort_retention",
    "q125_exact_quantiles",
    "q126_grouped_weighted_sample",
    # q93 (Carter-Wegman minhash) is DEMOTED from the headline loop
    # (round-6 VERDICT #5): it lost its own bake-off to q28's classic
    # signature (3.2s/round re-proving a negative); it remains a full
    # correctness contract at the sf0.01 gate.  The reclaimed wall went
    # to the multi-probe SemDeDup recall measurement below.
]

# run once each at the 10x rehearsal scale (see tools/make_scale.py)
SCALE_QUERIES = [
    "q51_near_dup_embeddings",
    "q56_commercial_detection",
    "q77_bootstrap_validation",
    "q81_pq_codes",
    "q80_ivf_ann",
    "q37_jaccard_verify",
    "q85_semantic_dedup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("esper-tv-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    # warmup: run the whole suite once at sf0.001 so JVM JIT + whole-stage
    # codegen caches are hot — the measured pass then reflects steady-state
    # per-query cost, not first-compile latency
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in HEADLINE:
            qs[name](spark, warm_dir).collect()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    from esper_tv_spark.plans.introspect import count_shuffles

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    exchanges: dict[str, int] = {}
    for name in HEADLINE:
        best = None
        runs[name] = []
        for _ in range(2):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.collect()
            dt = round(time.time() - t0, 3)
            runs[name].append(dt)
            best = dt if best is None or dt < best else best
        # noise mitigation (r10 VERDICT #6, additions-only): this
        # sandbox's wall clock swings ~2x between minutes, so when the
        # two runs disagree by >1.5x one of them hit a noisy window —
        # take a THIRD run and keep the best-of-3.  Methodology is
        # otherwise unchanged (same collect, same query); a quiet pair
        # never triggers it.
        if max(runs[name]) > 1.5 * min(runs[name]):
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            dt = round(time.time() - t0, 3)
            runs[name].append(dt)
            best = dt if dt < best else best
        timings[name] = best
        # drop any blocks a composite pinned (q56 caches its presence
        # inputs): every query starts cold-cache, and a heavy query late
        # in the suite isn't squeezed by an earlier query's residue
        spark.catalog.clearCache()
        try:
            exchanges[name] = count_shuffles(qs[name](spark, sf_dir))
        except Exception:
            exchanges[name] = -1

    # revisit pass (r11, additions-only): this sandbox's noise windows
    # span MINUTES — both best-of-2 runs of several consecutive queries
    # can land inside one (measured same-HEAD q81 [11.7, 11.0] in one
    # capture vs [2.3, 2.0] in the faithful replica an hour later), and
    # a consistent-but-wrong pair never trips the >1.5x third-run
    # trigger.  Re-time the heaviest rows once more at the END of the
    # suite — minutes away from their first visit, so a window that
    # poisoned the first visit has moved on.  Same collect, same query,
    # best-of-all-runs; every pass stays recorded in "runs".
    for name in sorted(timings, key=lambda n: -timings[n])[:8]:
        t0 = time.time()
        qs[name](spark, sf_dir).collect()
        dt = round(time.time() - t0, 3)
        runs[name].append(dt)
        if dt < timings[name]:
            timings[name] = dt
        spark.catalog.clearCache()

    # scale rehearsal: if the 10x dataset exists (tools/make_scale.py), run
    # the heaviest queries once at sf1 and report the time ratio vs their
    # sf0.1 best — the linearity proof that banding / caps / AQE engage at
    # a decade more data (anything >>10x flags a super-linear operator).
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale", "sf1"),
    )
    scale: dict[str, dict] = {}
    if os.path.isdir(scale_dir) and os.environ.get("SPARK_GRAFT_SKIP_SCALE") != "1":
        for name in SCALE_QUERIES:
            # a broken/partial scale dataset must not discard the whole
            # sf0.1 measurement — record the error and keep going
            try:
                passes = []
                for _ in range(2):
                    t0 = time.time()
                    qs[name](spark, scale_dir).collect()
                    passes.append(round(time.time() - t0, 3))
                spark.catalog.clearCache()
                try:
                    ex = count_shuffles(qs[name](spark, scale_dir))
                except Exception:
                    ex = -1
                base = timings.get(name)
                # best-of-2, like the sf0.1 suite: pass 1 includes one-time
                # index builds (q51's SRP projection) and codegen compiles
                scale[name] = {
                    "sec": min(passes),
                    "runs": passes,
                    "exchanges": ex,
                    "ratio_vs_sf0.1": round(min(passes) / base, 2) if base else None,
                }
            except Exception as e:
                scale[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}

    # skew rehearsal: if the zipfian fixture exists (tools/make_skew.py),
    # time the same hot-key join three ways — AQE skew split off / on /
    # explicit salting (plans/salting.py) — under a forced shuffle join
    # (broadcast disabled: the fixture models the dim-too-big-to-broadcast
    # regime). This turns "the skew machinery engages" into a measured
    # wall-clock ratio instead of a plan-shape assertion.
    skew_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale", "skew")
    skew: dict[str, dict] = {}
    if os.path.isdir(skew_dir) and os.environ.get("SPARK_GRAFT_SKIP_SCALE") != "1":
        from pyspark.sql import functions as F

        from esper_tv_spark.plans.salting import replicated_skew_join

        def skew_query(salted: bool):
            ev = spark.read.parquet(os.path.join(skew_dir, "events_skew.parquet"))
            dim = spark.read.parquet(os.path.join(skew_dir, "users_dim.parquet"))
            j = (
                replicated_skew_join(ev, dim, ["user_id"], n_salts=32)
                if salted
                else ev.join(dim, "user_id")
            )
            return j.groupBy("segment").agg(
                F.sum("amount").alias("amt"), F.count(F.lit(1)).alias("n")
            )

        saved = {
            k: spark.conf.get(k)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            # the default split thresholds (256MB) are cluster-sized; scale
            # them to the fixture so the splitter can engage at bench scale
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m"
            )
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
            for name, enabled, salted in (
                ("join_skew_off", "false", False),
                ("join_skew_aqe", "true", False),
                ("join_salted", "false", True),
            ):
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
                passes = []
                for _ in range(2):
                    t0 = time.time()
                    skew_query(salted).collect()
                    passes.append(round(time.time() - t0, 3))
                skew[name] = {"sec": min(passes), "runs": passes}
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    # decoder-hook row (r9 VERDICT #8): price the set_decoder seam — the
    # path a 100 TB decode run uses — against the default pure-Python
    # codec on the same Sub-filtered PNG workload, asserting identical
    # decoded stats.  The workload is generated in-memory (Sub filter
    # exercises the sequential unfilter the fast path vectorizes; the
    # contract fixtures use filter 0, where the two decoders coincide).
    decoder_hook: dict[str, object] = {}
    try:
        import numpy as _np

        from esper_tv_spark.operators import multimodal as _mm

        _rng = _np.random.RandomState(20260816)
        _rows = []
        for a in range(96):
            img = _rng.randint(0, 256, size=(96, 96, 3), dtype=_np.uint8)
            _rows.append(
                (a, bytearray(_mm.png_encode(img, filter_type=1)), (96, 96, "png"))
            )
        _assets = spark.createDataFrame(
            _rows, f"asset_id long, payload binary, meta struct<{_mm.IMAGE_META_SCHEMA}>"
        ).repartition(32)

        def _decode_all():
            t0 = time.time()
            got = sorted(
                tuple(r) for r in _mm.decode_stats(_assets).collect()
            )
            return round(time.time() - t0, 3), got

        default_s, default_stats = _decode_all()
        prev = _mm.install_fast_decoders()
        try:
            hooked_s, hooked_stats = _decode_all()
        finally:
            _mm.set_decoder(prev)
        if hooked_stats != default_stats:
            raise AssertionError("hooked decoder diverged from default stats")
        decoder_hook = {
            "images": 96,
            "px": "96x96 Sub-filtered PNG",
            "default_s": default_s,
            "hooked_s": hooked_s,
            "speedup": round(default_s / max(hooked_s, 1e-9), 1),
            "parity": True,
        }
    except Exception as e:  # noqa: BLE001 — report, don't hide
        decoder_hook = {"error": f"{type(e).__name__}: {str(e)[:200]}"}

    # multi-probe SemDeDup recall: the scale fixture's planted ~0.95-cosine
    # near-dup pairs are a KNOWN answer; measure how many planted dup ids
    # the production path catches at cluster_probes 1 vs 2 (the round-6
    # finding: single-probe blocking misses boundary-straddling pairs —
    # ~74% recall; p=2 recovers them).  Measuring the winner instead of
    # re-benching q93's bake-off loser (VERDICT r6 #5).
    semrec: dict[str, dict] = {}
    if os.path.isdir(scale_dir) and os.environ.get("SPARK_GRAFT_SKIP_SCALE") != "1":
        try:
            sys.path.insert(
                0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
            )
            from pyspark.sql import functions as F
            from verify_plants import expected_pairs

            from esper_tv_spark.operators.dedup import (
                recommended_clusters,
                semantic_dedup,
            )
            from esper_tv_spark.plans.cache import release_all
            from esper_tv_spark.plans.partitions import parquet_num_rows

            want = expected_pairs(scale_dir, 50)
            dup_ids = sorted(b for _a, b in want)
            emb = entry_mod._t(spark, scale_dir, "embeddings")
            # FAIL LOUDLY if the fixture lost its plants (the r9 regression:
            # a 64-dim rebuild silently dropped them and the probe shipped
            # recall 0.0 as if it were a measurement) — one broadcast
            # semi-join count BEFORE measuring anything
            probe_ids = spark.createDataFrame(
                [(int(i),) for i in dup_ids], "vec_id long"
            )
            present = emb.join(
                F.broadcast(probe_ids), "vec_id", "left_semi"
            ).count()
            if present != len(dup_ids):
                raise AssertionError(
                    f"scale fixture at {scale_dir} is missing planted near-dup "
                    f"ids ({present}/{len(dup_ids)} present) — regenerate with "
                    "tools/make_scale.py (embed_dim=256); recall cannot be "
                    "measured against an absent ground truth"
                )
            n = parquet_num_rows(os.path.join(scale_dir, "embeddings.parquet"))
            k = recommended_clusters(n)
            cents = (
                emb.orderBy(F.col("vec_id").asc())
                .limit(k)
                .select(
                    F.col("vec_id").alias("cluster"),
                    F.col("embedding").alias("cvec"),
                )
            )
            wdf = spark.createDataFrame([(int(i),) for i in dup_ids], "vec_id long")
            for p in (1, 2):
                t0 = time.time()
                sem = semantic_dedup(
                    emb, k=k, threshold=0.4, centroids=cents, cluster_probes=p
                )
                caught = (
                    sem.where("is_dup")
                    .join(F.broadcast(wdf), "vec_id", "left_semi")
                    .count()
                )
                semrec[f"p{p}"] = {
                    "planted": len(dup_ids),
                    "caught": caught,
                    "recall": round(caught / max(len(dup_ids), 1), 4),
                    "sec": round(time.time() - t0, 3),
                }
                release_all()
                spark.catalog.clearCache()
        except Exception as e:
            semrec = {"error": f"{type(e).__name__}: {str(e)[:200]}"}

    total = round(sum(timings.values()), 3)
    # 1-minute load average alongside the total (r10 VERDICT #6): lets
    # the driver flag captures taken in one of this sandbox's noisy
    # windows without changing any timing methodology
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "exchanges": exchanges,
        "load1": load1,
        "sf": sf,
    }
    if scale:
        out["scale_sf1"] = scale
    if semrec:
        out["semdedup_recall"] = semrec
    if decoder_hook:
        out["decoder_hook"] = decoder_hook
    if skew:
        out["skew"] = skew
    line = json.dumps(out)
    # also persist the artifact to a file: the round-5 driver capture
    # truncated the stdout JSON line ("parsed": null), losing the per-query
    # runs and exchange counts — the file survives any stdout mangling
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"), "w") as f:
        f.write(line + "\n")
    # stop the session BEFORE printing: the r9 driver capture ended with
    # executor-log spam AFTER the JSON line (retried worker crashes) and
    # parsed as null — with the JVM already down, nothing can write to the
    # merged stream after the line below, so the JSON is always last
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
