"""The STANDING scale rehearsal: run the heavy operator machinery at the
1000x (.scale/sf100) and 100x (.scale/sf10) fixtures with ZERO hand
confs — the operators' own default shuffle advice must carry them — then
the full sf1 hash gate and, as the LAST step, the sf100 spot hash-gate
(tools/sf100_gate.py's feasible-oracle list).  Every round that ran this
caught a real scale bug (r4: q37 shuffle sizing, int64 hash overflow;
r6: q60's 34,614-doc boilerplate bucket = a 1.2B-pair single-task OOM),
so it is wired as ONE command rather than a hand-picked checklist.

Steps (each appends one JSON line to .scale/rehearsal_<tag>.jsonl):

  1. q51 @ sf100 — planted-pair closed form (tools/verify_plants math):
     recovered/extra counts + wall.  SQL replay infeasible at this scale;
     the fixture's known answer IS the oracle.
  2. q37 @ sf100 — Spark wall with only the default advise_for_df sizing.
  3. q56 @ sf100 — Spark wall (fused single-projection plan at 1000x).
  4. q85 @ sf100 — PRODUCTION path: frozen rank-init centroids
     (k = recommended_clusters(n)), BLAS assignment + BLAS grid cells.
  5. q85 fast path walls @ sf1 and sf10 — the <=4x-per-decade check.
  6. Full hash gate @ .scale/sf1 via tools/check.py (separate process,
     24g driver heap — 12g OOMs at q60's result collect).
  7. sf100 spot hash-gate (tools/sf100_gate.py) — 1000x DuckDB hash
     evidence for every feasible-oracle query, no hand-picking.

Usage: nohup python tools/rehearse.py [--tag r7] > .scale/rehearsal.log 2>&1 &
Prereq: .scale fixtures (python tools/make_scale.py 10|100|1000
.scale/sf1|sf10|sf100 --embed-dim 256) and an idle box (check
`top -b -n 2` for stale gate JVMs before trusting any wall).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

SF1 = os.path.join(REPO, ".scale", "sf1")
SF10 = os.path.join(REPO, ".scale", "sf10")
SF100 = os.path.join(REPO, ".scale", "sf100")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r7", help="suffix for the jsonl/log artifacts")
    ap.add_argument(
        "--skip-walls",
        action="store_true",
        help="skip steps 1-5 (wall measurements); run only the two hash gates",
    )
    args = ap.parse_args()
    out_path = os.path.join(REPO, ".scale", f"rehearsal_{args.tag}.jsonl")

    def emit(row: dict) -> None:
        row["ts"] = time.strftime("%H:%M:%S")
        with open(out_path, "a") as f:
            f.write(json.dumps(row) + "\n")
        print(row, flush=True)

    # Production memory for the in-process steps: at sf100 the q51 probe's
    # vector-attach broadcasts build ~8GiB relations each, and the
    # heap-aware cutoff (plans/partitions.broadcast_budget_bytes) routes
    # them to a shuffle join on small heaps — the rehearsal should
    # exercise the production map-side plan.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

    if not args.skip_walls:
        import __spark_entry__ as m
        from esper_tv_spark import get_spark
        from esper_tv_spark.plans.partitions import parquet_num_rows
        from verify_plants import expected_pairs, score_plants

        spark = get_spark(f"rehearse-{args.tag}")
        spark.sparkContext.setLogLevel("ERROR")
        qs = m.queries()

        # ---- 1. q51 @ sf100: planted-pair closed form (executor-side
        # score: the pair stream is GBs at this scale — never collected)
        want = expected_pairs(SF100, 50)
        hit, extra, wall = score_plants(spark, m, SF100, want)
        emit(
            {
                "step": "q51_sf100_plants",
                "planted": len(want),
                "recovered": hit,
                "extra": extra,
                "wall_s": wall,
            }
        )
        spark.catalog.clearCache()

        # ---- 2/3. q37, q56 @ sf100: Spark walls, default confs only ----
        for name in ("q37_jaccard_verify", "q56_commercial_detection"):
            t0 = time.time()
            n = qs[name](spark, SF100).count()
            emit({"step": f"{name}_sf100", "rows": n, "wall_s": round(time.time() - t0, 1)})
            spark.catalog.clearCache()

        # ---- 4. q85 @ sf100: production path (frozen centroids, BLAS) --
        from pyspark.sql import functions as F

        from esper_tv_spark.operators.dedup import recommended_clusters, semantic_dedup

        emb = m._t(spark, SF100, "embeddings")
        n = parquet_num_rows(os.path.join(SF100, "embeddings.parquet"))
        k = recommended_clusters(n)
        t0 = time.time()
        cents = (
            emb.orderBy(F.col("vec_id").asc())
            .limit(k)
            .select(F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec"))
        )
        out = semantic_dedup(emb, k=k, threshold=0.4, centroids=cents)
        dups = out.where("is_dup").count()
        total = out.count()
        emit(
            {
                "step": "q85_sf100_production",
                "n": n,
                "k": k,
                "rows": total,
                "dups": dups,
                "wall_s": round(time.time() - t0, 1),
            }
        )
        spark.catalog.clearCache()

        # ---- 5. q85 fast walls @ sf1 / sf10 (the per-decade ratio) -----
        walls = {}
        for tag, d in (("sf1", SF1), ("sf10", SF10)):
            embx = m._t(spark, d, "embeddings")
            nx = parquet_num_rows(os.path.join(d, "embeddings.parquet"))
            kx = recommended_clusters(nx)
            t0 = time.time()
            cx = (
                embx.orderBy(F.col("vec_id").asc())
                .limit(kx)
                .select(F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec"))
            )
            dx = semantic_dedup(embx, k=kx, threshold=0.4, centroids=cx)
            ddups = dx.where("is_dup").count()
            walls[tag] = round(time.time() - t0, 1)
            emit(
                {
                    "step": f"q85_{tag}_production",
                    "n": nx,
                    "k": kx,
                    "dups": ddups,
                    "wall_s": walls[tag],
                }
            )
            spark.catalog.clearCache()
        emit(
            {
                "step": "q85_decade_ratio",
                "sf10_over_sf1": round(walls["sf10"] / max(walls["sf1"], 0.001), 2),
            }
        )

        # ---- 5b. interval-skew walls (SURVEY §7's flagged regime: one ---
        # 3-hour video among 10-minute clips).  banded vs unbanded on the
        # same join — the banding must defeat the hot (video_id) key by
        # splitting it across (video, band) buckets.
        from esper_tv_spark.operators.intervals import overlap_join

        skew_iv = os.path.join(REPO, ".scale", "skew_intervals")
        if not os.path.isdir(skew_iv):
            from make_skew import build_intervals

            build_intervals(skew_iv)
        iv_a = spark.read.parquet(os.path.join(skew_iv, "iv_a.parquet"))
        iv_b = spark.read.parquet(os.path.join(skew_iv, "iv_b.parquet"))
        iv_walls = {}
        iv_rows = {}
        for tag, band in (("banded_auto", "auto"), ("unbanded", None)):
            t0 = time.time()
            iv_rows[tag] = overlap_join(iv_a, iv_b, ["video_id"], band=band).count()
            iv_walls[tag] = round(time.time() - t0, 1)
            emit({"step": f"interval_skew_{tag}", "rows": iv_rows[tag], "wall_s": iv_walls[tag]})
            spark.catalog.clearCache()
        emit(
            {
                "step": "interval_skew_ratio",
                "rows_match": iv_rows["banded_auto"] == iv_rows["unbanded"],
                "unbanded_over_banded": round(
                    iv_walls["unbanded"] / max(iv_walls["banded_auto"], 0.001), 2
                ),
            }
        )

        # ---- 5c. posting-list compaction @ sf1 (the streaming-insert ----
        # small-files story): build an IVF index over the sf1 base, stream
        # three micro-batches of the tail in, census, compact, and assert
        # probe bit-identity across the swap.
        import shutil

        from esper_tv_spark.streaming import file_stream
        from esper_tv_spark.streaming.ann import (
            compact_posting_lists,
            ivf_stream_insert,
            posting_fragment_census,
        )

        work = os.path.join(REPO, ".scale", "compact_rehearsal")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        emb1 = m._t(spark, SF1, "embeddings").select("vec_id", "embedding")
        n1 = parquet_num_rows(os.path.join(SF1, "embeddings.parquet"))
        cut = int(n1 * 0.75)
        idxc = os.path.join(work, "ivf")
        t0 = time.time()
        from esper_tv_spark.operators.similarity import ivf_build_index, ivf_probe_index

        ivf_build_index(emb1.where(F.col("vec_id") < cut), idxc, n_cells=32)
        build_s = round(time.time() - t0, 1)
        src = os.path.join(work, "tail_src")
        tail = emb1.where(F.col("vec_id") >= cut)
        for i in range(3):
            tail.where(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(src, mode="append")
        t0 = time.time()
        q = ivf_stream_insert(
            file_stream(spark, src, tail.schema, max_files_per_trigger=1),
            idxc,
            os.path.join(work, "ckpt"),
        ).start()
        q.awaitTermination(600)
        insert_s = round(time.time() - t0, 1)
        census = posting_fragment_census(idxc)
        qv1 = [float(x) for x in emb1.where("vec_id = 3").first()["embedding"]]
        before = [tuple(r) for r in ivf_probe_index(spark, idxc, qv1, 10, n_probe=3).collect()]
        t0 = time.time()
        stats = compact_posting_lists(spark, idxc, min_fragments=2)
        compact_s = round(time.time() - t0, 1)
        after = [tuple(r) for r in ivf_probe_index(spark, idxc, qv1, 10, n_probe=3).collect()]
        emit(
            {
                "step": "compaction_sf1",
                "n_vectors": n1,
                "build_s": build_s,
                "insert_s": insert_s,
                "compact_s": compact_s,
                "max_fragments_before": max(census.values()),
                **stats,
                "probe_identical": before == after,
            }
        )
        shutil.rmtree(work, ignore_errors=True)
        spark.catalog.clearCache()
        spark.stop()

        # ---- 5d. OPQ recall at rehearsal scale (2M x 256 anisotropic ----
        # clustered fixture; r7's ladder was measured at 21k).  Own
        # process — measure_pq_recall builds five indexes and holds the
        # corpus matrix driver-side.
        aniso2m = os.path.join(REPO, ".scale", "clustered_aniso_2m")
        if not os.path.exists(os.path.join(aniso2m, "embeddings.parquet")):
            t0 = time.time()
            r = subprocess.run(
                [
                    sys.executable, os.path.join(REPO, "tools", "make_scale.py"),
                    aniso2m, "--clustered", "--n=2000000", "--clusters=1024",
                    "--plant=500", "--anisotropy=1.0",
                ],
                cwd=REPO,
            )
            emit({"step": "build_aniso_2m", "rc": r.returncode,
                  "wall_s": round(time.time() - t0, 1)})
        t0 = time.time()
        recall_log = os.path.join(REPO, ".scale", f"pq_recall_2m_{args.tag}.log")
        with open(recall_log, "w") as lf:
            r = subprocess.run(
                [
                    sys.executable, os.path.join(REPO, "tools", "measure_pq_recall.py"),
                    aniso2m, "--n-probe=8",
                ],
                stdout=lf, stderr=subprocess.STDOUT, cwd=REPO,
            )
        lines = [l for l in open(recall_log).read().splitlines() if l.strip()]
        recall_row = {}
        for line in reversed(lines):
            try:
                recall_row = json.loads(line)
                break
            except ValueError:
                continue
        emit(
            {
                "step": "opq_recall_2m",
                "rc": r.returncode,
                "wall_s": round(time.time() - t0, 1),
                **recall_row,
            }
        )

    # ---- 6. full hash gate @ sf1 (own process) --------------------------
    # 24g driver heap: check.py's documented scale deviation (12g OOM'd at
    # q60's result collect).  Stream stdout to a file so a mid-gate death
    # cannot lose the per-query record.
    rc_total = 0
    t0 = time.time()
    gate_log = os.path.join(REPO, ".scale", f"gate_sf1_{args.tag}.log")
    env = dict(os.environ, SPARK_CHECK_DRIVER_MEMORY="24g")
    with open(gate_log, "w") as lf:
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "check.py"), SF1],
            stdout=lf,
            stderr=subprocess.STDOUT,
            cwd=REPO,
            env=env,
        )
    rc_total |= r.returncode
    tail = [l for l in open(gate_log).read().splitlines() if l.strip()][-3:]
    emit(
        {
            "step": "full_gate_sf1",
            "rc": r.returncode,
            "tail": tail,
            "wall_s": round(time.time() - t0, 1),
        }
    )

    # ---- 6b. sampled sf100 oracle for the oracle-INFEASIBLE pair --------
    # (q85 / q94): stored-state spot-checks + complete probe replay over
    # stored state — see tools/sampled_oracle.py.  Own process (its q85
    # leg runs the full production SemDeDup at sf100).
    t0 = time.time()
    so_log = os.path.join(REPO, ".scale", f"sampled_oracle_{args.tag}.log")
    with open(so_log, "w") as lf:
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "sampled_oracle.py"), SF100],
            stdout=lf,
            stderr=subprocess.STDOUT,
            cwd=REPO,
            env=env,
        )
    rc_total |= r.returncode
    for line in open(so_log).read().splitlines():
        try:
            emit(json.loads(line))
        except ValueError:
            continue
    emit(
        {
            "step": "sampled_oracle_sf100",
            "rc": r.returncode,
            "wall_s": round(time.time() - t0, 1),
        }
    )

    # ---- 7. sf100 spot hash-gate (the un-forgettable 1000x evidence) ----
    t0 = time.time()
    gate100_log = os.path.join(REPO, ".scale", f"gate_sf100_{args.tag}.log")
    with open(gate100_log, "w") as lf:
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "sf100_gate.py")],
            stdout=lf,
            stderr=subprocess.STDOUT,
            cwd=REPO,
            env=env,
        )
    rc_total |= r.returncode
    tail = [l for l in open(gate100_log).read().splitlines() if l.strip()][-3:]
    emit(
        {
            "step": "spot_gate_sf100",
            "rc": r.returncode,
            "tail": tail,
            "wall_s": round(time.time() - t0, 1),
        }
    )
    return rc_total


if __name__ == "__main__":
    sys.exit(main())
