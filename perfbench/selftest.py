"""Self-test of the benchmark's answer checks: a corrupted result must be
counted as a failed operation and raise failed_ratio.

    python3 perfbench/selftest.py

Run from a checkout root. Needs no Spark session: the "engine" answers are
built from the reference answers themselves, then corrupted.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import Outcome, check_all, failed_count  # noqa: E402
from workloads import AnnWorkload, Op, QueryWorkload  # noqa: E402


def ratio(outcomes) -> float:
    check_all(outcomes)
    return failed_count(outcomes) / len(outcomes)


def query_case(root: str) -> tuple[float, float]:
    """q01 at sf0.001: the oracle's own rows pass; one altered cell fails."""
    import duckdb

    wl = QueryWorkload(root, os.path.join(root, ".perfbench_work", "selftest"),
                       random.Random(0), "sf0.001", ["q01_pricing_summary"], 1.0)
    wl.prepare_checks()
    con = duckdb.connect()
    for t in wl._check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{wl.sf_dir}/{t}.parquet'")
    import __spark_entry__

    cur = con.execute(__spark_entry__.oracle_sql()["q01_pricing_summary"])
    cols, rows = [d[0] for d in cur.description], cur.fetchall()
    bad = [tuple(r) for r in rows]
    i = cols.index("count_order")
    bad[0] = bad[0][:i] + (bad[0][i] + 1,) + bad[0][i + 1 :]

    def outcome(result):
        o = Outcome(wl._op("q01_pricing_summary"), "self", "timed")
        o.result = result
        return o

    def good(n):
        return [outcome((cols, rows)) for _ in range(n)]

    return ratio(good(4)), ratio(good(3) + [outcome((cols, bad))])


def ann_case() -> tuple[float, float, float, float]:
    """Exact top-10 passes; a tombstoned id or a wrong score fails, and so
    do probes that return live ids with exact scores but no true
    neighbours (recall below the floor)."""
    wl = AnnWorkload.__new__(AnnWorkload)
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(200, 16))
    wl.ids = np.arange(1000, 1200)
    wl.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    wl.pos = {int(i): p for p, i in enumerate(wl.ids)}
    wl.K = 10
    live = np.ones(200, dtype=bool)
    live[5] = False
    q = list(vecs[5] + 0.01)
    cos = wl.unit @ (np.asarray(q) / np.linalg.norm(q))
    order = [p for p in np.argsort(-cos) if live[p]][:10]
    exact = [(int(wl.ids[p]), round(float(cos[p]), 6)) for p in order]
    tombstoned = [(int(wl.ids[5]), round(float(cos[5]), 6))] + exact[:9]
    wrong_score = [(exact[0][0], exact[0][1] - 0.01)] + exact[1:]
    far = [p for p in np.argsort(cos) if live[p]][:10]
    no_neighbours = [(int(wl.ids[p]), round(float(cos[p]), 6)) for p in far]

    def outcome(rows):
        op = Op("ivf_probe", "probe", None,
                lambda res: wl._check_topk(res, q, live))
        o = Outcome(op, "self", "timed")
        o.result = rows
        return o

    def good(n):
        return [outcome(exact) for _ in range(n)]

    def low_recall(outcomes):
        check_all(outcomes)
        wl.check_run(outcomes)
        return failed_count(outcomes) / len(outcomes)

    return (ratio(good(4)), ratio(good(3) + [outcome(tombstoned)]),
            ratio(good(3) + [outcome(wrong_score)]),
            low_recall(good(1) + [outcome(no_neighbours) for _ in range(3)]))


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    q_ok, q_bad = query_case(root)
    a_ok, a_tomb, a_score, a_recall = ann_case()
    print(f"query oracle:  failed_ratio clean={q_ok:.2f} corrupted={q_bad:.2f}")
    print(f"ann exact:     failed_ratio clean={a_ok:.2f} tombstoned={a_tomb:.2f} "
          f"wrong-score={a_score:.2f} no-neighbours={a_recall:.2f}")
    passed = (q_ok == 0 and a_ok == 0 and q_bad > 0 and a_tomb > 0 and a_score > 0
              and a_recall > 0)
    print("selftest", "passed" if passed else "FAILED")
    return 0 if passed else 1


if __name__ == "__main__":
    sys.exit(main())
