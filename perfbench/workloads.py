"""The benchmark's workloads: what each one sends, and how each answer is
checked. See README.md for why each was chosen and which layers it
stresses.

A workload object has a fixed life cycle, driven by run.py:

    fixtures()        make the inputs (before the session starts)
    setup(spark)      index builds; returns set-up counters
    warm_ops()        one untimed pass, so caches and JIT are warm
    round_ops()       one round of the seeded mix (called once per round)
    layer_counters()  workload-specific per-layer counters of a traced run
    prepare_checks()  reference answers, computed outside the timed phase
    check_run(outs)   run-level checks, after every op was checked
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import numpy as np


class Op:
    """One client request. `build` calls the program's public entry and
    returns a DataFrame (planned and collected by the harness) or a
    finished result; `check(result)` -> (ok, recall or None) runs after
    the timed phase. `prepare` (client-side input) and `after(result)`
    (client bookkeeping) run outside the op's clock."""

    def __init__(self, name, kind, build, check, prepare=None, after=None):
        self.name, self.kind, self.build, self.check = name, kind, build, check
        self.prepare, self.after = prepare, after


class QueryWorkload:
    """A seed-ordered mix of contract queries from ``__spark_entry__``,
    each answer compared with its DuckDB oracle in the canonical form of
    tools/check.py (the repository's correctness gate)."""

    def __init__(self, root, work, rng, sf, queries, nominal_round_s):
        from esper_tv_spark.sources.catalog import DEFAULT_SF_DIR

        self.root, self.work, self.rng = root, work, rng
        # the test tables of every scale sit side by side
        self.sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf)
        self.queries = list(queries)
        self.nominal_round_s = nominal_round_s
        self.oracle: dict[str, tuple[list[str], list[str]]] = {}
        # q51's plane count is derived from the oracle corpus at SQL-build time
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.sf_dir

    def fixtures(self) -> None:
        if not os.path.isdir(self.sf_dir):
            raise SystemExit(f"perfbench: test data {self.sf_dir} not found")

    def setup(self, spark) -> dict:
        import __spark_entry__

        self.spark = spark
        self.fns = __spark_entry__.queries()
        return {}

    def _op(self, name: str) -> Op:
        return Op(
            name,
            "query",
            lambda: self.fns[name](self.spark, self.sf_dir),
            lambda res: (self._same_as_oracle(name, res), None),
        )

    def warm_ops(self) -> list[Op]:
        return [self._op(q) for q in self.queries]

    def round_ops(self) -> list[Op]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return [self._op(q) for q in order]

    def layer_counters(self) -> dict[str, float]:
        return {}

    def check_run(self, outcomes) -> None:
        pass

    def prepare_checks(self) -> None:
        import duckdb

        import __spark_entry__

        check = load_check(self.root)
        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for q in self.queries:
            cur = con.execute(sql[q])
            pdf = check.canon([d[0] for d in cur.description], cur.fetchall())
            self.oracle[q] = (list(pdf.columns), check.frame_lines(pdf))
        con.close()
        self._check = check

    def _same_as_oracle(self, name: str, res) -> bool:
        cols, rows = res
        pdf = self._check.canon(cols, [tuple(r) for r in rows])
        want_cols, want_lines = self.oracle[name]
        return list(pdf.columns) == want_cols and self._check.frame_lines(pdf) == want_lines


def load_check(root: str):
    """tools/check.py as a module (its canonical form is the gate's)."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(root, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class AnnWorkload:
    """Embedding-store serving with writes beside reads on one index layer.

    Fixture: tools/make_scale.py's clustered corpus (a fixed-seed mixture
    of 64 Gaussians at dim 256, plus planted near-duplicates). Set-up
    indexes the first 90% of it. A round is a fixed serving loop of
    COMPACT_EVERY write cycles (one stream-insert of a seed-chosen tail
    batch, one tombstone of seed-chosen live ids, four single probes),
    then one 64-query batch kNN join, then one compaction with purge, so
    posting-list fragments build up over the cycles before it. Query
    vectors are seed-chosen corpus vectors plus seeded noise (cosine ~0.96
    to their source). A join whose mean recall@10 falls below its floor
    is a wrong answer, and so is every probe of a run whose probes' mean
    recall@10 falls below theirs."""

    N_VECTORS = 10_000  # + 500 planted near-duplicates
    N_CELLS = 32
    N_PROBE = 4
    K = 10
    BATCH = 64  # vectors per stream-insert
    JOIN_QUERIES = 64
    DELETES = 2  # ids per tombstone op
    COMPACT_EVERY = 3  # stream-inserts between compactions
    PROBES_PER_CYCLE = 4
    # recall@10 floors, set well below what the commit that defined the
    # benchmark measured (see README.md, "ann")
    JOIN_RECALL_FLOOR = 0.7  # mean over one join's 64 queries
    PROBE_RECALL_FLOOR = 0.55  # mean over a run's single probes

    def __init__(self, root, work, rng, nominal_round_s):
        self.root, self.work, self.rng = root, work, rng
        self.nominal_round_s = nominal_round_s
        self.nrng = np.random.default_rng(rng.getrandbits(63))
        self.index = os.path.join(work, "index")
        self.src = os.path.join(work, "stream", "src")
        self.ckpt = os.path.join(work, "stream", "ckpt")
        self.tombstones = 0  # deleted since the last purge
        self.bytes_in = self.bytes_written = 0
        self.fragment_samples: list[float] = []

    # ---- fixtures and set-up
    def fixtures(self) -> None:
        import pyarrow.parquet as pq

        corpus = os.path.join(self.work, "corpus")
        subprocess.run(
            [sys.executable, os.path.join("tools", "make_scale.py"), corpus,
             "--clustered", f"--n={self.N_VECTORS}"],
            cwd=self.root, check=True, capture_output=True,
        )
        self.corpus = os.path.join(corpus, "embeddings.parquet")
        t = pq.read_table(self.corpus, columns=["vec_id", "embedding"]).sort_by("vec_id")
        self.table = t
        self.ids = t.column("vec_id").to_numpy()
        # float32 as stored, without Python objects; the float64 unit
        # vectors of the checks are made in prepare_checks, after peak RSS
        # was read, so the harness's copies do not count as the program's
        flat = t.column("embedding").combine_chunks().flatten().to_numpy()
        self.vecs = flat.reshape(len(self.ids), -1)
        self.dim = self.vecs.shape[1]
        self.pos = {int(i): p for p, i in enumerate(self.ids)}
        n = len(self.ids)
        self.cut = int(self.ids[int(n * 0.9)])
        self.live = self.ids < self.cut  # IVF store contents
        tail = [int(i) for i in self.ids[self.ids >= self.cut]]
        self.rng.shuffle(tail)
        self.batches = [tail[i : i + self.BATCH] for i in range(0, len(tail), self.BATCH)]
        os.makedirs(self.src)

    def setup(self, spark) -> dict:
        import time

        from pyspark.sql import functions as F

        from esper_tv_spark.operators import similarity as sim

        self.spark, self.sim = spark, sim
        emb = spark.read.parquet(self.corpus).select("vec_id", "embedding")
        t0 = time.perf_counter()
        sim.ivf_build_index(
            emb.where(F.col("vec_id") < self.cut), self.index, n_cells=self.N_CELLS, fast=True
        )
        build_s = time.perf_counter() - t0
        vector_bytes = int(self.live.sum()) * self.dim * 4
        index_bytes = sum(s for _i, s in _tree_files(self.index).values())
        self.stream = spark.readStream.schema(emb.schema).parquet(self.src)
        return {
            "similarity_build_s": build_s,
            "index_bytes_per_vector_byte": index_bytes / vector_bytes,
        }

    # ---- the mix
    def _query(self) -> list[float]:
        p = int(self.nrng.integers(len(self.ids)))
        v = self.vecs[p].astype(np.float64)
        noise = self.nrng.normal(size=self.dim) * (0.3 * np.linalg.norm(v) / np.sqrt(self.dim))
        return [float(x) for x in v + noise]

    def _probe(self) -> Op:
        q = self._query()
        seen = {}

        def build():
            seen["live"] = self.live
            return self.sim.ivf_probe_index(
                self.spark, self.index, q, self.K, n_probe=self.N_PROBE, fast=True
            )

        def check(res):
            _cols, rows = res
            return self._check_topk([(int(r[0]), float(r[1])) for r in rows], q, seen["live"])

        return Op("ivf_probe", "probe", build, check)

    def _join(self, n_queries: int, recall_floor: float) -> Op:
        qs = [self._query() for _ in range(n_queries)]
        seen = {}

        def build():
            seen["live"] = self.live
            qdf = self.spark.createDataFrame(
                list(enumerate(qs)), "qid long, qvec array<double>"
            )
            return self.sim.ivf_knn_join_index(
                self.spark, self.index, qdf, self.K, n_probe=self.N_PROBE, fast=True
            )

        def check(res):
            _cols, rows = res
            by_q: dict[int, list] = {i: [] for i in range(len(qs))}
            for r in rows:
                by_q[int(r["qid"])].append((int(r["vec_id"]), float(r["cosine_sim"])))
            oks, recalls = zip(*(
                self._check_topk(sorted(by_q[i], key=lambda x: (-x[1], x[0])), qs[i],
                                 seen["live"])
                for i in range(len(qs))
            ))
            recall = sum(recalls) / len(recalls)
            return all(oks) and recall >= recall_floor, recall

        return Op("ivf_knn_join", "join", build, check)

    def _insert(self) -> Op:
        import pyarrow.parquet as pq

        from esper_tv_spark.streaming.ann import ivf_stream_insert

        batch = self.batches.pop()
        name = f"b{len(self.batches)}.parquet"
        seen = {}

        def prepare():
            rows = self.table.take(np.array([self.pos[i] for i in batch]))
            tmp = os.path.join(self.work, "stream", name)
            pq.write_table(rows, tmp)
            os.rename(tmp, os.path.join(self.src, name))
            seen["before"] = _tree_files(self.index)

        def build():
            q = ivf_stream_insert(self.stream, self.index, self.ckpt).start()
            q.awaitTermination()
            return q.exception() is None

        def after(_ok):
            new = self._count_write(seen["before"], len(batch) * self.dim * 4)
            seen["ids"] = sorted(
                int(i) for f in new if f.endswith(".parquet")
                for i in pq.read_table(f, columns=["id"]).column("id").to_pylist()
            )
            self._set_live(batch, True)

        return Op("ivf_stream_insert", "insert", build,
                  lambda ok: (bool(ok) and seen["ids"] == sorted(batch), None),
                  prepare=prepare, after=after)

    def _delete(self) -> Op:
        from esper_tv_spark.streaming.ann import ann_delete

        seen = {}

        def prepare():
            live_ids = self.ids[self.live]
            pick = self.nrng.choice(len(live_ids), size=self.DELETES, replace=False)
            seen["ids"] = [int(live_ids[i]) for i in pick]
            seen["before"] = _tree_files(self.index)

        def after(_n):
            self._count_write(seen["before"], len(seen["ids"]) * 8)
            self._set_live(seen["ids"], False)
            self.tombstones += len(seen["ids"])

        return Op("ann_delete", "delete",
                  lambda: ann_delete(self.spark, self.index, seen["ids"]),
                  lambda n: (n == len(seen["ids"]), None), prepare=prepare, after=after)

    def _compact(self) -> Op:
        from esper_tv_spark.streaming.ann import compact_posting_lists

        seen = {}

        def prepare():
            seen["before"] = _tree_files(self.index)
            seen["want"] = self.tombstones

        def after(_stats):
            self._count_write(seen["before"], 0)
            self.tombstones = 0

        def check(stats):
            # every tombstone since the last purge is dropped, one file per cell
            return (stats.get("purged_ids", 0) == seen["want"]
                    and stats["fragments_after"] <= stats["cells_total"]), None

        return Op("compact_posting_lists", "compact",
                  lambda: compact_posting_lists(self.spark, self.index, purge=True),
                  check, prepare=prepare, after=after)

    def round_ops(self) -> list[Op]:
        # a fixed serving loop: each cycle's reads see its writes, and the
        # compaction at the end folds the fragments of COMPACT_EVERY
        # inserts; the seed picks the inserted batches, the deleted ids and
        # the query vectors
        ops = []
        for _ in range(self.COMPACT_EVERY):
            ops += [self._insert(), self._delete()]
            ops += [self._probe() for _ in range(self.PROBES_PER_CYCLE)]
        return ops + [self._join(self.JOIN_QUERIES, self.JOIN_RECALL_FLOOR), self._compact()]

    def warm_ops(self) -> list[Op]:
        # a small join runs the same code as a full one in a quarter of the
        # time; its 8 queries are too few to hold it to the recall floor
        return [self._probe(), self._join(8, 0.0), self._insert(), self._delete(),
                self._compact()]

    # ---- bookkeeping (outside the clock) and checks
    def _set_live(self, ids, value: bool) -> None:
        live = self.live.copy()  # probes keep the mask they ran against
        live[[self.pos[i] for i in ids]] = value
        self.live = live

    def _count_write(self, before: dict, input_bytes: int) -> list[str]:
        """Account one write op; returns the files it created."""
        from esper_tv_spark.streaming.ann import posting_fragment_census

        after = _tree_files(self.index)
        # a hard-linked carry-over keeps its inode: only new inodes were written
        old = {ino for ino, _s in before.values()}
        new = [f for f, (ino, _s) in after.items() if ino not in old]
        self.bytes_written += sum(after[f][1] for f in new)
        self.bytes_in += input_bytes
        census = posting_fragment_census(self.index)
        self.fragment_samples.append(sum(census.values()) / max(1, len(census)))
        return new

    def layer_counters(self) -> dict[str, float]:
        return {
            "ann.fragments_per_cell": sum(self.fragment_samples) / len(self.fragment_samples),
            "ann.bytes_written_per_input_byte": self.bytes_written / self.bytes_in,
        }

    def prepare_checks(self) -> None:
        vecs = self.vecs.astype(np.float64)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def _check_topk(self, got, q, live):
        """k results, distinct ids, all live in the store (a returned
        tombstoned id fails), each score equal to the rounded exact cosine
        (IVF reranks exactly). Returns (ok, recall@k) against exact numpy
        cosine over the store's live vectors."""
        qv = np.asarray(q)
        cos = self.unit @ (qv / np.linalg.norm(qv))
        cand = np.flatnonzero(live)
        top = cand[np.argsort(-cos[cand], kind="stable")[: self.K]]
        truth = {int(self.ids[p]) for p in top}
        ids = [i for i, _s in got]
        ok = len(got) == self.K and len(set(ids)) == self.K
        ok = ok and all(i in self.pos and live[self.pos[i]] for i in ids)
        ok = ok and all(abs(s - cos[self.pos[i]]) <= 1.5e-6 for i, s in got)
        return ok, len(truth & set(ids)) / self.K

    def check_run(self, outcomes) -> None:
        # one query's recall ranges from 0 to 1 (IVF misses a neighbour
        # whose cell is not probed), so the probe floor holds for the mean
        probes = [o for o in outcomes if o.op.kind == "probe" and o.recall is not None]
        if not probes:
            return
        recall = sum(o.recall for o in probes) / len(probes)
        if recall < self.PROBE_RECALL_FLOOR:
            for o in probes:
                o.ok, o.error = False, f"mean probe recall@10 {recall:.3f} below floor"


def _tree_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except OSError:
                continue
            out[os.path.join(d, f)] = (st.st_ino, st.st_size)
    return out


EXPLORE = [
    # relational
    "q01_pricing_summary", "q03_region_revenue", "q08_weighted_screen_time",
    # interval algebra
    "q17_event_sessions", "q21_interval_overlap_measure",
    # events
    "q116_event_funnel", "q124_cohort_retention",
    # text
    "q24_word_counts",
    # small-corpus ANN / hybrid
    "q80_ivf_ann", "q95_ivfsq_ann", "q106_filtered_ann",
]

WORKLOADS = {
    # the last argument is a round's duration on a quiet 4-core host
    "explore": lambda root, work, rng: QueryWorkload(root, work, rng, "sf0.01", EXPLORE, 8.5),
    "ann": lambda root, work, rng: AnnWorkload(root, work, rng, 22.0),
}

