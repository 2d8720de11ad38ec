"""Input-stat-driven shuffle sizing.

A static `spark.sql.shuffle.partitions` cannot be right across three
decades of data: the sf100 rehearsal showed the Jaccard-verify shingle
shuffle (~100GB working set) at the session default of 32 partitions is
3GB+/task — a single 128GB host GC-thrashes indefinitely — while 256
partitions (~400MB/task) completes in ~20min. AQE can *coalesce* small
partitions at runtime but can never *split* beyond the initial number, so
the one knob that must be sized from the data is
`spark.sql.adaptive.coalescePartitions.initialPartitionNum`.

`advise_shuffle_partitions` sets it from the INPUT FILE SIZES (an
os.stat walk — no Spark job, same zero-cost stance as the parquet-footer
row counts used for SRP plane sizing) times a caller-supplied blowup
factor for operators whose intermediates outgrow their inputs (shingle
sets ~10x over raw text, plus parquet decompression). Over-advising is
safe by construction: AQE coalesces unused partitions back down, which is
exactly the documented AQE pattern (set initial high, let runtime
shrink). The helper therefore only ever RAISES the number — never below
the session's configured parallelism.

This module is the ONE reader of input size from metadata: backing files
(`input_paths`), bytes, footer row counts, list lengths, and the
size-adaptive operator predicate (`wider_than_floor`).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

_INITIAL_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_TASK_BYTES = 256 * 1024 * 1024


def input_paths(df) -> list[str]:
    """Local paths of the DataFrame's backing files (`df.inputFiles()` —
    file-listing metadata, no Spark job), `file://` stripped.  Empty for
    inputs with no files (memory, streams) or when the listing fails."""
    try:
        files = df.inputFiles()
    except Exception:
        return []
    return [f[7:] if f.startswith("file://") else f for f in files]


def input_bytes(paths: list[str] | str) -> int:
    """Total on-disk bytes of the given files/directories (recursive)."""
    if isinstance(paths, str):
        paths = [paths]
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def advise_shuffle_partitions(
    spark: SparkSession,
    paths: list[str] | str,
    blowup: float = 3.0,
    target_task_bytes: int = _TASK_BYTES,
    max_partitions: int = 4096,
) -> int:
    """Size AQE's initial shuffle-partition count from input bytes.

    n = clamp(ceil(on_disk_bytes * blowup / target_task_bytes),
              session shuffle.partitions .. max_partitions)

    `blowup` covers decompression plus operator amplification (e.g. ~30
    for shingle-set builds: ~3x parquet decompression x ~10x set-over-text
    growth). Sets `initialPartitionNum` for the session and returns the
    value; AQE's coalescer shrinks any query that doesn't need it.

    Session-conf semantics (deliberate, and safe ONLY under AQE
    coalescing): the knob is session-global and monotone — it only ever
    ratchets UP, so later queries in the same session inherit the largest
    advice so far and rely on AQE to coalesce back down at runtime.
    Spark reads `initialPartitionNum` only when
    `spark.sql.adaptive.coalescePartitions.enabled` is true; when
    coalescing is DISABLED the advice is left untouched (a raised initial
    count would then bind every later small query to thousands of tasks
    with nothing to shrink them) and the session floor is returned."""
    floor_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    aqe_coalesce = (
        spark.conf.get("spark.sql.adaptive.enabled", "true").lower() == "true"
        and spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        ).lower()
        == "true"
    )
    if not aqe_coalesce:
        return floor_n
    need = math.ceil(input_bytes(paths) * blowup / target_task_bytes)
    n = min(max_partitions, max(floor_n, need))
    try:
        prev = int(spark.conf.get(_INITIAL_KEY))
    except Exception:
        prev = 0
    if n > prev:
        spark.conf.set(_INITIAL_KEY, str(n))
    return max(n, prev)


def advise_for_df(df, blowup: float, target_task_bytes: int = _TASK_BYTES) -> int:
    """Default-on shuffle sizing for wide-shuffle OPERATORS: derive the
    input bytes from the DataFrame's own backing files (`df.inputFiles()`
    — file-listing metadata, no Spark job) and apply
    `advise_shuffle_partitions`. The round-4 sf100 rehearsal showed a
    static 32-partition shuffle GC-thrashing the Jaccard verify at
    3GB+/task while the stat-derived count completes; every operator with
    that wide-shuffle shape (shingle sets, pair verify, semantic dedup,
    winnowing, connected components) now self-advises instead of relying
    on the caller to remember. Non-file-backed inputs (memory, streams,
    post-shuffle subtrees) report no files and the session floor stands —
    the advice is best-effort, never wrong, because AQE coalesces any
    over-advice away."""
    paths = input_paths(df)
    if not paths:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return advise_shuffle_partitions(
        df.sparkSession, paths, blowup=blowup, target_task_bytes=target_task_bytes
    )


def wider_than_floor(df, blowup: float) -> bool:
    """True when THIS input's bytes x `blowup` / 256MB tasks exceed the
    session's `spark.sql.shuffle.partitions` floor — the size-adaptive
    operator switch.  Reads the input's own files, not the
    session-ratcheted `initialPartitionNum` (which would make the choice
    depend on which queries ran earlier).  False for inputs with no
    backing files: in-memory frames are small by construction."""
    paths = input_paths(df)
    floor_n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return bool(paths) and input_bytes(paths) * blowup / _TASK_BYTES > floor_n


def parquet_num_rows(path: str) -> int:
    """Exact row count from parquet FOOTER metadata only — no Spark job,
    no data scan (the lakehouse equivalent is table-stats/manifest counts).
    Works for a single file or a directory of part files."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(root, fn)).num_rows
        return total
    return pq.read_metadata(path).num_rows


def parquet_list_dim(path: str, col: str = "embedding") -> int:
    """Length of a list column (embedding dimensionality) from ONE row via
    pyarrow — a local micro-read (single row group page), never a
    Spark job.  Parquet footers don't record list lengths, so this is the
    cheapest honest probe; it unpins the dim-64 assumption so scale
    fixtures can carry higher-dim vectors (at dim 64 the cross-pair cosine
    noise floor sigma ~ 1/sqrt(64) = 0.125 makes ANY threshold degenerate
    at 4e12 pairs — see tools/make_scale.py)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # recurse the whole tree (partitioned datasets nest part files in
        # key=value subdirs); take the first part file found, determinism
        # via sorted dirs + files
        found = None
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    found = os.path.join(root, fn)
                    break
            if found:
                break
        if found is None:
            raise FileNotFoundError(f"no .parquet part files under {path}")
        path = found
    pf = pq.ParquetFile(path)
    batch = next(pf.iter_batches(batch_size=1, columns=[col]))
    return len(batch.column(0)[0].as_py())


def _parse_jvm_size(s: str) -> int:
    """'48g' / '512m' / '1024k' / bare bytes -> bytes (JVM -Xmx grammar)."""
    s = s.strip().lower()
    mult = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def broadcast_budget_bytes(spark, fraction: float = 0.35) -> int:
    """The bytes of broadcast-relation state this session can actually
    hold: `fraction` of the smallest JVM heap that must build or host the
    relations.  local[*] masters have ONE JVM (the driver builds AND
    hosts), so only spark.driver.memory binds; on a cluster the executors
    host a copy each, so the smaller of driver/executor heap binds.

    Exists because a fixed byte cutoff is a footgun: the 6GB index-probe
    cutoff assumed the 48g rehearsal JVM and OOM'd the same plan on
    get_spark's default 8g heap — the choice between a map-side attach
    and a shuffle join must follow the memory the session was GIVEN, not
    the memory the author benchmarked with."""
    def conf(key: str, default: str) -> int:
        try:
            return _parse_jvm_size(spark.conf.get(key, default))
        except Exception:
            return _parse_jvm_size(default)

    heap = conf("spark.driver.memory", "1g")
    master = ""
    try:
        master = spark.conf.get("spark.master", "")
    except Exception:
        pass
    if not master.startswith("local"):
        heap = min(heap, conf("spark.executor.memory", "1g"))
    return int(heap * fraction)
