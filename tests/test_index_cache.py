"""index_cache: one build per key across processes, nothing served from a
failed build, and eviction of stale data generations only.  Spark-free:
every build here is a fake that writes files and counts its calls."""

import os
import subprocess
import sys
import tempfile
import time

import pytest

from esper_tv_spark.sources.index_cache import index_cache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RACER = """
import os, sys, time
src, sf_dir, counter, start = sys.argv[1], sys.argv[2], sys.argv[3], float(sys.argv[4])
from esper_tv_spark.sources.index_cache import index_cache

def build(path):
    with open(counter, "a") as f:
        f.write(f"{os.getpid()}\\n")
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "wb") as f:
        f.write(os.urandom(32))
    time.sleep(0.5)  # hold the lock while the other process arrives
    with open(os.path.join(path, "part-1"), "wb") as f:
        f.write(os.urandom(32))

time.sleep(max(0.0, start - time.time()))
p = index_cache("fake", src, sf_dir, "c1", build)
data = b"".join(open(os.path.join(p, n), "rb").read() for n in ("part-0", "part-1"))
print(p, data.hex())
"""


@pytest.fixture
def tmpdir_cache(tmp_path, monkeypatch):
    cache = tmp_path / "tmp"
    cache.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(cache))
    src = tmp_path / "sf_test" / "vecs.parquet"
    src.parent.mkdir()
    src.write_bytes(b"generation-1")
    return str(cache), str(src), str(src.parent)


class Counter:
    def __init__(self, fail_after_first_file=False):
        self.calls = 0
        self.fail = fail_after_first_file

    def __call__(self, path):
        self.calls += 1
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as f:
            f.write(f"build {self.calls}")
        if self.fail:
            raise RuntimeError("build died halfway")
        with open(os.path.join(path, "part-1"), "w") as f:
            f.write("done")


def test_two_processes_race_one_key_build_once(tmpdir_cache):
    cache, src, sf_dir = tmpdir_cache
    counter = os.path.join(os.path.dirname(cache), "builds.txt")
    env = dict(os.environ, TMPDIR=cache, PYTHONPATH=REPO)
    start = time.time() + 3.0
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, src, sf_dir, counter, str(start)],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs.append(out.split())
    with open(counter) as f:
        assert len(f.read().split()) == 1
    assert outs[0] == outs[1]
    assert os.path.dirname(outs[0][0]) == cache
    assert not [n for n in os.listdir(cache) if ".tmp" in n]


def test_failed_build_publishes_nothing_and_next_call_rebuilds(tmpdir_cache):
    cache, src, sf_dir = tmpdir_cache
    build = Counter(fail_after_first_file=True)
    with pytest.raises(RuntimeError, match="halfway"):
        index_cache("fake", src, sf_dir, "c1", build)
    assert [n for n in os.listdir(cache) if not n.endswith(".lock")] == []

    build.fail = False
    path = index_cache("fake", src, sf_dir, "c1", build)
    assert build.calls == 2
    assert sorted(os.listdir(path)) == ["part-0", "part-1"]
    with open(os.path.join(path, "part-0")) as f:
        assert f.read() == "build 2"

    # a hit neither builds nor creates anything in the temp dir
    before = sorted(os.listdir(cache))
    assert index_cache("fake", src, sf_dir, "c1", build) == path
    assert build.calls == 2 and sorted(os.listdir(cache)) == before


def test_rewritten_source_builds_new_key_and_evicts_old_generation(tmpdir_cache):
    cache, src, sf_dir = tmpdir_cache
    build = Counter()
    old1 = index_cache("fake", src, sf_dir, "c1", build)
    old2 = index_cache("fake", src, sf_dir, "c2", build)
    other_sf = index_cache("fake", src, sf_dir + "_b", "c1", build)
    assert build.calls == 3

    with open(src, "wb") as f:  # same path, new data
        f.write(b"generation-2, longer")
    new1 = index_cache("fake", src, sf_dir, "c1", build)
    assert build.calls == 4 and new1 != old1
    assert not os.path.exists(old1) and not os.path.exists(old2)
    assert not os.path.exists(old1 + ".lock")
    assert os.path.isdir(other_sf)  # another sf's cache is not this family

    new2 = index_cache("fake", src, sf_dir, "c2", build)
    assert build.calls == 5
    assert os.path.isdir(new1) and os.path.isdir(new2)
    assert index_cache("fake", src, sf_dir, "c1", build) == new1
    assert build.calls == 5
