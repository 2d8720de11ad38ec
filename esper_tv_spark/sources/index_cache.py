"""Build-once disk cache for derived indexes over a source table.

An entry is a directory directly under `tempfile.gettempdir()` named
`esper_tv_<kind>_<sf_tag>_<fingerprint(src)>_<params>`.  A directory
under that name is always complete: the builder writes `<key>.tmp`, and
the result is published with one `os.rename` while an exclusive
`fcntl.flock` on `<key>.lock` is held.  Two processes asking for one key
therefore build it once, and a build that dies part-way leaves nothing a
later call would serve.  Publishing a new fingerprint evicts the other
fingerprints of the same kind and sf (stale data generations) and keeps
every config of the current one.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable

_FINGERPRINT = re.compile("[0-9a-f]{16}")


def fingerprint(path: str) -> str:
    """Cheap freshness fingerprint of a parquet file/dir: hash of every
    (relpath, size, mtime_ns) — pure os.stat, no data scan, and regenerated
    data (same path, new rows) changes it. Never key a disk cache on a
    path alone."""
    h = hashlib.sha256()
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                h.update(f"{os.path.relpath(os.path.join(root, fn), path)}:{st.st_size}:{st.st_mtime_ns};".encode())
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def evict_stale(prefix: str, keep: str) -> None:
    """Best-effort removal of every temp-dir entry named `prefix` +
    fingerprint + anything, unless the name starts with `keep`: without
    it, every regeneration of the source data leaves a dead copy in the
    temp dir forever.  Requiring the fingerprint right after `prefix`
    spares the family of an sf tag that merely extends this one's."""
    tmp = tempfile.gettempdir()
    try:
        names = os.listdir(tmp)
    except OSError:
        return
    for name in names:
        if (
            name.startswith(prefix)
            and not name.startswith(keep)
            and _FINGERPRINT.match(name, len(prefix))
        ):
            full = os.path.join(tmp, name)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                with contextlib.suppress(OSError):
                    os.remove(full)


def index_cache(
    kind: str, src: str, sf_dir: str, params: str, build: Callable[[str], None]
) -> str:
    """Return the cache dir for `build`'s output over `src`, calling
    `build(path)` (which writes a fresh dir at `path`) only on a miss.
    A hit is one stat walk of `src` plus one `isdir`: no lock, and
    nothing is created in the temp dir."""
    family = f"esper_tv_{kind}_{os.path.basename(os.path.normpath(sf_dir))}_"
    generation = f"{family}{fingerprint(src)}_"
    final = os.path.join(tempfile.gettempdir(), generation + params)
    if os.path.isdir(final):
        return final
    with open(final + ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(final):
            work = final + ".tmp"
            # a leftover from a build that was killed outright
            shutil.rmtree(work, ignore_errors=True)
            try:
                build(work)
                os.rename(work, final)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            evict_stale(family, keep=generation)
    return final
