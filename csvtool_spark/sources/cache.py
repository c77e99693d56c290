"""One cache for what each reader infers before its scan, per file version:
an entry holds while ``file_signature`` is unchanged. It keeps schemas and
unresolved cast columns, never a DataFrame (that would pin Spark's file index)."""

from __future__ import annotations

import glob
import os
import stat
from typing import Callable


def file_signature(path: str) -> tuple | None:
    """``(path, size, mtime_ns, ctime_ns, inode)`` of every regular file
    ``path`` names, its glob matches or a matched directory holds, at any
    depth (a partitioned write's part files count): the quick check
    rsync and CPython's ``.pyc`` invalidation use. None when that is no
    file, or one is not a regular file."""
    paths = set(glob.glob(path, include_hidden=True))
    if os.path.exists(path):
        paths.add(path)
    files = {p for p in paths if not os.path.isdir(p)}
    for p in paths - files:
        files.update(os.path.join(r, n) for r, _, names in os.walk(p) for n in names)
    sig = []
    try:
        for p in sorted(files):
            st = os.stat(p)
            if not stat.S_ISREG(st.st_mode):
                return None
            sig.append((p, st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino))
    except OSError:
        return None
    return tuple(sig) or None


class SourceCache:
    def __init__(self) -> None:
        #: (path, *options) -> (file_signature, inferred value)
        self.entries: dict[tuple, tuple] = {}

    def lookup(self, path: str, options: tuple, infer: Callable):
        """What ``infer()`` returns for this version of ``path``, read
        with ``options`` (the read options the value depends on). A hit
        needs an unchanged ``file_signature``; a miss infers and stores,
        unless the signature is None (no file) or ``infer`` raised.
        Concurrent misses may both infer; either write wins."""
        key = (path, *options)
        sig = file_signature(path)
        entry = self.entries.get(key)
        if entry is not None and entry[0] == sig:  # stored sigs are never None
            return entry[1]
        value = infer()
        if sig is not None:
            self.entries[key] = (sig, value)
        return value
