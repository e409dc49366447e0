"""One plan memo: reuse a built value until the files it reads change.

The reference constructs a table object once and reuses it until its
storage changes (Storages/StorageFactory.cpp), and reuses compiled
code the same way (Interpreters/Compiler.h:66-92).  Every plan and
metadata memo of the engine makes that decision here, by one rule:

- an entry holds ``(sig, value)`` and is a hit only while its sig
  equals the current one;
- the insert records the signature read AFTER the build, because a
  build may publish the files it depends on (the stored hits table);
- nothing is stored under a ``None`` signature (a missing source);
- past ``LIMIT`` entries, an insert drops other sessions' entries
  only, so a live session never thrashes.

Entries are keyed on the session, ``(applicationId, id(spark))``: a
restarted session must never be served a stopped one's DataFrame (an
id can be reused; an application id cannot).  Writers invalidate
nothing: a rewrite changes the signature, and the next lookup misses.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable, Hashable
from typing import Any

LIMIT = 64


def source_sig(path: str) -> tuple | None:
    """Staleness signature of ``path``: ``(mtime_ns, size)`` for a
    file; for a directory, ``(relpath, mtime_ns, size)`` of every file
    under it, recursively; ``None`` when the path is missing."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    cut = len(os.path.join(path, ""))
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                s = os.stat(p)
            except OSError:
                continue  # removed mid-walk: the next lookup sees it
            out.append((p[cut:], s.st_mtime_ns, s.st_size))
    return tuple(sorted(out))


def session_key(spark) -> tuple:
    return (spark.sparkContext.applicationId, id(spark))


class Memo(dict):
    """``{(session_key, key): (sig, value)}`` under the module's rule.

    A plain dict, so ``clear()`` forces every entry to rebuild."""

    def get_or_build(
        self,
        spark,
        key: Hashable,
        sig: Callable[[], Hashable | None],
        build: Callable[[], Any],
    ) -> Any:
        """The memoized value for ``key`` while ``sig()`` is unchanged,
        else ``build()``'s result (stored when ``sig()`` is not None)."""
        sess = session_key(spark)
        k = (sess, key)
        hit = self.get(k)
        if hit is not None and hit[0] == sig():
            return hit[1]
        value = build()
        new_sig = sig()
        if new_sig is not None:
            if k not in self and len(self) >= LIMIT:
                for old in [o for o in self if o[0] != sess]:
                    del self[old]
            self[k] = (new_sig, value)
        return value
