"""Scratch storage under the system temp dir, in two shapes:

* ``stored`` — a MAINTAINED store: a derived artifact (signature table,
  PQ index, partial aggregates) built once from an input file and read
  back by every later query, the way a production pipeline maintains it
  at ingest instead of recomputing it per query. Reuse is sound only if
  the store is keyed to its input and published atomically, so the key
  is the input's absolute path, size and ``st_mtime_ns`` plus the
  caller's ``params`` (which carry the algorithm version), and a build
  becomes visible in one ``os.rename``.
* ``scratch_dir`` — a fresh per-call output dir for workloads that write
  and read back (layouts, sinks, CDC state, schema generations).

Both sweeps are scoped so a concurrent session (bench and pytest on one
box) never loses a directory it is still lazily reading: a store sweep
removes only superseded keys of the SAME input file, a scratch sweep only
this session's earlier dirs. Anything a crashed run left behind (hidden
build dirs, other sessions' scratch dirs) is reclaimed once older than
``ORPHAN_SECONDS``. This module is the only place under ``workloads/``
that creates or deletes temp directories (tests/test_scratch.py guards
that).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import time
import uuid
from typing import Callable

ORPHAN_SECONDS = 3600.0
_SESSION = uuid.uuid4().hex[:8]


def _digest(*parts: object) -> str:
    return hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:12]


def _sweep(pattern: str, doomed: Callable[[str, bool], bool]) -> None:
    """Remove each temp-dir entry matching ``pattern`` for which
    ``doomed(path, orphaned)`` holds."""
    now = time.time()
    for path in glob.glob(os.path.join(tempfile.gettempdir(), pattern)):
        try:
            orphaned = now - os.path.getmtime(path) > ORPHAN_SECONDS
        except OSError:
            continue
        if doomed(path, orphaned):
            shutil.rmtree(path, ignore_errors=True)


def stored(name: str, src: str, params: str, build: Callable[[str], None]) -> str:
    """Path of the ``name`` store derived from input file ``src`` under
    ``params``, calling ``build(tmp)`` to fill an empty hidden directory
    first if no store for this exact key exists.

    The published directory is ``{name}_{input id}_{key}``. A build that
    raises publishes nothing and leaves no hidden directory behind; if two
    builders race, the loser discards its copy and returns the winner's."""
    st = os.stat(src)
    group = f"{name}_{_digest(os.path.abspath(src))}"
    store = os.path.join(
        tempfile.gettempdir(),
        f"{group}_{_digest(st.st_size, st.st_mtime_ns, params)}",
    )
    _sweep(f"{group}_*", lambda p, orphaned: p != store)
    _sweep(f".{name}_*", lambda p, orphaned: orphaned)
    if not os.path.isdir(store):
        tmp = tempfile.mkdtemp(prefix=f".{os.path.basename(store)}.")
        try:
            build(tmp)
            try:
                os.rename(tmp, store)
            except OSError:
                if not os.path.isdir(store):
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return store


def scratch_dir(prefix: str) -> str:
    """Fresh scratch dir named ``{prefix}s{session}_…``, sweeping this
    session's earlier dirs of the same prefix first (the returned
    DataFrame reads lazily from the new dir, so cleanup can only happen on
    the NEXT invocation; without the sweep, repeated runs accumulate temp
    tables). Another session's fresh dir is never evicted mid-read."""
    mine = f"{prefix}s{_SESSION}_"
    _sweep(
        prefix + "*",
        lambda p, orphaned: orphaned or os.path.basename(p).startswith(mine),
    )
    return tempfile.mkdtemp(prefix=mine)
