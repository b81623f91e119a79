"""One cache for every value the operators derive from input files and
reuse across calls (README "Artifact cache" states the rule).

An entry belongs to the live session ``(applicationId, id(spark))``; a
miss drops every other session's entries.  It records ``(size,
mtime_ns)`` of each source file its caller names (a directory counts as
its files) and is rebuilt when one changes.  A DataFrame value, or a
tuple of them, is unpersisted when its entry leaves the store.
"""

from __future__ import annotations

import os
import stat

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_STORE: dict[tuple, tuple] = {}  # (session, key) -> (source stamps, value)


def get(spark, key: tuple, build, sources=()):
    """The artifact *key* of this session, built by ``build()`` on a miss
    or when a file in *sources* changed since it was built."""
    session = (spark.sparkContext.applicationId, id(spark))
    stamp = tuple(_stamp(p) for p in sources)
    entry = _STORE.get((session, key))
    if entry is not None and entry[0] == stamp:
        return entry[1]
    for k in [k for k in _STORE if k[0] != session or k[1] == key]:
        _release(_STORE.pop(k)[1])
    value = build()
    _STORE[(session, key)] = (stamp, value)
    return value


def _stamp(path: str):
    """``(size, mtime_ns)`` of a file, the sorted stamps of the files
    under a directory, or None for a missing path."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    if stat.S_ISDIR(st.st_mode):
        files = (os.path.join(d, n) for d, _, names in os.walk(path) for n in names)
        return tuple(sorted((f, _stamp(f)) for f in files))
    return (st.st_size, st.st_mtime_ns)


def _release(value) -> None:
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            try:
                df.unpersist()
            # its session has stopped, or the gateway it was built through
            # has shut down and refuses the call: nothing left to free
            except (Py4JError, ConnectionError):
                pass
