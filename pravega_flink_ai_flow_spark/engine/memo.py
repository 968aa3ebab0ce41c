"""The one driver-side memo for results computed while a plan is built:
collected query sets, trained models and quantizers, corpus counts,
routing signals, persisted frames and table reads.

An entry is keyed by (applicationId, caller key) and holds (fingerprint
of the caller's input paths, value). A lookup whose fingerprint differs
recomputes and releases the superseded value, so data rewritten in place
is never served stale; a miss drops every other application's entries,
so a stopped SparkContext leaves nothing referenced.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JJavaError

_STORE: dict[tuple, tuple] = {}

# (SparkContext, its applicationId): reading the id is two py4j calls,
# and tables() looks up the memo on every plan build
_app: list = [None, None]


def _app_id(spark) -> str:
    sc = spark.sparkContext
    if _app[0] is not sc:
        _app[:] = [sc, sc.applicationId]
    return _app[1]


def _local(path: str) -> list[tuple]:
    try:
        if os.path.isdir(path):
            with os.scandir(path) as it:
                return sorted((e.path, st.st_size, st.st_mtime_ns)
                              for e in it if e.is_file()
                              for st in (e.stat(),))
        st = os.stat(path)
        return [(path, st.st_size, st.st_mtime_ns)]
    except OSError:
        return [(path, -1, -1)]


def _remote(spark, uri: str) -> list[tuple]:
    try:
        p = spark._jvm.org.apache.hadoop.fs.Path(uri)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(p)
        found = fs.listStatus(p) if st.isDirectory() else [st]
        return sorted((s.getPath().toString(), s.getLen(),
                       s.getModificationTime())
                      for s in found if s.isFile())
    except Py4JJavaError:
        return [(uri, -1, -1)]


def fingerprint(spark, paths: Iterable[str]) -> tuple:
    """(path, size, mtime) of every file behind ``paths``; a directory
    stands for the files directly inside it. ``file:`` and scheme-less
    paths are os.stat'ed; any other scheme asks that URI's Hadoop
    FileSystem, never os.stat, since ``s3a://bucket/<p>`` says nothing
    about a local ``<p>``. A path that cannot be read is (path, -1, -1),
    which identifies it by name only. A same-size rewrite within one
    mtime tick goes unseen."""
    out: list[tuple] = []
    for p in paths:
        u = urlparse(p)
        if u.scheme == "file":
            # Hadoop URIs percent-encode specials such as spaces
            out += _local(unquote(u.path))
        elif u.scheme == "":
            out += _local(p)
        else:
            out += _remote(spark, p)
    return tuple(out)


def input_files(df) -> list[str]:
    """The files ``df`` reads. ``df.inputFiles()`` alone lists none
    under a persisted subtree (its optimized plan holds an
    InMemoryRelation there), so the file relations of the analyzed
    plan are added."""
    files = set(df.inputFiles())
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                files.update(rel.inputFiles())
    return sorted(files)


def _release(value) -> None:
    unpersist = getattr(value, "unpersist", None)
    if callable(unpersist):
        unpersist(False)


def memo(spark, key, paths: Iterable[str], compute: Callable[[], object]):
    """``compute()`` once per (application, ``key``) while the files
    behind ``paths`` keep their fingerprint. The key names what is
    computed and its parameters; ``paths`` are the inputs it is derived
    from (a tier's tables, or :func:`input_files` of a frame)."""
    app = _app_id(spark)
    fp = fingerprint(spark, paths)
    entry = _STORE.get((app, key))
    if entry is not None and entry[0] == fp:
        return entry[1]
    for k in [k for k in _STORE if k[0] != app]:
        del _STORE[k]
    if entry is not None:
        del _STORE[(app, key)]
        _release(entry[1])
    value = compute()
    _STORE[(app, key)] = (fp, value)
    return value
