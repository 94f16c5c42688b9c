"""Filesystem tokens: the invalidation rule shared by every memo of
data read from local files.

A token is the sorted (relpath, size, mtime_ns) listing of a file or
directory tree. Any rewrite of the data changes it (new part names, new
sizes or mtimes), and computing it is a driver-local ``stat`` walk: no
Spark job, no JVM round trip. The persisted-index sidecar memo
(``operators/index_meta``) and the serving result cache
(``serving.ResultCache``) both invalidate on it. Non-local storage has
no token; there a table format's snapshot id plays its role (see
SCALING.md).
"""

from __future__ import annotations

import os
import re

SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def local_path(path: str) -> str | None:
    """``path`` as an existing local file or directory, or None when it
    carries a non-local scheme or does not exist. ``file:`` URIs are
    unwrapped (``file:/x``, ``file:///x`` -> ``/x``)."""
    p = str(path)
    if p.startswith("file:"):
        p = p[len("file:"):]
        if p.startswith("/"):
            p = "/" + p.lstrip("/")
    elif SCHEME_RE.match(p) and "://" in p:
        return None
    return p if os.path.exists(p) else None


def local_dir(path: str) -> str | None:
    """``path`` as a listable local directory (see :func:`local_path`);
    a missing directory or a plain file returns None too — the caller
    treats that as "cannot token, read uncached"."""
    p = local_path(path)
    return p if p is not None and os.path.isdir(p) else None


def fs_token(paths: list[str]) -> tuple | None:
    """Invalidation token for a list of local files and directories:
    per path, every file's (relpath, size, mtime_ns), sorted — a plain
    file is its own single entry, relpath ``.``. None when any path is
    missing or unreadable — never guess staleness."""
    out: list[tuple] = []
    for d in paths:
        if os.path.isfile(d):
            files = [d]
        elif os.path.isdir(d):
            files = [os.path.join(dp, f) for dp, _dn, names in os.walk(d) for f in names]
        else:
            return None
        entries = []
        for fp in files:
            try:
                st = os.stat(fp)
            except OSError:
                return None
            entries.append((os.path.relpath(fp, d), st.st_size, st.st_mtime_ns))
        out.append(tuple(sorted(entries)))
    return tuple(out)
