"""Filesystem access shared by the StarTable readers and the lake code.

Everything goes through ``pyarrow.fs``, so a local path and a URI
(``file://``, ``hdfs://``, ``s3://`` …) take the same route on the driver
and in executors.  One hiding rule (Spark's) decides which names a listing
leaves out.
"""

from __future__ import annotations

import os
from typing import Dict


def filesystem(path: str):
    """``(pyarrow filesystem, path inside it)`` for a local path or a URI."""
    from pyarrow import fs as pafs

    if "://" in path or path.startswith("file:"):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def uri_prefix(path: str, fs, inner: str) -> str:
    """What to put before a path inside ``fs`` to spell it as the caller
    spelled ``path``: nothing for the local filesystem (paths come back
    absolute), the scheme and authority for a remote store."""
    from pyarrow import fs as pafs

    if isinstance(fs, pafs.LocalFileSystem):
        return ""
    return path[: len(path) - len(inner)]


def exists(path: str) -> bool:
    """Whether ``path`` names an existing file or directory."""
    from pyarrow import fs as pafs

    fs, inner = filesystem(path)
    return fs.get_file_info(inner).type != pafs.FileType.NotFound


def should_hide(name: str) -> bool:
    """Spark's ``shouldFilterOutPathName`` hiding rule, mirrored exactly:
    underscore-prefixed names are hidden only when they carry no ``=`` (so
    partition-style ``_foo=1`` directories stay visible, as they are to
    ``spark.read``); dot-prefixed names and ``*._COPYING_`` in-flight
    copies are always hidden.  A job's ``_SUCCESS`` marker, ``.crc``
    files and the lake's ``_zone_map``/``_manifest``/``_bloom_*``
    sidecars are hidden by it."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def list_files(path: str) -> Dict[str, int]:
    """The files Spark reads under ``path``, each with its size in bytes,
    in path order.

    A directory lists recursively, and an entry :func:`should_hide` hides
    is left out with everything under it.  A path naming a file lists just
    that file.  Paths come back spelled like ``path``: absolute for a local
    path or a ``file:`` URI, with the URI prefix kept for a remote store.
    """
    from pyarrow import fs as pafs

    path = path.rstrip("/") or "/"
    fs, inner = filesystem(path)
    prefix = uri_prefix(path, fs, inner)
    info = fs.get_file_info(inner)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"path {path!r} does not exist")
    if info.type == pafs.FileType.File:
        return {prefix + info.path: info.size}
    listed = fs.get_file_info(pafs.FileSelector(inner, recursive=True))
    root = len(inner.rstrip("/"))
    return {
        prefix + i.path: i.size
        for i in sorted(listed, key=lambda i: i.path)
        if i.type == pafs.FileType.File
        and not any(should_hide(n) for n in i.path[root:].split("/"))
    }
