"""Filesystem abstraction for the serving-shape search paths and the
Dataset's versioned base.

`search_index_path` / `search_ivf_path` discover partition directories
on the driver and read parquet inside tasks; `Dataset.compact` switches
its ``_base/CURRENT`` pointer and deletes retired versions.  Plain
``os.listdir`` / local-path reads tie the hot path to a POSIX filesystem
shared between driver and executors — at the 100 TB target the index
lives on object storage, so both sides go through ``pyarrow.fs``
instead: plain paths resolve to the local filesystem, ``file://`` /
``s3://`` / ``hdfs://`` (and anything else pyarrow can mount) resolve
via ``FileSystem.from_uri``.

The reference has no analogue (its snapshots are local files under the
Raft data dir, `storage/partition.go`); this is our north star's
requirement, not parity.
"""

from __future__ import annotations

import re

_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


def resolve_fs(path: str):
    """(FileSystem, normalized_path) for a plain path or URI."""
    from pyarrow import fs as pafs

    if _URI_RE.match(path):
        try:
            return pafs.FileSystem.from_uri(path)
        except Exception as e:  # hdfs without libhdfs, bad scheme, ...
            raise ValueError(
                f"cannot mount filesystem for {path!r} via pyarrow.fs "
                f"({e}); for unsupported stores load the index as a "
                "DataFrame and use the shuffle-based search_index instead"
            ) from e
    return pafs.LocalFileSystem(), path


def list_partition_values(path: str, prefix: str) -> list[int]:
    """Sorted <int> values of ``<prefix><int>`` child directories (hive
    partition layout), via the path's filesystem."""
    from pyarrow import fs as pafs

    f, p = resolve_fs(path)
    infos = f.get_file_info(pafs.FileSelector(p, allow_not_found=False))
    out = []
    for info in infos:
        base = info.base_name
        if base.startswith(prefix):
            try:
                out.append(int(base[len(prefix):]))
            except ValueError:
                continue
    return sorted(out)


def read_parquet_dir(path: str, columns: list[str] | None = None):
    """Read one partition directory as a pyarrow Table through its
    filesystem (task-side: each worker mounts the fs itself)."""
    import pyarrow.parquet as pq

    f, p = resolve_fs(path)
    return pq.read_table(p, columns=columns, filesystem=f)


def read_dir_schema(path: str):
    """Schema of the first parquet file under ``path`` (footer read)."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    f, p = resolve_fs(path)
    for info in f.get_file_info(pafs.FileSelector(p)):
        if info.base_name.endswith(".parquet"):
            with f.open_input_file(info.path) as fh:
                return pq.read_schema(fh)
    return None


def join(path: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join would not)."""
    return "/".join([path.rstrip("/")] + [p.strip("/") for p in parts])


def exists(path: str) -> bool:
    """Whether a file or directory exists at ``path``."""
    from pyarrow import fs as pafs

    f, p = resolve_fs(path)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def child_names(path: str) -> list[str]:
    """Sorted names of the entries directly under ``path``; [] when
    ``path`` does not exist."""
    from pyarrow import fs as pafs

    f, p = resolve_fs(path)
    infos = f.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return sorted(i.base_name for i in infos)


def delete_path(path: str) -> None:
    """Delete a file or a directory tree; a missing path is a no-op."""
    from pyarrow import fs as pafs

    f, p = resolve_fs(path)
    kind = f.get_file_info(p).type
    if kind == pafs.FileType.Directory:
        f.delete_dir(p)
    elif kind == pafs.FileType.File:
        f.delete_file(p)


def read_text(path: str) -> str | None:
    """Contents of a small text file; None when it does not exist (any
    other error propagates)."""
    f, p = resolve_fs(path)
    try:
        with f.open_input_stream(p) as fh:
            return fh.read().decode()
    except FileNotFoundError:
        return None


def replace_text(path: str, text: str) -> None:
    """Write ``<path>.tmp``, then rename it over ``path``: a reader sees
    the old text or the new one, never a torn file (a rename is atomic
    on local and HDFS filesystems; object stores copy instead)."""
    f, p = resolve_fs(path)
    with f.open_output_stream(p + ".tmp") as fh:
        fh.write(text.encode())
    f.move(p + ".tmp", p)


def index_fingerprint(path: str) -> str:
    """Content fingerprint of an index directory: hash of every file's
    (relative path, size, mtime).  Serving caches key their resident
    graphs by (token, FINGERPRINT, pid) — a host-shared cache entry can
    outlive the Spark session AND the index version that produced it
    (e.g. a rebuilt index saved under the same logical name), and an
    unversioned token then serves a stale graph silently.

    Returns ``"empty"`` when the directory has no files (missing or
    brand-new index) and ``"unknown"`` when the filesystem itself errors
    — the latter disables staleness protection, so it is logged loudly
    rather than swallowed (ADVICE r5)."""
    import hashlib
    import logging

    from pyarrow import fs as pafs

    try:
        f, p = resolve_fs(path)
        infos = f.get_file_info(
            pafs.FileSelector(p, recursive=True, allow_not_found=True)
        )
    except Exception as e:
        logging.getLogger(__name__).warning(
            "index_fingerprint(%r) failed (%s); falling back to 'unknown' "
            "- stale-cache protection is DISABLED for this path",
            path,
            e,
        )
        return "unknown"
    items = sorted(
        (i.path, int(i.size or 0), int(getattr(i, "mtime_ns", 0) or 0))
        for i in infos
        if i.type == pafs.FileType.File
    )
    if not items:
        return "empty"
    return hashlib.sha1(repr(items).encode()).hexdigest()[:16]
