"""Filesystem abstraction for the serving-shape search paths and the
Dataset's versioned base.

The saved-index servers list an index once on the driver (`list_parts`:
content fingerprint, part values and their parquet files), read the
footers the local-serving rule sizes parts by (`footers`, memoized),
and read part parquet in tasks or, when served locally, in the driver;
`Dataset.compact` switches its ``_base/CURRENT`` pointer and deletes
retired versions.  Plain ``os.listdir`` / local-path reads tie the hot
path to a POSIX filesystem shared between driver and executors — at
the 100 TB target the index
lives on object storage, so both sides go through ``pyarrow.fs``
instead: plain paths resolve to the local filesystem, ``file://`` /
``s3://`` / ``hdfs://`` (and anything else pyarrow can mount) resolve
via ``FileSystem.from_uri``.

The reference has no analogue (its snapshots are local files under the
Raft data dir, `storage/partition.go`); this is our north star's
requirement, not parity.
"""

from __future__ import annotations

import functools
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


def list_parts(path: str, prefix: str) -> tuple[str, dict[int, list]]:
    """One recursive listing of a hive-partitioned index directory →
    (content fingerprint, {<int> value of each ``<prefix><int>`` child
    directory: the ``FileInfo`` of each parquet file under it}).

    The saved-index servers take their cache version, their part list
    and the files whose footers the local-serving rule reads
    (`footers`) from this one call.  A missing ``path`` raises; the
    fingerprint is `index_fingerprint`'s."""
    from pyarrow import fs as pafs

    f, p = resolve_fs(path)
    infos = f.get_file_info(pafs.FileSelector(p, recursive=True))
    root = p.rstrip("/") + "/"
    parts: dict[int, list] = {}
    for info in infos:
        rel = info.path[len(root):] if info.path.startswith(root) else info.path
        top = rel.split("/", 1)[0]
        if not top.startswith(prefix):
            continue
        try:
            v = int(top[len(prefix):])
        except ValueError:
            continue
        files = parts.setdefault(v, [])
        if info.type == pafs.FileType.File and info.base_name.endswith(".parquet") and (
            not info.base_name.startswith((".", "_"))
        ):
            files.append(info)
    return _fingerprint(infos), dict(sorted(parts.items()))


def footers(path: str, files: list) -> list:
    """The parquet footer (``pyarrow.parquet.FileMetaData``: row counts,
    column statistics, schema) of each of ``files`` — `list_parts`
    ``FileInfo`` under ``path`` — without reading any column data.
    Memoized per (path, file, size, mtime): a warm caller reads none."""
    return [
        _footer(path, i.path, int(i.size or 0), int(getattr(i, "mtime_ns", 0) or 0))
        for i in files
    ]


@functools.lru_cache(maxsize=4096)
def _footer(path: str, file: str, size: int, mtime_ns: int):
    import pyarrow.parquet as pq

    f, _ = resolve_fs(path)
    with f.open_input_file(file) as fh:
        return pq.read_metadata(fh)


def read_partitioned(spark, path: str, files: list, part_col: str):
    """``spark.read.parquet(path)`` of a directory hive-partitioned by the
    INT column ``part_col``, given ``files`` (its `list_parts` files).

    The read takes the Spark schema that Spark wrote into the footer of
    ``files[0]`` (memoized, `footers`) as its schema, so it runs no
    schema-inference job; without such a footer it reads as plain
    parquet, failing as that does."""
    import json

    from pyspark.sql.types import IntegerType, StructField, StructType

    meta = (footers(path, files[:1])[0].metadata or {}) if files else {}
    written = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if written is None:
        return spark.read.parquet(path)
    fields = StructType.fromJson(json.loads(written)).fields
    schema = StructType([StructField(part_col, IntegerType()), *fields])
    return spark.read.schema(schema).parquet(path)


def column_stats(metas: list, column: str) -> tuple:
    """(null count, max) of the top-level ``column`` over the footers
    ``metas``, from their statistics; each is None where a footer lacks
    it (the max is also None when the column holds no value).  A list
    column's count is its leaf's: a null list counts one."""
    nulls, top, known = 0, None, True
    for md in metas:
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema.split(".", 1)[0] != column:
                    continue
                st = col.statistics
                if st is None or not st.has_null_count:
                    nulls = None
                elif nulls is not None:
                    nulls += st.null_count
                if st is not None and st.has_min_max:
                    top = st.max if top is None else max(top, st.max)
                elif st is None or not st.has_null_count or (
                    st.null_count != col.num_values
                ):
                    known = False  # values without a recorded max
    return nulls, top if known else None


def read_parquet_dir(path: str, columns: list[str] | None = None):
    """Read one partition directory as a pyarrow Table through its
    filesystem (task-side: each worker mounts the fs itself)."""
    import pyarrow.parquet as pq

    f, p = resolve_fs(path)
    return pq.read_table(p, columns=columns, filesystem=f)


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
    (path, size, mtime), the same value `list_parts` returns.  Serving
    caches hold each resident part for this version — a host-shared
    cache entry can outlive the Spark session AND the index version
    that produced it (e.g. a rebuilt index saved under the same path),
    and an unversioned entry would then serve a stale graph silently.

    Returns ``"empty"`` when the directory has no files (missing or
    brand-new index) and ``"unknown"`` when the filesystem itself errors
    — the latter disables staleness protection, so it is logged loudly
    rather than swallowed (ADVICE r5)."""
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
    return _fingerprint(infos)


def _fingerprint(infos) -> str:
    """Hash of the listed files' (path, size, mtime); ``"empty"`` when
    there are none."""
    import hashlib

    from pyarrow import fs as pafs

    items = sorted(
        (i.path, int(i.size or 0), int(getattr(i, "mtime_ns", 0) or 0))
        for i in infos
        if i.type == pafs.FileType.File
    )
    if not items:
        return "empty"
    return hashlib.sha1(repr(items).encode()).hexdigest()[:16]
