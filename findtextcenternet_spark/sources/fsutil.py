"""Executor-side filesystem access for the crawl readers.

Spark's JVM Hadoop filesystems are not reachable from Python worker
processes (no py4j gateway on executors), so the CDX range fetch and
the WET/CDXJ shard sinks open files themselves. This shim routes by URI
scheme:

* bare paths and ``binaryFile``'s ``file:/x`` form → plain ``open`` /
  ``os`` (local, NFS, or any DFS mount — the common cluster layout);
* any ``scheme://`` URI (``s3://``, ``hdfs://``, ``gs://``, and
  ``file://`` itself) → ``pyarrow.fs.FileSystem.from_uri`` — Arrow's
  C++ filesystems, whose input files expose the same ``seek``/``read``
  surface, turning the CDX fetch's offset reads into ranged GETs.

The pyarrow branch is exercised in tests through ``file://`` URIs (the
LocalFileSystem is the identical code path), so the dispatch is covered
even though this sandbox has no object store.
"""

from __future__ import annotations

import os


def _is_local(path: str) -> bool:
    return "://" not in path


def _strip_file_scheme(path: str) -> str:
    """binaryFile's ``file:/x`` form → ``/x`` (full ``file://`` URIs
    take the pyarrow branch instead)."""
    return path[len("file:"):] if path.startswith("file:") else path


def open_binary(path: str):
    """Seekable binary reader for a local path, ``file:/x``, or any
    pyarrow-supported filesystem URI."""
    if _is_local(path):
        return open(_strip_file_scheme(path), "rb")
    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(path)
    return fs.open_input_file(p)


def _as_local(path: str) -> str | None:
    """Local filesystem path for bare paths, ``file:/x``, and full
    ``file://`` URIs; None for every other scheme. A non-empty authority
    (``file://host/x``, or the ``file://tmp/x`` typo for
    ``file:///tmp/x``) is rejected — silently treating it as a relative
    path would write shards somewhere the manifest path can't read."""
    if _is_local(path):
        return _strip_file_scheme(path)
    if path.startswith("file://"):
        rest = path[len("file://"):]
        if rest and not rest.startswith("/"):
            raise ValueError(
                f"file:// URI with an authority is not supported: {path!r}"
                " (did you mean file:///...?)")
        return rest
    return None


def makedirs(path: str) -> None:
    """mkdir -p across the same scheme dispatch as ``open_binary``.
    Object stores have no directories — ``create_dir`` is a no-op/marker
    there, which is exactly right."""
    local = _as_local(path)
    if local is not None:
        os.makedirs(local, exist_ok=True)
        return
    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(path)
    fs.create_dir(p, recursive=True)


# schemes where a single streamed upload lands all-or-nothing at the
# final name (object stores: the PUT either completes or nothing exists)
_ATOMIC_PUT_SCHEMES = frozenset({"s3", "s3a", "gs", "gcs", "abfs",
                                 "abfss", "az", "wasb", "wasbs"})


def write_shard(path: str, data: bytes) -> None:
    """Retry-safe executor-side shard write, scheme-dispatched like the
    read path (``open_binary``).

    * Local / ``file://``: unique tmpfile + atomic ``os.replace`` — a
      reader never observes a partial shard, and two concurrent attempts
      of the same task (speculation, a zombie retry) each write their
      OWN tmp, so the loser can't truncate the winner mid-write.
    * Object-store URIs: one ``open_output_stream`` to the final name —
      the PUT is itself all-or-nothing and the shard name being a pure
      function of the partition id makes retries byte-idempotent.
    * Other remote filesystems (``hdfs://`` etc. — streaming writes,
      partial files ARE observable): unique tmp name + ``fs.move``.
    Every branch's tmp name ends in ``.inprogress``."""
    local = _as_local(path)
    if local is not None:
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = f"{local}.{os.getpid()}-{os.urandom(4).hex()}.inprogress"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, local)
        return
    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(path)
    scheme = path.split("://", 1)[0].lower()
    if scheme in _ATOMIC_PUT_SCHEMES:
        with fs.open_output_stream(p) as f:
            f.write(data)
        return
    tmp = f"{p}.{os.getpid()}-{os.urandom(4).hex()}.inprogress"
    with fs.open_output_stream(tmp) as f:
        f.write(data)
    fs.move(tmp, p)


def join(base: str, name: str) -> str:
    """Path join that preserves URI schemes (posix separators)."""
    return base.rstrip("/") + "/" + name
