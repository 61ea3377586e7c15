"""How a file is published: the one commit primitive every store uses.

Every pointer (``_LATEST``), commit marker (``_COMMITTED``,
``_COMPACT``, ``_TXN_PENDING``) and sidecar (``_SCHEMA``,
``_FILEVERS``, ``_ANALYZE``, ``_NBUCKETS``, ...) is a small text file
written by :func:`atomic_write`: readers see the old content or the
new content, never a partial file, and once the call returns the new
content survives a power loss.  Because every store writes the files a
pointer names before it writes the pointer, a durable pointer never
names a sidecar that is not durable.  The parquet data files Spark
writes are not fsynced here.
"""

from __future__ import annotations

import os


def atomic_write(path: str, text: str) -> None:
    """Publish ``text`` at ``path``: write a dot-prefixed tmp file in
    the same directory (Spark listings skip it), flush and fsync it,
    rename it onto ``path``, then fsync the directory so the rename
    itself is durable."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(d or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def read_pointer(path: str) -> str | None:
    """The stripped content of a file :func:`atomic_write` published,
    or None when it does not exist."""
    try:
        with open(path) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None
