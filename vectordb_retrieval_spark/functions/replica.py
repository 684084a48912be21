"""Node-local index replicas: publish once to tmpfs, mmap everywhere.

The reference serves each index from one in-RAM copy.  Above the
broadcast threshold the searchers do the same: on a single-node master
the index blobs are published once under ``ROOT`` and every search maps
them read-only, so tasks carry only metadata, the page cache holds one
physical copy per node, and per-search index traffic is zero — the
cluster distributes queries, not index bytes.

This module is the whole transport for every searcher family (graph
shards, packed IVF / cluster-pruned blobs and their decoded scan cache,
the broadcast bundle's shared scan arrays): the root and its TTL sweep,
the gate, the atomic publish (per file, or per directory for multi-file
entries, so readers never see a partial entry), the fork of a root
into a new one by hard links (a written index derives its replica from
its parent's), one per-process mmap memo, the liveness touch, and
release: a root is removed when the artifact that owns it is collected
(``own``); the TTL sweep is the backstop for roots a crashed process
never released.
"""

from __future__ import annotations

import glob
import mmap
import os
import shutil
import tempfile
import time
import uuid
import weakref
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

ROOT = "/dev/shm/vr_spark_shm"
# entries untouched for this long are swept by the next publish; a
# search that uses a root re-touches it (``alive``)
TTL_S = 3600.0
_MMAP_CAP = 65536


def enabled(spark=None) -> bool:
    """Whether this node has tmpfs for replicas.  A driver-led publish
    (``spark`` given) also needs a local master: on a multi-executor
    cluster each node would see only the blobs its own tasks wrote."""
    if not os.path.isdir(os.path.dirname(ROOT)):
        return False
    return spark is None or spark.sparkContext.master.startswith("local")


def _sweep() -> None:
    """Create ``ROOT`` and remove entries older than ``TTL_S``."""
    os.makedirs(ROOT, exist_ok=True)
    now = time.time()
    for entry in os.listdir(ROOT):
        p = os.path.join(ROOT, entry)
        try:
            if now - os.path.getmtime(p) > TTL_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def alive(root: str) -> bool:
    """True when ``root`` still exists; re-touches it so the TTL sweep
    leaves a root in use alone."""
    try:
        os.utime(root)
        return True
    except OSError:
        return False


def _release(pattern: str) -> None:
    for p in glob.glob(pattern):
        shutil.rmtree(p, ignore_errors=True)


def own(owner, name: str) -> None:
    """Remove ``ROOT/name`` (a root path or glob) when ``owner`` is
    collected.  Callers pass the artifact: its searcher keeps it alive
    for as long as the plans that read the root."""
    weakref.finalize(owner, _release, os.path.join(ROOT, name))


def write_blob(path: str, *parts: bytes) -> None:
    """Write ``parts`` to ``path`` via a temp file and an atomic
    rename: concurrent writers of the same content are idempotent, and
    readers see the whole file or none."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".pub-")
    with os.fdopen(fd, "wb") as fh:
        for part in parts:
            fh.write(part)
    os.replace(tmp, path)


def write_rows(
    root: str,
    batches: Iterator[pd.DataFrame],
    key_cols: list[str],
    blob_cols: list[str],
) -> Iterator[pd.DataFrame]:
    """The worker side of ``publish``: one file per row, named by its
    integer key columns joined with "-", holding its byte columns
    concatenated; an existing file is kept (task retries).  Yields one
    ``name`` per row, null when not written: an ``OSError`` (tmpfs
    full) is reported, not raised, because it would reach the driver as
    a Spark Python exception the caller cannot fall back on."""
    ok = True
    try:
        os.makedirs(root, exist_ok=True)
    except OSError:
        ok = False
    nk = len(key_cols)
    for pdf in batches:
        names: list[str | None] = []
        for row in zip(*(pdf[c] for c in key_cols + blob_cols)):
            name = "-".join(str(int(v)) for v in row[:nk])
            if ok:
                final = os.path.join(root, f"{name}.bin")
                try:
                    if not os.path.exists(final):
                        write_blob(final, *row[nk:])
                except OSError:
                    ok = False
            names.append(name if ok else None)
        yield pd.DataFrame({"name": pd.Series(names, dtype=object)})


def _new_root(kind: str) -> str:
    return os.path.join(ROOT, f"{kind}-{uuid.uuid4().hex}")


def publish(
    df: DataFrame, kind: str, key_cols: list[str], blob_cols: list[str]
) -> tuple[str, list[str]]:
    """One distributed pass writing each row of ``df`` under a fresh
    root ``ROOT/{kind}-{uuid}`` (see ``write_rows``).  Returns (root,
    names); raises ``OSError`` when any row was not written."""
    _sweep()
    root = _new_root(kind)
    names = [
        r[0]
        for r in df.select(*key_cols, *blob_cols)
        .mapInPandas(
            lambda it: write_rows(root, it, key_cols, blob_cols),
            schema="name string",
        )
        .collect()
    ]
    done = [n for n in names if n is not None]
    if len(done) != len(names):
        shutil.rmtree(root, ignore_errors=True)
        raise OSError(f"published {len(done)} of {len(names)} blobs")
    return root, done


def fork(src_root: str, kind: str) -> str:
    """A fresh root ``ROOT/{kind}-{uuid}`` holding a hard link to every
    published file of ``src_root``: no bytes are copied, and the source
    root keeps its own owner.  Published files are never modified in
    place (``write_blob`` replaces them), so rewriting a file in the
    fork leaves the source untouched.  Raises ``OSError`` after
    removing the partial root."""
    _sweep()
    root = _new_root(kind)
    try:
        os.makedirs(root)
        for name in os.listdir(src_root):
            if not name.startswith(".pub-"):
                os.link(os.path.join(src_root, name), os.path.join(root, name))
    except OSError:
        shutil.rmtree(root, ignore_errors=True)
        raise
    return root


def publish_dir(name: str, fill) -> str | None:
    """The multi-file entry ``ROOT/name``: when missing, ``fill(tmp)``
    writes a temp directory that is renamed into place whole (a lost
    rename race attaches to the winner).  Returns the entry's path, or
    None when it could not be published (no tmpfs, tmpfs full)."""
    final = os.path.join(ROOT, name)
    if os.path.isdir(final):
        return final
    if not enabled():
        return None
    tmp = None
    try:
        _sweep()
        tmp = tempfile.mkdtemp(prefix=".pub-", dir=ROOT)
        fill(tmp)
        os.rename(tmp, final)
    except OSError:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
    return final if os.path.isdir(final) else None


# read-only maps of published files, per process: root → name → map.
# Views keep their map alive, so dropping a map is safe: maps under
# released or swept roots are dropped when a new root is first mapped,
# freeing the tmpfs pages they pin once their views die.
_MMAPS: dict[str, dict[str, mmap.mmap]] = {}


def mmap_file(root: str, name: str) -> mmap.mmap:
    """Read-only mmap of ``root/name``, memoized per process."""
    per = _MMAPS.get(root)
    if per is None:
        for r in [r for r in _MMAPS if not os.path.isdir(r)]:
            del _MMAPS[r]
        per = _MMAPS[root] = {}
    mm = per.get(name)
    if mm is None:
        if sum(len(m) for m in _MMAPS.values()) >= _MMAP_CAP:
            _MMAPS.clear()
            per = _MMAPS[root] = {}
        with open(os.path.join(root, name), "rb") as fh:
            mm = mmap.mmap(fh.fileno(), 0, prot=mmap.PROT_READ)
        per[name] = mm
    return mm
