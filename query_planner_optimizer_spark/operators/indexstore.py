"""Publish protocol shared by the three persisted serving indexes: the
MinHash dedup index (operators/incremental.py), the BM25 text index
(operators/textindex.py) and the ANN / IVF-PQ indexes
(operators/similarity.py).

On-disk layout:

- ``CURRENT`` — one line naming the live version dir (``v_<12 hex>``).
  Versioned indexes (text, ANN, IVF-PQ) write a complete new version
  next to the live one and publish it with :func:`publish_version`: one
  atomic ``os.replace`` of ``CURRENT`` (the commit point), after which
  every superseded ``v_*`` dir is removed. The dedup index is not
  versioned; its datasets live directly in the index dir.
- A *publish root* is where appends land: the index dir for dedup, the
  live version dir for the others. An append stages its datasets under
  ``<root>/_staging_<token>/``, then writes ``<root>/_pending_<token>
  .json`` = ``{"staging": "_staging_<token>", "files": {dataset:
  [relpath, ...]}}`` listing every staged data file (the commit point),
  then :func:`repair` renames each file into ``<root>/<dataset>/``.
- Small files (``CURRENT``, markers, ``META.json``, ``_indexspec.json``)
  are written to ``<path>.tmp`` and ``os.replace``-d into place.

Crash contract: a crash before the marker leaves a staging dir that
nothing references; a crash after it leaves a marker whose publish
:func:`repair` completes idempotently. Every entry point of every index
runs :func:`repair` (or :func:`live_version_dir`, which does) first, so
an index never serves a partially published shard — postings without
their stats delta, bands without their digests. A marker-less staging
dir is removed only once it is older than
:data:`STAGING_GC_GRACE_SECONDS`: until then it may be an append that
another process is still staging. A crash during a rebuild or a
compaction leaves an unreferenced ``v_*`` dir and the live version
untouched; the next publish removes it.

Concurrency contract: one writer per index at a time (appends, rebuilds
and compactions are not a multi-writer commit protocol); any number of
readers, in this process or others. Every step of :func:`repair`
tolerates a concurrent repairer (a lost rename race re-checks the
destination; marker and staging removal tolerate already-gone). In
this process a publish evicts the reader caches below its root; a
publish made by another process is caught by the reader's mutation
token (:func:`reader`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from query_planner_optimizer_spark import catalog

#: Grace period (seconds) before an unreferenced ``_staging_*`` dir is
#: garbage-collected by :func:`repair`. A marker-less staging dir is
#: EITHER pre-marker garbage from a crash OR an append currently
#: mid-staging in another process — mtime age is the only way to tell
#: them apart, so only dirs older than this are dropped.
STAGING_GC_GRACE_SECONDS = 3600.0


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` in one ``os.replace``: readers
    see the old content or the new, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def current_version_dir(index_dir: str) -> str:
    """The live version dir named by ``CURRENT`` (FileNotFoundError
    when nothing was published yet)."""
    with open(os.path.join(index_dir, "CURRENT")) as f:
        return os.path.join(index_dir, f.read().strip())


def new_version_dir(index_dir: str) -> str:
    """A fresh, unpublished version dir path under ``index_dir``."""
    return os.path.join(index_dir, f"v_{uuid.uuid4().hex[:12]}")


def publish_version(index_dir: str, vdir: str) -> None:
    """Flip ``CURRENT`` to the complete version at ``vdir`` (the commit
    point), then remove every superseded ``v_*`` dir."""
    version = os.path.basename(vdir)
    write_atomic(os.path.join(index_dir, "CURRENT"), version)
    for name in os.listdir(index_dir):
        if name.startswith("v_") and name != version:
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)


def live_version_dir(index_dir: str) -> str:
    """Complete any torn append in the live version, then return its
    dir — the first call of every versioned-index entry point."""
    vdir = current_version_dir(index_dir)
    repair(vdir)
    return vdir


def _data_files(root: str) -> list[str]:
    """Relative paths of the data files under ``root``, through
    partition subdirs; ``_``/``.``-prefixed names (``_SUCCESS``, CRC
    files) are skipped at every level."""
    out: list[str] = []
    for cur, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(os.path.relpath(os.path.join(cur, fn), root)
                   for fn in files if not fn.startswith(("_", ".")))
    return sorted(out)


def staged_append(root: str, write_datasets: Callable[[str], None],
                  names: Iterable[str]) -> None:
    """Crash-safe append into the publish root ``root``:
    ``write_datasets(stg_root)`` writes each dataset of ``names``
    completely under a fresh ``_staging_<token>/`` dir; the pending
    marker listing their files is the commit point; :func:`repair`
    then publishes them."""
    token = uuid.uuid4().hex[:12]
    stg_name = f"_staging_{token}"
    stg_root = os.path.join(root, stg_name)
    write_datasets(stg_root)
    files = {name: _data_files(os.path.join(stg_root, name))
             for name in names}
    write_atomic(os.path.join(root, f"_pending_{token}.json"),
                 json.dumps({"staging": stg_name, "files": files}))
    repair(root)


def repair(root: str) -> None:
    """Complete or garbage-collect torn appends under the publish root
    ``root`` (see the module docstring): finish each pending marker's
    publish with idempotent per-file renames, remove marker-less
    staging dirs older than the grace period, and evict the reader
    caches below ``root`` if any file was published."""
    if not os.path.isdir(root):
        return
    changed = False
    for name in sorted(os.listdir(root)):
        if not (name.startswith("_pending_") and name.endswith(".json")):
            continue
        marker = os.path.join(root, name)
        try:
            with open(marker) as f:
                plan = json.load(f)
        except FileNotFoundError:
            continue  # a concurrent repairer finished this marker
        stg_root = os.path.join(root, plan["staging"])
        for dataset, rels in plan["files"].items():
            for rel in rels:
                dst = os.path.join(root, dataset, rel)
                if os.path.exists(dst):
                    continue  # published before the crash
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.rename(os.path.join(stg_root, dataset, rel), dst)
                except FileNotFoundError:
                    # Lost the rename race to a concurrent repairer —
                    # fine iff the file did land in the live dataset.
                    if os.path.exists(dst):
                        continue
                    raise RuntimeError(
                        f"torn append in {root}: {dataset}/{rel} is in "
                        f"neither staging nor the live dataset — the "
                        f"index needs a rebuild"
                    ) from None
        shutil.rmtree(stg_root, ignore_errors=True)
        try:
            os.remove(marker)
        except FileNotFoundError:
            pass  # a concurrent repairer removed it
        changed = True
    now = time.time()
    for name in os.listdir(root):
        if name.startswith("_staging_"):
            path = os.path.join(root, name)
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue
            if age > STAGING_GC_GRACE_SECONDS:
                shutil.rmtree(path, ignore_errors=True)
    if changed:
        catalog.invalidate_reader_caches(root)


def reader(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Session-cached reader frame for dataset ``name`` under the
    publish root ``root``. In-process publishes evict the cache
    (:func:`repair`); a publish by another process is caught by the
    mutation token, one stat of the root and one of the dataset dir per
    call. The root's stat moves on every publish, because the publish
    creates and removes its ``_staging_*`` and ``_pending_*`` entries
    there, even when the files land in existing partition subdirs and
    the dataset dir itself keeps its mtime."""
    path = os.path.join(root, name)
    token = (catalog.dir_mutation_token(root),
             catalog.dir_mutation_token(path))
    return catalog.cached_parquet(spark, path, token=token)
