"""Derived on-disk layouts cached across runs.

Several registry rows serve from a layout that is expensive to write — an
IVF or PQ index, a z-ordered copy, a transactional table, corpus dedup
state — and that is a pure function of its source fixtures and of the code
that writes it.  ``cached_layout`` builds such a layout once and serves it
until its key changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable, Iterable
from functools import lru_cache
from types import ModuleType

KEY_FILE = "_layout_key"


def _source_fingerprint(sf_dir: str, names: Iterable[str]) -> str:
    """(size, mtime) fingerprint of the source parquet files — guards every
    derived layout against silent fixture drift (regenerated fixtures under
    the same path must invalidate derived state)."""
    parts = []
    for n in names:
        st = os.stat(f"{sf_dir.rstrip('/')}/{n}.parquet")
        parts.append(f"{n}:{st.st_size}:{int(st.st_mtime)}")
    return "|".join(parts)


@lru_cache(maxsize=None)
def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def layout_key(sf_dir: str, sources: Iterable[str],
               modules: Iterable[ModuleType]) -> str:
    """Source fingerprint plus a digest of each writing module's source, so a
    writer change rebuilds the layout instead of serving a stale one."""
    code = ",".join(_file_digest(m.__file__) for m in modules)
    return f"{_source_fingerprint(sf_dir, sources)}|{code}"


def _stored_key(root: str) -> str | None:
    try:
        with open(os.path.join(root, KEY_FILE)) as f:
            return f.read()
    except OSError:
        return None


def cached_layout(root: str, key: str, build: Callable[[str], None]) -> str:
    """Return ``<root>/data``, first building it with ``build(path)`` when
    ``root`` is missing, has no key, or holds a different key.

    ``build`` writes ``path`` (and any ``path.<sidecar>`` next to it) inside a
    fresh sibling staging dir that is renamed onto ``root`` only once it is
    complete and keyed, so concurrent bench, check and test runs never read
    a half-written layout.  A stale layout is moved aside and deleted."""
    data = os.path.join(root, "data")
    if _stored_key(root) == key:
        return data
    stage = f"{root}.tmp-{uuid.uuid4().hex}"
    old = f"{root}.old-{uuid.uuid4().hex}"
    os.makedirs(stage)
    try:
        build(os.path.join(stage, "data"))
        with open(os.path.join(stage, KEY_FILE), "w") as f:
            f.write(key)
        # another run building the same key may have published first:
        # its layout is as good, and readers may already be using it
        if _stored_key(root) != key:
            try:
                os.rename(root, old)
            except FileNotFoundError:
                pass
            try:
                os.rename(stage, root)
            except OSError:
                if _stored_key(root) != key:
                    raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
    return data
