"""Engine-owned local scratch: every file the engine writes for itself
(round-trip tables, owned layouts, streaming sinks, checkpoints) lives
under one per-process root, made on first use and removed at exit by the
process that made it, so processes on one data dir never share files.

``tag`` names a data dir for scratch paths and session-catalog tables
(basename with every non-word character as ``_``, so it is a valid table
identifier, + 8 hex of the full path: same-named dirs never collide);
``path`` is stable within the process; ``fresh`` is new on every call."""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import tempfile
import threading

_root: str | None = None
_owner: int | None = None
_lock = threading.Lock()


def root() -> str:
    """This process's scratch root, made on first use. A forked child gets
    its own root instead of writing into (or removing) its parent's."""
    global _root, _owner
    with _lock:
        if _root is None or _owner != os.getpid():
            _root, _owner = tempfile.mkdtemp(prefix="hfcs-"), os.getpid()
            atexit.register(_remove, _root, _owner)
        return _root


def _remove(root_dir: str, owner: int) -> None:
    if os.getpid() == owner:
        shutil.rmtree(root_dir, ignore_errors=True)


def tag(sf_dir: str) -> str:
    norm = os.path.normpath(os.path.abspath(sf_dir))
    digest = hashlib.sha256(norm.encode()).hexdigest()[:8]
    return re.sub(r"\W", "_", os.path.basename(norm), flags=re.ASCII) + "_" + digest


def path(sf_dir: str, name: str) -> str:
    return os.path.join(root(), tag(sf_dir), name)


def fresh(kind: str) -> str:
    return tempfile.mkdtemp(prefix=f"{kind}-", dir=root())
