"""The file-commit primitive: every atomic write, pointer publish, lock,
staged-directory rename and scratch-build gate of the package.

Readers of the package's on-disk state resolve it through files that
are replaced whole (`_LATEST` pointers, manifests, metas, markers) and
through directories that appear by one rename (generations, staged
caches). This module is the only code that performs those steps, and
each step is durable before it returns:

    atomic_file  write a temp beside the target, fsync it, os.replace
                 it over the target, fsync the directory
    publish_dir  fsync every file of a staged directory and every
                 directory in it, rename it to its final name, fsync
                 the new parent; a name a concurrent publisher already
                 took wins, and the staged copy is removed
    locked       hold the exclusive flock of a lock file for a block
    build_once   build a scratch product from zero unless its
                 completion marker says an earlier build finished
    discard      remove a file or a directory tree, if present

So a pointer can never reach disk before the manifest and generation
files it names: each of those, and its directory entry, was fsynced
before the pointer's own replace began. A crash leaves the previous
pointer or the new one, plus unreferenced files the owners' vacuums
reclaim; a temp file of a crashed write is a hidden `.<name>.tmp-*`.
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import os
import shutil
import uuid

MARKER = "_MERGED"


def _sync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _sync_tree(path: str) -> None:
    """fsync every file under `path` and every directory in it (or
    `path` itself, when it is a file)."""
    if not os.path.isdir(path):
        _sync(path)
        return
    for root, _, files in os.walk(path):
        for fn in files:
            _sync(os.path.join(root, fn))
        _sync(root)


@contextlib.contextmanager
def atomic_file(path: str, mode: str = "w"):
    """Open a temp file in `path`'s directory for the block; when the
    block ends, fsync it, replace `path` with it and fsync the directory.
    An exception in the block removes the temp and leaves `path` as it
    was."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
    try:
        with open(tmp, mode) as f:
            yield f
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise
    _sync(d or ".")


def publish_dir(staged: str, final: str) -> bool:
    """Rename the finished `staged` directory (or single file) to
    `final`, durably. Returns False, with `staged` removed, when a
    concurrent publisher already holds `final`."""
    _sync_tree(staged)
    try:
        os.rename(staged, final)
    except OSError as e:
        if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            raise
        discard(staged)
        return False
    _sync(os.path.dirname(final) or ".")
    return True


@contextlib.contextmanager
def locked(lock_path: str):
    """Hold the exclusive flock of `lock_path` for the block (released
    on exit, also on an exception)."""
    with open(lock_path, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def build_once(path: str, build) -> None:
    """Build the scratch product `path` unless an earlier build finished.
    A file product (`build` writes `path` with `atomic_file`) is its own
    marker. A directory product is finished once `path/_MERGED` exists:
    without it, whatever a crashed build left is removed, `build()` runs
    from zero, the tree is fsynced, and `build()`'s return value is
    written to the marker, last. The parent of `path` is created if
    missing."""
    if os.path.isfile(path) or os.path.exists(os.path.join(path, MARKER)):
        return
    discard(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    made = build()
    if os.path.isdir(path):
        _sync_tree(path)
        with atomic_file(os.path.join(path, MARKER)) as f:
            f.write(str(made))


def discard(path: str) -> None:
    """Remove the file or directory tree at `path`; a missing path, or
    one a concurrent remover already took, is no error."""
    if os.path.isdir(path) and not os.path.islink(path):
        def gone(func, p, exc_info):
            if not issubclass(exc_info[0], FileNotFoundError):
                raise exc_info[1]

        shutil.rmtree(path, onerror=gone)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)
