"""One store for everything the engine builds once and then reuses.

Several analysis queries consume the same expensive kernel (the minhash
pair set, the simhash band joins, the BPE pipeline, the graph edge
list, the kNN and LSH top-k); without sharing, each re-runs it from the
parquet scan. The streaming replays read source files, and the
versioned, partitioned and bucketed queries read setup tables (snapshot
histories, hive-partitioned and bucketed copies, the SSE capture), all
pure functions of their input tables. Every kind is built once and
served from one store, under one key format::

    (label, app_id, sf_dir, fingerprint of each table read, *consts)

- ``label`` names the entry: its namespace and its telemetry name.
- ``app_id`` is the SparkContext's application id. A session memo dies
  with its context, so nothing memoized survives a session and every
  bench or oracle process computes from its parquet inputs. Fixtures
  (:func:`fixture`) carry ``None`` here: they are files in a temp
  directory and outlive the session that wrote them, but not the
  process (no fixture is shared across processes, and nothing is
  written into the checkout).
- The fingerprint (path, size, mtime_ns per data file) turns an input
  rewritten in place into a miss, not a stale answer.
- ``consts`` are the algorithm constants the built plan bakes in
  (TOP_K, N_PLANES, ...): a changed constant is a miss, and siblings
  that differ only in a constant coexist.

Inserting an entry evicts what can never hit again: session memos of
other applications (a dead context must not pin checkpointed blocks)
and same-label, same-sf_dir entries whose fingerprint differs (their
input was rewritten). A superseded fixture's directory is removed with
its entry, and every fixture directory is removed at interpreter exit.
A failed build removes its directory, so a half-written fixture is
never served. A process killed by a signal runs no exit hook, so each
process keeps its fixtures under one ``wikistream-fixtures-<pid>``
directory in the temp dir, and a process's first fixture removes the
directories of processes that are no longer running.

The store keeps whatever ``build()`` returns; builds fence their own
results, because only the kernel knows its shape (typically a lazy
``localCheckpoint``; the simhash16 kernel keeps an eager signature
beside lazy pairs). A contract check on a memoized kernel (simhash16's
fail-fast envelope) runs in the caller, after the memo, on every call.

Every session-memo hit or build is appended to :data:`MEMO_EVENTS`, so
``bench.py`` can mark the timed queries served by an already-built
kernel (their seconds are not standalone costs), and
:func:`reset_memos` drops every session memo so a repeat measures its
kernel standalone. A reset leaves the fixtures alone: they are setup
artifacts that ``bench.warmup`` builds before timing, and clearing them
would move their writes into timed runs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# (kind, label) audit trail: kind is "hit" | "build". Consumed (and
# sliced by index) by bench._timed.
MEMO_EVENTS: list[tuple[str, str]] = []

# (label, app_id, sf_dir, fingerprints, *consts) -> built value; a
# fixture entry has app_id None and holds (directory, built value)
_STORE: dict[tuple, object] = {}

# every fixture directory of process <pid> lives in <temp dir>/<prefix><pid>
FIXTURE_ROOT_PREFIX = "wikistream-fixtures-"
_fixture_root: str | None = None


def log_memo_event(kind: str, label: str) -> None:
    MEMO_EVENTS.append((kind, label))


def reset_memos() -> None:
    """Drop every session memo (bench gate retries: the next call of a
    memoized query rebuilds its kernel). The checkpointed blocks are
    reclaimed by Spark's ContextCleaner once the dropped DataFrames are
    garbage-collected."""
    for k in [k for k in _STORE if k[1] is not None]:
        del _STORE[k]


def file_fingerprint(sf_dir: str, table: str) -> tuple:
    """(path, size, mtime_ns) per data file of ``<sf_dir>/<table>.parquet``
    — a single file or a directory of parts. Non-local paths (s3a://
    etc.) fall back to path-only keying; the immutable-input contract
    is then the caller's to uphold."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(root):
            out = []
            for dirpath, _, names in sorted(os.walk(root)):
                for n in sorted(names):
                    p = os.path.join(dirpath, n)
                    st = os.stat(p)
                    out.append((p, st.st_size, st.st_mtime_ns))
            return tuple(out)
        st = os.stat(root)
        return ((root, st.st_size, st.st_mtime_ns),)
    except OSError:
        return (root,)


def _key(label: str, app_id: str | None, sf_dir: str, tables: tuple, consts: tuple) -> tuple:
    fps = tuple(file_fingerprint(sf_dir, t) for t in tables)
    return (label, app_id, sf_dir, fps, *consts)


def _evict(key: tuple) -> list:
    """Remove and return the entries that inserting ``key`` supersedes."""
    label, app_id, sf_dir, fps = key[:4]
    stale = [
        k
        for k in _STORE
        if (app_id is not None and k[1] is not None and k[1] != app_id)
        or (k[:3] == (label, app_id, sf_dir) and k[3] != fps)
    ]
    return [_STORE.pop(k) for k in stale]


def session_memo(
    spark: SparkSession,
    label: str,
    sf_dir: str,
    tables: tuple,
    consts: tuple,
    build: Callable[[], T],
) -> T:
    """Return what ``build()`` returned for this key in the current
    Spark application, building it once per session. ``tables`` names
    every table the kernel reads under ``sf_dir``; ``consts`` holds the
    algorithm constants its plan bakes in."""
    key = _key(label, spark.sparkContext.applicationId, sf_dir, tables, consts)
    if key in _STORE:
        log_memo_event("hit", label)
        return _STORE[key]
    _evict(key)
    # logged before the build, so a kernel built from other memoized
    # kernels lists its own build first
    log_memo_event("build", label)
    value = _STORE[key] = build()
    return value


def is_memoized(
    spark: SparkSession, label: str, sf_dir: str, tables: tuple, consts: tuple
) -> bool:
    """Whether :func:`session_memo` would hit for this key; logs nothing."""
    return _key(label, spark.sparkContext.applicationId, sf_dir, tables, consts) in _STORE


def _pid_running(pid: int) -> bool:
    try:
        os.kill(pid, 0)  # signal 0: an existence check, nothing is sent
    except ProcessLookupError:
        return False
    except PermissionError:  # running, under another user
        return True
    return True


def _fixture_parent() -> str:
    """This process's fixture parent directory. The first call creates it
    and removes the parent directories of processes no longer running
    (killed before their exit hook could)."""
    global _fixture_root
    if _fixture_root is None:
        tmp = tempfile.gettempdir()
        for name in os.listdir(tmp):
            pid = name[len(FIXTURE_ROOT_PREFIX):]
            if name.startswith(FIXTURE_ROOT_PREFIX) and pid.isdigit() and not _pid_running(int(pid)):
                shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        _fixture_root = os.path.join(tmp, f"{FIXTURE_ROOT_PREFIX}{os.getpid()}")
        os.makedirs(_fixture_root, exist_ok=True)
    return _fixture_root


def fixture(label: str, sf_dir: str, tables: tuple, build: Callable[[str], T]) -> T:
    """Return what ``build(directory)`` returned for the current files
    of ``tables`` under ``sf_dir``, calling it once per file version
    with a fresh temp directory to write into."""
    key = _key(label, None, sf_dir, tables, ())
    if key in _STORE:
        return _STORE[key][1]
    for path, _ in _evict(key):
        shutil.rmtree(path, ignore_errors=True)
    path = tempfile.mkdtemp(prefix=f"{label}_", dir=_fixture_parent())
    try:
        value = build(path)
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    _STORE[key] = (path, value)
    return value


@atexit.register
def _remove_fixture_dirs() -> None:
    if _fixture_root is not None:
        shutil.rmtree(_fixture_root, ignore_errors=True)
