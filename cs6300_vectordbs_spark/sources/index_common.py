"""Shared content-addressed invalidation for the persisted indexes
(text_index.py BM25, dedup_index.py MinHash bands; vector_index.py
carries a vector-typed variant of the same scheme).

One fingerprint definition means one invalidation behavior across the
index family: ``corpus count + sum of per-row hashes`` of the identity
columns, plus the BUILD PARAMETERS — an index built with different
parameters (band count, bucket count, BM25 k1/b) must never be served
to a caller expecting the new ones, even over an unchanged corpus.

CRASH-SAFETY PROTOCOL (every ``ensure_*`` in the family follows it):
a REBUILD first REMOVES any previous fingerprint
(``invalidate_fingerprint``), then writes the tables, then commits
the new fingerprint LAST — after every table write has produced its
``_SUCCESS`` marker — with an atomic write (temp file +
``os.replace``). A builder that dies mid-build therefore leaves NO
fingerprint at all (the previous one was removed up front, the new
one was never committed), so the next ``ensure_*`` rebuilds
unconditionally; a torn or interleaved old/new layout is never
served, even when the crash interrupted a REBUILD over a previously
committed index whose directories still carry ``_SUCCESS`` markers.
CONCURRENCY CONTRACT: every ``ensure_*`` in the family serializes
its check-build-commit section behind an exclusive ``flock`` on
``{path}/.build_lock`` (``build_lock``), with a double-checked
fingerprint read inside the lock — two builders racing one path
therefore never interleave their table overwrites: one builds, the
other blocks and then reuses the winner's committed index. The lock
is advisory and POSIX-scoped: it protects concurrent builders on ONE
host/filesystem (the local/driver case — executors never call
ensure_*); builders on different hosts sharing object storage need a
per-job staging path instead, since flock does not span S3/HDFS. The
OS releases the lock on process death, so a crashed builder never
wedges the path (and the invalidate-first protocol above makes its
partial build invisible). Concurrent READERS of a completed index
are unrestricted and never take the lock.

STATE MARKERS (``set_marker`` / ``has_marker`` / ``clear_marker``):
one-byte files beside the tables that record maintenance state a
serve must honor, e.g. ``HAS_UPSERTS`` while appended generations need
a latest-wins dedup. A marker is SET before the mutation it announces
and CLEARED only after the write that resolves it, so a crash between
the two leaves the marker behind and the serve pays an unneeded dedup,
never skips a needed one. The dedup is ``latest_generation``, shared
by the serves (while ``HAS_UPSERTS`` exists) and the compactions that
clear the marker.
"""

from __future__ import annotations

import fcntl
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@contextmanager
def build_lock(path: str):
    """Exclusive advisory lock for an index path's build section.

    Usage (every ``ensure_*``): check the fingerprint OUTSIDE the lock
    (the hot reuse path stays lock-free), and on a miss take the lock
    and CHECK AGAIN before building — a builder that blocked here
    usually wakes to find the winner's committed index and serves it
    without rebuilding. flock (not lockf) so the lock follows the open
    file description: it survives fork-exec'd Spark workers ignoring
    it and releases automatically if the builder dies mid-build."""
    os.makedirs(path, exist_ok=True)
    fd = os.open(f"{path}/.build_lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        # closing releases the flock held on this open file description
        os.close(fd)


def corpus_fingerprint(
    df: DataFrame, cols: list[str], params: dict | None = None
) -> str:
    """count:hashsum[:k=v,...] over the identity columns + parameters."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*[F.col(c) for c in cols]).cast("bigint")).alias("chk"),
    ).collect()[0]
    fp = f"{row['n']}:{row['chk']}"
    if params:
        fp += ":" + ",".join(f"{k}={params[k]}" for k in sorted(params))
    return fp


def read_fingerprint(path: str) -> str | None:
    try:
        with open(f"{path}/FINGERPRINT", "r", encoding="utf-8") as f:
            return f.read().strip()
    except OSError:
        return None


def invalidate_fingerprint(path: str) -> None:
    """Remove the commit marker BEFORE a rebuild's first table write.
    Without this, a rebuild that crashes partway over a previously
    committed index leaves the OLD complete fingerprint next to a mix
    of old and new tables — and a later caller whose parameters match
    the old fingerprint would serve the torn layout. With it, the
    crash window of a rebuild is always 'no fingerprint' = rebuild."""
    try:
        os.remove(f"{path}/FINGERPRINT")
    except FileNotFoundError:
        pass


def write_fingerprint(path: str, fp: str) -> None:
    """Atomic commit marker: temp-write + ``os.replace`` so a reader
    (or a crash) can never observe a torn fingerprint — it sees the
    old complete value or the new complete value, nothing between.
    Callers must invoke this only AFTER the index tables are fully
    written (the _SUCCESS markers exist); see the module docstring."""
    tmp = f"{path}/FINGERPRINT.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(fp)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, f"{path}/FINGERPRINT")


def set_marker(path: str, name: str) -> None:
    with open(f"{path}/{name}", "w", encoding="utf-8") as f:
        f.write("1")


def has_marker(path: str, name: str) -> bool:
    return os.path.exists(f"{path}/{name}")


def clear_marker(path: str, name: str) -> None:
    try:
        os.remove(f"{path}/{name}")
    except FileNotFoundError:
        pass


def latest_generation(rows: DataFrame) -> DataFrame:
    """Latest-wins over upsert generations: each ``id``'s row with the
    highest ``gen`` (ties impossible — generations are caller-ordered).
    One shuffle keyed ``id``."""
    w = Window.partitionBy("id").orderBy(F.col("gen").desc())
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
