"""Shared scratch-directory helpers for operators that materialize
intermediate tables (streaming sinks, archives, incremental state).

Scratch lives under the system temp dir (not the repo): contents are
deterministic, rebuilt on demand, and safe to wipe between runs.
"""

from __future__ import annotations

import os
import shutil
import tempfile


def scratch_root() -> str:
    # NOTE: defaulting this to /dev/shm (tmpfs) was benched and
    # rejected — A/B at sf0.1 showed no win (74.5 s vs 71.8 s suite
    # wall); the scratch files are small enough that the OS page cache
    # already absorbs them on /tmp. Override via the env var if a host
    # has a genuinely slow temp filesystem.
    root = os.environ.get(
        "SPARK_GRAFT_STREAM_DIR",
        os.path.join(tempfile.gettempdir(), "datapipe_spark_stream"),
    )
    os.makedirs(root, exist_ok=True)
    return root


def atomic_write_json(path: str, obj) -> None:
    """Durably publish a small JSON control file (journal, meta): write
    aside, flush + fsync the data, atomically rename over the target,
    then fsync the DIRECTORY so the rename itself survives power loss
    (r12 review: without the fsyncs, 'once the journal exists the
    commit WILL complete' held for process crashes but not power cuts —
    a persisted rename of unpersisted bytes leaves a torn JSON that
    wedges every subsequent store entry on json.load)."""
    import json

    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def run_concurrently(spark, *fns) -> list:
    """Run independent Spark actions (the staged writes of one commit)
    concurrently so each one's driver planning and commit overhead
    overlaps the others. Every callable is joined before the first
    failure is raised, so no write is still running when the caller
    decides what to commit; returns the results in argument order.

    Each callable is wrapped with ``inheritable_thread_target(spark)``
    on the calling thread, so its jobs carry the caller's job group and
    description (a plain pool thread starts with none). Wrapping per
    callable gives each thread its own copy of the local properties.

    Hazard: the store writer lease re-enters per THREAD
    (``operators/lease.py``), so a callable that enters a
    ``@guards_writer`` function on the store its caller holds raises
    ``StoreLockedError``. Pooled callables must only write staging."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    return [f.result() for f in futs]


def ensure_workers_can_import(spark) -> None:
    """Make ``datapipe_spark`` importable inside executor Python
    workers regardless of the driver process's cwd/PYTHONPATH.

    Operators that ship repo-module-referencing functions to workers
    (the ``applyInPandasWithState`` session machine, Pandas-UDF
    helpers) are pickled with by-REFERENCE globals: the worker must
    ``import datapipe_spark``. That has always resolved via the
    driver's working directory landing on ``sys.path['']`` — true for
    the test/replica/driver harnesses, but an embedding application
    launching from elsewhere would hit ``ModuleNotFoundError`` deep
    inside a task. One ``addPyFile`` of a fresh package zip per
    session removes the cwd dependency (SparkFiles prepends it to
    every worker's path). Cost: ~10 ms once per session."""
    if getattr(spark, "_datapipe_pyfiles_shipped", False):
        return
    import tempfile
    import zipfile

    import datapipe_spark

    pkg_root = os.path.dirname(os.path.abspath(datapipe_spark.__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"datapipe_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for n in files:
                if n.endswith(".py"):
                    full = os.path.join(dirpath, n)
                    rel = os.path.join(
                        "datapipe_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark._datapipe_pyfiles_shipped = True


def build_once(
    src: str, version_tag: str, env_var: str, default_root: str, builder
) -> str:
    """Build-once artifact cache, shared by every persisted-store
    fixture (SCD2 store, evolved store, band index, events snapshot —
    r12 dedup of four near-verbatim copies): keyed by the SOURCE
    parquet's identity ``(abspath, size, mtime_ns)`` plus a version
    tag (bump it when the build recipe changes), built privately under
    ``<out>.tmp-<pid>`` by ``builder(tmp_dir)``, and published with
    one atomic rename after a ``_READY`` marker lands — concurrent
    builders race the rename and the loser discards its copy, so
    readers never see a partial or mixed artifact. Returns the
    published directory."""
    import hashlib

    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}:{version_tag}".encode()
    ).hexdigest()[:16]
    root = os.environ.get(env_var, default_root)
    out = os.path.join(root, key)
    if not os.path.exists(os.path.join(out, "_READY")):
        tmp = f"{out}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        builder(tmp)
        open(os.path.join(tmp, "_READY"), "w").close()
        try:
            os.makedirs(root, exist_ok=True)
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # another builder won
    return out


def fresh_dir(*parts: str) -> str:
    """Deterministic scratch path, wiped on each call."""
    path = os.path.join(scratch_root(), *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_empty_parquet(path: str, ddl: str) -> None:
    """Write a typed, zero-row parquet file without launching a Spark
    job (r13: an empty ``createDataFrame([]).write`` costs a full
    job + commit protocol — ~1-2 s of pure overhead on the store-init
    and empty-bucket-swap paths). The file's arrow schema maps exactly
    to the Spark DDL (timestamps as us/UTC, matching the UTC session),
    so an explicit-schema read treats it like any Spark-written part
    file."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        to_arrow_schema(_parse_datatype_string(ddl)).empty_table(),
        os.path.join(path, "part-00000-empty.parquet"),
    )


def materialize_and_release(df, *caches):
    """Materialize ``df`` via ``localCheckpoint`` and unpersist the
    mid-query ``caches`` it was built from.

    For operators whose returned plan depends on internally persisted
    intermediates: a plain ``persist`` can never be released (the
    caller consumes the plan later), so it leaks into the session's
    cache for good — measurably slowing every subsequent query.
    ``localCheckpoint`` pins only the (small) result as block-manager
    RDD blocks, which the ContextCleaner frees automatically once the
    DataFrame is unreferenced — unlike plan caches, which live until
    an explicit unpersist. Use when |result| ≪ |inputs| (pair lists,
    labels); the checkpoint write is one extra pass over the result
    rows only.
    """
    out = df.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out
