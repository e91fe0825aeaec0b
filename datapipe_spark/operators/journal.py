"""The journaled two-phase commit: the package's ONE way to replace a
live directory. Every persisted store commits through it — the band
index (``dedup_index``), the SCD2 dimension store (``scd2``) and the
IVF index (``similarity``) — and so do the daily DAG's mart publish
(``plans/dag.py``, one journal of four swaps) and the incremental
increment (``plans/incremental.py``, the first-order state and every
touched serving partition in one journal). Filesystem only: no Spark
here.

A writer entry:

1. stages its output under a hidden ``new_stage`` dir — readers address
   the store's part dirs directly, so staged data is invisible;
2. durably records the commit with ``commit`` (ONE fsynced atomic
   rename of ``commit-pending.json``): the commit point. Past it the
   commit WILL complete;
3. calls ``roll_forward``, which replays the journal and retires it.

Journal keys, every one optional:

    moves    [[staged_file, live_file], ...]  files into live dirs
    swaps    [[staged_dir, live_dir], ...]    whole-dir replacements
    deletes  [path, ...]                      files the commit retires
    meta     {...}                            the store's meta.json

The replay applies them in that order, then retires the journal. Every
step is idempotent, so a crash anywhere inside the replay just replays
again on the next entry. A step whose source is gone is legal only
when its destination already landed (the replayed state); source AND
destination both missing means the staged data was destroyed after the
commit point — the commit can never be completed, and completing the
rest would advance the store's watermark past a lost batch, so the
replay raises instead. A crash BEFORE the commit point leaves only
journal-less staging debris (the batch never committed and replays
wholesale); writer entries ``sweep`` it.

Readers roll forward too but never sweep: a reader running beside an
in-flight pre-journal writer would delete the live writer's staging
and lose its batch. The replay runs under the store's
``recovery_guard``: two processes replaying one journal concurrently
could interleave a swap's rename pair destructively.

Every completed replay and every sweep that removes debris emits one
INFO record on the ``datapipe_spark.journal`` logger, carrying the
store dir.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid

JOURNAL = "commit-pending.json"
_STAGE_PREFIX = ".staging-"

log = logging.getLogger("datapipe_spark.journal")


def _p(store_dir: str, name: str) -> str:
    return store_dir.rstrip("/") + "/" + name


def new_stage(store_dir: str) -> tuple[str, str]:
    """A fresh staging dir for one commit: ``(token, stage_dir)``. The
    dir is not created; the token also prefixes moved file names."""
    token = uuid.uuid4().hex[:12]
    return token, _p(store_dir, _STAGE_PREFIX + token)


def staged_moves(src_dir: str, dest_dir: str, token: str) -> list[list[str]]:
    """Journal ``moves`` for every staged part file in ``src_dir``:
    token-prefixed destination names stay unique in the live dir across
    replays of the same batch."""
    return [
        [os.path.join(src_dir, name), os.path.join(dest_dir, f"{token}-{name}")]
        for name in sorted(os.listdir(src_dir))
        if name.startswith("part-") and name.endswith(".parquet")
    ]


def commit(store_dir: str, journal: dict) -> str:
    """THE commit point: the journal JSON written aside, then one
    fsynced atomic rename (power-loss durable). Returns the journal
    path."""
    from datapipe_spark.util import atomic_write_json

    jp = _p(store_dir, JOURNAL)
    atomic_write_json(jp, journal)
    return jp


def roll_forward(store_dir: str, sweep: bool = False) -> bool:
    """Complete a pending commit, if any (module docstring). ``sweep``
    (writer entries only) then removes journal-less staging debris.
    Returns True if a pending commit was completed."""
    pending = False
    if os.path.exists(_p(store_dir, JOURNAL)):
        from datapipe_spark.operators.lease import recovery_guard

        with recovery_guard(store_dir.rstrip("/")):
            pending = _replay(store_dir)
    if sweep:
        _sweep(store_dir)
    return pending


def _lost(jp: str, step: str, src: str, dst: str) -> RuntimeError:
    return RuntimeError(
        f"commit journal at {jp} names a {step} whose source and "
        f"destination are both missing ({src} -> {dst}): the staged "
        "data was destroyed after the commit point and cannot be "
        "completed or replayed. Refusing to complete a torn commit or "
        "advance the watermark past a lost batch."
    )


def _replay(store_dir: str) -> bool:
    """The replay body, called ONLY under the recovery lock; re-checks
    journal existence (the winner of the lock race replays, losers
    find it retired)."""
    jp = _p(store_dir, JOURNAL)
    if not os.path.exists(jp):
        return False
    with open(jp) as f:
        j = json.load(f)
    for src, dst in j.get("moves", []):
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
        elif not os.path.exists(dst):
            raise _lost(jp, "move", src, dst)
    for src, live in j.get("swaps", []):
        old = live + ".old"
        if os.path.exists(src):
            os.makedirs(os.path.dirname(live), exist_ok=True)
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
            os.rename(src, live)
        elif not os.path.exists(live):
            raise _lost(jp, "swap", src, live)
        shutil.rmtree(old, ignore_errors=True)
    # deletes land after moves and swaps: a purge journals new files in
    # and old files out, and removing an already-removed file is just
    # the replayed state
    for path in j.get("deletes", []):
        if os.path.exists(path):
            os.remove(path)
    if "meta" in j:
        from datapipe_spark.util import atomic_write_json

        atomic_write_json(_p(store_dir, "meta.json"), j["meta"])
    os.remove(jp)
    log.info(
        "completed pending commit in %s", store_dir,
        extra={"store_dir": store_dir},
    )
    return True


def sweep(store_dir: str) -> int:
    """Delete journal-less staging dirs — debris of a crash before the
    commit point. WRITER entries only (module docstring). Returns the
    number of dirs removed."""
    debris = [n for n in os.listdir(store_dir) if n.startswith(_STAGE_PREFIX)]
    for name in debris:
        shutil.rmtree(os.path.join(store_dir, name), ignore_errors=True)
    if debris:
        log.info(
            "swept %d uncommitted staging dir(s) from %s", len(debris), store_dir,
            extra={"store_dir": store_dir},
        )
    return len(debris)


_sweep = sweep  # roll_forward's ``sweep`` flag shadows the name


def watermark(store_dir: str) -> int:
    """The store's exactly-once high-watermark: the largest
    ``last_batch_id`` whose commit has passed the commit point (−1 if
    none recorded). A pending journal that carries ``meta`` is read
    first: past its rename the commit WILL complete, while
    ``meta.json`` still holds the pre-commit watermark, so a replay
    checked against meta alone would re-run a committed batch. A
    journal without ``meta`` (a queue commit, say) does not change
    ``meta.json``, which then holds the watermark."""
    try:
        with open(_p(store_dir, JOURNAL)) as f:
            j = json.load(f)
        if "meta" in j:
            return int(j["meta"].get("last_batch_id", -1))
    except (json.JSONDecodeError, FileNotFoundError):
        pass  # no journal, or retired (or torn tmp debris) mid-read
    with open(_p(store_dir, "meta.json")) as f:
        return int(json.load(f).get("last_batch_id", -1))


def reset(store_dir: str) -> None:
    """Rebuild-in-place clear: drop a stale journal, staging debris and
    the ``tombstones/`` queue, so nothing of the OLD store can roll
    forward into (or hide rows of) the one being rebuilt."""
    if not os.path.isdir(store_dir):
        return
    jp = _p(store_dir, JOURNAL)
    if os.path.exists(jp):
        os.remove(jp)
    for name in os.listdir(store_dir):
        if name.startswith(_STAGE_PREFIX) or name == "tombstones":
            shutil.rmtree(os.path.join(store_dir, name), ignore_errors=True)
