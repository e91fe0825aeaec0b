"""The shared commit journal (``operators/journal.py``) on plain files,
without Spark: replay order and idempotence under a crash at every
filesystem step, the lost-staging raise, the recovery log records, the
watermark read, and a guard that keeps the protocol in that one
module."""

from __future__ import annotations

import json
import logging
import os
import pathlib
import re

import pytest

from datapipe_spark.operators import journal


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _tree(root: str) -> dict:
    """Every file under ``root`` (relative path -> contents), with the
    per-commit token that prefixes moved files masked. The recovery
    lock is left out: a crash inside its release leaves the file, and
    the next acquirer reclaims it (``operators/lease.py``)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for n in files:
            if n == "recovery.lock":
                continue
            p = os.path.join(dirpath, n)
            with open(p) as f:
                rel = re.sub(r"[0-9a-f]{12}-part-", "TOKEN-part-", os.path.relpath(p, root))
                out[rel] = f.read()
    return out


def _pending_store(d: str) -> None:
    """A store with one committed-but-unreplayed journal: two staged
    part files to move, one swap over an existing live dir, one swap
    into a parent dir that does not exist yet, two deletes, and a meta
    snapshot. A journal-less staging dir is debris for the sweep."""
    _write(f"{d}/meta.json", json.dumps({"last_batch_id": 0}))
    _write(f"{d}/mem/part-a.parquet", "old-a")
    _write(f"{d}/cells/qcell=1/part-x.parquet", "old-cell")
    _write(f"{d}/tombstones/t1.parquet", "t1")
    _write(f"{d}/tombstones/t2.parquet", "t2")
    token, stage = journal.new_stage(d)
    _write(f"{stage}/mem/part-b.parquet", "new-b")
    _write(f"{stage}/mem/part-c.parquet", "new-c")
    _write(f"{stage}/mem/_SUCCESS", "")
    _write(f"{stage}/cells/qcell=1/part-y.parquet", "new-cell")
    _write(f"{stage}/current/bucket=3/part-z.parquet", "new-bucket")
    _write(f"{journal.new_stage(d)[1]}/mem/part-d.parquet", "debris")
    moves = journal.staged_moves(f"{stage}/mem", f"{d}/mem", token)
    assert [os.path.basename(dst) for _src, dst in moves] == [
        f"{token}-part-b.parquet", f"{token}-part-c.parquet"
    ]
    journal.commit(
        d,
        {
            "stage": stage,
            "moves": moves,
            "swaps": [
                [f"{stage}/cells/qcell=1", f"{d}/cells/qcell=1"],
                [f"{stage}/current/bucket=3", f"{d}/current/bucket=3"],
            ],
            "deletes": [f"{d}/tombstones/t1.parquet", f"{d}/tombstones/t2.parquet"],
            "meta": {"last_batch_id": 1},
        },
    )


def test_roll_forward_crash_at_every_fs_step(tmp_path, crash_gate, caplog):
    """Crash the replay after every filesystem step in turn; the next
    writer entry must converge to the crash-free twin, leaving no
    journal and no staging dir behind."""
    caplog.set_level(logging.INFO, logger="datapipe_spark.journal")
    clean = str(tmp_path / "clean")
    _pending_store(clean)
    assert journal.roll_forward(clean, sweep=True) is True
    want = _tree(clean)
    assert json.loads(want["meta.json"]) == {"last_batch_id": 1}
    assert want["cells/qcell=1/part-y.parquet"] == "new-cell"
    assert want["current/bucket=3/part-z.parquet"] == "new-bucket"
    assert not any(p.startswith("tombstones/") for p in want)
    assert not any(".staging-" in p or p.endswith(".old") for p in want)
    done = [r for r in caplog.records if r.getMessage().startswith("completed")]
    swept = [r for r in caplog.records if r.getMessage().startswith("swept")]
    assert [r.store_dir for r in done] == [clean]
    assert [r.store_dir for r in swept] == [clean]
    assert clean in done[0].getMessage() and clean in swept[0].getMessage()

    completed_without_crash = False
    for k in range(40):
        d = str(tmp_path / f"sweep_{k:02d}")
        _pending_store(d)
        crash_gate.arm(d, k)
        crashed = False
        try:
            journal.roll_forward(d, sweep=True)
        except RuntimeError as e:
            assert "crash-inject" in str(e)
            crashed = True
        crash_gate.disarm()
        journal.roll_forward(d, sweep=True)  # the next writer entry
        assert _tree(d) == want, f"diverged after crash at fs-op {k}"
        assert not os.path.exists(os.path.join(d, journal.JOURNAL))
        assert not [n for n in os.listdir(d) if n.startswith(".staging-")]
        if not crashed:
            completed_without_crash = True
            break
    assert completed_without_crash, "sweep never reached the clean-run budget"


def test_roll_forward_meta_only_when_journaled(tmp_path):
    """A journal without ``meta`` (the IVF index's shape) leaves
    meta.json alone, and a journal without ``moves`` replays."""
    d = str(tmp_path / "ivf")
    _write(f"{d}/meta.json", "untouched")
    token, stage = journal.new_stage(d)
    _write(f"{stage}/cells/part-0.parquet", "new")
    journal.commit(d, {"swaps": [[f"{stage}/cells", f"{d}/cells"]]})
    assert journal.roll_forward(d) is True
    assert _tree(d) == {"meta.json": "untouched", "cells/part-0.parquet": "new"}
    assert journal.roll_forward(d) is False  # nothing pending


@pytest.mark.parametrize("step", ["move", "swap"])
def test_roll_forward_raises_when_staging_lost(tmp_path, step):
    """A journaled step whose source AND destination are both missing
    was destroyed after the commit point: the replay raises and leaves
    the journal and meta.json as they were."""
    d = str(tmp_path / "lost")
    _write(f"{d}/meta.json", json.dumps({"last_batch_id": 0}))
    gone = [f"{d}/.staging-gone/x", f"{d}/live/x"]
    journal.commit(d, {f"{step}s": [gone], "meta": {"last_batch_id": 99}})
    with pytest.raises(RuntimeError, match="both missing"):
        journal.roll_forward(d, sweep=True)
    assert os.path.exists(os.path.join(d, journal.JOURNAL))
    with open(f"{d}/meta.json") as f:
        assert json.load(f) == {"last_batch_id": 0}


def test_reset_clears_journal_staging_and_tombstones(tmp_path):
    d = str(tmp_path / "rebuild")
    _write(f"{d}/mem/part-0.parquet", "kept")
    _write(f"{d}/tombstones/t.parquet", "t")
    _write(f"{journal.new_stage(d)[1]}/x", "debris")
    journal.commit(d, {"moves": []})
    journal.reset(d)
    assert _tree(d) == {"mem/part-0.parquet": "kept"}
    journal.reset(str(tmp_path / "absent"))  # no store yet: a no-op


def test_watermark_reads_pending_journal_meta_first(tmp_path):
    """The exactly-once watermark is the pending journal's meta when it
    carries one (the commit WILL complete), else ``meta.json``; a
    journal without meta (a queue commit) leaves it to ``meta.json``."""
    d = str(tmp_path / "store")
    _write(f"{d}/meta.json", json.dumps({"last_batch_id": 3}))
    assert journal.watermark(d) == 3
    journal.commit(d, {"moves": [], "meta": {"last_batch_id": 4}})
    assert journal.watermark(d) == 4
    journal.roll_forward(d)
    assert journal.watermark(d) == 4
    journal.commit(d, {"moves": []})
    assert journal.watermark(d) == 4
    journal.roll_forward(d)
    _write(f"{d}/meta.json", json.dumps({"n_docs": 0, "n_reps": 0}))
    assert journal.watermark(d) == -1  # nothing recorded yet


def test_commit_protocol_lives_only_in_journal_module():
    """The journal file name and the staging prefix are spelled only in
    ``operators/journal.py``: a store that needs the protocol calls it
    rather than carrying another copy."""
    pkg = pathlib.Path(journal.__file__).resolve().parents[1]
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p.resolve() != pathlib.Path(journal.__file__).resolve()
        and any(s in p.read_text() for s in ("commit-pending.json", ".staging-"))
    ]
    assert offenders == []
