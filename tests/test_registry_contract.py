"""Registry ordering + driver-contract invariants.

The external driver records the first 50 registry entries in its
correctness sweep (observed truncation in CORRECTNESS_r01-r07). From
round 8 the ordering is COMPUTED by ``registry._rotation_order`` from
the committed CORRECTNESS_r*.json artifacts (r7 verdict ask #1): a
fresh artifact can change the order but can never violate the policy,
so these tests stay green at every round boundary by construction —
they now guard the *ordering function* (against regressions and
synthetic future-artifact states) rather than a hand-maintained list.
"""

from __future__ import annotations

import glob
import json
import os
import pathlib
import re

from datapipe_spark.plans import registry
from datapipe_spark.plans.registry import DRIVER_WINDOW, _rotation_order

_REPO = os.path.join(os.path.dirname(__file__), "..")

# Rows-only-by-design ops (justified non-SQL: approximate ANN with
# recall floors, an HLL estimate, a data-derived float model, and
# nondeterministic-by-contract lineage metadata).
ROWS_ONLY_BY_DESIGN = {
    "similarity_topk_ivf",
    "similarity_topk_ivf_purged",  # same ANN carve-out; rebuild-equality tested
    # same carve-out; probe-equality with the physical purge pinned in
    # test_queue_purge_ivf_equals_physical_purge (r11)
    "similarity_topk_ivf_purge_queued",
    "similarity_topk_pq",
    "funnel_daily_approx",
    "knn_join_ivf",
    "knn_join_ivfpq",
    "dedup_semantic_ann",
    "lineage_orders_raw",
    "bpe_train_merges",  # iterative merge fixpoint; reference-equality tested
    "bpe_tokenize",  # applies the data-derived merge model; reference-tested
}


def test_never_attested_entries_occupy_head_slots():
    """THE rotation policy: any entry absent from every committed
    CORRECTNESS artifact must sit inside the driver's window so its
    first attestation lands next round. Now guaranteed by construction
    (never-attested sort first) as long as their count fits the window
    — the assert keeps both halves honest."""
    attested = registry.attestation_rounds()
    names = list(registry.queries())
    never = [n for n in names if n not in attested]
    assert len(never) <= DRIVER_WINDOW, (
        f"{len(never)} never-attested entries exceed the {DRIVER_WINDOW}-slot "
        "window — a round cannot attest them all; stage additions"
    )
    head = set(names[:DRIVER_WINDOW])
    stranded = [n for n in never if n not in head]
    assert not stranded, f"never-attested entries parked past the window: {stranded}"


def test_head_rows_only_entries_are_awaiting_first_attestation():
    """Head slots are full rows+schema+hash checks; a rows-only entry
    may hold one ONLY while awaiting its first driver record. The
    rotation function sorts attested rows-only entries to the absolute
    tail, so this can only fire if the oracled surface shrank below
    the window size."""
    names = list(registry.queries())
    oracled = set(registry.oracle_sql())
    attested = registry.attestation_rounds()
    squatters = [
        n for n in names[:DRIVER_WINDOW] if n not in oracled and n in attested
    ]
    assert not squatters, (
        f"rows-only entries already driver-attested must rotate out of the "
        f"head so the slots return to hash-oracled entries: {squatters}"
    )


def test_rotation_order_is_deterministic_and_complete():
    a = list(registry.queries())
    b = list(registry.queries())
    assert a == b
    assert set(a) == set(registry._REGISTRY)
    assert list(registry.oracle_sql()) == [
        n for n in a if registry._REGISTRY[n][1] is not None
    ]


def test_rotation_function_on_synthetic_artifact_states():
    """The r7 failure mode, unit-level: attesting a rows-only head
    entry must rotate it out on the NEXT ordering computation, with no
    hand edit — and never-attested newcomers must jump the queue."""
    names = [f"q{i}" for i in range(8)] + ["ro1", "ro2"]
    oracled = {f"q{i}" for i in range(8)}
    # round 1: nothing attested → catalog order, rows-only awaiting
    order0 = _rotation_order(names, oracled, {})
    assert order0 == names
    # round 2: driver attested everything in its window (here: all)
    att = {n: 1 for n in names}
    order1 = _rotation_order(names, oracled, att)
    assert order1[-2:] == ["ro1", "ro2"], "attested rows-only must sink to the tail"
    # a brand-new entry (incl. a new rows-only one) heads the order
    order2 = _rotation_order(names + ["new_q", "new_ro"], oracled | {"new_q"}, att)
    assert order2[:2] == ["new_q", "new_ro"]
    # stalest-first re-attestation: entries attested earliest come first
    att2 = {**att, "q0": 5, "q1": 3}
    order3 = _rotation_order(names, oracled, att2)
    assert order3.index("q2") < order3.index("q1") < order3.index("q0")


def test_attestation_rounds_counts_success_shapes_only():
    assert "rule_violations" in registry.attestation_rounds()
    # r07 attested the six then-head rows-only entries (the records
    # that left the r7 suite red under the hand-maintained policy)
    att = registry.attestation_rounds()
    for n in ("funnel_daily_approx", "bpe_tokenize", "similarity_topk_pq"):
        assert att[n] >= 7, n


def test_registry_has_no_orphan_oracles():
    names = set(registry.queries())
    assert set(registry.oracle_sql()) <= names


def test_driver_artifact_oracle_parity():
    """Replica↔driver drift gate (r5 verdict ask #4), self-maintaining:
    for every entry the driver recorded in the LATEST committed
    artifact, (a) it passed (or is a clean rows-only record), (b) the
    name is still registered, and (c) its oracle SQL still returns
    exactly the driver-recorded row count in DuckDB at sf0.01."""
    latest = sorted(
        glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )[-1]
    art = json.load(open(latest))
    from tests.oracle import duckdb_con

    oracles = registry.oracle_sql()
    names = set(registry.queries())
    con = duckdb_con("/root/testdata/sf0.01")
    try:
        for name, rec in art.items():
            assert name in names, f"driver-recorded entry vanished: {name}"
            if rec["err"] == "no_oracle":
                assert rec["spark_rows"] >= 0, (name, rec)
                continue
            assert rec["err"] is None and rec["hash_match"], (name, rec)
            got = con.sql(f"SELECT COUNT(*) FROM ({oracles[name]})").fetchone()[0]
            assert got == rec["oracle_rows"], (name, got, rec["oracle_rows"])
    finally:
        con.close()


def test_rows_only_entries_are_the_documented_ones():
    """Every rows-only entry (head or tail) must be one of the
    justified non-SQL-expressible ops."""
    names = list(registry.queries())
    oracled = set(registry.oracle_sql())
    rows_only = {n for n in names if n not in oracled}
    assert rows_only == ROWS_ONLY_BY_DESIGN


# The environment the package reads: session sizing and UI, the default
# testdata root, and one root directory per on-disk store or scratch
# area. Which engine a query runs on is code, not a switch.
DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_UI",
    "SPARK_GRAFT_SF_DIR",
    *(
        f"SPARK_GRAFT_{root}_DIR"
        for root in ("STREAM", "SCD2", "INDEX", "SNAPSHOT", "QUANTIZER", "IVF", "MODEL")
    ),
}


def test_package_reads_only_deployment_settings():
    pkg = pathlib.Path(registry.__file__).resolve().parents[1]
    read = {
        name
        for p in sorted(pkg.rglob("*.py"))
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", p.read_text())
    }
    assert read == DEPLOYMENT_SETTINGS
