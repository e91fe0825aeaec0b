from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    from datapipe_spark import get_spark

    s = get_spark("datapipe-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture for property tests (hypothesis passes it through)."""
    return spark


class CrashGate:
    """Crash injection for the journaled stores. While armed with
    ``arm(root, n)``, the first ``n`` filesystem steps on paths under
    ``root`` (``os.rename``, ``os.replace``, ``os.remove``,
    ``shutil.rmtree``) run and the next one raises
    ``RuntimeError("crash-inject")``; ``disarm()`` stops counting."""

    def __init__(self):
        self.n = None
        self.root = None

    def arm(self, root: str, n: int) -> None:
        self.root, self.n = root, n

    def disarm(self) -> None:
        self.n = None

    def wrap(self, real):
        def wrapper(*a, **k):
            p = a[0] if a else ""
            if self.n is not None and isinstance(p, str) and self.root in p:
                if self.n <= 0:
                    raise RuntimeError("crash-inject")
                self.n -= 1
            return real(*a, **k)

        return wrapper


@pytest.fixture
def crash_gate(monkeypatch):
    """A disarmed ``CrashGate`` patched over the filesystem steps the
    store commits take."""
    import shutil

    gate = CrashGate()
    for mod, name in ((os, "rename"), (os, "replace"), (os, "remove"), (shutil, "rmtree")):
        monkeypatch.setattr(mod, name, gate.wrap(getattr(mod, name)))
    return gate
