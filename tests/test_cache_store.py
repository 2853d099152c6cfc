"""The session-scoped cache store (session.memo / persist /
release_caches), checked without a Spark session."""

from __future__ import annotations

import os
from types import SimpleNamespace

from nano_vectordb_spark import session

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "nano_vectordb_spark")

# The only places that may read applicationId: the store itself, and the
# last-registered-views record in sources/tables.py, which a memo cannot
# replace (a memo on (session, sf_dir) would skip re-registration on
# A -> B -> A and leave B's views live).
_ALLOWED = {
    "sources/tables.py": {
        "# (applicationId -> sf_dir) most recently registered as views; temp-view",
        "app_id = spark.sparkContext.applicationId",
    },
}


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _FakeFrame:
    def __init__(self):
        self.persisted = False

    def persist(self):
        self.persisted = True
        return self

    def unpersist(self):
        self.persisted = False
        return self


def test_no_session_keyed_cache_outside_the_store():
    found = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "session.py":
                continue
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if "applicationId" in line and line.strip() not in _ALLOWED.get(rel, ()):
                        found.append(f"{rel}:{n}: {line.strip()}")
    assert not found, "memoize through session.memo instead:\n" + "\n".join(found)


def test_memo_keys_on_session_and_args_and_release_clears():
    calls = []

    @session.memo
    def build(spark, sf_dir, k=1):
        """doc"""
        calls.append((spark.sparkContext.applicationId, sf_dir, k))
        return session.persist(_FakeFrame())

    assert build.__name__ == "build" and build.__doc__ == "doc"
    a, b = _fake_spark("app-a"), _fake_spark("app-b")
    first = build(a, "sf1")
    assert build(a, "sf1") is first
    assert build(a, "sf2") is not first
    assert build(b, "sf1") is not first  # a new session never sees old frames
    assert build(a, "sf1", 2) is not first
    assert len(calls) == 4 and first.persisted

    assert session.release_caches() >= 4
    assert not first.persisted
    assert not session._MEMO and not session._TRACKED
    build(a, "sf1")
    assert len(calls) == 5
    session.release_caches()
