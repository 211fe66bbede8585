"""One binding per session (register.py): the manager, the routes and the
one secret-mutation listener, driven on stub sessions — no JVM needed."""

from __future__ import annotations

import pytest

from duckdb_age_spark import jvm
from duckdb_age_spark.secrets import SecretManager
from duckdb_age_spark.sources import encrypted
from tests.conftest import PUB1, PUB2, StubSession


def test_rebind_moves_the_one_listener(snapshot_udfs):
    """After a rebind the old manager's mutations re-register nothing, and
    A->B->A cycles (the contract rebinds to the default manager, the
    ``manager`` fixture to a fresh one) leave one listener in all."""
    s, m1, m2 = StubSession(), SecretManager(), SecretManager()
    snapshot_udfs.register(s, m1)
    snapshot_udfs.register(s, m2)
    s.registered.clear()
    m1.create_secret("k", public_key=PUB1)
    assert s.registered == []
    m2.create_secret("k", public_key=PUB2)
    assert s.registered == [("age_encrypt", m2.snapshot())]
    assert snapshot_udfs.registered_manager(s) is m2

    for _ in range(5):
        snapshot_udfs.register(s, m1)
        snapshot_udfs.register(s, m2)
    assert (len(m1._listeners), len(m2._listeners)) == (0, 1)
    # the same binding again adds nothing
    snapshot_udfs.register(s, m2)
    assert len(m2._listeners) == 1


@pytest.mark.parametrize("classes", [False, True])
def test_class_probe_decides_the_routes(snapshot_udfs, monkeypatch, classes):
    """Without the ``agespark`` classes a session binds only the Python
    route and routes every size there; with them, one listener re-stages
    both routes and a large column routes to the JVM."""
    staged = []
    monkeypatch.setattr(jvm, "classes_load", lambda spark: classes)
    monkeypatch.setattr(jvm, "stage_and_register", lambda spark, m: staged.append(m.snapshot()))
    s, m = StubSession(), SecretManager()
    snapshot_udfs.register(s, m)
    assert snapshot_udfs.jvm_route_bound(s) is classes
    m.create_secret("k", public_key=PUB1)
    assert [u for _, u in s.registered] == [{}, m.snapshot()]
    assert staged == ([{}, m.snapshot()] if classes else [])

    big = {"c": 10 * encrypted.JVM_CROSSOVER_BYTES}
    monkeypatch.setattr(encrypted, "_median_payload_bytes", lambda df, columns: big)
    df = type("_Frame", (), {"sparkSession": s})()
    assert encrypted._route(df, ["c"]) == {"c": "jvm" if classes else "python"}
