"""Session hygiene: ``scoped_conf`` leaves a shared session as it found it,
also when scopes on one session nest or two threads' scopes overlap."""

from __future__ import annotations

import threading

from mongo_iceberg_lakehouse_spark.session import scoped_conf


def test_overlapping_scopes_restore_prior_value(spark):  # noqa: F811
    """Force enter A, enter B, exit A, exit B on one key: the session must
    end at its prior value, not at the scoped one."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    scoped = str(int(prior) + 3)
    a_in, a_out = threading.Event(), threading.Event()
    both_in = threading.Barrier(2, timeout=60)
    errors: list[BaseException] = []

    def run(body):
        def target():
            try:
                body()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)
        return threading.Thread(target=target)

    def a():
        with scoped_conf(spark, {key: scoped}):
            a_in.set()
            both_in.wait()
        a_out.set()

    def b():
        assert a_in.wait(60)
        with scoped_conf(spark, {key: scoped}):
            both_in.wait()
            assert a_out.wait(60)
            # A has left, B is still inside: B keeps its value
            assert spark.conf.get(key) == scoped

    threads = [run(a), run(b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]
    assert spark.conf.get(key) == prior


def test_nested_scopes_restore_outer_value(spark):  # noqa: F811
    """An inner scope on the same key (a partition sweep around a query
    that scopes the key again) hands the outer block back its own value,
    and the outer exit restores the prior one."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    outer = str(int(prior) + 3)
    with scoped_conf(spark, {key: outer}):
        with scoped_conf(spark, {key: "8"}):
            assert spark.conf.get(key) == "8"
        assert spark.conf.get(key) == outer
    assert spark.conf.get(key) == prior
