"""The engine's runtime confs are applied where a session enters the
engine (`session.ensure_confs`), and a conf the session refuses fails
the call instead of changing answers."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from customer_review__etl_spark.session import _RUNTIME_CONFS, ensure_confs

from conftest import SF_DIR


class _RefusingConf:
    def get(self, key, default=None):
        return default

    def set(self, key, value):
        raise RuntimeError(f"cannot set {key}")


class _RefusingSession:
    conf = _RefusingConf()


def test_a_conf_the_session_refuses_raises():
    with pytest.raises(RuntimeError, match="cannot set"):
        ensure_confs(_RefusingSession())


def _a01(session):
    return entrymod.queries()["a01_group_count"](session, SF_DIR)


@pytest.mark.parametrize("run", [entrymod.entry, _a01], ids=["entry", "a01"])
def test_a_fresh_session_gets_the_engine_confs_where_it_enters(spark, run):
    """A driver-supplied session starts with Spark's default runtime
    confs, as `newSession()` does. The flagship and a registry query
    give it the rows they give the `get_spark` session, and leave it
    with the engine's confs."""
    keys = ["spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"]
    fresh = spark.newSession()
    assert fresh.conf.get(keys[1]) != _RUNTIME_CONFS[keys[1]]
    assert sorted(run(fresh).collect()) == sorted(run(spark).collect())
    assert [fresh.conf.get(k) for k in keys] == [_RUNTIME_CONFS[k] for k in keys]
