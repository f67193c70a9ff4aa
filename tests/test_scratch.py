"""The owner of per-query state (scratch.py): the release rule for
scratch dirs and landings, and the sweep of dead processes' run dirs
(round-3 ADVICE: the old sweep raced concurrent processes — bench
overlapping pytest could delete a LIVE run dir out from under a lazy
DataFrame)."""

import os
import sys
import threading
import time

from customer_review__etl_spark import scratch, store
from customer_review__etl_spark.plans import all_queries
from customer_review__etl_spark.sources import tables
from customer_review__etl_spark.sources.tables import TABLE_NAMES

from conftest import SF_DIR
from test_differential_edges import _compare


def test_sweep_skips_live_owner(tmp_path):
    live = tmp_path / f"run_{os.getpid()}_deadbeef0000"
    live.mkdir()
    old = time.time() - 2 * scratch._GRACE_SEC
    os.utime(live, (old, old))
    assert not scratch._sweepable(live, time.time())


def test_sweep_skips_recent_even_if_owner_dead(tmp_path):
    # PID 2**22-ish beyond pid_max on default systems — treat dead;
    # the dir is fresh, so the grace window must still protect it.
    fresh = tmp_path / "run_99999999_cafecafe0000"
    fresh.mkdir()
    assert not scratch._sweepable(fresh, time.time())


def test_sweep_removes_dead_and_idle(tmp_path):
    stale = tmp_path / "run_99999999_feedfeed0000"
    stale.mkdir()
    old = time.time() - 2 * scratch._GRACE_SEC
    os.utime(stale, (old, old))
    assert scratch._sweepable(stale, time.time())


def test_unparseable_name_falls_back_to_grace(tmp_path):
    odd = tmp_path / "leftover"
    odd.mkdir()
    assert not scratch._sweepable(odd, time.time())  # fresh: keep
    old = time.time() - 2 * scratch._GRACE_SEC
    os.utime(odd, (old, old))
    assert scratch._sweepable(odd, time.time())  # idle + no owner: sweep


def test_run_scratch_creates_under_own_run_dir():
    d = scratch.run_scratch("t_")
    assert os.path.isdir(d)
    assert f"run_{os.getpid()}_" in d


def _tree(path):
    """(dirs, files) below `path`."""
    n_dirs = n_files = 0
    for _root, dirs, files in os.walk(path):
        n_dirs += len(dirs)
        n_files += len(files)
    return n_dirs, n_files


def _queries_reaching_run_scratch():
    """Registry queries whose code names run_scratch, directly or
    through an engine def that does (by name, across modules: an
    over-approximation, never a miss)."""
    import ast
    from pathlib import Path

    engine = Path(scratch.__file__).resolve().parent
    defs = {}
    for path in engine.rglob("*.py"):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(stmt)

    def names(node):
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        }

    reach = {"run_scratch"}
    while grown := {
        name for name, ds in defs.items()
        if name not in reach and any(names(d) & reach for d in ds)
    }:
        reach |= grown
    return [
        name for name, spec in all_queries().items()
        if spec.fn.__name__ in reach
    ]


def test_repeated_calls_leave_the_run_dir_as_the_first_did(spark):
    """Three rounds of every query that reaches run_scratch in one
    session: a query's next call removes the dir its last call made
    and a landing stays as long as its corpus identity, so the run dir
    after round 3 holds what it held after round 1, and each last call
    still matches its oracle."""
    names = _queries_reaching_run_scratch()
    assert "io13_partition_pruned_read" in names
    assert "st11_incremental_resume" in names
    assert "pl06_data_recipe_unified" in names
    run_dir = scratch._BASE / scratch._RUN
    after = []
    for rnd in range(3):
        for name in names:
            spec = all_queries()[name]
            if rnd == 2 and spec.oracle is not None:
                _compare(spark, SF_DIR, name, TABLE_NAMES)
            else:
                rows = spec.fn(spark, SF_DIR).collect()
                assert rows or spec.oracle is not None, f"{name}: no rows"
        after.append(_tree(run_dir))
    assert after[2] == after[0]


def _write_docs(spark, sf_dir, texts):
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")


def _landing(spark, sf_dir):
    return scratch.materialized_df(
        spark,
        sf_dir,
        "test_kind",
        lambda s, d: tables.load(s, d, "documents"),
        ["doc_id", "text"],
    )


def test_landing_keys_on_corpus_and_kind(spark, tmp_path):
    """A landing of one kind over corpus A still reads after the same
    kind lands over corpus B; rewriting A lands A again and removes
    only A's superseded directory."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_docs(spark, a, ["alpha", "beta"])
    _write_docs(spark, b, ["gamma"])
    land_a = _landing(spark, a)
    (dir_a,) = {os.path.dirname(f) for f in land_a.inputFiles()}
    land_b = _landing(spark, b)
    assert sorted(r.text for r in land_a.collect()) == ["alpha", "beta"]
    assert [r.text for r in land_b.collect()] == ["gamma"]

    _write_docs(spark, a, ["delta"])
    assert [r.text for r in _landing(spark, a).collect()] == ["delta"]
    assert not os.path.exists(dir_a)
    assert [r.text for r in land_b.collect()] == ["gamma"]


def test_concurrent_requests_leave_one_dir_per_key():
    """Eight threads (more than the cores) request one key at once, 20
    times each: every request releases the one before it, so exactly
    the held dir is left; another key's dir is untouched."""
    other = scratch.run_scratch("t_other_")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda: [
                    scratch.run_scratch("t_stress_") for _ in range(20)
                ]
            )
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    run_dir = scratch._BASE / scratch._RUN
    left = [str(p) for p in run_dir.iterdir() if p.name.startswith("t_stress_")]
    assert left == [store._HELD[("dir", None, "t_stress_")][1]]
    assert os.path.isdir(other)
