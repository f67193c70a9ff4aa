"""The source catalog (sources/tables.py) keys table schemas and every
value derived from a corpus on the identity of the table files, so a
table rewritten in place is read with its new schema and rebuilds what
was landed from it, while a warm load launches no Spark job. Plan-level
caches (plans/helpers.cache_slot) are released on the next call, so a
query run again after an in-place rewrite reads the new files."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from customer_review__etl_spark.plans import dedupplans as D
from customer_review__etl_spark.sources import tables

from conftest import SF_DIR
from test_differential_edges import _compare

# the sf0.01 fixture beside the default one; at this scale the rewrite
# below changes every checked answer (the test asserts it)
SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

DOC_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)
BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
NEAR = BASE.replace("kappa", "lambda", 1)
OTHER = "one two three four five six seven eight nine ten " * 3
THIRD = "red orange yellow green blue indigo violet black white grey " * 3


def _write_docs(spark, path, texts):
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)], DOC_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_rewritten_corpus_rebuilds_landing(spark, tmp_path):
    d = str(tmp_path / "sf")
    path = f"{d}/documents.parquet"
    # corpus A: docs 0/1 are the near-dup pair
    _write_docs(spark, path, [BASE, NEAR, OTHER, THIRD])
    _compare(spark, d, "d05_neardup_clusters", "documents")
    landed_a = set(D.d02_pairs_m(spark, d).inputFiles())

    # corpus B at the same path: the pair moves to docs 2/3, so pairs
    # landed from A would cluster the wrong documents
    _write_docs(spark, path, [OTHER, THIRD, BASE, NEAR])
    _compare(spark, d, "d05_neardup_clusters", "documents")
    landed_b = set(D.d02_pairs_m(spark, d).inputFiles())
    assert landed_a.isdisjoint(landed_b)
    pairs = D.d02_pairs_m(spark, d).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(2, 3)}


@pytest.mark.parametrize("layout", ["directory", "file"])
def test_rewritten_table_loads_new_schema(spark, tmp_path, layout):
    d = str(tmp_path / "sf")
    path = f"{d}/region.parquet"

    def write(cols):
        t = pa.table({c: pa.array([1, 2], pa.int64()) for c in cols})
        if layout == "file":
            (tmp_path / "sf").mkdir(exist_ok=True)
            pq.write_table(t, path)
        else:
            spark.createDataFrame(t.to_pandas()).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)

    write(["r_regionkey"])
    assert tables.load(spark, d, "region").columns == ["r_regionkey"]
    assert tables.load(spark, d, "region").columns == ["r_regionkey"]
    write(["r_regionkey", "r_extra"])
    df = tables.load(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_extra"]
    assert sorted(r["r_extra"] for r in df.collect()) == [1, 2]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_warm_load_launches_no_job(spark, tmp_path):
    d = str(tmp_path / "sf")
    _write_docs(spark, f"{d}/documents.parquet", [BASE, OTHER])
    # the cold load infers the schema with a footer job; the warm one
    # reads with the catalog's schema and plans without running a job
    cold = _jobs_in_group(
        spark, "catalog_cold", lambda: tables.load(spark, d, "documents")
    )
    warm = _jobs_in_group(
        spark, "catalog_warm", lambda: tables.load(spark, d, "documents")
    )
    assert len(cold) >= 1
    assert warm == []


def _copy_tables(src, dst):
    """The fixture's tables as one-part directories, the layout the
    oracle views read."""
    for name in tables.TABLE_NAMES:
        os.makedirs(f"{dst}/{name}.parquet")
        shutil.copyfile(
            f"{src}/{name}.parquet", f"{dst}/{name}.parquet/part-0.parquet"
        )


def _rewrite_in_place(path, column):
    """Shift `column` up by one row (row i takes row i+1's value), so
    every row keeps its key but not its value. pyarrow writes a hidden
    temp file that is renamed over the part: Spark's own overwrite
    would re-cache the path and hide a stale cache."""
    t = pq.read_table(path)
    vals = t[column].combine_chunks()
    t = t.set_column(
        t.schema.get_field_index(column),
        column,
        pa.concat_arrays([vals[1:], vals[:1]]),
    )
    tmp = os.path.join(os.path.dirname(path), ".rewrite.parquet")
    pq.write_table(t, tmp)
    os.replace(tmp, path)


@pytest.mark.parametrize(
    "name, table, column",
    [
        ("q15_top_supplier", "lineitem", "l_extendedprice"),
        ("q11_important_stock", "lineitem", "l_extendedprice"),
        ("t13_unigram_surprisal", "documents", "text"),
        ("ml06_kmeans", "embeddings", "embedding"),
    ],
)
def test_query_after_out_of_band_rewrite(spark, tmp_path, name, table, column):
    d = str(tmp_path / "sf")
    _copy_tables(SF01, d)
    before = _compare(spark, d, name, tables.TABLE_NAMES)
    _rewrite_in_place(f"{d}/{table}.parquet/part-0.parquet", column)
    after = _compare(spark, d, name, tables.TABLE_NAMES)
    assert after != before


def test_derived_without_identity_is_not_kept(tmp_path):
    """No table under sf_dir can be stat'ed, so there is nothing to key
    the value on: every call builds it."""
    d = str(tmp_path / "missing")
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert tables.derived(d, "unkeyed", build) == 1
    assert tables.derived(d, "unkeyed", build) == 2


def test_derived_builds_once_under_contention(tmp_path):
    """Eight threads (more than the cores) ask for one kind at once:
    the per-key lock lets exactly one of them build it."""
    d = str(tmp_path / "sf")
    # one stat-able table gives the corpus an identity to key on
    (tmp_path / "sf").mkdir()
    (tmp_path / "sf" / "documents.parquet").write_bytes(b"")
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    got = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda: got.append(tables.derived(d, "stress", build))
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
    assert len(calls) == 1
    assert len(got) == 8 and all(g is got[0] for g in got)
