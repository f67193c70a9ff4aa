"""End-to-end app assembly test: the full EP2-parity pipeline runs at
sf0.001 and produces readable artifacts with sane metrics."""

from __future__ import annotations

import json

import pytest
from pyspark.ml import PipelineModel

from customer_review__etl_spark.app.pipeline import run_pipeline
from customer_review__etl_spark.sources import sinks

from conftest import SF_DIR


def test_run_pipeline_end_to_end(spark, tmp_path):
    ts = "20240301_120000"
    out = run_pipeline(
        spark,
        SF_DIR,
        str(tmp_path / "out"),
        bucket_url=f"file://{tmp_path}/bucket",
        execution_ts=ts,
    )

    m = out["metrics"]
    assert m["rows_clean"] <= m["rows_raw"]
    assert 0.0 <= m["accuracy"] <= 1.0
    assert 0.0 <= m["weighted_f1"] <= 1.0

    processed = spark.read.parquet(out["processed_path"])
    assert processed.count() == m["rows_clean"]
    assert set(processed.columns) == {
        "doc_id", "lang", "source", "topic", "theme",
    }

    dist = sinks.read_csv(
        spark, out["theme_distribution_path"], "theme STRING, n BIGINT"
    )
    assert dist.count() >= 1

    with open(out["metrics_path"], encoding="utf-8") as f:
        on_disk = json.load(f)
    assert on_disk["accuracy"] == m["accuracy"]

    model = PipelineModel.load(out["model_path"])
    assert len(model.stages) == 4

    # S5 publish: reference-DAG key layout, readable back from the store
    loc = out["store_locations"]
    assert loc["processed_data"].endswith(f"data/processed_reviews_{ts}.csv")
    assert loc["metrics"].endswith(f"metrics/model_metrics_{ts}.json")
    assert loc["models"], "model files published"
    assert all(f"models/{ts}/" in u for u in loc["models"])
    published = sinks.read_csv(
        spark,
        loc["processed_data"],
        "doc_id BIGINT, lang STRING, source STRING, topic INT, theme STRING",
    )
    assert published.count() == m["rows_clean"]


_PASS_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from customer_review__etl_spark.session import get_spark
from customer_review__etl_spark.app.pipeline import run_pipeline
spark = get_spark("cross-core")
res = run_pipeline(spark, sys.argv[2], sys.argv[3])
spark.stop()
print(json.dumps(res))
"""


def test_run_pipeline_same_answer_on_any_core_count(tmp_path):
    """One pass per core count, each in its own process (the core
    count is fixed when the session starts): the metrics and every
    document's topic and theme are the same."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    repo = str(Path(__file__).resolve().parent.parent)
    answers = []
    for cpus in ("1", "4"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        proc = subprocess.run(
            [sys.executable, "-c", _PASS_SCRIPT, repo, SF_DIR,
             str(tmp_path / f"cpus{cpus}")],
            env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        rows = pq.read_table(
            res["processed_path"], columns=["doc_id", "topic", "theme"]
        ).to_pylist()
        answers.append(
            (res["metrics"], sorted(tuple(r.values()) for r in rows))
        )
    assert answers[0][0] == answers[1][0]
    assert answers[0][1] == answers[1][1]


def test_run_pipeline_branch_error_propagates_and_releases(
    spark, tmp_path, monkeypatch
):
    """A failing classifier branch fails the pass with its own error,
    and the pass still releases every cache it made."""
    from customer_review__etl_spark.ml import pipeline as P

    class ClassifierFailed(RuntimeError):
        pass

    def fail(*_args, **_kwargs):
        raise ClassifierFailed("fit_classifier failed")

    monkeypatch.setattr(P, "fit_classifier", fail)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    before = persistent.size()
    with pytest.raises(ClassifierFailed):
        run_pipeline(spark, SF_DIR, str(tmp_path / "out"))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before


def test_bytes_on_disk_without_catalog_identity(spark):
    """A URL the catalog cannot stat (as for an object store) is sized
    by its Hadoop file system, to the same byte count."""
    from customer_review__etl_spark.app.pipeline import _bytes_on_disk

    path = f"{SF_DIR}/documents.parquet"
    n = _bytes_on_disk(spark, path)
    assert n > 0
    assert _bytes_on_disk(spark, f"file://{path}") == n
