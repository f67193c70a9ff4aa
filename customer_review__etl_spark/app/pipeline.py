"""End-to-end review-pipeline application (EP2 parity).

Reference flow (Dockerfile:277-287; cleaner.process_pipeline
cleaner.py:288-324): extract → clean/dedup → text-normalize → LDA
themes → classifier + metrics → CSV/models/metrics-JSON → dashboard
aggregates. Here the whole chain is ONE lazy Spark job: no CSV
hand-offs between stages (SURVEY §1.1 — files-as-IPC becomes lazy
DataFrame chaining), parquet + model dir + metrics JSON at the end.

Stage map (reference loc → here):
  clean_dataframe   cleaner.py:77-116  → _clean (P1-P6)
  preprocess_text   cleaner.py:118-150 → ml.pipeline.with_tokens + stem
  extract_themes    cleaner.py:152-223 → ml.pipeline.fit_lda/assign_topics
  train_classifier  cleaner.py:225-273 → ml.pipeline.fit_classifier/metrics
  load_to_s3        loader.py          → sources.sinks (s3a-ready paths)
  dashboard-prep    dashboard.py:21-46 → theme_distribution/top_words
"""

from __future__ import annotations

from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..ml import pipeline as P
from ..sources import sinks, tables


def _clean(docs: DataFrame) -> DataFrame:
    """P1-P6: lowercase column names, null-filter the text key, exact
    dedup keep-first on content (cleaner.py:93-113)."""
    df = docs.toDF(*[c.lower() for c in docs.columns])
    df = df.filter(F.col("text").isNotNull())
    w = Window.partitionBy(T.doc_fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def theme_distribution(themed: DataFrame) -> DataFrame:
    """Dashboard A1: value_counts over theme (dashboard.py:29-30)."""
    return (
        themed.groupBy("theme")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "theme")
    )


def top_words(themed: DataFrame, k: int = 50) -> DataFrame:
    """Dashboard A6, scale-safe top-K form (dashboard.py:36)."""
    return (
        themed.select(F.explode("unigrams").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(k)
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    bucket_url: str | None = None,
    execution_ts: str = "19700101_000000",
) -> dict[str, Any]:
    """Run the full ETL+ML chain; write parquet/model/metrics; return
    paths + metrics (the reference's XCom dict, ml_pipeline_dag.py:114).

    When ``bucket_url`` is given (``file://…`` or ``s3a://…``), the
    run also publishes to the object store with the reference DAG's
    versioned key layout (upload_to_s3, ml_pipeline_dag.py:225-260):
    processed data under data/, metrics under metrics/, the model dir
    under models/{execution_ts}/ — and the returned dict gains the
    "s3_locations"-style manifest."""
    docs = tables.load(spark, sf_dir, "documents")
    n_raw = docs.count()

    # This pass owns both caches and releases them on every exit. The
    # token frame is counted once it is persisted, so the count fills
    # the cache fit_lda's estimators read instead of running the text
    # chain once more.
    toks = P.with_tokens(_clean(docs)).persist(StorageLevel.MEMORY_AND_DISK)
    themed = None
    try:
        n_clean = toks.count()

        lda_model, transformed = P.fit_lda(toks)
        themed = P.assign_topics(transformed).cache()

        split = P.md5_split(
            themed.select("doc_id", "lang", "unigrams"), "doc_id"
        )
        clf_model, predictions, train = P.fit_classifier(split)
        m = P.classification_metrics(predictions).collect()[0]

        processed_path = f"{out_dir}/processed"
        sinks.write_parquet(
            themed.select("doc_id", "lang", "source", "topic", "theme"),
            processed_path,
        )
        dist_path = f"{out_dir}/theme_distribution"
        sinks.write_csv(theme_distribution(themed), dist_path, single_file=True)
        words_path = f"{out_dir}/top_words"
        sinks.write_csv(top_words(themed), words_path, single_file=True)
        model_path = f"{out_dir}/models/classifier"
        sinks.save_model(clf_model, model_path)

        metrics = {
            "rows_raw": n_raw,
            "rows_clean": n_clean,
            "n_test": m["n_test"],
            "accuracy": m["accuracy"],
            "weighted_f1": m["weighted_f1"],
        }
        metrics_path = sinks.write_metrics_json(
            metrics, f"{out_dir}/metrics/pipeline_metrics.json"
        )
        result: dict[str, Any] = {
            "metrics": metrics,
            "processed_path": processed_path,
            "theme_distribution_path": dist_path,
            "top_words_path": words_path,
            "model_path": model_path,
            "metrics_path": metrics_path,
        }
        if bucket_url is not None:
            from ..sources.objectstore import ObjectBucket, publish_run

            bucket = ObjectBucket(spark, bucket_url).ensure()
            result["store_locations"] = publish_run(
                bucket,
                execution_ts,
                processed_df=themed.select(
                    "doc_id", "lang", "source", "topic", "theme"
                ),
                metrics=metrics,
                models_dir=model_path,
            )
        return result
    finally:
        if themed is not None:
            themed.unpersist()
        toks.unpersist()
