"""End-to-end review-pipeline application (EP2 parity).

Reference flow (Dockerfile:277-287; cleaner.process_pipeline
cleaner.py:288-324): extract → clean/dedup → text-normalize → LDA
themes → classifier + metrics → CSV/models/metrics-JSON → dashboard
aggregates. Here the chain is lazy DataFrames with no CSV hand-offs
between stages (SURVEY §1.1: files-as-IPC becomes lazy DataFrame
chaining), parquet + model dir + metrics JSON at the end.

A pass builds one persisted token frame, laid out by the data alone
(`laid_out`), and then runs two branches over it at the same time: the
classifier (`fit_classifier` → metrics → model dir) on a second
thread, and LDA themes with their three sinks on the calling thread.
The reference runs them one after the other, but the classifier
predicts `lang` from unigrams and never reads a topic.

Stage map (reference loc → here):
  clean_dataframe   cleaner.py:77-116  → _clean (P1-P6)
  preprocess_text   cleaner.py:118-150 → ml.pipeline.with_tokens + stem
  extract_themes    cleaner.py:152-223 → ml.pipeline.fit_lda/assign_topics
  train_classifier  cleaner.py:225-273 → ml.pipeline.fit_classifier/metrics
  load_to_s3        loader.py          → sources.sinks (s3a-ready paths)
  dashboard-prep    dashboard.py:21-46 → theme_distribution/top_words
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..ml import pipeline as P
from ..sources import sinks, tables

# Bytes of the documents table on disk per partition of the pass's
# token frame: the largest size at which one partition still beat the
# old layout (shuffle.partitions = 2 × cores) on fit_lda +
# fit_classifier time. Measured on gen.write_documents corpora at
# 4 cores, median seconds of three fits (two at 50,000 documents):
#   documents   on disk   old (8 parts)   1 part   2 parts   8 parts
#       5,000    601 KB            4.28     4.13      3.76
#       7,500    895 KB            4.90     5.22      4.02
#      10,000    1.2 MB            5.21     5.77      3.92
#      50,000    6.0 MB           13.41    25.52     13.47      9.62
# The 62 KB benchmark corpus and the sf fixtures take one partition.
TARGET_BYTES = 600 << 10


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


def _bytes_on_disk(spark: SparkSession, path: str) -> int:
    """Size of a table's files, from the source catalog's stat of them;
    a path it cannot stat (an object store) asks its Hadoop file
    system. Neither runs a Spark job."""
    ident = tables.identity(path)
    if ident is not None:
        return sum(f[2] for f in ident)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(jpath).getLength()


def laid_out(docs: DataFrame, n_bytes: int) -> DataFrame:
    """Documents hashed by doc_id into ceil(n_bytes / TARGET_BYTES)
    partitions, each sorted by doc_id: the partition count and the row
    order follow the data, not the core count or the order in which a
    shuffle's blocks arrived. LDA's mini-batch sampling and the forest's
    bagging draw per partition, and CountVectorizer breaks count ties
    by row order, so this is what makes a pass repeatable."""
    n = max(1, math.ceil(n_bytes / TARGET_BYTES))
    return docs.repartition(n, "doc_id").sortWithinPartitions("doc_id")


def theme_distribution(themed: DataFrame) -> DataFrame:
    """Dashboard A1: value_counts over theme (dashboard.py:29-30)."""
    return (
        themed.groupBy("theme")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "theme")
    )


def top_words(themed: DataFrame) -> DataFrame:
    """Dashboard A6, scale-safe top-K form (dashboard.py:36): the 50
    most frequent unigrams."""
    return (
        themed.select(F.explode("unigrams").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(50)
    )


def _classify(split: DataFrame, model_path: str):
    """The classifier branch: fit, score the test split, save."""
    clf_model, predictions, _ = P.fit_classifier(split)
    m = P.classification_metrics(predictions).collect()[0]
    sinks.save_model(clf_model, model_path)
    return m


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
    raw = Observation("documents")
    docs = tables.load(spark, sf_dir, "documents").observe(
        raw, F.count(F.lit(1)).alias("rows")
    )
    n_bytes = _bytes_on_disk(spark, f"{sf_dir}/documents.parquet")

    # This pass owns both caches and releases them on every exit, once
    # both branches have finished. Counting the persisted token frame
    # fills the cache both branches read, and the raw row count with it.
    toks = P.with_tokens(laid_out(_clean(docs), n_bytes)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    themed = None
    try:
        n_clean = toks.count()
        n_raw = raw.get["rows"]

        split = P.md5_split(
            toks.select("doc_id", "lang", "unigrams"), "doc_id"
        )
        processed_path = f"{out_dir}/processed"
        dist_path = f"{out_dir}/theme_distribution"
        words_path = f"{out_dir}/top_words"
        model_path = f"{out_dir}/models/classifier"
        # Leaving the pool waits for the classifier, also when the
        # themes branch raised.
        with ThreadPoolExecutor(1) as pool:
            classified = pool.submit(
                inheritable_thread_target(spark)(_classify), split, model_path
            )
            _, transformed = P.fit_lda(toks)
            themed = P.assign_topics(transformed).cache()
            processed = themed.select(
                "doc_id", "lang", "source", "topic", "theme"
            )
            sinks.write_parquet(processed, processed_path)
            sinks.write_csv(theme_distribution(themed), dist_path)
            sinks.write_csv(top_words(themed), words_path)
        m = classified.result()

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
                processed_df=processed,
                metrics=metrics,
                models_dir=model_path,
            )
        return result
    finally:
        if themed is not None:
            themed.unpersist()
        toks.unpersist()
