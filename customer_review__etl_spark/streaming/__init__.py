"""Structured Streaming surface (SURVEY.md §2.8).

The reference has no true streaming — its closest construct is the
hourly full-recompute Airflow schedule (ml_pipeline_dag.py:37
``@hourly`` + ``max_active_runs=1``), i.e. a coarse batch micro-batch.
This package provides the genuine incremental equivalent on the
driver's `events` table: tumbling windows, stream joins and per-user
state with watermarked late-data handling, and within-watermark dedup.

Every streaming aggregation here has a batch-expressible twin in
plans/streamplans.py so the DuckDB oracle can check the same semantics
(windowed counts as date_trunc/time_bucket group-bys).
"""
