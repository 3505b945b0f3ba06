"""Nightly-ETL benchmark of the pipeline; see README.md."""
