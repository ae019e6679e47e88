"""End-to-end benchmark of the pandemic-analytics backend.

Two workloads run through the package's public functions: ``dashboard``
(an ETL refresh builds a parquet warehouse, then REST/Grafana requests
are served from it) and ``curation_batch`` (heavy corpus queries).
``run.py`` is the command.
"""
