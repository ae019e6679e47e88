"""Metric names and units the benchmark prints.

``END_TO_END`` is printed by every untraced run and ``PER_LAYER`` by
every traced run, whatever the workload: a layer a workload does not
exercise reads 0 there. BENCHMARK.json lists the same names.
"""

from __future__ import annotations

CURATION_QUERIES = (
    "dedup_keep_best",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "bigram_surprisal",
    "multimodal_jpeg_meta",
    "rfm_segments",
    "funnel_latency",
)

# etl.serving functions, one per REST endpoint or Grafana panel
ENDPOINTS = (
    "total_cases",
    "total_deaths",
    "total_vaccines",
    "weekly_statistics_total",
    "weekly_statistics_pagination",
    "weekly_statistics_by_country",
    "covid_cases_evolution",
    "vaccinations_evolution",
    "top5_deaths",
    "top5_cases",
    "country_covid_rates",
    "worldmap",
    "grafana_yearly_cases_delta",
    "grafana_region_yearly_delta",
    "grafana_latest_year_region_summary",
)

# the warehouse a refresh writes: etl.covid.build_all's tables (with
# the worldometer source present) plus the forecast table
WAREHOUSE_TABLES = (
    "who_region",
    "country",
    "disease",
    "vaccine",
    "weekly_statistics",
    "daily_vaccine_statistics",
    "global_total_cumulative_cases",
    "global_statistics",
    "covid_global_yearly_summary",
    "covid_region_yearly_summary",
    "country_statistics",
    "population",
    "predicted_weekly_statistics",
)

# op = one dashboard request, or one curation pass over the seven queries
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
}

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "gc_s",
    "python_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
)

PER_LAYER: tuple[str, ...] = (
    ("session.start_s", "session.warmup_s")
    + tuple(f"plans.build_s.{q}" for q in CURATION_QUERIES)
    + tuple(f"plans.build_jobs.{q}" for q in CURATION_QUERIES)
    + ("serving.build_ms",)
    + tuple(f"serving.{e}.p50_ms" for e in ENDPOINTS)
    + ("marshal.rows", "marshal.json_bytes")
    + (
        "etl.refresh_s",
        "etl.read_bronze_s",
        "etl.build_all_s",
        "etl.build_jobs",
        "etl.csv_read_amp",
        "etl.write_bytes_per_input_byte",
    )
    + tuple(f"etl.save_s.{t}" for t in WAREHOUSE_TABLES)
    + tuple(f"etl.table_bytes.{t}" for t in WAREHOUSE_TABLES)
    + ("forecast.write_s", "forecast.python_cpu_s")
    + tuple(
        f"curation.{q}.{m}"
        for q in CURATION_QUERIES
        for m in ("wall_s", "stages", "shuffle_write_mb")
    )
    + tuple(f"spark.{f}" for f in SPARK_FIELDS)
    + (
        # high-water RSS of the driver plus the JVM; per layer, not end to
        # end, because G1's heap sizing moves it by a quarter between runs
        "memory.peak_rss_mb",
        # CPU the hypervisor gave to other guests while measuring: wall
        # times of a run with a high share are not comparable
        "host.steal_frac",
        "state.persisted_rdds_delta",
        "state.cache_entries_after",
        "state.python_dataframes",
        "trace.overhead_ms",
        "trace.spans",
        "failed_frac",
    )
)


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, read from its name's suffix."""
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes")):
        if name.endswith(suffix) or f"{suffix}." in name:
            return unit
    if name in ("etl.csv_read_amp", "etl.write_bytes_per_input_byte") or name.endswith("_frac"):
        return "ratio"
    return "count"
