"""The workloads: dashboard (ETL refresh, then serving) and curation batch.

Each is a closed loop with one client. A workload generates its
inputs from the seed (``generate``), does its once-per-run set-up on
the final session (``prepare``, which includes the warm-up), and then
runs measured units: three rounds of dashboard requests (the three
quietest of up to five), or one pass over the curation queries. Every
op's output is checked, outside its timed interval.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import corpus, whogen
from perfbench.metrics import CURATION_QUERIES, ENDPOINTS, WAREHOUSE_TABLES
from perfbench.trace import Stopwatch, Tracer, host_ticks, sum_counters

# dashboard request mix per round: landing-page panels, the paginated
# list and the country pages weigh more. The three list and country
# endpoints are the slowest (~2x the rest), so at weight 2 they are 23%
# of requests and the 90th percentile falls inside their cluster
# instead of in the gap below it
ENDPOINT_WEIGHTS = {
    "total_cases": 3,
    "total_deaths": 2,
    "total_vaccines": 2,
    "top5_cases": 2,
    "top5_deaths": 2,
    "covid_cases_evolution": 2,
    "worldmap": 2,
    "weekly_statistics_total": 2,
    "weekly_statistics_by_country": 2,
    "country_covid_rates": 2,
}
# 3 rounds = 78 requests, so the 90th percentile has 7.8 samples above
# it (more rounds would not fit the benchmark's run budget)
ROUNDS_PER_UNIT = 3
# On a shared host, other guests take 5-17% of the CPU for seconds to
# minutes at a time, and each 1% stolen makes these short, many-threaded
# requests ~4% slower (on a 4-vCPU guest). A unit therefore serves
# rounds until ROUNDS_PER_UNIT of them ran with at most QUIET_STEAL of
# the host's CPU stolen, or MAX_ROUNDS_PER_UNIT rounds ran, and times
# the ROUNDS_PER_UNIT rounds with the least steal. Whole rounds are kept
# or dropped, so the request mix is the same whichever are kept. Steal
# that lasts the whole unit still shows in its figures.
QUIET_STEAL = 0.03
MAX_ROUNDS_PER_UNIT = 5
# request latency falls by half over the first ~80 requests a fresh JVM
# serves, while the JIT compiles the analyser, planner and scheduler
# paths on the same cores; measured on that slope, the figures depended
# on how fast the host let the JIT progress
WARMUP_ROUNDS = 3
WHO_COUNTRIES = 120
WHO_WEEKS = 261  # 120 × 261 = 31,320 rows, 0.5 × the reference's 62,640
CURATION_DOCS = 5000  # the sf0.1 documents count
CURATION_WARMUP_DOCS = 500  # the warm-up pass runs on an sf0.01-sized corpus


@dataclass
class UnitResult:
    """Op latencies of one measured unit and how many checks it ran."""

    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    cpu_s: float = 0.0  # CPU of the timed intervals only


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's CPU ticks stolen between two ``host_ticks``."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _failed(what: str, exc: BaseException | None = None) -> None:
    detail = f": {type(exc).__name__}: {exc}" if exc else ""
    print(f"perfbench: check failed: {what}{detail}", file=sys.stderr)


class Workload:
    name = ""

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.rng = random.Random(seed)
        self.input_dir = ""
        self.cpu = None  # a ProcessCpu, once the JVM runs

    def generate(self, input_dir: str) -> None:
        raise NotImplementedError

    def prepare(self, spark, tracer: Tracer) -> UnitResult:
        """Once-per-run preparation and warm-up; returns the checks it ran."""
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Untimed work the checks need (oracles)."""

    def unit(self, spark, tracer: Tracer, op: int) -> UnitResult:
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# Dashboard: an ETL refresh builds the warehouse, then requests are served
# ---------------------------------------------------------------------------


def refresh(spark, data_dir: str, warehouse: str, tracer: Tracer, op: int) -> None:
    """bronze CSVs → star schema + forecast → parquet warehouse."""
    from mspr2_back_spark.etl import covid
    from mspr2_back_spark.etl.run import read_bronze
    from mspr2_back_spark.ml.forecast import predict_weekly_statistics

    with tracer.span("etl.read_bronze", op):
        bronze = read_bronze(spark, data_dir)
    with tracer.span("etl.build_all", op):
        tables = covid.build_all(
            spark,
            bronze["covid_raw"],
            bronze["vaccination"],
            bronze["metadata"],
            worldometer=bronze.get("worldometer"),
        )
    with tracer.span("forecast.predict", op):
        tables["predicted_weekly_statistics"] = predict_weekly_statistics(
            tables["weekly_statistics"]
        )
    with tracer.span("etl.save", op):
        covid.save_tables(tables, warehouse)


def write_times(spark, warehouse: str) -> dict[str, float]:
    """Seconds each warehouse table took to write, from the SQL
    executions in Spark's status store whose plan writes that table's
    directory (millisecond resolution)."""
    out = dict.fromkeys(WAREHOUSE_TABLES, 0.0)
    paths = {t: re.compile(re.escape(os.path.join(warehouse, t)) + r"(?![\w-])") for t in out}
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        if ex.completionTime().isEmpty():
            continue
        plan = ex.physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" not in plan:
            continue
        for t, pattern in paths.items():
            if pattern.search(plan):
                ms = ex.completionTime().get().getTime() - ex.submissionTime()
                out[t] += ms / 1000.0
                break
    return out


class Dashboard(Workload):
    """Set-up refreshes a warehouse from the seeded bronze CSVs through
    the ETL path and checks it; the measured units are rounds of
    dashboard requests served from that parquet warehouse."""

    name = "dashboard"

    def generate(self, input_dir: str) -> None:
        self.input_dir = input_dir
        self.expected = whogen.generate(input_dir, self.seed, WHO_COUNTRIES, WHO_WEEKS)
        self.bronze_bytes = dir_bytes(input_dir)
        self.table_bytes: dict[str, int] = {}
        self.write_s: dict[str, float] = {}
        self.first_answers: dict[str, str] = {}
        self.marshal_rows: list[int] = []
        self.marshal_bytes: list[int] = []

    def prepare(self, spark, tracer: Tracer) -> UnitResult:
        """Refresh and check the warehouse, serve it from parquet, and
        warm up with ``WARMUP_ROUNDS`` rounds of the request mix, each
        request checked as a measured one is."""
        wh = os.path.join(self.run_dir, "warehouse")
        res = UnitResult(attempted=1)
        with tracer.span("refresh", -1):
            refresh(spark, self.input_dir, wh, tracer, op=-1)
        if tracer.enabled:
            self.write_s = write_times(spark, wh)
        if not self._check_warehouse(spark, wh):
            res.failed = 1
        self.table_bytes = {t: dir_bytes(os.path.join(wh, t)) for t in WAREHOUSE_TABLES}
        for t in WAREHOUSE_TABLES:
            spark.read.parquet(os.path.join(wh, t)).createOrReplaceTempView(t)
        warm = self.serve(spark, Tracer(enabled=False), -1, WARMUP_ROUNDS)
        res.attempted += warm.attempted
        res.failed += warm.failed
        return res

    def _check_warehouse(self, spark, wh: str) -> bool:
        """Totals, row counts and the unmatched-country list, against the
        generator's closed-form answers."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        e = self.expected

        def read(name: str):
            return pq.read_table(os.path.join(wh, name))

        def total(name: str, col: str) -> int:
            return pc.sum(read(name).column(col)).as_py()

        checks = {
            "tables": sorted(os.listdir(wh)) == sorted(WAREHOUSE_TABLES),
            "weekly rows": read("weekly_statistics").num_rows == e.weekly_rows,
            "weekly cases": total("weekly_statistics", "week_new_reported_cases")
            == e.total_cases,
            "weekly deaths": total("weekly_statistics", "week_new_reported_deaths")
            == e.total_deaths,
            "shots": total("daily_vaccine_statistics", "new_reported_shots")
            == e.total_vaccines,
            "countries": read("country").num_rows == len(e.countries),
            "regions": read("who_region").num_rows == len(whogen.REGIONS) + 1,
            "global total": total("global_total_cumulative_cases", "total_cumulative_cases")
            == e.total_cases,
            "forecast rows": read("predicted_weekly_statistics").num_rows
            == 4 * len(e.countries),
            "unmatched": self._unmatched(spark, wh) == [c.lower() for c in e.unmatched],
        }
        bad = [k for k, ok in checks.items() if not ok]
        if bad:
            _failed(f"warehouse: {', '.join(bad)}")
        return not bad

    def _unmatched(self, spark, wh: str) -> list[str]:
        from mspr2_back_spark.etl import covid
        from mspr2_back_spark.etl.run import read_bronze

        vaccination = read_bronze(spark, self.input_dir)["vaccination"]
        countries = spark.read.parquet(os.path.join(wh, "country"))
        rows = covid.unmatched_vaccination_countries(vaccination, countries).collect()
        return sorted(r["country_name_clean"] for r in rows)

    def _params(self, endpoint: str, rng: random.Random) -> dict:
        if endpoint == "weekly_statistics_total":
            return {"page": rng.randint(1, self.expected.total_pages)}
        if endpoint == "weekly_statistics_by_country":
            return {"country_code": rng.choice(self.expected.countries)[0]}
        if endpoint == "worldmap":
            return {"metric": rng.choice(("cases", "deaths", "vaccinated"))}
        return {}

    @staticmethod
    def _call(spark, endpoint: str, params: dict):
        from mspr2_back_spark.etl import serving

        return getattr(serving, endpoint)(spark, **params)

    def round(self) -> list[tuple[str, dict]]:
        """One seeded round of the request mix."""
        reqs = [
            (e, self._params(e, self.rng))
            for e in ENDPOINTS
            for _ in range(ENDPOINT_WEIGHTS.get(e, 1))
        ]
        self.rng.shuffle(reqs)
        return reqs

    def unit(self, spark, tracer: Tracer, op: int) -> UnitResult:
        """Rounds until ``ROUNDS_PER_UNIT`` quiet ones ran (see
        ``QUIET_STEAL``); the latencies and CPU of the ``ROUNDS_PER_UNIT``
        rounds with the least steal, and the checks of every round."""
        rounds: list[tuple[float, UnitResult]] = []
        while len(rounds) < MAX_ROUNDS_PER_UNIT:
            before = host_ticks()
            r = self.serve(spark, tracer, op, 1, first=len(rounds) * 100)
            rounds.append((steal_share(before, host_ticks()), r))
            print(f"perfbench: round {len(rounds)}: {rounds[-1][0]:.1%} stolen, median "
                  f"{1000 * statistics.median(r.latencies or [0.0]):.0f} ms", file=sys.stderr)
            if sum(steal <= QUIET_STEAL for steal, _ in rounds) >= ROUNDS_PER_UNIT:
                break
        res = UnitResult(
            attempted=sum(r.attempted for _, r in rounds),
            failed=sum(r.failed for _, r in rounds),
        )
        for _, r in sorted(rounds, key=lambda x: x[0])[:ROUNDS_PER_UNIT]:
            res.latencies += r.latencies
            res.cpu_s += r.cpu_s
        return res

    def serve(self, spark, tracer: Tracer, op: int, rounds: int, first: int = 0) -> UnitResult:
        """``rounds`` rounds of the mix, one request at a time; the
        requests' span op ids are ``op * 1000 + first + i``."""
        from mspr2_back_spark.functions import marshal

        res = UnitResult()
        reqs = [r for _ in range(rounds) for r in self.round()]
        for i, (endpoint, params) in enumerate(reqs, first):
            res.attempted += 1
            try:
                with Stopwatch(self.cpu) as sw, tracer.span(f"request.{endpoint}", op * 1000 + i):
                    with tracer.span("serving.build", op * 1000 + i):
                        df = self._call(spark, endpoint, params)
                    with tracer.span("marshal.records", op * 1000 + i):
                        recs = marshal.records(df)
                res.latencies.append(sw.wall)
                res.cpu_s += sw.cpu_s
                del df
            except Exception as exc:  # a failed request is counted, not fatal
                _failed(f"{endpoint}{params} raised", exc)
                res.failed += 1
                continue
            body = json.dumps(recs, sort_keys=True)
            self.marshal_rows.append(len(recs))
            self.marshal_bytes.append(len(body))
            key = f"{endpoint} {json.dumps(params, sort_keys=True)}"
            first = self.first_answers.setdefault(key, body)
            if first != body or not self._matches(endpoint, params, recs):
                _failed(f"{endpoint}{params} answer")
                res.failed += 1
        return res

    def _matches(self, endpoint: str, params: dict, recs: list[dict]) -> bool:
        """Closed-form answers where the generator knows them; every
        endpoint must at least answer with rows."""
        e = self.expected
        if endpoint == "total_cases":
            return recs == [{"total_weekly_cases": e.total_cases}]
        if endpoint == "total_deaths":
            return recs == [{"total_weekly_deaths": e.total_deaths}]
        if endpoint == "total_vaccines":
            return recs == [{"total_reported_shots": e.total_vaccines}]
        if endpoint == "weekly_statistics_pagination":
            return recs == [{"total_rows": e.weekly_rows, "total_pages": e.total_pages}]
        if endpoint == "weekly_statistics_total":
            return recs == e.page(params["page"])
        if endpoint == "weekly_statistics_by_country":
            return recs == e.by_country(params["country_code"])
        if endpoint == "covid_cases_evolution":
            return recs == e.evolution
        if endpoint == "top5_cases":
            return recs == e.top5_cases
        if endpoint == "top5_deaths":
            return recs == e.top5_deaths
        if endpoint == "worldmap" and params["metric"] == "cases":
            return {r["country"]: r["value"] for r in recs} == e.worldmap_cases
        if endpoint == "grafana_yearly_cases_delta":
            return [(r["Year"], r["total_new_cases"]) for r in recs] == sorted(
                e.yearly_cases.items()
            )
        return len(recs) > 0

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        spans = [s for s in tracer.spans if s.op >= 0]
        builds = [s.duration for s in spans if s.name == "serving.build"]
        out = {
            "serving.build_ms": 1000 * statistics.median(builds) if builds else 0.0,
            "marshal.rows": statistics.fmean(self.marshal_rows) if self.marshal_rows else 0.0,
            "marshal.json_bytes": statistics.fmean(self.marshal_bytes)
            if self.marshal_bytes
            else 0.0,
        }
        for endpoint in ENDPOINTS:
            got = [s.duration for s in spans if s.name == f"request.{endpoint}"]
            out[f"serving.{endpoint}.p50_ms"] = 1000 * statistics.median(got) if got else 0.0
        out.update(self._etl_metrics(tracer))
        return out

    def _etl_metrics(self, tracer: Tracer) -> dict[str, float]:
        """The set-up refresh, traced on the first (cold) session."""
        spans = {s.name: s for s in tracer.spans if s.op == -1}
        if "refresh" not in spans:
            return {}

        def dur(name: str) -> float:
            return spans[name].duration if name in spans else 0.0

        build_jobs = sum(
            spans[n].counters.get("jobs", 0.0)
            for n in ("etl.read_bronze", "etl.build_all", "forecast.predict")
        )
        input_bytes = sum_counters(tracer.subtree(spans["refresh"]))["input_mb"] * 2**20
        out = {
            "etl.refresh_s": dur("refresh"),
            "etl.read_bronze_s": dur("etl.read_bronze"),
            "etl.build_all_s": dur("etl.build_all"),
            "etl.build_jobs": build_jobs,
            "etl.csv_read_amp": input_bytes / self.bronze_bytes,
            "etl.write_bytes_per_input_byte": sum(self.table_bytes.values()) / self.bronze_bytes,
            "forecast.write_s": self.write_s.get("predicted_weekly_statistics", 0.0),
            # the forecast's applyInPandas is the refresh's only Python work
            "forecast.python_cpu_s": spans["refresh"].counters.get("python_cpu_s", 0.0),
        }
        for t in WAREHOUSE_TABLES:
            out[f"etl.save_s.{t}"] = self.write_s.get(t, 0.0)
            out[f"etl.table_bytes.{t}"] = float(self.table_bytes.get(t, 0))
        return out


# ---------------------------------------------------------------------------
# Curation batch
# ---------------------------------------------------------------------------


class CurationBatch(Workload):
    name = "curation_batch"

    def generate(self, input_dir: str) -> None:
        self.input_dir = input_dir
        self.rows = corpus.write_corpus(input_dir, self.seed, CURATION_DOCS)
        self.warmup_dir = os.path.join(input_dir, "warmup")
        corpus.write_corpus(self.warmup_dir, self.seed, CURATION_WARMUP_DOCS)

    def prepare(self, spark, tracer: Tracer) -> UnitResult:
        """One unchecked warm-up pass over a corpus a tenth the size:
        it loads and compiles the code paths at a tenth of the cost."""
        from mspr2_back_spark.plans import QUERIES

        for q in CURATION_QUERIES:
            QUERIES[q](spark, self.warmup_dir).count()
            spark.catalog.clearCache()
        return UnitResult()

    def prepare_checks(self) -> None:
        import duckdb

        from mspr2_back_spark.plans import ORACLE_SQL

        con = duckdb.connect()
        con.sql("SET enable_progress_bar = false")
        try:
            for t in self.rows:
                path = os.path.join(self.input_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

            def count(q: str) -> int:
                cur = con.cursor()
                try:
                    return cur.sql(f"SELECT COUNT(*) FROM ({ORACLE_SQL[q]})").fetchone()[0]
                finally:
                    cur.close()

            # DuckDB runs most of these plans on one thread; side by side
            # they take half the time
            with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
                self.oracle = dict(zip(CURATION_QUERIES, pool.map(count, CURATION_QUERIES)))
        finally:
            con.close()

    def unit(self, spark, tracer: Tracer, op: int) -> UnitResult:
        from mspr2_back_spark.plans import QUERIES

        res = UnitResult()
        order = self.rng.sample(CURATION_QUERIES, len(CURATION_QUERIES))
        wall = 0.0
        raised = False
        for q in order:
            res.attempted += 1
            try:
                with Stopwatch(self.cpu) as sw, tracer.span(f"query.{q}", op):
                    with tracer.span(f"plans.build.{q}", op):
                        df = QUERIES[q](spark, self.input_dir)
                    with tracer.span(f"curation.execute.{q}", op):
                        n = df.count()
                wall += sw.wall
                res.cpu_s += sw.cpu_s
                del df
            except Exception as exc:  # a failed query is counted, not fatal
                _failed(f"{q} raised", exc)
                res.failed += 1
                raised = True
                continue
            finally:
                # the caller owns what a query persisted (plans/timeseries.py)
                spark.catalog.clearCache()
            if n != self.oracle[q]:
                _failed(f"{q} count {n} != oracle {self.oracle[q]}")
                res.failed += 1
        if not raised:  # a wrong count is a failure, but the pass still ran
            res.latencies.append(wall)
        return res

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        spans = [s for s in tracer.spans if s.op >= 0]
        out: dict[str, float] = {}
        for q in CURATION_QUERIES:
            builds = [s for s in spans if s.name == f"plans.build.{q}"]
            queries = [s for s in spans if s.name == f"query.{q}"]
            per_query = [sum_counters(tracer.subtree(s)) for s in queries]
            out[f"plans.build_s.{q}"] = (
                statistics.median(s.duration for s in builds) if builds else 0.0
            )
            out[f"plans.build_jobs.{q}"] = (
                statistics.median(s.counters.get("jobs", 0.0) for s in builds)
                if builds
                else 0.0
            )
            out[f"curation.{q}.wall_s"] = (
                statistics.median(s.duration for s in queries) if queries else 0.0
            )
            for m in ("stages", "shuffle_write_mb"):
                out[f"curation.{q}.{m}"] = (
                    statistics.median(c.get(m, 0.0) for c in per_query) if per_query else 0.0
                )
        return out


WORKLOADS = {w.name: w for w in (Dashboard, CurationBatch)}
