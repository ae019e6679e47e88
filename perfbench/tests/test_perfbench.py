"""The benchmark's own tests.

    python -m pytest perfbench/tests -q -p no:cacheprovider

The smoke test runs every workload end to end at a tiny size, each in
its own process (a run owns its JVM and environment), about a minute
per workload.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from perfbench import corpus, whogen
from perfbench.metrics import END_TO_END, PER_LAYER, unit_of
from perfbench.trace import Span, Tracer, covered, self_times
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
    )


def test_who_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    ea = whogen.generate(a, seed=5, countries=12, weeks=53)
    eb = whogen.generate(b, seed=5, countries=12, weeks=53)
    whogen.generate(c, seed=6, countries=12, weeks=53)
    names = _files(a)
    assert len(names) == 4 and names == _files(b) == _files(c)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert differ, "another seed must give other inputs"
    assert ea.rows == 12 * 53 and ea.total_cases == eb.total_cases


def test_who_generator_plants_the_fixture_edge_cases(tmp_path):
    e = whogen.generate(str(tmp_path), seed=3, countries=12, weeks=60)
    who = (tmp_path / "data_covid" / "WHO-COVID-19-global-data.csv").read_text()
    rows = [r.split(",") for r in who.splitlines()[1:]]
    assert any(r[3] == "" for r in rows), "null WHO region"
    assert any(r[4] == "" for r in rows), "null New_cases"
    assert {"2021-01-03"} <= {r[0] for r in rows}, "Sunday in the ISO-week boundary"
    vac = (tmp_path / "data_covid" / "vaccination-data.csv").read_text()
    assert ",  ," in vac and ",,2021-01-15," in vac, "empty and null VACCINES_USED"
    assert whogen.UNLISTED_VACCINE in vac
    assert re.search(r",\d\.\d+E\d,", vac), "scientific notation TOTAL_VACCINATIONS"
    assert e.unmatched == ["Atlantis"] and "atlantis" in vac.lower()
    assert e.rows == 12 * 60 and e.total_pages == -(-e.weekly_rows // whogen.PAGE_LIMIT)


def test_corpus_is_deterministic_per_seed(tmp_path):
    ra = corpus.write_corpus(str(tmp_path / "a"), seed=9, docs=40)
    rb = corpus.write_corpus(str(tmp_path / "b"), seed=9, docs=40)
    assert ra == rb
    for t in ra:
        ta = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        tb = pq.read_table(str(tmp_path / "b" / f"{t}.parquet"))
        assert ta.equals(tb)


def test_benchmark_json_names_the_printed_metrics():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(PER_LAYER)
    assert all(m["unit"] == unit_of(m["name"]) for m in spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0, None, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 3.0),
        Span(2, "b", 0, 0, 2.0, 5.0),  # overlaps a
        Span(3, "c", 0, 0, 8.0, 12.0),  # runs past its parent's end
        Span(4, "d", 0, 2, 2.5, 4.0),  # grandchild: covered by b already
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert own[2] == pytest.approx(3.0 - 1.5)
    assert own[1] == pytest.approx(2.0) and own[4] == pytest.approx(1.5)
    assert covered(0.0, 1.0, []) == 0.0


def test_tracer_hooks_count_in_no_span_time():
    tracer = Tracer(on_span=lambda span, opening: time.sleep(0.05))
    with tracer.span("op", 0) as op:
        time.sleep(0.02)
        with tracer.span("child", 0) as child:
            with tracer.span("grandchild", 0):
                time.sleep(0.02)
    # 0.04 s of work; the hooks of child and grandchild took 0.2 s more
    assert 0.04 <= op.duration < 0.08
    assert 0.02 <= child.duration < 0.06
    own = self_times(tracer.spans)
    assert 0.02 <= own[op.id] < 0.04 and own[child.id] < 0.01


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and '"metrics"' not in p.stdout


_TINY = (
    "import sys; import perfbench.workloads as w; "
    "w.WHO_COUNTRIES, w.WHO_WEEKS, w.CURATION_DOCS, w.CURATION_WARMUP_DOCS = 12, 53, 60, 60; "
    "import perfbench.run as r; sys.exit(r.main(sys.argv[1:]))"
)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_smoke_run_passes_its_checks(workload):
    p = subprocess.run(
        [sys.executable, "-c", _TINY, "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 2
    assert list(result["metrics"]) == list(PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["session.start_s"] > 0 and m["spark.jobs"] > 0 and m["spark.task_cpu_s"] > 0
    if workload == "curation_batch":
        assert m["plans.build_jobs.dedup_keep_best"] > 0
    if workload == "dashboard":
        assert m["etl.refresh_s"] > 0 and m["etl.csv_read_amp"] > 1
        assert m["etl.build_jobs"] == 0 and m["forecast.python_cpu_s"] > 0
    trace = os.path.join(ROOT, ".perfbench", f"trace-{workload}-2.json")
    with open(trace) as fh:
        assert json.load(fh)["spans"]
