"""Seeded WHO-shaped bronze CSVs, with the answers known in closed form.

``generate(out_dir, seed)`` writes the four CSVs the ETL reads
(``etl.run.read_bronze`` layout) and returns an ``Expected`` holding
what the warehouse and the serving endpoints must answer for them.
The output is byte-identical for a given seed and size.

Size: ``countries × weeks`` WHO rows on a weekly (Sunday) cadence, the
reference file's cadence; the default 240 × 261 is exactly the
reference's 62,640 rows (multiple 1.0).

Planted edge cases (FIXTURES.md):
- one country whose WHO region is null in every row (→ ``UNKNOWN``);
- null ``New_cases`` / ``New_deaths`` cells (→ 0);
- Sundays from Dec 28 to Jan 3, whose ISO week belongs to the other
  year, plus a vaccination snapshot on 2022-01-02 whose
  ``(year, weekofyear)`` key misses its Monday's key;
- null and whitespace-only ``VACCINES_USED`` (→ ``unknown``) and a
  vaccine name missing from the metadata;
- a null ``TOTAL_VACCINATIONS`` snapshot between two known ones;
- one vaccination country, ``Atlantis``, that matches no WHO country.
"""

from __future__ import annotations

import csv
import datetime as dt
import math
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field

REFERENCE_ROWS = 62_640
FIRST_SUNDAY = dt.date(2020, 1, 5)
REGIONS = ("AFRO", "AMRO", "EMRO", "EURO", "SEARO", "WPRO")
VACCINE_NAMES = (
    "AstraZeneca - AZD1222",
    "Beijing CNBG - BBIBP-CorV",
    "Bharat - Covaxin",
    "Gamaleya - Sputnik V",
    "Janssen - Ad26.COV 2-S",
    "Moderna - mRNA-1273",
    "Novavax - NVX-CoV2373",
    "Pfizer BioNTech - Comirnaty",
)
UNLISTED_VACCINE = "Unlisted - UX-1"  # used in VACCINES_USED, absent from metadata
VACCINATION_DAYS = ("2021-03-07", "2021-08-15", "2022-01-02", "2022-06-12")
UNMATCHED_COUNTRY = "Atlantis"
PAGE_LIMIT = 100
_SPECIAL_NAMES = (
    "Côte d'Ivoire",
    "Curaçao",
    "Réunion",
    "Türkiye",
    "São Tomé and Príncipe",
    "Åland Islands",
)
_SYLLABLES = "ba ca da fa ga ha ka la ma na pa ra sa ta va za ri lo mu ne".split()


@dataclass
class Expected:
    """What the ETL and the serving endpoints must return."""

    rows: int
    countries: list[tuple[str, str]]  # (code, name), WHO order
    total_cases: int
    total_deaths: int
    total_vaccines: int
    weekly_rows: int
    # weekly join rows in the endpoint's ORDER BY (country name, date)
    weekly_joined: list[dict] = field(repr=False)
    evolution: list[dict] = field(repr=False)
    yearly_cases: dict[int, int] = field(repr=False)
    top5_cases: list[dict] = field(repr=False)
    top5_deaths: list[dict] = field(repr=False)
    worldmap_cases: dict[str, int] = field(repr=False)
    unmatched: list[str] = field(default_factory=lambda: [UNMATCHED_COUNTRY])

    @property
    def total_pages(self) -> int:
        return math.ceil(self.weekly_rows / PAGE_LIMIT)

    def page(self, page: int) -> list[dict]:
        start = (page - 1) * PAGE_LIMIT
        return self.weekly_joined[start : start + PAGE_LIMIT]

    def by_country(self, code: str) -> list[dict]:
        name = dict(self.countries)[code]
        return [r for r in self.weekly_joined if r["country"] == name]


def _e_notation(v: float) -> str:
    """``2.296475E7`` — the reference CSV's scientific spelling."""
    mantissa, exp = f"{v:.6E}".split("E")
    return f"{mantissa.rstrip('0').rstrip('.')}E{int(exp)}"


def _names(rng: random.Random, n: int) -> list[str]:
    names: list[str] = list(_SPECIAL_NAMES[:n])
    seen = set(names)
    while len(names) < n - 1:
        word = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        name = word.capitalize() + rng.choice(("", "ia", "land", " Republic"))
        if name not in seen:
            seen.add(name)
            names.append(name)
    names.append("International Conveyance")  # the null-region country
    return names[:n]


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(["" if v is None else v for v in r] for r in rows)


def generate(
    out_dir: str, seed: int, countries: int = 240, weeks: int = 261
) -> Expected:
    """Write ``<out_dir>/data_covid/*.csv`` and the worldometer CSV."""
    if countries < 12 or weeks < 53:
        raise ValueError("need at least 12 countries and 53 weeks")
    rng = random.Random(seed)
    codes = sorted(a + b for a in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" for b in "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
    rng.shuffle(codes)
    codes = codes[:countries]
    names = _names(rng, countries)
    null_region = countries - 1

    # --- WHO daily-shaped weekly reports --------------------------------
    who_rows: list[list] = []
    weekly: dict[tuple[str, dt.date], tuple[int, int]] = {}
    yearly_cases: dict[int, int] = defaultdict(int)
    for i, (code, name) in enumerate(zip(codes, names)):
        region = None if i == null_region else REGIONS[i % len(REGIONS)]
        amp = rng.randint(50, 5000)
        phase = rng.random() * 2 * math.pi
        cum_c = cum_d = 0
        for w in range(weeks):
            day = FIRST_SUNDAY + dt.timedelta(weeks=w)
            wave = 1 + math.sin(2 * math.pi * w / 52 + phase)
            cases = int(amp * wave * rng.uniform(0.5, 1.5))
            deaths = cases // rng.randint(30, 80)
            new_c = None if rng.random() < 0.02 else cases
            new_d = None if rng.random() < 0.02 else deaths
            cum_c += new_c or 0
            cum_d += new_d or 0
            who_rows.append(
                [day.isoformat(), code, name, region, new_c, cum_c, new_d, cum_d]
            )
            weekly[(code, day - dt.timedelta(days=6))] = (new_c or 0, new_d or 0)
            yearly_cases[day.year] += new_c or 0

    # --- vaccination snapshots ----------------------------------------
    vac_rows: list[list] = []
    meta_rows: list[list] = []
    # (country code, day) → exploded shot count, matched countries only
    shots: dict[tuple[str, dt.date], int] = defaultdict(int)
    vaccinated = [(c, n) for i, (c, n) in enumerate(zip(codes, names)) if i % 9 != 8]
    for j, (code, name) in enumerate(vaccinated + [(None, UNMATCHED_COUNTRY)]):
        spelled = (name, name.upper(), f"  {name.lower()} ")[j % 3]
        if j % 11 == 0:
            used = None
        elif j % 11 == 1:
            used = "  "
        else:
            picks = rng.sample(VACCINE_NAMES, rng.randint(1, 3))
            if j % 7 == 2:
                picks.append(UNLISTED_VACCINE)
            used = ",".join(picks)
        n_vacc = 1 if used is None or not used.strip() else len(used.split(","))
        days = VACCINATION_DAYS if j % 4 else VACCINATION_DAYS[1:]
        total = 0
        prev: float | None = None
        for k, day in enumerate(days):
            total += rng.randint(1, 2_000_000) * 10
            known = not (j % 13 == 5 and k == 1)
            tv = float(total) if known else None
            if tv is None:
                delta = None
            elif prev is None:
                delta = tv
            else:
                delta = tv - prev
            prev = tv
            if code is not None:
                shots[(code, dt.date.fromisoformat(day))] += int(delta or 0) * n_vacc
            persons = total // 2
            vac_rows.append(
                [
                    spelled,
                    f"{code or 'ATL'}X",
                    REGIONS[j % len(REGIONS)],
                    ("REPORTING", "OWID")[j % 2],
                    day,
                    None if tv is None else (_e_notation(tv) if j % 5 == 0 else f"{tv:.1f}"),
                    float(persons),
                    round(total / 1e6, 3),
                    round(persons / 1e6, 3),
                    float(persons // 2),
                    round(persons / 2e6, 3),
                    used,
                    "2021-01-15",
                    n_vacc,
                    None,
                    None,
                ]
            )
        for v in (used or "").split(","):
            if v.strip() and v != UNLISTED_VACCINE:
                meta_rows.append(
                    [f"{code or 'ATL'}X", v.split(" - ")[-1], v, v.split(" - ")[0],
                     None, "2021-01-01", None, None, "REPORTING"]
                )
    # names nobody uses, plus a null name the vaccine dim must skip
    meta_rows.append(["ZZZ", "EV-9", "Extra - EV-9", "Extra", None, None, None, None, "OWID"])
    meta_rows.append(["ZZZ", "none", None, "Nobody", None, None, None, None, "OWID"])

    # --- worldometer (population source) -------------------------------
    world_rows = []
    for i, name in enumerate(names):
        pop = 0 if i == 3 else (None if i == 4 else rng.randint(100_000, 900_000_000))
        spelled = name if i % 2 else f" {name.upper()}"
        world_rows.append(
            [spelled, REGIONS[i % 6], rng.randint(0, 10**7)] + [float(i)] * 8 + [pop]
        )

    # --- files ----------------------------------------------------------
    cd = os.path.join(out_dir, "data_covid")
    _write_csv(
        os.path.join(cd, "WHO-COVID-19-global-data.csv"),
        ["Date_reported", "Country_code", "Country", "WHO_region", "New_cases",
         "Cumulative_cases", "New_deaths", "Cumulative_deaths"],
        who_rows,
    )
    _write_csv(
        os.path.join(cd, "vaccination-data.csv"),
        ["COUNTRY", "ISO3", "WHO_REGION", "DATA_SOURCE", "DATE_UPDATED",
         "TOTAL_VACCINATIONS", "PERSONS_VACCINATED_1PLUS_DOSE",
         "TOTAL_VACCINATIONS_PER100", "PERSONS_VACCINATED_1PLUS_DOSE_PER100",
         "PERSONS_LAST_DOSE", "PERSONS_LAST_DOSE_PER100", "VACCINES_USED",
         "FIRST_VACCINE_DATE", "NUMBER_VACCINES_TYPES_USED",
         "PERSONS_BOOSTER_ADD_DOSE", "PERSONS_BOOSTER_ADD_DOSE_PER100"],
        vac_rows,
    )
    _write_csv(
        os.path.join(cd, "vaccination-metadata.csv"),
        ["ISO3", "PRODUCT_NAME", "VACCINE_NAME", "COMPANY_NAME", "AUTHORIZATION_DATE",
         "START_DATE", "END_DATE", "COMMENT", "DATA_SOURCE"],
        meta_rows,
    )
    _write_csv(
        os.path.join(out_dir, "worldometer_coronavirus_summary_data.csv"),
        ["country", "continent", "total_confirmed", "total_deaths", "total_recovered",
         "active_cases", "serious_or_critical", "total_cases_per_1m_population",
         "total_deaths_per_1m_population", "total_tests",
         "total_tests_per_1m_population", "population"],
        world_rows,
    )
    return _expected(codes, names, weekly, shots, yearly_cases, len(who_rows))


def _expected(codes, names, weekly, shots, yearly_cases, rows) -> Expected:
    name_of = dict(zip(codes, names))
    # weekly_vaccinations CTE: keyed by (code, year(day), weekofyear(day))
    wv: dict[tuple[str, int, int], int] = defaultdict(int)
    for (code, day), n in shots.items():
        wv[(code, day.year, day.isocalendar()[1])] += n
    joined = []
    for (code, monday), (cases, deaths) in weekly.items():
        joined.append(
            {
                "date": monday.isoformat(),
                "country": name_of[code],
                "confirmed_cases": cases,
                "deaths": deaths,
                "vaccinations": wv.get((code, monday.year, monday.isocalendar()[1])),
            }
        )
    joined.sort(key=lambda r: (r["country"], r["date"]))
    per_country_cases: dict[str, int] = defaultdict(int)
    per_country_deaths: dict[str, int] = defaultdict(int)
    per_week: dict[str, int] = defaultdict(int)
    for r in joined:
        per_country_cases[r["country"]] += r["confirmed_cases"]
        per_country_deaths[r["country"]] += r["deaths"]
        per_week[r["date"]] += r["confirmed_cases"]

    def top5(totals: dict[str, int], col: str) -> list[dict]:
        ranked = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        return [{"country_name": k, col: v} for k, v in ranked]

    return Expected(
        rows=rows,
        countries=list(zip(codes, names)),
        total_cases=sum(per_country_cases.values()),
        total_deaths=sum(per_country_deaths.values()),
        total_vaccines=sum(shots.values()),
        weekly_rows=len(joined),
        weekly_joined=joined,
        evolution=[{"date": d, "total_cases": n} for d, n in sorted(per_week.items())],
        yearly_cases=dict(yearly_cases),
        top5_cases=top5(per_country_cases, "total_cases"),
        top5_deaths=top5(per_country_deaths, "total_deaths"),
        worldmap_cases=dict(per_country_cases),
    )
