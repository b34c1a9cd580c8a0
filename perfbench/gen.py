"""Seeded inputs for the benchmark: WHO-GHO-shaped feeds and a text corpus.

Everything here is pure Python driven by ``random.Random(seed)``, so the same
seed always yields the same rows, and the program under test only ever sees
what these functions produce.

Observation rows look like the WHO GHO OData API: every field is a string or
``None``.  The feed carries every edge-case class that reaches a different
operator of the pipeline:

- duplicate ``Id`` rows (exact repeats, dropped by the transform dedup);
- null key columns (null ``IndicatorCode`` or an unusable ``TimeDim``,
  dropped by the transform before validation);
- unparseable ``NumericValue`` (coerced to null, row kept);
- range years like ``2019-2019`` (normalized to 2019);
- null ``SpatialDimType`` / ``TimeDimType`` (the only rows that reach the
  reject sink).
"""

from __future__ import annotations

import random
import string
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

OBS_COLUMNS = [
    "Id",
    "IndicatorCode",
    "SpatialDim",
    "SpatialDimType",
    "TimeDim",
    "TimeDimType",
    "NumericValue",
    "Value",
]
OBS_DDL = ", ".join(f"{c} STRING" for c in OBS_COLUMNS)

INDICATOR_SET = "Indicator"
COUNTRY_SET = "DIMENSION/COUNTRY/DimensionValues"
# listed in the indicator dimension but has no entity set: every fetch key
# built on it is answered 404 (the fetcher turns that into an empty page)
RETIRED_INDICATOR = "WHOSIS_RETIRED"

FIRST_YEAR, LAST_YEAR = 1990, 2023  # 34 years, one hive partition each
BREAKDOWNS = ("BTSX", "MLE", "FMLE")  # rows per indicator x country x year

INDICATOR_NAMES = [
    "Life expectancy at birth (years)",
    "Life expectancy at age 60 (years)",
    "Healthy life expectancy (HALE) at birth (years)",
    "Infant mortality rate (per 1000 live births)",
    "Under-five mortality rate (per 1000 live births)",
    "Maternal mortality ratio (per 100 000 live births)",
    "Prevalence of obesity among adults",
    "Prevalence of anaemia in women of reproductive age",
    "Tuberculosis incidence (per 100 000 population)",
    "Hepatitis B immunization coverage among 1-year-olds",
    "Alcohol consumption per capita (litres)",
    "Road traffic mortality rate (per 100 000 population)",
    "Suicide mortality rate (per 100 000 population)",
    "Density of medical doctors (per 10 000 population)",
    "Current health expenditure as share of GDP",
    "Population using safely managed drinking-water services",
]

UNPARSEABLE_NUMBERS = ("n/a", "<0.1", "", "No data")


def _codes(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct ISO3-looking country codes, sorted."""
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(string.ascii_uppercase) for _ in range(3)))
    return sorted(out)


def _value(rng: random.Random) -> tuple[str, str]:
    v = rng.uniform(0.5, 95.0)
    lo, hi = v * 0.95, v * 1.05
    return f"{v:.3f}", f"{v:.1f} [{lo:.1f}-{hi:.1f}]"


@dataclass
class WhoFeed:
    """One extraction's worth of source data.

    ``observations`` maps an ``(indicator, country)`` fetch key to its rows
    in ``TimeDim`` order; the server pages through exactly these lists.
    """

    indicators: list[dict]
    countries: list[dict]
    observations: dict[tuple[str, str], list[dict]]

    def rows(self) -> list[dict]:
        return [r for rows in self.observations.values() for r in rows]


def who_feed(seed: int, n_indicators: int = 12, n_countries: int = 40) -> WhoFeed:
    """A full-load feed: ``n_indicators x n_countries`` keys, 34 years x 3
    breakdowns each (about 100 rows, so a key spans two 100-row pages).
    About 5% of keys are empty, and the retired indicator has no data."""
    rng = random.Random(seed)
    countries = [{"Code": c, "Title": f"Country {c}"} for c in _codes(rng, n_countries)]
    # one dimension row the validator rejects (Title is required)
    countries[rng.randrange(len(countries))]["Title"] = None
    indicators = [
        {
            "IndicatorCode": f"WHOSIS_{i + 1:06d}",
            "IndicatorName": INDICATOR_NAMES[i % len(INDICATOR_NAMES)]
            + ("" if i < len(INDICATOR_NAMES) else f" #{i}"),
            "Language": "EN",
        }
        for i in range(n_indicators)
    ]
    indicators.append(
        {"IndicatorCode": RETIRED_INDICATOR, "IndicatorName": "Retired indicator", "Language": "EN"}
    )

    next_id = 10_000_000 + rng.randrange(1_000_000) * 100
    observations: dict[tuple[str, str], list[dict]] = {}
    for ind in indicators[:-1]:
        for c in countries:
            if rng.random() < 0.05:
                continue  # no data for this combination: an empty page
            rows: list[dict] = []
            for year in range(FIRST_YEAR, LAST_YEAR + 1):
                for _ in BREAKDOWNS:
                    next_id += 1
                    num, val = _value(rng)
                    rows.append(
                        {
                            "Id": str(next_id),
                            "IndicatorCode": ind["IndicatorCode"],
                            "SpatialDim": c["Code"],
                            "SpatialDimType": "COUNTRY",
                            "TimeDim": str(year),
                            "TimeDimType": "YEAR",
                            "NumericValue": num,
                            "Value": val,
                        }
                    )
            observations[(ind["IndicatorCode"], c["Code"])] = _with_edge_cases(rng, rows)
    return WhoFeed(indicators, countries, observations)


def _with_edge_cases(rng: random.Random, rows: list[dict]) -> list[dict]:
    """Mutate a share of rows into each edge-case class, in place, and add
    exact duplicates right after their originals."""
    out: list[dict] = []
    for r in rows:
        u = rng.random()
        if u < 0.05:
            r["TimeDim"] = f"{r['TimeDim']}-{r['TimeDim']}"  # range year
        elif u < 0.06:
            r["NumericValue"] = rng.choice(UNPARSEABLE_NUMBERS)
        elif u < 0.063:
            r["TimeDim"] = rng.choice((None, "n/a"))  # null key after cleaning
        elif u < 0.064:
            r["IndicatorCode"] = None  # null key
        elif u < 0.067:
            r[rng.choice(("SpatialDimType", "TimeDimType"))] = None  # reject
        out.append(r)
        if rng.random() < 0.005:
            out.append(dict(r))  # the API repeating a row: duplicate Id
    return out


# ---------------------------------------------------------------------------
# Incremental batches
# ---------------------------------------------------------------------------

BASE_INGESTED_AT = datetime(2024, 1, 1, tzinfo=timezone.utc)


@dataclass
class IncrementalFeed:
    """A base feed plus a seeded sequence of daily batches on top of it.

    Batch ``k`` (1-based) carries rows ingested during day ``k``:

    - ``n_new`` new keys in the latest year;
    - ``n_updates`` re-sent existing ``Id`` values with new measurements,
      mostly in the two latest years, a small older tail, and a few that
      move to another year (a correction of ``TimeDim``);
    - ``n_replays`` rows stamped at or below the previous watermark, which
      the pipeline must skip (they would change the warehouse if loaded);
    - the same edge-case classes as the full-load feed.

    Batches must be requested in order: each one may update rows added by
    the batches before it.
    """

    seed: int
    n_indicators: int = 12
    n_countries: int = 40
    n_new: int = 4000
    n_updates: int = 2000
    n_replays: int = 20
    base: list[dict] = field(init=False)
    _rng: random.Random = field(init=False)
    _ids_by_year: dict[int, list[tuple[str, dict]]] = field(init=False)
    _keys: list[tuple[str, str]] = field(init=False)
    _next_id: int = field(init=False)
    batches: int = field(init=False, default=0)  # batches handed out so far
    latest_year: int = field(init=False, default=LAST_YEAR + 1)
    watermark: datetime = field(init=False, default=BASE_INGESTED_AT)

    def __post_init__(self) -> None:
        feed = who_feed(self.seed, self.n_indicators, self.n_countries)
        self.indicators, self.countries = feed.indicators, feed.countries
        self.base = [dict(r, ingested_at=BASE_INGESTED_AT) for r in feed.rows()]
        self._keys = sorted(feed.observations)
        self._rng = random.Random(self.seed * 7919 + 1)
        self._next_id = max(int(r["Id"]) for r in self.base) + 1
        self._ids_by_year = {}
        for r in self.base:
            self._remember(r)

    def _remember(self, r: dict) -> None:
        year = _year(r["TimeDim"])
        if year is not None and r["IndicatorCode"] is not None:
            self._ids_by_year.setdefault(year, []).append((r["Id"], r))

    def next_batch(self) -> list[dict]:
        rng = self._rng
        self.batches += 1
        k = self.batches
        day_start = BASE_INGESTED_AT + timedelta(days=k - 1)

        stamps: list[datetime] = []

        def stamp() -> datetime:
            stamps.append(day_start + timedelta(seconds=rng.randrange(1, 86_400)))
            return stamps[-1]

        rows: list[dict] = []
        for _ in range(self.n_new):
            ind, country = rng.choice(self._keys)
            num, val = _value(rng)
            self._next_id += 1
            rows.append(
                {
                    "Id": str(self._next_id),
                    "IndicatorCode": ind,
                    "SpatialDim": country,
                    "SpatialDimType": "COUNTRY",
                    "TimeDim": str(self.latest_year),
                    "TimeDimType": "YEAR",
                    "NumericValue": num,
                    "Value": val,
                    "ingested_at": stamp(),
                }
            )
        years = sorted(self._ids_by_year)
        recent, older = years[-2:], years[:-2]
        seen: set[str] = set()
        for i in range(self.n_updates):
            pool = self._ids_by_year[
                rng.choice(recent) if rng.random() < 0.9 else rng.choice(older)
            ]
            rid, orig = pool[rng.randrange(len(pool))]
            if rid in seen:
                continue  # one update per Id per batch
            seen.add(rid)
            num, val = _value(rng)
            r = dict(orig, NumericValue=num, Value=val, ingested_at=stamp())
            if i % 400 == 0:
                r["TimeDim"] = str(rng.choice(older))  # moves to another partition
            rows.append(r)
        rows = _with_edge_cases(rng, rows)
        for r in rows:
            self._remember(r)
        # replays: at or below the previous watermark, so never loaded
        for _ in range(self.n_replays):
            pool = self._ids_by_year[rng.choice(years)]
            _, orig = pool[rng.randrange(len(pool))]
            num, val = _value(rng)
            at = self.watermark - timedelta(seconds=rng.randrange(0, 3))
            rows.append(dict(orig, NumericValue=num, Value=val, ingested_at=at))
        self.watermark = max(stamps)
        rng.shuffle(rows)
        return rows


def _year(t: str | None) -> int | None:
    if t is None:
        return None
    head = t.split("-")[0]
    return int(head) if head.isdigit() else None


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

_CONTENT_WORDS = [
    "".join(random.Random(i).choice(string.ascii_lowercase) for _ in range(3 + i % 7))
    for i in range(3000)
]
_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "fr": ["le", "la", "et", "les", "des", "un", "une"],
    "es": ["el", "los", "de", "y", "que", "en", "una"],
    "de": ["der", "die", "und", "das", "ein", "nicht", "ist"],
}
EMBED_DIM = 64


def corpus(seed: int, n_docs: int = 1000) -> tuple[list[dict], list[dict]]:
    """``(documents, embeddings)`` rows shaped like the fixture tables.

    Documents mix one language's stopwords with content words (so language
    ID has an answer); about 3% are near-duplicates of an earlier document
    with one word replaced (Jaccard well above the 0.6 threshold).
    Text is lowercase ASCII words separated by single spaces, so every
    engine tokenizes it identically.
    """
    rng = random.Random(seed)
    langs = list(_STOP)
    docs: list[dict] = []
    for doc_id in range(n_docs):
        lang = rng.choice(langs)
        if docs and rng.random() < 0.03:
            words = rng.choice(docs)["text"].split(" ")
            words[rng.randrange(len(words))] = rng.choice(_CONTENT_WORDS)
        else:
            words = [
                rng.choice(_STOP[lang]) if rng.random() < 0.3 else rng.choice(_CONTENT_WORDS)
                for _ in range(rng.randrange(20, 120))
            ]
        text = " ".join(words)
        docs.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": lang,
                "source": rng.choice(("web", "books", "news")),
                "n_chars": len(text),
            }
        )
    embeddings = [
        {
            "vec_id": v,
            "embedding": [rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)],
            "label": rng.randrange(8),
        }
        for v in range(n_docs)
    ]
    return docs, embeddings


def server_document(feed: WhoFeed, seed: int, page_size: int = 100, n_failures: int = 3) -> dict:
    """The JSON document ``odata_server.py`` serves: one entity set per
    indicator (keyed by country), the two dimension sets, and ``n_failures``
    seeded observation pages that answer 503 once per epoch."""
    sets: dict[str, dict[str, list[dict]]] = {
        INDICATOR_SET: {"": feed.indicators},
        COUNTRY_SET: {"": feed.countries},
    }
    for (ind, country), rows in feed.observations.items():
        sets.setdefault(ind, {})[country] = rows
    rng = random.Random(seed * 31 + 7)
    pages = sorted(
        (ind, country, skip)
        for (ind, country), rows in feed.observations.items()
        for skip in range(0, len(rows), page_size)
    )
    return {
        "page_size": page_size,
        "sets": sets,
        "fail_once": rng.sample(pages, min(n_failures, len(pages))),
    }
