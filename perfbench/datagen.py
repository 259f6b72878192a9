"""Seeded input generators for the benchmark.

Two kinds of input, both written under the benchmark's work directory:

- ``write_star_tables``: the ten parquet tables the query registry reads
  (TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``), with the same names, column types and value domains as
  the repository's test data, at a chosen scale factor.
- ``write_mitma_days``: daily MITMA-shaped CSV files for the medallion
  write path, with the dirty-row mix of FIXTURES.md section 1: ``_AM``/
  ``_AD`` zone suffixes, PT/FR/``externo`` zones, malformed date, hour and
  trip values, and one injected outlier that the 3-sigma gold filter must
  reject.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000


def _ts_us(d: datetime.date) -> int:
    return (d - datetime.date(1970, 1, 1)).days * _US_PER_DAY


def _uniform_days(rng, n: int, lo: datetime.date, hi: datetime.date) -> np.ndarray:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return _ts_us(lo) + days.astype(np.int64) * _US_PER_DAY


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": pa.array(
            _uniform_days(rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)), ts
        ),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(
            _uniform_days(rng, n_line, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)), ts
        ),
    })
    gaps = rng.exponential(30 * _US_PER_DAY / n_ev, n_ev).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(_ts_us(datetime.date(2024, 1, 1)) + np.cumsum(gaps), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
    }


# --- MITMA daily files --------------------------------------------------------

# Spanish header of the published MITMA OD files; the pipeline renames by
# position (sources.csv.read_csv_all_varchar with column_names).
MITMA_HEADER = [
    "fecha", "periodo", "origen", "destino", "distancia", "actividad_origen",
    "actividad_destino", "estudio_origen_posible", "estudio_destino_posible",
    "residencia", "renta", "edad", "sexo", "viajes", "viajes_km",
]
# Starts of two-day windows; the seed picks one. Together they hold every
# day_type: Sunday, Monday, Tuesday-Thursday, Friday, Saturday and the
# national holidays (Good Friday 2023, the movable feast, among them).
_WINDOW_STARTS = [
    datetime.date(2023, 4, 6), datetime.date(2023, 8, 14), datetime.date(2023, 10, 12),
    datetime.date(2023, 12, 8), datetime.date(2024, 4, 30), datetime.date(2023, 1, 6),
    datetime.date(2023, 6, 4),
]
_DISTANCES = ["0.5-2", "2-10", "10-50", ">50"]
_ACTIVITIES = ["casa", "trabajo_estudio", "frecuente", "no_frecuente"]
_INCOMES = ["<10", "10-15", ">15"]
_AGES = ["0-25", "25-45", "45-65", ">65"]
_SEXES = ["hombre", "mujer"]


def mitma_dates(seed: int, n_days: int) -> list[str]:
    """The ``yyyyMMdd`` file dates for ``seed``."""
    start = _WINDOW_STARTS[seed % len(_WINDOW_STARTS)]
    return [(start + datetime.timedelta(days=i)).strftime("%Y%m%d") for i in range(n_days)]


def write_mitma_days(
    out_dir: str, seed: int, n_days: int, n_groups: int, segments: int
) -> dict[str, str]:
    """Write ``n_days`` daily CSV files; returns {yyyyMMdd: path}.

    Each file holds ``n_groups`` (hour, origin, destination) groups, each
    split over ``segments`` demographic rows, plus the dirty rows. The
    same groups recur every day, so each gold group collects ``segments``
    or more observations per day type.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    zones = [f"{m:05d}{s:02d}" for m in rng.choice(np.arange(1001, 52000), 30, replace=False)
             for s in (1, 2)]
    g_hour = rng.integers(0, 24, n_groups)
    g_orig = rng.integers(0, len(zones), n_groups)
    g_dest = rng.integers(0, len(zones), n_groups)
    g_base = np.round(rng.lognormal(3.0, 0.8, n_groups), 2)
    dates = mitma_dates(seed, n_days)
    # One extreme row among n observations of a gold group lies (n-1)/sqrt(n)
    # sample deviations from their mean: beyond 3 sigma once n >= 11, so
    # with ``segments`` >= 11 the outlier is rejectable on any day.
    outlier_day = int(rng.integers(0, n_days))
    outlier_group = int(rng.integers(0, n_groups))
    paths: dict[str, str] = {}
    for day, date in enumerate(dates):
        lines = [",".join(MITMA_HEADER)]
        noise = rng.normal(1.0, 0.15, (n_groups, segments))
        suffix = rng.random((n_groups, segments, 2))
        for g in range(n_groups):
            o, d = zones[g_orig[g]], zones[g_dest[g]]
            for k in range(segments):
                trips = max(0.01, round(float(g_base[g] * noise[g, k]), 2))
                if day == outlier_day and g == outlier_group and k == 0:
                    trips = 250000.0
                lines.append(_mitma_row(
                    date, str(g_hour[g]),
                    o + "_AM" if suffix[g, k, 0] < 0.1 else o,
                    d + "_AD" if suffix[g, k, 1] < 0.1 else d,
                    k, f"{trips:.2f}",
                ))
        z0, z1 = zones[0], zones[1]
        for bad in (
            (date, "8", "PT1110601", z0, "12.50"),   # cross-border origin
            (date, "9", z1, "FR7510101", "3.25"),    # cross-border destination
            (date, "10", "externo", z0, "7.00"),     # external zone
            (date, "11", z0, "externo", "1.75"),
            (date[:4] + "-" + date[4:6] + "-3x", "8", z0, z1, "5.00"),  # malformed date
            (date, "notanhour", z0, z1, "5.00"),     # malformed hour
            (date, "12", z0, z1, "notanumber"),      # malformed trips
        ):
            lines.append(_mitma_row(*bad[:4], 0, bad[4]))
        path = os.path.join(out_dir, f"{date}_Viajes_distritos.csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        paths[date] = path
    return paths


def _mitma_row(date: str, hour: str, o: str, d: str, k: int, trips: str) -> str:
    return ",".join((
        date, hour, o, d, _DISTANCES[k % 4], _ACTIVITIES[k % 4], _ACTIVITIES[(k + 1) % 4],
        "1", "0", f"{10 + k % 40:02d}", _INCOMES[k % 3], _AGES[k % 4], _SEXES[k % 2],
        trips, f"{float(trips) * 3.5:.2f}" if trips[0].isdigit() else "0.0",
    ))
