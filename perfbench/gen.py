"""Seeded input generators for the workloads.

Everything here is pure Python / NumPy / pyarrow: the program under
test receives only the files these functions write. The same seed
always yields byte-identical files.

- ``city_catalog`` + ``burst_lines``: OpenWeatherMap-shaped JSON
  messages (FIXTURES.md §2), one per city per poll cycle, with a
  seeded share of corrupt lines and of messages missing optional
  fields.
- ``write_tables``: the TPC-H-ish tables plus ``events``,
  ``documents`` and ``embeddings`` with the column names and value
  ranges of the driver's test data (TESTDATA.md), at a chosen scale.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

WEATHER_MAIN = ("Clear", "Clouds", "Rain", "Snow", "Drizzle", "Thunderstorm", "Mist")
CORRUPT_SHARE = 0.005
MISSING_SHARE = 0.05
# which optional part a "missing fields" message drops (FIXTURES.md §2)
_MISSING_KINDS = ("weather", "empty_weather", "gust", "sun", "visibility", "clouds", "main")


@dataclass
class City:
    name: str
    lon: float
    lat: float
    country: str
    timezone: int


def city_catalog(n: int, seed: int) -> list[City]:
    """``n`` cities with unique names; a few non-RU rows, a few names
    with an apostrophe or diacritic, and some negative time zones."""
    rng = np.random.default_rng([seed, 1])
    lon = np.round(rng.uniform(19.0, 180.0, n), 4)
    lat = np.round(rng.uniform(41.0, 72.0, n), 4)
    tz = rng.choice([-3600, 0, 7200, 10800, 14400, 18000, 25200, 36000], n)
    out = []
    for i in range(n):
        name = f"City_{i:06d}"
        if i % 997 == 1:
            name = f"Nal’chik_{i:06d}"
        elif i % 991 == 2:
            name = f"Kräsnodar_{i:06d}"
        country = "UA" if i % 83 == 5 else "RU"
        out.append(City(name, float(lon[i]), float(lat[i]), country, int(tz[i])))
    return out


@dataclass
class BurstStats:
    """What the generator put into one burst: the truth the output
    check compares the warehouse against."""

    n_lines: int = 0
    n_corrupt: int = 0
    n_missing: int = 0
    # city -> (valid rows, sum of temperature in hundredths)
    per_city: dict[str, list[int]] = field(default_factory=dict)


def burst_lines(cities: list[City], burst: int, dt: int, seed: int) -> tuple[list[str], BurstStats]:
    """One poll cycle: one JSON message per city, observed at unix
    second ``dt``. Returns the lines and their ground truth."""
    rng = np.random.default_rng([seed, 2, burst])
    n = len(cities)
    temp_c = rng.integers(-4000, 3500, n)  # hundredths of a degree
    feels = temp_c + rng.integers(-300, 300, n)
    pressure = rng.integers(960, 1060, n)
    humidity = rng.integers(0, 101, n)
    vis = rng.integers(0, 10001, n)
    wind = rng.integers(0, 3000, n)
    gust = rng.integers(0, 4000, n)
    deg = rng.integers(0, 361, n)
    clouds = rng.integers(0, 101, n)
    wmain = rng.integers(0, len(WEATHER_MAIN), n)
    kind_draw = rng.random(n)
    missing_kind = rng.integers(0, len(_MISSING_KINDS), n)
    stats = BurstStats()
    lines: list[str] = []
    for i, c in enumerate(cities):
        t = int(temp_c[i])
        w = WEATHER_MAIN[wmain[i]]
        msg: dict = {
            "coord": {"lon": c.lon, "lat": c.lat},
            "weather": [{"main": w, "description": f"{w.lower()} sky"}],
            "main": {
                "temp": t / 100,
                "feels_like": int(feels[i]) / 100,
                "temp_min": (t - 150) / 100,
                "temp_max": (t + 150) / 100,
                "pressure": int(pressure[i]),
                "humidity": int(humidity[i]),
            },
            "visibility": int(vis[i]),
            "wind": {"speed": int(wind[i]) / 100, "deg": int(deg[i]), "gust": int(gust[i]) / 100},
            "clouds": {"all": int(clouds[i])},
            "dt": dt,
            "sys": {"country": c.country, "sunrise": dt - 21600, "sunset": dt + 21600},
            "timezone": c.timezone,
            "name": c.name,
        }
        draw = kind_draw[i]
        if draw < CORRUPT_SHARE:
            text = json.dumps(msg, ensure_ascii=False)
            # cut inside the payload: syntactically invalid JSON
            lines.append(text[: len(text) // 2])
            stats.n_corrupt += 1
            continue
        if draw < CORRUPT_SHARE + MISSING_SHARE:
            kind = _MISSING_KINDS[missing_kind[i]]
            if kind == "weather":
                del msg["weather"]
            elif kind == "empty_weather":
                msg["weather"] = []
            elif kind == "gust":
                del msg["wind"]["gust"]
            elif kind == "sun":
                del msg["sys"]["sunrise"], msg["sys"]["sunset"]
            elif kind == "visibility":
                del msg["visibility"]
            elif kind == "clouds":
                del msg["clouds"]
            else:
                del msg["main"]
                t = 0  # flatten defaults a missing temperature to 0
            stats.n_missing += 1
        lines.append(json.dumps(msg, ensure_ascii=False))
        acc = stats.per_city.setdefault(c.name, [0, 0])
        acc[0] += 1
        acc[1] += t
    stats.n_lines = len(lines)
    return lines, stats


def write_burst(path: str, lines: list[str]) -> int:
    """Write one burst as JSON lines; returns the byte count."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def merge_stats(parts: list[BurstStats]) -> BurstStats:
    out = BurstStats()
    for p in parts:
        out.n_lines += p.n_lines
        out.n_corrupt += p.n_corrupt
        out.n_missing += p.n_missing
        for city, (n, s) in p.per_city.items():
            acc = out.per_city.setdefault(city, [0, 0])
            acc[0] += n
            acc[1] += s
    return out


# --- warehouse tables (TESTDATA.md shapes) ----------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_PART_ADJ = ("large", "hot", "blue", "old", "small", "green", "red", "shiny")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "pipe", "nut")
_PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
_LANGS = ("en", "zh", "es", "fr", "de")
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


_SYLLABLES = ("lo", "ra", "mi", "ne", "tu", "ka", "so", "ve", "di", "pa", "ru", "be")
# a filler vocabulary large enough that unrelated documents rarely
# share a 4-gram by chance, with stopwords at a text-like share
_WORDS = (*_VOCAB, *(a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in ("n", "s", "t")))
_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
STOPWORD_SHARE = 0.15
NEAR_DUP_SHARE = 0.15
# near-duplicates copy one of DUP_SOURCES pages that are copied all over
# a crawl, so any few hundred docs hold dup pairs
DUP_SOURCES = 25
CONTAMINATED_SHARE = 0.04


def _documents(rng: np.random.Generator, sources: np.ndarray) -> list[str]:
    """Bag-of-words texts. About 15% are near-duplicates (one word
    changed, or a ``dup`` suffix) of one of ``DUP_SOURCES`` pages: the
    first clean docs outside the eval shard, and no copy lands in it,
    so the decontamination gate does not drop whole dup groups. About
    4% carry an 8-word passage copied from an eval-shard (``src0``) doc,
    so both the near-dup and the decontamination stages find real
    work."""
    n_docs = len(sources)
    texts: list[str] = []
    lens = rng.integers(20, 121, n_docs)
    kinds = rng.random(n_docs)
    evals: list[int] = []
    pages: list[int] = []
    for i in range(n_docs):
        if i > 10 and kinds[i] < NEAR_DUP_SHARE and sources[i] != "src0" and pages:
            src = texts[pages[int(rng.integers(0, len(pages)))]].split(" ")
            if rng.random() < 0.5:
                src[int(rng.integers(0, len(src)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            else:
                src.append("dup")
            texts.append(" ".join(src))
            continue
        n = int(lens[i])
        stop = rng.random(n) < STOPWORD_SHARE
        picks = np.where(stop, rng.integers(0, len(_STOP), n), rng.integers(0, len(_WORDS), n))
        words = [(_STOP if s else _WORDS)[w] for s, w in zip(stop, picks)]
        leaked = bool(evals) and sources[i] != "src0" and kinds[i] > 1 - CONTAMINATED_SHARE
        if leaked:
            leak = texts[evals[int(rng.integers(0, len(evals)))]].split(" ")
            at = int(rng.integers(0, len(leak) - 8))
            cut = int(rng.integers(0, len(words)))
            words[cut:cut] = leak[at : at + 8]
        if sources[i] == "src0":
            evals.append(i)
        elif not leaked and len(pages) < DUP_SOURCES:
            pages.append(i)
        texts.append(" ".join(words))
    return texts


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def write_tables(out_dir: str, sf: float, seed: int, names: tuple[str, ...] = TABLES) -> None:
    """The tables in ``names`` at scale ``sf`` (sf 0.1 = 600k lineitem
    rows, 5,000 documents). Each table draws from its own seeded
    stream, so a subset is identical to the same tables of a full set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(100, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(100, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(200, int(20_000 * sf))
    ts = pa.timestamp("us")

    def rng(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, 3, TABLES.index(name)])

    def order_days() -> np.ndarray:
        return rng("orders").integers(0, 2404, n_ord)

    def region(r):
        return {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }

    def nation(r):
        return {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }

    def customer(r):
        return {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
        }

    def supplier(r):
        return {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
        }

    def part(r):
        return {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }

    def orders(r):
        day = r.integers(0, 2404, n_ord)  # same first draw as order_days()
        return {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": pa.array(_EPOCH_1995_US + day * _DAY_US, ts),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
        }

    def lineitem(r):
        order = r.integers(0, n_ord, n_li)
        qty = r.integers(1, 51, n_li).astype(np.float64)
        ship_day = order_days()[order] + r.integers(1, 122, n_li)
        return {
            "l_orderkey": order,
            "l_partkey": r.integers(0, n_part, n_li),
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_EPOCH_1995_US + ship_day * _DAY_US, ts),
        }

    def events(r):
        return {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024_US + np.sort(r.integers(0, 30 * _DAY_US, n_events)), ts),
            "user_id": r.integers(0, n_users, n_events),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_events)],
            "value": np.round(r.exponential(40.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        }

    def documents(r):
        sources = np.array([f"src{s}" for s in r.integers(0, 20, n_docs)])
        texts = _documents(r, sources)
        return {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[r.integers(0, 5, n_docs)],
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }

    def embeddings(r):
        emb = r.normal(0.0, 0.125, (n_vecs, 64)).astype(np.float32)
        return {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": r.integers(0, 10, n_vecs).astype(np.int32),
        }

    builders = {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
    for name in names:
        pq.write_table(pa.table(builders[name](rng(name))), os.path.join(out_dir, f"{name}.parquet"))
