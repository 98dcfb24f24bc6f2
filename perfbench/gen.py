"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator`` and a
size, so the same seed gives byte-identical inputs. Nothing here touches
Spark: the workloads hand the generated files or rows to the package.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- star schema

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.14, 0.15]
WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]

# rows per table at scale 1 (the sf0.01 shape of the repo's star schema)
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z in seconds
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z in seconds


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 4))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def write_star(out_dir: str, rng: np.random.Generator, scale: float = 1.0) -> dict[str, int]:
    """Write every star table as ``<out_dir>/<table>.parquet`` with the
    column names, types and value domains the catalog queries read.
    Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(round(r * scale))) for t, r in BASE_ROWS.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    odate_days = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts((_EPOCH_1995 * 1_000_000) + odate_days * _DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    lines_per = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no), lines_per)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    nl = len(l_order)
    ship = odate_days[l_order] + rng.integers(1, 122, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    flags = rng.integers(0, 3, nl)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in flags],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts((_EPOCH_1995 * 1_000_000) + ship * _DAY_US),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86_400 / ne, ne)
    ts_s = _EPOCH_2024 + np.cumsum(gaps)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(np.floor(ts_s * 1_000_000)),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    docs = documents(rng, n["documents"])
    tables["documents"] = docs
    nv = n["embeddings"]
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(
                list(rng.standard_normal((nv, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- documents


def _sentence(rng: np.random.Generator, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        if rng.random() < 0.3:
            words.append(STOPWORDS[rng.integers(len(STOPWORDS))])
        else:
            words.append(WORDS[rng.integers(len(WORDS))])
    return " ".join(words)


def _paragraph(rng: np.random.Generator) -> str:
    return ". ".join(_sentence(rng, int(rng.integers(6, 14))) for _ in range(2)) + "."


# paragraphs shared by many documents, so paragraph dedup has work to do
_BOILERPLATE = [
    "subscribe to the data stream for the fast table of value.",
    "the key of the part is in the hash join of the window.",
    "all rows in the scan are for the order of the customer.",
]


def document_text(rng: np.random.Generator) -> str:
    """One document: 2-4 paragraphs separated by blank lines; a quarter
    of them carry one shared boilerplate paragraph; a few are degenerate
    repetition so the repetition and quality gates drop something."""
    roll = rng.random()
    if roll < 0.04:
        word = WORDS[rng.integers(len(WORDS))]
        return "\n".join([f"{word} {word} {word} {word}"] * 8)
    if roll < 0.08:
        return "!!! ?? ## " + " ".join(
            WORDS[i] + "!!" for i in rng.integers(0, len(WORDS), 8)
        )
    paras = [_paragraph(rng) for _ in range(int(rng.integers(2, 5)))]
    if rng.random() < 0.25:
        paras.insert(int(rng.integers(0, len(paras) + 1)), _BOILERPLATE[rng.integers(3)])
    return "\n\n".join(paras)


def near_copy(rng: np.random.Generator, text: str) -> str:
    """A near-duplicate: one word in a long text replaced."""
    words = text.split(" ")
    i = int(rng.integers(len(words)))
    words[i] = WORDS[rng.integers(len(WORDS))] + "x"
    return " ".join(words)


def documents(
    rng: np.random.Generator,
    n: int,
    exact_frac: float = 0.08,
    near_frac: float = 0.08,
    first_id: int = 0,
) -> pa.Table:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) in
    which ``exact_frac`` of the rows copy an earlier row's text exactly
    and ``near_frac`` copy it with one word changed."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < exact_frac:
            texts.append(texts[int(rng.integers(i))])
        elif i > 0 and roll < exact_frac + near_frac:
            texts.append(near_copy(rng, texts[int(rng.integers(i))]))
        else:
            texts.append(document_text(rng))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


@dataclass(frozen=True)
class Batch:
    table: pa.Table
    exact_resubmits: frozenset[int]  # doc_ids whose text an earlier batch carried


def ingest_batches(
    rng: np.random.Generator, n_batches: int, batch_docs: int, resubmit_frac: float = 0.15
) -> list[Batch]:
    """Micro-batches of documents; from the second batch on,
    ``resubmit_frac`` of each batch re-submits an earlier batch's text
    exactly and as many again re-submit it with one word changed."""
    out: list[Batch] = []
    seen: list[str] = []
    next_id = 0
    for b in range(n_batches):
        texts, exact = [], set()
        for i in range(batch_docs):
            roll = rng.random()
            if seen and roll < resubmit_frac:
                texts.append(seen[int(rng.integers(len(seen)))])
                exact.add(next_id + i)
            elif seen and roll < 2 * resubmit_frac:
                texts.append(near_copy(rng, seen[int(rng.integers(len(seen)))]))
            else:
                texts.append(document_text(rng))
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(next_id, next_id + batch_docs), pa.int64()),
                "text": texts,
                "lang": [LANGS[i] for i in rng.choice(5, batch_docs, p=LANG_P)],
                "source": [f"src{(next_id + i) % 20}" for i in range(batch_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        out.append(Batch(table, frozenset(exact)))
        seen.extend(texts)
        next_id += batch_docs
    return out


# ---------------------------------------------------------------- geo


@dataclass(frozen=True)
class City:
    name: str
    parts: list[list[list[float]]]  # rings of [lon, lat], closed


@dataclass(frozen=True)
class GeoInputs:
    cities: list[City]
    zoom: int
    blobs: list[tuple[float, float, float]]  # tile-space (cx, cy, radius)
    singleton_mod: int
    osm_nodes: list[tuple[float, float]]  # (lon, lat)


def lonlat_to_tile(lon: np.ndarray, lat: np.ndarray, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Continuous slippy-tile coordinates (the package's projection)."""
    n = 2.0**zoom
    x = (lon + 180.0) / 360.0 * n
    lat_r = np.radians(lat)
    y = (1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0 * n
    return x, y


def tile_to_lonlat(x: np.ndarray, y: np.ndarray, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    n = 2.0**zoom
    lon = x / n * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n))))
    return lon, lat


def _hull_area(x: np.ndarray, y: np.ndarray) -> float:
    """Area of the convex hull of points (monotone chain + shoelace)."""
    pts = sorted(zip(x.tolist(), y.tolist()))

    def half(seq):
        out: list[tuple[float, float]] = []
        for p in seq:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    hull = half(pts)[:-1] + half(pts[::-1])[:-1]
    hx, hy = np.array(hull).T
    return 0.5 * abs(float(np.dot(hx, np.roll(hy, -1)) - np.dot(hy, np.roll(hx, -1))))


def _star_ring(rng, lon0, lat0, r_lon, k) -> list[list[float]]:
    """A concave star-shaped ring of k vertices, closed, scaled so that
    its convex hull covers 0.75*pi*r_lon^2 (in lon-degree units), which
    keeps the tile count of its simplified outline nearly the same for
    every seed."""
    ang = np.sort(rng.uniform(0, 2 * math.pi, k))
    rad = rng.uniform(0.55, 1.0, k)
    dx, dy = rad * np.cos(ang), rad * np.sin(ang)
    scale = r_lon * math.sqrt(0.75 * math.pi / _hull_area(dx, dy))
    lon = lon0 + scale * dx
    lat = lat0 + scale * dy * math.cos(math.radians(lat0))
    ring = [[float(a), float(b)] for a, b in zip(lon, lat)]
    return ring + [ring[0]]


def geo_inputs(
    rng: np.random.Generator,
    n_cities: int = 4,
    tiles_per_city: int = 4000,
    zoom: int = 19,
    blobs_per_city: int = 3,
) -> GeoInputs:
    """City boundaries (every third a two-part MultiPolygon), a
    classifier description (disc-shaped positive blobs in tile space plus
    hash-chosen singleton positives) and OSM nodes, half of them at the
    centre of a blob and the rest far from every city."""
    tile_deg = 360.0 / 2**zoom
    cities, blobs, nodes = [], [], []
    slots = rng.permutation(40)[:n_cities]
    for c, slot in enumerate(slots):
        lon0 = -120.0 + 1.0 * (slot % 10) + rng.uniform(-0.1, 0.1)
        lat0 = 32.0 + 2.0 * (slot // 10) + rng.uniform(-0.1, 0.1)
        multi = c % 3 == 2
        # the simplified (hull + buffer) area is about 0.75*pi*r^2 in tiles
        area = tiles_per_city / (2 if multi else 1)
        r_lon = math.sqrt(area / (0.75 * math.pi)) * tile_deg
        k = int(rng.integers(10, 18))
        parts = [_star_ring(rng, lon0, lat0, r_lon, k)]
        if multi:
            parts.append(_star_ring(rng, lon0 + 3.0 * r_lon, lat0, r_lon, k))
        cities.append(City(f"City{c:02d}, ST", parts))
        cx0, cy0 = lonlat_to_tile(np.array([lon0]), np.array([lat0]), zoom)
        r_tiles = r_lon / tile_deg
        for b in range(blobs_per_city):
            ang = rng.uniform(0, 2 * math.pi)
            d = rng.uniform(0.0, 0.4) * r_tiles
            cx = float(np.floor(cx0[0] + d * math.cos(ang))) + 0.5
            cy = float(np.floor(cy0[0] + d * math.sin(ang))) + 0.5
            blobs.append((cx, cy, BLOB_RADIUS))
            if b % 2 == 0:
                lon, lat = tile_to_lonlat(np.array([cx]), np.array([cy]), zoom)
                nodes.append((float(lon[0]), float(lat[0])))
    for _ in range(max(1, len(nodes))):
        nodes.append((float(rng.uniform(-70.0, -60.0)), float(rng.uniform(50.0, 55.0))))
    return GeoInputs(cities, zoom, blobs, 509, nodes)


SINGLETON_MUL = (73856093, 19349663)
# one radius for every blob: the connected-components loop runs a number
# of rounds set by the widest cluster, so a random radius would make the
# op's cost depend on the seed
BLOB_RADIUS = 4.5


def is_positive(col: np.ndarray, row: np.ndarray, inputs: GeoInputs) -> np.ndarray:
    """The mock classifier's decision, evaluated in numpy (the reference
    for the Spark expression in workloads.geo_classifier)."""
    cx, cy = col + 0.5, row + 0.5
    pos = np.zeros(len(col), dtype=bool)
    for bx, by, r in inputs.blobs:
        pos |= (cx - bx) ** 2 + (cy - by) ** 2 <= r * r
    h = (col * SINGLETON_MUL[0]) ^ (row * SINGLETON_MUL[1])
    pos |= np.mod(h, inputs.singleton_mod) == 0
    return pos


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number point-in-polygon for many points against one
    closed ring, with the same arithmetic order as
    operators.spatial.point_in_ring."""
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        straddles = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= straddles & (px < x_at_y)
    return inside
