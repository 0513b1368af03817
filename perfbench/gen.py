"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed and size arguments: the
same seed writes byte-identical files, another seed different ones.

* ``make_landing`` builds a Building Inspector landing (consolidated
  pages, toponyms, sheets, layer boroughs) and its ground truth by
  construction: record counts per kind and the ``st:sameAs`` pair set.
* ``write_tables`` writes the ten parquet tables the registered queries
  read (TPC-H-ish star schema, events, documents, embeddings).
* ``write_stream_splits`` cuts the documents and events tables into many
  small files for the file-source stream replay.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- Building Inspector landing ---------------------------------------------

PAGE_SIZE = 1000
_B62 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]
_COLORS = ["pink", "yellow", "blue", "green", "gray", "brown"]


def _b62(n: int) -> str:
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(_B62[r])
    return "".join(reversed(out)) or "0"


def _js_num(x: float) -> str:
    return str(int(x)) if float(x).is_integer() else repr(float(x))


def toponym_id(sheet_id: int, coords: list[float]) -> str:
    """The reference's content-addressed toponym id."""
    digest = hashlib.md5(",".join(_js_num(c) for c in coords).encode()).hexdigest()
    return f"toponym-{sheet_id}-{_b62(int(digest, 16))}"


def _square(x0: float, y0: float, x1: float, y1: float) -> list[list[float]]:
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def _gc(polygon: list, points: list) -> dict:
    geoms = [{"type": "Polygon", "coordinates": polygon}]
    geoms += [{"type": "Point", "coordinates": p} for p in points]
    return {"type": "GeometryCollection", "geometries": geoms}


def make_landing(
    seed: int,
    n_features: int,
    n_toponyms: int,
    n_layers: int = 12,
    n_sheets: int = 120,
) -> dict:
    """Generate a landing with every trap of the reference transform.

    Layer ``0`` has no borough (borough logs), layer ``1`` has no
    polygons (error logs). Buildings sit one per 10x10 grid cell of their
    layer, so a toponym placed in a cell can only ever hit that cell's
    building: the ``st:sameAs`` truth follows from the placement. About
    3% of the features are later duplicates of an earlier id (dropped by
    keep-first); about 1% of ids have a degenerate first copy (the whole
    id is dropped); every fifth building has a courtyard hole.

    Returns ``{"consolidated": [...], "toponyms": [...], "sheets": [...],
    "layer_boroughs": [...], "truth": {...}}``.
    """
    rng = random.Random(seed)
    layers = [1000 + i for i in range(n_layers)]
    no_borough, no_polygons = layers[0], layers[1]
    layer_boroughs = [
        {"id": lid, "borough": _BOROUGHS[i % len(_BOROUGHS)]}
        for i, lid in enumerate(layers)
        if lid != no_borough
    ]
    sheets = []
    sheet_layer: dict[int, int] = {}
    for i in range(n_sheets):
        sid, lid = 5000 + i, layers[i % n_layers]
        sheet_layer[sid] = lid
        sheets.append(
            {
                "type": "Feature",
                "properties": {
                    "id": sid,
                    "map_id": str(7000 + i // 3),
                    "layer": {"external_id": lid, "year": f"{1850 + i % 60}.0"},
                },
            }
        )
    poly_sheets = [s for s, lid in sheet_layer.items() if lid != no_polygons]

    # -- consolidated: one building per grid cell of its layer
    n_unique = max(1, round(n_features / 1.03))
    n_dups = n_features - n_unique
    feats: list[dict] = []
    cells: dict[int, int] = {}  # layer -> next free cell index
    buildings: dict[int, dict] = {}  # building id -> truth info
    for bid in range(1, n_unique + 1):
        sid = rng.choice(poly_sheets)
        lid = sheet_layer[sid]
        cell = cells.get(lid, 0)
        cells[lid] = cell + 1
        cx, cy = (cell % 200) * 10.0, (cell // 200) * 10.0
        courtyard = bid % 5 == 0
        degenerate = rng.random() < 0.01
        ring = _square(cx + 1, cy + 1, cx + 9, cy + 9)
        polygon = [ring]
        if courtyard:
            polygon.append(_square(cx + 4, cy + 4, cx + 6, cy + 6))
        if degenerate:
            polygon = [[[cx + 1, cy + 1], [cx + 2, cy + 2], [cx + 1, cy + 1]]]
        n_addr = rng.choice((0, 0, 1, 2))
        points = [[cx + 2 + k, cy + 8.5] for k in range(n_addr)]
        props = {
            "id": bid,
            "map_id": str(7000 + rng.randrange(40)),
            "sheet_id": sid,
            "consensus_address": (
                [{"flag_value": str(rng.randrange(1, 400))} for _ in range(n_addr)]
                if n_addr
                else "NONE"
            ),
        }
        if rng.random() < 0.7:
            props["consensus_color"] = ",".join(rng.sample(_COLORS, rng.choice((1, 2))))
        feats.append(
            {"type": "Feature", "properties": props, "geometry": _gc(polygon, points)}
        )
        buildings[bid] = {
            "layer": lid,
            "cx": cx,
            "cy": cy,
            "courtyard": courtyard,
            "alive": not degenerate,
            "addresses": n_addr,
        }
    # later copies of earlier ids, spliced in after their original
    for _ in range(n_dups):
        pos = rng.randrange(len(feats))
        orig = feats[pos]
        dup = json.loads(json.dumps(orig))
        dup["properties"]["map_id"] = "9999"
        dup["properties"]["consensus_address"] = "NONE"
        dup["geometry"] = _gc(orig["geometry"]["geometries"][0]["coordinates"], [])
        feats.insert(rng.randrange(pos + 1, len(feats) + 1), dup)

    # -- toponyms: in a building body, in a courtyard hole, in empty space
    tops: list[dict] = []
    seen: set[str] = set()
    same_as: set[tuple[str, str]] = set()
    topo_layer: dict[str, int] = {}
    by_layer: dict[int, list[int]] = {}
    for bid, b in buildings.items():
        by_layer.setdefault(b["layer"], []).append(bid)
    for _ in range(n_toponyms):
        sid = rng.choice(list(sheet_layer))
        lid = sheet_layer[sid]
        if tops and rng.random() < 0.03:  # duplicate coords on one sheet
            prev = rng.choice(tops)
            sid = prev["properties"]["sheet_id"]
            lid = sheet_layer[sid]
            coords = list(prev["geometry"]["coordinates"])
            bid = None
        else:
            kind = rng.random()
            bids = by_layer.get(lid)
            if bids and kind < 0.75:
                bid = rng.choice(bids)
                b = buildings[bid]
                coords = [b["cx"] + 2 + rng.randrange(5) * 0.25, b["cy"] + 2.5]
            elif bids and kind < 0.85:
                bid = rng.choice(bids)
                b = buildings[bid]
                coords = [b["cx"] + 5.0, b["cy"] + 5.0]
                if not b["courtyard"]:
                    coords = [b["cx"] + 0.5, b["cy"] + 0.5]  # cell margin
                bid = None
            else:
                bid = None
                coords = [-50.0 - rng.randrange(1000) * 0.5, -50.0]
        tops.append(
            {
                "type": "Feature",
                "properties": {"sheet_id": sid, "consensus": f"Place {rng.randrange(10**6)}"},
                "geometry": {"type": "Point", "coordinates": coords},
            }
        )
        tid = toponym_id(sid, coords)
        if tid in seen:
            continue
        seen.add(tid)
        topo_layer[tid] = lid
        if bid is not None and buildings[bid]["alive"]:
            same_as.add((tid, str(bid)))

    # -- ground truth, by construction
    alive = [bid for bid, b in buildings.items() if b["alive"]]
    indexed = {buildings[bid]["layer"] for bid in alive}
    n_addr = sum(buildings[bid]["addresses"] for bid in alive)
    matched = {t for t, _ in same_as}
    no_index = sum(1 for t, lid in topo_layer.items() if lid not in indexed)
    no_match = len(topo_layer) - len(matched) - no_index
    borough_logs = sum(1 for bid in alive if buildings[bid]["layer"] == no_borough)
    borough_logs += sum(1 for lid in topo_layer.values() if lid == no_borough)
    candidate_pairs = sum(
        len([b for b in by_layer.get(lid, []) if buildings[b]["alive"]])
        for lid in topo_layer.values()
    )
    truth = {
        "building_objects": len(alive),
        "address_objects": n_addr,
        "toponym_objects": len(topo_layer),
        "mapwarper_relations": 2 * (len(alive) + len(topo_layer)),
        "address_relations": n_addr,
        "same_as_relations": len(same_as),
        "borough_logs": borough_logs,
        "no_match_logs": no_match,
        "no_index_logs": no_index,
        "candidate_pairs": candidate_pairs,
        "same_as": sorted(same_as),
    }
    return {
        "consolidated": feats,
        "toponyms": tops,
        "sheets": sheets,
        "layer_boroughs": layer_boroughs,
        "truth": truth,
    }


def landing_server(landing: dict, base_url: str):
    """A ``fetch_json`` for ``sources.landing.download``: consolidated is
    paginated at ``PAGE_SIZE`` features a page, the rest are one doc."""
    cons = landing["consolidated"]

    def fetch_json(url: str) -> dict:
        path = url[len(base_url):]
        if path.startswith("/consolidated/page/"):
            page = int(path.rsplit("/", 1)[1])
            return {"features": cons[(page - 1) * PAGE_SIZE : page * PAGE_SIZE]}
        if path == "/toponyms":
            return {"type": "FeatureCollection", "features": landing["toponyms"]}
        if path == "/sheets":
            return {"type": "FeatureCollection", "features": landing["sheets"]}
        raise KeyError(url)

    return fetch_json


# --- parquet tables -----------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_DAY_US = 86_400 * 10**6


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def make_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` (0.01 -> 60k lineitem rows),
    with the value domains of the repository's parquet fixtures."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    gaps = rng.integers(1, 2 * 259_200_000, n_ev)  # ~259 s mean, in us
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (start + np.cumsum(gaps)).astype("datetime64[us]"),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_doc)
    vecs = centers[labels] + 0.5 * rng.normal(size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- stream splits ---------------------------------------------------------------

_MTIME0 = 1_700_000_000


def _write_parts(parts: list[pa.Table], out_dir: str) -> int:
    """One parquet file per part; strictly increasing mtimes pin the
    file source's replay order."""
    os.makedirs(out_dir)
    for i, part in enumerate(parts):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, path)
        os.utime(path, ns=((_MTIME0 + i) * 10**9,) * 2)
    return len(parts)


def _cuts(rng: random.Random, n_rows: int, n_parts: int) -> list[int]:
    """Seeded, sorted, distinct interior cut points (every part >= 1 row)."""
    return sorted(rng.sample(range(1, n_rows), min(n_parts, n_rows) - 1))


def _split(table: pa.Table, cuts: list[int]) -> list[pa.Table]:
    bounds = [0, *cuts, table.num_rows]
    return [table.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]


def write_stream_splits(
    tables: dict[str, pa.Table],
    out_dir: str,
    seed: int,
    corpus_files: int,
    event_files: int,
) -> dict[str, int]:
    """Cut the documents and events tables into small files.

    * ``corpus``: documents with ``doc_id % 10 != 7`` (the standing
      MinHash corpus; ``doc_id % 10 == 7`` is the probe side), shuffled,
      in ``corpus_files`` files;
    * ``events``: events in timestamp order (no row arrives behind the
      watermark), in ``event_files`` files.

    Returns the file count of each split.
    """
    rng = random.Random(seed)
    docs = tables["documents"].select(["doc_id", "text"])
    corpus = docs.filter(pa.array(docs["doc_id"].to_numpy() % 10 != 7))
    order = list(range(corpus.num_rows))
    rng.shuffle(order)
    corpus = corpus.take(pa.array(order))
    events = tables["events"]
    ts = events.schema.get_field_index("ts")
    # the stream reads ts as TimestampType: store it UTC-adjusted
    events = events.set_column(
        ts, "ts", events["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    return {
        "corpus": _write_parts(
            _split(corpus, _cuts(rng, corpus.num_rows, corpus_files)),
            os.path.join(out_dir, "corpus"),
        ),
        "events": _write_parts(
            _split(events, _cuts(rng, events.num_rows, event_files)),
            os.path.join(out_dir, "events"),
        ),
    }
