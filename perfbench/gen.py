"""Seeded inputs for the benchmark workloads.

Every table is written here, by the benchmark, as plain parquet; the program
under test only ever reads the files.

* Pages (``flagship``): the synthetic Common-Crawl-style pages table. At
  seed 42 it is row-for-row the table ``s2geo_spark.sources.pages.synth_pages``
  produces; any other seed shifts the row-id space, which moves every point,
  url and timestamp. The hash -> coordinate math is copied here on purpose,
  so that a change to the program cannot change the benchmark's inputs.
* Contract tables (``query_mix``): dense-key TPC-H-style tables (only the
  key columns the nine queries read) plus a ``documents`` table with planted
  near-duplicates. They do not depend on the run seed, so the expected
  result checksums can be derived once and stored beside the benchmark.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
PAGES_N = 1_600_000
PAGE_FILES = 64

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam"
).split()
_LANGS = ["en", "de", "fr", "zh", "es"]
_EPOCH_S = 1735689600


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _unit(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))


def _urban_centers(n_caps: int = 20):
    rng = np.random.default_rng(BASE_SEED)
    v = rng.normal(size=(n_caps, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    lat = np.degrees(np.arcsin(np.clip(v[:, 2], -1, 1)))
    lon = np.degrees(np.arctan2(v[:, 1], v[:, 0]))
    radius = rng.uniform(0.05, 0.5, n_caps)
    return lat, lon, radius


_CAP_LAT, _CAP_LON, _CAP_RAD = _urban_centers()


def row_offset(seed: int, n_rows: int) -> int:
    """First row id for ``seed``: 0 at the base seed, a disjoint block else."""
    return ((seed - BASE_SEED) % 997) * n_rows


def page_attrs(ids: np.ndarray) -> dict[str, np.ndarray]:
    """Per-row page attributes, a pure function of the row id."""
    i = ids.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(i)
    h2 = _splitmix64(h1)
    h3 = _splitmix64(h2)
    h4 = _splitmix64(h3)

    urban = (h1 % np.uint64(100)) < np.uint64(70)
    cap_idx = (h2 % np.uint64(len(_CAP_LAT))).astype(np.int64)
    u1 = np.maximum(_unit(h3), 1e-12)
    u2 = _unit(h4)
    r = np.sqrt(-2.0 * np.log(u1))
    lat_u = _CAP_LAT[cap_idx] + _CAP_RAD[cap_idx] * 0.5 * r * np.cos(2 * np.pi * u2)
    lon_u = _CAP_LON[cap_idx] + _CAP_RAD[cap_idx] * 0.5 * r * np.sin(2 * np.pi * u2)
    lat_u = np.clip(lat_u, -89.999999, 89.999999)
    lon_u = ((lon_u + 180.0) % 360.0) - 180.0

    z = 2.0 * _unit(h3) - 1.0
    theta = 2.0 * np.pi * _unit(h4)
    lat_s = np.degrees(np.arcsin(np.clip(z, -1, 1)))
    lon_s = np.degrees(((theta + np.pi) % (2 * np.pi)) - np.pi)

    return {
        "lat": np.where(urban, lat_u, lat_s),
        "lon": np.where(urban, lon_u, lon_s),
        "has_geo": (h1 % np.uint64(1000)) >= np.uint64(70),
        "lang_idx": (h2 % np.uint64(len(_LANGS))).astype(np.int64),
        "w1": (h3 % np.uint64(len(_WORDS))).astype(np.int64),
        "w2": (h4 % np.uint64(len(_WORDS))).astype(np.int64),
    }


def pages_table(ids: np.ndarray) -> pa.Table:
    """The pages rows for ``ids`` (url, warc_ts, html, text, lang)."""
    a = page_attrs(ids)
    w1, w2 = a["w1"].tolist(), a["w2"].tolist()
    nw = len(_WORDS)
    texts = [
        f"{_WORDS[x]} {_WORDS[y]} geo:{la:.6f},{lo:.6f} {_WORDS[(x + y) % nw]}"
        if g
        else f"{_WORDS[x]} {_WORDS[y]} {_WORDS[(x + y) % nw]}"
        for x, y, g, la, lo in zip(
            w1, w2, a["has_geo"].tolist(), a["lat"].tolist(), a["lon"].tolist()
        )
    ]
    id_list = ids.tolist()
    urls = [f"https://site{k % 1000}.example/p/{k}" for k in id_list]
    html = [f"<html><body>{t}</body></html>".encode() for t in texts]
    langs = np.asarray(_LANGS, dtype=object)[a["lang_idx"]]
    ts = (np.asarray(ids, dtype=np.int64) + _EPOCH_S) * 1_000_000
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )


def write_pages(path: str, seed: int, n_rows: int = PAGES_N, files: int = PAGE_FILES) -> int:
    """Write the seed's pages as ``files`` parquet files under ``path``.

    Returns the first row id. Many small files keep the scan as wide as
    bench.py's staged copy (parquet splits only at row-group boundaries).
    """
    os.makedirs(path, exist_ok=True)
    first = row_offset(seed, n_rows)
    bounds = np.linspace(0, n_rows, files + 1).astype(np.int64)
    for f in range(files):
        ids = np.arange(first + bounds[f], first + bounds[f + 1], dtype=np.int64)
        pq.write_table(pages_table(ids), os.path.join(path, f"part-{f:05d}.parquet"))
    return first


def parse_geo(texts: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of every page that carries a ``geo:LAT,LON`` token."""
    import pyarrow.compute as pc

    m = pc.extract_regex(texts, r"geo:(?P<lat>[^,]+),(?P<lon>[^ ]+) ")
    ok = pc.is_valid(m)
    m = pc.filter(m, ok)
    lat = pc.cast(pc.struct_field(m, "lat"), pa.float64()).to_numpy()
    lon = pc.cast(pc.struct_field(m, "lon"), pa.float64()).to_numpy()
    return lat, lon


# --- contract tables (query_mix) ------------------------------------------

DATA_SEED = 20260101
# sf0.01-sized. Measured on a 4-core, 15 GB host: a pass of the nine queries
# takes ~15 s here and ~28 s at sf0.1 (scale=10), where dedup_jaccard_pairs,
# dedup_clusters and s2_hausdorff grow 2.5-4x with the data while the other
# six stay within 1.35x; sf0.1 also doubles peak RSS (3.5 -> 6.1 GB). sf0.01
# keeps one run of set-up plus a pass near a minute.
TABLE_ROWS = {"orders": 15_000, "customer": 1_500, "supplier": 100, "nation": 25}
DOCS_N = 500

_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line data column order small sort filter window join big group query "
    "stream vector customer"
).split()


def documents(n_docs: int = DOCS_N, seed: int = DATA_SEED) -> pa.Table:
    """Word-salad documents; ~12% are edited copies of an earlier document
    and ~2% exact copies, so the near-duplicate queries have real work."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for d in range(n_docs):
        roll = rng.random()
        if d > 10 and roll < 0.02:
            texts.append(texts[int(rng.integers(0, d))])
            continue
        if d > 10 and roll < 0.14:
            words = texts[int(rng.integers(0, d))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _DOC_WORDS[
                    int(rng.integers(0, len(_DOC_WORDS)))
                ]
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(12, 90))
        texts.append(" ".join(_DOC_WORDS[k] for k in rng.integers(0, len(_DOC_WORDS), n_words)))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANGS[k % len(_LANGS)] for k in range(n_docs)],
            "source": [f"src{k % 7}" for k in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def contract_tables(scale: float = 1.0) -> dict[str, pa.Table]:
    """The tables the query_mix queries read; ``scale`` shrinks them."""
    out = {}
    for name, n in TABLE_ROWS.items():
        rows = n if name == "nation" else max(10, int(n * scale))
        key = {"orders": "o_orderkey", "customer": "c_custkey",
               "supplier": "s_suppkey", "nation": "n_nationkey"}[name]
        out[name] = pa.table({key: np.arange(rows, dtype=np.int64)})
    out["documents"] = documents(max(20, int(DOCS_N * scale)))
    return out


def write_contract_tables(sf_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


def tables_digest(tables: dict[str, pa.Table]) -> str:
    """Content hash of the tables, to detect stale stored checksums."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].column_names:
            h.update(col.encode())
            h.update(repr(tables[name].column(col).to_pylist()).encode())
    return h.hexdigest()
