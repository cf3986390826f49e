"""Seeded input generators for the benchmark workloads.

The benchmark owns these generators so that a change to the program
cannot change what the workloads feed it.  Nothing here imports
``proj_4_spark``.  Every generator is a pure function of the seed and
the size (the geography is fixed, see GEOGRAPHY_SEED).  Files are
cached under ``<cache>/<kind>-s<seed>-n<size>-<src>``, where ``<src>``
hashes this file's source, and a cached entry is used only when its
row counts match the manifest written with it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP_BYTES = 1 << 19   # ~0.5 MB parquet row groups
CACHE_KEEP = 2              # cached input sets kept per workload kind
N_CITIES = 24
ZIPF_ALPHA = 0.95     # with 24 cities and a 10% background: top city ~20%
BACKGROUND = 0.10
RADII = (0.1, 0.25, 0.5)   # polygon radii around each city, degrees
VOCAB = ("the a of and is to in spark window merge table column vector "
         "stream value data small join filter big group hash customer "
         "sort order slow line part fast row agg key query scan batch "
         "market square harbour river bridge station museum avenue "
         "north south east west old new").split()
LANGS = ("en", "de", "fr", "es", "zh")
# Cities and polygons are drawn once from GEOGRAPHY_SEED, not from the
# run's seed: where a polygon falls on the S2 grid decides how many
# candidate pairs the join makes, and a seeded geography moved the
# join's work by about 10% from seed to seed.  --seed draws the points,
# pages, mentions and document ids.
GEOGRAPHY_SEED = 0
MAX_DOC_ID = 3_400_000_000   # lonlat_sql overflows int64 near 3.5e9
_SRC = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:10]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def cities() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lon, lat, weight) of the city centres.  Centres stay in
    lon [-170, 170] and lat [-60, 60]; weights are Zipf(ZIPF_ALPHA)."""
    rng = _rng(GEOGRAPHY_SEED, 1)
    lon = rng.uniform(-170.0, 170.0, N_CITIES)
    lat = rng.uniform(-60.0, 60.0, N_CITIES)
    w = 1.0 / np.arange(1, N_CITIES + 1) ** ZIPF_ALPHA
    return lon, lat, w / w.sum()


def _mixture(seed: int, stream: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """n (lon, lat) points: Zipf city clusters plus a uniform background."""
    rng = _rng(seed, stream)
    clon, clat, w = cities()
    city = rng.choice(N_CITIES, size=n, p=w)
    bg = rng.random(n) < BACKGROUND
    r = np.abs(rng.normal(0.0, 0.15, n))
    ang = rng.uniform(0.0, 2.0 * np.pi, n)
    lat = clat[city] + r * np.sin(ang)
    lon = clon[city] + r * np.cos(ang) / np.cos(np.radians(clat[city]))
    lon[bg] = rng.uniform(-180.0, 180.0, bg.sum())
    lat[bg] = np.degrees(np.arcsin(rng.uniform(-0.98, 0.98, bg.sum())))
    return lon, lat


def polygons() -> list[dict]:
    """Star-shaped polygons (32-64 vertices) around the cities, in the
    ``polygon_rows`` shape the join takes: one of each radius in RADII
    per city."""
    rng = _rng(GEOGRAPHY_SEED, 2)
    clon, clat, _ = cities()
    rows = []
    for c in range(N_CITIES):
        for r0 in RADII:
            nv = int(rng.integers(32, 65))
            cx = clon[c] + rng.normal(0.0, 0.1)
            cy = clat[c] + rng.normal(0.0, 0.1)
            ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, nv))
            rad = r0 * rng.uniform(0.4, 1.0, nv)
            ring_lat = cy + rad * np.sin(ang)
            ring_lon = cx + rad * np.cos(ang) / np.cos(np.radians(cy))
            rows.append(dict(
                polygon_id=len(rows), name=f"star_{len(rows)}",
                ring_lon=ring_lon.tolist(), ring_lat=ring_lat.tolist(),
                lon_min=float(ring_lon.min()), lon_max=float(ring_lon.max()),
                lat_min=float(ring_lat.min()), lat_max=float(ring_lat.max())))
    return rows


def write_table(table: pa.Table, path: str) -> None:
    """One parquet file of ~0.5 MB row groups.  Spark splits a single
    file into nproc scan tasks of nearly equal size, whatever the seed;
    many small files would be packed into a count of tasks that moves
    with their compressed sizes."""
    rows = max(1, int(ROW_GROUP_BYTES * table.num_rows / table.nbytes))
    pq.write_table(table, path, row_group_size=rows)


def _doc_ids(seed: int, stream: int, n: int) -> np.ndarray:
    base = int(_rng(seed, stream).integers(0, MAX_DOC_ID - n))
    return np.arange(base, base + n, dtype=np.int64)


def _texts(rng: np.random.Generator, n: int, mean_tokens: float,
           mentions: list[list[str]] | None = None) -> list[str]:
    """n documents of vocabulary words, lengths log-normal around
    mean_tokens; mentions[i] are spliced in at random token positions."""
    lens = np.clip(rng.lognormal(np.log(mean_tokens), 0.6, n), 8, 900)
    lens = lens.astype(np.int64)
    words = np.asarray(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    out = []
    for i in range(n):
        toks = list(words[ends[i] - lens[i]:ends[i]])
        if mentions is not None:
            for m in mentions[i]:
                toks.insert(int(rng.integers(0, len(toks) + 1)), m)
        out.append(" ".join(toks))
    return out


def gen_points(seed: int, n: int, path: str) -> dict:
    """coords_tiles input: (doc_id, lon, lat) parquet."""
    lon, lat = _mixture(seed, 3, n)
    write_table(pa.table({"doc_id": _doc_ids(seed, 4, n), "lon": lon,
                          "lat": lat}), os.path.join(path, "points.parquet"))
    return {"points.parquet": n}


def gen_pages(seed: int, n: int, path: str) -> dict:
    """pages_job input: a ``documents`` table (doc_id, text, lang) whose
    pages hold 0-2 "lat, lon" mentions each.  The mentions, as the
    miner will parse them, go to ``mentions.parquet`` for the check."""
    rng = _rng(seed, 5)
    k = rng.integers(0, 3, n)
    lon, lat = _mixture(seed, 6, int(k.sum()))
    lat_s = [f"{v:.6f}" for v in lat]
    lon_s = [f"{v:.6f}" for v in lon]
    mentions, j = [], 0
    for i in range(n):
        mentions.append([f"{lat_s[j + m]}, {lon_s[j + m]}"
                         for m in range(k[i])])
        j += k[i]
    ids = _doc_ids(seed, 7, n)
    text = _texts(rng, n, 160.0, mentions)
    write_table(pa.table({"doc_id": ids, "text": text,
                          "lang": rng.choice(LANGS, n)}),
                os.path.join(path, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": np.repeat(ids, k),
        "lon": np.array(lon_s, dtype=np.float64),
        "lat": np.array(lat_s, dtype=np.float64)}),
        os.path.join(path, "mentions.parquet"))
    return {"documents.parquet": n, "mentions.parquet": int(k.sum())}


def gen_headline(seed: int, n: int, path: str) -> dict:
    """headline_queries input: the three tables the 11 headline queries
    read, shaped like the sf0.1 fixture: n documents, n // 2.5
    embeddings (64-d) and 120 * n lineitem rows."""
    rng = _rng(seed, 8)
    text = _texts(rng, n, 50.0)
    # every 20th page repeats an earlier one with one word changed, so
    # the near-duplicate (LSH) query has pairs to find
    for i in range(20, n, 20):
        toks = text[int(rng.integers(0, i))].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        text[i] = " ".join(toks)
    pq.write_table(pa.table({
        "doc_id": _doc_ids(seed, 9, n), "text": text,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}),
        os.path.join(path, "documents.parquet"))
    ne = int(n // 2.5)
    centres = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, ne).astype(np.int32)
    emb = (centres[label] + rng.normal(0.0, 0.6, (ne, 64))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": label}), os.path.join(path, "embeddings.parquet"))
    nl = 120 * n
    start = np.datetime64("1992-01-02", "us")
    span = (np.datetime64("1998-12-01", "us") - start).astype(np.int64)
    price = np.round(rng.uniform(900.0, 105000.0, nl), 2)
    pq.write_table(pa.table({
        "l_orderkey": np.sort(rng.integers(1, nl // 4, nl)),
        "l_partkey": rng.integers(1, 20001, nl),
        "l_suppkey": rng.integers(1, 1001, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
        "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
        "l_shipdate": pa.array(start + rng.integers(0, span, nl),
                               type=pa.timestamp("us"))}),
        os.path.join(path, "lineitem.parquet"))
    return {"documents.parquet": n, "embeddings.parquet": ne,
            "lineitem.parquet": nl}


GENERATORS = {"points": gen_points, "pages": gen_pages,
              "headline": gen_headline}


def row_count(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def materialize(cache: str, kind: str, seed: int, n: int) -> str:
    """Directory holding the ``kind`` inputs for (seed, n), generated
    on a miss.  Keeps the CACHE_KEEP most recent entries of each kind."""
    path = os.path.join(cache, f"{kind}-s{seed}-n{n}-{_SRC}")
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            want = json.load(f)
        if all(row_count(os.path.join(path, t)) == c for t, c in want.items()):
            os.utime(path)
            return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    counts = GENERATORS[kind](seed, n, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(counts, f)
    os.rename(tmp, path)
    old = sorted((e for e in os.listdir(cache)
                  if e.startswith(kind + "-") and not e.endswith(".tmp")),
                 key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for e in old[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    return path
