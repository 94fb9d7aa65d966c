"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: the program under test sees only
the parquet files these functions write, never the generator. The same
seed writes byte-identical inputs, and each generator returns the facts
the correctness checks need (covered tiles, row counts, z sums) computed
independently of the program.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dutch RD-style origin, so coordinates look like the reference's data.
X0, Y0 = 85_000.0, 445_000.0
TILE_SIZE = 100.0  # AHN feature tiles, metres
EXPORT_TILE_SIZE = 250.0
ELEV_FACTOR = 5  # an elevation tile spans 5 x 5 feature tiles
HOLES = 3  # interior elevation tiles left out
UNKNOWN_IDS = 5  # IDs in the selection list that are not in the index
FAIL_SHARE = 0.01  # share of the AHN work that fails on its first attempt


def _pareto_counts(rng: np.random.Generator, n_tiles: int, n_points: int, shape: float) -> np.ndarray:
    """Points per tile: Pareto-skewed, at least one point per tile, summing
    to n_points. The weights are the distribution's evenly spaced
    quantiles, so every seed gets the same skew (and about the same work);
    the seed only decides which tile gets which count."""
    w = (1.0 - (np.arange(n_tiles) + 0.5) / n_tiles) ** (-1.0 / shape)
    rng.shuffle(w)
    counts = np.maximum(1, np.floor(w / w.sum() * n_points)).astype(np.int64)
    counts[np.argmax(counts)] += n_points - counts.sum()
    return counts


def _points(rng: np.random.Generator, ids: np.ndarray, xmin: np.ndarray, ymin: np.ndarray,
            size: float, counts: np.ndarray) -> pa.Table:
    """Uniform x/y inside each tile; z is ground noise plus buildings."""
    rep = np.repeat(np.arange(len(ids)), counts)
    n = len(rep)
    x = xmin[rep] + rng.random(n) * size
    y = ymin[rep] + rng.random(n) * size
    # 2-dp heights: the export check sums z exactly in integer centimetres
    z = np.round(rng.gamma(2.0, 4.0, n) + rng.normal(0.0, 0.3, n), 2)
    return pa.table({
        "tile_id": pa.array(ids[rep]),
        "x": x,
        "y": y,
        "z": z,
    })


def tiles_ahn(out_dir: str, seed: int, grid: int, n_points: int) -> dict:
    """Feature tile grid with skewed points, a coarser two-version
    elevation index with a few holes, an explicit selection list with
    unknown IDs, and the tiles whose first attempt must fail.

    Writes features.parquet, tile_index.parquet, elevation_index.parquet.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ix, iy = np.meshgrid(np.arange(grid), np.arange(grid), indexing="ij")
    ix, iy = ix.ravel(), iy.ravel()
    ids = np.array([f"f{a:03d}_{b:03d}" for a, b in zip(ix, iy)])
    xmin = X0 + ix * TILE_SIZE
    ymin = Y0 + iy * TILE_SIZE
    counts = _pareto_counts(rng, len(ids), n_points, shape=1.5)
    pq.write_table(_points(rng, ids, xmin, ymin, TILE_SIZE, counts), f"{out_dir}/features.parquet")
    pq.write_table(pa.table({
        "tile_id": ids, "xmin": xmin, "ymin": ymin,
        "xmax": xmin + TILE_SIZE, "ymax": ymin + TILE_SIZE,
    }), f"{out_dir}/tile_index.parquet")

    # Elevation tiles are ELEV_FACTOR x ELEV_FACTOR feature tiles; the
    # western half is version 3, the eastern half version 4, and a few
    # interior tiles are missing so their inner feature tiles are uncovered.
    eg = -(-grid // ELEV_FACTOR)
    esize = TILE_SIZE * ELEV_FACTOR
    ex, ey = np.meshgrid(np.arange(eg), np.arange(eg), indexing="ij")
    ex, ey = ex.ravel(), ey.ravel()
    interior = np.flatnonzero((ex > 0) & (ex < eg - 1) & (ey > 0) & (ey < eg - 1))
    missing = rng.choice(interior, size=min(HOLES, len(interior)), replace=False)
    keep = np.setdiff1d(np.arange(len(ex)), missing)
    ex, ey = ex[keep], ey[keep]
    exmin, eymin = X0 + ex * esize, Y0 + ey * esize
    pq.write_table(pa.table({
        "ahn_tile": np.array([f"e{a:02d}_{b:02d}" for a, b in zip(ex, ey)]),
        "xmin": exmin, "ymin": eymin, "xmax": exmin + esize, "ymax": eymin + esize,
        "version": np.where(ex < eg // 2, 3, 4).astype(np.int32),
    }), f"{out_dir}/elevation_index.parquet")

    # Coverage by closed-interval bbox intersection, like ST_Intersects.
    xmax, ymax = xmin + TILE_SIZE, ymin + TILE_SIZE
    covered = np.zeros(len(ids), dtype=bool)
    for a, b in zip(exmin, eymin):
        covered |= (xmin <= a + esize) & (a <= xmax) & (ymin <= b + esize) & (b <= ymax)

    chosen = np.sort(rng.choice(len(ids), size=int(len(ids) * 0.95), replace=False))
    unknown = [f"x{k:03d}_unknown" for k in range(UNKNOWN_IDS)]
    work = chosen[covered[chosen]]
    n_fail = max(1, int(round(len(work) * FAIL_SHARE)))
    fail_once = sorted(ids[rng.choice(work, size=n_fail, replace=False)].tolist())
    return {
        "tiles": len(ids),
        "points": int(counts.sum()),
        "max_points_per_tile": int(counts.max()),
        "median_points_per_tile": float(np.median(counts)),
        "elevation_tiles": int(len(ex)),
        "uncovered_tiles": int((~covered).sum()),
        "selected": ids[chosen].tolist() + unknown,
        "unknown_ids": unknown,
        "expected_success": int(len(work)),
        "fail_once": fail_once,
    }


def tiles_export(out_dir: str, seed: int, grid: int, n_points: int) -> dict:
    """Few large tiles (grid x grid) holding the same point volume;
    writes features.parquet."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ix, iy = np.meshgrid(np.arange(grid), np.arange(grid), indexing="ij")
    ix, iy = ix.ravel(), iy.ravel()
    ids = np.array([f"g{a:02d}_{b:02d}" for a, b in zip(ix, iy)])
    counts = _pareto_counts(rng, len(ids), n_points, shape=3.0)
    table = _points(rng, ids, X0 + ix * EXPORT_TILE_SIZE, Y0 + iy * EXPORT_TILE_SIZE,
                    EXPORT_TILE_SIZE, counts)
    pq.write_table(table, f"{out_dir}/features.parquet")
    z = table.column("z").to_numpy()
    return {
        "tiles": len(ids),
        "points": int(counts.sum()),
        "max_points_per_tile": int(counts.max()),
        "median_points_per_tile": float(np.median(counts)),
        "z_cents": int(np.round(z * 100).astype(np.int64).sum()),
    }


# --- the engine's star schema + events/documents/embeddings --------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = (("en", 0.41), ("es", 0.15), ("fr", 0.15), ("zh", 0.15), ("de", 0.14))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PART_WORDS = ("small", "red", "blue", "large", "green")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "panel")
PART_TYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Exact 2-dp money values in [lo, hi) cents, as the engine's
    scaled-long sums require."""
    return rng.integers(lo, hi, n) / 100.0


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(start, "us") + offsets.astype("timedelta64[D]"))


def star(out_dir: str, seed: int) -> dict:
    """The ten tables the registry queries read at their sf0.001 sizes,
    TPC-H-ish in the 1995-2001 date epoch, one row group each like the
    landing files the ``sources`` layer re-lays out. Returns row counts
    per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1_500
    n_ev, n_users = 1_000, 50
    n_docs = n_vecs = 500
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
    })
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 5, n_part), rng.integers(0, 5, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(retail, 2),
    })

    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _days("1995-01-01", odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-01", odate[okey] + rng.integers(1, 122, n_li)),
    })

    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 1, 49_003, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    words = np.array(WORDS)
    texts = []
    # 5% of the documents are near-duplicates of an earlier one
    dups = set(rng.choice(np.arange(11, n_docs), size=n_docs // 20, replace=False).tolist())
    for k, n in enumerate(rng.integers(10, 100, n_docs)):
        if k in dups:
            texts.append(" ".join(texts[rng.integers(0, k)].split()[:-1] + ["dup"]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    langs, weights = zip(*LANGS)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), n_docs, p=weights)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vec = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet", row_group_size=len(table) + 1)
    return {name: t.num_rows for name, t in tables.items()}
