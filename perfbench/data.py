"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the same
tables, pages, scene and micro-batches. The engine only ever sees what these
functions generate.

- ``write_tables`` writes the ten registry tables (TPC-H-style star schema
  plus ``events``, ``documents`` and ``embeddings``) as one parquet file
  each, with the column names and types the registry queries read.
- ``raw_pages`` builds the raw page table ``(url, warc_ts, html, text, lang)``
  inside a Spark plan, so the page count costs no driver memory.
- ``page_boxes`` is the polygon layer of the tile-assignment join.
- ``water_scene`` is a dual-polarisation backscatter + HAND scene.
- ``stream_docs`` and ``stream_pings`` are the micro-batches of the two
  streaming sinks.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch window "
    "spark order data column join small line customer query big filter sort "
    "group vector stream"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base_us + us, type=pa.timestamp("us"))


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(base, np.asarray(days, dtype=np.int64) * 86400)


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words texts of 8-100 words; 5% of them are an earlier text plus
    the word ``dup`` (the planted near-duplicates)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def table_arrays(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables: 1,500 customers, 15,000 orders, about 60,000
    line items, 10,000 events and 500 documents (about sf0.01)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_ev, n_doc, n_emb = 15000, 10000, 500, 500
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord)),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_ord else np.zeros(0, np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = rng.integers(0, 6, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R", "R", "A", "N")[j] for j in flags],
        "l_linestatus": [("O", "F", "F", "O", "F", "O")[j] for j in flags],
        "l_shipdate": _days(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li)),
    })
    gaps = rng.exponential(30 * 86400 / max(n_ev, 1), n_ev)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(1.2, 40.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })
    texts = document_texts(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(out_dir: str, seed: int) -> int:
    """Write the registry tables under ``out_dir``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in table_arrays(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def raw_pages(spark, n: int, seed: int, partitions: int):
    """Raw crawl pages ``(url, warc_ts, html, text, lang)`` built in-plan
    from ``spark.range``: the url carries the seed, so every seed gives a
    different page set of the same size. The url is plain arithmetic on the
    row id, so the page cost is the engine's geotag, not the generator."""
    from pyspark.sql import functions as F

    key = F.col("id")

    def h(salt: str, mod: int):
        return F.pmod(F.xxhash64(F.lit(f"{seed}:{salt}"), key), F.lit(mod))

    word = F.element_at(F.array(*[F.lit(w) for w in WORDS]), (h("w", len(WORDS)) + 1).cast("int"))
    body = F.concat_ws(" ", F.array_repeat(word, (h("r", 40) + 3).cast("int")))
    html = F.concat(F.lit("<html><body><p>"), body, F.lit("</p></body></html>"))
    return spark.range(0, n, 1, partitions).select(
        F.concat(
            F.lit("https://site"), ((key * 7919 + seed) % 1000).cast("string"),
            F.lit(f".example.com/{seed}/page/"), key.cast("string"),
        ).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=h("t", 31536000))).alias("warc_ts"),
        html.cast("binary").alias("html"),
        body.alias("text"),
        F.element_at(F.array(*[F.lit(x) for x in LANGS]), (h("l", len(LANGS)) + 1).cast("int")).alias("lang"),
    )


def page_boxes(seed: int) -> list[dict]:
    """Polygon boxes for the tile-assignment join: ``watershed_boxes`` for the
    seed plus one box around each hotspot city, so that the 30% of pages
    that land in the five hotspot cells always reach the salted aggregate."""
    from asf_tools_spark.oracle import HOTSPOTS
    from asf_tools_spark.sources.polygons import watershed_boxes

    boxes = watershed_boxes(n=24, seed=seed)
    rng = np.random.default_rng(seed + 1)
    for i, (lat, lon) in enumerate(HOTSPOTS):
        h, w = (float(x) for x in rng.uniform(0.6, 1.5, 2))
        boxes.append({
            "poly_id": 24 + i,
            "min_lat": lat - h, "min_lon": lon - w, "max_lat": lat + h, "max_lon": lon + w,
            "file_path": f"s3://watersheds/hotspot_{i}.tif",
        })
    return boxes


def water_scene(rows: int, cols: int, seed: int):
    """Masked dual-pol (VV, VH) backscatter and HAND arrays: smooth HAND
    terrain, three lakes (low backscatter, low HAND) placed by the seed,
    speckle noise and a nodata corner."""
    rng = np.random.default_rng(seed)
    rr, cc = np.mgrid[0:rows, 0:cols]
    hand = 18.0 * (1 + np.sin(rr / 23.0) * np.cos(cc / 31.0)) + rng.uniform(0, 4, (rows, cols))
    water = np.zeros((rows, cols), dtype=bool)
    for _ in range(3):
        r0, c0 = rng.uniform(0.2, 0.8) * rows, rng.uniform(0.2, 0.8) * cols
        rad = rng.uniform(0.08, 0.15) * min(rows, cols)
        water |= (rr - r0) ** 2 + (cc - c0) ** 2 < rad ** 2
    hand[water] *= 0.05
    vh = rng.lognormal(-2.3, 0.4, (rows, cols))
    vh[water] = rng.lognormal(-5.2, 0.25, (rows, cols))[water]
    vv = rng.lognormal(-1.4, 0.4, (rows, cols))
    vv[water] = rng.lognormal(-4.2, 0.25, (rows, cols))[water]
    nodata = np.zeros((rows, cols), dtype=bool)
    nodata[:8, :12] = True
    return (
        np.ma.MaskedArray(vv, mask=nodata),
        np.ma.MaskedArray(vh, mask=nodata),
        np.ma.MaskedArray(hand, mask=np.zeros((rows, cols), dtype=bool)),
    )


STREAM_WORDS = [a + b for a in WORDS for b in WORDS]  # a 900-word vocabulary
STREAM_DOCS, STREAM_PINGS = 50, 500  # rows per micro-batch


def stream_docs(seed: int, batch: int) -> pa.Table:
    """Micro-batch ``batch`` of the near-duplicate stream: ``STREAM_DOCS`` rows
    ``(doc_id, text)``, ids unique across batches. Every text is one of 1,000
    base texts of the seed, half of them with the word ``dup`` appended, so
    near-duplicates fall both within a batch and across batches, while two
    different base texts rarely share an LSH band."""
    pool_rng = np.random.default_rng([seed, 0])
    pool = [
        " ".join(STREAM_WORDS[j] for j in pool_rng.integers(0, len(STREAM_WORDS), int(k)))
        for k in pool_rng.integers(8, 100, 1000)
    ]
    rng = np.random.default_rng([seed, 1, batch])
    n = STREAM_DOCS
    texts = [pool[int(i)] + (" dup" if d else "") for i, d in zip(rng.integers(0, len(pool), n), rng.random(n) < 0.5)]
    return pa.table({"doc_id": pa.array(batch * n + np.arange(n), pa.int64()), "text": texts})


def stream_pings(seed: int, batch: int, polys: list[dict]) -> pa.Table:
    """Micro-batch ``batch`` of the geofence stream: ``STREAM_PINGS`` pings
    ``(event_id, user_id, ts, lat, lon)`` over one hour from 100 users, each
    within 4 degrees of its user's home fence, so users enter and leave
    fences from batch to batch."""
    home = np.random.default_rng([seed, 2]).integers(0, len(polys), 100)
    rng = np.random.default_rng([seed, 3, batch])
    n = STREAM_PINGS
    users = rng.integers(0, 100, n)
    centre = np.array([p["ring"].mean(axis=0) for p in polys])[home[users]]
    return pa.table({
        "event_id": pa.array(batch * n + np.arange(n), pa.int64()),
        "user_id": pa.array(users, pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), batch * 3600 + np.sort(rng.uniform(0, 3600, n)).round()),
        "lat": centre[:, 1] + rng.uniform(-4, 4, n),
        "lon": centre[:, 0] + rng.uniform(-4, 4, n),
    })
