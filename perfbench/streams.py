"""The two streaming sinks of ``query_mix``, fed like a stream.

``streaming.near_dup.NearDupIndexer`` (a partitioned LSH band store plus a
pairs table) and ``streaming.geofence.GeofenceAlertIndexer`` (open-visit
state snapshots plus an alerts table) each get one seeded micro-batch per
pass, with the pass number as the batch id. Their stores live for the whole
run, so every batch after the first joins against what earlier batches
wrote, and the store grows as it would in a stream. Each micro-batch is a
parquet file, read back by Spark before it is fed.

The checks recompute, for every batch fed so far, what the stream should
hold: the near-duplicate clusters of all documents from one batch-wide band
table, and the alerts from a plain Python replay of the sink's visit rules
with its own point-in-polygon test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from .data import stream_docs, stream_pings

NEAR_DUP = "near_dup_stream"
GEOFENCE = "geofence_stream"


def data_files(root: str) -> dict[str, int]:
    """Data file path -> size under ``root`` (Spark's ``_SUCCESS`` and
    ``.crc`` side files left out)."""
    out = {}
    for d, _, names in os.walk(root):
        for name in names:
            if not name.startswith((".", "_")):
                path = os.path.join(d, name)
                out[path] = os.path.getsize(path)
    return out


def components(ids, pairs) -> set[frozenset]:
    """Connected components of the graph ``pairs`` over the nodes ``ids``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict = {}
    for i in ids:
        groups.setdefault(find(i), set()).add(i)
    return {frozenset(g) for g in groups.values()}


def inside(ring: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Crossing-number point-in-polygon test of the points against the ring
    of ``(lon, lat)`` vertices."""
    out = np.zeros(len(lon), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring, np.roll(ring, -1, axis=0)):
        spans = (y1 > lat) != (y2 > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = x1 + (x2 - x1) * (lat - y1) / (y2 - y1)
        out ^= spans & (lon < x_at)
    return out


def replay_alerts(batches: list, polys: list[dict]) -> set[tuple]:
    """The alerts a geofence sink should have written for ``batches`` (a list
    of ``(batch_id, ping table)``): ``(batch_id, user_id, poly_id, kind,
    alert_ts)``. An entry fires when a user has a ping inside a fence and no
    open visit there; an exit when a user with an open visit pings in the
    batch but never inside that fence; a user absent from a batch keeps its
    visits open."""
    alerts, state = set(), None
    for batch_id, tbl in batches:
        users, ts = tbl.column("user_id").to_pylist(), tbl.column("ts").to_pylist()
        lon, lat = tbl.column("lon").to_numpy(), tbl.column("lat").to_numpy()
        hits: dict = {}
        for p in polys:
            for i in np.flatnonzero(inside(p["ring"], lon, lat)):
                k = (users[i], p["poly_id"])
                hits[k] = min(hits.get(k, ts[i]), ts[i])
        last: dict = {}
        for u, t in zip(users, ts):
            last[u] = max(last.get(u, t), t)
        for k, t in hits.items():
            if state is None or k not in state:
                alerts.add((batch_id, *k, "entry", t))
        if state is None:
            state = set(hits)
            continue
        for k in state:
            if k[0] in last and k not in hits:
                alerts.add((batch_id, *k, "exit", last[k[0]]))
        state = {k for k in state if k[0] not in last or k in hits} | set(hits)
    return alerts


class Streams:
    """Both sinks, their inputs so far and the file metrics of the last
    batch each one wrote."""

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed
        self.batch = -1
        self.inputs: list[tuple[str, str]] = []  # (docs file, pings file) per batch
        self.io: dict[str, dict] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def prepare(self, spark) -> None:
        from asf_tools_spark.sources.polygons import polygon_edges_df, watershed_polygons
        from asf_tools_spark.streaming.geofence import GeofenceAlertIndexer, fence_cover_df
        from asf_tools_spark.streaming.near_dup import NearDupIndexer

        os.makedirs(self.path("input"), exist_ok=True)
        self.polys = watershed_polygons()
        # the broadcast fence tables a stream builds once and keeps
        edges = polygon_edges_df(spark, self.polys).persist()
        cover = fence_cover_df(spark, self.polys).persist()
        self.near_dup = NearDupIndexer(self.path("band_store"), self.path("pairs"), key="doc_id")
        self.geofence = GeofenceAlertIndexer(edges, cover, self.path("state"), self.path("alerts"))

    def next_batch(self) -> None:
        """Write the next micro-batch of each stream (outside any timing)."""
        self.batch += 1
        files = []
        for kind, tbl in (("docs", stream_docs(self.seed, self.batch)),
                          ("pings", stream_pings(self.seed, self.batch, self.polys))):
            files.append(self.path(f"input/{kind}-{self.batch}.parquet"))
            pq.write_table(tbl, files[-1])
        self.inputs.append(tuple(files))

    def feed(self, spark, name: str) -> None:
        """Feed the current micro-batch to the sink ``name``."""
        from asf_tools_spark.functions.spatial import with_cell_col

        docs, pings = self.inputs[self.batch]
        if name == NEAR_DUP:
            self.near_dup(spark.read.parquet(docs), self.batch)
        else:
            self.geofence(with_cell_col(spark.read.parquet(pings), "lat", "lon", 8, "cell_id"), self.batch)

    def stores(self, name: str) -> list[str]:
        return [self.path("band_store"), self.path("pairs")] if name == NEAR_DUP else [
            self.path("state"), self.path("alerts")]

    def snapshot(self, name: str) -> dict[str, int]:
        out = {}
        for d in self.stores(name):
            out.update(data_files(d))
        return out

    def record_io(self, name: str, before: dict[str, int]) -> None:
        """Files and bytes the sink ``name`` wrote in its last call, the files
        its store holds, and the size of the batch's input file."""
        after = self.snapshot(name)
        new = [p for p, size in after.items() if before.get(p) != size]
        self.io[name] = {
            "files_written": len(new),
            "bytes_written": sum(after[p] for p in new),
            "store_files": len(data_files(self.stores(name)[0])),
            "input_bytes": os.path.getsize(self.inputs[self.batch][0 if name == NEAR_DUP else 1]),
        }

    def check(self, spark) -> list[tuple[str, bool, str]]:
        """(name, ok, note) for each sink over every batch fed so far."""
        from asf_tools_spark.operators.dedup import band_rows, minhash_signatures
        from asf_tools_spark.streaming.geofence import read_alerts

        out = []
        nd = self.near_dup
        docs = spark.read.parquet(*[d for d, _ in self.inputs])
        ids = [r[0] for r in docs.select("doc_id").collect()]
        sigs = minhash_signatures(docs, "doc_id", nd.text_col, nd.n_hashes, family=nd.hash_family)
        buckets: dict = {}
        for r in band_rows(sigs, "doc_id", nd.bands, nd.rows_per_band).collect():
            buckets.setdefault((r.band_id, r.band_val), []).append(r.doc_id)
        want = components(ids, [(g[0], x) for g in buckets.values() for x in g[1:]])
        pairs = [tuple(r) for r in spark.read.parquet(self.path("pairs")).select("key_a", "key_b").collect()]
        got = components(ids, pairs)
        ok = got == want
        out.append((NEAR_DUP, ok, f"{len(pairs)} pairs over {len(self.inputs)} batches form {len(got)} "
                                  f"clusters; band-sharing clusters of all {len(ids)} documents: {len(want)}"))

        want = replay_alerts([(b, pq.read_table(p)) for b, (_, p) in enumerate(self.inputs)], self.polys)
        got = {
            (r.batch_id, r.user_id, r.poly_id, r.kind, r.alert_ts)
            for r in read_alerts(spark, self.path("alerts")).collect()
        }
        out.append((GEOFENCE, got == want, f"{len(got)} alerts over {len(self.inputs)} batches; replay: {len(want)}"))
        return out
