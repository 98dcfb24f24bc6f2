"""The benchmark workloads. Each one generates its inputs from the seed,
runs one operation at a time through the package's public functions
(closed loop, one client), and checks every output outside the timed
operations. A failed check raises ``CheckFailed``."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

import gen
from measure import Tracer, patched


class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    )


def data_files(store: str) -> list[str]:
    """The parquet data files of a store, its ``_meta`` sidecars left out."""
    return [
        p for p in glob.glob(os.path.join(store, "**", "*.parquet"), recursive=True)
        if "_meta" not in p
    ]


def text_fingerprint(text: str) -> str:
    """The package's exact-dedup key (functions.text.fingerprint) in
    plain Python: md5 of the lowercased, space-trimmed text with
    whitespace runs collapsed."""
    norm = re.sub(r"\s+", " ", text.lower().strip(" "))
    return hashlib.md5(norm.encode()).hexdigest()


class Workload:
    """Subclasses implement generate/prepare/op/check.

    A run makes a fixed schedule of operations: op 0 (the first in the
    fresh JVM), ``warmup_ops`` untimed ops, then ``timed_ops`` timed ops,
    so every run times the same number of samples whatever the host's
    speed. ``generate`` is pure Python; ``prepare`` builds Spark inputs;
    both count as set-up. ``op`` is timed and returns the items it
    handled. ``after_op`` and ``check`` are not timed."""

    timed_ops: int
    warmup_ops = 0

    def __init__(self, rng: np.random.Generator, run_dir: str, tracer: Tracer):
        self.rng = rng
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None

    def generate(self) -> None: ...

    def prepare(self, spark) -> None:
        self.spark = spark

    def op(self, i: int) -> int:
        raise NotImplementedError

    def after_op(self, i: int) -> None: ...

    def expect(self) -> None:
        """Work out expected results; runs after set-up, untimed."""

    def check(self) -> None: ...

    def layer_metrics(self, log) -> dict[str, float]:
        """Layer figures of a traced run beyond its spans and jobs;
        ``log`` is the run's measure.EventLog."""
        return {}

    def info(self) -> dict:
        """Extra facts for the information line a run prints."""
        return {}


# ---------------------------------------------------------------- geo_pipeline


# the pipeline module's stage functions that run_pipeline calls, and the
# span each runs in during a traced op; their time is build time (the
# jobs they launch eagerly included), the rest runs in the sink
GEO_SPANS = {
    "simplify_polygons": "pipeline.simplify.build",
    "polygons_to_tile_space": "pipeline.to_tile_space.build",
    "enumerate_polygon_tiles": "pipeline.enumerate.build",
    "cluster_positive_tiles": "pipeline.cluster.build",
    "cluster_report": "pipeline.report.build",
    "cluster_union_rings": "geometry.union_rings",
}


# stage outputs op 0 keeps for the checks
GEO_KEPT = ["polygons_to_tile_space", "enumerate_polygon_tiles", "cluster_positive_tiles"]


class GeoPipeline(Workload):
    """pipeline.run_pipeline + sources.geojson.write_jsonl over generated
    city polygons with a mock classifier."""

    warmup_ops = 1
    timed_ops = 3

    def generate(self):
        self.inputs = gen.geo_inputs(self.rng, n_cities=4, tiles_per_city=1500)
        self.expected = None
        self.out_dir = os.path.join(self.run_dir, "geo_out")
        self.first_lines = None
        self.kept = {}

    def prepare(self, spark):
        super().prepare(spark)
        import pyarrow as pa

        g = self.inputs
        poly_path = os.path.join(self.run_dir, "cities.parquet")
        osm_path = os.path.join(self.run_dir, "osm_nodes.parquet")
        pq.write_table(
            pa.table(
                {
                    "name": [c.name for c in g.cities],
                    "rings": pa.array(
                        [c.parts for c in g.cities],
                        pa.list_(pa.list_(pa.list_(pa.float64()))),
                    ),
                }
            ),
            poly_path,
        )
        pq.write_table(
            pa.table(
                {
                    "longitude": [p[0] for p in g.osm_nodes],
                    "latitude": [p[1] for p in g.osm_nodes],
                }
            ),
            osm_path,
        )
        self.polygons = spark.read.parquet(poly_path)
        self.osm = spark.read.parquet(osm_path)

    def classify(self, tiles):
        from pyspark.sql import functions as F

        g = self.inputs
        terms = [
            f"(pow(`column` + 0.5 - {bx!r}, 2) + pow(`row` + 0.5 - {by!r}, 2) <= {r * r!r})"
            for bx, by, r in g.blobs
        ]
        terms.append(
            f"(pmod((`column` * {gen.SINGLETON_MUL[0]}) ^ (`row` * {gen.SINGLETON_MUL[1]}),"
            f" {g.singleton_mod}) = 0)"
        )
        pos = F.expr(" OR ".join(terms))
        return tiles.withColumn(
            "panel_softmax", F.when(pos, F.lit(0.9)).otherwise(F.lit(0.05))
        )

    def op(self, i):
        from solarpaneldatawrangler_spark import pipeline as P
        from solarpaneldatawrangler_spark.sources.geojson import write_jsonl

        # op 0 keeps the stage outputs of the real composition for the
        # checks; the timed ops keep nothing
        keep = patched(P, {a: self._keeper(a) for a in GEO_KEPT}) if i == 0 else nullcontext()
        with keep, self.tracer.wrapped(P, GEO_SPANS):
            out = P.run_pipeline(
                self.polygons, self.osm, self.tracer.wrap("pipeline.classify.build", self.classify),
                zoom=self.inputs.zoom,
            )
        with self.tracer.span("pipeline.sink.exec"):
            write_jsonl(out, self.out_dir)
        return self.n_tiles

    def _keeper(self, attr):
        def wrap(fn):
            def inner(*args, **kwargs):
                self.kept[attr] = fn(*args, **kwargs)
                return self.kept[attr]

            return inner

        return wrap

    def _read_output(self) -> list[str]:
        lines = []
        for p in sorted(glob.glob(os.path.join(self.out_dir, "part-*"))):
            with open(p) as f:
                lines.extend(line.rstrip("\n") for line in f if line.strip())
        return sorted(lines)

    def after_op(self, i):
        lines = self._read_output()
        if self.first_lines is None:
            self.first_lines = lines
        check(lines == self.first_lines, f"geo op {i}: output differs from op 0")

    def expected_tiles(self) -> set:
        """Tiles whose centre lies inside a city's simplified ring, by
        numpy."""
        from solarpaneldatawrangler_spark.operators.geometry import simplify_polygon_points

        tiles = set()
        for city in self.inputs.cities:
            for part in city.parts:
                ring = simplify_polygon_points(np.asarray(part, dtype=float))
                x, y = gen.lonlat_to_tile(ring[:, 0], ring[:, 1], self.inputs.zoom)
                tring = np.column_stack([x, y])
                x0, x1 = int(np.floor(x.min())), int(np.floor(x.max()))
                y0, y1 = int(np.floor(y.min())), int(np.floor(y.max()))
                cols, rows = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
                cols, rows = cols.ravel(), rows.ravel()
                keep = gen.points_in_ring(cols + 0.5, rows + 0.5, tring)
                tiles.update((city.name, int(c), int(r)) for c, r in zip(cols[keep], rows[keep]))
        return tiles

    def expect(self):
        import networkx as nx

        tiles = self.expected_tiles()
        cells = np.array(sorted({(c, r) for _, c, r in tiles}), dtype=np.int64)
        pos = gen.is_positive(cells[:, 0], cells[:, 1], self.inputs)
        pos_cells = {(int(c), int(r)) for c, r in cells[pos]}
        graph = nx.Graph()
        graph.add_nodes_from(pos_cells)
        for c, r in pos_cells:
            for nb in ((c + 1, r), (c, r + 1)):
                if nb in pos_cells:
                    graph.add_edge((c, r), nb)
        comps = list(nx.connected_components(graph))
        node_cells = set()
        for lon, lat in self.inputs.osm_nodes:
            x, y = gen.lonlat_to_tile(np.array([lon]), np.array([lat]), self.inputs.zoom)
            node_cells.add((int(np.floor(x[0])), int(np.floor(y[0]))))
        with_node = sum(1 for comp in comps if comp & node_cells)
        self.n_tiles = len(tiles)
        self.expected = {
            "tiles": len(tiles),
            "clusters": len(comps),
            "emitted": len(comps) - with_node,
        }

    def check(self):
        from pyspark.sql import functions as F

        exp = self.expected
        tile_polys = self.kept["polygons_to_tile_space"]
        n_tiles = self.kept["enumerate_polygon_tiles"].count()
        check(n_tiles == exp["tiles"], f"geo tiles: spark {n_tiles} != numpy {exp['tiles']}")
        clustered = self.kept["cluster_positive_tiles"]
        n_clusters = clustered.select(F.countDistinct("cluster_id")).first()[0]
        check(
            n_clusters == exp["clusters"],
            f"geo clusters: spark {n_clusters} != networkx {exp['clusters']}",
        )
        lines = self.first_lines or []
        check(
            len(lines) == exp["emitted"],
            f"geo emitted {len(lines)} lines, expected {exp['emitted']}",
        )
        nodes = np.array(self.inputs.osm_nodes)
        for line in lines:
            obj = json.loads(line)
            check(obj.get("type") == "FeatureCollection", "geo line is not a FeatureCollection")
            ring = np.array(obj["features"][0]["geometry"]["coordinates"][0])
            inside = gen.points_in_ring(nodes[:, 0], nodes[:, 1], ring)
            check(not inside.any(), "geo: an emitted cluster contains an OSM node")
        # the grid's cells examined: the bbox of every tile-space ring the
        # program produced, as enumerate_polygon_tiles floors it
        examined = 0
        for row in tile_polys.select("rings").collect():
            for ring in row["rings"]:
                xy = np.asarray(ring, dtype=float)
                x0, y0 = np.floor(xy.min(axis=0))
                x1, y1 = np.floor(xy.max(axis=0))
                examined += int((x1 - x0 + 1) * (y1 - y0 + 1))
        self.ratios = {
            "grid.inside_ratio": n_tiles / examined,
            "spatial.antijoin_keep_ratio": len(lines) / n_clusters,
        }

    def layer_metrics(self, log):
        return self.ratios


# ---------------------------------------------------------------- catalog_mix

# A fixed dozen of the catalog's relational and domain queries: scans and
# filters, semi/anti joins, aggregation, windows, pivot, rollup, the
# spatial contains-join, grid enumeration and connected components (which
# launches jobs while it builds). Run once each in a fresh session they
# take about 13 s on 4 cores; the whole relational/domain set (34
# queries) takes several times that, more than one run can spend.
CATALOG_MIX = [
    "q01_priority_scan", "q02_filter_project", "q04_threshold_filter",
    "q07_semi_join", "q08_anti_join", "q09_groupby_topk", "q12_window_rank",
    "q20_sessionize", "q23_pivot", "q24_rollup", "q38_spatial_contains",
    "q40_connected_components",
]


class CatalogMix(Workload):
    """One client's fresh session over the star tables and the documents:
    op 0 lands micro-batch 0 and admits it (the first op in the fresh
    JVM, which also gives the stores their first generation); the timed
    ops are each CATALOG_MIX query once, in a fixed order (a fresh build
    plus a full noop-sink run), then micro-batch 1 admitted, then a
    curation of both landed batches (see TextSide)."""

    timed_ops = len(CATALOG_MIX) + 2

    def generate(self):
        self.data_dir = os.path.join(self.run_dir, "star")
        gen.write_star(self.data_dir, self.rng, scale=1.0)
        self.text = TextSide(self.rng, self.run_dir, self.tracer)

    def prepare(self, spark):
        super().prepare(spark)
        from solarpaneldatawrangler_spark.plans import CATALOG

        self.text.spark = spark
        self.catalog = CATALOG
        self.last_df = {}
        self.per_query: dict[str, list[float]] = {}

    def step(self, i: int) -> tuple[str, object]:
        """("admit", batch), ("query", name) or ("curate", last batch) for op i."""
        if i == 0:
            return "admit", 0
        if i <= len(CATALOG_MIX):
            return "query", CATALOG_MIX[i - 1]
        return ("admit", 1) if i == len(CATALOG_MIX) + 1 else ("curate", 1)

    def op(self, i):
        # one item per op: items_per_s is ops per second
        kind, arg = self.step(i)
        if kind == "admit":
            self.text.admit(arg)
            return 1
        if kind == "curate":
            self.text.curate(arg)
            return 1
        t0 = time.perf_counter()
        with self.tracer.span("plans.build"):
            df = self.catalog[arg].fn(self.spark, self.data_dir)
        with self.tracer.span("plans.exec"):
            noop_sink(df)
        self.per_query.setdefault(arg, []).append(time.perf_counter() - t0)
        self.last_df[arg] = df
        return 1

    def after_op(self, i):
        kind, arg = self.step(i)
        if kind == "admit":
            self.text.after_admit(arg)

    def layer_metrics(self, log):
        return self.text.layer_metrics(log)

    def info(self):
        return {"query_s": {q: round(float(np.median(v)), 4) for q, v in sorted(self.per_query.items())}}

    def check(self):
        import duckdb

        from solarpaneldatawrangler_spark.sources.star import STAR_TABLES

        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        for name, df in sorted(self.last_df.items()):
            oracle = self.catalog[name].oracle
            check(oracle is not None, f"{name} has no oracle")
            got = frame_hash(df.toPandas())
            want = frame_hash(con.execute(oracle).fetchdf())
            check(got == want, f"{name}: result hash differs from the DuckDB oracle")
        con.close()
        self.text.check()


def frame_hash(df) -> str:
    """Order-insensitive value hash of a result: columns sorted by name,
    each cell rendered exactly (floats by repr, so engines must agree
    bit for bit), rows sorted."""
    import pandas as pd

    cols = sorted(df.columns)

    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
            return "null"
        if type(v).__name__ == "Decimal":
            return repr(float(v))
        if isinstance(v, (float, np.floating)):
            return repr(float(v))
        if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
            return str(int(v))
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        if isinstance(v, (pd.Timestamp, np.datetime64)):
            return pd.Timestamp(v).isoformat()
        if isinstance(v, np.ndarray):
            return repr([cell(x) for x in v])
        return repr(v)

    rows = sorted("\x1f".join(cell(v) for v in rec) for rec in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1d")
    return h.hexdigest()


# ---------------------------------------------------------------- text side of catalog_mix

TEXT_STAGES = ["input", "exact_dedup", "near_dedup", "paragraph", "repetition", "quality", "language", "output"]


class TextSide:
    """The text ops of catalog_mix. ``admit(k)`` lands micro-batch k and
    admits it through streaming.admission.streaming_admission with
    durable fingerprint and signature stores that start empty;
    ``curate(k)`` runs pipeline_text.curate_corpus(with_report=True) over
    landed batches 0..k to a noop sink."""

    BATCH_DOCS = 100
    N_BATCHES = 2
    # fingerprint buckets: the package default of 64 would leave about
    # one document per bucket file at this batch size
    N_BUCKETS = 8
    SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    def __init__(self, rng: np.random.Generator, run_dir: str, tracer: Tracer):
        self.tracer = tracer
        self.run_dir = run_dir
        self.spark = None
        self.batches = gen.ingest_batches(rng, self.N_BATCHES, self.BATCH_DOCS)
        self.source = os.path.join(run_dir, "landing")
        self.store = os.path.join(run_dir, "fp_store")
        self.sig_store = os.path.join(run_dir, "sig_store")
        self.accepted = os.path.join(run_dir, "accepted")
        self.ckpt = os.path.join(run_dir, "checkpoint")
        os.makedirs(self.source)
        self.admitted: dict[int, set[int]] = {}
        self.seen_files: set[str] = set()
        self.batch_s: list[float] = []
        self.windows: dict[int, tuple[float, float]] = {}  # epoch start and end of admit(k)
        self.stores_after: dict[int, tuple[int, int]] = {}  # (fp data files, sig data bytes)
        self.reports: list[tuple[int, object]] = []

    def admit(self, k: int) -> int:
        from solarpaneldatawrangler_spark.streaming.admission import streaming_admission

        t0, epoch0 = time.perf_counter(), time.time()
        tmp = os.path.join(self.run_dir, f".batch-{k:05d}.parquet")
        pq.write_table(self.batches[k].table, tmp)
        os.rename(tmp, os.path.join(self.source, f"batch-{k:05d}.parquet"))
        with self.tracer.span("streaming.admission"):
            streaming_admission(
                self.spark,
                self.source,
                self.store,
                self.accepted,
                self.ckpt,
                schema=self.SCHEMA,
                n_buckets=self.N_BUCKETS,
                signature_store=self.sig_store,
            )
        self.batch_s.append(time.perf_counter() - t0)
        self.windows[k] = (epoch0, time.time())
        return self.BATCH_DOCS

    def curate(self, k: int) -> int:
        from solarpaneldatawrangler_spark.pipeline_text import curate_corpus

        docs = self.spark.read.schema(self.SCHEMA).parquet(self.source)
        with self.tracer.span("pipeline_text.build"):
            out, report = curate_corpus(
                docs,
                min_quality=0.3,
                language="en",
                transitive_near_dup=True,
                jaccard_threshold=0.7,
                max_repetition=0.3,
                dedup_paragraphs=True,
                with_report=True,
            )
        with self.tracer.span("pipeline_text.sink"):
            noop_sink(out)
        n = (k + 1) * self.BATCH_DOCS
        self.reports.append((n, report))
        self.last_out = out
        return n

    def after_admit(self, k: int) -> None:
        files = set(glob.glob(os.path.join(self.accepted, "*.parquet")))
        new = files - self.seen_files
        self.seen_files = files
        ids = set()
        for p in new:
            ids.update(pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist())
        self.admitted[k] = ids
        self.stores_after[k] = (len(data_files(self.store)), sum(map(os.path.getsize, data_files(self.sig_store))))
        leaked = ids & self.batches[k].exact_resubmits
        check(not leaked, f"text batch {k}: exact re-submissions admitted: {sorted(leaked)[:5]}")

    @staticmethod
    def rows_after(r) -> list[int]:
        return [
            r.n_input, r.n_after_exact_dedup, r.n_after_near_dedup, r.n_after_paragraph,
            r.n_after_repetition, r.n_after_quality, r.n_after_language, r.n_output,
        ]

    def check(self):
        total = pq.read_table(self.accepted, columns=["doc_id"])["doc_id"].to_pylist()
        per_batch = sum(len(a) for a in self.admitted.values())
        check(len(total) == per_batch, f"text: {len(total)} admitted rows != {per_batch} summed over batches")
        check(len(set(total)) == len(total), "text: a document was admitted twice")
        check(per_batch > 0, "text: nothing admitted")
        check(bool(self.reports), "text: no curation ran")
        for n, r in self.reports:
            rows = self.rows_after(r)
            check(rows[0] == n, f"text: report input {rows[0]} != {n} landed docs")
            check(
                all(a >= b for a, b in zip(rows, rows[1:])),
                f"text: report counts increase along the chain: {rows}",
            )
            check(all(x > 0 for x in rows), f"text: a stage kept no rows: {rows}")
        # the survivors of the last curation: the landing directory has
        # not changed since it ran
        surv = self.last_out.select("doc_id", "text").toPandas()
        n_output = self.reports[-1][1].n_output
        check(len(surv) == n_output, f"text: {len(surv)} survivors, report says {n_output}")
        fps = [text_fingerprint(t) for t in surv["text"]]
        check(len(set(fps)) == len(fps), "text: two survivors share an exact fingerprint")

    def layer_metrics(self, log) -> dict[str, float]:
        """Admission and curation figures; the probe and store-write
        figures are those of the last admitted batch, from the SQL
        executions that ran while it was admitted."""
        admitted = sum(len(a) for a in self.admitted.values())
        k = max(self.windows)
        t0, t1 = self.windows[k]
        files_before, sig_bytes_before = self.stores_after.get(k - 1, (0, 0))
        probed_files = probed_sig_bytes = 0
        write_s = 0.0
        for ex in log.executions:
            if not t0 <= ex.start <= t1:
                continue
            probed_files += log.scanned(ex, self.store)[0]
            probed_sig_bytes += log.scanned(ex, self.sig_store)[1]
            if any(self.store in w or self.sig_store in w for w in ex.writes):
                write_s += ex.duration
        out = {
            "streaming.admitted_ratio": admitted / (len(self.admitted) * self.BATCH_DOCS),
            "dedup.fp_files_probed_ratio": probed_files / max(1, files_before),
            "dedup.sig_bytes_probed_ratio": probed_sig_bytes / max(1, sig_bytes_before),
            "dedup.store_write_s": write_s,
            "dedup.store_generations": float(
                len(glob.glob(os.path.join(self.store, "gen-*")))
                + len(glob.glob(os.path.join(self.sig_store, "gen-*")))
            ),
            "dedup.store_files": float(len(data_files(self.store)) + len(data_files(self.sig_store))),
            "durable_bytes_per_doc": (dir_bytes(self.store) + dir_bytes(self.sig_store))
            / max(1, admitted),
        }
        for k, s in enumerate(self.batch_s):
            out[f"streaming.batch_s.{k}"] = s
        rows = self.rows_after(self.reports[0][1])
        out.update({f"pipeline_text.rows_after.{s}": float(n) for s, n in zip(TEXT_STAGES, rows)})
        return out


WORKLOADS = {
    "geo_pipeline": GeoPipeline,
    "catalog_mix": CatalogMix,
}
