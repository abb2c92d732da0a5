"""The benchmark's workloads: ``build`` and ``serve``.

Both are closed loops with one client: the next operation starts when the
previous one has returned. Only the engine's public functions are called.
A timed region ends when its result is on the driver (``collect``) or
committed to storage. Output checks run outside timed regions.

build
    One cycle is the cold write path into a fresh catalog and index
    directory: explode documents into spans, grid-encode every span, embed
    the spans into the catalog's ``chunks`` table, checkpointed tile-tree
    build, ANN index build and write. No query runs.
serve
    Set-up builds the served state once (tile tree committed to a catalog,
    ``chunks`` table, ANN index and its cell histogram). One cycle issues the
    five query operations -- collapsed retrieval, traversal retrieval,
    single-query kNN, a 64-query kNN batch and a single-polygon
    point-in-polygon join -- once each, in a seeded order. Nothing is written.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

import inputs
import oracles
from procfs import tree_cpu_s
from raptor_service_spark.functions.vector import embed_spans
from raptor_service_spark.geo.grid import cell_encode_col, cell_parent_col
from raptor_service_spark.io.catalog import SnapshotCatalog
from raptor_service_spark.operators.chunking import explode_spans
from raptor_service_spark.operators.knn import build_ann_index, grid_knn_multi, write_ann_index
from raptor_service_spark.operators.pip_join import point_in_polygon_join
from raptor_service_spark.operators.retrieval import (
    collapsed_retrieve,
    gather_leaf_chunks,
    search_summary_nodes,
    traversal_retrieve,
)
from raptor_service_spark.operators.tree import (
    TileTree,
    TreeParams,
    build_tile_tree,
    build_tile_tree_checkpointed,
)
from tracing import TracedCatalog

CORPUS_DOCS = 1000
BATCH_QUERIES = 64
POOL = 512  # queries and polygons drawn per run; cycle c uses entry c % POOL, warm-up the last ones
WARMUP_ROUNDS = 4  # untimed serve rounds before the loop
TOP_K = 10  # kNN results per query
RETRIEVE_K, EXPAND_K = 8, 5  # collapsed/traversal defaults of the engine
SERVE_KINDS = ("collapsed", "traversal", "knn", "knn_batch", "pip")
SERVE_LAYER = {"collapsed": "retrieval", "traversal": "retrieval", "knn": "knn", "knn_batch": "knn", "pip": "pip_join"}
CHUNK_COLS = ("doc_id", "dataset_id", "idx", "chunk_id", "text", "lat", "lng", "v")


class Workload:
    """Shared bookkeeping (op timings, failures, counts) and the write path."""

    def __init__(self, spark, tracer, scratch: str, seed: int):
        self.spark, self.tracer, self.scratch, self.seed = spark, tracer, scratch, seed
        self.params = TreeParams()
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.cpu_samples: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.info: dict[str, float] = {}

    def op(self, kind: str, fn):
        """Run one timed operation, recording its wall time and the CPU time
        the process tree spent meanwhile; a raise counts as a failed op."""
        self.attempted += 1
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        self.cpu_samples.setdefault(kind, []).append(tree_cpu_s(os.getpid()) - c0)
        return out

    def fail(self, kind: str, problems: list[str]) -> None:
        """A failed output check marks its (already counted) op as failed."""
        if problems:
            self.failed += 1
            print(f"check failed [{kind}]: {problems[:3]}", file=sys.stderr)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def cycle_s(self) -> float:
        """Wall time of one cycle: the sum over the cycle's op kinds of each
        kind's median latency."""
        return sum(statistics.median(v) for v in self.samples.values())

    def cycle_cpu_s(self) -> float:
        """CPU time of one cycle: the sum over the cycle's op kinds of each
        kind's median CPU seconds."""
        return sum(statistics.median(v) for v in self.cpu_samples.values())

    def write_corpus(self) -> str:
        path = os.path.join(self.scratch, "corpus.parquet")
        n_spans, n_bytes = inputs.write_corpus(path, self.seed, CORPUS_DOCS)
        self.info.update(docs=CORPUS_DOCS, spans=n_spans, input_bytes=n_bytes)
        self.points = inputs.span_points(path)
        return path

    def catalog(self, root: str) -> SnapshotCatalog:
        if self.tracer.enabled:
            return TracedCatalog(root, self.spark, self.tracer)
        return SnapshotCatalog(root, self.spark)

    def explode(self, docs_path: str):
        with self.tracer.span("chunking.explode_spans"):
            spans = explode_spans(self.spark.read.parquet(docs_path)).persist()
            spans.count()
        return spans

    def embed(self, spans, cat):
        """Embed spans and commit them to the catalog's ``chunks`` table."""
        with self.tracer.span("vector.embed_spans"):
            emb = embed_spans(spans).select(*CHUNK_COLS).persist()
            emb.count()
            cat.append("chunks", emb)
        return emb

    def index(self, spans, path: str) -> None:
        with self.tracer.span("knn.build_ann_index"):
            write_ann_index(build_ann_index(spans, id_col="chunk_id"), path)

    def check_tree(self, kind: str, tree: TileTree, index_path: str) -> None:
        """Node counts per level, edge total, links per level, exactly one
        level-0 link per chunk and the index row count, against the oracle
        over the generated spans."""
        lat, lng = self.points
        exp = oracles.expected_tree(lat, lng, self.params.res_ladder)
        nodes = dict(tree.nodes.groupBy("level").count().collect())
        links = dict(tree.links.groupBy("level").count().collect())
        problems = []
        if [nodes.get(i, 0) for i in range(max(nodes) + 1)] != exp["level_counts"]:
            problems.append(f"node counts {sorted(nodes.items())} != {exp['level_counts']}")
        if (n := tree.edges.count()) != exp["edges"]:
            problems.append(f"edges {n} != {exp['edges']}")
        if [links.get(i, 0) for i in range(max(links) + 1)] != [len(lat)] * len(exp["level_counts"]):
            problems.append(f"links per level {sorted(links.items())}, expected {len(lat)} each")
        if tree.links.filter("level = 0").groupBy("chunk_id").count().filter("count != 1").count():
            problems.append("a chunk has more than one level-0 link")
        if (n := self.spark.read.parquet(index_path).count()) != len(lat):
            problems.append(f"index rows {n} != {len(lat)}")
        self.fail(kind, problems)


class Build(Workload):
    def setup(self) -> None:
        self.corpus = self.write_corpus()

    def cycle(self, c: int) -> None:
        root = os.path.join(self.scratch, f"cycle{c}")
        tree = self.op("build", lambda: self._build(root))
        if tree is not None:
            self.check_tree("build", tree, os.path.join(root, "index"))

    def _build(self, root: str) -> TileTree:
        """The four build steps into a fresh catalog and index under ``root``."""
        cat = self.catalog(os.path.join(root, "catalog"))
        spans = self.explode(self.corpus)
        with self.tracer.span("grid.cell_encode"):
            res = self.params.res_ladder[0]
            cell = cell_encode_col(F.col("lat"), F.col("lng"), res)
            spans.select(cell_parent_col(cell, res, 4).alias("c")).agg(F.count("*"), F.max("c")).collect()
        emb = self.embed(spans, cat)
        with self.tracer.span("tree.build_tile_tree_checkpointed") as rec:
            tree = build_tile_tree_checkpointed(cat.read("chunks"), self.params, catalog=cat, resume=False)
            rec["levels"] = tree.levels + 1
        self.index(spans, os.path.join(root, "index"))
        emb.unpersist()
        spans.unpersist()
        return tree

    def report(self) -> dict[str, tuple[float, str, int]]:
        builds = self.samples.get("build", [])
        return {"build_spans_per_s": (self.info["spans"] / statistics.median(builds), "1/s", len(builds))} if builds else {}


class Serve(Workload):
    def setup(self) -> None:
        corpus = self.write_corpus()
        # the served state is built once without checkpoints, then committed
        # to the catalog, so every query reads catalog tables
        cat = self.catalog(os.path.join(self.scratch, "catalog"))
        self.index_path = os.path.join(self.scratch, "index")
        spans = self.explode(corpus)
        emb = self.embed(spans, cat)
        with self.tracer.span("tree.build_tile_tree") as rec:
            built = build_tile_tree(emb, self.params)
            rec["levels"] = built.levels + 1
        for table in ("nodes", "edges", "links"):
            cat.append(f"tree_{table}", getattr(built, table))
        self.tree = TileTree(
            nodes=cat.read("tree_nodes"), edges=cat.read("tree_edges"), links=cat.read("tree_links"), levels=built.levels
        )
        self.index(spans, self.index_path)
        emb.unpersist()
        spans.unpersist()
        chunks = cat.read("chunks")
        self.chunks = chunks.select("chunk_id", "doc_id", "idx", "text", "v")
        self.pip_points = chunks.select("chunk_id", "lat", "lng")
        self.ann = self.spark.read.parquet(self.index_path)
        with self.tracer.span("knn.cell_counts"):
            hist = self.ann.groupBy("ann_cell").agg(F.count("*").alias("cnt")).collect()
            self.cell_counts = {r["ann_cell"]: r["cnt"] for r in hist}
        self.order = np.random.default_rng([self.seed, 99])
        self.qvec = {k: inputs.query_vectors(self.seed, i, POOL) for i, k in enumerate(SERVE_KINDS)}
        self.batches = inputs.query_vectors(self.seed, len(SERVE_KINDS), POOL * BATCH_QUERIES)
        self.polys = inputs.polygons(self.seed, POOL)
        self.results: list[tuple[str, int, object]] = []
        # the first calls of each kind compile its query plans and the JIT
        # compiles the engine's hot paths; users of a running server do not
        # pay that, so untimed rounds run here
        for r in range(WARMUP_ROUNDS):
            for kind in SERVE_KINDS:
                self._query(kind, POOL - 1 - r)

    def cycle(self, c: int) -> None:
        i = c % POOL
        for kind in self.order.permutation(SERVE_KINDS):
            self.results.append((kind, i, self.op(kind, lambda: self._query(kind, i))))

    def _query(self, kind: str, i: int):
        """Query ``i`` of ``kind``, with its result collected to the driver."""
        with self.tracer.span(f"{SERVE_LAYER[kind]}.{kind}"):
            if kind == "collapsed":
                return self._collapsed(self.qvec[kind][i])
            if kind == "traversal":
                rows = traversal_retrieve(self.tree, self.chunks, self.qvec[kind][i], inputs.DATASET_ID, RETRIEVE_K)
                return [(r.chunk_id, r.dist) for r in rows.collect()]
            if kind in ("knn", "knn_batch"):
                qs = self._knn_queries(kind, i)
                rows = grid_knn_multi(self.ann, np.stack(list(qs.values())), list(qs), TOP_K, cell_counts=self.cell_counts)
                return [(r.qid, r.id, r.dist) for r in rows.collect()]
            rows = point_in_polygon_join(self.pip_points, {"p": self.polys[i]}).select("chunk_id").collect()
            return [r.chunk_id for r in rows]

    def _knn_queries(self, kind: str, i: int) -> dict[str, np.ndarray]:
        if kind == "knn":
            return {"q": self.qvec[kind][i]}
        return {f"q{j}": q for j, q in enumerate(self.batches[i * BATCH_QUERIES : (i + 1) * BATCH_QUERIES])}

    def _collapsed(self, q):
        """Collapsed retrieval; traced runs call its two public stages."""
        if not self.tracer.enabled:
            rows = collapsed_retrieve(self.tree, self.chunks, q, inputs.DATASET_ID, RETRIEVE_K, EXPAND_K).collect()
            return [(r.chunk_id, r.dist) for r in rows]
        with self.tracer.span("retrieval.search_summary_nodes"):
            picked = [r.node_id for r in search_summary_nodes(self.tree.nodes, q, inputs.DATASET_ID, EXPAND_K).collect()]
        with self.tracer.span("retrieval.gather_leaf_chunks"):
            rows = gather_leaf_chunks(self.tree.links, self.chunks, picked or ["__none__"], q, RETRIEVE_K).collect()
        return [(r.chunk_id, r.dist) for r in rows]

    def check(self) -> None:
        """Check the served state and every query result against oracles
        over the collected tables."""
        self.attempted += 1  # the served state counts as one op
        self.check_tree("setup", self.tree, self.index_path)
        oracle = oracles.TreeOracle(
            self.tree.nodes.select("node_id", "dataset_id", "level", "kind", "v").toPandas(),
            self.tree.edges.select("parent_id", "child_id").toPandas(),
            self.tree.links.select("node_id", "chunk_id").toPandas(),
            self.chunks.select("chunk_id", "v").toPandas(),
        )
        ann = self.ann.select("id", "v").toPandas()
        ann_ids = ann["id"].tolist()
        ann_v = np.frombuffer(b"".join(ann["v"]), dtype="<f4").reshape(len(ann), -1).astype(np.float64)
        pts = self.pip_points.toPandas()
        for kind, i, rows in self.results:
            if rows is None:
                continue
            if kind == "collapsed":
                exp = oracle.collapsed(self.qvec[kind][i], inputs.DATASET_ID, RETRIEVE_K, EXPAND_K)
            elif kind == "traversal":
                exp = oracle.traversal(self.qvec[kind][i], inputs.DATASET_ID, RETRIEVE_K)
            elif kind == "pip":
                inside = oracles.points_in_polygon(pts["lat"].to_numpy(), pts["lng"].to_numpy(), self.polys[i])
                exp = sorted(pts["chunk_id"].to_numpy()[inside])
                self.fail(kind, [] if sorted(rows) == exp else [f"pip hits {len(rows)} != {len(exp)}"])
                self.count("pip_join.hits", len(rows))
                continue
            else:
                problems, hits, slots = oracles.check_knn(rows, self._knn_queries(kind, i), ann_ids, ann_v, TOP_K)
                self.fail(kind, problems)
                self.count("knn.recall_hits", hits)
                self.count("knn.recall_slots", slots)
                self.count("knn.results", len(rows))
                continue
            self.fail(kind, oracles.check_ranked(rows, exp))
            self.count("retrieval.results", len(rows))

    def report(self) -> dict[str, tuple[float, str, int]]:
        out = {
            f"{k}_p50_s": (statistics.median(self.samples[k]), "s", len(self.samples[k]))
            for k in SERVE_KINDS
            if k in self.samples
        }
        pooled = [x for v in self.samples.values() for x in v]
        if len(pooled) > 1:
            out["serve_p90_s"] = (statistics.quantiles(pooled, n=10, method="inclusive")[-1], "s", len(pooled))
        return out


WORKLOADS = {"build": Build, "serve": Serve}
