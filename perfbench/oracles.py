"""Numpy oracles for the benchmark's output checks.

They are written from the engine's documented semantics, not from its code,
and run on collected tables after the timed part of each cycle. A check
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _grid_xy(lat: np.ndarray, lng: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    x = np.clip(np.floor((lng + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return x, y


def expected_tree(lat: np.ndarray, lng: np.ndarray, res_ladder: tuple[int, ...]) -> dict:
    """Node counts per level and edge/link totals of a tile tree over spans at
    (lat, lng): level L groups the spans by their grid cell at
    ``res_ladder[L]``; a level with one group is the root and ends the
    ladder; a level that fails to shrink collapses into one group."""
    x0, y0 = _grid_xy(np.asarray(lat, float), np.asarray(lng, float), res_ladder[0])
    n_spans = len(x0)
    levels, edges, n_cur = [n_spans], 0, n_spans
    for res in res_ladder[1:]:
        if n_cur <= 1:
            break
        shift = res_ladder[0] - res
        groups = len(np.unique((y0 >> shift) * (1 << res) + (x0 >> shift)))
        if groups >= n_cur:
            groups = 1
        edges += n_cur
        levels.append(groups)
        n_cur = groups if groups > 1 else 0
    return {
        "level_counts": levels,
        "edges": edges,
        # every chunk is linked once from the one node that holds it per level
        "links": n_spans * len(levels),
    }


def cosine_dist(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    mat = np.asarray(mat, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    return 1.0 - (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))


def _top(df: pd.DataFrame, id_col: str, k: int) -> pd.DataFrame:
    df = df.assign(dkey=df["dist"].round(9))
    return df.sort_values(["dkey", id_col], kind="stable").head(k)


class TreeOracle:
    """Collapsed and traversal retrieval over collected tree tables.

    ``nodes``: node_id, dataset_id, level, kind, v; ``edges``: parent_id,
    child_id; ``links``: node_id, chunk_id; ``chunks``: chunk_id, v.
    """

    def __init__(self, nodes, edges, links, chunks):
        self.nodes, self.edges, self.links, self.chunks = nodes, edges, links, chunks
        self.node_v = np.stack(nodes["v"].to_numpy())
        self.chunk_v = np.stack(chunks["v"].to_numpy())

    def _gather(self, node_ids, q, top_k):
        linked = self.links.loc[self.links["node_id"].isin(node_ids), "chunk_id"].unique()
        mask = self.chunks["chunk_id"].isin(linked).to_numpy()
        cand = pd.DataFrame(
            {"chunk_id": self.chunks["chunk_id"].to_numpy()[mask], "dist": cosine_dist(self.chunk_v[mask], q)}
        )
        return _top(cand, "chunk_id", top_k)

    def collapsed(self, q, dataset_id, top_k, expand_k):
        mask = ((self.nodes["dataset_id"] == dataset_id) & self.nodes["kind"].isin(["summary", "root"])).to_numpy()
        cand = pd.DataFrame(
            {"node_id": self.nodes["node_id"].to_numpy()[mask], "dist": cosine_dist(self.node_v[mask], q)}
        )
        return self._gather(_top(cand, "node_id", expand_k)["node_id"], q, top_k)

    def traversal(self, q, dataset_id, top_k):
        roots = self.nodes[(self.nodes["dataset_id"] == dataset_id) & (self.nodes["kind"] == "root")]
        if roots.empty:
            return self._gather([], q, top_k)
        frontier = [roots["node_id"].max()]
        pos = pd.Series(np.arange(len(self.nodes)), index=self.nodes["node_id"].to_numpy())
        while True:
            kids = self.edges.loc[self.edges["parent_id"].isin(frontier), "child_id"].to_numpy()
            if len(kids) == 0:
                break
            idx = pos.loc[kids].to_numpy()
            cand = pd.DataFrame(
                {
                    "node_id": kids,
                    "kind": self.nodes["kind"].to_numpy()[idx],
                    "dist": cosine_dist(self.node_v[idx], q),
                }
            )
            cand = _top(cand, "node_id", top_k)
            frontier = cand["node_id"].tolist()
            if (cand["kind"] == "leaf").all():
                break
        return self._gather(frontier, q, top_k)


def check_ranked(got: list[tuple[str, float]], exp: pd.DataFrame) -> list[str]:
    ids = [g[0] for g in got]
    if ids != exp["chunk_id"].tolist():
        return [f"ranked ids differ: got {ids[:3]}... expected {exp['chunk_id'].tolist()[:3]}..."]
    if not np.allclose([g[1] for g in got], exp["dist"].to_numpy(), rtol=1e-9, atol=1e-12):
        return ["ranked distances differ"]
    return []


def points_in_polygon(lat: np.ndarray, lng: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Even-odd ray cast along +lng from each point; ``poly`` is (M, 2) lat/lng."""
    inside = np.zeros(len(lat), dtype=bool)
    for (alat, alng), (blat, blng) in zip(poly, np.roll(poly, 1, axis=0)):
        straddles = (alat > lat) != (blat > lat)
        if not straddles.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            cross_lng = alng + (lat - alat) * (blng - alng) / (blat - alat)
        inside ^= straddles & (lng < cross_lng)
    return inside


def check_knn(rows: list[tuple[str, str, float]], qmap: dict, index_ids, index_v, k: int):
    """Each query gets ``k`` rows whose distances are the exact cosine
    distances of the returned ids. Returns (problems, recall hits, recall
    slots) where recall is measured against an exact scan of the index."""
    problems, hits, slots = [], 0, 0
    pos = {cid: i for i, cid in enumerate(index_ids)}
    by_q: dict[str, list[tuple[str, float]]] = {}
    for qid, cid, dist in rows:
        by_q.setdefault(qid, []).append((cid, dist))
    for qid, q in qmap.items():
        got = by_q.get(qid, [])
        if len(got) != min(k, len(index_ids)):
            problems.append(f"query {qid}: {len(got)} rows, expected {k}")
            continue
        idx = np.array([pos.get(cid, -1) for cid, _ in got])
        if (idx < 0).any():
            problems.append(f"query {qid}: id not in index")
            continue
        exact = cosine_dist(index_v[idx], q)
        if not np.allclose([d for _, d in got], exact, rtol=1e-9, atol=1e-9):
            problems.append(f"query {qid}: distances are not exact")
        best = np.argsort(cosine_dist(index_v, q), kind="stable")[:k]
        hits += len({index_ids[i] for i in best} & {cid for cid, _ in got})
        slots += k
    return problems, hits, slots
