"""Seeded benchmark inputs: documents, query vectors and polygons.

The generator belongs to the benchmark, not to the engine, so a change to the
engine's own ``datagen`` cannot change the workload. Everything is a pure
function of ``(seed, sizes)``. Documents follow the engine's input schema
(``doc_id, dataset_id, spans array<struct<kind,text,media_ref,offset>>, lat,
lng``) and are written to parquet with pyarrow, so no Spark job runs while
inputs are made. Geography is hotspot-skewed: a share of documents cluster
around a few metro centres, the rest are uniform, so grid cells are unevenly
loaded the way real corpora are.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATASET_ID = "ds-bench"
DIM = 64  # the engine's default embedding width (schema.N_DIM)

WORDS = (
    "grid tile span raptor summary vector cosine polygon shard atlas basin "
    "cedar delta ember flint grove harbor inlet juniper knoll lagoon mesa "
    "north orbit prairie quarry ridge summit terrace upland vale willow "
    "yonder zephyr anchor beacon cairn dune estuary fjord glacier"
).split()
TEXT_KINDS = ("text", "header", "code", "list", "quote")
MEDIA_KINDS = ("table", "image")
HOTSPOTS = np.array(
    [(40.7, -74.0), (51.5, -0.1), (35.7, 139.7), (-33.9, 151.2), (37.8, -122.4)]
)

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("media_ref", pa.string(), nullable=False),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
DOC_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("dataset_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.field("item", SPAN_TYPE, nullable=False)), nullable=False),
        pa.field("lat", pa.float64(), nullable=False),
        pa.field("lng", pa.float64(), nullable=False),
    ]
)

# stream ids keep the corpus, each query family and the polygons on
# independent random streams of the same seed
_CORPUS, _QUERY, _POLY = 1, 2, 3
HOT_SHARE = 0.6  # share of documents placed around a hotspot


def _docs(seed: int, n_docs: int) -> pa.Table:
    """8-20 spans per document; 15% of spans are media (empty text, a
    ``media_ref`` and an opaque payload length), the rest 5-39 random words."""
    rng = np.random.default_rng([seed, _CORPUS])
    prefix = f"d{seed}"
    hot = rng.random(n_docs) < HOT_SHARE
    centre = HOTSPOTS[rng.integers(0, len(HOTSPOTS), n_docs)]
    lat = np.where(hot, centre[:, 0] + rng.normal(0, 0.5, n_docs), rng.uniform(-85, 85, n_docs))
    lng = np.where(hot, centre[:, 1] + rng.normal(0, 0.5, n_docs), rng.uniform(-179.9, 179.9, n_docs))

    per_doc = rng.integers(8, 21, n_docs)
    n = int(per_doc.sum())
    doc_of = np.repeat(np.arange(n_docs), per_doc)
    first = np.repeat(np.cumsum(per_doc) - per_doc, per_doc)
    pos = np.arange(n) - first  # span position inside its document
    media = rng.random(n) < 0.15
    kinds = np.where(
        media,
        np.array(MEDIA_KINDS, dtype=object)[rng.integers(0, len(MEDIA_KINDS), n)],
        np.array(TEXT_KINDS, dtype=object)[rng.integers(0, len(TEXT_KINDS), n)],
    )
    n_words = np.where(media, 0, rng.integers(5, 40, n))
    words = np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, n_words)]
    doc_ids = [f"{prefix}-{i:06d}" for i in range(n_docs)]
    media_refs = [f"media://{doc_ids[d]}/{j}" if m else "" for d, j, m in zip(doc_of, pos, media)]
    length = np.where(media, rng.integers(64, 4096, n), [len(t) for t in texts]) + 1
    offset = np.cumsum(length) - length
    offset -= np.repeat(offset[np.cumsum(per_doc) - per_doc], per_doc)  # restart per document

    spans = pa.StructArray.from_arrays(
        [pa.array(kinds, pa.string()), pa.array(texts, pa.string()), pa.array(media_refs, pa.string()),
         pa.array(offset, pa.int32())],
        fields=list(SPAN_TYPE),
    )
    list_offsets = pa.array(np.concatenate([[0], np.cumsum(per_doc)]), pa.int32())
    return pa.table(
        {
            "doc_id": doc_ids,
            "dataset_id": [DATASET_ID] * n_docs,
            "spans": pa.ListArray.from_arrays(list_offsets, spans, type=DOC_SCHEMA.field("spans").type),
            "lat": np.clip(lat, -89.9, 89.9),
            "lng": np.clip(lng, -179.9, 179.9),
        },
        schema=DOC_SCHEMA,
    )


def write_corpus(path: str, seed: int, n_docs: int) -> tuple[int, int]:
    """The document corpus as parquet. Returns (spans, bytes)."""
    table = _docs(seed, n_docs)
    pq.write_table(table, path)
    return len(table.column("spans").combine_chunks().flatten()), os.path.getsize(path)


def span_points(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lng) of every span of a written batch: each span sits at its
    document's location."""
    t = pq.read_table(path, columns=["spans", "lat", "lng"])
    per_doc = t.column("spans").combine_chunks().value_lengths().to_numpy()
    return (
        np.repeat(t.column("lat").to_numpy(), per_doc),
        np.repeat(t.column("lng").to_numpy(), per_doc),
    )


def query_vectors(seed: int, family: int, n: int) -> np.ndarray:
    """L2-normalised query vectors of width DIM."""
    v = np.random.default_rng([seed, _QUERY, family]).normal(size=(n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def polygons(seed: int, n: int) -> list[np.ndarray]:
    """Star-shaped simple polygons as (M, 2) (lat, lng) vertex arrays.

    Even-numbered polygons sit on a hotspot with a 0.3-1.5 degree radius, so
    the point-in-polygon join returns hits; odd ones are centred uniformly
    with a 2-8 degree radius and mostly cover sparse ground.
    """
    rng = np.random.default_rng([seed, _POLY])
    out = []
    for i in range(n):
        if i % 2 == 0:
            clat, clng = HOTSPOTS[int(rng.integers(0, len(HOTSPOTS)))] + rng.normal(0, 0.3, 2)
            r_lo, r_hi = 0.3, 1.5
        else:
            clat, clng = rng.uniform(-60, 60), rng.uniform(-150, 150)
            r_lo, r_hi = 2.0, 8.0
        k = int(rng.integers(3, 13))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(r_lo, r_hi, k)
        lat = np.clip(clat + rad * np.sin(ang), -89.0, 89.0)
        lng = np.clip(clng + rad * np.cos(ang), -179.9, 179.9)
        out.append(np.stack([lat, lng], axis=1))
    return out
