"""Seeded inputs for the benchmark workloads.

Everything the engine receives is generated here from the workload seed:
the ``documents`` parquet table (the source of the ``pages`` table), the
polygon layer, the class breaks of the tile histogram and the order of the
declared queries. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np

# the vocabulary and language mix of the driver's generated documents table
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
N_SOURCES = 20

# the fixture region every generated polygon stays inside
REGION = (-125.0, 32.0, -113.0, 38.0)


def write_documents(path: str, n_docs: int, seed: int) -> str:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(8, 90, size=n_docs)
    words = rng.integers(0, len(_WORDS), size=int(n_words.sum()))
    vocab = np.array(_WORDS, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(n_docs)]
    lang = np.array(_LANGS, dtype=object)[rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)]
    doc_id = np.arange(n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return path


def zone_layer(seed: int):
    """The fixture polygon layer, translated and vertex-jittered by ``seed``.

    Shifts are small (a few hundredths of a degree) so the layer keeps its
    shape: two large zones meeting along a shared edge, the concave notch,
    and the small urban box over the hot page cluster. Shared vertices of
    the two large zones move together, so they still tile without a gap.
    Random offsets keep vertices off round lattice values.
    """
    from trefoil_spark.geometry import Polygon
    from trefoil_spark.sources.zones import ZONE_LAYER

    rng = np.random.default_rng([seed, 2])
    shift = rng.uniform(-0.05, 0.05, size=2)
    jitter: dict[tuple[float, float], np.ndarray] = {}
    out = []
    for poly in ZONE_LAYER:
        rings = []
        for ring in poly.rings:
            moved = []
            for x, y in ring.tolist():
                key = (x, y)
                if key not in jitter:
                    jitter[key] = rng.uniform(-0.02, 0.02, size=2)
                nx, ny = np.array([x, y]) + shift + jitter[key]
                nx = min(max(nx, REGION[0] + 0.01), REGION[2] - 0.01)
                ny = min(max(ny, REGION[1] + 0.01), REGION[3] - 0.01)
                moved.append((float(nx), float(ny)))
            rings.append(moved)
        out.append(Polygon(rings, value=poly.value))
    return out


def class_breaks(seed: int, n: int = 5) -> list[float]:
    """Equal-interval class breaks over a seed-shifted value range."""
    from trefoil_spark.raster.classify import equal_interval_breaks

    rng = np.random.default_rng([seed, 3])
    lo = float(rng.integers(0, 100))
    hi = float(rng.integers(900, 1000))
    return equal_interval_breaks(lo, hi, n)


def query_order(names: list[str], seed: int) -> list[str]:
    """The round-robin order of declared queries for one run."""
    rng = np.random.default_rng([seed, 4])
    return [names[i] for i in rng.permutation(len(names))]
