"""Output checks that never call the program's own code.

The saved index is read back with pyarrow (centroid table and the
list_id= directories of the postings), distances are recomputed in
numpy, and probe cells are ranked in numpy.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# Spark sums squared differences of float32 values in double, in a
# different order than numpy; the last few bits may differ.
DIST_RTOL = 1e-5
DIST_ATOL = 1e-6


class SavedIndex:
    """The layout `ivf_save` writes, read without the program."""

    def __init__(self, path: str):
        cents = pq.read_table(os.path.join(path, "centroids")).to_pydict()
        order = np.argsort(cents["list_id"])
        self.centroids = np.array(cents["centroid"], dtype=np.float64)[order]
        posts = ds.dataset(
            os.path.join(path, "postings"), format="parquet", partitioning="hive"
        ).to_table(columns=["vec_id", "list_id"])
        self.vec_ids = posts.column("vec_id").to_numpy()
        self.cell_of = posts.column("list_id").to_numpy().astype(np.int64)
        self.cell_sizes = np.bincount(self.cell_of, minlength=len(self.centroids))
        self.ntotal = len(self.vec_ids)

    def probe(self, q: np.ndarray, nprobe: int) -> np.ndarray:
        d = ((self.centroids - q.astype(np.float64)) ** 2).sum(axis=1)
        return np.lexsort((np.arange(len(d)), d))[:nprobe]


def sq_l2(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = x.astype(np.float64) - q.astype(np.float64)
    return (diff * diff).sum(axis=1)


def exact_topk(x: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    d = sq_l2(x, q)
    return ids[np.lexsort((ids, d))[:k]]


class VectorTable:
    """The corpus a search runs over, as numpy arrays keyed by vec_id."""

    def __init__(self, ids: np.ndarray, x: np.ndarray):
        self.ids = ids.astype(np.int64)
        self.x = x
        self.row_of = {int(v): i for i, v in enumerate(self.ids)}

    def rows(self, vec_ids) -> np.ndarray:
        return np.array([self.row_of[int(v)] for v in vec_ids], dtype=np.int64)


def check_search(
    result: list[tuple[int, float]],
    q: np.ndarray,
    k: int,
    nprobe: int,
    index: SavedIndex,
    table: VectorTable,
) -> str | None:
    """None when `result` is the exact top-k within the probed cells and
    every returned distance equals the numpy squared L2; else a reason."""
    if not result:
        return "empty result"
    got_ids = np.array([r[0] for r in result], dtype=np.int64)
    got_d = np.array([r[1] for r in result], dtype=np.float64)
    if len(set(got_ids.tolist())) != len(got_ids):
        return "duplicate ids in result"
    if any(int(v) not in table.row_of for v in got_ids):
        return "result id not in the corpus"
    true_d = sq_l2(table.x[table.rows(got_ids)], q)
    if not np.allclose(got_d, true_d, rtol=DIST_RTOL, atol=DIST_ATOL):
        return "returned distance differs from numpy squared L2"
    cells = index.probe(q, nprobe)
    cand = index.vec_ids[np.isin(index.cell_of, cells)]
    cand_d = sq_l2(table.x[table.rows(cand)], q)
    want_d = np.sort(cand_d)[: min(k, len(cand))]
    if len(got_d) != len(want_d):
        return f"{len(got_d)} results, expected {len(want_d)}"
    if not np.allclose(np.sort(got_d), want_d, rtol=DIST_RTOL, atol=DIST_ATOL):
        return "result is not the exact top-k of the probed cells"
    if not np.isin(got_ids, cand).all():
        return "result id outside the probed cells"
    return None


def recall_at_k(got_ids, q: np.ndarray, k: int, table: VectorTable) -> float:
    want = exact_topk(table.x, table.ids, q, k)
    return len(set(int(v) for v in got_ids) & set(want.tolist())) / k


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of the data files under `path`."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS markers, .crc checksums
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out
