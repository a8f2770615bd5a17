"""The driver tier of the graph operators: one bounded Arrow collect,
one sorted id encoding, and numpy array rounds.

The reference's traffic is many small jobs over one small graph, where
Spark's fixed cost per job, not data, is the whole bill (Pregelix makes
the same point for dataflow supersteps).  A graph of at most
``ranking.LOCAL_MAX_EDGES`` edges (the one cap, read at call time) is
collected to the driver once, its ids encoded to int codes, and the
loops run as numpy rounds: ranking's power iterations
(operators/ranking.py) and, here, connected components, strongly
connected components, label propagation and k-core.  Every result is a
one-partition frame, so writing it is one job.

The encoding is in SORTED order — integers numerically, strings by their
UTF-8 bytes, Spark's own ordering — so the minimum code is the minimum
id: "component = minimum id" and label propagation's min-of-mode
tie-break read off the codes directly.  Null ids, mixed id types and
other id types stay on Spark.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession


def collect_bounded(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as an Arrow table, or None when it has more than ``cap``
    rows: one collect of at most ``cap + 1`` rows."""
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None


def encode_ids(cols: Sequence[pa.ChunkedArray]) -> tuple[pa.Array, list[np.ndarray]] | None:
    """Sorted dictionary encoding of id columns: ``(ids, codes)`` with
    ``ids`` ascending and distinct, and one code array per column such
    that ``ids[codes[i]]`` is ``cols[i]``.  None when the columns mix
    types, hold a null, or are neither integers nor strings."""
    types = {c.type for c in cols}
    if len(types) != 1 or any(c.null_count for c in cols):
        return None
    (t,) = types
    if not (pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t)):
        return None
    enc = pa.concat_arrays([c.combine_chunks() for c in cols]).dictionary_encode()
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    codes = rank[enc.indices.to_numpy()]
    bounds = np.cumsum([len(c) for c in cols])[:-1]
    return enc.dictionary.take(pa.array(order)), np.split(codes, bounds)


def frame(spark, table: pa.Table) -> DataFrame:
    """A driver-side result as a one-partition frame: sorting it plans
    no exchange and writing it is one job."""
    return spark.createDataFrame(table).coalesce(1)


class Pairs(NamedTuple):
    """A collected ``(a, b)`` pair list: ``ids[code]`` is an id, codes
    ascend with ids."""

    spark: SparkSession
    ids: pa.Array
    a: np.ndarray
    b: np.ndarray

    def frame(self, **cols: np.ndarray) -> DataFrame:
        """One-partition frame of code columns decoded to ids."""
        return frame(self.spark, pa.table({k: self.ids.take(pa.array(v)) for k, v in cols.items()}))

    def symmetric(self) -> "Pairs":
        """Both directions, self-pairs dropped, distinct — the local
        :func:`~bigdata_hits_spark.operators.graphalgs.symmetric_edges`."""
        n = len(self.ids)
        a, b = np.concatenate([self.a, self.b]), np.concatenate([self.b, self.a])
        off = a != b
        key = np.unique(a[off] * n + b[off])
        return self._replace(a=key // n, b=key % n)


def pinned_pairs(df: DataFrame, a: str, b: str) -> tuple[DataFrame, Pairs | None]:
    """``df``'s ``(a, b)`` columns pinned with a lazy ``localCheckpoint``,
    and the same pairs on the driver — None above
    ``ranking.LOCAL_MAX_EDGES`` rows or for ids the encoding refuses.
    The pin is written by the bounded collect, so a Spark-tier caller
    reading the pinned frame does not run the upstream plan again."""
    from bigdata_hits_spark.operators import ranking

    pinned = df.select(a, b).localCheckpoint(eager=False)
    table = collect_bounded(pinned, ranking.LOCAL_MAX_EDGES)
    enc = None if table is None else encode_ids(table.columns)
    if enc is None:
        return pinned, None
    ids, (ca, cb) = enc
    return pinned, Pairs(df.sparkSession, ids, ca, cb)


def _min_into(base: np.ndarray, at: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """``base`` with ``out[at[i]] = min(out[at[i]], vals[i])``."""
    out = base.copy()
    np.minimum.at(out, at, vals)
    return out


def min_label_components(p: Pairs, max_iter: int, escalate: bool) -> np.ndarray:
    """Component (minimum member code) of every code.  Min-label rounds
    over the symmetric pairs, counted like the Spark rounds: after
    ``max_iter`` rounds without a round that changes nothing, raise
    (``escalate=False``) or continue with pointer jumping (label of the
    label) to the same fixpoint."""
    src, dst = np.concatenate([p.a, p.b]), np.concatenate([p.b, p.a])
    label = np.arange(len(p.ids))
    for _ in range(max_iter):
        nxt = _min_into(label, dst, label[src])
        if not (nxt < label).any():
            return nxt
        label = nxt
    if not escalate:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    while True:
        nxt = _min_into(label, dst, label[src])
        nxt = nxt[nxt]
        if (nxt == label).all():
            return label
        label = nxt


def strong_components(p: Pairs, max_outer: int) -> np.ndarray:
    """SCC (minimum member code) of every code, by the Spark tier's
    phases on edge arrays: trim to fixpoint, forward min-coloring,
    backward mark from the color roots along intra-color edges, remove
    the marked SCCs, repeat (at most ``max_outer`` times)."""
    n = len(p.ids)
    key = np.unique(p.a * n + p.b)
    src, dst = key // n, key % n
    codes = np.arange(n)
    scc = codes.copy()
    alive = np.ones(n, dtype=bool)
    for _ in range(max_outer):
        if not alive.any():
            break
        while True:  # trim: keep edges between nodes with an in- and an out-edge
            core = np.zeros(n, dtype=bool)
            core[src] = True
            has_in = np.zeros(n, dtype=bool)
            has_in[dst] = True
            core &= has_in
            keep = core[src] & core[dst]
            if keep.all():
                break
            src, dst = src[keep], dst[keep]
        alive = np.zeros(n, dtype=bool)
        alive[src] = True  # trimmed nodes keep scc = own code
        if not alive.any():
            continue
        color = codes
        while True:
            nxt = _min_into(color, dst, color[src])
            if (nxt == color).all():
                break
            color = nxt
        intra = color[src] == color[dst]
        isrc, idst = src[intra], dst[intra]
        mark = alive & (color == codes)
        while True:
            nxt = mark.copy()
            nxt[isrc[mark[idst]]] = True
            if (nxt == mark).all():
                break
            mark = nxt
        scc[mark] = color[mark]
        alive &= ~mark
        keep = ~(mark[src] | mark[dst])
        src, dst = src[keep], dst[keep]
    else:
        if alive.any():
            raise RuntimeError(
                f"scc did not finish in {max_outer} outer rounds; "
                "the condensation DAG nests deeper than expected"
            )
    return scc


def label_propagation(p: Pairs, k: int) -> tuple[np.ndarray, np.ndarray]:
    """``(codes, labels)`` after ``k`` synchronous min-of-mode rounds over
    the (a, b) pairs as given: each round every ``a`` with a labeled
    neighbor ``b`` takes the smallest of its neighbors' most frequent
    labels (duplicate pairs count twice, as on Spark)."""
    n = len(p.ids)
    nodes = np.unique(p.a)
    label = np.arange(n)
    for _ in range(k):
        has = np.zeros(n, dtype=bool)
        has[nodes] = True
        hit = has[p.b]
        key, freq = np.unique(p.a[hit] * n + label[p.b[hit]], return_counts=True)
        node, lab = key // n, key % n
        order = np.lexsort((lab, -freq, node))  # per node: top frequency, then min label
        nodes, first = np.unique(node[order], return_index=True)
        label[nodes] = lab[order][first]
    return nodes, label[nodes]


def k_core(p: Pairs, k: int) -> np.ndarray:
    """Codes of the ``k``-core of the (a, b) pairs as given: simultaneous
    peeling — every node of degree (pair count as ``a``) below ``k``
    drops each round — to the fixpoint."""
    a, b = p.a, p.b
    while True:
        keep = np.bincount(a, minlength=len(p.ids)) >= k
        sel = keep[a] & keep[b]
        if sel.all():
            return np.unique(a)
        a, b = a[sel], b[sel]
