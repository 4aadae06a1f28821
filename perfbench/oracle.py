"""Answer oracles for the benchmark's correctness checks.

Plain numpy, independent of `kdtree_spark`: they see only the
generated point arrays. Every check runs outside the timed region and
returns the number of wrong answers.
"""

from __future__ import annotations

import numpy as np


class XSorted:
    """Points sorted by x: a strip [x0, x1] is a contiguous slice, which
    is all the exact kNN and box oracles below need."""

    def __init__(self, ids: np.ndarray, pts: np.ndarray):
        order = np.argsort(pts[:, 0], kind="stable")
        self.ids = ids[order]
        self.x = pts[order, 0]
        self.y = pts[order, 1]

    def __len__(self) -> int:
        return len(self.ids)

    def _strip(self, x0: int, x1: int) -> slice:
        return slice(int(np.searchsorted(self.x, x0, "left")),
                     int(np.searchsorted(self.x, x1, "right")))

    def knn(self, q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, dist²) of the k nearest points to q, ordered by
        (dist², id). A strip of half-width R holds every point within
        R of q, so the answer is final once the strip's kth dist² is
        <= R²; otherwise R doubles."""
        r = 1024
        while True:
            s = self._strip(q[0] - r, q[0] + r)
            dx = self.x[s] - q[0]
            dy = self.y[s] - q[1]
            d2 = dx * dx + dy * dy
            if (len(d2) >= k and np.partition(d2, k - 1)[k - 1] <= r * r) \
                    or s.stop - s.start == len(self):
                o = np.lexsort((self.ids[s], d2))[:k]
                return self.ids[s][o], d2[o]
            r *= 2

    def box(self, b: np.ndarray) -> np.ndarray:
        """Sorted ids inside the inclusive box (xlo, ylo, xhi, yhi)."""
        s = self._strip(b[0], b[2])
        y = self.y[s]
        return np.sort(self.ids[s][(y >= b[1]) & (y <= b[3])])


def check_knn(got, oracle: XSorted, qids: np.ndarray, qpts: np.ndarray,
              k: int) -> int:
    """got: pandas (qid, rank, nid, dist_sq) of the engine's kNN join,
    restricted to the sampled qids. -> number of wrong queries."""
    bad = 0
    by_q = {q: g.sort_values("rank") for q, g in got.groupby("qid")}
    for qid, q in zip(qids, qpts):
        want_ids, want_d2 = oracle.knn(q, k)
        g = by_q.get(int(qid))
        if (g is None or len(g) != len(want_ids)
                or not np.array_equal(g["nid"].to_numpy(np.int64), want_ids)
                or not np.array_equal(g["dist_sq"].to_numpy(np.int64),
                                      want_d2)):
            bad += 1
    return bad


def check_counts(got: dict, oracle: XSorted, bx: np.ndarray) -> int:
    """got: box_id -> count. bx: sampled (box_id, xlo, ylo, xhi, yhi)."""
    return sum(int(got.get(int(b[0]), -1)) != len(oracle.box(b[1:]))
               for b in bx)


def check_report(got, oracle: XSorted, bx: np.ndarray) -> int:
    """got: pandas (box_id, pid, ...) restricted to the sampled boxes."""
    by_b = {b: np.sort(g["pid"].to_numpy(np.int64))
            for b, g in got.groupby("box_id")}
    bad = 0
    for b in bx:
        want = oracle.box(b[1:])
        have = by_b.get(int(b[0]), np.empty(0, np.int64))
        bad += not np.array_equal(have, want)
    return bad


def eps_pairs(ids: np.ndarray, pts: np.ndarray, eps: int) -> np.ndarray:
    """All ordered (a, b) id pairs with dist² <= eps², self-pairs
    included. Points sort by their cell on an eps-wide grid; each point
    meets the points of its 3 x 3 cell block, found by binary search."""
    e = int(eps)
    c = pts // e
    g = int(c.max()) + 3
    key = (c[:, 0] + 1) * g + (c[:, 1] + 1)
    order = np.argsort(key, kind="stable")
    skey, spts, sids = key[order], pts[order], ids[order]
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            want = skey + dx * g + dy
            lo = np.searchsorted(skey, want, "left")
            hi = np.searchsorted(skey, want, "right")
            n = hi - lo
            a = np.repeat(np.arange(len(skey)), n)
            b = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n) \
                + np.repeat(lo, n)
            d = spts[a] - spts[b]
            hit = (d * d).sum(axis=1) <= e * e
            out.append(np.stack([sids[a[hit]], sids[b[hit]]], axis=1))
    return np.concatenate(out)


def pair_digest(a: np.ndarray, b: np.ndarray) -> tuple[int, int]:
    """(count, checksum) of a pair list; the same formula runs in Spark."""
    return len(a), int(((a * 1_000_003 + b) % 1_000_000_007).sum())


def _components(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Min-index label of each node's connected component (hook to the
    smaller label, then pointer-jump until nothing changes)."""
    lab = np.arange(n)
    while True:
        m = np.minimum(lab[u], lab[v])
        new = lab.copy()
        np.minimum.at(new, lab[u], m)
        np.minimum.at(new, lab[v], m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def dbscan(ids: np.ndarray, pairs: np.ndarray, min_pts: int):
    """Deterministic DBSCAN with the engine's documented semantics:
    |N_eps(p)| counts p; core iff >= min_pts neighbours; cluster label =
    smallest core pid of its core component; a border point takes the
    smallest label among its core neighbours; the rest are noise.
    -> (sorted pids, cluster per pid with -1 for noise, kind per pid
    0/1/2 = core/border/noise)."""
    sid = np.sort(ids)
    n = len(sid)
    # node index = rank of the pid, so a min-index label is a min pid
    a = np.searchsorted(sid, pairs[:, 0])
    b = np.searchsorted(sid, pairs[:, 1])
    core = np.bincount(a, minlength=n) >= min_pts
    cc = core[a] & core[b]
    lab = _components(n, a[cc], b[cc])
    cluster = np.full(n, -1, np.int64)
    cluster[core] = sid[lab[core]]
    # border: non-core with a core neighbour -> min neighbour label
    bm = core[a] & ~core[b]
    none = np.iinfo(np.int64).max
    blab = np.full(n, none)
    np.minimum.at(blab, b[bm], cluster[a[bm]])
    border = ~core & (blab != none)
    cluster[border] = blab[border]
    kind = np.where(core, 0, np.where(border, 1, 2))
    return sid, cluster, kind
