"""Independent answer checks, run outside the timed region.

Exact kNN is recomputed with numpy in float64 and ties are broken by
ascending id (the FIXTURES.md rule).  An engine answer counts as equal to
the oracle when every rank holds the oracle's id, or an id whose true
distance equals the oracle's distance at that rank within ``TIE_TOL``
(two ids that close are a tie up to float rounding, and the engine's
norm-expansion kernels round differently from a direct difference).
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import numpy as np

TIE_TOL = 1e-6
DIST_TOL = 1e-4  # packed ground truth stores float32 distances


def _prep(X, metric):
    X = np.asarray(X, dtype=np.float64)
    if metric == "angular":
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0] = 1.0
        X = X / n
    return X


def true_dist(X, Q, metric):
    """Direct (not norm-expanded) distance of each row of X to the query Q."""
    X = np.asarray(X, dtype=np.float64)
    q = np.asarray(Q, dtype=np.float64)
    if metric == "angular":
        return 1.0 - (_prep(X, metric) @ _prep(q[None, :], metric)[0])
    return np.sqrt(((X - q) ** 2).sum(axis=1))


def exact_topk(ids, X, Q, k, metric="euclidean", masks=None):
    """[(ids, dists)] per query row of Q; ``masks`` optionally restricts the
    eligible rows per query (a list of boolean arrays)."""
    ids = np.asarray(ids)
    Xp = _prep(X, metric)
    Qp = _prep(Q, metric)
    if metric == "angular":
        approx = 1.0 - Qp @ Xp.T
    else:
        approx = (Xp * Xp).sum(1)[None, :] - 2.0 * (Qp @ Xp.T) + (Qp * Qp).sum(1)[:, None]
    out = []
    for i in range(len(Qp)):
        row = approx[i]
        eligible = np.arange(len(ids)) if masks is None else np.flatnonzero(masks[i])
        kk = min(k, len(eligible))
        if kk == 0:
            out.append((ids[:0], np.zeros(0)))
            continue
        # widen the cut so rounding in the fast pass cannot drop a true
        # member; the survivors are re-scored exactly
        m = min(len(eligible), kk + 32)
        cand = eligible[np.argpartition(row[eligible], m - 1)[:m]]
        d = true_dist(X[cand], Q[i], metric)
        order = np.lexsort((ids[cand], d))[:kk]
        out.append((ids[cand[order]], d[order]))
    return out


def check_exact(got_ids, got_dists, want, id_to_row, X, q, metric, dist_tol=TIE_TOL):
    """'' when an exact answer matches the oracle, else the reason."""
    want_ids, want_d = want
    if len(got_ids) != len(want_ids):
        return f"{len(got_ids)} results, want {len(want_ids)}"
    if len(set(got_ids)) != len(got_ids):
        return "duplicate ids"
    rows = [id_to_row.get(int(i)) for i in got_ids]
    if any(r is None for r in rows):
        return "id not in the table"
    d = true_dist(X[rows], q, metric) if rows else np.zeros(0)
    for r in range(len(got_ids)):
        scale = max(1.0, abs(want_d[r]))
        if got_ids[r] != want_ids[r] and abs(d[r] - want_d[r]) > TIE_TOL * scale:
            return f"rank {r + 1}: id {got_ids[r]}, want {want_ids[r]}"
        if abs(got_dists[r] - d[r]) > dist_tol * max(1.0, abs(d[r])):
            return f"rank {r + 1}: dist {got_dists[r]}, true {d[r]}"
    return ""


def check_approx(got_ids, got_dists, k, id_to_row, X, q, metric):
    """'' when an ANN answer is well formed: 1..k distinct existing ids, each
    with its true distance, in (dist, id) order.  Fewer than k is legal: an
    IVF probe can reach cells holding fewer rows; recall counts the gap."""
    if not 1 <= len(got_ids) <= k:
        return f"{len(got_ids)} results, want 1..{k}"
    if len(set(got_ids)) != len(got_ids):
        return "duplicate ids"
    rows = [id_to_row.get(int(i)) for i in got_ids]
    if any(r is None for r in rows):
        return "id not in the table"
    d = true_dist(X[rows], q, metric)
    if np.any(np.abs(np.asarray(got_dists) - d) > TIE_TOL * np.maximum(1.0, np.abs(d))):
        return "distance differs from the true distance"
    if any((got_dists[i], got_ids[i]) > (got_dists[i + 1], got_ids[i + 1])
           for i in range(len(got_ids) - 1)):
        return "not in (dist, id) order"
    return ""


def recall(got_ids, want_ids) -> float:
    return len(set(map(int, got_ids)) & set(map(int, want_ids))) / max(1, len(want_ids))


class TableReplay:
    """numpy replay of a VectorTable op log: the state a snapshot must show."""

    def __init__(self, ids, X, labels):
        self.rows = {int(i): (X[j], int(labels[j])) for j, i in enumerate(ids)}
        self.max_id = int(max(ids)) if len(ids) else -1

    def insert(self, vec, label) -> int:
        self.max_id += 1
        self.rows[self.max_id] = (vec, label)
        return self.max_id

    def update(self, i, vec, label) -> None:
        self.rows[i] = (vec, label)

    def delete(self, i) -> None:
        del self.rows[i]

    def arrays(self):
        ids = np.fromiter(self.rows, dtype=np.int64, count=len(self.rows))
        X = np.stack([self.rows[i][0] for i in ids])
        labels = np.fromiter((self.rows[i][1] for i in ids), dtype=np.int64, count=len(ids))
        return ids, X, labels


# ------------------------------------------------------------ declared mix

def normalize(rows, cols):
    """Sorted value tuples, floats rounded to 6 dp — the comparison the
    repository's own oracle sweep applies to Spark vs DuckDB rows."""
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = round(v, 6) + 0.0
            elif v is not None and type(v).__module__ == "decimal":
                v = round(float(v), 6) + 0.0
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, list):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def dedup_components_rows(texts: dict[int, str], threshold: float = 0.5):
    """(id, component_id) for every document in a 3-gram Jaccard >= threshold
    pair, component_id = smallest id reachable — the semantics of the
    dedup_components oracle SQL, computed with prefix-filtered candidate
    pairs and union-find instead of DuckDB's all-pairs recursive CTE (which
    is quadratic in documents and takes about a minute at 1000 documents)."""
    sh = {}
    for did, text in texts.items():
        tk = [w for w in re.split(r"\s+", text.strip().lower()) if w]
        if len(tk) >= 3:
            sh[did] = frozenset(" ".join(tk[i:i + 3]) for i in range(len(tk) - 2))
    freq = defaultdict(int)
    for s in sh.values():
        for g in s:
            freq[g] += 1
    inv = defaultdict(list)
    cands = set()
    for did in sorted(sh):
        ordered = sorted(sh[did], key=lambda g: (freq[g], g))
        for g in ordered[:len(ordered) - math.ceil(threshold * len(ordered)) + 1]:
            cands.update((o, did) for o in inv[g])
            inv[g].append(did)
    parent: dict[int, int] = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    members = set()
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        if inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
            members.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return [{"id": i, "component_id": find(i)} for i in sorted(members)]
