"""The benchmark's own oracle: exact answers computed in NumPy / Python,
independent of the engine.

Search: squared-L2 top-k in float64 over the live rows passing the
query's §2.3 predicate (SURVEY.md §2.3: a missing attribute rejects the
row; ``substring`` is case-sensitive containment), ranked on (dist, id).

Dedup: exact word-3-gram shingle Jaccard over the normalised text (the
engine's ``shingles``: lower-case, whitespace runs collapsed, trimmed).
"""

from __future__ import annotations

import numpy as np

# Relative slack on the k-th distance. The store keeps float32 vectors,
# so an engine distance can differ from the float64 oracle in the last
# float32 digits; a returned row within this slack of the k-th oracle
# distance is a tie, not a miss.
DIST_RTOL = 1e-5


class Catalogue:
    """The live rows of a vector store, mirrored in NumPy and kept in
    step with every append / delete / upsert the benchmark issues."""

    def __init__(self, cols: dict):
        self.ids = cols["vec_id"].copy()
        self.vec = cols["embedding"].astype(np.float64)
        self.attrs = {a: cols[a].copy() for a in cols if a not in ("vec_id", "embedding")}
        self._pos = {int(i): p for p, i in enumerate(self.ids)}
        self.live = np.ones(len(self.ids), dtype=bool)

    def append(self, cols: dict) -> None:
        base = len(self.ids)
        self.ids = np.concatenate([self.ids, cols["vec_id"]])
        self.vec = np.vstack([self.vec, cols["embedding"].astype(np.float64)])
        for a in self.attrs:
            self.attrs[a] = np.concatenate([self.attrs[a], cols[a]])
        self.live = np.concatenate([self.live, np.ones(len(cols["vec_id"]), bool)])
        for j, i in enumerate(cols["vec_id"]):
            self._pos[int(i)] = base + j

    def delete(self, ids) -> None:
        for i in ids:
            self.live[self._pos[int(i)]] = False

    def upsert(self, cols: dict) -> None:
        self.delete(cols["vec_id"])
        self.append(cols)

    def n_live(self) -> int:
        return int(self.live.sum())

    def mask(self, predicates) -> np.ndarray:
        """Rows (live or not) passing the §2.3 conjunction."""
        m = np.ones(len(self.ids), dtype=bool)
        for attr, (op, value) in (predicates or {}).items():
            col = self.attrs[attr]
            if col.dtype == object:
                present = np.array([v is not None for v in col])
                vals = np.array([v if v is not None else "" for v in col], dtype=object)
                if op == "exact":
                    hit = vals == value
                elif op == "substring":
                    hit = np.array([value in v for v in vals])
                else:
                    raise ValueError(f"unsupported string op {op!r}")
            else:
                f = col.astype(np.float64)
                present = ~np.isnan(f) if col.dtype.kind == "f" else col >= 0
                with np.errstate(invalid="ignore"):
                    hit = {
                        "exact": f == value, "leq": f <= value, "geq": f >= value,
                        "<": f < value, ">": f > value,
                    }[op]
            m &= present & hit
        return m

    def topk(self, vec, predicates, k: int):
        """(ids, dists) of the exact top-k on (dist, id), plus the number
        of live rows passing the predicate."""
        m = self.live & self.mask(predicates)
        idx = np.flatnonzero(m)
        d = ((self.vec[idx] - np.asarray(vec, dtype=np.float64)) ** 2).sum(axis=1)
        order = np.lexsort((self.ids[idx], d))[:k]
        return self.ids[idx][order], d[order], len(idx)

    def check(self, vec, predicates, k: int, got_ids) -> tuple[bool, float, str]:
        """Verify one engine answer. Returns (ok, recall@k, reason).

        ok requires: min(k, passing) rows, distinct, each live and
        passing the predicate, in non-decreasing distance, and none
        farther than the oracle's k-th distance (within DIST_RTOL)."""
        want_ids, want_d, n_pass = self.topk(vec, predicates, k)
        got = [int(i) for i in got_ids]
        recall = (
            len(set(got) & set(want_ids.tolist())) / len(want_ids) if len(want_ids) else 1.0
        )
        if len(got) != min(k, n_pass):
            return False, recall, f"{len(got)} rows, want {min(k, n_pass)}"
        if len(set(got)) != len(got):
            return False, recall, "duplicate ids"
        ok_rows = self.live & self.mask(predicates)
        q = np.asarray(vec, dtype=np.float64)
        dists = []
        for i in got:
            p = self._pos.get(i)
            if p is None or not self.live[p]:
                return False, recall, f"id {i} is not live (deleted or unknown)"
            if not ok_rows[p]:
                return False, recall, f"id {i} fails the predicate"
            dists.append(float(((self.vec[p] - q) ** 2).sum()))
        if len(want_d):
            slack = DIST_RTOL * max(1.0, float(want_d[-1]))
            if max(dists) > want_d[-1] + slack:
                return False, recall, f"id at dist {max(dists)} beyond k-th {want_d[-1]}"
            if any(b < a - slack for a, b in zip(dists, dists[1:])):
                return False, recall, "rows out of distance order"
        return True, recall, ""


def normalize(text: str) -> str:
    return " ".join(text.lower().split())


def shingles(text: str, n: int = 3) -> frozenset:
    toks = normalize(text).split(" ")
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def exact_survivors(ids, texts) -> set:
    """ids kept by exact dedup: the minimum id per normalised text."""
    keep: dict[str, int] = {}
    for i, t in zip(ids, texts):
        key = normalize(t)
        if key not in keep or i < keep[key]:
            keep[key] = int(i)
    return set(keep.values())


def components(nodes, pairs) -> dict:
    """node -> smallest node id reachable through ``pairs`` (union-find)."""
    parent = {int(n): int(n) for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def planted_pairs(ids, texts, families, survivors, threshold: float) -> set:
    """Pairs of exact-dedup survivors from the same planted family whose
    true Jaccard reaches ``threshold`` — the pairs a near-dup detector
    at that threshold should find."""
    by_fam: dict[int, list[int]] = {}
    for i, f in zip(ids, families):
        if int(i) in survivors:
            by_fam.setdefault(int(f), []).append(int(i))
    sh = {int(i): shingles(t) for i, t in zip(ids, texts)}
    out = set()
    for members in by_fam.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if jaccard(sh[a], sh[b]) >= threshold:
                    out.add((min(a, b), max(a, b)))
    return out
