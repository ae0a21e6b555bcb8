"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs. The program under test only ever
receives what these functions return.

- ``corpus``: an ABO-shaped product catalogue (FIXTURES.md §1 coverage
  rates) as flat covering-index columns beside a clustered float32
  embedding, so the zone-map pruned arms of the router can fire.
- ``query_mix``: hybrid queries of the three selectivity classes
  (FIXTURES.md §3), each vector a perturbed catalogue row.
- ``churn_round``: one append / delete / upsert round of ``index_churn``.
- ``documents``: a text corpus with planted exact and near-duplicate
  clusters for ``dedup_batch``.
"""

from __future__ import annotations

import numpy as np

ATTRS = ("brand", "color", "item_weight", "model_year", "country")
MATCH_ATTRS = ("brand", "color", "country")  # per-shard value counts
NUMERIC_ATTRS = ("item_weight", "model_year")  # per-shard min/max

BRANDS = (
    "AmazonBasics", "Amazon Brand - Solimo", "Amazon Essentials", "Rivet",
    "Stone & Beam", "Pinzon", "Goodthreads", "Ravenna Home", "Presto!",
    "Find.", "Umi", "Daily Ritual",
)
COLORS = (
    "Multicolor", "multi-colored", "Black", "White", "Blue", "Red", "Grey",
    "Brown", "Green", "Silver",
)
# IN ≈41%, US ≈23%, then a long tail of 20 codes sharing the rest
_TAIL = (
    "GB", "DE", "IT", "FR", "ES", "JP", "CA", "AU", "MX", "BR", "NL", "SE",
    "PL", "TR", "AE", "SG", "CN", "KR", "BE", "IE",
)
COUNTRIES = ("IN", "US") + _TAIL
_COUNTRY_P = np.array([0.41, 0.23] + [0.36 / len(_TAIL)] * len(_TAIL))

# selectivity class of each query template, in the order query_mix
# cycles them (FIXTURES.md §3)
QUERY_CLASSES = (1, 2, 2, 3, 3)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so resizing one input
    # never shifts another's draws
    return np.random.default_rng([seed, sum(map(ord, stream))])


def corpus(seed: int, n: int, dim: int, n_clusters: int = 32, first_id: int = 0):
    """``n`` catalogue rows as a dict of NumPy columns.

    Vectors are a Gaussian mixture (one centre per cluster), so a
    clustered store has tight shard balls. Each cluster prefers one
    "house" brand and colour, which gives the per-shard zone maps
    something to skip, as category-correlated metadata does in ABO.
    """
    centres = _rng(seed, "corpus").normal(0.0, 3.0, (n_clusters, dim))
    # rows starting at another ``first_id`` are a fresh draw from the
    # same mixture, so later batches share the catalogue's clusters
    sub = np.random.default_rng([seed, first_id, n])
    cid = sub.integers(0, n_clusters, n)
    vec = (centres[cid] + sub.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    house_brand = cid % len(BRANDS)
    brand_idx = np.where(
        sub.random(n) < 0.6, house_brand, sub.integers(0, len(BRANDS), n)
    )
    color_idx = np.where(
        sub.random(n) < 0.5, cid % len(COLORS), sub.integers(0, len(COLORS), n)
    )
    brand = np.array(BRANDS, dtype=object)[brand_idx]
    brand[sub.random(n) >= 0.98] = None
    color = np.array(COLORS, dtype=object)[color_idx]
    color[sub.random(n) >= 0.73] = None
    weight = np.round(sub.lognormal(0.7, 0.9, n), 3)
    weight_present = sub.random(n) < 0.70
    year = sub.integers(2010, 2023, n)
    year_present = sub.random(n) < 0.03
    country = np.array(COUNTRIES, dtype=object)[
        sub.choice(len(COUNTRIES), n, p=_COUNTRY_P)
    ]
    return {
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": vec,
        "brand": brand,
        "color": color,
        "item_weight": np.where(weight_present, weight, np.nan),
        "model_year": np.where(year_present, year, -1),
        "country": country,
    }


def _template(cls_slot: int, r: np.random.Generator):
    if cls_slot == 0:
        return None
    if cls_slot == 1:
        return {
            "item_weight": ["<", float(r.choice([1.0, 2.0, 3.0]))],
            "brand": ["substring", "Amazon"],
        }
    if cls_slot == 2:
        return {
            "country": ["exact", str(r.choice(["IN", "US"]))],
            "brand": ["substring", "Amazon"],
        }
    if cls_slot == 3:
        return {"country": ["exact", str(r.choice(["US", "GB", "DE", "JP"]))]}
    return {
        "model_year": ["leq", int(r.choice([2016, 2018, 2020]))],
        "color": ["substring", "Multicolor"],
    }


def query_mix(seed: int, cat: dict, n: int, first_qid: int = 0, noise: float = 0.3):
    """``n`` hybrid queries ``(qid, vector, predicates, cls)``.

    Templates cycle through QUERY_CLASSES, so class 1 (no predicate) is
    a fifth of the mix and classes 2 and 3 two fifths each. Each vector
    is a random catalogue row plus Gaussian noise.
    """
    r = np.random.default_rng([seed, sum(map(ord, "queries")), first_qid])
    rows = r.integers(0, len(cat["vec_id"]), n)
    out = []
    for j in range(n):
        slot = (first_qid + j) % len(QUERY_CLASSES)
        v = cat["embedding"][rows[j]].astype(np.float64)
        v = v + r.normal(0.0, noise, v.shape[0])
        out.append(
            (first_qid + j, [float(x) for x in v], _template(slot, r),
             QUERY_CLASSES[slot])
        )
    return out


def churn_round(seed: int, rnd: int, live_ids, next_id: int, dim: int,
                n_append: int, n_delete: int, n_upsert: int) -> dict:
    """One mutation round of ``index_churn``: ``n_append`` fresh rows with
    ids from ``next_id``, ``n_delete`` live ids to delete, and
    ``n_upsert`` other live ids re-written with new vectors and
    attributes. Deterministic in (seed, round, live set)."""
    r = np.random.default_rng([seed, sum(map(ord, "churn")), rnd])
    app = corpus(seed, n_append, dim, first_id=next_id)
    pick = r.choice(np.asarray(live_ids), n_delete + n_upsert, replace=False)
    # new values for existing ids: a draw keyed past this round's appends
    up = corpus(seed, n_upsert, dim, first_id=next_id + n_append)
    up["vec_id"] = np.sort(pick[n_delete:])
    return {"append": app, "delete": np.sort(pick[:n_delete]), "upsert": up}


_VOCAB_SIZE = 4000


def documents(seed: int, n_docs: int, dup_frac: float = 0.3,
              exact_frac: float = 0.05, min_len: int = 60, max_len: int = 120):
    """``(ids, texts, families)`` with planted duplicate clusters.

    Roughly ``dup_frac`` of the documents are near-duplicate copies of
    an earlier original (1-5% of the words replaced, so their word
    3-gram Jaccard is mostly above 0.7), and ``exact_frac`` are exact
    copies, half of them differing only in case and whitespace, which
    ``exact_dedup`` must fold. ``families[i]`` is the id of the original
    document ``i`` was copied from (itself for an original); the oracle
    recomputes the true Jaccard of every family pair from the texts."""
    r = _rng(seed, "documents")
    words = np.array([f"w{i:04d}" for i in range(_VOCAB_SIZE)], dtype=object)
    texts: list[str] = []
    families: list[int] = []
    originals: list[int] = []
    for i in range(n_docs):
        u = r.random()
        if originals and u < exact_frac + dup_frac:
            fam = originals[r.integers(0, len(originals))]
            src = texts[fam]
            if u < exact_frac:
                texts.append("  " + src.upper() + " " if r.random() < 0.5 else src)
            else:
                toks = src.split(" ")
                n_edit = max(1, int(len(toks) * r.uniform(0.01, 0.05)))
                for p in r.integers(0, len(toks), n_edit):
                    toks[p] = words[r.integers(0, _VOCAB_SIZE)]
                texts.append(" ".join(toks))
        else:
            fam = i
            length = int(r.integers(min_len, max_len + 1))
            texts.append(" ".join(words[r.integers(0, _VOCAB_SIZE, length)]))
            originals.append(i)
        families.append(fam)
    return np.arange(n_docs, dtype=np.int64), texts, np.asarray(families, dtype=np.int64)
