"""The four workloads. Each is a closed loop: one client thread issues
the next operation only after the previous one returned, on
``local[nproc]``.

Every engine call goes through a module attribute (``G.nsw_append``,
``self.router.ann_search_batch``...), never a name bound at import, so
the traced run's wrappers see it. Inputs are generated from the seed
before set-up and handed to the engine as Parquet files.
"""

from __future__ import annotations

import importlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle

PKG = "acorn_hybrid_vector_search_spark"
K = 10

# Sizes. A run must fit its share of the benchmark's time budget, so the
# corpora are far smaller than ABO's; the attribute rates, query mix and
# store layout keep the ABO shape (README.md).
DIM = 64
N_VECTORS = 4000
N_SHARDS = 8
BATCH = 16  # serve_batch micro-batch
CHURN_APPEND, CHURN_DELETE, CHURN_UPSERT, CHURN_READ = 400, 100, 100, 16
N_DOCS = 2000
DEDUP_THRESHOLD = 0.7
# Operations run during set-up, unmeasured. The first repetition of an
# operation in a fresh JVM is the slowest while the JIT compiles (a
# 6000-document pass: 4.3, 3.7, 3.4 s, then 2.8-3.4 s); more warm-up
# would not fit the time budget.
WARMUP = 1


def mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def write_corpus(cols: dict, path: str) -> None:
    emb = cols["embedding"]
    table = pa.table({
        "vec_id": pa.array(cols["vec_id"], pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, emb.size + 1, emb.shape[1], dtype=np.int32)),
            pa.array(emb.ravel(), pa.float32()),
        ),
        "brand": pa.array(list(cols["brand"]), pa.string()),
        "color": pa.array(list(cols["color"]), pa.string()),
        "item_weight": pa.array(cols["item_weight"], pa.float64(),
                                mask=np.isnan(cols["item_weight"])),
        "model_year": pa.array(cols["model_year"].astype(np.int32), pa.int32(),
                               mask=cols["model_year"] < 0),
        "country": pa.array(list(cols["country"]), pa.string()),
    })
    pq.write_table(table, path)


class Workload:
    """Common state: timing lists per operation kind, the attempt and
    failure counts, and the first failing cases."""

    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.tr = ctx.tracer
        self.lat: dict[str, list[float]] = {}
        self.items = 0  # work units completed inside the measured window
        self.busy_s = 0.0  # wall time of the operations in the window
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.recalls: list[float] = []
        self.detail: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(why)

    def timed(self, kind: str, fn, *, measured: bool = True):
        """Run ``fn`` as one operation; returns (ok, result or error, seconds)."""
        with self.tr.op(kind, measured):
            t = time.perf_counter()
            try:
                out = fn()
                ok = True
            except Exception as e:  # an engine failure is a failed operation
                out, ok = repr(e)[:300], False
            dt = time.perf_counter() - t
        if measured:
            self.lat.setdefault(kind, []).append(dt)
            self.busy_s += dt
        return ok, out, dt

    def start_session(self):
        session = mod("session")
        return session.get_spark(f"perfbench-{self.name}")

    def finish(self) -> None:
        """Work after the measured window, before Spark stops."""

    def metrics(self) -> dict:
        """Throughput is work over the summed wall time of every
        operation in the window, so each run's figure rests on the whole
        window rather than on the median of its few operations."""
        return {
            "items_per_s": self.items / self.busy_s if self.busy_s else 0.0,
            "recall": float(np.mean(self.recalls)) if self.recalls else 0.0,
        }


# -- vector serving ------------------------------------------------------------


class _VectorStore(Workload):
    """Set-up shared by the vector workloads: ingest the catalogue, build
    the clustered float32 store with match and numeric zone maps, and,
    for the routed workloads, collect the router's attribute statistics."""

    k = K

    def inputs(self) -> None:
        self.cols = gen.corpus(self.ctx.seed, N_VECTORS, DIM)
        self.cat = oracle.Catalogue(self.cols)
        write_corpus(self.cols, self.path("corpus.parquet"))
        self.store = self.path("store")

    def build(self, router: bool = True) -> None:
        G = mod("operators.graph_ann")
        R = mod("plans.router")
        P = mod("functions.predicates")
        self.spark = self.start_session()
        self.df = self.spark.read.parquet(self.path("corpus.parquet"))
        G.nsw_write_clustered(
            self.df, self.store, n_shards=N_SHARDS,
            payload_cols=list(gen.ATTRS), stats_attrs=list(gen.MATCH_ATTRS),
            numeric_stats_attrs=list(gen.NUMERIC_ATTRS), vector_dtype="float32",
        )
        if router:
            self.router = R.StrategyRouter(R.collect_stats(self.df, list(gen.ATTRS)))
        self.acc = P.flat_accessors(self.df.drop("embedding"))

    def collect_by_query(self, queries, res) -> dict:
        """Run a batch result and return each query's ids in (dist, id) order."""
        with self.tr.span("exec"):
            rows = res.collect()
        by_q: dict[int, list] = {q: [] for q, *_ in queries}
        for r in rows:
            by_q[int(r["query_id"])].append((r["dist"], r["vec_id"]))
        return {q: [i for _, i in sorted(v)] for q, v in by_q.items()}

    def search_batch(self, queries):
        res = self.router.ann_search_batch(
            self.df, [(q, v, p) for q, v, p, _ in queries], K, min_recall=1.0,
            nsw_path=self.store, pruned_path=self.store, accessors=self.acc,
        )
        return self.collect_by_query(queries, res)

    def check(self, queries, answers, measured: bool = True) -> None:
        for q, v, p, cls in queries:
            self.attempted += 1
            ok, rec, why = self.cat.check(v, p, K, answers[q])
            if measured:
                self.recalls.append(rec)
            if not ok:
                self.fail(f"query {q} class {cls} {p}: {why}")

    def finish(self) -> None:
        """Record the observed fraction of live rows passing each class's
        predicates, over the queries issued."""
        frac: dict[int, list[float]] = {}
        for _q, _v, p, cls in self.queries[:self.next]:
            m = self.cat.mask(p) & self.cat.live
            frac.setdefault(cls, []).append(float(m.sum()) / self.cat.n_live())
        self.detail["class_pass_fraction"] = {
            f"class{c}": round(float(np.mean(f)), 4) for c, f in sorted(frac.items())
        }


class ServeBatch(_VectorStore):
    name = "serve_batch"

    def setup(self) -> None:
        self.build()
        self.queries = gen.query_mix(self.ctx.seed, self.cols, BATCH * 200)
        self.next = 0
        for i in range(1, WARMUP + 1):
            warm = self.queries[-i * BATCH:][:BATCH]
            ok, out, _ = self.timed("warmup", lambda: self.search_batch(warm),
                                    measured=False)
            if ok:
                self.check(warm, out, measured=False)
            else:
                self.attempted += len(warm)
                self.fail(f"warm-up batch raised {out}")

    def step(self) -> None:
        batch = self.queries[self.next:self.next + BATCH]
        self.next += BATCH
        ok, out, _ = self.timed("batch", lambda: self.search_batch(batch))
        if not ok:
            self.attempted += len(batch)
            for q, *_ in batch:
                self.fail(f"batch with query {q} raised {out}")
            return
        self.items += len(batch)
        self.check(batch, out)

class ServePoint(_VectorStore):
    name = "serve_point"

    def setup(self) -> None:
        self.build()
        self.queries = gen.query_mix(self.ctx.seed, self.cols, 2000)
        self.next = 0
        for q in self.queries[-WARMUP * len(gen.QUERY_CLASSES):]:  # each template
            self.point(q, "warmup", measured=False)

    def point(self, q, kind: str, measured: bool = True) -> None:
        qid, v, p, cls = q

        def run():
            res = self.router.ann_search(
                self.df, v, p, K, min_recall=1.0, nsw_path=self.store,
                pruned_path=self.store, accessors=self.acc,
            )
            with self.tr.span("exec"):
                rows = res.select("vec_id", "dist").collect()
            return [r["vec_id"] for r in sorted(rows, key=lambda r: (r["dist"], r["vec_id"]))]

        ok, out, _ = self.timed(kind, run, measured=measured)
        if not ok:
            self.attempted += 1
            self.fail(f"query {qid} raised {out}")
            return
        if measured:
            self.items += 1
        self.check([q], {qid: out}, measured)

    def step(self) -> None:
        self.point(self.queries[self.next], "query")
        self.next += 1

# -- writes beside reads -----------------------------------------------------


class IndexChurn(_VectorStore):
    """Rounds of append / delete / upsert, each followed by a read of the
    mutated store itself: ``nsw_dense_topk``, the exact batch kernel,
    which must skip every tombstoned id and see every appended and
    upserted row. The oracle's catalogue follows the same mutations, so
    a delete that left its id live, or an upsert that left the old
    vector live, fails the check."""

    name = "index_churn"

    def setup(self) -> None:
        self.build(router=False)  # reads go to the store, not through the router
        self.G = mod("operators.graph_ann")
        self.P = mod("functions.predicates")
        self.round = 0
        self.queries = gen.query_mix(self.ctx.seed, self.cols, CHURN_READ * 400)
        self.next = 0
        for _ in range(WARMUP):
            self.do_round(measured=False)

    def mutation(self, kind: str, fn, measured: bool) -> float:
        self.attempted += 1
        ok, out, dt = self.timed(kind, fn, measured=measured)
        if not ok:
            self.fail(f"round {self.round} {kind} raised {out}")
        return dt

    def search_store(self, queries):
        preds = {q: self.P.build_predicate(p, self.acc) for q, _v, p, _c in queries if p}
        res = self.G.nsw_dense_topk(
            self.spark, self.store, [(q, v) for q, v, _p, _c in queries], K,
            predicates=preds or None,
        )
        return self.collect_by_query(queries, res)

    def read(self, kind: str, measured: bool) -> None:
        batch = self.queries[self.next:self.next + CHURN_READ]
        self.next += CHURN_READ
        ok, out, _ = self.timed(kind, lambda: self.search_store(batch), measured=measured)
        if not ok:
            self.attempted += len(batch)
            for q, *_ in batch:
                self.fail(f"round {self.round} read of query {q} raised {out}")
            return
        self.check(batch, out, measured)

    def do_round(self, measured: bool = True) -> None:
        step = gen.churn_round(
            self.ctx.seed, self.round, self.cat.ids[self.cat.live],
            int(self.cat.ids.max()) + 1, DIM, CHURN_APPEND, CHURN_DELETE, CHURN_UPSERT,
        )
        app, dels, up = step["append"], step["delete"], step["upsert"]
        write_corpus(app, self.path(f"append_{self.round}.parquet"))
        write_corpus(up, self.path(f"upsert_{self.round}.parquet"))

        spark, store, attrs = self.spark, self.store, list(gen.ATTRS)
        self.mutation("append", lambda: self.G.nsw_append(
            spark.read.parquet(self.path(f"append_{self.round}.parquet")), store,
            payload_cols=attrs), measured)
        self.cat.append(app)
        self.mutation("delete", lambda: self.G.nsw_delete(
            spark, store, [int(i) for i in dels]), measured)
        self.cat.delete(dels)
        self.mutation("upsert", lambda: self.G.nsw_upsert(
            spark.read.parquet(self.path(f"upsert_{self.round}.parquet")), store,
            payload_cols=attrs), measured)
        self.cat.upsert(up)
        self.read("read_after_write", measured)
        self.round += 1
        if measured:
            self.items += CHURN_APPEND + CHURN_DELETE + CHURN_UPSERT
            lat = self.lat
            lat.setdefault("round", []).append(
                sum(lat[k][-1] for k in ("append", "delete", "upsert", "read_after_write"))
            )

    def step(self) -> None:
        self.do_round()

    def finish(self) -> None:
        super().finish()
        self.detail["rounds"] = self.round
        if not self.ctx.traced:
            # compaction feeds only the per-layer churn.compact_s; untraced
            # runs skip it to keep the benchmark inside its time budget
            return
        spark, store = self.spark, self.store
        self.detail["compact_s"] = self.mutation(
            "compact", lambda: self.G.nsw_compact(spark, store), False)
        self.mutation("stats_write", lambda: self.G.nsw_stats_write(
            spark, store, attrs=list(gen.MATCH_ATTRS),
            numeric_attrs=list(gen.NUMERIC_ATTRS)), False)
        self.read("final_read", False)


# -- near-duplicate removal ----------------------------------------------------


class DedupBatch(Workload):
    name = "dedup_batch"

    def inputs(self) -> None:
        self.ids, self.texts, fams = gen.documents(self.ctx.seed, N_DOCS)
        pq.write_table(
            pa.table({"doc_id": pa.array(self.ids), "text": pa.array(self.texts)}),
            self.path("docs.parquet"),
        )
        self.survivors = oracle.exact_survivors(self.ids, self.texts)
        self.truth = oracle.planted_pairs(
            self.ids, self.texts, fams, self.survivors, DEDUP_THRESHOLD
        )
        self.shingles = {int(i): oracle.shingles(t) for i, t in zip(self.ids, self.texts)}
        self.detail["planted_pairs"] = len(self.truth)
        self.detail["exact_survivors"] = len(self.survivors)

    def setup(self) -> None:
        self.spark = self.start_session()
        self.docs = self.spark.read.parquet(self.path("docs.parquet"))
        for _ in range(WARMUP):
            self.one_pass("warmup", measured=False)

    def pipeline(self):
        # every pass starts cold, as a one-off batch job would: without
        # this the signature relation and the edge list pinned by the
        # previous pass over the same documents would be reused
        mod("operators._cache").invalidate()
        D = mod("operators.dedup")
        kept = D.exact_dedup(self.docs)
        pairs = D.minhash_near_dups(kept, verify_threshold=DEDUP_THRESHOLD)
        with self.tr.span("exec"):
            pair_rows = [(int(r["id_a"]), int(r["id_b"])) for r in pairs.collect()]
        collapsed = D.collapse_near_dups(kept, pairs).select("doc_id")
        with self.tr.span("exec"):
            survivors = [int(r["doc_id"]) for r in collapsed.collect()]
        return pair_rows, survivors

    def one_pass(self, kind: str, measured: bool = True) -> None:
        self.attempted += 1
        ok, out, _ = self.timed(kind, self.pipeline, measured=measured)
        if not ok:
            self.fail(f"{kind} raised {out}")
            return
        pairs, survivors = out
        bad = [
            (a, b) for a, b in pairs
            if a not in self.survivors or b not in self.survivors
            or oracle.jaccard(self.shingles[a], self.shingles[b]) < DEDUP_THRESHOLD - 1e-6
        ]
        comp = oracle.components(self.survivors, pairs)
        want = sorted(n for n, c in comp.items() if n == c)
        if bad:
            self.fail(f"{kind}: {len(bad)} pairs below Jaccard {DEDUP_THRESHOLD}, e.g. {bad[0]}")
        elif sorted(survivors) != want:
            self.fail(f"{kind}: collapse kept {len(survivors)} docs, oracle {len(want)}")
        if measured:
            found = set((min(a, b), max(a, b)) for a, b in pairs)
            self.recalls.append(len(found & self.truth) / len(self.truth) if self.truth else 1.0)
            self.items += N_DOCS
            self.detail.setdefault("pairs_out", []).append(len(pairs))

    def step(self) -> None:
        self.one_pass("pass")


WORKLOADS = {w.name: w for w in (ServeBatch, ServePoint, IndexChurn, DedupBatch)}
