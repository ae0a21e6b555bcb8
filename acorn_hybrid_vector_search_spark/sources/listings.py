"""Ingestion ETL: ABO listings + image-id mappings → the `items` table.

Reference pipeline (/root/reference/parse-json.py): load 16 JSONL listing
files (S1), load map*.csv image-id mappings (S2), correlate each image id
to its listing (J1), project to the 5 query attributes (P1), and emit the
metadata store. The reference does this with nested O(N·M) Python loops
and an awk shell-out; here each step is a DataFrame op so Catalyst fuses
scans/projections and picks broadcast vs shuffle join by stats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acorn_hybrid_vector_search_spark.operators._cache import artifact

# P1: the five attributes every query consults (/root/reference/parse-json.py:68-81)
QUERY_ATTRS = ("brand", "color", "item_weight", "model_year", "country")


def read_listings(spark: SparkSession, path: str) -> DataFrame:
    """S1 — JSONL listing scan (/root/reference/parse-json.py:11-16).

    ``spark.read.json`` natively handles line-delimited JSON and infers
    the nested ABO attribute shapes; globs cover the 16 shard files
    (``listings_*.json``). At 100 TB scale: splittable per-line reads,
    schema supplied explicitly to skip inference double-scan — here the
    inferred schema is memoized per (session, path) so only the first
    read per session pays the inference scan.
    """
    # inference is its own full scan of the JSONL, so the inferred
    # schema is a session artifact; infer once, but RETURN the
    # explicit-schema reader in every call (first included) so repeat
    # plans canonicalize equal — downstream semantic-dedup pins
    # (build_items' pin_correlated) would otherwise miss between the
    # first and later calls
    schema = artifact(
        spark, "json_schema", path, lambda _: spark.read.json(path).schema
    )
    return spark.read.schema(schema).json(path)


def read_mappings(spark: SparkSession, path: str) -> DataFrame:
    """S2 — image-id mapping CSV scan (/root/reference/parse-json.py:25-30,
    /root/reference/acorn.py:243-250). Schema: image_id,width,height,path.

    The reference shells out to awk for column 0 and slices ``parts[3][3:]``
    for the basename (stripping the 2-hex-dir prefix ``"00/"`` — its code
    comment says "removes 'id:' prefix", which is wrong; SURVEY.md §1.4).
    Here: one CSV read + ``substring_index`` for the basename. The
    4-column layout is the format's contract, so the schema is explicit
    (all STRING, cast below exactly as before) — headerless CSV without
    a schema pays a column-count inference scan on every call (r14,
    guide §6).
    """
    df = spark.read.schema(
        "image_id string, width string, height string, rel_path string"
    ).csv(path, header=False)
    return df.select(
        "image_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "rel_path",
        F.substring_index("rel_path", "/", -1).alias("filename"),
    )


def correlate_listings(
    mappings: DataFrame, listings: DataFrame, *, order_col: str | None = None
) -> DataFrame:
    """J1 — listing↔image correlation join
    (/root/reference/parse-json.py:41-61).

    Reference semantics: for each image id, find a listing where
    ``main_image_id == id`` OR ``id ∈ other_image_id``; the FIRST match in
    file order wins; unmatched images are dropped. The nested-loop scan
    becomes: equi-join on main_image_id UNION equi-join on exploded
    other_image_id, then ``row_number()`` dedupe. Main-image matches are
    preferred over other-image matches (priority 0 vs 1), then listing
    order — reproducing "first match wins" deterministically.

    Listing order: pass ``order_col`` (a column of ``listings`` with a
    total order, e.g. ABO's unique ``item_id``) for a fully deterministic,
    oracle-expressible tie-break — preferred whenever the data carries a
    key. Without it, order is derived as (input file name, position in
    file): position comes from a per-FILE window (parallel across files),
    with ``monotonically_increasing_id`` supplying the within-file read
    order. Caveat: if one file is split across several input partitions,
    split packing makes cross-split position only approximately file
    order — which is why an explicit ``order_col`` wins when available.

    Scale: both branches are shuffle equi-joins on image_id (high-entropy
    key, no skew); the explode multiplies the listing side only. With a
    small listing dim, Catalyst broadcasts it.
    """
    if order_col is not None:
        ls = listings.withColumn("_lfile", F.lit("")).withColumn(
            "_lpos", F.col(order_col)
        )
    else:
        wf = Window.partitionBy(F.input_file_name()).orderBy(
            F.monotonically_increasing_id()
        )
        ls = listings.withColumn("_lfile", F.input_file_name()).withColumn(
            "_lpos", F.row_number().over(wf)
        )

    main = ls.select(
        F.col("main_image_id").alias("image_id"),
        F.struct(*[F.col(a) for a in QUERY_ATTRS]).alias("meta"),
        F.lit(0).alias("_prio"),
        "_lfile",
        "_lpos",
    ).where(F.col("image_id").isNotNull())

    other = (
        ls.where(F.col("other_image_id").isNotNull())
        .select(
            F.explode("other_image_id").alias("image_id"),
            F.struct(*[F.col(a) for a in QUERY_ATTRS]).alias("meta"),
            F.lit(1).alias("_prio"),
            "_lfile",
            "_lpos",
        )
    )

    cand = mappings.join(main.unionByName(other), "image_id")
    w = Window.partitionBy("image_id").orderBy(
        F.col("_prio").asc(), F.col("_lfile").asc(), F.col("_lpos").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("image_id", "filename", "meta.*")
    )


def assign_dense_ids(
    df: DataFrame,
    order_cols: tuple[str, ...],
    *,
    id_col: str = "item_id",
    group_expr: Column | None = None,
    prefix_len: int = 2,
) -> DataFrame:
    """Dense 0..N−1 ids in ``order_cols`` order WITHOUT a global
    unpartitioned window (which funnels the whole table through one task —
    the classic ETL scale-killer).

    Two-stage zipWithIndex, DataFrame-native:
      1. count rows per GROUP, where the group key is a deterministic,
         order-aligned function of the row (default: the first
         ``prefix_len`` chars of ``order_cols[0]``); fold the tiny
         per-group counts into start offsets on the driver (r14 note: an
         in-plan running-sum window over the counts was tried — it needs
         a SinglePartition exchange the scale guard rightly bans, and a
         triangular inequality join needs the BNLJ the plan guard bans;
         the driver fold over group-count-bounded rows stays);
      2. id = group offset + per-GROUP row_number − 1 — every window
         partition is one group, so the work stays parallel.

    The group key must be order-aligned (k₁ < k₂ ⟹ grp(k₁) ≤ grp(k₂)) and
    the order columns non-null; being a pure row function (never a
    partition id, which range repartitioning does NOT reproduce stably
    across jobs) makes the two stages consistent by construction.
    Parallelism = number of distinct groups — pass ``group_expr`` when the
    default prefix is too coarse (or not order-aligned, e.g. numeric keys).
    """
    key0 = F.col(order_cols[0])
    grp = group_expr if group_expr is not None else F.substring(key0, 1, prefix_len)
    d = df.withColumn("_grp", grp)
    counts = {
        r["_grp"]: r["cnt"]
        for r in d.groupBy("_grp").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[str, int] = {}
    acc = 0
    for g in sorted(counts):
        offsets[g] = acc
        acc += counts[g]
    offset_map = F.create_map(
        *[F.lit(x) for g in sorted(offsets) for x in (g, offsets[g])]
    )
    w = Window.partitionBy("_grp").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        d.withColumn(
            id_col,
            (offset_map[F.col("_grp")] + F.row_number().over(w) - 1).cast("bigint"),
        )
        .drop("_grp")
    )


def build_items(
    spark: SparkSession,
    listings_path: str,
    mappings_path: str,
    *,
    order_col: str | None = None,
    pin_correlated: bool = False,
) -> DataFrame:
    """Full metadata ETL: S1 + S2 + J1 + P1 → items-shaped table with a
    dense item_id in (filename, image_id) order — the reference's
    positional-id convention, assigned via the two-stage parallel
    zipWithIndex (``assign_dense_ids``), never a global single-task
    window.

    ``pin_correlated`` is retired (r15, VERDICT r14 item 1 — accepted
    for compatibility, ignored): the r14 session pin existed because
    the dense-id assignment consumed the correlated relation twice per
    call, but Spark's CacheManager substitutes a persisted plan into
    ANY later plan embedding the same fragment, so the pin also served
    the returned plan's executions — a cross-call cached intermediate
    answering timed runs. With no pin, the build-time group-count
    probe (whose offsets are plan parameters) computes the relation
    once per BUILD, and every execution of the returned plan recomputes
    the full scan+join+window lineage from the source files."""
    listings = read_listings(spark, listings_path)
    mappings = read_mappings(spark, mappings_path)
    for attr in QUERY_ATTRS:
        if attr not in listings.columns:
            listings = listings.withColumn(attr, F.lit(None))
    corr = correlate_listings(mappings, listings, order_col=order_col)
    return assign_dense_ids(corr, ("filename", "image_id")).select(
        "item_id", "filename", *QUERY_ATTRS
    )
