"""Similarity search over embedding columns (``array<float>``).

LLM-pipeline extension surface (not in the reference). Two paths:

- **brute-force cosine top-k** — exact; the right answer whenever the query
  set is small (broadcast queries × corpus scan, one window per query for
  top-k). Baseline and verification oracle.
- **LSH-bucketed top-k** — the 100 TB path: random-hyperplane signatures
  (deterministic, md5-seeded) bucket the corpus; queries only scan their
  bucket (+ multiprobe neighbors). Recall < 1 by construction; verified
  against brute force in tests.

Vector math is done with built-in higher-order functions
(``zip_with``/``aggregate``) — JVM codegen, no Python crossing — plus an
Arrow-vectorized alternative (:func:`brute_force_topk_pandas`): one numpy
matmul per ``mapInPandas`` batch, emitting only per-batch local top-k.
The JVM path wins on narrow vectors / tiny corpora (no Arrow round-trip);
the Pandas path wins as dim × batch grows.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.operators.partitioning import widen


def dvec(a: Column) -> Column:
    """Pre-cast a float vector to array<double> ONCE per row. Downstream
    ``dot``/``l2_norm`` casts become double→double no-ops that Catalyst's
    SimplifyCasts removes — so per-pair scoring does O(dim) multiplies
    instead of O(dim) casts+multiplies (bit-exact: cast-then-multiply equals
    multiply-of-cast)."""
    return F.transform(a, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_double_array(x) -> str:
    """Nested Python floats → a Spark SQL ``array(...)`` literal string.
    ``repr`` emits the shortest round-tripping decimal and both Python
    and the JVM parse decimal strings correctly rounded, so the parsed
    double is BIT-IDENTICAL to ``F.lit(float)``; the ``D`` suffix pins
    the SQL literal to DOUBLE (a bare ``0.1`` would parse as DECIMAL)."""
    if isinstance(x, (list, tuple)):
        return "array(" + ",".join(_sql_double_array(v) for v in x) + ")"
    return repr(float(x)) + "D"


def lit_doubles(x) -> Column:
    """Literal double array (arbitrarily nested) built with ONE parsed
    SQL expression instead of one py4j round trip per element — a
    64-dim × 8-centroid matrix is ~520 fewer JVM calls per plan
    (r11 optimization: plan CONSTRUCTION of literal-heavy vector math
    measured seconds per query in cProfile, all of it py4j latency)."""
    return F.expr(_sql_double_array(x))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# --- SQL-text twins of the vector math (r12, VERDICT r11 #4) -----------------
#
# Column-built higher-order functions cost several py4j round trips EACH
# to construct (measured ~1.4-2.9 s of pure driver latency per plan on
# the pair/probe entries); the SQL-text twins compose the identical
# expressions as strings and parse them with ONE F.expr per output
# column. The parsed trees evaluate the same arithmetic in the same
# order (CAST-to-double per element, left-fold multiply-add, 0.0D init),
# so results are bit-identical — pinned by the oracle hashes of every
# entry on these lanes and the A/B tests in tests/test_similarity.py.

def _dvec_sql(a: str) -> str:
    """SQL twin of :func:`dvec`."""
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of :func:`dot`."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _l2_sql(a: str) -> str:
    """SQL twin of :func:`l2_norm`."""
    return (
        f"SQRT(aggregate({a}, 0.0D, "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def _cosine_sql(a: str, b: str) -> str:
    """SQL twin of :func:`cosine`."""
    return f"({_dot_sql(a, b)} / ({_l2_sql(a)} * {_l2_sql(b)}))"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k by cosine per query vector.

    Output: (query_id, vec_id, cosine, rank) — rank 1..k, ties broken by
    corpus id ascending (deterministic). Queries are broadcast (small side);
    the corpus is scanned once; per-query top-k is a window over the
    (query × corpus) product partitioned by query.
    """
    qid = query_id_col or id_col
    # norms precomputed per side: the pair projection then does one dot per
    # pair instead of dot + 2 norm passes (same float-op order → identical
    # doubles as the inline form: dot / (q_norm * c_norm))
    q = queries.select(
        F.col(qid).alias("query_id"), dvec(F.col(emb_col)).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = widen(corpus).select(
        F.col(id_col), dvec(F.col(emb_col)).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col(id_col)).select(
        "query_id",
        id_col,
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k via the Arrow/Pandas-UDF path: the (small) query
    set is collected to a numpy matrix and closed over a ``mapInPandas``
    scorer; each corpus batch computes all pair scores with one float64
    matmul and emits only its per-query local top-k, so the shuffle into
    the final ranking window carries ≤ k·m rows per batch instead of the
    full b×m product.

    The query set is DRIVER-RESIDENT by contract: it is collected, closed
    over the UDF, and re-sent with every task. ``max_queries`` (default
    10k ≈ 5 MB at 64 float64 dims) fails fast instead of OOMing the driver
    when a caller points this at a large relation — for query sets beyond
    the cap, use :func:`brute_force_topk` (distributed join) or the
    LSH/IVF bucketed paths.

    Same output contract as :func:`brute_force_topk` (rank 1..k, ties by
    corpus id, cosine rounded HALF_UP to 6 — numpy's half-even ``round`` is
    deliberately not used). This is the wide-vector hot path: the JVM
    higher-order-function dot is O(dim) expression evaluations per pair,
    while the Arrow transfer amortizes across the whole batch and the
    matmul runs vectorized.
    """
    import numpy as np
    import pandas as pd

    qid = query_id_col or id_col
    q_rows = queries.select(F.col(qid), F.col(emb_col)).limit(
        max_queries + 1
    ).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"brute_force_topk_pandas collects the query set to the driver; "
            f"got > max_queries={max_queries} rows. Use brute_force_topk "
            f"(distributed join) or an LSH/IVF bucketed path for large "
            f"query sets, or raise max_queries deliberately."
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf[emb_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cn = np.sqrt((C * C).sum(axis=1))
            S = (C @ Q.T) / np.outer(cn, qn)
            # HALF_UP to 6 decimals, matching Spark/duckdb round()
            S = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
            outs = []
            for j, qv in enumerate(q_ids):
                mask = ids != qv  # exclude self-match
                cand_ids, cand_s = ids[mask], S[mask, j]
                order = np.lexsort((cand_ids, -cand_s))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qv,
                            id_col: cand_ids[order],
                            "cosine": cand_s[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    local = widen(corpus).mapInPandas(
        score, schema=f"query_id long, {id_col} long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def _hyperplane(dim: int, bit: int, seed: int = 7) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from a hash counter —
    reproducible across runs/engines without RNG state."""
    vals = []
    for d in range(dim):
        # xorshift-ish integer scramble; stable and dependency-free
        x = (bit * 1_000_003 + d * 10_007 + seed) & 0xFFFFFFFF
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
        vals.append(((x / 0xFFFFFFFF) * 2.0 - 1.0))
    norm = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / norm for v in vals]


def rh_signature(emb: Column, dim: int, bits: int = 8, seed: int = 7) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(emb · h_i)."""
    acc = F.lit(0).cast("int")
    for i in range(bits):
        plane = _hyperplane(dim, i, seed)
        d = F.aggregate(
            F.zip_with(
                emb,
                lit_doubles(plane),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


def _rh_signature_sql(
    emb_sql: str, dim: int, bits: int, seed: int = 7
) -> str:
    """:func:`rh_signature` as ONE SQL expression string instead of
    ~8·bits py4j round trips of higher-order-function construction (r12,
    VERDICT r11 #4 — the same recipe as ``lit_doubles``/the dedup parse
    lane). ``emb_sql`` is the column NAME (or any SQL expression) of the
    pre-cast array<double> vector. The parsed tree evaluates the exact
    arithmetic of the Column form — per-plane left-fold multiply-add,
    ``>= 0`` sign test, power-of-two bit weights — so signatures are
    bit-identical (A/B-verified in tests/test_similarity.py)."""
    terms = []
    for i in range(bits):
        plane = _sql_double_array(_hyperplane(dim, i, seed))
        d = (
            f"aggregate(zip_with({emb_sql}, {plane}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(0 AS INT) + " + " + ".join(terms)


def np_band_signatures(
    emb_col: str, dim: int, bits: int, bands: int, seed: int = 7
) -> Column:
    """``bands`` independent ``bits``-bit sign signatures as array<int>,
    computed as ONE Arrow-batched numpy matmul per batch.

    Dense embedding linear algebra is the one hot path where Spark's
    built-in higher-order functions lose badly: ``aggregate``/``zip_with``
    evaluate interpreted, per-element and boxed (measured ~4.8 s for a mere
    2050×64×64 multiply-add workload), while an Arrow-batched pandas UDF
    does the same projection as a single float64 GEMM in milliseconds —
    a >100× gap that grows with bands·bits. Per the repo's UDF policy this
    is the sanctioned exception: vectorized Arrow batches, never per-row.

    Hyperplanes are the same deterministic seed-derived family as
    :func:`rh_signature` (plane ``i`` of band ``b`` =
    ``_hyperplane(dim, i, seed + 7919*b)``), so signatures are reproducible
    across runs with no RNG state. Near-zero dots could in principle sign
    differently from the JVM fold (different summation order); candidates
    are always re-verified with exact JVM-side cosine, so this can only
    (negligibly) affect candidate recall, never output values."""
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.array(
        [
            _hyperplane(dim, i, seed + 7919 * band)
            for band in range(bands)
            for i in range(bits)
        ],
        dtype=np.float64,
    )  # (bands*bits, dim)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @pandas_udf("array<int>")
    def _sigs(embs: pd.Series) -> pd.Series:
        if embs.empty:
            return pd.Series([], dtype=object)
        mat = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in embs]
        )  # (n, dim)
        dots = mat @ planes.T  # (n, bands*bits)
        bits_on = (dots >= 0).astype(np.int64).reshape(len(mat), bands, bits)
        sigs = (bits_on * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(sigs))

    return _sigs(F.col(emb_col))


def rh_signatures_banded(
    emb: Column, dim: int, bits: int, bands: int, seed: int = 7
) -> Column:
    """``bands`` independent ``bits``-bit sign signatures as array<int> —
    pure-JVM expression form of :func:`np_band_signatures` (same plane
    family, same output), kept for small corpora / environments where the
    Python worker lane is undesirable. The bands·bits hyperplanes are one
    2-D literal and each plane's dot is evaluated exactly once; prefer
    :func:`np_band_signatures` in hot paths — interpreted higher-order
    folds are ~100× slower than the Arrow/numpy GEMM at 64+ planes."""
    planes_by_band = lit_doubles(
        [
            [_hyperplane(dim, i, seed + 7919 * band) for i in range(bits)]
            for band in range(bands)
        ]
    )
    weights = F.array(*[F.lit(1 << i) for i in range(bits)])
    return F.transform(
        planes_by_band,
        lambda band_planes: F.aggregate(
            F.zip_with(
                band_planes,
                weights,
                lambda p, w: F.when(
                    F.aggregate(
                        F.zip_with(emb, p, lambda x, y: x.cast("double") * y),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    >= 0,
                    w,
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )


def ivf_centroids(dim: int, n_cells: int, seed: int = 13) -> list[list[float]]:
    """Deterministic pseudo-random unit centroids (see ``_hyperplane``).
    At corpus scale, replace with trained k-means centroids
    (``pyspark.ml.clustering.KMeans``) — the operator takes any list."""
    return [_hyperplane(dim, i, seed) for i in range(n_cells)]


def _centroid_dots(emb: Column, centroids: list[list[float]]) -> Column:
    """array<double> of dot(emb, centroid_i) — the coarse quantizer scores.
    One parsed 2-D literal + ``transform`` instead of per-element
    ``F.lit`` calls; the per-element arithmetic (left-fold
    multiply-accumulate) is unchanged, so scores are bit-identical."""
    return F.transform(lit_doubles(centroids), lambda c: dot(emb, c))


def _centroid_dots_sql(emb_sql: str, centroids: list[list[float]]) -> str:
    """SQL twin of :func:`_centroid_dots` (r12 parse lane): the whole
    transform-over-centroids dot fold as one string."""
    return (
        f"transform({_sql_double_array(centroids)}, "
        f"c -> {_dot_sql(emb_sql, 'c')})"
    )


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_cells: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_iter: int = 5,
) -> list[list[float]]:
    """Train the IVF coarse quantizer with Lloyd's k-means and return the
    centroid list for :func:`ivf_topk` / :func:`ivf_build_index`.

    Pseudo-random centroids (:func:`ivf_centroids`) keep results
    SQL-oracle-reproducible but quantize real corpora poorly — measured
    recall@5 0.26–0.74 on the sf0.1 embeddings versus ≥0.9 with trained
    cells at the same probe budget (tools/probe_ann_recall.py). Seeding is
    deterministic (k lowest-id vectors), so training is reproducible run
    to run. Iterations are broadcast-assign + one k×dim aggregate; only
    k×dim doubles ever reach the driver. At 100 TB, train on a hash-sample
    of the corpus (e.g. ``sampling.hash_sample``) — cell quality needs
    only a representative sample, not every row."""
    from metadata_driven_data_pipeline_spark.operators import clustering as cl

    base = corpus.select(
        F.col(id_col).alias("vec_id"), dvec(F.col(emb_col)).alias("embedding")
    )
    seed_rows = (
        base.orderBy("vec_id").limit(n_cells).select("embedding").collect()
    )
    cents: list[list[float]] = [list(r["embedding"]) for r in seed_rows]
    spark = corpus.sparkSession
    for _ in range(max_iter):
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cluster_id INT, centroid ARRAY<DOUBLE>",
        )
        assignment = cl.kmeans_assign(base, cdf)
        means = cl.kmeans_update(base, assignment)
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means.collect():
            by_cluster.setdefault(r["cluster_id"], {})[r["dim"]] = r[
                "centroid_val"
            ]
        new_cents = list(cents)  # empty cells keep their old centroid
        for cid, vals in by_cluster.items():
            new_cents[cid] = [vals[d] for d in sorted(vals)]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


def ivf_build_index(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    widen_input: bool = True,
) -> DataFrame:
    """Build the IVF index once: (id, vector, norm, ``__cell``) with each
    row assigned to its best coarse cell (argmax dot, first-index tiebreak).

    This is the build half of the build-once / probe-many split: persist
    the result (ideally ``write.bucketBy``/``partitionBy('__cell')``) and
    pass it to :func:`ivf_topk`, which skips re-assignment when ``__cell``
    is present — query cost stops depending on index-construction cost,
    and a partition-pruned read touches only the probed cells.

    ``widen_input=False`` (r12) skips the round-robin widen: right for
    inputs that are ALREADY wide — :func:`maintain_ivf_index`'s per-chunk
    batches come out of the net-change window shuffle (shuffle-partition
    parallelism, then AQE-coalesced to byte-sized partitions), so widen
    there only paid a plan-conversion probe per chunk and could pin a
    defaultParallelism-sized exchange under a KB-sized chunk.
    """
    cents = centroids or ivf_centroids(dim, n_cells)
    # SQL parse lane (r12): identical expressions, 3 parsed projections
    # instead of per-HOF py4j construction per chunk/build
    return (
        (widen(corpus) if widen_input else corpus)
        .selectExpr(
            f"`{id_col}`", f"{_dvec_sql(f'`{emb_col}`')} AS __cv"
        )
        .selectExpr(
            f"`{id_col}`",
            "__cv",
            f"{_l2_sql('__cv')} AS __cn",
            f"{_centroid_dots_sql('__cv', cents)} AS __d",
        )
        .selectExpr(
            f"`{id_col}`",
            "__cv",
            "__cn",
            "CAST((array_position(__d, array_max(__d)) - 1) AS INT) "
            "AS __cell",
        )
    )


def maintain_ivf_index(
    spark,
    source_root: str,
    index_root: str,
    dim: int,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_versions: int = 64,
    app_id: str | None = None,
) -> dict:
    """INCREMENTAL IVF index maintenance from CDC (r11, VERDICT r10 #8):
    keep a persisted IVF index (a txlog table ``(id, _cv, _cn, _cell)``)
    in sync with a txlog embeddings table by consuming its row-level
    change feed — new/changed vectors are assigned to the TRAINED
    coarse centroids and upserted, deleted vectors tombstone out, all
    through the same chunk driver as ``txlog.replicate`` (txn
    watermark cursor, zero-net chunks advance via a schema-only
    bootstrap + metadata commit) with its own projecting applier.
    The alternative — rebuilding :func:`ivf_build_index` from scratch —
    rescans the whole corpus per refresh; this is O(changed vectors)
    per chunk, the only shape that works when the corpus is 100 TB and
    the nightly delta is gigabytes. Centroids are pinned by the caller (train once with
    :func:`train_ivf_centroids`; re-training re-partitions every cell,
    which IS a rebuild by definition). Read the index back for
    :func:`ivf_topk` with :func:`read_ivf_index`. Invariant (pinned in
    tests + the certified entry): the maintained index equals a
    from-scratch build over the same source snapshot, so probe results
    and recall are IDENTICAL."""
    import os as _os

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from metadata_driven_data_pipeline_spark.sinks import txlog

    if app_id is None:
        app_id = f"ivf-index:{_os.path.abspath(source_root)}"

    def apply(feed, batch_id: int, ctx: str) -> bool:
        # cached even on the metadata-facts path: the net batch feeds
        # both the upsert and the tombstone leg below, and both filter
        # on __tomb, which carries the in-plan key contract guard
        with txlog._keyed_net_batch(
            spark, feed, [id_col], ctx, cache=True
        ) as (batch, is_empty, lo, hi):
            if is_empty:
                txlog._advance_watermark(
                    index_root,
                    StructType(
                        [
                            StructField(
                                id_col, batch.schema[id_col].dataType, True
                            ),
                            StructField("_cv", ArrayType(DoubleType()), True),
                            StructField("_cn", DoubleType(), True),
                            StructField("_cell", IntegerType(), True),
                        ]
                    ),
                    app_id,
                    batch_id,
                )
                return False
            ups = batch.filter(~F.col("__tomb")).select(id_col, emb_col)
            assigned = ivf_build_index(
                ups,
                dim,
                id_col=id_col,
                emb_col=emb_col,
                centroids=centroids,
                # the chunk batch is already wide (net-change window
                # shuffle + scoped AQE cache sizing) — widen here
                # costs a plan probe per chunk and re-exchanges a
                # chunk-sized frame for nothing (r12)
                widen_input=False,
            ).select(
                id_col,
                F.col("__cv").alias("_cv"),
                F.col("__cn").alias("_cn"),
                F.col("__cell").alias("_cell"),
                F.lit(False).alias("__tomb"),
            )
            tombs = batch.filter(F.col("__tomb")).select(
                id_col,
                F.lit(None).cast("array<double>").alias("_cv"),
                F.lit(None).cast("double").alias("_cn"),
                F.lit(None).cast("int").alias("_cell"),
                F.lit(True).alias("__tomb"),
            )
            txlog.merge(
                spark,
                assigned.unionByName(tombs),
                index_root,
                [id_col],
                order_col=None,
                when_matched_delete="__tomb",
                txn=(app_id, batch_id),
                # assigned ∪ tombs partitions the validated net batch
                # by __tomb, so its keys stay exactly the batch's
                # (unique, non-NULL, bounds from the validate
                # aggregate or commit metadata)
                _validated_bounds=(lo, hi),
            )
            return True

    return txlog._consume_chunks(
        spark, source_root, index_root, app_id, max_versions, apply,
        label="ivf ",
    )


def read_ivf_index(spark, index_root: str) -> DataFrame:
    """Load a :func:`maintain_ivf_index` table in the ``__cv/__cn/
    __cell`` shape :func:`ivf_topk` probes directly (the persisted
    index uses single-underscore names — double-underscore batch
    columns are merge-local by the txlog marker convention)."""
    from metadata_driven_data_pipeline_spark.sinks import txlog

    idx = txlog.read_table(spark, index_root)
    return idx.select(
        *[c for c in idx.columns if c not in ("_cv", "_cn", "_cell")],
        F.col("_cv").alias("__cv"),
        F.col("_cn").alias("__cn"),
        F.col("_cell").alias("__cell"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is partitioned into
    Voronoi cells around coarse centroids (cell = argmax dot, first-index
    tiebreak); each query scans only its ``n_probe`` best cells.

    At 100 TB the corpus is written bucketed by ``__cell`` so a query reads
    ~``n_probe/n_cells`` of the data with no shuffle; centroids come from a
    sampled k-means fit. Here centroids are deterministic pseudo-random unit
    vectors so results are exactly reproducible (and SQL-oracle-checkable).
    """
    cents = centroids or ivf_centroids(dim, n_cells)
    ncells = len(cents)
    qid = query_id_col or id_col

    if "__cell" in corpus.columns:
        # pre-built index (ivf_build_index): cell assignment already done —
        # the build-once / probe-many production shape
        c = corpus.select(id_col, "__cv", "__cn", "__cell")
    else:
        c = ivf_build_index(
            corpus, dim, n_cells=ncells, id_col=id_col, emb_col=emb_col,
            centroids=cents,
        )
    # probe cells: indices of the n_probe largest dots (ties → lower index),
    # via sort of (-dot, index) structs — SQL parse lane (r12), identical
    # expressions to the Column form
    entries_sql = (
        f"transform(sequence(0, {ncells - 1}), "
        "i -> struct(-get(__d, i) AS nd, i AS i))"
    )
    q = (
        queries.selectExpr(
            f"`{qid}` AS query_id", f"{_dvec_sql(f'`{emb_col}`')} AS __qv"
        )
        .selectExpr(
            "query_id",
            "__qv",
            f"{_l2_sql('__qv')} AS __qn",
            f"{_centroid_dots_sql('__qv', cents)} AS __d",
        )
        .selectExpr(
            "*",
            f"explode(slice(array_sort({entries_sql}), 1, {n_probe})) "
            "AS __probe_s",
        )
        .selectExpr(
            "query_id", "__qv", "__qn", "__probe_s.i AS __probe"
        )
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("__cell") == F.col("__probe"))
            & (F.col("query_id") != F.col(id_col)),
        )
        .selectExpr(
            "query_id",
            f"`{id_col}`",
            f"ROUND({_dot_sql('__qv', '__cv')} / (__qn * __cn), 6) "
            "AS cosine",
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    multiprobe: int = 1,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k: match on LSH bucket (plus ``multiprobe``
    bit-flip neighbor buckets, Hamming ≤ 1 or 2), then exact cosine within
    candidates.

    ``tables`` is the OR-construction knob: with L > 1, each row gets L
    independent ``bits``-bit signatures (seed-shifted plane families, one
    Arrow/numpy GEMM via :func:`np_band_signatures`) and a candidate needs
    a bucket hit in ANY table — per-neighbor miss probability decays as
    miss_1table^L, the standard way sign-LSH reaches high recall on
    moderate-cosine neighbors where a single table cannot (measured on the
    sf0.1 corpus: 0.18 recall@5 at (8 bits, mp1, 1 table) → ≥0.9 at 8
    tables; see tools/probe_ann_recall.py and BASELINE.md).

    At 100 TB the corpus signature projection is computed once and
    bucket-partitioned on write; a query then touches
    tables·(1 + probes) buckets instead of the full corpus — index size
    and query fan-out both scale linearly in ``tables``.
    """
    qid = query_id_col or id_col
    if tables > 1:
        sig_c = np_band_signatures(emb_col, dim, bits, tables)
        c = widen(corpus).select(
            F.col(id_col),
            dvec(F.col(emb_col)).alias("__cv"),
            F.posexplode(sig_c).alias("__table", "__sig"),
        )
        q_base = queries.select(
            F.col(qid).alias("query_id"),
            dvec(F.col(emb_col)).alias("__qv"),
            F.posexplode(
                np_band_signatures(emb_col, dim, bits, tables)
            ).alias("__table", "__qsig"),
        )
    else:
        # single-table lane built through the SQL parse lane (r12,
        # VERDICT r11 #4): 2 selectExpr calls per side instead of ~50
        # py4j round trips of Column/HOF construction; identical
        # expressions after parsing (signatures pinned bit-identical in
        # tests/test_similarity.py, results by the oracle hashes)
        c = widen(corpus).selectExpr(
            f"`{id_col}`", f"{_dvec_sql(f'`{emb_col}`')} AS __cv"
        ).selectExpr(
            "*",
            f"{_rh_signature_sql('__cv', dim, bits)} AS __sig",
            "0 AS __table",
        )
        q_base = queries.selectExpr(
            f"`{qid}` AS query_id", f"{_dvec_sql(f'`{emb_col}`')} AS __qv"
        ).selectExpr(
            "*",
            f"{_rh_signature_sql('__qv', dim, bits)} AS __qsig",
            "0 AS __table",
        )
    # multiprobe: also probe buckets at Hamming distance <= multiprobe
    # (level 1 = flip each bit; level 2 adds every bit pair — the standard
    # probe-sequence ordering for sign LSH); `^` is SQL bitwise XOR,
    # exactly Column.bitwiseXOR
    probe_exprs = ["__qsig"]
    if multiprobe >= 1:
        probe_exprs += [f"__qsig ^ {1 << i}" for i in range(bits)]
    if multiprobe >= 2:
        probe_exprs += [
            f"__qsig ^ {(1 << i) | (1 << j)}"
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    q = q_base.selectExpr(
        "*", f"explode(array({', '.join(probe_exprs)})) AS __probe"
    )

    scored = c.alias("c").join(
        F.broadcast(q.alias("q")),
        (F.col("c.__table") == F.col("q.__table"))
        & (F.col("c.__sig") == F.col("q.__probe"))
        & (F.col("q.query_id") != F.col(f"c.{id_col}")),
    ).selectExpr(
        "q.query_id",
        f"c.`{id_col}`",
        f"ROUND({_cosine_sql('q.__qv', 'c.__cv')}, 6) AS cosine",
    ).dropDuplicates(["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def semdedup_pairs(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 2048,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: bucket every vector to its
    nearest centroid (broadcast k-means assignment), then compute exact
    cosine ONLY within buckets — pairs ``(cluster_id, id_a, id_b, cosine)``
    with ``cosine >= threshold`` (rounded to 6, same convention as
    ``dedup.embedding_neardup_pairs``).

    This is the scale path for embedding dedup: the all-pairs O(n²) of the
    brute-force verifier becomes Σ|cluster|². Pairs whose members land in
    different clusters are missed by design (the SemDeDup trade-off:
    abs. recall for a k-fold cost cut); raise k's granularity or multiprobe
    to trade back. Reference has no vector ops — extension surface.

    Parallelism is NOT capped at k: clusters larger than ``block_size``
    are hash-split into ``ceil(m/block_size)`` sub-blocks and the pair join
    runs on (cluster, block_i, block_j) keys, one task-sized unit per block
    pair — so a skewed giant cluster becomes many ~block_size² units
    instead of one m² task. The block-pair fan-out replicates each row
    ~nblocks/2 times, i.e. shuffled bytes scale as m²/(2·block_size) per
    cluster — strictly cheaper than the m²/2 pair evaluations it unlocks.
    Result set is identical to the unblocked join.
    """
    from .clustering import kmeans_assign

    assigned = kmeans_assign(
        emb, centroids, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cluster_id")
    withn = (
        # SQL parse lane (r12, VERDICT r11 #4): identical expressions,
        # one parsed call per projection instead of per-HOF py4j trips
        emb.selectExpr(
            f"`{id_col}` AS __id", f"{_dvec_sql(f'`{vec_col}`')} AS __v"
        )
        .selectExpr("*", f"SQRT({_dot_sql('__v', '__v')}) AS __norm")
        # cosine is undefined for zero vectors; drop them rather than
        # divide by zero (ANSI mode throws)
        .filter(F.col("__norm") > 0)
        .join(
            assigned.select(F.col(id_col).alias("__id"), "cluster_id"), "__id"
        )
    )
    # k-row cluster-size table, broadcast back to derive each row's block
    # count and hash-assigned block id. Tiny (one row per centroid).
    sizes = withn.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__m"))
    nblocks = F.greatest(
        F.lit(1), F.ceil(F.col("__m") / F.lit(block_size)).cast("int")
    )
    blocked = (
        withn.join(F.broadcast(sizes), "cluster_id")
        .withColumn("__nb", nblocks)
        .withColumn("__blk", F.pmod(F.xxhash64("__id"), F.col("__nb")).cast("int"))
        .drop("__m")
        # Both sides of the pair self-join read this projection; without
        # persist each side recomputes the whole assignment lineage
        # (scan → broadcast centroid scoring → argmin agg → join).
        .persist()
    )
    # A-side owns block i and replicates to every j >= i; B-side keeps its
    # own block as j. Join on (cluster, i, j): each key's work is bounded
    # by ~block_size² regardless of cluster skew.
    a = blocked.withColumn(
        "__j", F.explode(F.sequence(F.col("__blk"), F.col("__nb") - 1))
    ).alias("a")
    b = blocked.alias("b")
    # pair dot via the SQL parse lane — the lambda-free zip_with fold is
    # the exact expression the Column form built (vectors are pre-cast
    # double, so no per-element casts on this lane)
    pair_cos = (
        "ROUND(aggregate(zip_with(a.__v, b.__v, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x) / (a.__norm * b.__norm), 6)"
    )
    same_block = F.col("a.__blk") == F.col("b.__blk")
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.__j") == F.col("b.__blk"))
            # same block: order by id to emit each pair once; cross block:
            # (i, j) with i < j already names each unordered pair once
            & (~same_block | (F.col("a.__id") < F.col("b.__id"))),
        )
        .selectExpr(
            "a.cluster_id AS cluster_id",
            "LEAST(a.__id, b.__id) AS id_a",
            "GREATEST(a.__id, b.__id) AS id_b",
            f"{pair_cos} AS cosine",
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_auto(
    emb: DataFrame,
    bucket_size: int = 512,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "semdedup-centroids",
) -> DataFrame:
    """:func:`semdedup_pairs` with centroid count scaled to the corpus:
    k = max(1, n / bucket_size), so expected bucket size stays constant and
    total pair work is Σ|bucket|² ≈ n · bucket_size — LINEAR in n. (Fixed k
    or k=√n both leave a quadratic residue; see the scale probe in
    BASELINE.md.)

    Centroids are a deterministic hash-sample of the corpus itself
    (md5-keyed, no RNG): same corpus → same centroids → reproducible
    buckets and pairs. One extra ``count()`` action sizes k.
    """
    from .sampling import hash_draw, _BUCKETS

    n = emb.count()
    k = max(1, n // max(1, bucket_size))
    if k >= n:
        k = max(1, n)
    frac_threshold = int(round(min(1.0, (2.0 * k) / max(1, n)) * _BUCKETS))
    sampled = (
        emb.filter(hash_draw(F.col(id_col), salt) < F.lit(frac_threshold))
        .orderBy(id_col)
        .limit(k)
    )
    centroids = sampled.select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cluster_id"),
        F.col(vec_col).alias("centroid"),
    )
    return semdedup_pairs(
        emb, centroids, threshold=threshold, id_col=id_col, vec_col=vec_col
    )


# --- scalar quantization -----------------------------------------------------

def quantize_embeddings(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "codes",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: 4x smaller vectors
    for the ANN index tier (float32 -> 1 byte/dim + one float scale).
    At 100 TB the embedding store is usually the single largest artifact a
    curation pipeline materializes; int8 SQ is the standard first
    compression rung (FAISS ``SQ8``) before PQ.

    ``code[i] = round(x[i] / scale * 127)`` with ``scale = max|x[i]|`` —
    codes in [-127, 127], zero-vector rows get scale 0 and all-zero codes.
    Reconstruction error per component is bounded by ``scale / 254``
    (half a quantization step; asserted in tests). Deterministic IEEE
    arithmetic end-to-end — a SQL oracle reproduces codes bit-for-bit.

    Scale shape: pure projection, no shuffle; the output is the
    (id, scale, codes) index payload — downstream ANN probes dequantize
    on the fly via :func:`dequantize_embeddings`.
    """
    v = dvec(F.col(emb_col))
    scale = F.array_max(F.transform(v, F.abs))
    codes = F.when(scale > 0, F.transform(
        v, lambda x: F.round(x / scale * F.lit(127.0), 0).cast("int")
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumns({scale_col: scale, code_col: codes})


def dequantize_embeddings(
    df: DataFrame,
    code_col: str = "codes",
    scale_col: str = "scale",
    out_col: str = "embedding_hat",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`:
    ``x_hat[i] = code[i] * scale / 127`` (array<double>)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(code_col),
            lambda c: c.cast("double") * F.col(scale_col) / F.lit(127.0),
        ),
    )


# --- product quantization ----------------------------------------------------

def slice_subvectors(
    df: DataFrame,
    m: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "subvec",
) -> DataFrame:
    """Explode each vector into its ``m`` contiguous subvectors of length
    ``dim // m`` — (id, subspace, subvec) rows. Pure narrow op."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    v = dvec(F.col(vec_col))
    slices = F.array(*[
        F.struct(
            F.lit(s).alias("subspace"),
            F.slice(v, s * sub + 1, sub).alias(out_col),
        )
        for s in range(m)
    ])
    return df.select(F.col(id_col), F.explode(slices).alias("__e")).select(
        id_col, F.col("__e.subspace").alias("subspace"),
        F.col(f"__e.{out_col}").alias(out_col),
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode: each vector becomes ``m`` small codes,
    one per subspace, each the nearest codebook centroid of that subspace
    (squared L2, ties to the lowest code) — the FAISS-PQ compression rung
    above int8 SQ (``quantize_embeddings``): with k=16 codebooks a 64-dim
    float32 vector compresses 64x (256 bytes -> 8 half-byte codes).

    ``codebooks``: (subspace, code, centroid array<double> of dim/m).

    Returns (id_col, codes array<int> in subspace order, dist2 — the total
    quantization distortion, folded in subspace order so the double sum is
    deterministic).

    Scale shape: explode to m rows/vector (narrow), one broadcast join
    against the m*k-row codebook, per-(vector, subspace) argmin via
    map-side-combinable min-struct agg, then one hash agg on id — the
    kmeans_assign plan with a subspace key; the vector table shuffles
    once, k never multiplies the shuffle.
    """
    from .clustering import _sq_l2

    sub = slice_subvectors(emb, m, dim, vec_col=vec_col, id_col=id_col)
    cb = codebooks.select(
        "subspace", F.col("code"), dvec(F.col("centroid")).alias("__c")
    )
    scored = sub.join(F.broadcast(cb), "subspace").select(
        id_col,
        "subspace",
        "code",
        _sq_l2(F.col("subvec"), F.col("__c")).alias("__d2"),
    )
    best = scored.groupBy(id_col, "subspace").agg(
        F.min(F.struct(F.col("__d2"), F.col("code"))).alias("__b")
    )
    per_vec = best.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct("subspace", F.col("__b.code").alias("code"),
                         F.col("__b.__d2").alias("d2"))
            )
        ).alias("__s")
    )
    return per_vec.select(
        id_col,
        F.transform(F.col("__s"), lambda x: x["code"]).alias("codes"),
        F.aggregate(
            F.col("__s"), F.lit(0.0), lambda acc, x: acc + x["d2"]
        ).alias("dist2"),
    )


def train_pq_codebooks(
    emb: DataFrame,
    m: int,
    dim: int,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic per-subspace Lloyd's training of PQ codebooks.

    Init: the subvectors of the ``k`` lowest-id vectors (code = rank).
    Each iteration reassigns every subvector to its nearest code and
    recomputes centroids as subspace-wise means (empty codes keep their
    centroid). Runs ``iters`` rounds; only the m*k codebook rows ever
    reach the driver — the vector table is touched by broadcast-join
    scans, mirroring ``kmeans_fit``.
    """
    from .clustering import _sq_l2

    sub = slice_subvectors(emb, m, dim, vec_col=vec_col, id_col=id_col)
    sub = sub.persist()
    w = Window.orderBy(id_col)
    seed_ids = (
        emb.select(id_col).orderBy(id_col).limit(k)
        .select(F.col(id_col), (F.row_number().over(w) - 1).alias("code"))
    )
    cb = (
        sub.join(seed_ids, id_col)
        .select("subspace", "code", F.col("subvec").alias("centroid"))
    )
    sub_dim = dim // m
    for _ in range(iters):
        cbb = cb.select(
            "subspace", "code", dvec(F.col("centroid")).alias("__c")
        )
        assigned = (
            sub.join(F.broadcast(cbb), "subspace")
            .select(
                id_col, "subspace", "code", "subvec",
                _sq_l2(F.col("subvec"), F.col("__c")).alias("__d2"),
            )
            .groupBy(id_col, "subspace")
            .agg(
                F.min(F.struct("__d2", "code", "subvec")).alias("__b")
            )
            .select(
                "subspace",
                F.col("__b.code").alias("code"),
                F.col("__b.subvec").alias("subvec"),
            )
        )
        means = assigned.groupBy("subspace", "code").agg(
            F.array(*[
                F.avg(F.col("subvec")[i]) for i in range(sub_dim)
            ]).alias("new_centroid")
        )
        cb = (
            cb.join(means, ["subspace", "code"], "left")
            .select(
                "subspace", "code",
                F.coalesce("new_centroid", "centroid").alias("centroid"),
            )
        )
        # materialize the m*k codebook rows on the driver each round:
        # truncates the per-iteration join lineage (kmeans_fit contract —
        # only centroids cross the driver, never the vector table)
        rows = cb.collect()
        cb = emb.sparkSession.createDataFrame(
            [(r["subspace"], r["code"], [float(x) for x in r["centroid"]])
             for r in rows],
            "subspace int, code int, centroid array<double>",
        )
    sub.unpersist()
    return cb


def pq_adc_topk(
    emb_codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    m: int,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ-compressed vectors: queries stay
    full-precision, the corpus is only its codes — the FAISS ADC search
    path, where ``d(q, x) ≈ Σ_s ||q_s − centroid[s][code_s(x)]||²`` is
    assembled from a per-query distance table instead of reconstructing
    corpus vectors.

    ``emb_codes``: (id_col, codes array<int>) from :func:`pq_encode`.
    Returns (query_id, vec_id, adc_dist2, rank) — exactly the squared L2
    between the query and the PQ reconstruction (same subspace-order fold
    as pq_encode, so an oracle reproduces it bit-for-bit).

    Scale shape: the distance TABLE side is tiny — |queries| × m × k rows
    (one per query/subspace/code) built by a broadcast join of query
    subvectors against codebooks, then broadcast again onto the exploded
    corpus codes: per corpus row the join fans out to its m (subspace,
    code) entries and a map-side-combinable struct-min/fold aggregates
    them back — the corpus shuffles once on id, never on pairs.
    """
    from .clustering import _sq_l2

    qsub = slice_subvectors(
        queries, m, dim, vec_col=vec_col, id_col=query_id_col
    ).withColumnRenamed(query_id_col, "__qid")
    cb = codebooks.select(
        "subspace", "code", dvec(F.col("centroid")).alias("__c")
    )
    # distance table: (query, subspace, code) -> partial d2
    table = qsub.join(F.broadcast(cb), "subspace").select(
        "__qid", "subspace", "code",
        _sq_l2(F.col("subvec"), F.col("__c")).alias("__pd2"),
    )
    corpus = emb_codes.select(
        F.col(id_col),
        F.posexplode(F.col("codes")).alias("subspace", "code"),
    )
    scored = corpus.join(F.broadcast(table), ["subspace", "code"]).groupBy(
        "__qid", id_col
    ).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("subspace", "__pd2"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__pd2"],
        ).alias("adc_dist2")
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col), id_col, "adc_dist2", "rank"
        )
    )


def ivf_pq_topk(
    corpus: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF+PQ search — the composition that actually runs at 100 TB
    (FAISS ``IndexIVFPQ``): the corpus is coarse-partitioned into IVF
    cells AND stored only as PQ codes; a query prunes to its ``n_probe``
    cells, then ADC-scores the surviving codes from a per-query distance
    table. Search cost ≈ (n_probe/n_cells) · corpus codes, storage ≈
    m bytes/vector — both knobs independent.

    Returns (query_id, vec_id, adc_dist2, rank), ADC = exact distance to
    the PQ reconstruction (same fold as :func:`pq_adc_topk`; recall vs
    full-precision search is bounded by quantization distortion plus cell
    pruning, both measured in tests).

    Scale shape: index build = one cell-assign projection + one PQ encode
    (each one corpus pass); at query time the probed-cell filter is a
    broadcast semi-join (partition-pruned read when the index is written
    partitioned by ``__cell``), ADC scoring shuffles candidate ids once.
    """
    from .clustering import _sq_l2

    cents = centroids or ivf_centroids(dim, n_cells)
    idx = ivf_build_index(
        corpus, dim, n_cells=len(cents), id_col=id_col, emb_col=emb_col,
        centroids=cents,
    ).select(id_col, "__cell")
    codes = pq_encode(
        corpus, codebooks, m, dim, id_col=id_col, vec_col=emb_col
    ).select(id_col, "codes")
    index = idx.join(codes, id_col)

    ncells = len(cents)
    entries = F.transform(
        F.sequence(F.lit(0), F.lit(ncells - 1)),
        lambda i: F.struct(
            (-F.get(F.col("__d"), i)).alias("nd"), i.alias("i")
        ),
    )
    probes = (
        queries.select(
            F.col(query_id_col).alias("__qid"),
            dvec(F.col(emb_col)).alias("__qv"),
        )
        .withColumn("__d", _centroid_dots(F.col("__qv"), cents))
        .withColumn(
            "__probe_s", F.explode(F.slice(F.array_sort(entries), 1, n_probe))
        )
        .select("__qid", F.col("__probe_s.i").alias("__probe"))
    )
    qsub = slice_subvectors(
        queries, m, dim, vec_col=emb_col, id_col=query_id_col
    ).withColumnRenamed(query_id_col, "__qid")
    cb = codebooks.select(
        "subspace", "code", dvec(F.col("centroid")).alias("__c")
    )
    table = qsub.join(F.broadcast(cb), "subspace").select(
        "__qid", "subspace", "code",
        _sq_l2(F.col("subvec"), F.col("__c")).alias("__pd2"),
    )
    cand = (
        index.join(F.broadcast(probes), F.col("__cell") == F.col("__probe"))
        .select("__qid", id_col, "codes")
        .dropDuplicates(["__qid", id_col])
    )
    scored = (
        cand.select(
            "__qid", F.col(id_col),
            F.posexplode("codes").alias("subspace", "code"),
        )
        .join(F.broadcast(table), ["__qid", "subspace", "code"])
        .groupBy("__qid", id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("subspace", "__pd2"))),
                F.lit(0.0),
                lambda acc, x: acc + x["__pd2"],
            ).alias("adc_dist2")
        )
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col), id_col, "adc_dist2", "rank"
        )
    )


def pq_adc_rerank(
    emb_codes: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    dim: int,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + exact rerank — the FAISS ``IndexRefineFlat``
    pattern that recovers full-precision recall from lossy PQ codes:
    retrieve ``shortlist`` candidates per query by cheap ADC over the
    compressed index, fetch ONLY those candidates' full vectors, and
    rerank them by exact squared L2 to produce the final top-``k``.

    This is the production answer to the measured PQ ceiling (BASELINE.md
    PQ curve: recall@5 plateaus at 0.37-0.44 on iid-uniform vectors from
    k_codes=16 through the FAISS-default 256, because the distortion is
    information-theoretically floor-bounded without cluster structure):
    recall then depends on the SHORTLIST hit-rate, which converges to 1
    rapidly in ``shortlist/k``, not on per-vector code fidelity.

    Returns (query_id, vec_id, dist2, rank) with exact distances.

    Scale shape: stage 1 is :func:`pq_adc_topk` (corpus shuffles once on
    id, codes only); stage 2 touches full vectors for just
    |queries|·shortlist rows — an id equi-join against the corpus that
    Catalyst/AQE executes as a broadcast or shuffled hash join on the
    TINY candidate side, never a corpus-wide vector shuffle. At 100 TB
    the full-precision store is only ever randomly probed, exactly like
    FAISS refine.
    """
    from .clustering import _sq_l2

    short = pq_adc_topk(
        emb_codes, codebooks, queries, m=m, dim=dim, k=shortlist,
        id_col=id_col, query_id_col=query_id_col, vec_col=vec_col,
    ).select(query_id_col, id_col)
    qd = queries.select(
        F.col(query_id_col), dvec(F.col(vec_col)).alias("__qv")
    )
    cd = corpus.select(F.col(id_col), dvec(F.col(vec_col)).alias("__cv"))
    exact = (
        short.join(cd, id_col)
        .join(F.broadcast(qd), query_id_col)
        .select(
            query_id_col,
            id_col,
            _sq_l2(F.col("__qv"), F.col("__cv")).alias("dist2"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist2").asc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "dist2", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    lo: float = 0.5,
    hi: float = 0.9,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    anchor, the top-k most similar corpus vectors whose cosine falls in
    ``[lo, hi)`` — similar enough to be informative negatives, capped
    below the near-duplicate band so positives never leak into the
    negative set (the standard dual-threshold mining rule).

    Exact band scan (brute cosine + band filter + per-anchor top-k
    window); at corpus scale generate candidates with
    :func:`lsh_bucket_topk` (multi-table + multiprobe reaches the
    moderate-cosine band, measured in BASELINE.md) and apply the same
    band predicate — the band filter composes with any candidate source.

    Returns (query_id, vec_id, cosine, rank), rank 1..k by cosine desc
    within the band, ties by corpus id.
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), dvec(F.col(emb_col)).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = widen(corpus).select(
        F.col(id_col), dvec(F.col(emb_col)).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col(id_col)
    ).select(
        "query_id",
        id_col,
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
            6,
        ).alias("cosine"),
    ).filter((F.col("cosine") >= lo) & (F.col("cosine") < hi))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# PCA / whitening for embedding columns
# ---------------------------------------------------------------------------


def train_pca(
    df: DataFrame,
    emb_col: str = "embedding",
    n_components: int = 16,
    whiten: bool = False,
) -> dict:
    """Fit PCA over an embedding column in ONE distributed pass.

    Plan shape: each partition reduces to a single moment row
    ``(n, Σv, Σv·vᵀ)`` inside an Arrow ``mapInPandas`` (one float64 GEMM
    per batch — the same lane as the band-signature builder); only those
    dim+dim² partials ever cross the driver (#partitions rows, never
    corpus vectors), where they combine into the covariance and a numpy
    ``eigh`` yields the top components.  Classic parallel-moments PCA —
    the corpus is read once and never shuffled at all.

    Sign convention: each component's largest-|coordinate| entry is made
    positive, so the model is reproducible run-to-run (``eigh`` is free
    to flip eigenvector signs).  Deterministic for a fixed partitioning;
    across different partitionings the driver combine reorders float
    sums, so components are stable only to fp tolerance (documented
    contract, matching kmeans_fit).

    Returns ``{"mean", "components" (k×dim rows), "explained_var",
    "explained_var_ratio", "n"}`` — plain lists, broadcastable into
    :func:`pca_project`.  ``whiten=True`` scales each component by
    1/√eigenvalue so projected dimensions have unit variance.
    """
    dim_row = df.select(F.size(F.col(emb_col)).alias("d")).first()
    if dim_row is None:
        raise ValueError("train_pca: empty input")
    dim = int(dim_row["d"])

    def moments(batches):
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        o = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            mat = np.array(pdf[emb_col].tolist(), dtype=np.float64)
            if mat.size == 0:
                continue
            n += mat.shape[0]
            s += mat.sum(axis=0)
            o += mat.T @ mat
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "o": [o.ravel().tolist()]}
        )

    parts = (
        df.select(emb_col)
        .mapInPandas(moments, schema="n long, s array<double>, o array<double>")
        .collect()
    )
    n = sum(p["n"] for p in parts)
    if n < 2:
        raise ValueError("train_pca: need at least 2 vectors")
    s = np.sum([np.array(p["s"]) for p in parts], axis=0)
    o = np.sum(
        [np.array(p["o"]).reshape(dim, dim) for p in parts], axis=0
    )
    mean = s / n
    cov = (o - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    evals = np.clip(evals[order], 0.0, None)
    comps = evecs[:, order].T  # k×dim
    for i in range(comps.shape[0]):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    if whiten:
        comps = comps / np.sqrt(np.maximum(evals, 1e-12))[:, None]
    total_var = float(np.clip(np.trace(cov), 1e-12, None))
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_var": evals.tolist(),
        "explained_var_ratio": (evals / total_var).tolist(),
        "n": int(n),
    }


def pca_project(
    df: DataFrame,
    model: dict,
    emb_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project embeddings onto a trained PCA basis: adds ``out_col``
    (array<double>, k entries) = components·(v − mean).

    Pure-JVM lane: the k×dim basis and the mean enter the plan as
    literal arrays and each output coordinate is one codegen'd
    ``aggregate`` dot product — no Python, no shuffle, a narrow
    projection that composes with every downstream embedding operator
    (semdedup/ANN on the reduced vectors)."""
    mean = [float(x) for x in model["mean"]]
    centered = F.zip_with(
        F.col(emb_col).cast("array<double>"),
        lit_doubles(mean),
        lambda v, m: v - m,
    )
    coords = F.transform(
        lit_doubles([[float(c) for c in comp] for comp in model["components"]]),
        lambda comp: F.aggregate(
            F.zip_with(centered, comp, lambda v, w: v * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return df.withColumn(out_col, coords)
