"""Generalized relational transform types (SURVEY §2.3/2.4/2.5/2.6/2.7
extension rows).

The reference implements only two transform types (``add_fields``,
``validate_fields``, dispatch at ``pipeline/runner.py:334-343``). The rebuilt
engine generalizes the same metadata pattern to the full relational surface —
each type is a thin declarative wrapper over a built-in DataFrame operation,
so Catalyst sees a plain plan and applies pushdown / pruning / join
selection / AQE untouched.

Handler contract: ``fn(catalog, params, ctx) -> dict[output_name -> DataFrame]``
where ``catalog`` maps relation names to DataFrames. Handlers never execute
actions — compilation stays lazy; the sink (or caller) triggers execution.

Scale notes per type:
- ``join``: Catalyst/AQE picks broadcast vs sort-merge; a ``broadcast`` param
  forces the hint for dimensions the optimizer can't size (e.g. freshly
  derived small relations). Semi/anti joins express EXISTS/NOT EXISTS without
  materializing the right side.
- ``aggregate``: hash aggregation with map-side partial combine is Spark's
  default; expressions stay in whole-stage codegen.
- ``window``: one hash shuffle on partitionBy keys.
- ``sort``+``limit``: compiles to TakeOrderedAndProject (no full sort at
  scale).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metadata_driven_data_pipeline_spark.operators.add_fields import apply_add_fields
from metadata_driven_data_pipeline_spark.operators.consolidate import dedup_keep_latest
from metadata_driven_data_pipeline_spark.operators.validate import split_ok_ko

Catalog = dict[str, DataFrame]
TransformHandler = Callable[[Catalog, dict[str, Any], dict[str, Any]], dict[str, DataFrame]]


def _get(catalog: Catalog, name: str) -> DataFrame:
    if name not in catalog:
        raise ValueError(f"Input view '{name}' does not exist")
    return catalog[name]


def _order_cols(order_by: list[Any]) -> list[Column]:
    """Order spec: "col", "col DESC", or {"column": ..., "direction": ...}."""
    cols: list[Column] = []
    for ob in order_by:
        if isinstance(ob, dict):
            c = F.col(ob["column"])
            cols.append(c.desc() if str(ob.get("direction", "ASC")).upper() == "DESC" else c.asc())
        else:
            parts = str(ob).rsplit(None, 1)
            if len(parts) == 2 and parts[1].upper() in ("ASC", "DESC"):
                c = F.col(parts[0])
                cols.append(c.desc() if parts[1].upper() == "DESC" else c.asc())
            else:
                cols.append(F.col(str(ob)).asc())
    return cols


# --- custom join operators (SURVEY §2.3 extension rows) ----------------------
#
# Spark has no built-in as-of or range join; both are implemented as
# compositions of built-in operators chosen for their shuffle profile at
# scale (no nested-loop, no range explosion).


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    order_cols: list[str],
    matched_col: str = "__matched",
) -> DataFrame:
    """Backward as-of join: for every left row, attach the *latest* right row
    whose ``order_cols`` tuple sorts strictly before the left row's, within
    the same ``keys`` group (no match → NULL struct).

    Implementation: tag both sides, union, and take a running
    ``last(right_struct, ignorenulls)`` over a (keys)-partitioned window
    ordered by ``order_cols`` — one hash shuffle on the keys, state bounded
    by one struct per row. This beats the naive inequality join (which
    Catalyst can only run as a nested loop) and never explodes ranges.
    ``order_cols`` must be a total order (include a unique tiebreak column)
    for deterministic results.

    Output: all left columns plus ``matched_col`` (struct of right columns).
    """
    l_struct_t = T.StructType(left.schema.fields)
    r_struct_t = T.StructType(right.schema.fields)
    l2 = left.select(
        *[F.col(k) for k in keys],
        *[F.col(o) for o in order_cols],
        F.struct(*left.columns).alias("__l"),
        F.lit(None).cast(r_struct_t).alias("__r"),
    )
    r2 = right.select(
        *[F.col(k) for k in keys],
        *[F.col(o) for o in order_cols],
        F.lit(None).cast(l_struct_t).alias("__l"),
        F.struct(*right.columns).alias("__r"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(o).asc() for o in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l2.unionByName(r2).withColumn(
        matched_col, F.last("__r", ignorenulls=True).over(w)
    )
    # A right row never shares the full order_cols tuple with a left row when
    # the order is total, so "up to current row" == "strictly before".
    return merged.filter(F.col("__l").isNotNull()).select(
        "__l.*", F.col(matched_col)
    )


def point_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Range join of points into half-open intervals ``[start, end)`` sharing
    ``keys``, as an equi-join: intervals explode into fixed-width buckets,
    points hash to their bucket, join on (keys, bucket), then the exact
    containment filter. ``point/start/end`` are integral (e.g. epoch
    micros via ``unix_micros``).

    Scale: the only shuffle is a hash join on (keys, bucket) — no
    BroadcastNestedLoopJoin. Interval duplication factor is
    ``len/bucket_width + 1``, so pick ``bucket_width`` near the typical
    interval length. Output: all interval columns + all point columns.
    """
    w = int(bucket_width)
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.col(start_col) / w).cast("long"),
                ((F.col(end_col) - 1) / w).cast("long"),
            )
        ),
    )
    pt = points.withColumn("__bucket", (F.col(point_col) / w).cast("long"))
    cond = [iv[k] == pt[k] for k in keys] + [iv["__bucket"] == pt["__bucket"]]
    joined = iv.join(pt, cond, how).filter(
        (pt[point_col] >= iv[start_col]) & (pt[point_col] < iv[end_col])
    )
    # keys survive once (interval side); other columns must not collide
    out = joined.drop(iv["__bucket"]).drop(pt["__bucket"])
    for k in keys:
        out = out.drop(pt[k])
    return out


# --- handlers ---------------------------------------------------------------

def _t_add_fields(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    out = apply_add_fields(
        df, params["addFields"], batch_id=ctx.get("batch_id"), run_id=ctx.get("run_id")
    )
    return {ctx["name"]: out}


def _t_validate_fields(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    result = split_ok_ko(df, params["validations"], cache=ctx.get("cache", True))
    name = ctx["name"]
    # Output naming parity: runner.py:351-357 derives {name}_ok / {name}_ko.
    return {f"{name}_ok": result.ok, f"{name}_ko": result.ko}


def _t_filter(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    return {ctx["name"]: df.filter(F.expr(params["condition"]))}


def _t_select(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """Projection; entries are column names or {"expr": ..., "alias": ...}."""
    df = _get(catalog, params["input"])
    cols: list[Column] = []
    for c in params["columns"]:
        if isinstance(c, dict):
            col = F.expr(c["expr"])
            if c.get("alias"):
                col = col.alias(c["alias"])
            cols.append(col)
        else:
            cols.append(F.col(c))
    return {ctx["name"]: df.select(*cols)}


def _t_join(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    left = _get(catalog, params["left"] if "left" in params else params["input"])
    right = _get(catalog, params["right"])
    how = params.get("how", "inner")
    if params.get("broadcast"):
        right = F.broadcast(right)
    on = params.get("on")
    if on is None:
        condition = params.get("condition")
        if condition is None:
            raise ValueError("join requires 'on' (column names) or 'condition' (expr)")
        return {ctx["name"]: left.join(right, F.expr(condition), how)}
    if isinstance(on, str):
        on = [on]
    return {ctx["name"]: left.join(right, on, how)}


def _agg_exprs(aggregations: list[Any]) -> list[Column]:
    cols = []
    for a in aggregations:
        if isinstance(a, dict):
            col = F.expr(a["expr"])
            if a.get("alias"):
                col = col.alias(a["alias"])
            cols.append(col)
        else:
            cols.append(F.expr(str(a)))
    return cols


def _t_aggregate(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    group_by = params.get("groupBy", [])
    mode = params.get("mode", "groupBy")  # groupBy | cube | rollup
    aggs = _agg_exprs(params["aggregations"])
    if not group_by:
        return {ctx["name"]: df.agg(*aggs)}
    grouped = {
        "groupBy": df.groupBy,
        "cube": df.cube,
        "rollup": df.rollup,
    }[mode](*group_by)
    return {ctx["name"]: grouped.agg(*aggs)}


def _t_window(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    w = Window.partitionBy(*params.get("partitionBy", []))
    if params.get("orderBy"):
        w = w.orderBy(*_order_cols(params["orderBy"]))
    frame = params.get("frame")
    if frame:
        lo = frame.get("start", Window.unboundedPreceding)
        hi = frame.get("end", Window.currentRow)
        if frame.get("type", "rows") == "range":
            w = w.rangeBetween(lo, hi)
        else:
            w = w.rowsBetween(lo, hi)
    out = df
    for fn in params["functions"]:
        out = out.withColumn(fn["alias"], F.expr(fn["expr"]).over(w))
    return {ctx["name"]: out}


def _t_sort(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    out = df.orderBy(*_order_cols(params["orderBy"]))
    if params.get("limit") is not None:
        out = out.limit(int(params["limit"]))
    return {ctx["name"]: out}


def _t_limit(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    return {ctx["name"]: _get(catalog, params["input"]).limit(int(params["limit"]))}


def _t_distinct(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    subset = params.get("columns")
    out = df.dropDuplicates(subset) if subset else df.distinct()
    return {ctx["name"]: out}


def _t_set_op(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """union | unionAll | intersect | except (SURVEY §2.7, U1/U2)."""
    inputs = params["inputs"]
    op = params.get("op", "unionAll")
    dfs = [_get(catalog, n) for n in inputs]
    out = dfs[0]
    for d in dfs[1:]:
        if op in ("union", "unionAll", "unionByName"):
            out = out.unionByName(d, allowMissingColumns=bool(params.get("allowMissingColumns", False)))
        elif op == "intersect":
            out = out.intersect(d)
        elif op == "except":
            out = out.exceptAll(d)
        else:
            raise ValueError(f"Unsupported set op: {op}")
    if op == "union":  # UNION DISTINCT semantics
        out = out.distinct()
    return {ctx["name"]: out}


def _t_dedup(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    df = _get(catalog, params["input"])
    out = dedup_keep_latest(
        df,
        params["keyColumns"] if "keyColumns" in params else params["key_column"],
        params.get("orderBy", params.get("order_by", [])),
        params.get("orderDirection", params.get("order_direction", "DESC")),
        deterministic=bool(params.get("deterministic", False)),
    )
    return {ctx["name"]: out}


def _t_sql(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """Full SQL escape hatch: registers the catalog as temp views, runs a
    statement. Catalyst compiles it identically to the Column API."""
    spark = ctx["spark"]
    for name, df in catalog.items():
        df.createOrReplaceTempView(name)
    return {ctx["name"]: spark.sql(params["statement"])}


def _t_asof_join(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    left = _get(catalog, params["left"] if "left" in params else params["input"])
    right = _get(catalog, params["right"])
    out = asof_join(
        left, right, params["keys"], params["orderCols"],
        params.get("matchedCol", "matched"),
    )
    return {ctx["name"]: out}


def _t_range_join(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    points = _get(catalog, params["points"])
    intervals = _get(catalog, params["intervals"])
    out = point_interval_join(
        points, intervals, params["keys"], params["pointCol"],
        params["startCol"], params["endCol"], int(params["bucketWidth"]),
        params.get("how", "inner"),
    )
    return {ctx["name"]: out}


# --- extension-op handlers (LLM-pipeline surface as metadata transforms) ----

def _t_chunk(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    from .text import chunk_documents

    df = _get(catalog, params["input"])
    out = chunk_documents(
        df,
        text_col=params.get("textCol", "text"),
        id_col=params.get("idCol", "doc_id"),
        chunk_size=int(params.get("chunkSize", 128)),
        stride=int(params.get("stride", 96)),
    )
    return {ctx["name"]: out}


def _t_gap_fill(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    from .timeseries import gap_fill

    df = _get(catalog, params["input"])
    agg = None
    if "aggregations" in params:
        agg = {a["alias"]: F.expr(a["expr"]) for a in params["aggregations"]}
    out = gap_fill(
        df,
        key_col=params["keyCol"],
        ts_col=params["tsCol"],
        step=params.get("step", "1 hour"),
        agg=agg,
    )
    return {ctx["name"]: out}


def _t_kmeans_assign(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    from .clustering import kmeans_assign

    df = _get(catalog, params["input"])
    centroids = _get(catalog, params["centroids"])
    out = kmeans_assign(
        df,
        centroids,
        id_col=params.get("idCol", "vec_id"),
        vec_col=params.get("vecCol", "embedding"),
        centroid_id_col=params.get("centroidIdCol", "cluster_id"),
        centroid_vec_col=params.get("centroidVecCol", "centroid"),
    )
    return {ctx["name"]: out}


def _t_semdedup(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    from .similarity import semdedup_pairs

    df = _get(catalog, params["input"])
    centroids = _get(catalog, params["centroids"])
    out = semdedup_pairs(
        df,
        centroids,
        threshold=float(params.get("threshold", 0.8)),
        id_col=params.get("idCol", "vec_id"),
        vec_col=params.get("vecCol", "embedding"),
    )
    return {ctx["name"]: out}


def _t_text_dedup(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """Corpus dedup as a metadata transform. ``mode``: ``exact`` (content
    fingerprint), ``minhash`` (LSH→verify, keep lowest id), ``keep_best``
    (near-dup groups, keep highest-quality member; quality defaults to
    text length, or any SQL expression via ``qualityExpr``), ``span``
    (sub-document fixed-width span dedup, ExactSubstr-style),
    ``incremental`` (within-batch dedup + anti-join probe against the
    fingerprint index named by ``indexInput``), or
    ``minhash_incremental`` (fuzzy: within-batch LSH + exact verify,
    then a banded sketch-agreement probe into the signatures-only
    MinHash index named by ``indexInput``)."""
    from . import dedup as dd
    from .clustering import neardup_keep_best

    df = _get(catalog, params["input"])
    mode = params.get("mode", "exact")
    text_col = params.get("textCol", "text")
    id_col = params.get("idCol", "doc_id")
    if mode == "exact":
        out = dd.exact_dedup(
            df, text_col=text_col, id_col=id_col,
            normalize=bool(params.get("normalize", True)),
        )
    elif mode == "minhash":
        out = dd.minhash_dedup(
            df, text_col=text_col, id_col=id_col,
            num_hashes=int(params.get("numHashes", 16)),
            bands=int(params.get("bands", 4)),
            jaccard_threshold=float(params.get("jaccardThreshold", 0.8)),
            hash_fn=params.get("hashFn", "md5"),
        )
    elif mode == "keep_best":
        quality = (
            F.expr(params["qualityExpr"]) if "qualityExpr" in params else None
        )
        out = neardup_keep_best(
            df, quality=quality, text_col=text_col, id_col=id_col,
            num_hashes=int(params.get("numHashes", 16)),
            bands=int(params.get("bands", 4)),
            jaccard_threshold=float(params.get("jaccardThreshold", 0.8)),
        )
    elif mode == "span":
        out = dd.span_dedup(
            df, text_col=text_col, id_col=id_col,
            span_tokens=int(params.get("spanTokens", 32)),
        )
    elif mode == "incremental":
        out = dd.incremental_dedup(
            df, _get(catalog, params["indexInput"]),
            text_col=text_col, id_col=id_col,
            fp_col=params.get("fpCol", "fingerprint"),
            normalize=bool(params.get("normalize", True)),
        )
    elif mode == "minhash_incremental":
        # fuzzy ingestion-time flow: within-batch LSH + exact verify,
        # then a banded probe into the signatures-only index named by
        # ``indexInput`` (build one with operators.dedup.minhash_index)
        out = dd.incremental_minhash_dedup(
            df, _get(catalog, params["indexInput"]),
            text_col=text_col, id_col=id_col,
            num_hashes=int(params.get("numHashes", 16)),
            bands=int(params.get("bands", 4)),
            jaccard_threshold=float(params.get("jaccardThreshold", 0.8)),
            sig_threshold=float(params.get("sigThreshold", 0.5)),
            hash_fn=params.get("hashFn", "md5"),
        )
    else:
        raise ValueError(f"unknown text_dedup mode: {mode!r}")
    return {ctx["name"]: out}


def _t_text_analyze(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """Text-analysis transforms: ``profile`` (lang-id + quality + token
    counts), ``entropy`` (bigram Shannon entropy), ``pii_redact``,
    ``gopher`` (published Gopher rule flags + keep), ``classifier``
    (hashed bag-of-words linear model; ``weights`` list + optional
    ``bias``/``threshold``/``hashFn``), ``vocab`` (frequency-ranked
    vocabulary build), ``encode`` (token-to-id sequences via the
    vocabulary relation named by ``vocabInput``), or ``search``
    (BM25-style keyword retrieval over ``terms``)."""
    from . import text as tx

    df = _get(catalog, params["input"])
    mode = params.get("mode", "profile")
    text_col = params.get("textCol", "text")
    id_col = params.get("idCol", "doc_id")
    if mode == "profile":
        out = tx.text_profile(df, text_col=text_col)
    elif mode == "entropy":
        out = tx.bigram_entropy(df, text_col=text_col, id_col=id_col)
    elif mode == "pii_redact":
        out = df.withColumn(
            params.get("outputCol", text_col),
            tx.redact_pii(F.col(text_col)),
        )
    elif mode == "gopher":
        out = tx.gopher_rules(
            df, text_col=text_col,
            min_words=int(params.get("minWords", 50)),
            max_words=int(params.get("maxWords", 100_000)),
            # A1.1 default is 2 DISTINCT required words; expose the knob
            # because synthetic/word-soup corpora may carry fewer
            min_stopword_hits=int(params.get("minStopwordHits", 2)),
        )
    elif mode == "classifier":
        out = tx.quality_classifier(
            df, [float(w) for w in params["weights"]],
            bias=float(params.get("bias", 0.0)),
            text_col=text_col, id_col=id_col,
            threshold=float(params.get("threshold", 0.0)),
            hash_fn=params.get("hashFn", "md5"),
        )
    elif mode == "vocab":
        out = tx.build_vocab(
            df, text_col=text_col,
            min_count=int(params.get("minCount", 1)),
            num_special=int(params.get("numSpecial", 1)),
        )
    elif mode == "encode":
        out = tx.encode_with_vocab(
            df, _get(catalog, params["vocabInput"]),
            text_col=text_col, id_col=id_col,
            unk_id=int(params.get("unkId", 0)),
        )
    elif mode == "search":
        out = tx.keyword_search(
            df, [str(t) for t in params["terms"]],
            k=int(params.get("k", 10)),
            k1=float(params.get("k1", 1.2)),
            b=float(params.get("b", 0.75)),
            text_col=text_col, id_col=id_col,
        )
    elif mode == "hybrid_search":
        out = tx.hybrid_search(
            df, [str(t) for t in params["terms"]],
            [float(x) for x in params["queryVec"]],
            k=int(params.get("k", 10)),
            pool=int(params.get("pool", 50)),
            k_rrf=int(params.get("kRrf", 60)),
            text_col=text_col,
            emb_col=params.get("embCol", "embedding"),
            id_col=id_col,
        )
    else:
        raise ValueError(f"unknown text_analyze mode: {mode!r}")
    return {ctx["name"]: out}


def _t_embedding_dedup(
    catalog: Catalog, params: dict, ctx: dict
) -> dict[str, DataFrame]:
    """Embedding-cosine near-dup as a metadata transform — the
    candidates→verify path (banded sign-LSH candidates, exact cosine
    verify; dedup.embedding_neardup_pairs). ``mode``: ``pairs`` emits
    (id_a, id_b, cosine) rows ≥ ``threshold``; ``dedup`` removes the
    higher-id member of every verified pair (same greedy survivor rule as
    minhash_dedup)."""
    from . import dedup as dd

    df = _get(catalog, params["input"])
    id_col = params.get("idCol", "vec_id")
    kwargs = dict(
        emb_col=params.get("embCol", "embedding"),
        id_col=id_col,
        threshold=float(params.get("threshold", 0.95)),
        dim=int(params["dim"]) if "dim" in params else None,
        bits=int(params.get("bits", 14)),
        bands=int(params.get("bands", 32)),
    )
    pairs = dd.embedding_neardup_pairs(df, **kwargs)
    mode = params.get("mode", "pairs")
    if mode == "pairs":
        out = pairs
    elif mode == "dedup":
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        out = df.join(losers, id_col, "left_anti")
    else:
        raise ValueError(f"unknown embedding_dedup mode: {mode!r}")
    return {ctx["name"]: out}


def _t_sample(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    from .sampling import (
        domain_mix,
        hash_sample,
        stratified_hash_sample,
        train_test_split,
    )

    df = _get(catalog, params["input"])
    mode = params.get("mode", "hash")
    if mode == "hash":
        out = hash_sample(
            df, params["keyCol"], float(params["fraction"]),
            salt=params.get("salt", "sample"),
        )
    elif mode == "stratified":
        out = stratified_hash_sample(
            df, params["keyCol"], params["stratumCol"],
            {str(k): float(v) for k, v in params["fractions"].items()},
            default_fraction=float(params.get("defaultFraction", 0.0)),
            salt=params.get("salt", "stratified"),
        )
    elif mode == "split":
        out = train_test_split(
            df, params["keyCol"],
            test_fraction=float(params.get("testFraction", 0.1)),
            validation_fraction=float(params.get("validationFraction", 0.0)),
            salt=params.get("salt", "split"),
        )
    elif mode == "domain_mix":
        out = domain_mix(
            df, params["keyCol"], params["domainCol"],
            {str(k): float(v) for k, v in params["weights"].items()},
            salt=params.get("salt", "mix"),
        )
    elif mode == "per_group":
        from .sampling import sample_per_group

        out = sample_per_group(
            df, params["groupCol"], int(params["k"]), params["keyCol"],
            salt=params.get("salt", "grp"),
        )
    elif mode == "epoch":
        from .sampling import epoch_shuffle

        out = epoch_shuffle(
            df, params["keyCol"], epoch=int(params.get("epoch", 0)),
            order_col=params.get("orderCol", "position"),
        )
    elif mode == "token_budget":
        from .sampling import token_budget_sample

        budgets = params["budgets"]
        out = token_budget_sample(
            df,
            {str(k): int(v) for k, v in budgets.items()}
            if isinstance(budgets, dict)
            else int(budgets),
            domain_col=params.get("domainCol", "source"),
            token_col=params.get("tokenCol", "n_tokens"),
            key_col=params.get("keyCol", "doc_id"),
            salt=params.get("salt", ""),
        )
    elif mode == "dsir_weights":
        # DSIR importance weights of `input` against the `target`
        # relation's distribution (operators/dsir.py)
        from .dsir import dsir_weights

        out = dsir_weights(
            df,
            _get(catalog, params["target"]),
            text_col=params.get("textCol", "text"),
            id_col=params.get("keyCol", "doc_id"),
            buckets=int(params.get("buckets", 8192)),
        )
    elif mode == "dsir":
        # DSIR selection: Gumbel top-k of `input` docs by importance
        # against the `target` relation (weighted sampling without
        # replacement, deterministic draw)
        from .dsir import dsir_topk

        out = dsir_topk(
            df,
            _get(catalog, params["target"]),
            int(params["k"]),
            text_col=params.get("textCol", "text"),
            id_col=params.get("keyCol", "doc_id"),
            buckets=int(params.get("buckets", 8192)),
            salt=params.get("salt", "dsir"),
        )
    else:
        raise ValueError(f"unknown sample mode: {mode!r}")
    return {ctx["name"]: out}


def _t_profile(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """Data-quality observability as a metadata transform. ``mode``:
    ``profile`` (exact per-column nulls/distincts/bounds of ``input``) or
    ``drift`` (compare the profiles of ``input`` vs ``against`` — the
    per-batch schema/content regression gate; tolerances via
    ``nullRateTolerance`` / ``distinctRatioTolerance``)."""
    from .profile import profile_drift, table_profile

    df = _get(catalog, params["input"])
    mode = params.get("mode", "profile")
    cols = params.get("columns")
    if mode == "profile":
        out = table_profile(df, cols)
    elif mode == "drift":
        against = _get(catalog, params["against"])
        out = profile_drift(
            table_profile(against, cols),
            table_profile(df, cols),
            null_rate_tolerance=float(params.get("nullRateTolerance", 0.01)),
            distinct_ratio_tolerance=float(
                params.get("distinctRatioTolerance", 0.5)
            ),
        )
    else:
        raise ValueError(f"unknown profile mode: {mode!r}")
    return {ctx["name"]: out}


def _t_embedding_index(
    catalog: Catalog, params: dict, ctx: dict
) -> dict[str, DataFrame]:
    """Embedding index-build transforms — the compression/search ladder as
    metadata. ``mode``: ``quantize`` (int8 SQ), ``pq_encode`` (codes from
    the ``codebooks`` relation, or trained inline when ``trainK`` is
    given), ``ivf_build`` (coarse-cell assignment for partitioned write).
    """
    from . import similarity as sim

    df = _get(catalog, params["input"])
    mode = params.get("mode", "quantize")
    id_col = params.get("idCol", "vec_id")
    emb_col = params.get("embCol", "embedding")
    if mode == "quantize":
        out = sim.quantize_embeddings(df, emb_col=emb_col, id_col=id_col)
    elif mode == "pq_encode":
        m = int(params.get("m", 8))
        dim = int(params["dim"])
        if "codebooks" in params:
            cb = _get(catalog, params["codebooks"])
        else:
            cb = sim.train_pq_codebooks(
                df, m=m, dim=dim, k=int(params.get("trainK", 16)),
                iters=int(params.get("iters", 2)),
                id_col=id_col, vec_col=emb_col,
            )
        out = sim.pq_encode(df, cb, m=m, dim=dim, id_col=id_col, vec_col=emb_col)
    elif mode == "ivf_build":
        out = sim.ivf_build_index(
            df, dim=int(params["dim"]),
            n_cells=int(params.get("nCells", 8)),
            id_col=id_col, emb_col=emb_col,
        )
    elif mode == "pca":
        model = sim.train_pca(
            df, emb_col=emb_col,
            n_components=int(params.get("nComponents", 16)),
            whiten=bool(params.get("whiten", False)),
        )
        out = sim.pca_project(
            df, model, emb_col=emb_col,
            out_col=params.get("outCol", "pca"),
        )
    else:
        raise ValueError(f"unknown embedding_index mode: {mode!r}")
    return {ctx["name"]: out}


def _t_corpus_diff(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """Snapshot diff between two named relations (``oldInput`` vs
    ``input``): per-id status added/removed/changed/unchanged by content
    fingerprint — the audit step between two curation runs."""
    from . import dedup as dd

    new = _get(catalog, params["input"])
    old = _get(catalog, params["oldInput"])
    out = dd.corpus_diff(
        old, new,
        text_col=params.get("textCol", "text"),
        id_col=params.get("idCol", "doc_id"),
    )
    return {ctx["name"]: out}


def _t_sketch(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """Mergeable sketches as metadata transforms. ``mode``:
    ``hll_shards`` (one binary HLL per ``shardCol`` value — persist
    beside the manifest for incremental distinct counts),
    ``hll_estimate`` (union stored shard sketches → one-row estimate),
    ``cms_build`` / ``cms_estimate`` (Count-Min frequency grid and
    term lookups against it), ``bloom_build`` / ``bloom_merge`` /
    ``bloom_probe`` (packed membership word table; probe needs the
    stored filter via ``bloom``), ``qhist_shards`` / ``qhist_merge`` /
    ``qhist_quantiles`` (mergeable equi-width quantile grids over
    ``lo``/``hi``/``bins``)."""
    from . import sketch as sk

    df = _get(catalog, params["input"])
    mode = params.get("mode", "hll_shards")
    if mode == "hll_shards":
        out = sk.hll_shard_sketches(
            df, params["keyCol"], params["shardCol"],
            lgk=int(params.get("lgk", 12)),
        )
    elif mode == "hll_estimate":
        out = sk.hll_merge(df)
    elif mode == "cms_build":
        out = sk.cms_build(
            df, text_col=params.get("textCol", "text"),
            depth=int(params.get("depth", 4)),
            width=int(params.get("width", 1024)),
            hash_fn=params.get("hashFn", "md5"),
        )
    elif mode == "cms_estimate":
        out = sk.cms_estimate(
            df, [str(t) for t in params["terms"]],
            depth=int(params.get("depth", 4)),
            width=int(params.get("width", 1024)),
            hash_fn=params.get("hashFn", "md5"),
        )
    elif mode == "bloom_build":
        out = sk.bloom_build(
            df, params["keyCol"],
            m_bits=int(params.get("mBits", 1 << 18)),
            k=int(params.get("k", 5)),
            hash_fn=params.get("hashFn", "md5"),
        )
    elif mode == "bloom_merge":
        out = sk.bloom_merge(df)
    elif mode == "bloom_probe":
        out = sk.bloom_probe(
            df, params["keyCol"], _get(catalog, params["bloom"]),
            m_bits=int(params.get("mBits", 1 << 18)),
            k=int(params.get("k", 5)),
            hash_fn=params.get("hashFn", "md5"),
        )
    elif mode == "qhist_shards":
        out = sk.qhist_shard_sketches(
            df, params["valueCol"], params["shardCol"],
            lo=float(params["lo"]), hi=float(params["hi"]),
            bins=int(params.get("bins", 512)),
        )
    elif mode == "qhist_merge":
        out = sk.qhist_merge(df)
    elif mode == "qhist_quantiles":
        out = sk.qhist_quantiles(
            df, [float(q) for q in params["qs"]],
            lo=float(params["lo"]), hi=float(params["hi"]),
            bins=int(params.get("bins", 512)),
        )
    else:
        raise ValueError(f"unknown sketch mode: {mode!r}")
    return {ctx["name"]: out}


def _t_tokenize(catalog: Catalog, params: dict, ctx: dict) -> dict[str, DataFrame]:
    """BPE tokenizer as metadata. ``mode``: ``bpe_train`` (learn
    ``nMerges`` rules from ``input`` → merge table) or ``bpe_encode``
    (apply the ``merges`` relation — or train inline when absent — to
    ``input``; emits ``(idCol, bpe_tokens, n_bpe_tokens)``)."""
    from . import tokenizer as tk

    df = _get(catalog, params["input"])
    mode = params.get("mode", "bpe_train")
    text_col = params.get("textCol", "text")
    if mode == "bpe_train":
        out = tk.bpe_train(
            df, text_col=text_col,
            n_merges=int(params.get("nMerges", 20)),
            min_freq=int(params.get("minFreq", 1)),
        )
    elif mode == "bpe_encode":
        if "merges" in params:
            merges = _get(catalog, params["merges"])
        else:
            merges = tk.bpe_train(
                df, text_col=text_col,
                n_merges=int(params.get("nMerges", 20)),
                min_freq=int(params.get("minFreq", 1)),
            )
        out = tk.bpe_encode(
            df, merges, text_col=text_col,
            id_col=params.get("idCol", "doc_id"),
        )
    else:
        raise ValueError(f"unknown tokenize mode: {mode!r}")
    return {ctx["name"]: out}


TRANSFORM_TYPES: dict[str, TransformHandler] = {
    "add_fields": _t_add_fields,
    "validate_fields": _t_validate_fields,
    "filter": _t_filter,
    "select": _t_select,
    "join": _t_join,
    "aggregate": _t_aggregate,
    "window": _t_window,
    "sort": _t_sort,
    "limit": _t_limit,
    "distinct": _t_distinct,
    "set_op": _t_set_op,
    "dedup": _t_dedup,
    "sql": _t_sql,
    "asof_join": _t_asof_join,
    "range_join": _t_range_join,
    "chunk": _t_chunk,
    "gap_fill": _t_gap_fill,
    "kmeans_assign": _t_kmeans_assign,
    "semdedup": _t_semdedup,
    "sample": _t_sample,
    "profile": _t_profile,
    "text_dedup": _t_text_dedup,
    "text_analyze": _t_text_analyze,
    "embedding_dedup": _t_embedding_dedup,
    "embedding_index": _t_embedding_index,
    "corpus_diff": _t_corpus_diff,
    "sketch": _t_sketch,
    "tokenize": _t_tokenize,
}


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak_col: str | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group via AGGREGATION, not a window.

    ``row_number() OVER (PARTITION BY g ORDER BY x)`` must shuffle and
    fully sort every partition before it can cut at k. This formulation
    instead does `collect_list(struct) → sort_array → slice(k)` inside a
    hash aggregate: the map side already combines partial lists, the sort
    is per-group over at most the group's rows, and only k structs per
    group survive the shuffle when groups are pre-aggregated map-side.
    For heavy-hitter groups at 100 TB the window form sorts millions of
    rows per group to keep 10; this form carries the same rows through ONE
    agg with no global sort. (Trade-off: collect_list buffers a group's
    rows in memory on the reduce side — for groups too large for that,
    pre-filter with an approximate threshold first.)

    Ties are broken by ``tiebreak_col`` (defaults to the first group col
    being unique per row is NOT assumed — pass a unique column for
    determinism). Output: group cols + order/tiebreak cols + ``rank_col``
    (1-based).
    """
    if tiebreak_col is None:
        raise ValueError("pass a unique tiebreak_col for deterministic top-k")
    pair = F.struct(
        F.col(order_col).alias("__o"), F.col(tiebreak_col).alias("__t")
    )
    arr = F.slice(
        F.sort_array(F.collect_list(pair), asc=not descending), 1, k
    )
    agged = df.groupBy(*group_cols).agg(arr.alias("__top"))
    exploded = agged.select(
        *group_cols, F.posexplode("__top").alias("__pos", "__pair")
    )
    return exploded.select(
        *group_cols,
        F.col("__pair.__o").alias(order_col),
        F.col("__pair.__t").alias(tiebreak_col),
        (F.col("__pos") + 1).alias(rank_col),
    )
