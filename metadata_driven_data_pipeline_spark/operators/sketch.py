"""Count-Min sketch: mergeable frequency estimation for token streams.

Completes the sketch family (MinHash/SimHash for similarity, SQ8/PQ for
vectors) with the standard frequency sketch (Cormode & Muthukrishnan
2005): ``d`` hash rows × ``w`` counters; an item's estimate is the MIN
over its ``d`` counters — always an OVER-estimate, with
``est ≤ true + εN`` where ``ε ≈ e/w`` holds with probability
``1 − e^{−d}``.

Cardinality lives here too: beyond the inline ``approx_count_distinct``
(``approx_stats``), ``hll_shard_sketches``/``hll_merge`` expose the HLL
sketch AS DATA — per-batch binary sketches that persist beside the
manifest and merge across days/sources without rescanning history.

Why it earns a place at 100 TB: exact token counts need a shuffle keyed
by EVERY DISTINCT TOKEN (billions of keys, skewed); the sketch is a
FIXED d×w integer grid that partial-aggregates map-side and merges by
plain addition — the shuffle carries at most d·w rows regardless of
vocabulary size, and sketches from different corpus shards/days merge by
summing counters (the property exact top-k lacks).

Every hash is md5-derived (same ``_hash60`` lane as MinHash), so counter
grids and estimates are bit-reproducible by an ANSI-SQL oracle — the
sketch is CERTIFIED, not just plausible. A ``xxhash64`` production lane
mirrors the MinHash policy.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metadata_driven_data_pipeline_spark.operators.dedup import (
    MERSENNE31,
    _base_hash,
)
from metadata_driven_data_pipeline_spark.operators.text import (
    normalize_text,
    tokens,
)


def _bucket(token: Column, depth: int, width: int, hash_fn: str) -> Column:
    """Row-``depth`` bucket of a token: seed-prefixed base hash mod w."""
    return _base_hash(
        F.concat(F.lit(f"cms{depth}:"), token), hash_fn
    ) % F.lit(width)


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5",
) -> DataFrame:
    """Build the sketch over the corpus token stream (every occurrence
    counts, not distinct): returns ``(depth, bucket, cnt)`` — at most
    ``d·w`` rows whatever the vocabulary size.

    Scale shape: tokenize → explode → one hash aggregate on (depth,
    bucket); the explode fans out d rows per token but they partial-
    aggregate map-side into the fixed grid before the shuffle, so the
    exchange carries ≤ d·w rows per map partition. Merge sketches from
    other shards by unioning and re-summing (counters are additive).
    """
    toks = df.select(
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("__tok")
    )
    rows = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _bucket(F.col("__tok"), d, width, hash_fn).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__db")
    ).select("__db.depth", "__db.bucket")
    return rows.groupBy("depth", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    cms: DataFrame,
    terms: list[str],
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5",
) -> DataFrame:
    """Estimated occurrence count per query term: ``min`` over the
    term's ``d`` counters (0 when a counter row is absent — an empty
    bucket was never materialized). Returns ``(term, est)``.

    The query side is a ``d·|terms|``-row lookup table joined against
    the sketch — broadcast-sized both sides; no corpus access at all
    (the point: estimation happens wherever the d×w grid lives).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    spark = cms.sparkSession
    lookup = spark.createDataFrame(
        [(t,) for t in sorted(set(terms))], "term string"
    ).select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _bucket(F.col("term"), d, width, hash_fn).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__db"),
    ).select("term", "__db.depth", "__db.bucket")
    joined = lookup.join(cms, ["depth", "bucket"], "left").select(
        "term", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return joined.groupBy("term").agg(F.min("cnt").alias("est"))


def hll_shard_sketches(
    df: DataFrame,
    key_col: str,
    shard_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Per-shard HLL cardinality sketch: ``(shard, sketch, shard_est)``.

    The incremental-distinct building block: each ingestion batch / day /
    source shard reduces to ONE binary Datasketches HLL (2^lgk registers,
    rel. std err ≈ 1.04/√2^lgk — ~1.6% at lgk=12) that can be persisted
    next to the manifest watermark. Corpus-wide distinct counts then
    merge the stored sketches (register-wise max — associative,
    commutative, idempotent) WITHOUT rescanning history — the property
    plain ``approx_count_distinct`` results lack (two counts don't add:
    shards share keys). Shuffle carries one ~2^lgk-byte row per shard.

    Runs on Spark's built-in ``hll_sketch_agg`` (JVM Datasketches lane,
    map-side partial aggregation; no Python in the hot path).
    """
    return df.groupBy(F.col(shard_col).alias("shard")).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("sketch")
    )


def hll_merge(sketches: DataFrame) -> DataFrame:
    """Union stored shard sketches into one estimate row ``(est)``.

    ``hll_union_agg`` is register-wise max, so re-merging overlapping or
    replayed shards never double-counts (idempotent) — safe under the
    at-least-once reprocessing the manifest allows.
    """
    return sketches.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"), F.lit(True))
        ).alias("est")
    )


# ---------------------------------------------------------------------------
# Bloom filter: mergeable set-membership sketch (Bloom 1970).
#
# The membership rung of the sketch family: CMS answers "how often", HLL
# answers "how many distinct", the Bloom filter answers "have we seen this
# key" with NO false negatives and a tunable false-positive rate
# ``(1 - e^{-kn/m})^k``.  Its job at 100 TB is PREFILTERING the
# incremental-dedup probe: the exact fingerprint index holds billions of
# rows, but a bloom built over it is a fixed bit array (m/32 rows of
# packed words) that broadcast-joins against each ingestion batch
# map-side.  Keys the bloom rejects are GUARANTEED new (no shuffle, no
# index access at all); only the small bloom-positive candidate set pays
# the exact anti-join.  Like the HLL/CMS sketches, the word table is
# stored data: filters from disjoint corpus shards merge by bitwise OR
# (associative, commutative, idempotent — replay-safe).
#
# Reference scope note: the reference engine (pipeline/consolidator.py,
# pipeline/validator.py) re-reads whole outputs per batch; sketch-backed
# membership is part of this rebuild's scale surface, not a ported file.
# ---------------------------------------------------------------------------


def _bloom_positions(key: Column, m_bits: int, k: int, hash_fn: str) -> Column:
    """Array of ``k`` bit positions for a key (seed-prefixed base hashes,
    same md5-oracle / xxhash64-production lane split as MinHash/CMS)."""
    return F.array(
        *[
            (
                _base_hash(F.concat(F.lit(f"bloom{j}:"), key), hash_fn)
                % F.lit(m_bits)
            )
            for j in range(k)
        ]
    )


def _word_mask(pos: Column) -> tuple[Column, Column]:
    """(word index, 32-bit mask) for a bit position. 32-bit words inside
    BIGINT keep ``1 << bit`` positive and bit-identical across engines
    (a 64-bit word would need bit 63, whose sign differs by dialect)."""
    word = F.floor(pos / F.lit(32)).cast("long")
    # 2^bit (exact in double up to 2^52) instead of shiftleft: Spark's
    # shiftleft only takes a literal shift amount, and pow keeps the
    # expression reproducible verbatim in the DuckDB oracle.
    mask = F.pow(F.lit(2.0), (pos % 32).cast("double")).cast("long")
    return word, mask


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 18,
    k: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Build the filter over a key column: ``(word, bits)`` — at most
    ``m_bits/32`` rows whatever the corpus size.

    Scale shape: one narrow projection (k positions per key), then a
    hash aggregate whose key space is capped at m/32 — partial
    ``bit_or`` happens map-side, so the shuffle carries at most m/32
    rows per upstream partition regardless of how many billions of keys
    feed it.  Shard filters from separate builds merge with
    :func:`bloom_merge` (bitwise OR) without touching the corpus again.
    """
    pos = F.explode(
        _bloom_positions(F.col(key_col), m_bits, k, hash_fn)
    ).alias("pos")
    exploded = df.select(pos)
    word, mask = _word_mask(F.col("pos"))
    return (
        exploded.select(word.alias("word"), mask.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(filters: DataFrame) -> DataFrame:
    """OR together stored shard filters (same ``m_bits``/``k``):
    idempotent and replay-safe, like :func:`hll_merge`."""
    return filters.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_pack(spark, bloom: DataFrame, m_bits: int):
    """Pack the word table into a broadcast numpy uint64 bit array for
    the ``bitarray`` probe lane — do this ONCE per index generation and
    reuse across ingestion batches (the array is the servable form of
    the stored sketch; re-pack only after :func:`bloom_merge` folds in
    new shards).  Only the fixed m/4-byte sketch (m/32 uint64 entries,
    each holding one packed 32-bit word) crosses the driver, never
    corpus rows."""
    import numpy as np

    words = bloom.toPandas()
    arr = np.zeros(m_bits // 32 + 1, dtype=np.uint64)
    arr[words["word"].to_numpy()] = words["bits"].to_numpy(dtype=np.uint64)
    return spark.sparkContext.broadcast(arr)


def bloom_probe(
    keys_df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 18,
    k: int = 5,
    hash_fn: str = "md5",
    impl: str = "join",
    packed=None,
) -> DataFrame:
    """Membership test: adds ``maybe_seen`` to ``keys_df`` (true = all
    k bits set — a candidate, possibly false-positive; false =
    DEFINITELY unseen).  All other input columns pass through.  Both
    impls hash JVM-side and return identical decisions:

    - ``"join"``: k broadcast-hash lookups against the ≤ m/32-row word
      table, each map-side — pure-SQL, the oracle lane.  The broadcast
      hash relation costs O(m/32) to build per batch, so this lane is
      for moderate ``m``.
    - ``"bitarray"``: the PRODUCTION lane at large ``m`` — the word
      table packs into a numpy uint64 array on the driver (m/4 bytes,
      one packed 32-bit word per entry; only the fixed-size sketch
      crosses the driver, never corpus rows), broadcasts once (~8 MB
      at m=2^25 vs a ~100 MB 1M-row hash relation), and an
      Arrow-vectorized pandas UDF does the bit lookups on positions
      computed JVM-side.  Measured with tools/probe_bloom.py at commit
      5a5a0bc (BASELINE.md); no shuffle of the probed frame either way.
    """
    if impl == "bitarray":
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        b = packed
        if b is None:
            b = bloom_pack(keys_df.sparkSession, bloom, m_bits)

        @pandas_udf("boolean")
        def _probe(pos: pd.Series) -> pd.Series:
            # reshape keeps the empty Arrow batch 2-D (an empty
            # 1-D array would crash hit.all(axis=1))
            mat = np.array(pos.tolist(), dtype=np.int64).reshape(-1, k)
            a = b.value
            hit = (a[mat // 32] >> (mat % 32).astype(np.uint64)) & 1
            return pd.Series(hit.all(axis=1))

        return keys_df.withColumn(
            "maybe_seen",
            _probe(_bloom_positions(F.col(key_col), m_bits, k, hash_fn)),
        )
    if impl != "join":
        raise ValueError(f"unknown impl {impl!r}; use 'join' or 'bitarray'")
    out = keys_df
    hits = []
    for j in range(k):
        pos = _base_hash(
            F.concat(F.lit(f"bloom{j}:"), F.col(key_col)), hash_fn
        ) % F.lit(m_bits)
        word, mask = _word_mask(pos)
        side = bloom.select(
            F.col("word").alias(f"__bw{j}"),
            F.col("bits").alias(f"__bb{j}"),
        )
        out = (
            out.withColumn(f"__bw{j}", word)
            .withColumn(f"__bm{j}", mask)
            .join(F.broadcast(side), f"__bw{j}", "left")
        )
        hits.append(
            F.coalesce(F.col(f"__bb{j}"), F.lit(0)).bitwiseAND(
                F.col(f"__bm{j}")
            )
            == F.col(f"__bm{j}")
        )
    cond = hits[0]
    for h in hits[1:]:
        cond = cond & h
    scratch = [c for j in range(k) for c in (f"__bw{j}", f"__bb{j}", f"__bm{j}")]
    return out.withColumn("maybe_seen", cond).drop(*scratch)


def bloom_prefilter_dedup(
    new_df: DataFrame,
    seen_fingerprints: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
    m_bits: int = 1 << 18,
    k: int = 5,
    hash_fn: str = "md5",
    normalize: bool = True,
    impl: str = "join",
    packed=None,
    confirm_pushdown_max: int | str = 0,
    index_path: str | None = None,
) -> DataFrame:
    """:func:`~metadata_driven_data_pipeline_spark.operators.dedup.incremental_dedup`
    with a bloom prefilter: EXACTLY the same output (the filter has no
    false negatives, and every bloom-positive candidate is re-checked
    against the real index), but the expensive anti-join probes only the
    candidate subset instead of the whole batch.

    At a 1% false-positive setting (k=5, m ≈ 10n bits) a 99%-fresh
    ingestion batch sends ~1% of its rows into the index join — the
    other 99% are cleared map-side against broadcast words.

    The confirm stage broadcasts the (small) candidate key set and
    SEMI-joins the index against it, so the index is scanned map-side
    but NEVER shuffled — the plain anti-join shuffles every index row
    per batch, which is exactly what a billions-row index can't afford
    (BASELINE.md records the crossover, measured with
    tools/probe_bloom.py at commit 5a5a0bc).  Candidate volume is
    bounded by dup_rate·batch + fp_rate·batch; if a pathological batch
    made it huge, Spark's broadcast limit fails fast rather than
    silently degrading.

    ``confirm_pushdown_max`` selects the confirm lane: 0 = always the
    broadcast-semi scan; N > 0 = IN-pushdown point lookups while the
    candidate set stays ≤ N (the driver collects at most N+1 keys —
    ``limit(N+1)`` — so a mis-sized filter can NEVER flood the driver;
    past the cap it falls through to the semi scan); ``"auto"`` =
    derive the cap from the stored index's byte size at call time
    (``index_path`` required). The r5 probe calibration
    (BASELINE.md; tools/probe_bloom.py at commit 5a5a0bc): the IN
    predicate's cost grows ~linearly with list size (~0.5 ms/key of
    plan+codegen at local[32])
    while the semi scan's cost grows with INDEX size, so the crossover
    is ~1k candidates on a 64 MB index and ~5k on a 640 MB one —
    ``cap = clamp(index_bytes / 96 KiB, 1024, 65536)`` tracks both
    points; file count alone does not (both probes had 64 files).
    """
    key = (
        F.md5(normalize_text(F.col(text_col)))
        if normalize
        else F.md5(F.col(text_col))
    )
    w = Window.partitionBy(fp_col).orderBy(F.col(id_col).asc())
    within = (
        new_df.withColumn(fp_col, key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    probed = bloom_probe(
        within, fp_col, bloom, m_bits, k, hash_fn, impl, packed
    )
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    candidates = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    cand_keys = candidates.select(fp_col).distinct()
    cap = confirm_pushdown_max
    if cap == "auto":
        if index_path is None:
            raise ValueError(
                "confirm_pushdown_max='auto' requires index_path"
            )
        from metadata_driven_data_pipeline_spark.sinks.maintenance import (
            table_file_stats,
        )

        nbytes = table_file_stats(new_df.sparkSession, index_path)["bytes"]
        cap = max(1024, min(65536, nbytes // (96 * 1024)))
    matches = None
    if cap:
        # point-lookup confirm: collect the (bounded, sketch-sized)
        # candidate keys and push them into the index scan as an IN
        # predicate — on an index STORED SORTED by fingerprint (layout/
        # compaction sort_by), parquet min/max stats prune the scan to
        # the files/row-groups that can contain a candidate, turning the
        # confirm into O(candidates) point reads instead of a full index
        # pass.  Worth it only up to the byte-calibrated candidate-count
        # crossover (see the docstring); past the cap, fall through to
        # the map-side semi scan.  The limit bounds the driver BEFORE
        # the collect: at most cap+1 keys ever land on it, however bad
        # the filter's FP rate.
        cap = int(cap)
        cand_list = [r[0] for r in cand_keys.limit(cap + 1).collect()]
        if len(cand_list) <= cap:
            matches = seen_fingerprints.select(fp_col).filter(
                F.col(fp_col).isin(cand_list)
            )
    if matches is None:
        matches = seen_fingerprints.select(fp_col).join(
            F.broadcast(cand_keys), fp_col, "left_semi"
        )
    confirmed_new = candidates.join(
        F.broadcast(matches.distinct()), fp_col, "left_anti"
    )
    return fresh.unionByName(confirmed_new)


# ---------------------------------------------------------------------------
# Mergeable quantile histogram: fixed-grid equi-width sketch.
#
# The quantile rung of the sketch family.  ``percentile_approx`` answers
# one-shot quantile queries, but its state is not STORED DATA the way the
# HLL/CMS/Bloom sketches here are: a fixed [lo, hi)×bins counting grid
# per shard IS — shard histograms persist beside the manifest, merge by
# plain counter addition (associative/commutative; replay of a DISTINCT
# shard set is safe), and any quantile of the union is answered later
# without rescanning history.  Error bound is explicit and certifiable:
# the estimate is the upper edge of the first bin whose cumulative count
# reaches ``q·n``, so |est − exact_quantile| ≤ one bin width (clamping
# pins values outside [lo, hi) to the edge bins; choose the grid from
# domain knowledge or a prior table_profile min/max).
#
# Everything is integer counts + literal-identical double arithmetic, so
# a DuckDB oracle reproduces the merged grid AND the estimates
# bit-for-bit — certified, not just plausible.
# ---------------------------------------------------------------------------


def _qhist_bin(value: Column, lo: float, step: float, bins: int) -> Column:
    """Clamped equi-width bin index of a value (double arithmetic both
    engines replicate literally)."""
    raw = F.floor((value.cast("double") - F.lit(lo)) / F.lit(step))
    return (
        F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("long")
    )


def qhist_shard_sketches(
    df: DataFrame,
    value_col: str,
    shard_col,
    lo: float,
    hi: float,
    bins: int = 512,
) -> DataFrame:
    """Per-shard quantile histogram: ``(shard, bin, cnt)`` — at most
    ``bins`` rows per shard whatever the shard's row count; counts
    partial-aggregate map-side so the shuffle is grid-sized, not
    data-sized.  ``shard_col`` may be a column name or Column expr."""
    step = (hi - lo) / bins
    shard = (
        F.col(shard_col) if isinstance(shard_col, str) else shard_col
    )
    return (
        df.select(
            shard.alias("shard"),
            _qhist_bin(F.col(value_col), lo, step, bins).alias("bin"),
        )
        .groupBy("shard", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qhist_merge(sketches: DataFrame) -> DataFrame:
    """Sum stored shard grids into one corpus grid ``(bin, cnt)``."""
    return sketches.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def qhist_quantiles(
    hist: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = 512,
) -> DataFrame:
    """Quantile estimates from a merged grid: ``(q, est)`` with
    ``est = lo + (bin+1)·step`` for the first bin whose cumulative count
    reaches ``q·n``.

    The grid is ≤ ``bins`` rows, so the single-partition cumulative
    window and the broadcast cross join against the q list are bounded
    small — only grid rows ever move, never corpus rows."""
    step = (hi - lo) / bins
    spark = hist.sparkSession
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("bin", "cnt").withColumn(
        "cum", F.sum("cnt").over(w)
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    cand = (
        qdf.crossJoin(F.broadcast(cum.crossJoin(F.broadcast(total))))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    return cand.select(
        "q",
        (F.lit(lo) + (F.col("bin") + F.lit(1)) * F.lit(step)).alias(
            "est"
        ),
    )
