"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>, ...,
   "curation": {...}, "curation_total": <sec>}

Each query is materialized with the `noop` sink — full distributed
execution (scan → shuffle → sink) with zero driver-side collection, so
the number measures the plan, not the driver.

Methodology (round-4 revision, per the r3 verdict: the recorded headline
swung 29% on cold-start + machine load while value_min_sum stayed flat):
- ONE full UNTIMED warm-up rep over every measured query first (JIT,
  parquet footer caches, codegen) — cold-start no longer lands in rep 1's
  samples.
- then $SPARK_GRAFT_BENCH_REPS timed reps (default 3); per-query MEDIAN
  is reported, min/max spread + per-rep totals included for audit, and
  `value_min_sum` (sum of per-query minima) is the load-insensitive
  lower envelope.

Two series:
- HEADLINE: the round-1 27-query set, unchanged for round-over-round
  comparability (BASELINE.md series).
- CURATION: the round-3 curation/search/PQ surface, previously untracked
  round-over-round (r3 verdict item 3). Reported under "curation"/
  "curation_total" in the same JSON line.
- SELECTION / TABLES: the round-5 DSIR and transaction-log-table
  surfaces, tracked the same way ("selection"/"tables" keys).

Output contract (round-8 revision, per the r7 verdict: BENCH_r07.json
recorded "parsed": null because the compact line itself outgrew the
driver's 2000-char stdout tail once per-query maps covered 6 series):
- Spark's console progress bars are disabled.
- The FULL payload (per-query medians, spreads, spills) goes to
  BENCH_RESULT.json next to this script AND is printed first on a
  line prefixed "BENCH_FULL: " (survives as a file either way).
- The LAST line printed is a SLIM JSON line (< ~1500 chars): metric/
  value/unit/sf/reps/rep_totals/value_min_sum/loadavg + per-series
  TOTALS and min-sums + per-series spill/shuffle-write bytes. NO
  per-query maps — those live only in BENCH_RESULT.json.

Spill attribution (round-8, r7 verdict item 8): each series records
shuffle/spill bytes measured from the AppStatusStore stage metrics
(delta across the series' timed reps), so a "query X inflated on
untouched code" diagnosis can point at measured spill instead of
inferring host I/O pressure from loadavg alone.

Load gating (round-10, r9 verdict item 7): a timed rep whose pre-rep
1-min loadavg exceeds $SPARK_GRAFT_LOAD_QUIET_MAX (default 6.0) is
marked contaminated and replaced by an extra rep (at most 2x reps
attempts per series); reported stats come from the quiet reps when at
least `reps` exist, and every series carries `quiet: true/false` (plus
per-attempt `rep_quiet`) in both the slim line and BENCH_RESULT.json —
verdict-side load attribution is now mechanical.

`python bench.py --curation` runs only the curation series (for quick
iteration); the default run emits both.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

# Representative of the full surface: relational (scan/filter/agg, multi-join,
# window ranking), event-series, metadata-engine ops (validate, dedup-latest),
# and the LLM-pipeline extensions (exact + MinHash-LSH + SimHash dedup, text
# profiling, embedding near-dup + ANN search).
HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "region_revenue",
    "top_customers_per_nation",
    "big_orders_having",
    "events_sessionize",
    "asof_view_before_purchase",
    "range_clicks_in_error_window",
    "word_topk",
    "dedup_keep_latest",
    "validate_ko_errors",
    "dedup_exact",
    "minhash_lsh_pairs",
    "minhash_dedup",
    "simhash_pairs",
    "text_profile",
    "corpus_clean",
    "embedding_neardup",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "streaming_hourly_counts",
    "nation_trade_flows",
    "returned_item_customers",
    "doc_chunks",
    "kmeans_assign",
    "semdedup_pairs",
    "hourly_gap_fill",
]

# Round-3 curation/search/quantization surface — deliberately outside
# HEADLINE (series comparability) but tracked per-round from round 4 on.
CURATION = [
    "span_dedup",
    "gopher_filter",
    "quality_classifier",
    "vocab_encode",
    "keyword_search",
    "pq_adc_topk",
    "ivf_pq_topk",
]

# Round-5 data-selection surface (DSIR), its own series for the same
# comparability reason.
SELECTION = [
    "dsir_weights",
    "dsir_topk",
]

# Round-5 transaction-log table surface (sinks/txlog.py) — each query
# builds its table from scratch (appends + merge/overwrite commits) and
# reads it back, so the number is commit+snapshot+scan cost end to end.
TABLES = [
    "txlog_merge_state",
    "txlog_time_travel",
    "txlog_skipping_scan",
    "txlog_change_feed",
    "txlog_stream_feed",
    "txlog_delete_purge",
    "txlog_schema_evolution",
]

# Round-6 additions (kept OUT of TABLES/SELECTION so those series stay
# round-over-round comparable): MERGE matched-delete, timestamp travel,
# zero-copy convert, DSIR stored-model scoring.
ROUND6 = [
    "txlog_merge_delete",
    "txlog_optimize_compact",
    "txlog_timestamp_travel",
    "txlog_convert",
    "txlog_merge_sync",
    "dsir_incremental_weights",
]

# Round-7 additions (same comparability rule): Hive-partitioned
# zero-copy convert, column-mapping rename/drop, and the capped
# (admission-controlled) streaming backlog drain.
ROUND7 = [
    "txlog_partitioned_convert",
    "txlog_column_mapping",
    "txlog_stream_backpressure",
]

# Round-8 additions: scoped overwrite (replaceWhere), rewrite-skipping
# change feed (skipChangeCommits), deletion-vector point deletes,
# row-level CDC diff feed.
ROUND8 = [
    "txlog_replace_where",
    "txlog_skip_rewrites",
    "txlog_deletion_vectors",
    "txlog_row_changes",
    "txlog_update",
]

# Round-9 additions: CDC update pairing, capped-chunk CDC consumption,
# parallel hot-partition compaction, mask-debt fold, URI-safe DV roots,
# S3-claimed commits. (txlog_stream_row_changes is certified for
# correctness but kept out of the bench series: its cost is three
# streaming-query startups, the same fixed overhead
# txlog_stream_backpressure already measures.)
ROUND9 = [
    "txlog_cdc_update_pairs",
    "txlog_row_changes_batched",
    "txlog_hot_partition_optimize",
    "txlog_mask_debt_fold",
    "txlog_dv_odd_root",
    "txlog_s3_claim_commits",
]

# Round-10 additions: end-to-end keyed replication (the r9 late entry,
# first benched here), conditional MERGE clauses, schema evolution
# through replication. (txlog_replicate_stream is certified for
# correctness but kept out of the bench series for the same reason as
# txlog_stream_row_changes: its cost is streaming-query startups.)
ROUND10 = [
    "txlog_replicate",
    "txlog_merge_conditional",
    "txlog_replicate_evolve",
    "txlog_scd2",
    "txlog_check_constraint",
    "txlog_incremental_mv",
]

# Round-11 additions: MIN/MAX + FILTER-clause materialized views, APPLY
# CHANGES FROM SNAPSHOT, incremental IVF index maintenance.
# (txlog_snapshot_scd2 is certified for correctness but kept out of the
# bench series, same rule as txlog_stream_row_changes in r9: its cost is
# the CERTIFICATE — it builds the history TWICE, once from snapshots and
# once from the equivalent CDC feed, and compares them multiset-exactly;
# the per-snapshot operator work is already what txlog_replicate_snapshot
# measures plus one LEAD window.)
ROUND11 = [
    "txlog_mv_minmax",
    "txlog_mv_filtered",
    "txlog_replicate_snapshot",
    "txlog_clone",
    "txlog_generated",
    "txlog_identity",
    "ivf_index_maintain",
]


# Control series (r11, VERDICT r10 #5): pinned, never-changing
# infrastructure probes — one pure parquet scan-aggregate and one
# shuffle aggregation, both defined HERE (not registry entries) so no
# round can touch them. They exercise no engine code that changes
# between rounds, so their inflation against the pinned quiet-host
# baseline measures HOST conditions; the emitted
# ``value_normalized = value / control_inflation`` makes cross-round
# headline comparison mechanical instead of narrative (three verdicts
# in a row spent their performance section on host-noise attribution).
def _control_scan(spark: SparkSession, sf_dir: str):
    # full-scan aggregate: parquet read + codegen sum, zero shuffle
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.sum("l_extendedprice").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


def _control_shuffle(spark: SparkSession, sf_dir: str):
    # one hash-aggregate shuffle over a synthetic 1024-bucket key
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy((F.col("l_orderkey") % 1024).alias("b"))
        .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n"))
    )


CONTROL = {"control_scan": _control_scan, "control_shuffle": _control_shuffle}

# Pinned quiet-host control baselines (sum of per-query medians at
# sf0.1, measured on an idle host, 5 quiet reps, loadavg <= 0.65),
# PER CORE COUNT (r12, VERDICT r11 #7: the 32-core anchor applied at
# local[8] conflated core-count slowdown with host noise and
# over-corrected the c8 normalization). local[32] pinned 2026-08-16
# (control_scan 0.300 + control_shuffle 0.419); local[8] pinned
# 2026-08-18 on the same idle host. control_inflation /
# value_normalized are emitted ONLY when the active $SPARK_GRAFT_CPUS
# has its own anchor — never scaled across core counts. Re-pin ONLY
# together with a BASELINE.md re-anchor, never silently.
CONTROL_BASELINE_TOTALS = {"32": 0.719, "8": 0.983}
CONTROL_BASELINE_TOTAL = CONTROL_BASELINE_TOTALS["32"]  # back-compat

# Non-headline series, benched + reported per round under their own keys.
SERIES = {
    "curation": CURATION,
    "selection": SELECTION,
    "tables": TABLES,
    "round6": ROUND6,
    "round7": ROUND7,
    "round8": ROUND8,
    "round9": ROUND9,
    "round10": ROUND10,
    "round11": ROUND11,
}


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _stage_metrics(spark: SparkSession) -> dict | None:
    """Cumulative shuffle-write / spill bytes across all retained stages
    via ONE status-REST call (the same AppStatusStore the UI's stage
    table reads; a py4j per-stage iteration costs ~ms per element ×
    thousands of retained stages — the REST endpoint returns them all
    in one round trip). Returns None if unavailable (bench still
    runs)."""
    import json as _json
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?details=false",
            timeout=30,
        ) as r:
            stages = _json.load(r)
        mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
        disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
        shw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        return {"memory_spill": mem, "disk_spill": disk, "shuffle_write": shw}
    except Exception:
        return None


def _metrics_delta(before: dict | None, after: dict | None) -> dict | None:
    if before is None or after is None:
        return None
    return {k: after[k] - before[k] for k in after}


def run_series(
    spark: SparkSession,
    names: list[str],
    sf_dir: str,
    reps: int,
    qs: dict | None = None,
) -> dict:
    qs = qs if qs is not None else entrymod.queries()

    def one_rep(measure: bool) -> float:
        # machine-load marker (r5 verdict item 8): the 1-minute loadavg
        # BEFORE each rep makes a driver-side inflated run self-explaining
        # in the artifact (r5's +12% was uniform machine load, which took
        # a same-HEAD quiet re-run to prove; now the marker says it)
        loadavgs.append(round(os.getloadavg()[0], 2))
        t_rep = time.time()
        for name in names:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            if measure:
                samples[name].append(time.time() - t0)
        # operators that persist() self-join intermediates (minhash,
        # semdedup) would otherwise accumulate cached blocks across reps
        spark.catalog.clearCache()
        return round(time.time() - t_rep, 3)

    samples: dict[str, list[float]] = {name: [] for name in names}
    loadavgs: list[float] = []
    warmup_total = one_rep(measure=False)
    # spill attribution (r7 verdict item 8): per-rep deltas of the
    # AppStatusStore stage totals over the TIMED reps only.
    # Load gating (r10, VERDICT r9 #7): a rep whose pre-rep 1-min
    # loadavg marker exceeds SPARK_GRAFT_LOAD_QUIET_MAX is marked
    # CONTAMINATED and replaced by an extra rep (bounded at 2x reps
    # total); per-query stats are computed from the quiet reps when at
    # least ``reps`` of them exist, so a noisy-neighbor spike re-runs
    # instead of burning a round of verdict-side load attribution. All
    # attempts stay in the artifact (rep_totals/rep_quiet/loadavg) —
    # gating selects, it never hides.
    quiet_max = float(os.environ.get("SPARK_GRAFT_LOAD_QUIET_MAX", "6.0"))
    rep_metrics: list[dict | None] = []
    rep_totals: list[float] = []
    rep_quiet: list[bool] = []
    while sum(rep_quiet) < reps and len(rep_totals) < 2 * reps:
        marker = os.getloadavg()[0]
        before = _stage_metrics(spark)
        rep_totals.append(one_rep(measure=True))
        rep_metrics.append(_metrics_delta(before, _stage_metrics(spark)))
        rep_quiet.append(marker <= quiet_max)

    quiet = sum(rep_quiet) >= reps
    # indices whose samples feed the reported stats: the quiet attempts
    # when enough exist, every attempt otherwise (an always-loaded host
    # degrades to the r9 behavior, flagged quiet=false)
    kept = (
        [i for i, q in enumerate(rep_quiet) if q] if quiet
        else list(range(len(rep_totals)))
    )

    def _kept(xs: list[float]) -> list[float]:
        return [xs[i] for i in kept]

    timings = {
        name: round(_median(_kept(xs)), 3) for name, xs in samples.items()
    }
    spread = {
        name: [round(min(_kept(xs)), 3), round(max(_kept(xs)), 3)]
        for name, xs in samples.items()
    }
    spill = [
        None if m is None else m["memory_spill"] + m["disk_spill"]
        for m in rep_metrics
    ]
    shw = [None if m is None else m["shuffle_write"] for m in rep_metrics]
    return {
        "queries": timings,
        "total": round(sum(timings.values()), 3),
        "spread": spread,
        "rep_totals": rep_totals,
        "warmup_total": warmup_total,
        "min_sum": round(
            sum(min(_kept(xs)) for xs in samples.values()), 3
        ),
        "loadavg": loadavgs,  # 1-min loadavg before warmup + each rep
        "quiet": quiet,  # >= reps attempts ran under the load threshold
        "rep_quiet": rep_quiet,  # per attempt: marker <= quiet_max
        "spill_bytes": spill,  # per timed rep: memory+disk spill delta
        "shuffle_write_bytes": shw,  # per timed rep
    }


def _cpu_count(cpus: str) -> int | None:
    """The core count a ``local[<cpus>]`` master pins, or None when
    ``cpus`` is not a plain number (``*``: every core of the host)."""
    return int(cpus) if cpus.strip().isdigit() else None


def _control_anchor(cpus: str) -> float | None:
    """Pinned quiet control total for this core count; a non-numeric
    ``SPARK_GRAFT_CPUS`` has no anchor (inflation is reported as None)."""
    n = _cpu_count(cpus)
    return CONTROL_BASELINE_TOTALS.get(str(n)) if n is not None else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    curation_only = "--curation" in sys.argv
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(max(_cpu_count(cpus) or os.cpu_count() or 32, 32)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # UI on (random port, console progress off): the spill
        # attribution reads stage totals through the status REST API —
        # one HTTP call per snapshot instead of a py4j per-stage walk
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        # a full bench run creates ~2-3k stages; keep them all retained
        # or the before/after deltas under-count (default retention 1000)
        .config("spark.ui.retainedStages", "50000")
        .config("spark.ui.retainedJobs", "50000")
        .appName("bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    if curation_only:
        cur = run_series(spark, CURATION, sf_dir, reps)
        full = {
            "metric": "curation_queries_total_wall_clock",
            "value": cur["total"],
            "unit": "sec",
            "queries": cur["queries"],
            "sf": sf,
            "reps": reps,
            "spread": cur["spread"],
            "rep_totals": cur["rep_totals"],
            "value_min_sum": cur["min_sum"],
            "loadavg": cur["loadavg"],
            "quiet": cur["quiet"],
            "rep_quiet": cur["rep_quiet"],
            "spill_bytes": cur["spill_bytes"],
            "shuffle_write_bytes": cur["shuffle_write_bytes"],
        }
        _emit(full)
        spark.stop()
        return

    registered = set(entrymod.queries())
    # control first: a clean host-condition reading before the heavy
    # series heat the machine up is the most conservative anchor
    ctrl = run_series(spark, list(CONTROL), sf_dir, reps, qs=CONTROL)
    # per-core anchor (r12, VERDICT r11 #7): inflation is only meaningful
    # against a baseline pinned at the SAME core count
    anchor = _control_anchor(cpus)
    control_inflation = (
        round(ctrl["total"] / anchor, 4) if anchor else None
    )
    head = run_series(spark, HEADLINE, sf_dir, reps)
    extra = {}
    for name, queries in SERIES.items():
        known = [q for q in queries if q in registered]
        if len(known) < len(queries):
            # never die on a not-yet-registered series entry (the series
            # lists are written ahead of the registry during a round),
            # but say so in the payload — a silent drop would read as
            # "benched everything" when it didn't
            extra_missing = sorted(set(queries) - registered)
            print(f"BENCH_MISSING {name}: {extra_missing}", flush=True)
        if known:
            extra[name] = run_series(spark, known, sf_dir, reps)
    full = {
        "metric": "headline_queries_total_wall_clock",
        "value": head["total"],
        "unit": "sec",
        "queries": head["queries"],
        # mechanical host-noise normalization (r11, VERDICT r10 #5):
        # value / (control_total / pinned quiet baseline)
        "control": ctrl["queries"],
        "control_total": ctrl["total"],
        "control_min_sum": ctrl["min_sum"],
        "control_baseline_total": anchor,
        "control_cpus_anchored": anchor is not None,
        "control_inflation": control_inflation,
        "value_normalized": (
            round(head["total"] / control_inflation, 3)
            if control_inflation
            else None
        ),
        "sf": sf,
        "reps": reps,
        "spread": head["spread"],
        "rep_totals": head["rep_totals"],
        "warmup_total": head["warmup_total"],
        "value_min_sum": head["min_sum"],
        "loadavg": head["loadavg"],
        "quiet": head["quiet"],
        "rep_quiet": head["rep_quiet"],
        "spill_bytes": head["spill_bytes"],
        "shuffle_write_bytes": head["shuffle_write_bytes"],
    }
    for name, res in extra.items():
        full[name] = res["queries"]
        for key in (
            "total",
            "spread",
            "min_sum",
            "loadavg",
            "quiet",
            "rep_quiet",
            "spill_bytes",
            "shuffle_write_bytes",
        ):
            full[f"{name}_{key}"] = res[key]
    _emit(full, series=list(extra))
    spark.stop()


# The driver keeps the LAST ~2000 stdout characters and parses the last
# JSON line in them (BENCH_r11.json tail length = exactly 2000), so the
# slim line must stay under this cap WITH the per-query map on board.
_SLIM_LINE_CAP = 1985


def _enc_queries(qmap: dict, level: int) -> dict:
    """Compact per-query seconds for the slim line. Level 0 = 2 decimals
    everywhere; level 1 = 1 decimal for values >= 1 s (quantization
    <= 5% of the value); level 2 = 1 decimal everywhere (last resort).
    Full-precision medians always live in BENCH_RESULT.json and the
    BENCH_FULL line — this encoding only feeds the driver's per-query
    regression/scaling view (VERDICT r11 #1)."""
    out = {}
    for k, v in qmap.items():
        if level >= 2 or (level >= 1 and v >= 1):
            r = round(v, 1)
        else:
            r = round(v, 2)
        # 3.0 → 3 (JSON int, 2 bytes shorter; same number)
        out[k] = int(r) if r == int(r) else r
    return out


def _emit(full: dict, series: list[str] = ()) -> None:
    """Full payload → BENCH_RESULT.json AND a first "BENCH_FULL: " line;
    the LAST line printed is the SLIM line, which since r12 carries the
    complete per-query map (headline + every series — VERDICT r11 #1:
    per-query timings must reach the driver's 2000-char stdout tail, or
    PERF per_query/scaling come back empty). Byte budget is met by
    compact separators + bounded value quantization + dropping audit
    fields (which all remain in BENCH_RESULT.json), NEVER by dropping a
    query from the map."""
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_RESULT.json"
    )
    with open(out, "w") as f:
        json.dump(full, f)
        f.write("\n")
    # one flat map: headline + every series (names are globally unique)
    qmap = dict(full.get("queries", {}))
    for name in series:
        qmap.update(full.get(name, {}))
    slim = {
        k: full.get(k)
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "reps",
            "value_min_sum",
            "control_inflation",
            "value_normalized",
            "quiet",
        )
        if k in full and full.get(k) is not None
    }
    for name in series:
        slim[f"{name}_total"] = full[f"{name}_total"]
        slim[f"{name}_quiet"] = full[f"{name}_quiet"]
    sys.stdout.flush()
    print("BENCH_FULL: " + json.dumps(full), flush=True)

    def _line(level: int) -> str:
        slim["queries"] = _enc_queries(qmap, level)
        return json.dumps(slim, separators=(",", ":"))

    # degrade, never crash and never drop a query (ADVICE r8 lineage):
    # quantize >= 1 s values to 1 decimal (<= 5% of the value) first,
    # then shed audit fields (all still in BENCH_RESULT.json), and only
    # at the very end quantize sub-second values too
    state = {"level": 0}

    def _bump():
        state["level"] = min(2, state["level"] + 1)

    ladder = (
        [_bump]
        + [
            (lambda k=k: slim.pop(k, None))
            for k in [f"{n}_quiet" for n in series]
            + [f"{n}_total" for n in series]
            + ["reps", "value_min_sum", "value_normalized"]
        ]
        + [_bump]
    )
    line = _line(state["level"])
    for action in ladder:
        if len(line) <= _SLIM_LINE_CAP:
            break
        action()
        line = _line(state["level"])
    if len(line) > _SLIM_LINE_CAP:
        print(
            f"WARN: slim bench line still {len(line)} bytes after "
            "dropping optional fields; printing metric/value/unit only "
            "(the per-query map is in BENCH_RESULT.json)",
            file=sys.stderr,
            flush=True,
        )
        line = json.dumps(
            {k: full.get(k) for k in ("metric", "value", "unit")},
            separators=(",", ":"),
        )
    print(line, flush=True)


if __name__ == "__main__":
    main()
