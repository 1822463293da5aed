"""The benchmark workloads. Each drives the engine only through its public
entry points (``Engine(...).run()``, ``sources.reader.read_source``,
``sinks.txlog``) as one closed-loop client: the scheduler waits for every
run and read before it sends the next.

A workload is a sequence of fixed-shape *episodes* (a data root fed by a
generator seeded from ``(seed, episode)``), so the mix of samples in a run
does not depend on how fast the machine is; only the number of episodes
does.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import time

from pyspark.sql import functions as F

import gen
from spans import data_files

HERE = os.path.dirname(os.path.abspath(__file__))


def load_metadata(name: str, root: str) -> dict:
    """Read a metadata template from ``perfbench/metadata`` and bind its
    ``${ROOT}`` placeholder (the load step counted in set-up time)."""
    with open(os.path.join(HERE, "metadata", name)) as f:
        return json.loads(f.read().replace("${ROOT}", root))


def sink_records(log: dict) -> dict[str, int]:
    """``records_written`` per sink name from an engine run log."""
    out = {}
    for stage in log["stages"]:
        for sub in stage["sub_stages"]:
            if sub.get("stage_type") == "sink":
                name = sub["name"].rsplit("_batch_", 1)[0]
                out[name] = out.get(name, 0) + int(sub.get("records_written", 0))
    return out


def _table_version(log: dict) -> int:
    """The table version a txlog sink committed, from an engine run log."""
    return next(
        s["table_version"]
        for st in log["stages"] for s in st["sub_stages"]
        if "table_version" in s
    )


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_cpu(path: str, fields: slice) -> int:
    """Sum of CPU-time fields (clock ticks) of a ``/proc/.../stat`` file."""
    with open(path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


class CpuClock:
    """Application CPU seconds of the driver process tree: user + system
    time of this process and of the JVM, with the JVM's reaped children
    (Python workers, helper shells), less the JVM's JIT compiler threads.

    JIT compilation is half or more of the JVM's CPU in its first minute,
    and is timed by the compiler's queue, not by the operation it overlaps.
    Time the hypervisor gives to other guests (steal) is charged to no
    process, so this clock follows the work done, not the neighbours. The
    session runs with a fixed set of compiler threads, so their time
    never leaves the sum with a thread that exits."""

    def __init__(self, jvm_pid: int):
        self.jvm = f"/proc/{jvm_pid}"
        self.compilers = []
        for tid in os.listdir(f"{self.jvm}/task"):
            with open(f"{self.jvm}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    self.compilers.append(f"{self.jvm}/task/{tid}/stat")

    def __call__(self) -> float:
        ticks = _stat_cpu(f"{self.jvm}/stat", slice(11, 15)) - sum(
            _stat_cpu(c, slice(11, 13)) for c in self.compilers
        )
        t = os.times()
        return ticks / _CLK_TCK + t.user + t.system


def data_bytes(*dirs: str) -> int:
    """Bytes of the data files under ``dirs`` (no checksums or markers)."""
    return sum(os.path.getsize(p) for top in dirs for p in data_files(top))


class Results:
    """Samples and check counts of one benchmark run."""

    def __init__(self):
        self.run_s: list[float] = []
        self.read_s: list[float] = []
        self.run_cpu_s: list[float] = []
        self.read_cpu_s: list[float] = []
        self.noop_s: list[float] = []
        self.commit_s: list[float] = []
        self.traced_run_s: list[float] = []
        self.untraced_run_s: list[float] = []
        self.first_run_s: float | None = None
        self.first_run_cpu_s: float | None = None
        self.rows = 0
        self.run_rates: list[float] = []  # input rows per second, per run
        self.stored: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.planted: dict = {}
        self.layer: dict = {}  # layer counters a workload reads off its outputs

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what[:400])


class Workload:
    """Shared client plumbing: timed runs and reads, trace alternation.

    A process goes through three phases. ``first``: the next pipeline run
    is the cold first run of the fresh session (``first_run_s``).
    ``warmup``: the rest of a shorter warm-up episode after it, so every
    code path of an episode has run and the JIT has compiled the hot ones;
    its runs, reads and checks are made but not recorded. ``measure``: the
    episodes whose samples are recorded.

    Every client operation is timed twice: wall time, and the application
    CPU time of the driver process tree (``CpuClock``)."""

    name = ""
    params: dict = {}
    warmup_size = 3  # days or commits of the warm-up episode

    def __init__(self, spark, work: str, seed: int, tracer, res: Results):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.res = res
        self.ops = 0
        self.phase = "first"
        self.cpu = CpuClock(spark.sparkContext._gateway.proc.pid)

    @property
    def measuring(self) -> bool:
        return self.phase == "measure"

    def rng(self, *parts) -> random.Random:
        return random.Random(":".join(str(p) for p in (self.seed, self.name) + parts))

    def _op(self, kind: str, fn):
        """Run one client operation, timed, inside a ``bench.<kind>`` span.
        Returns (result, wall seconds, CPU seconds)."""
        from contextlib import nullcontext

        span = self.tracer.span(f"bench.{kind}") if self.tracer else nullcontext()
        c0 = self.cpu()
        t0 = time.perf_counter()
        with span:
            out = fn()
        dt = time.perf_counter() - t0
        return out, dt, self.cpu() - c0

    def cycle(self) -> None:
        """Start a run cycle (a run and the reads after it). In a traced
        benchmark run, measured cycles alternate untraced and traced, so
        the two run-time medians give the tracing overhead. Even cycles are
        traced: the upsert commits followed by ``optimize`` fall in them."""
        self.ops += 1
        if self.tracer is not None:
            self.tracer.active = self.measuring and self.ops % 2 == 0
            self.tracer.op = self.ops

    def run(self, fn, rows: int):
        """One pipeline run: the cold first run, a warm-up run or a
        measured sample, by phase."""
        if self.phase == "first":
            if self.tracer is not None:
                self.tracer.active = False
            out, self.res.first_run_s, self.res.first_run_cpu_s = self._op("first_run", fn)
            self.res.attempted += 1
            self.phase = "warmup"
            return out
        self.cycle()
        out, dt, cpu = self._op("run", fn)
        self.res.attempted += 1
        if self.measuring:
            self.res.run_s.append(dt)
            self.res.run_cpu_s.append(cpu)
            if self.tracer is not None:
                (self.res.traced_run_s if self.tracer.active else self.res.untraced_run_s).append(dt)
            self.res.rows += rows
            self.res.run_rates.append(rows / dt)
        return out

    def read(self, fn):
        out, dt, cpu = self._op("read", fn)
        self.res.attempted += 1
        if self.measuring:
            self.res.read_s.append(dt)
            self.res.read_cpu_s.append(cpu)
        return out

    def first_run(self) -> None:
        """The cold first run and the warm-up episode it opens."""
        self.episode("warmup", self.warmup_size)
        self.phase = "measure"
        self.ops = 0

    def finish(self) -> None:
        """Checks that need the whole run (none by default)."""

    def engine(self, md: dict, run_id: str, manifest: str | None = None):
        from metadata_driven_data_pipeline_spark.engine import Engine

        return Engine(
            self.spark, md, run_id=run_id, manifest_path=manifest,
            pipeline_name=self.name,
        )


# ---------------------------------------------------------------- motor


class MotorDaily(Workload):
    """Daily jsonl batches → validate → OK/KO json sinks → keep-latest
    consolidation, one fresh Engine per landed day, then a no-op re-run."""

    name = "motor_daily"
    params = gen.MOTOR_PARAMS
    metadata_file = "motor.json"
    reads_per_day = 3
    _schema = {
        "type": "struct",
        "fields": [
            {"name": "policy_number", "type": "string", "nullable": True},
            {"name": "driver_age", "type": "integer", "nullable": True},
            {"name": "plate_number", "type": "string", "nullable": True},
            {"name": "batch_date", "type": "string", "nullable": True},
        ],
    }

    def _check_split(self, log, recs, where) -> list[dict]:
        counts = sink_records(log)
        ok = [r for r in recs if gen.motor_ok(r)]
        self.res.check(
            counts.get("raw-ok") == len(ok)
            and counts.get("raw-ok", 0) + counts.get("raw-ko", 0) == len(recs),
            f"{where}: OK/KO counts {counts} vs oracle {len(ok)}/{len(recs)}",
        )
        return ok

    def episode(self, k, days: int | None = None) -> None:
        from metadata_driven_data_pipeline_spark.manifest import read_manifest
        from metadata_driven_data_pipeline_spark.sources import reader

        p = self.params
        root = os.path.join(self.work, f"motor-{k}")
        g = gen.MotorGenerator(self.rng("episode", k))
        pick = self.rng("reads", k)
        md = load_metadata(self.metadata_file, root)
        manifest = f"{root}/state/manifest.json"
        cons_path = f"{root}/ok-consolidated/output"
        cons_source = {
            "name": "consolidated", "path": cons_path, "format": "json",
            "schema": self._schema, "schema_enforcement": {"enabled": True},
        }
        oracle: dict[str, tuple] = {}
        ok_by_date: dict[str, set] = {}
        user_bytes = 0
        days = [f"2025-01-{d:02d}" for d in range(1, (days or p["days_per_episode"]) + 1)]
        for d, date in enumerate(days):
            recs = g.day()
            user_bytes += gen.write_jsonl(
                f"{root}/input/batch-{date}/input_1.jsonl", recs
            )
            log = self.run(
                lambda: self.engine(md, f"e{k}d{d}", manifest).run(), len(recs)
            )
            ok = self._check_split(log, recs, f"episode {k} {date}")
            ok_by_date[date] = {
                (r["policy_number"], r["driver_age"], r["plate_number"]) for r in ok
            }
            for r in ok:
                oracle[r["policy_number"]] = (
                    r["driver_age"], r["plate_number"], date
                )
            for key in pick.sample(g.keys, self.reads_per_day):
                rows = self.read(
                    lambda: reader.read_source(self.spark, cons_source)
                    .df.filter(F.col("policy_number") == key)
                    .collect()
                )
                got = [(r.driver_age, r.plate_number, r.batch_date) for r in rows]
                want = [oracle[key]] if key in oracle else []
                self.res.check(got == want, f"lookup {key} on {date}: {got} != {want}")

        before = read_manifest(manifest)
        log, dt, _ = self._op(
            "noop", lambda: self.engine(md, f"e{k}-noop", manifest).run()
        )
        self.res.attempted += 1
        if self.measuring:
            self.res.noop_s.append(dt)
        rejected = [
            s.get("rejected_batches")
            for st in log["stages"] for s in st["sub_stages"]
            if s.get("name") == "watermark_filter"
        ]
        self.res.check(
            read_manifest(manifest) == before and rejected == [days],
            f"episode {k}: no-op re-run changed state or rejected {rejected}",
        )

        ok_rows = (
            self.spark.read.json(f"{root}/ok/batch-*/output")
            .select("policy_number", "driver_age", "plate_number", "batch_date")
            .collect()
        )
        bad = [r.asDict() for r in ok_rows if not gen.motor_ok(r.asDict())]
        self.res.check(not bad, f"episode {k}: OK rows break a rule: {bad[:3]}")
        got_ok: dict[str, set] = {}
        for r in ok_rows:
            got_ok.setdefault(r.batch_date, set()).add(
                (r.policy_number, r.driver_age, r.plate_number)
            )
        self.res.check(got_ok == ok_by_date, f"episode {k}: OK outputs != oracle")

        cons = (
            self.spark.read.json(cons_path)
            .select("policy_number", "driver_age", "plate_number", "batch_date")
            .collect()
        )
        keys = [r.policy_number for r in cons]
        got_cons = {r.policy_number: (r.driver_age, r.plate_number, r.batch_date) for r in cons}
        self.res.check(
            len(keys) == len(set(keys)) and got_cons == oracle,
            f"episode {k}: consolidated output != keep-latest oracle",
        )
        if not self.measuring:
            return
        self.res.stored.append(
            data_bytes(f"{root}/ok", f"{root}/ko", cons_path) / user_bytes
        )
        self.res.planted = {
            "reingest_share": p["reingest_share"],
            "missing_age_share": p["missing_age_share"],
            "empty_plate_share": p["empty_plate_share"],
            "age_range": p["age_range"],
        }


# --------------------------------------------------------------- corpus


def _digest(rows) -> str:
    """Order-insensitive digest; floats rounded so summation order does
    not change it."""

    def norm(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v

    lines = sorted(json.dumps([norm(v) for v in r], default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class CorpusCuration(Workload):
    """Full-mode corpus curation (Gopher and classifier gates, exact dedup,
    span dedup, entropy, domain-mix/hash/split sampling, chunking,
    semdedup) re-run over one seeded corpus."""

    name = "corpus_curation"
    params = gen.CORPUS_PARAMS
    metadata_file = "corpus.json"
    sinks = ("chunk_sink", "split_sink", "dup_sink", "diversity_sink", "span_sink")
    reads_per_run = 8

    def setup_root(self) -> str:
        return os.path.join(self.work, "corpus")

    def first_run(self) -> None:
        root = self.setup_root()
        self.corpus = gen.corpus(self.rng("corpus"), f"{root}/input")
        self.res.planted = self.corpus["planted"]
        self.md = load_metadata(self.metadata_file, root)
        n_in = self.params["docs"] + self.params["vectors"]
        log = self.run(lambda: self.engine(self.md, "first").run(), n_in)
        self.phase = "measure"  # the flow is warm after one full run
        self.counts = sink_records(log)
        self.res.check(
            set(self.counts) == set(self.sinks) and self.counts["chunk_sink"] > 0,
            f"first run sink counts {self.counts}",
        )
        self.digest = self._digests(root)
        self._check_planted(root)
        self.chunks: dict[int, list] = {}
        for r in self._chunk_rows(self.spark.read.parquet(f"{root}/out/chunks")):
            self.chunks.setdefault(r[0], []).append(r)
        self.res.stored.append(
            data_bytes(f"{root}/out") / self.corpus["user_bytes"]
        )

    @staticmethod
    def _chunk_rows(df) -> list[tuple]:
        cols = ["doc_id"] + sorted(c for c in df.columns if c != "doc_id")
        return sorted(tuple(r) for r in df.select(cols).collect())

    def _digests(self, root: str) -> dict[str, str]:
        out = {}
        for d in ("chunks", "splits", "dup_pairs", "diversity", "span_clean"):
            df = self.spark.read.parquet(f"{root}/out/{d}")
            out[d] = _digest(df.select(sorted(df.columns)).collect())
        return out

    def _check_planted(self, root: str) -> None:
        pairs = {
            (r.id_a, r.id_b)
            for r in self.spark.read.parquet(f"{root}/out/dup_pairs")
            .select("id_a", "id_b").collect()
        }
        planted = {tuple(sorted(p)) for p in self.corpus["vec_pairs"]}
        found = len(planted & pairs)
        self.res.check(
            pairs and found >= 0.8 * len(planted),
            f"semdedup found {found} of {len(planted)} planted pairs ({len(pairs)} total)",
        )
        kept = {
            r.doc_id
            for r in self.spark.read.parquet(f"{root}/out/chunks")
            .select("doc_id").collect()
        }
        both = [p for p in self.corpus["text_pairs"] if p[0] in kept and p[1] in kept]
        self.res.check(not both, f"duplicate pairs kept twice: {both[:5]}")

    def episode(self, k: int) -> None:
        from metadata_driven_data_pipeline_spark.sources import reader

        root = self.setup_root()
        n_in = self.params["docs"] + self.params["vectors"]
        log = self.run(lambda: self.engine(self.md, f"run{k}").run(), n_in)
        counts = sink_records(log)
        self.res.check(counts == self.counts, f"run {k}: sink counts {counts} != {self.counts}")
        source = {"name": "chunks", "path": f"{root}/out/chunks", "format": "parquet"}
        pick = self.rng("reads", k)
        docs = sorted(self.chunks)
        for doc_id in pick.sample(docs, min(len(docs), self.reads_per_run)):
            got = self.read(
                lambda: self._chunk_rows(
                    reader.read_source(self.spark, source)
                    .df.filter(F.col("doc_id") == doc_id)
                )
            )
            self.res.check(got == self.chunks[doc_id], f"chunk lookup {doc_id} differs")

    def finish(self) -> None:
        got = self._digests(self.setup_root())
        self.res.check(got == self.digest, f"sink digests changed across runs: {got} != {self.digest}")


# --------------------------------------------------------------- upsert


class TableUpsertRead(Workload):
    """Keyed upserts into a transaction-log table through an engine
    dataflow (parquet → join → txlog merge), with point, range and
    time-travel reads after every commit and compaction every N commits."""

    name = "table_upsert_read"
    params = gen.UPSERT_PARAMS
    metadata_file = "upsert.json"

    def _land(self, root: str, g, date: str) -> tuple[list[dict], int]:
        rows = g.batch()
        size = gen.write_parquet(
            f"{root}/input/batch-{date}/part-0.parquet", rows, gen.UPSERT_SCHEMA
        )
        return rows, size

    def _dimension(self, root: str, g) -> None:
        import pyarrow.parquet as pq

        os.makedirs(f"{root}/dim", exist_ok=True)
        pq.write_table(g.dimension(), f"{root}/dim/segments.parquet")

    @staticmethod
    def _apply(model: dict, rows: list[dict]) -> None:
        for r in rows:
            if r["__op"] == "D":
                model.pop(r["id"], None)
            else:
                model[r["id"]] = (r["seg_id"], r["amount"], r["ts"], f"r{r['seg_id'] % 7}")

    def _table(self, root: str) -> list:
        from metadata_driven_data_pipeline_spark.sinks import txlog

        return [
            (r.id, (r.seg_id, r.amount, r.ts, r.region))
            for r in txlog.read_table(self.spark, f"{root}/table").collect()
        ]

    def episode(self, k, commits: int | None = None) -> None:
        from metadata_driven_data_pipeline_spark.sinks import txlog
        from metadata_driven_data_pipeline_spark.sources import reader

        p = self.params
        root = os.path.join(self.work, f"upsert-{k}")
        table = f"{root}/table"
        g = gen.UpsertGenerator(self.rng("episode", k))
        pick = self.rng("reads", k)
        self._dimension(root, g)
        md = load_metadata(self.metadata_file, root)
        manifest = f"{root}/state/manifest.json"
        model: dict = {}
        versions: dict[int, dict] = {}
        # the initial load is the process's cold first run, else episode
        # set-up and not a sample: every measured run is then a keyed upsert
        # into a table of the same size
        rows, user_bytes = self._land(root, g, "2025-01-01")

        def prefill():
            return self.engine(md, f"e{k}c0", manifest).run()

        if self.phase == "first":
            log = self.run(prefill, len(rows))
        else:
            log, _, _ = self._op("prefill", prefill)
            self.res.attempted += 1
        self._apply(model, rows)
        versions[_table_version(log)] = dict(model)
        for c in range(1, (commits or p["commits_per_episode"]) + 1):
            date = f"2025-{1 + c // 28:02d}-{1 + c % 28:02d}"
            rows, size = self._land(root, g, date)
            user_bytes += size
            t0 = time.perf_counter()
            log = self.run(
                lambda: self.engine(md, f"e{k}c{c}", manifest).run(), len(rows)
            )
            self._apply(model, rows)
            version = _table_version(log)
            versions[version] = dict(model)
            if c % p["optimize_every"] == 0:
                info, _, _ = self._op("optimize", lambda: txlog.optimize(self.spark, table))
                self.res.attempted += 1
                versions[info["version"]] = versions[version]
                version = info["version"]
            if self.measuring:
                self.res.commit_s.append(time.perf_counter() - t0)

            ids = [r["id"] for r in rows]
            key = pick.choice(ids)
            src = {"name": "point", "table": "txlog", "path": table,
                   "where": [["id", "==", key]]}
            got = self.read(
                lambda: reader.read_source(self.spark, src)
                .df.select("seg_id", "amount", "ts", "region").collect()
            )
            want = [model[key]] if key in model else []
            self.res.check(
                [tuple(r) for r in got] == want, f"point {key} v{version}: {got} != {want}"
            )
            lo = pick.randrange(max(1, g.next_id))
            hi = lo + 300
            src = {"name": "range", "table": "txlog", "path": table,
                   "where": [["id", ">=", lo], ["id", "<", hi]]}
            n = self.read(lambda: reader.read_source(self.spark, src).df.count())
            want_n = sum(1 for i in model if lo <= i < hi)
            self.res.check(n == want_n, f"range [{lo},{hi}) v{version}: {n} != {want_n}")
            old = max(min(versions), version - 3)
            while old not in versions:
                old -= 1
            src = {"name": "as_of", "table": "txlog", "path": table, "version": old}
            row = self.read(
                lambda: reader.read_source(self.spark, src)
                .df.agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"))
                .collect()[0]
            )
            snap = versions[old]
            want_s = sum(v[1] for v in snap.values())
            self.res.check(
                row.n == len(snap) and math.isclose(row.s or 0.0, want_s, rel_tol=1e-9, abs_tol=1e-6),
                f"time travel v{old}: ({row.n}, {row.s}) != ({len(snap)}, {want_s})",
            )

        self.res.check(dict(self._table(root)) == model, f"episode {k}: table != model")
        if not self.measuring:
            return
        log_dir = f"{table}/_txnlog"
        commits = [f for f in os.listdir(log_dir) if f.endswith(".json") and "checkpoint" not in f]
        written = 0
        for f in commits:
            with open(os.path.join(log_dir, f)) as fh:
                written += sum(a["bytes"] for a in json.load(fh).get("add", []))
        layer = self.res.layer
        layer["txlog.bytes_written"] = layer.get("txlog.bytes_written", 0) + written
        layer["txlog.user_bytes"] = layer.get("txlog.user_bytes", 0) + user_bytes
        layer["txlog.log_entries"] = len(commits)
        live = sum(e["bytes"] for e in txlog.load_snapshot(table).files.values())
        self.res.stored.append(live / user_bytes)
        self.res.planted = {
            k2: p[k2] for k2 in (
                "update_share", "insert_share", "tombstone_share", "recent_window",
                "batch_rows", "initial_rows",
            )
        }


WORKLOADS = {w.name: w for w in (MotorDaily, CorpusCuration, TableUpsertRead)}
