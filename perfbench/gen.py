"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``random.Random`` built from the run's ``--seed``
(the same seed gives byte-identical inputs) and returns, next to the data,
the properties it planted so the report can state them and the correctness
checks can use them as an oracle.
"""

from __future__ import annotations

import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_DIGITS = "0123456789"

# ------------------------------------------------------------------ motor

MOTOR_PARAMS = {
    "rows_per_day": 2000,
    "days_per_episode": 5,
    "reingest_share": 0.20,
    "missing_age_share": 0.05,
    "empty_plate_share": 0.05,
    "age_range": [17, 80],
}


class MotorGenerator:
    """Daily policy batches with the reference error mix.

    About ``reingest_share`` of each batch after the first re-sends keys
    from earlier batches with fresh attributes, so keep-latest
    consolidation has real work; keys are unique within a batch, so the
    latest version of every key is well defined."""

    def __init__(self, rng: random.Random, params: dict = MOTOR_PARAMS):
        self.rng = rng
        self.p = params
        self.seq = 0
        self.keys: list[str] = []

    def _plate(self) -> str:
        if self.rng.random() < self.p["empty_plate_share"]:
            return ""
        r = self.rng
        return "".join(r.choices(_LETTERS, k=3)) + "-" + "".join(r.choices(_DIGITS, k=3))

    def _record(self, key: str) -> dict:
        rec = {"policy_number": key}
        if self.rng.random() >= self.p["missing_age_share"]:
            lo, hi = self.p["age_range"]
            rec["driver_age"] = self.rng.randint(lo, hi)
        rec["plate_number"] = self._plate()
        return rec

    def day(self) -> list[dict]:
        n = self.p["rows_per_day"]
        records = []
        if self.keys:
            k = int(self.p["reingest_share"] * n)
            records = [self._record(key) for key in self.rng.sample(self.keys, k)]
        new = []
        while len(records) < n:
            self.seq += 1
            key = f"{self.seq:08d}"
            new.append(key)
            records.append(self._record(key))
        self.keys.extend(new)
        self.rng.shuffle(records)
        return records


def write_jsonl(path: str, records: list[dict]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return os.path.getsize(path)


def motor_ok(rec: dict) -> bool:
    """The reference validation rules, evaluated in Python (the oracle)."""
    plate = rec.get("plate_number")
    age = rec.get("driver_age")
    return (
        rec.get("policy_number") is not None
        and bool(plate)
        and all(c in _LETTERS or c in _DIGITS or c == "-" for c in plate)
        and age is not None
        and age >= 18
    )


# ----------------------------------------------------------------- corpus

CORPUS_PARAMS = {
    "docs": 240,
    "dup_share": 0.15,
    "words_per_doc": [40, 110],
    "vectors": 240,
    "dim": 32,
    "vec_dup_share": 0.05,
    "vec_dup_noise": 0.01,
    "filtered_lang_share": 0.10,
}

_STOPWORDS = ["the", "and", "of", "to", "that", "with", "be", "have"]
_CONTENT = (
    "table scan merge join window order batch stream spark hash key sort "
    "partition shuffle filter index query plan cache row column file log "
    "commit snapshot version schema token chunk span corpus model vector "
    "cluster centroid sample split domain quality score gate rule entropy"
).split()


def _doc_text(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    words = [
        rng.choice(_STOPWORDS) if rng.random() < 0.3 else rng.choice(_CONTENT)
        for _ in range(n)
    ]
    # random tail words make unrelated documents (and their spans)
    # distinct, so only planted copies are duplicates
    words += [f"w{rng.randrange(10**6)}" for _ in range(n // 4)]
    rng.shuffle(words)
    return " ".join(words)


def corpus(rng: random.Random, out_dir: str, params: dict = CORPUS_PARAMS) -> dict:
    """Documents + embeddings parquet with planted duplicates.

    A ``dup_share`` of documents copies an earlier original document
    verbatim (a new ``doc_id``, same text, language and source); a
    ``vec_dup_share`` of vectors copies an earlier vector plus small
    Gaussian noise (cosine above 0.99), so semantic dedup has near-duplicate
    pairs to find. Returns the planted pairs."""
    p = params
    os.makedirs(out_dir, exist_ok=True)
    langs = ["en", "es", "de", "fr"]
    docs, originals = [], []
    text_pairs = []
    for i in range(p["docs"]):
        if originals and rng.random() < p["dup_share"]:
            src = rng.choice(originals)
            text_pairs.append((src["doc_id"], i))
            doc = dict(src, doc_id=i)
        else:
            text = _doc_text(rng, *p["words_per_doc"])
            lang = "xx" if rng.random() < p["filtered_lang_share"] else rng.choice(langs)
            doc = {"doc_id": i, "text": text, "lang": lang,
                   "source": f"src{rng.randrange(5)}",
                   "n_chars": len(text)}
            originals.append(doc)
        docs.append(doc)
    doc_table = pa.Table.from_pylist(
        docs,
        schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
    )
    pq.write_table(doc_table, os.path.join(out_dir, "documents.parquet"))

    vecs: list[list[float]] = []
    vec_pairs = []
    for i in range(p["vectors"]):
        # vec_id < 8 are the centroids: keep them independent
        if i >= 8 and vecs and rng.random() < p["vec_dup_share"]:
            j = rng.randrange(8, len(vecs)) if len(vecs) > 8 else 0
            v = [x + rng.gauss(0.0, p["vec_dup_noise"]) for x in vecs[j]]
            vec_pairs.append((j, i))
        else:
            v = [rng.gauss(0.0, 1.0) for _ in range(p["dim"])]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    emb_table = pa.Table.from_pydict(
        {"vec_id": list(range(len(vecs))), "embedding": vecs},
        schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]),
    )
    pq.write_table(emb_table, os.path.join(out_dir, "embeddings.parquet"))
    user_bytes = sum(
        os.path.getsize(os.path.join(out_dir, f))
        for f in ("documents.parquet", "embeddings.parquet")
    )
    return {
        "docs": docs,
        "text_pairs": text_pairs,
        "vec_pairs": vec_pairs,
        "user_bytes": user_bytes,
        "planted": {
            "dup_share": p["dup_share"],
            "text_pairs": len(text_pairs),
            "vec_dup_share": p["vec_dup_share"],
            "vec_pairs": len(vec_pairs),
        },
    }


# ----------------------------------------------------------------- upsert

UPSERT_PARAMS = {
    "initial_rows": 8000,
    "batch_rows": 1000,
    "commits_per_episode": 7,
    "optimize_every": 3,
    "update_share": 0.70,
    "insert_share": 0.20,
    "tombstone_share": 0.10,
    "recent_window": 0.25,
    "segments": 50,
}

UPSERT_SCHEMA = pa.schema([
    ("id", pa.int64()), ("seg_id", pa.int64()), ("amount", pa.float64()),
    ("ts", pa.int64()), ("__op", pa.string()),
])


class UpsertGenerator:
    """Keyed upsert batches: mostly updates to recently inserted keys, plus
    new inserts and ``whenMatchedDelete`` tombstones (``__op = 'D'``).

    ``recent_window`` is the share of the newest live keys that updates and
    tombstones draw from (key recency skew). Keys are unique within a
    batch and ``ts`` increases per batch, so keep-latest is well defined."""

    def __init__(self, rng: random.Random, params: dict = UPSERT_PARAMS):
        self.rng = rng
        self.p = params
        self.next_id = 0
        self.live: list[int] = []
        self.ts = 0

    def dimension(self) -> pa.Table:
        n = self.p["segments"]
        return pa.table({
            "seg_id": pa.array(range(n), pa.int64()),
            "region": pa.array([f"r{i % 7}" for i in range(n)]),
        })

    def _row(self, key: int, op: str) -> dict:
        return {
            "id": key,
            "seg_id": self.rng.randrange(self.p["segments"]),
            "amount": round(self.rng.uniform(0, 1000), 2),
            "ts": self.ts,
            "__op": op,
        }

    def batch(self) -> list[dict]:
        self.ts += 1
        p, rng = self.p, self.rng
        if not self.live:
            n_ins, n_upd, n_del = p["initial_rows"], 0, 0
        else:
            n = p["batch_rows"]
            n_upd = int(n * p["update_share"])
            n_del = int(n * p["tombstone_share"])
            n_ins = n - n_upd - n_del
        window = self.live[-max(n_upd + n_del, int(len(self.live) * p["recent_window"])):]
        touched = rng.sample(window, n_upd + n_del) if n_upd + n_del else []
        rows = [self._row(k, "U") for k in touched[:n_upd]]
        rows += [self._row(k, "D") for k in touched[n_upd:]]
        dead = set(touched[n_upd:])
        if dead:
            self.live = [k for k in self.live if k not in dead]
        for _ in range(n_ins):
            rows.append(self._row(self.next_id, "I"))
            self.live.append(self.next_id)
            self.next_id += 1
        rng.shuffle(rows)
        return rows


def write_parquet(path: str, rows: list[dict], schema: pa.Schema) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return os.path.getsize(path)
