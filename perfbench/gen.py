"""Seeded input generator for the benchmark.

Writes, from one ``--seed``, everything the workloads read:

* the fixture table they scan, ``documents``, with the schema and
  value ranges of the engine's test fixture, one parquet file;
* the ``etl_daily`` day batches: per day a ``documents``-shaped file
  of postings drawn from ``documents`` (day 1: new postings; day 2:
  every day-1 posting that did not expire, new postings, and in-batch
  duplicates on both days) and an ``expired`` key list.

Only numpy and pyarrow are used, so generation needs no Spark session
and stays outside every timed region. The same seed writes the same
bytes.

    python3 perfbench/gen.py --seed 7 --out .bench_work/inputs/seed7
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Documents is larger than the engine's fixture so the daily batches
# can draw their postings from it.
N_DOCUMENTS = 800

# etl_daily: two days over the documents pool.
DAY1_NEW = 300
DAY2_NEW = 100
DAY2_EXPIRED = 50
INBATCH_DUPS = 10

LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
# The fixture vocabulary plus single-word skill-dictionary terms, so the
# daily job's skill mining has hits in every category it can resolve.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SKILL_WORDS = (
    "python sql java scala aws azure gcp docker kubernetes airflow kafka "
    "excel tableau looker git jira etl hadoop pandas numpy terraform "
    "jenkins statistics forecasting scrum"
).split()


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the fixture
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(10, 101))
        words = [WORDS[w] for w in rng.integers(0, len(WORDS), n)]
        for _ in range(int(rng.integers(0, 5))):
            words.insert(int(rng.integers(0, n)), SKILL_WORDS[int(rng.integers(0, len(SKILL_WORDS)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": [LANGS[x] for x in rng.integers(0, len(LANGS), N_DOCUMENTS)],
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def day_plan(rng: np.random.Generator) -> list[dict[str, list[int]]]:
    """Per day: the doc ids posted (with in-batch duplicates) and the
    keys that expire. Day 2 expires some day-1 postings and posts all
    the others again, so its merge re-applies the rest of day 1."""
    pool = [int(x) for x in rng.permutation(N_DOCUMENTS)]
    day1 = pool[:DAY1_NEW]
    expired = [int(x) for x in rng.permutation(day1)[:DAY2_EXPIRED]]
    gone = set(expired)
    day2 = [d for d in day1 if d not in gone] + pool[DAY1_NEW : DAY1_NEW + DAY2_NEW]
    days = [{"posted": day1, "expired": []}, {"posted": day2, "expired": expired}]
    for d in days:
        dup = rng.permutation(d["posted"])[:INBATCH_DUPS]
        d["posted"] = d["posted"] + [int(x) for x in dup]
    return days


def generate(out: str, seed: int) -> None:
    """Write every input for ``seed`` under ``out`` (idempotent: a
    finished directory carries a ``_DONE`` marker and is reused)."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = documents(rng)
    _write(docs, os.path.join(out, "documents.parquet"))
    for i, day in enumerate(day_plan(rng), start=1):
        d = os.path.join(out, "etl", f"day{i}")
        os.makedirs(d, exist_ok=True)
        # run_pipeline reads `<dir>/documents.parquet`
        _write(docs.take(day["posted"]), os.path.join(d, "documents.parquet"))
        _write(
            pa.table({"doc_id": pa.array(day["expired"], pa.int64())}),
            os.path.join(d, "expired.parquet"),
        )
    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.out, a.seed)
