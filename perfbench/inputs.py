"""Benchmark inputs, generated from the seed and cached in the checkout.

Every cache entry is keyed by the generator parameters AND a digest of
the generator source (``nametag3_spark/data/synth.py`` plus this file),
so editing a generator can never reuse stale input. Entries are written
to a temporary directory and renamed into place, so an interrupted run
leaves no half-written entry behind.

Transcripts come from ``synth.generate_conversation``, the same pure
per-conversation function ``synth_transcripts`` distributes, so the rows
are those of ``synth_transcripts(n_convs, avg_turns, seed)``. They are
generated in-process (no JVM) and spread round-robin over ``n_files``
parquet files, so hot conversations land in different scan tasks.

The query tables follow the TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` side tables that ``__spark_entry__``'s
queries read, at a given scale factor. Their schemas (timestamps without
a time zone, read by Spark as ``TIMESTAMP_NTZ``), row counts per scale
factor, key ranges, value distributions and the near-duplicate rate of
the documents follow the deterministic seed-42 test tables the repo's
tests and ``bench.py`` read (sf0.001-sf0.1); README.md compares the two
at sf0.01 table by table and query by query.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPTS = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
GOLD = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("start_tok", pa.int32()),
        ("end_tok", pa.int32()),
        ("label", pa.string()),
        ("surface", pa.string()),
        ("entity_id", pa.string()),
    ]
)


def source_digest(*paths: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _publish(final: Path, fill) -> Path:
    """Run ``fill(tmp_dir)`` and atomically rename the result to ``final``."""
    if final.exists():
        return final
    final.parent.mkdir(parents=True, exist_ok=True)
    tmp = final.with_name(final.name + ".tmp-" + uuid.uuid4().hex[:8])
    try:
        fill(tmp)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def transcripts(
    cache: Path, seed: int, n_convs: int, avg_turns: int, n_files: int
) -> Path:
    """``<entry>/turns`` (n_files parquet files) and ``<entry>/gold``."""
    from nametag3_spark.data import synth

    digest = source_digest(Path(synth.__file__), Path(__file__))
    final = cache / f"transcripts-s{seed}-c{n_convs}-a{avg_turns}-f{n_files}-{digest}"

    def fill(tmp: Path) -> None:
        turns: list[list[dict]] = [[] for _ in range(n_files)]
        gold: list[dict] = []
        for conv in range(n_convs):
            t, g = synth.generate_conversation(seed, conv, n_convs, avg_turns)
            turns[conv % n_files].extend(t)
            gold.extend(g)
        (tmp / "turns").mkdir(parents=True)
        (tmp / "gold").mkdir()
        for i, rows in enumerate(turns):
            pq.write_table(
                pa.Table.from_pylist(rows, schema=TRANSCRIPTS),
                tmp / "turns" / f"part-{i:05d}.parquet",
            )
        pq.write_table(
            pa.Table.from_pylist(gold, schema=GOLD), tmp / "gold" / "part-0.parquet"
        )

    return _publish(final, fill)


def count_turns(entry: Path) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in sorted((entry / "turns").iterdir())
    )


# --- query tables -----------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_RATE = 0.05
TABLES_SEED = 42


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo), np.datetime64(hi)
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts of 10-99 words; one in twenty is a near
    duplicate of an earlier text, one word longer or shorter."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_RATE:
            words = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.5:
                words = words[:-1]
            else:
                words.append(WORDS[int(rng.integers(0, len(WORDS)))])
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _build_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    choice = lambda opts, n: [opts[j] for j in rng.integers(0, len(opts), n)]  # noqa: E731
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
                "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
                "o_orderpriority": choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, int(200_000 * sf), n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": choice(["A", "N", "R"], n_li),
                "l_linestatus": choice(["F", "O"], n_li),
                "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(n_ev)),
                "ts": _ts(ev_ts),
                "user_id": i64(rng.integers(0, n_users, n_ev)),
                "event_type": choice(EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table(
            {
                "vec_id": i64(np.arange(n_emb)),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": i32(rng.integers(0, 10, n_emb)),
            }
        ),
    }


def query_tables(cache: Path, sf: float) -> Path:
    """``<entry>/<table>.parquet`` for the nine tables the queries read.

    The tables use one fixed seed: the workload seed permutes the query
    order only, so run-to-run spread measures the program, not the data."""
    digest = source_digest(Path(__file__))
    final = cache / f"tables-sf{sf}-s{TABLES_SEED}-{digest}"

    def fill(tmp: Path) -> None:
        tmp.mkdir(parents=True)
        rng = np.random.default_rng(TABLES_SEED)
        for name, table in _build_tables(sf, rng).items():
            pq.write_table(table, tmp / f"{name}.parquet")

    return _publish(final, fill)
