"""Seeded input tables for the benchmark.

``base`` writes the ten star-schema tables the queries read, in the
shape of the sf0.01 test data (1.5k customers, 15k orders, 60k
lineitem, 10k events, 500 documents, 500 embeddings), one parquet file
each.  Column domains follow the shipped test data: uniform keys and
measures, day-granular order/ship dates, a 30-day event stream,
30-word documents of which about 5% are a copy of an earlier document
plus the token ``dup`` (the near-duplicate load the dedup operators
look for), and unit-norm 64-d float embeddings.

``replicate`` writes the ×R key-shifted copy of a base: replica ``i``
adds ``i * OFFSET`` to every entity key, so foreign keys stay
consistent and per-key group sizes stay constant (the replication
model of ``tools/scale_probe.py``).  Rows are shuffled with the seed
and split into ``R`` part files per table.

Everything is a pure function of the seed: the same seed writes the
same bytes.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 1_000_000_000
REPLICAS = 10
KEEP_SEEDS = 3  # generated seeds kept on disk

BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

# key columns shifted per replica; region and nation are shared
KEY_COLS = {
    "region": (),
    "nation": (),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window small big data column query join filter group "
    "order stream vector customer"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "new", "large", "hot", "cold", "blue", "old", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_us, first, span, n):
    days = rng.integers(first, first + span + 1, n)
    return pa.array(start_us + days * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0xBA5E])
    n = BASE_ROWS
    ncust, nsupp, npart, nord = n["customer"], n["supplier"], n["part"], n["orders"]
    nli, nev = n["lineitem"], n["events"]
    emb = rng.standard_normal((n["embeddings"], 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ev_ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, nev)) + _EPOCH_2024
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": rng.integers(0, 5, 25).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(ncust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
            "c_nationkey": rng.integers(0, 25, ncust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, ncust),
            "c_mktsegment": _pick(rng, SEGMENTS, ncust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(nsupp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
            "s_nationkey": rng.integers(0, 25, nsupp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, nsupp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": 900.0 + rng.integers(0, 1000, npart) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(nord, dtype=np.int64),
            "o_custkey": rng.integers(0, ncust, nord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], nord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, nord),
            "o_orderdate": _days(rng, _EPOCH_1995, 0, 2404, nord),
            "o_orderpriority": _pick(rng, PRIORITIES, nord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, nord, nli, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nli, dtype=np.int64),
            "l_suppkey": rng.integers(0, nsupp, nli, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nli).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nli).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nli),
            "l_discount": rng.integers(0, 11, nli) / 100.0,
            "l_tax": rng.integers(0, 9, nli) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nli),
            "l_linestatus": _pick(rng, ["F", "O"], nli),
            "l_shipdate": _days(rng, _EPOCH_1995, 1, 2498, nli),
        }),
        "events": pa.table({
            "event_id": np.arange(nev, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 150, nev, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, nev),
            "value": np.round(rng.exponential(50.0, nev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)],
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": pa.table({
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
        }),
    }


def replicate(table: pa.Table, keys: tuple[str, ...], r: int, rng) -> pa.Table:
    """``r`` key-shifted copies of ``table`` in a seeded row order."""
    if not keys:
        return table
    reps = []
    for i in range(r):
        cols = {
            name: pc.add(table[name], pa.scalar(i * OFFSET, pa.int64()))
            if name in keys else table[name]
            for name in table.column_names
        }
        reps.append(pa.table(cols))
    out = pa.concat_tables(reps)
    return out.take(pa.array(rng.permutation(out.num_rows)))


def row_counts(root: Path) -> dict[str, int]:
    """Row counts of every table under ``root`` from parquet footers."""
    counts = {}
    for table in BASE_ROWS:
        path = root / f"{table}.parquet"
        files = sorted(path.glob("*.parquet")) if path.is_dir() else [path]
        counts[table] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return counts


def expected_counts(replicas: int) -> dict[str, int]:
    return {
        t: n * (replicas if KEY_COLS[t] else 1) for t, n in BASE_ROWS.items()
    }


def _write(dest: Path, tables: dict[str, pa.Table], parts: int) -> None:
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in tables.items():
        if parts == 1 or not KEY_COLS[name]:
            pq.write_table(table, tmp / f"{name}.parquet")
            continue
        (tmp / f"{name}.parquet").mkdir()
        step = -(-table.num_rows // parts)
        for p in range(parts):
            pq.write_table(
                table.slice(p * step, step),
                tmp / f"{name}.parquet" / f"part-{p:05d}.parquet",
            )
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def ensure(data_root: Path, seed: int, kind: str) -> tuple[Path, float]:
    """Make sure the seed's ``kind`` tables ("base" or "x10") exist and
    hold the expected row counts; generate them if not.  Returns the
    table directory and the seconds spent generating (0 on a cache hit).
    Keeps the ``KEEP_SEEDS`` most recently used seeds, deletes the rest."""
    replicas = {"base": 1, "x10": REPLICAS}[kind]
    seed_dir = data_root / f"seed-{seed}"
    path = seed_dir / kind
    want = expected_counts(replicas)
    manifest = path / "manifest.json"
    try:
        ok = json.loads(manifest.read_text()) == want == row_counts(path)
    except (OSError, ValueError):
        ok = False
    gen_s = 0.0
    if not ok:
        t0 = time.perf_counter()
        base = base_tables(seed)
        if replicas == 1:
            _write(path, base, parts=1)
        else:
            rng = np.random.default_rng([seed, replicas])
            tables = {t: replicate(base[t], KEY_COLS[t], replicas, rng) for t in base}
            _write(path, tables, parts=replicas)
        got = row_counts(path)
        if got != want:
            raise RuntimeError(f"{path}: row counts {got} != expected {want}")
        manifest.write_text(json.dumps(got, sort_keys=True))
        gen_s = time.perf_counter() - t0
    seed_dir.touch()
    stale = sorted(
        (p for p in data_root.glob("seed-*") if p != seed_dir),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for old in stale[KEEP_SEEDS - 1:]:
        shutil.rmtree(old, ignore_errors=True)
    return path, gen_s
