"""Seeded generator for the analytics fixture (the ten test tables).

The tables follow the layout of the repo's test fixtures (TESTDATA.md:
one parquet file per table, TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``). ``scale`` multiplies the sf0.1 row
counts, so ``scale=10`` is the sf1 size. Row values are drawn from
``numpy.random.default_rng(seed)``: the same seed and scale give the
same files.

The parquet schema must equal the sf0.1 fixture's exactly, down to the
timestamp flavour. ``EXPECTED_SCHEMA`` pins it and ``write_fixture``
checks every file it writes against it. ``events.ts`` in particular
stays ``TIMESTAMP(isAdjustedToUTC=false)``: Spark reads that as
TIMESTAMP_NTZ, which q28's ``date_trunc_tzfree`` requires (see
``README.md`` in this directory for the scaled-fixture defect this
guards against).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_NTZ_US = (
    "Timestamp(isAdjustedToUTC=false, timeUnit=microseconds, "
    "is_from_converted_type=false, force_set_converted_type=false)"
)

# table -> [(column, physical type, logical type, max def, max rep)],
# as pyarrow reports them for the sf0.1 test fixture.
EXPECTED_SCHEMA: dict[str, list[tuple[str, str, str, int, int]]] = {
    "region": [
        ("r_regionkey", "INT32", "None", 1, 0),
        ("r_name", "BYTE_ARRAY", "String", 1, 0),
    ],
    "nation": [
        ("n_nationkey", "INT32", "None", 1, 0),
        ("n_name", "BYTE_ARRAY", "String", 1, 0),
        ("n_regionkey", "INT32", "None", 1, 0),
    ],
    "customer": [
        ("c_custkey", "INT64", "None", 1, 0),
        ("c_name", "BYTE_ARRAY", "String", 1, 0),
        ("c_nationkey", "INT32", "None", 1, 0),
        ("c_acctbal", "DOUBLE", "None", 1, 0),
        ("c_mktsegment", "BYTE_ARRAY", "String", 1, 0),
    ],
    "supplier": [
        ("s_suppkey", "INT64", "None", 1, 0),
        ("s_name", "BYTE_ARRAY", "String", 1, 0),
        ("s_nationkey", "INT32", "None", 1, 0),
        ("s_acctbal", "DOUBLE", "None", 1, 0),
    ],
    "part": [
        ("p_partkey", "INT64", "None", 1, 0),
        ("p_name", "BYTE_ARRAY", "String", 1, 0),
        ("p_brand", "BYTE_ARRAY", "String", 1, 0),
        ("p_type", "BYTE_ARRAY", "String", 1, 0),
        ("p_size", "INT32", "None", 1, 0),
        ("p_retailprice", "DOUBLE", "None", 1, 0),
    ],
    "orders": [
        ("o_orderkey", "INT64", "None", 1, 0),
        ("o_custkey", "INT64", "None", 1, 0),
        ("o_orderstatus", "BYTE_ARRAY", "String", 1, 0),
        ("o_totalprice", "DOUBLE", "None", 1, 0),
        ("o_orderdate", "INT64", _NTZ_US, 1, 0),
        ("o_orderpriority", "BYTE_ARRAY", "String", 1, 0),
    ],
    "lineitem": [
        ("l_orderkey", "INT64", "None", 1, 0),
        ("l_partkey", "INT64", "None", 1, 0),
        ("l_suppkey", "INT64", "None", 1, 0),
        ("l_linenumber", "INT32", "None", 1, 0),
        ("l_quantity", "DOUBLE", "None", 1, 0),
        ("l_extendedprice", "DOUBLE", "None", 1, 0),
        ("l_discount", "DOUBLE", "None", 1, 0),
        ("l_tax", "DOUBLE", "None", 1, 0),
        ("l_returnflag", "BYTE_ARRAY", "String", 1, 0),
        ("l_linestatus", "BYTE_ARRAY", "String", 1, 0),
        ("l_shipdate", "INT64", _NTZ_US, 1, 0),
    ],
    "events": [
        ("event_id", "INT64", "None", 1, 0),
        ("ts", "INT64", _NTZ_US, 1, 0),
        ("user_id", "INT64", "None", 1, 0),
        ("event_type", "BYTE_ARRAY", "String", 1, 0),
        ("value", "DOUBLE", "None", 1, 0),
        ("props", "BYTE_ARRAY", "String", 1, 0),
    ],
    "documents": [
        ("doc_id", "INT64", "None", 1, 0),
        ("text", "BYTE_ARRAY", "String", 1, 0),
        ("lang", "BYTE_ARRAY", "String", 1, 0),
        ("source", "BYTE_ARRAY", "String", 1, 0),
        ("n_chars", "INT64", "None", 1, 0),
    ],
    "embeddings": [
        ("vec_id", "INT64", "None", 1, 0),
        ("element", "FLOAT", "None", 3, 1),
        ("label", "INT32", "None", 1, 0),
    ],
}

# sf0.1 row counts of the scaled tables; region/nation/supplier/embeddings
# keep their sf0.1 size at every scale, as the repo's scaled fixtures do.
_BASE_ROWS = {
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value vector window"
).split()
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
_DAY_US = 86_400 * 1_000_000


def _strings(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(choices)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _midnights(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(0, n_days, n, dtype=np.int64)
    return pa.array(start_us + days * _DAY_US, pa.timestamp("us"))


def _tables(seed: int, scale: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: rows * scale for t, rows in _BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _strings(rng, _SEGMENTS, nc),
    })

    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1000, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1000)]),
        "s_nationkey": pa.array(rng.integers(0, 25, 1000, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, 1000)),
    })

    npart = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _strings(rng, names, npart),
        "p_brand": _strings(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _strings(rng, _PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(_money(rng, 900.0, 2100.0, npart)),
    })

    # Every 50th customer places no order, so q05's anti join keeps 2%.
    no = n["orders"]
    buyers = np.arange(nc, dtype=np.int64)
    buyers = buyers[buyers % 50 != 0]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.choice(buyers, no)),
        "o_orderstatus": _strings(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _midnights(rng, _EPOCH_1995_US, 2404, no),
        "o_orderpriority": _strings(rng, _PRIORITIES, no),
    })

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _strings(rng, ["A", "N", "R"], nl),
        "l_linestatus": _strings(rng, ["F", "O"], nl),
        "l_shipdate": _midnights(rng, _EPOCH_1995_US + _DAY_US, 2498, nl),
    })

    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne, dtype=np.int64)) + _EPOCH_2024_US
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500 * scale, ne, dtype=np.int64)),
        "event_type": _strings(rng, _EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(60.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    # ~2% of documents repeat an earlier text exactly (q26's dedup).
    nd = n["documents"]
    lengths = rng.integers(5, 100, nd)
    words = rng.integers(0, len(_DOC_WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_DOC_WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    dups = rng.random(nd) < 0.02
    src = rng.integers(0, np.arange(nd).clip(min=1))
    texts = [texts[s] if d and i else t for i, (t, d, s) in enumerate(zip(texts, dups, src))]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strings(rng, _LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": _strings(rng, [f"src{i}" for i in range(20)], nd),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    vecs = rng.standard_normal((2000, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(2000, dtype=np.int64)),
        "embedding": pa.array(
            list(vecs), pa.list_(pa.field("element", pa.float32()))
        ),
        "label": pa.array(rng.integers(0, 10, 2000, dtype=np.int32)),
    })
    return out


def parquet_schema(path: str) -> list[tuple[str, str, str, int, int]]:
    return [
        (c.name, c.physical_type, str(c.logical_type), c.max_definition_level,
         c.max_repetition_level)
        for c in pq.ParquetFile(path).schema
    ]


def write_fixture(out_dir: str, seed: int, scale: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for every table; returns row counts.
    Raises ``ValueError`` if any file's schema differs from the pin."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        got = parquet_schema(path)
        if got != EXPECTED_SCHEMA[name]:
            raise ValueError(f"{name}: schema {got} != {EXPECTED_SCHEMA[name]}")
        rows[name] = table.num_rows
    return rows
