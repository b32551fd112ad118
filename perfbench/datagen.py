"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its ``seed`` argument (numpy
``default_rng``), so the same seed writes byte-identical files. The
engine under test only ever sees the files these functions write.

- :func:`write_ccsds_file` writes flat CCSDS packet files in the
  FIXTURES.md section 2 housekeeping layout, with seeded DN values and
  roughly 10% of packets on a second APID that decom does not define.
- :func:`write_tables` writes the ten relational/corpus tables the query
  library reads (FIXTURES.md section 1 schemas), at a row scale chosen
  by ``sf``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: APID the decom definitions cover, and the one they do not.
HK_APID = 0x100
OTHER_APID = 0x200
OTHER_APID_SHARE = 0.10
SEC_HDR_LEN = 4
#: user data: obc_temp u16, bus_voltage u16, bat_current u16,
#: mission_time_s f32, checksum u16 (FIXTURES.md section 2).
USER_DATA_LEN = 12


@dataclass(frozen=True)
class CcsdsFile:
    """One generated packet file and the values it encodes."""

    path: str
    n_bytes: int
    seq_count: np.ndarray  # per packet, uint16 (14-bit)
    apid: np.ndarray  # per packet, uint16
    obc_temp: np.ndarray  # DN values, uint16
    bus_voltage: np.ndarray
    bat_current: np.ndarray
    mission_time_s: np.ndarray  # float32


def write_ccsds_file(path: str, n_packets: int, seed: int) -> CcsdsFile:
    """Write ``n_packets`` CCSDS space packets to ``path``.

    Primary header: version 0, type 0, secondary-header flag 1, the APID,
    sequence flags 0b11 and ``seq_count = i mod 16384``; a 4-byte
    big-endian counter as the secondary header; then the 12-byte user
    data. DN values are uniform over each parameter's calibration range.
    """
    rng = np.random.default_rng(seed)
    i = np.arange(n_packets, dtype=np.uint32)
    apid = np.where(
        rng.random(n_packets) < OTHER_APID_SHARE, OTHER_APID, HK_APID
    ).astype(np.uint16)
    seq = (i % 16384).astype(np.uint16)
    obc = rng.integers(1024, 3072, n_packets, dtype=np.uint16)
    bus = rng.integers(2000, 4000, n_packets, dtype=np.uint16)
    bat = rng.integers(0, 4096, n_packets, dtype=np.uint16)
    mtime = (i.astype(np.float32) * np.float32(4.0)).astype(np.float32)

    rec = np.zeros(
        n_packets,
        dtype=[
            ("w0", ">u2"), ("w1", ">u2"), ("w2", ">u2"), ("sec", ">u4"),
            ("obc", ">u2"), ("bus", ">u2"), ("bat", ">u2"), ("t", ">f4"),
            ("chk", ">u2"),
        ],
    )
    rec["w0"] = (1 << 11) | apid  # version 0, type 0, sec-hdr flag, apid
    rec["w1"] = (0b11 << 14) | seq
    rec["w2"] = SEC_HDR_LEN + USER_DATA_LEN - 1
    rec["sec"] = i
    rec["obc"], rec["bus"], rec["bat"], rec["t"] = obc, bus, bat, mtime
    rec["chk"] = 0xABCD
    data = rec.tobytes()
    with open(path, "wb") as f:
        f.write(data)
    return CcsdsFile(path, len(data), seq, apid, obc, bus, bat, mtime)


# -- relational and corpus tables -----------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
_NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "cable", "spring"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join order data column small customer query "
    "big filter stream group vector"
).split()

_DAY_MS = 86_400_000


def _epoch_ms(date: str) -> int:
    return int(np.datetime64(date, "ms").astype(np.int64))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    ms = _epoch_ms(start) + rng.integers(0, n_days, n) * _DAY_MS
    return pa.array(ms, pa.timestamp("ms"))


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; about 5% are
    near-duplicates (an earlier document plus one or two ``dup``
    tokens), spread over the whole id range so every id-sliced dedup
    query sees some."""
    texts: list[str] = []
    for doc_id in range(n):
        if doc_id >= 8 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, doc_id))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def make_tables(sf: float, seed: int, n_docs: int = 500, n_vecs: int = 500) -> dict:
    """The ten input tables as Arrow tables; row counts scale with ``sf``
    like TESTDATA.md's (lineitem = 6M x sf), the corpus tables do not."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 10), max(int(1_500_000 * sf), 10)
    n_line, n_ev = max(int(6_000_000 * sf), 10), max(int(1_000_000 * sf), 10)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)),
                            "r_name": pa.array(_REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    t["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                            pa.string()),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    gaps = rng.integers(1, 2 * (30 * 86_400_000_000 // n_ev), n_ev)
    t["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(_epoch_ms("2024-01-01") * 1000 + np.cumsum(gaps),
                       pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 150, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(np.minimum(rng.exponential(50, n_ev), 490) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string()),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir: str, sf: float, seed: int, **sizes) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row
    counts. One row group per table, as TESTDATA.md's DuckDB-written
    files have."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(sf, seed, **sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
        rows[name] = table.num_rows
    return rows
