"""Seeded benchmark inputs.

`make_tables` writes the ten tables `engine.tables.TABLES` names, with the
schema and value conventions of the engine's test data (2-decimal doubles,
NTZ timestamps, float32 unit embeddings), at row counts proportional to a
scale factor.  `make_stream` writes a replayable event stream: ts-ordered
files with re-emitted duplicates and rows far behind the watermark, whose
counts are exact by construction.  The same seed always writes the same rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US_PER_HOUR = 3_600_000_000
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_DAY_US = 24 * _US_PER_HOUR
_FILE_SPAN_US = 2 * _US_PER_HOUR  # event time one stream file covers
_LATE_LAG = 12  # a late row in stream file j has an event time from file j - 12

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a the data spark table row column key value join group sort merge hash "
         "scan filter agg window stream batch query order line part customer "
         "vector small big fast slow").split()
_TS = pa.timestamp("us")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """2-decimal doubles: the double nearest to k/100 for integer k."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo) // np.timedelta64(1, "D")
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), _TS)


def _labels(prefix: str, ids: np.ndarray, width: int = 0) -> list[str]:
    return [f"{prefix}{int(i):0{width}d}" for i in ids]


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _event_columns(rng: np.random.Generator, ts_us: np.ndarray, ids: np.ndarray,
                   n_users: int) -> dict:
    n = len(ids)
    value_c = np.clip(np.rint(rng.exponential(5000.0, n)), 1, 49002).astype(np.int64)
    return {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us.astype("datetime64[us]"), _TS),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value_c / 100.0),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
    }


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every engine table at scale factor `sf`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(50, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    rows = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _labels("NATION_", range(25)),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _labels("Customer#", range(n_cust), 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _labels("Supplier#", range(n_supp), 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 999_999, n_supp)})
    adjectives = np.array("blue cold hot new old red small large".split())
    nouns = np.array("anvil bolt gear plate ring rod widget".split())
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 7, n_part)]),
        "p_brand": _labels("Brand#", rng.integers(1, 26, n_part)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(rng, 90_000, 99_990, n_part)})
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 101_370, 49_997_859, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_182, 10_499_788, n_line),
        "l_discount": _cents(rng, 0, 10, n_line),
        "l_tax": _cents(rng, 0, 8, n_line),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev))
    rows["events"] = _write(out_dir, "events", _event_columns(
        rng, ts, np.arange(n_ev), max(5, round(15_000 * sf))))

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 101))])
             for _ in range(n_doc)]
    # Every 20th document repeats an earlier one's first 8 tokens, so
    # dedup_docs has real clusters to merge.
    for i in range(20, n_doc, 20):
        src = texts[int(rng.integers(0, i))].split(" ")[:8]
        texts[i] = " ".join(src + texts[i].split(" ")[8:])
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": _labels("src", rng.integers(0, 20, n_doc)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return rows


@dataclass(frozen=True)
class Stream:
    """What `make_stream` wrote.  Late rows carry event ids >= `late_id_base`."""
    dir: str
    rows: int
    dups: int
    late: int
    late_id_base: int


def make_stream(out_dir: str, seed: int, events: int, files: int, dups: int,
                late: int) -> Stream:
    """Write `files` ts-ordered parquet files of on-time events, plus `dups`
    re-emitted copies and `late` rows behind the watermark.

    File i covers event time [i, i+1) * 2 hours.  A duplicate copies a
    row from the last half hour of file i into file i+1, so its original is
    still inside the 1-hour watermark and the dedup drops it as a duplicate,
    not as late.  A late row sits in file j >= 12 with an event time from file
    j-12's span.  Spark filters late rows against the watermark of the
    previous micro-batch, which lags the newest row read by up to two
    micro-batches plus the 1-hour delay; with at most four files per
    micro-batch and a 2-hour span, every late row is at least 5 hours behind
    that watermark.
    File modification times increase with the index, which fixes the order in
    which the file source picks them up.
    """
    if files <= _LATE_LAG or not 0 <= dups <= events // 8 or late < 0:
        raise ValueError(f"need more than {_LATE_LAG} files and at most events/8 duplicates")
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    span = _FILE_SPAN_US
    n_users = max(5, events // 70)
    per_file = np.diff(np.linspace(0, events, files + 1).astype(np.int64))
    file_of = np.repeat(np.arange(files), per_file)
    ts = np.sort(file_of * span + rng.integers(0, span, events)) + _EPOCH_2024_US
    base = _event_columns(rng, ts, np.arange(events), n_users)
    base_tbl = pa.table(base)

    # Candidates for re-emission: rows in the last half hour of a file that
    # has a successor.
    offset = ts - _EPOCH_2024_US - file_of * span
    cand = np.flatnonzero((offset >= span - _US_PER_HOUR // 2) & (file_of < files - 1))
    if len(cand) < dups:
        raise ValueError("not enough rows near file ends to re-emit as duplicates")
    dup_rows = np.sort(rng.choice(cand, dups, replace=False))
    dup_file = file_of[dup_rows] + 1

    late_file = rng.integers(_LATE_LAG, files, late)
    late_ts = ((late_file - _LATE_LAG) * span + rng.integers(0, span, late)) + _EPOCH_2024_US
    late_tbl = pa.table(_event_columns(rng, late_ts, events + np.arange(late), n_users))

    mtime = 1_700_000_000
    for i in range(files):
        parts = [base_tbl.filter(pa.array(file_of == i)),
                 base_tbl.take(pa.array(dup_rows[dup_file == i])),
                 late_tbl.filter(pa.array(late_file == i))]
        path = os.path.join(out_dir, f"events_{i:03d}.parquet")
        pq.write_table(pa.concat_tables(parts), path)
        os.utime(path, (mtime + i, mtime + i))
    return Stream(out_dir, events + dups + late, dups, late, events)
