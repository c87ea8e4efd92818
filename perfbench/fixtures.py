"""Seeded input generation. The same seed always gives the same files.

Tables follow the shapes of the TPC-H-style star schema the registry
queries read (``FIXTURES.md`` section A), at a tenth of sf0.1.
The ingestion sources follow the SAP, LIMS and C1 reference shapes
(``FIXTURES.md`` section B); their refs strictly increase with the row
index, so every increment lies above the previous watermark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table; the registry jobs cost about the same from 1/1000 to 1/10 of sf0.1
SIZES = {
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "documents": 500,
}

#: base rows and rows per increment of each ingestion source
INGEST_SIZES = {"sap": (20_000, 400), "lims": (5_000, 200), "c1": (1_500, 50)}

#: stream fixture: base corpus docs, docs per generated file
STREAM_BASE_DOCS = 300
STREAM_FILE_DOCS = 40
#: share of stream docs that copy a base-corpus text, and that carry boilerplate
STREAM_PLANTED_SHARE = 0.1
STREAM_BOILERPLATE_SHARE = 0.2

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DOC_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow group agg "
    "filter query big key window row table stream merge data vector join shuffle plan "
    "task stage cache index lake file write read partition skew broadcast"
).split()
_EPOCH = dt.datetime(1992, 1, 1)
_SYSTEM_SALT = {"sap": 1, "lims": 2, "c1": 3}


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + seconds.astype("timedelta64[s]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def write_atomic(table: pa.Table, path: str) -> None:
    """Write then rename: readers never see a partial file, and Spark's
    file listing skips the dot-prefixed temporary name."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _doc_texts(rng: np.random.Generator, n: int, words: list[str], lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(words), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[i] for i in picks[at : at + k]))
        at += k
    return out


def write_tables(seed: int, sf_dir: str) -> None:
    """Write the registry's input tables under ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    n_c, n_o, n_l = SIZES["customer"], SIZES["orders"], SIZES["lineitem"]
    r = _rng(seed, 1)
    write_atomic(pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_c)],
    }), f"{sf_dir}/customer.parquet")
    odays = r.integers(0, 7 * 365, n_o)
    write_atomic(pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in r.integers(0, 3, n_o)],
        "o_totalprice": np.round(r.uniform(900, 450_000, n_o), 2),
        "o_orderdate": _ts(_EPOCH, odays * 86_400),
        "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_o)],
    }), f"{sf_dir}/orders.parquet")
    lorder = r.integers(0, n_o, n_l)
    write_atomic(pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(r.integers(0, 2_000, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 100, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
        # whole-dollar prices: price * (1 - discount) is then a whole number
        # of cents, so no rounded revenue sits on a half-cent tie, which two
        # engines' float sums may break either way
        "l_extendedprice": r.integers(900, 100_000, n_l).astype(np.float64),
        "l_discount": r.integers(0, 11, n_l) / 100.0,
        "l_tax": r.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_l)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n_l)],
        "l_shipdate": _ts(_EPOCH, (odays[lorder] + r.integers(1, 122, n_l)) * 86_400),
    }), f"{sf_dir}/lineitem.parquet")
    n_d = SIZES["documents"]
    texts = _doc_texts(r, n_d, _DOC_WORDS, 8, 60)
    write_atomic(pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr", "zh")[i] for i in r.integers(0, 4, n_d)],
        "source": [f"src{i}" for i in r.integers(0, 5, n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{sf_dir}/documents.parquet")


class IngestSources:
    """The three reference sources, each a directory that grows one file per increment.

    ``append(system)`` writes the next increment. Refs increase strictly
    with the row index, so an increment is exactly the rows above the
    watermark the previous increment left.
    """

    def __init__(self, seed: int, root: str):
        self.root = root
        self.seed = seed
        self.next_row = {s: 0 for s in INGEST_SIZES}
        self.n_files = {s: 0 for s in INGEST_SIZES}
        for s in INGEST_SIZES:
            os.makedirs(self.path(s), exist_ok=True)

    def path(self, system: str) -> str:
        return f"{self.root}/{system}"

    def append(self, system: str) -> int:
        base, inc = INGEST_SIZES[system]
        n = base if self.n_files[system] == 0 else inc
        lo = self.next_row[system]
        ids = np.arange(lo, lo + n)
        r = _rng(self.seed, 100 + 1000 * _SYSTEM_SALT[system] + self.n_files[system])
        table = getattr(self, f"_{system}")(ids, r)
        write_atomic(table, f"{self.path(system)}/part-{self.n_files[system]:05d}.parquet")
        self.next_row[system] = lo + n
        self.n_files[system] += 1
        return n

    @staticmethod
    def _sap(ids: np.ndarray, r: np.random.Generator) -> pa.Table:
        # one row per 1000 s plus jitter below the step: strictly increasing
        secs = ids * 1000 + r.integers(0, 1000, len(ids))
        when = np.datetime64(dt.datetime(2018, 1, 1), "s") + secs.astype("timedelta64[s]")
        txt = np.datetime_as_string(when, unit="s")  # 'YYYY-MM-DDTHH:MM:SS'
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "ERDAT": [t[0:4] + t[5:7] + t[8:10] for t in txt],
            "ERZET": [t[11:13] + t[14:16] + t[17:19] for t in txt],
            "amount": np.round(r.uniform(0, 10_000, len(ids)), 2),
            "plant": [f"P0{i}" for i in r.integers(1, 6, len(ids))],
        })

    @staticmethod
    def _lims(ids: np.ndarray, r: np.random.Generator) -> pa.Table:
        us = ids * 3_600_000_000 + r.integers(0, 3_600_000_000, len(ids))
        when = np.datetime64(dt.datetime(2019, 1, 1), "us") + us.astype("timedelta64[us]")
        ts = pa.array(when, pa.timestamp("us"))
        null = r.random(len(ids)) < 0.02
        ts = pa.array([None if z else v for z, v in zip(null, ts.to_pylist())], pa.timestamp("us"))
        return pa.table({
            "sample_id": pa.array(ids, pa.int64()),
            "MODIFIED_ON": ts,
            "result": np.round(r.uniform(0, 100, len(ids)), 3),
            "status": [("OK", "KO", "PENDING")[i] for i in r.integers(0, 3, len(ids))],
        })

    @staticmethod
    def _c1(ids: np.ndarray, r: np.random.Generator) -> pa.Table:
        # 6 h apart from late 2019: the ISO week-53 boundary of 2020 is inside
        us = ids * 21_600_000_000 + r.integers(0, 21_600_000_000, len(ids))
        when = np.datetime64(dt.datetime(2019, 12, 1), "us") + us.astype("timedelta64[us]")
        null = r.random(len(ids)) < 0.05
        return pa.table({
            "contact_id": pa.array(ids, pa.int64()),
            "EMAIL__C": [None if z else f"user{i}@example.com" for z, i in zip(null, ids)],
            "IS_PRO__C": r.random(len(ids)) < 0.3,
            "LASTMODIFIEDDATE": pa.array(when, pa.timestamp("us")),
            "extra_col": [f"x{i}" for i in ids],
        })


class StreamDocs:
    """Docs for the admission stream: a base corpus and numbered stream files.

    A fixed share of stream docs copy the text of a base-corpus doc (the
    planted duplicates every admission must reject) and a fixed share open
    with a shared boilerplate sentence, so those shingles pass the df cap.
    """

    def __init__(self, seed: int):
        self.seed = seed
        r = _rng(seed, 50)
        self.words = ["".join(chr(97 + c) for c in r.integers(0, 26, 6)) for _ in range(3000)]
        self.boilerplate = " ".join(self.words[:12])
        texts = _doc_texts(r, STREAM_BASE_DOCS, self.words, 30, 60)
        for i in np.flatnonzero(r.random(STREAM_BASE_DOCS) < STREAM_BOILERPLATE_SHARE):
            texts[i] = self.boilerplate + " " + texts[i]
        self.base_ids = list(range(STREAM_BASE_DOCS))
        self.base_texts = texts
        self._unused_base = list(r.permutation(STREAM_BASE_DOCS))
        self.planted: set[int] = set()
        self.offered: list[int] = []

    def write_base(self, path: str) -> None:
        write_atomic(pa.table({
            "doc_id": pa.array(self.base_ids, pa.int64()),
            "text": self.base_texts,
        }), path)

    def batch(self, k: int, created_at: np.ndarray) -> pa.Table:
        """Docs of stream file ``k``; ``created_at`` holds one stamp per doc."""
        n = STREAM_FILE_DOCS
        r = _rng(self.seed, 1000 + k)
        ids = np.arange(1_000_000 + k * n, 1_000_000 + (k + 1) * n)
        texts = _doc_texts(r, n, self.words, 30, 60)
        for i in np.flatnonzero(r.random(n) < STREAM_BOILERPLATE_SHARE):
            texts[i] = self.boilerplate + " " + texts[i]
        n_planted = int(round(n * STREAM_PLANTED_SHARE))
        for i in r.choice(n, n_planted, replace=False):
            if not self._unused_base:
                break
            texts[i] = self.base_texts[self._unused_base.pop()]
            self.planted.add(int(ids[i]))
        self.offered.extend(int(i) for i in ids)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "created_at": pa.array(created_at, pa.float64()),
        })
