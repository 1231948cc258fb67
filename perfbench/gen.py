"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program comes from here, as a pure
function of ``seed``:

- ``write_tables``: the ten fixture tables (TPC-H-ish star schema plus
  ``events``, ``documents``, ``embeddings``) with the column types and
  value distributions of the shipped fixtures (FIXTURES.md), one parquet
  file per table, so ``dbbspark.tables.load_table`` and the DuckDB oracle
  read them exactly as they read the fixtures.
- ``stage_night``: one night of stage-in files for the ingest pipeline
  (valid FITS-ish files and manifests, md5 mismatches, missing required
  headers, unknown filetypes, ghost notifies, re-deliveries of names
  archived on earlier nights), returning the per-reason counts the
  pipeline must report.
- ``night_docs`` / ``GateReference``: each night's slice of the
  documents for the line-dedup gate, and a pure-Python reference of the
  gate's cumulative line-frequency rule.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor (sf 1.0); the document and embedding
# tables are fixed-size in the fixtures below sf 0.1, so they take a floor.
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_MIN_DOCS = 500
_MIN_VECS = 500

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    rows = {t: max(int(round(n * sf)), 1) for t, n in _ROWS_PER_SF.items()}
    rows["documents"] = max(int(round(50_000 * sf)), _MIN_DOCS)
    rows["embeddings"] = max(int(round(20_000 * sf)), _MIN_VECS)
    return rows


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Word-salad documents over a 30-word vocabulary; 5% are a copy of
    another document plus a trailing `` dup`` (the near-duplicate families
    the dedup operators look for; two copies of one source are exact
    duplicates of each other)."""
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    dup_ids = rng.choice(n, max(n // 20, 1), replace=False)
    dup_set = set(int(i) for i in dup_ids)
    originals = [i for i in range(n) if i not in dup_set]
    for i in sorted(dup_set):
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x7AB1E5])
    rows = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = rows["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = rows["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = rows["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    n_orders = rows["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": rng.integers(0, rows["customer"], n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    n = rows["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(int(n * 0.015), 1), n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = make_documents(seed, sf)
    n = rows["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return out


def make_documents(seed: int, sf: float) -> pa.Table:
    """The documents table on its own random stream, so that it can be
    made without the other tables."""
    rng = np.random.default_rng([seed, 0xD0C0])
    return pa.table(_documents(rng, table_rows(sf)["documents"]))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# ---------------------------------------------------------------------------
# nightly stage-in area

# reasons exactly as dbbspark.streaming.ingest reports them
REASON_MISSING_DATA = "missing data file"
REASON_UNKNOWN_FILETYPE = "unknown filetype"
REASON_CHECKSUM = "checksum mismatch"
REASON_MISSING_HEADER = "missing header value"
REASON_DUPLICATE = "duplicate file"

# files of each kind staged per night (re-deliveries start on night 1)
NIGHT_MIX = {
    "raw": 24,
    "manifest": 4,
    REASON_CHECKSUM: 3,
    REASON_MISSING_HEADER: 3,
    REASON_UNKNOWN_FILETYPE: 2,
    REASON_MISSING_DATA: 2,
    REASON_DUPLICATE: 4,
}
# one file of each kind: a warm-up night that runs every code path
WARMUP_MIX = {kind: 1 for kind in NIGHT_MIX}
NIGHT_EPOCH = dt.datetime(2024, 3, 1, 22, 0, tzinfo=dt.timezone.utc)

KEYWORD_CSV = "EXPNUM,R,N\nOBSTYPE,Y,N\nBAND,Y,N\nIGNORED,N,Y\n"


@dataclass
class Night:
    notify_dir: str
    delivery_dir: str
    expected: dict[str | None, int]  # reason (None = archived) -> count
    archived_names: list[str]
    staged_bytes: int


def _fits_bytes(rng: np.random.Generator, expnum: int | None) -> bytes:
    head = []
    if expnum is not None:
        head.append(f"EXPNUM = {expnum}")
    head.append(f"OBSTYPE = {rng.choice(['object', 'zero', 'flat', 'dark'])}")
    head.append(f"BAND = {rng.choice(list('grizY'))}")
    payload = rng.integers(0, 256, int(rng.integers(256, 2048)), dtype=np.uint8)
    return ("\n".join(head) + "\n").encode() + payload.tobytes()


def stage_night(
    root: str,
    night: int,
    seed: int,
    earlier_archived: list[str],
    mix: dict[str, int] = NIGHT_MIX,
) -> Night:
    """Write night ``night``'s stage-in files under ``root`` and return
    what ingesting them must report. ``earlier_archived`` holds names
    archived on earlier nights; re-deliveries are drawn from it. ``mix``
    gives the number of files of each kind."""
    rng = np.random.default_rng([seed, 0x516E, night])
    notify_dir = os.path.join(root, "notify")
    delivery_dir = os.path.join(root, "delivery")
    os.makedirs(notify_dir, exist_ok=True)
    os.makedirs(delivery_dir, exist_ok=True)
    mtime = (NIGHT_EPOCH + dt.timedelta(days=night)).timestamp()
    staged = 0
    expected: dict[str | None, int] = {}
    archived: list[str] = []

    def put(name: str, data: bytes | None, md5: str | None) -> None:
        nonlocal staged
        if data is not None:
            path = os.path.join(delivery_dir, name)
            with open(path, "wb") as f:
                f.write(data)
            os.utime(path, (mtime, mtime))
            staged += len(data)
        note = f"filename = {name}\n" + (f"md5sum = {md5}\n" if md5 else "")
        path = os.path.join(notify_dir, name + ".dbb")
        with open(path, "w") as f:
            f.write(note)
        os.utime(path, (mtime, mtime))
        staged += len(note)

    def md5(data: bytes) -> str:
        return hashlib.md5(data).hexdigest()

    base = 100_000 * (night + 1)
    for kind, count in mix.items():
        for j in range(count):
            if kind == "raw":
                name = f"DECam_{base + j:08d}.fits"
                data = _fits_bytes(rng, base + j)
                put(name, data, md5(data))
                archived.append(name)
                reason = None
            elif kind == "manifest":
                name = f"manifest_SN_N{night:03d}_{j}.json"
                data = f'{{"night": {night}, "field": "SN-X{j}"}}'.encode()
                put(name, data, md5(data))
                archived.append(name)
                reason = None
            elif kind == REASON_CHECKSUM:
                name = f"DECam_{base + 10_000 + j:08d}.fits"
                data = _fits_bytes(rng, base + 10_000 + j)
                put(name, data, "0" * 32)
                reason = kind
            elif kind == REASON_MISSING_HEADER:
                name = f"DECam_{base + 20_000 + j:08d}.fits"
                data = _fits_bytes(rng, None)
                put(name, data, md5(data))
                reason = kind
            elif kind == REASON_UNKNOWN_FILETYPE:
                name = f"mystery_{night:03d}_{j}.dat"
                data = rng.integers(0, 256, 300, dtype=np.uint8).tobytes()
                put(name, data, md5(data))
                reason = kind
            elif kind == REASON_MISSING_DATA:
                name = f"ghost_{night:03d}_{j}.fits"
                put(name, None, "f" * 32)
                reason = kind
            else:  # re-delivery of a name archived on an earlier night
                if not earlier_archived:
                    continue
                name = earlier_archived[
                    int(rng.integers(0, len(earlier_archived)))
                ]
                if os.path.exists(os.path.join(delivery_dir, name)):
                    continue
                data = _fits_bytes(rng, 1)
                put(name, data, md5(data))
                reason = kind
            expected[reason] = expected.get(reason, 0) + 1
    return Night(
        notify_dir=notify_dir,
        delivery_dir=delivery_dir,
        expected=expected,
        archived_names=archived,
        staged_bytes=staged,
    )


# ---------------------------------------------------------------------------
# nightly document slices and the line-dedup gate reference

DOCS_PER_NIGHT = 120
REDELIVERED_DOCS = 12


def night_docs(
    documents: pa.Table, seed: int, night: int
) -> list[tuple[int, str]]:
    """Night ``night``'s (doc_id, text) slice: the night's run of rows of
    the (seeded) documents table plus seeded re-deliveries of texts seen on earlier
    nights under fresh ids. Texts are split into lines of up to eight
    words so documents share lines, not only whole texts."""
    rng = np.random.default_rng([seed, 0xD0C5, night])
    ids = documents.column("doc_id").to_pylist()
    texts = documents.column("text").to_pylist()
    n = len(ids)
    start = (night * DOCS_PER_NIGHT) % n
    rows = [(ids[(start + i) % n], texts[(start + i) % n]) for i in range(DOCS_PER_NIGHT)]
    if night > 0:
        for k, i in enumerate(rng.integers(0, start or n, REDELIVERED_DOCS)):
            rows.append((10_000_000 * night + k, texts[int(i)]))

    def lines(text: str) -> str:
        words = text.split(" ")
        return "\n".join(
            " ".join(words[i : i + 8]) for i in range(0, len(words), 8)
        )

    return [(doc_id, lines(text)) for doc_id, text in rows]


def _normalize(line: str) -> str:
    """The gate's hashing normalization: lowercase, digits stripped,
    whitespace runs collapsed, trimmed."""
    return re.sub(r"\s+", " ", re.sub(r"\d+", "", line.lower())).strip()


@dataclass
class GateReference:
    """Pure-Python model of the cumulative line-frequency gate: a line is
    dropped once its normalized form has been seen at least ``min_df``
    times, counting the index of earlier nights plus the whole current
    night; blank lines are always kept."""

    min_df: int = 2
    counts: dict[str, int] = field(default_factory=dict)

    def gate(self, docs: list[tuple[int, str]]) -> dict[int, str]:
        night: dict[str, int] = {}
        for _doc_id, text in docs:
            for line in text.split("\n"):
                norm = _normalize(line)
                if norm:
                    night[norm] = night.get(norm, 0) + 1
        out = {}
        for doc_id, text in docs:
            kept = [
                line
                for line in text.split("\n")
                if not _normalize(line)
                or self.counts.get(_normalize(line), 0) + night[_normalize(line)]
                < self.min_df
            ]
            out[doc_id] = "\n".join(kept)
        for norm, c in night.items():
            self.counts[norm] = self.counts.get(norm, 0) + c
        return out
