"""Seeded input generator for the benchmark; needs no download.

Two kinds of input, each written to its own directory named after the
seed and the size, because the engine trusts memos and persisted
artifacts by input path:

* ``corpus``: the ten tables of the engine's catalog as parquet, with
  the shapes and value domains of the engine's test corpora (TPC-H-like
  star schema, an ``events`` stream, ``documents`` text and 64-d unit
  ``embeddings``). Row counts scale with ``sf`` like those corpora.
* ``delimited``: a TabJolt-shaped daily extract of the ``events`` table
  as one TSV and one CSV file (the reference's per-file delimiter
  manifest), with a known number of malformed rows of four kinds, plus
  the good rows as parquet for the DuckDB oracle.

Same seed and size give byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Share and kinds of malformed rows injected into the delimited extract.
BAD_FRAC = 0.01
BAD_KINDS = ("bad_timestamp", "non_numeric_value", "wrong_field_count", "broken_quote")

_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
_DAY_US = 86_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def _days_us(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("int64") * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n: int, n_users: int) -> pa.Table:
    """``n`` events over 30 days with exponential inter-arrival gaps and
    exponential values (mean 50), sorted by time like the test corpora."""
    gaps = rng.exponential(1.0, n)
    span = 30 * _DAY_US - 60_000_000
    ts = _EPOCH_2024_US + 10_000_000 + (np.cumsum(gaps) / gaps.sum() * span).astype("int64")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n).astype("int64")),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents (10-100 words from a 31-word vocabulary);
    about 1% are near-duplicates of an earlier document and 0.2% exact
    copies, so the dedup and similarity operators have work to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.012:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a).astype("int32"))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a).astype("int64"))  # noqa: E731
    keys = np.arange
    return {
        "region": pa.table({"r_regionkey": i32(keys(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(keys(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(keys(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(keys(n_cust)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(keys(n_supp)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(keys(n_part)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(np.round(900.0 + (keys(n_part) % 1000) * 0.1, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(keys(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", n_ord, rng)),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
                "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", n_line, rng)),
            }
        ),
        "events": _events(rng, n_ev, n_cust),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _publish(tmp: str, path: str, meta: dict) -> str:
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def corpus(root: str, seed: int, sf: float) -> str:
    """Write (once) the seeded corpus and return its directory."""
    path = os.path.join(root, f"corpus_seed{seed}_sf{sf}")
    if _ready(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    return _publish(tmp, path, {"seed": seed, "sf": sf})


def _fmt_ts(us: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(us.astype("datetime64[us]"), unit="us").astype(object)


def _text_rows(t: pa.Table, sep: str, csv: bool) -> list[str]:
    # through numpy: pyarrow's to_pylist builds one scalar per cell
    cols = {c: t.column(c).to_numpy(zero_copy_only=False).tolist() for c in _EVENT_COLS if c != "ts"}
    ts = [s.replace("T", " ") for s in _fmt_ts(t.column("ts").cast(pa.int64()).to_numpy())]
    props = cols["props"]
    if csv:  # quoted field, quotes escaped the way Spark's CSV reader expects
        props = ['"' + p.replace('"', '\\"') + '"' for p in props]
    return [
        sep.join((str(e), s, str(u), k, repr(v), p))
        for e, s, u, k, v, p in zip(
            cols["event_id"], ts, cols["user_id"], cols["event_type"], cols["value"], props
        )
    ]


def _malform(row: str, kind: str, sep: str) -> str:
    f = row.split(sep)
    if kind == "bad_timestamp":
        f[1] = "2024-13-45 25:61:00"
    elif kind == "non_numeric_value":
        f[4] = f[4] + "ms"
    elif kind == "wrong_field_count":
        f.append("trailing")
    else:  # broken_quote: an opening quote that never closes
        f[3] = '"' + f[3]
    return sep.join(f)


def delimited(root: str, seed: int, rows: int) -> dict:
    """Write (once) the seeded TabJolt-shaped extract; return its
    manifest: file paths, delimiters, input line and injected-reject
    counts, and the parquet of the good rows."""
    path = os.path.join(root, f"delimited_seed{seed}_rows{rows}")
    if not _ready(path):
        rng = np.random.default_rng([seed, 2])
        n_bad = int(rows * BAD_FRAC)
        events = _events(rng, rows, max(150, rows // 60))
        bad_idx = np.sort(rng.choice(rows, n_bad, replace=False))
        good = events.filter(pa.array(~np.isin(np.arange(rows), bad_idx)))
        split = rows // 2
        files = []
        bad_counts = {k: 0 for k in BAD_KINDS}
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, sep, lo, hi in (
            ("events_tsv.tsv", "\t", 0, split),
            ("events_csv.csv", ",", split, rows),
        ):
            csv = sep == ","
            lines = _text_rows(events.slice(lo, hi - lo), sep, csv)
            kinds = BAD_KINDS if csv else BAD_KINDS[:3]
            in_file = bad_idx[(bad_idx >= lo) & (bad_idx < hi)] - lo
            for j, i in enumerate(in_file):
                kind = kinds[(j + int(rng.integers(0, len(kinds)))) % len(kinds)]
                lines[i] = _malform(lines[i], kind, sep)
                bad_counts[kind] += 1
            with open(os.path.join(tmp, name), "w") as fh:
                fh.write(sep.join(_EVENT_COLS) + "\n")
                fh.write("\n".join(lines) + "\n")
            files.append({"file": name, "delimiter": sep, "lines": hi - lo, "rejects": len(in_file)})
        pq.write_table(good, os.path.join(tmp, "good_events.parquet"))
        _publish(
            tmp,
            path,
            {"seed": seed, "rows": rows, "files": files, "bad_kinds": bad_counts},
        )
    with open(os.path.join(path, "_DONE")) as fh:
        meta = json.load(fh)
    meta["dir"] = path
    return meta
