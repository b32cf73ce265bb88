"""Seeded input generator: every byte the engine reads comes from here.

The same ``seed`` gives the same files, byte for byte.  Column value
domains copy the read-only sf0.1 test tables of TESTDATA.md (names, enums, ranges,
dates), so every registry query and its DuckDB oracle run unchanged on
the generated star schema; primary keys are dense and unique, every
foreign key points at an existing row.

Row counts scale like those tables: ``sf`` = 0.1 gives lineitem
600k rows, orders 150k, documents 5k, embeddings 2k.  ``documents`` and
``embeddings`` scale independently so a workload can give the text and
vector kernels more rows than its star schema.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Document template vocabulary of the sf0.1 test tables.  The registry's
# text literals (grep's "fast join", the decontamination n-grams) are
# built from these words, so keeping them makes those queries hit.
TEMPLATE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_MARKER = "dup"

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
N_SOURCES = 20
EMBED_DIM = 64


@dataclass(frozen=True)
class TableSizes:
    sf: float  # star-schema and events scale (TESTDATA.md sf units)
    documents: int
    embeddings: int
    dup_rate: float  # share of documents planted as near-duplicates
    clusters: int  # embedding cluster count (also the label domain)


def _ts(lo: str, hi: str, n: int, rng: np.random.Generator, unit: str) -> np.ndarray:
    a = np.datetime64(lo, unit).astype(np.int64)
    b = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(a, b + 1, n)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_events = max(1_000, round(1_000_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(rng, tuple(names), n_part),
            "p_brand": _pick(rng, tuple(f"Brand#{i}" for i in range(1, 26)), n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                _ts("1995-01-01", "2001-08-01", n_ord, rng, "D").astype("datetime64[D]").astype("datetime64[us]")
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
            "l_linestatus": _pick(rng, LINE_STATUS, n_line),
            "l_shipdate": pa.array(
                _ts("1995-01-02", "2001-11-04", n_line, rng, "D").astype("datetime64[D]").astype("datetime64[us]")
            ),
        }
    )
    ts = np.sort(_ts("2024-01-01T00:00:00", "2024-01-30T23:59:59", n_events, rng, "us"))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return t


def documents(rng: np.random.Generator, n: int, dup_rate: float) -> pa.Table:
    """Template-word documents; ``dup_rate`` of them are near-duplicates
    of an earlier document: the same words with about 5% replaced, plus
    the test tables' trailing ``dup`` marker."""
    vocab = np.array(TEMPLATE_WORDS)
    lengths = rng.integers(10, 101, n)
    n_dup = int(round(n * dup_rate))
    dup_ids = set(rng.choice(np.arange(1, n), size=n_dup, replace=False).tolist()) if n_dup else set()
    texts: list[str] = []
    for i in range(n):
        if i in dup_ids:
            src = texts[int(rng.integers(0, i))].split(" ")
            if src[-1] == DUP_MARKER:
                src = src[:-1]
            edits = rng.random(len(src)) < 0.05
            words = np.where(edits, vocab[rng.integers(0, len(vocab), len(src))], np.array(src))
            texts.append(" ".join([*words.tolist(), DUP_MARKER]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])].tolist()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": _pick(rng, tuple(f"src{i}" for i in range(N_SOURCES)), n),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def embedding_matrix(rng: np.random.Generator, n: int, clusters: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm float32 vectors around ``clusters`` random centres."""
    centres = rng.normal(0.0, 1.0, (clusters, EMBED_DIM))
    labels = rng.integers(0, clusters, n)
    v = centres[labels] + rng.normal(0.0, 0.6, (n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def embeddings(rng: np.random.Generator, n: int, clusters: int) -> pa.Table:
    v, labels = embedding_matrix(rng, n, clusters)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels),
        }
    )


def write_tables(seed: int, out_dir: str, sizes: TableSizes) -> dict:
    """Write the ten tables the registry reads as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = star_schema(rng, sizes.sf)
    tables["documents"] = documents(rng, sizes.documents, sizes.dup_rate)
    tables["embeddings"] = embeddings(rng, sizes.embeddings, sizes.clusters)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return {
        "input_mb": total / 1e6,
        "rows": {k: v.num_rows for k, v in tables.items()},
        "dup_rate": sizes.dup_rate,
        "embedding_clusters": sizes.clusters,
    }


def zipf_vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words; the template words come first,
    so they take the highest Zipf ranks and ``fast join`` still occurs."""
    words = list(TEMPLATE_WORDS)
    seen = set(words)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < size:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))].tolist())
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def write_text(seed: int, out_dir: str, mb: float, vocab_size: int, files: int, zipf_s: float = 1.1) -> dict:
    """Newline-delimited text for the MapReduce jobs, in two encodings of
    the same lines: ``plain_*.txt`` (the word-count input) and
    ``tagged_*.txt`` with ``<line id>\\t`` prefixes (the grep and
    inverted-index inputs, whose map functions split records on the tab).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = np.array(zipf_vocabulary(rng, vocab_size))
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-zipf_s
    p /= p.sum()
    target = int(mb * 1e6)
    plain: list[list[str]] = [[] for _ in range(files)]
    size, line_id = 0, 0
    while size < target:
        lengths = rng.integers(8, 25, 4096)
        words = vocab[rng.choice(vocab_size, size=int(lengths.sum()), p=p)].tolist()
        start = 0
        for n in lengths.tolist():
            line = " ".join(words[start : start + n])
            start += n
            plain[line_id % files].append(line)
            size += len(line) + 1
            line_id += 1
            if size >= target:
                break
    plain_paths, tagged_paths = [], []
    line_id = 0
    lines_by_file = []
    for f, lines in enumerate(plain):
        pp = os.path.join(out_dir, f"plain_{f}.txt")
        tp = os.path.join(out_dir, f"tagged_{f}.txt")
        with open(pp, "w") as fh:
            fh.write("".join(s + "\n" for s in lines))
        ids = range(line_id, line_id + len(lines))
        with open(tp, "w") as fh:
            fh.write("".join(f"{i}\t{s}\n" for i, s in zip(ids, lines)))
        lines_by_file.append(len(lines))
        line_id += len(lines)
        plain_paths.append(pp)
        tagged_paths.append(tp)
    total = sum(os.path.getsize(x) for x in plain_paths + tagged_paths)
    return {
        "input_mb": total / 1e6,
        "plain": plain_paths,
        "tagged": tagged_paths,
        "lines": line_id,
        "vocab_size": vocab_size,
    }
