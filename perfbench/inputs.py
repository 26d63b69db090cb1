"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of ``seed`` (and its size arguments):
the same seed gives byte-identical inputs. The program under test only
ever sees these generated tables and lists.

* ``crawl_state`` — a messy crawl seed list over the ``synth`` corpus
  (mixed-case hosts, dot segments, fragments, escapes, and a few lines
  the ingest filter must drop), in the ``(seq, url_raw)`` shape of
  ``CrawlEngine.seed``, plus the seen set of a mature crawl.
* ``query_tables`` — the ten parquet tables the ``__spark_entry__``
  queries read (``TESTDATA.md`` schema, TPC-H-ish star plus ``events``,
  ``documents`` and ``embeddings``), at the row counts of a TESTDATA scale factor.
"""

from __future__ import annotations

import datetime
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from mycelium_spark.sources import synth


def crawl_state(
    seed: int, n_pages: int, n_seeds: int, n_gone: int
) -> tuple[list[tuple[int, str]], list[str]]:
    """A mature crawl's inputs: a seed list (the frontier backlog) and a seen
    set. The corpus ids are split by a seeded permutation: ``n_seeds`` of
    them become seeds, every other corpus page is already seen, and
    ``n_gone`` seen urls point at pages no longer in the corpus."""
    rng = random.Random(seed)
    ids = list(range(n_pages))
    rng.shuffle(ids)
    seen = [synth.url_of(i) for i in ids[n_seeds:]]
    seen += [synth.url_of(n_pages + j) for j in range(n_gone)]
    return _messy(rng, ids[:n_seeds]), seen


def _messy(rng: random.Random, page_ids) -> list[tuple[int, str]]:
    """Seed lines in mixed spellings, plus three lines ingest must reject
    (https, ftp, unparseable host)."""
    rows: list[tuple[int, str]] = []
    for seq, pid in enumerate(page_ids):
        host = synth.host_of(pid)
        d = f"/d{pid % 7}"
        variant = rng.randrange(5)
        if variant == 0:
            raw = f"http://{host}{d}/p{pid}.html"
        elif variant == 1:
            raw = f"HTTP://{host.upper()}{d}/p{pid}.html"
        elif variant == 2:
            raw = f"http://{host}{d}/..{d}/p{pid}.html"
        elif variant == 3:
            raw = f"http://{host}{d}/p{pid}.html#frag{seq}"
        else:
            raw = f"http://{host}{d}/%70{pid}.html"
        rows.append((seq, raw))
    n = len(rows)
    rows += [
        (n, "https://secure.example/skip"),
        (n + 1, "ftp://files.example/skip"),
        (n + 2, "http://bad host/parse-error"),
    ]
    return rows


# ---------------------------------------------------------------------------
# query tables (operator_suite)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_N_LABELS = 10

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime.datetime, span: int, n: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier doc with one or two " dup" markers
            src = texts[int(rng.integers(0, i))].removesuffix(" dup").removesuffix(" dup")
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(_DOC_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_DOC_LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(_N_LABELS, _EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, _N_LABELS, n).astype(np.int32)
    vecs = centers[labels] * 0.15 + rng.normal(scale=1 / 8, size=(n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), _EMBED_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb,
         "label": pa.array(labels)}
    )


def query_tables(seed: int, scale: int = 1) -> dict[str, pa.Table]:
    """The ten query tables: the TPC-H-ish ones and ``events`` at
    ``scale`` × the sf0.001 row counts, ``documents`` and ``embeddings`` at
    500 rows (as in every TESTDATA scale). Values and the row order of the
    fact tables are seeded."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_doc = n_emb = 500
    i32 = np.int32
    t = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10,
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, datetime.datetime(1995, 1, 1), 2400, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, datetime.datetime(1995, 1, 2), 2500, n_line),
        }
    )
    ts = np.sort(
        np.datetime64(datetime.datetime(2024, 1, 1), "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    for name in ("orders", "lineitem"):
        t[name] = t[name].sample(frac=1.0, random_state=rng).reset_index(drop=True)
    out = {k: pa.Table.from_pandas(v, preserve_index=False) for k, v in t.items()}
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_query_tables(seed: int, out_dir: str, scale: int = 1) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in query_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
