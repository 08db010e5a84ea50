"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files, another seed writes different
ones.  The engine under test only ever sees the files written here.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RES = 5000

#: the fixture corpus vocabulary (31 words, "the"/"a" included so the
#: quality score's stop-word term is exercised)
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "vector order line table data agg value key stream window spark a "
    "part group big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
N_SOURCES = 20


def _write_parquet(pdf: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    # no pandas metadata / creator string drift: identical bytes per seed
    pq.write_table(table.replace_schema_metadata(None), path, compression="snappy")


def _write_tsv_gz(pdf: pd.DataFrame, path: str) -> None:
    text = pdf.to_csv(sep="\t", header=False, index=False)
    # mtime=0 keeps the gzip header (and so the file bytes) seed-pure
    with open(path, "wb") as raw, gzip.GzipFile(
        fileobj=raw, mode="wb", mtime=0, filename=""
    ) as gz:
        gz.write(text.encode())


# --- hic_pipeline -----------------------------------------------------


def hic_contacts(seed: int, n_draws: int, nbins: int, chrs: int = 2) -> pd.DataFrame:
    """Power-law distance-decay intra contacts on a ``chrs`` x ``nbins``
    grid at 5 kb, canonical (mid1 < mid2) and duplicate-summed."""
    rng = np.random.default_rng([seed, 1])
    per_chr = n_draws // chrs
    frames = []
    for c in range(chrs):
        i = rng.integers(0, nbins, per_chr)
        lag = np.minimum((rng.pareto(1.2, per_chr) * 3 + 1).astype(np.int64), nbins - 1)
        j = np.minimum(i + lag, nbins - 1)
        keep = i < j
        frames.append(
            pd.DataFrame(
                {
                    "chr1": f"chr{c + 1}",
                    "mid1": i[keep] * RES + RES // 2,
                    "chr2": f"chr{c + 1}",
                    "mid2": j[keep] * RES + RES // 2,
                    "contact_count": rng.integers(1, 12, keep.sum()),
                }
            )
        )
    return (
        pd.concat(frames)
        .groupby(["chr1", "mid1", "chr2", "mid2"], as_index=False)["contact_count"]
        .sum()
    )


def hic_biases(seed: int, nbins: int, chrs: int = 2) -> pd.DataFrame:
    """One bias per grid bin drawn from U[0.4, 2.2]: about a sixth fall
    outside the [0.5, 2] validity window and take the sentinel path."""
    rng = np.random.default_rng([seed, 2])
    k = np.arange(nbins)
    return pd.concat(
        pd.DataFrame(
            {
                "chr": f"chr{c + 1}",
                "mid": k * RES + RES // 2,
                "bias": np.round(rng.uniform(0.4, 2.2, nbins), 6),
            }
        )
        for c in range(chrs)
    )


def hic_fragments(contacts: pd.DataFrame, nbins: int, chrs: int = 2) -> pd.DataFrame:
    """Full-grid fragments: every bin mappable with a positive marginal,
    so the surviving-fragment census equals the closed-form grid."""
    cols = ["chr", "mid", "contact_count"]
    ends = [contacts.rename(columns={f"chr{e}": "chr", f"mid{e}": "mid"})[cols] for e in (1, 2)]
    marg = pd.concat(ends).groupby(["chr", "mid"])["contact_count"].sum()
    k = np.arange(nbins)
    rows = []
    for c in range(chrs):
        chrom = f"chr{c + 1}"
        mids = k * RES + RES // 2
        m = marg.reindex(pd.MultiIndex.from_product([[chrom], mids])).fillna(0).to_numpy()
        rows.append(
            pd.DataFrame(
                {
                    "chr": chrom,
                    "extra_field": 0,
                    "frag_mid": mids,
                    "marginal_count": np.maximum(m, 1).astype(np.int64),
                    "mappable": 1.0,
                }
            )
        )
    return pd.concat(rows)


def write_hic_inputs(out_dir: str, seed: int, n_draws: int, nbins: int) -> dict:
    """Write contacts/fragments/biases TSV(.gz) files; returns their
    paths, row counts and sizes."""
    os.makedirs(out_dir, exist_ok=True)
    contacts = hic_contacts(seed, n_draws, nbins)
    files = {
        "contacts": (contacts, "contacts.tsv.gz"),
        "fragments": (hic_fragments(contacts, nbins), "fragments.tsv.gz"),
        "biases": (hic_biases(seed, nbins), "biases.tsv.gz"),
    }
    info = {"nbins": nbins, "chrs": 2}
    for name, (pdf, fname) in files.items():
        path = os.path.join(out_dir, fname)
        _write_tsv_gz(pdf, path)
        info[name] = {"path": path, "rows": len(pdf), "bytes": os.path.getsize(path)}
    return info


# --- documents -------------------------------------------------------

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def base_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Fixture-shaped documents: 10-99 words from the 31-word
    vocabulary, and one in twenty an earlier document plus " dup"."""
    words = np.asarray(WORDS)
    lens = rng.integers(10, 100, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# --- query_sweep fixture (the ten fixture tables, sf0.01 shape) -------

def _days(rng, n, start, span_days):
    return np.datetime64(start, "D") + rng.integers(0, span_days, n).astype("timedelta64[D]")


def fixture_tables(seed: int, scale: float = 1.0) -> dict[str, tuple[pd.DataFrame, pa.Schema]]:
    """The ten fixture tables with the schemas and value domains of the
    sf0.01 test data (``tests/oracle_harness.FIXTURE_TABLES``);
    ``scale`` = 1.0 gives the sf0.01 row counts."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_ev, n_doc = int(15000 * scale), int(10000 * scale), int(500 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t: dict[str, tuple[pd.DataFrame, pa.Schema]] = {}

    t["region"] = (
        pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32),
             "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
        ),
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    t["nation"] = (
        pd.DataFrame(
            {"n_nationkey": np.arange(25, dtype=np.int32),
             "n_name": [f"NATION_{k}" for k in range(25)],
             "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
        ),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    t["customer"] = (
        pd.DataFrame(
            {"c_custkey": np.arange(n_cust, dtype=np.int64),
             "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
             "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
             "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
             "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}
        ),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]),
    )
    t["supplier"] = (
        pd.DataFrame(
            {"s_suppkey": np.arange(n_supp, dtype=np.int64),
             "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
             "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
             "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
        ),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]),
    )
    adj = np.array(["small", "red", "blue", "hot", "old", "big", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "spring"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    t["part"] = (
        pd.DataFrame(
            {"p_partkey": np.arange(n_part, dtype=np.int64),
             "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                                   noun[rng.integers(0, 8, n_part)])],
             "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
             "p_type": types[rng.integers(0, 6, n_part)],
             "p_size": rng.integers(1, 51, n_part).astype(np.int32),
             "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) * 0.1, 2)}
        ),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]),
    )
    odate = _days(rng, n_ord, "1995-01-01", 2400)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = (
        pd.DataFrame(
            {"o_orderkey": np.arange(n_ord, dtype=np.int64),
             "o_custkey": rng.integers(0, n_cust, n_ord),
             "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
             "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
             "o_orderdate": odate.astype("datetime64[us]"),
             "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}
        ),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]),
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    t["lineitem"] = (
        pd.DataFrame(
            {"l_orderkey": okey,
             "l_partkey": rng.integers(0, n_part, n_li),
             "l_suppkey": rng.integers(0, n_supp, n_li),
             "l_linenumber": lnum,
             "l_quantity": qty,
             "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
             "l_discount": rng.integers(0, 11, n_li) / 100.0,
             "l_tax": rng.integers(0, 9, n_li) / 100.0,
             "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
             "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
             "l_shipdate": ship.astype("datetime64[us]")}
        ),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]),
    )
    # events: increasing timestamps over 30 days, microsecond resolution
    gaps = rng.exponential(1.0, n_ev)
    us = np.floor(np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1e6).astype(np.int64)
    t["events"] = (
        pd.DataFrame(
            {"event_id": np.arange(n_ev, dtype=np.int64),
             "ts": np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]"),
             "user_id": rng.integers(0, max(2, int(150 * scale)), n_ev),
             "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
                 rng.choice(5, n_ev, p=[0.5, 0.3, 0.1, 0.05, 0.05])],
             "value": np.round(np.minimum(rng.exponential(30.0, n_ev), 490.0) + 0.01, 2),
             "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
        ),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]),
    )
    t["documents"] = (base_documents(rng, n_doc), DOCS_SCHEMA)
    labels = rng.integers(0, 10, n_doc).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.0, (n_doc, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = (
        pd.DataFrame({"vec_id": np.arange(n_doc, dtype=np.int64),
                      "embedding": list(vec), "label": labels}),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]),
    )
    return t


def write_fixture(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, (pdf, schema) in fixture_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(pdf, path, schema)
        info[name] = {"rows": len(pdf), "bytes": os.path.getsize(path)}
    return info
