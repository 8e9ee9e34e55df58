"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is produced here from the
workload seed and written as parquet under the run's work directory:

- ``write_corpus``: transcript tables from ``xwikire_spark.datagen`` (the
  repo's own generator, not under test), split into generator chunks that
  each get a distinct ``conv_id`` prefix, written as several files per
  core, plus the alias / predicate dictionaries;
- ``write_increment``: one append-only batch of late turns to existing
  conversations (the incremental-resume workload);
- ``write_sf_tables``: the star-schema + events + documents + embeddings
  tables the analytics leaves read, with the shapes and row counts of the
  scale-factor-0.1 test tables (uniform keys, a 30-word document vocabulary
  with 5% near-duplicate documents, unit-norm 64-d embeddings).

``table_digest`` is a content digest of a generated table, so a change to
a generator shows up as a different input rather than a speed-up.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def table_digest(rows) -> str:
    """sha256 over a row-order-sensitive hash of every value."""
    df = rows if isinstance(rows, pd.DataFrame) else pd.DataFrame(rows)
    h = hashlib.sha256()
    for c in sorted(df.columns):
        col = df[c]
        h.update(c.encode())
        if len(col) and isinstance(col.iloc[0], (list, np.ndarray)):
            h.update(np.stack(col.values).astype(np.float64).tobytes())
            continue
        h.update(pd.util.hash_pandas_object(col, index=False).values.tobytes())
    return h.hexdigest()[:16]


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * per, per), os.path.join(out_dir, f"part-{i:03d}.parquet")
        )


def generate_corpus(seed: int, n_convs: int, n_chunks: int) -> list[dict]:
    """Transcript rows from ``n_chunks`` seeded generator calls, each
    chunk's conversations prefixed ``s<seed>c<k>-`` so ids never collide."""
    from xwikire_spark import datagen

    rows: list[dict] = []
    per = n_convs // n_chunks
    for k in range(n_chunks):
        chunk, _ = datagen.generate_transcripts(
            per, 12, seed=seed * 1000 + k
        )
        for r in chunk:
            r["conv_id"] = f"s{seed}c{k}-{r['conv_id']}"
        rows.extend(chunk)
    return rows


def write_corpus(rows: list[dict], root: str, n_files: int) -> dict:
    """transcripts/ (n_files parquet files), alias_dict, predicate_dict."""
    from xwikire_spark import datagen

    _write_split(
        pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA),
        os.path.join(root, "transcripts"),
        n_files,
    )
    pq.write_table(
        pa.Table.from_pylist(datagen.alias_rows()),
        os.path.join(root, "alias_dict.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(datagen.predicate_rows()),
        os.path.join(root, "predicate_dict.parquet"),
    )
    return {
        "transcripts": os.path.join(root, "transcripts"),
        "alias_dict": os.path.join(root, "alias_dict.parquet"),
        "predicate_dict": os.path.join(root, "predicate_dict.parquet"),
    }


def make_increment(
    rng: random.Random, next_turn: dict, n_convs: int, turns: int, batch: int
) -> list[dict]:
    """Late turns for ``n_convs`` existing conversations (distinct ones,
    chosen by ``rng``); turn texts come from the repo generator.
    ``next_turn`` (conv_id -> next free turn_idx) is updated in place."""
    from xwikire_spark import datagen

    convs = rng.sample(sorted(next_turn), n_convs)
    fresh, _ = datagen.generate_transcripts(
        n_convs, turns, seed=rng.randrange(1 << 30)
    )
    out = []
    for i, conv in enumerate(convs):
        for t in range(turns):
            r = dict(fresh[i * turns + t])
            r["conv_id"] = conv
            r["turn_idx"] = next_turn[conv]
            r["ts"] = r["ts"] + dt.timedelta(days=365, minutes=batch)
            next_turn[conv] += 1
            out.append(r)
    return out


def write_increment(inc: list[dict], transcripts_dir: str, batch: int) -> None:
    pq.write_table(
        pa.Table.from_pylist(inc, schema=TRANSCRIPT_SCHEMA),
        os.path.join(transcripts_dir, f"late-{batch:04d}.parquet"),
    )


# --------------------------------------------------------------------------
# Scale-factor tables for the analytics leaves.
# --------------------------------------------------------------------------

# rows per table at scale factor 1.0
_SF_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_P_ADJ = ["blue", "green", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget"]
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(int)
    return (rng.integers(a, b + 1, n).astype("datetime64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def sf_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """Every table the analytics leaves read, at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {k: int(v * sf) for k, v in _SF_ROWS.items()}
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    k = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"], len(k)),
        }
    )
    k = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        }
    )
    k = np.arange(n["part"], dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": _pick(
                rng, [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN], len(k)),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], len(k)),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"], len(k)),
            "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
        }
    )
    k = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], len(k)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], len(k)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(k)),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"], len(k)),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
        }
    )
    # three planted co-purchase triangles (parts sharing two orders each),
    # so the triangle leaf has a non-empty output to check
    li = t["lineitem"]
    planted = rng.choice(n["part"], 9, replace=False)
    rows = np.arange(m - 18, m)
    li.loc[rows, "l_orderkey"] = np.repeat(
        rng.choice(n["orders"], 6, replace=False), 3)
    li.loc[rows, "l_partkey"] = np.tile(planted.reshape(3, 3), (1, 2)).ravel()
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1_000_000
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": np.sort(start + rng.integers(0, span_us, m)).astype(
                "datetime64[us]"),
            "user_id": rng.integers(0, int(15_000 * sf), m),
            "event_type": _pick(
                rng, ["click", "error", "purchase", "signup", "view"], m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    return t


def _documents(rng, m: int) -> pd.DataFrame:
    """Space-joined vocabulary words, 10-100 per document; 5% of documents
    repeat an earlier original with ' dup' appended (near duplicates;
    two copies of one original are exact duplicates)."""
    lengths = rng.integers(10, 101, m)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), L)]) for L in lengths]
    is_dup = rng.random(m) < 0.05
    is_dup[0] = False
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        earlier = originals[originals < i]
        texts[i] = texts[int(rng.choice(earlier))] + " dup"
    lang = _pick(rng, ["en", "de", "es", "fr", "zh"], m,
                 p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ids = np.arange(m, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def write_sf_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """One single-row-group parquet file per table, as the test tables are."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(sf_dir, f"{name}.parquet"),
            row_group_size=max(len(df), 1),
        )
