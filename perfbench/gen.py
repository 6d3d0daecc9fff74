"""Seeded input generation for the benchmark.

Everything the workloads read is made here from ``--seed``, inside the
run's own directory, so a run needs nothing outside its checkout and the
same seed always gives the same bytes.

Source tables (parquet, in the layout ``sources.catalog.load_table`` reads)
have the shape of the sf0.01 / sf0.1 test tables the engine is developed
against (sizes are in ``SCALES``):

- ``part``: six ``p_type`` values, 64 ``p_name`` values, prices
  900.00-999.90;
- ``customer``: customers over 25 nations;
- ``lineitem``: the columns the stream projection reads, 7,300 midnight
  ``l_shipdate`` rows per calendar month from January 1995 (sf0.1 has
  87,514 over the twelve months of 1995), 1,000 distinct suppliers;
- ``documents``: bag-of-words texts of 10 to 100 words over the 30-word
  vocabulary of the sf0.1 corpus, one in twenty a planted near-duplicate.

The raw drop for ``plans.pipeline`` follows the role mapping of
``sources.catalog``: each stream CSV is a date-disjoint slice of a month of
``lineitem`` (one of ``files_per_month`` runs of consecutive days) as
``streams_from_lineitem`` projects it, plus injected bad rows (half with a
null required field, half whose timestamp does not parse), ``songs.csv`` is
``part`` as ``songs_from_part`` projects it, and ``users.csv`` is a
projection of ``customer``. The projections are done here in Python, not
through the catalog's Spark functions: in a fresh session those first Spark
jobs add about 8 s to a run's set-up. A projection that drifted from the
engine's would not go unnoticed: the ingest checks compare what the
pipeline wrote with the registry's DuckDB oracle over the source tables.

Bad rows are not in ``lineitem``: a DuckDB query over the tables is the
expected result of the pipeline. Row counts and document lengths do not
depend on the seed, so every seed asks for the same work.
"""

from __future__ import annotations

import calendar
import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENRES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "quiet", "loud", "slow", "fast", "large"]
NOUN = ["ring", "widget", "bolt", "river", "song", "road", "dream", "fire"]
COUNTRIES = ["DZ", "AR", "BR", "CA", "EG", "ET", "FR", "DE", "IN", "ID",
             "IR", "IQ", "JP", "JO", "KE", "MA", "MZ", "PE", "CN", "RO",
             "SA", "VN", "RU", "GB", "US"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "spark",
         "a", "group", "part", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "fr", "es", "zh", "de"]
FIRST_MONTH = dt.date(1995, 1, 1)


@dataclass(frozen=True)
class Scale:
    parts: int
    suppliers: int          # distinct stream user ids
    customers: int
    months: int             # months of stream rows in the drop
    files_per_month: int    # date-disjoint stream files a month is split into
    rows_per_month: int     # good stream rows per month
    bad_per_file: int       # injected bad rows per stream file
    docs: int


SCALES = {
    # One month of sf0.1's stream rows in four date-disjoint files of 7 or
    # 8 days, 2% bad rows; songs and users of sf0.01 size (the pipeline
    # re-validates both on every file: at sf0.1 size an ingest run took
    # 67 s against 57 s, one run each on 4 cores); 2,500 documents (two
    # dense BoW tiles at the engine's max_block_rows of 2,000). A file's
    # cost is almost all per-job and per-partition overhead: a 31-day file
    # took 8.5-10 s warm at 7,300 rows and at 300 rows alike, an 8-day one
    # 6-7 s, so shorter files give more timed ops in a run's budget.
    "bench": Scale(parts=2000, suppliers=1000, customers=1500, months=1,
                   files_per_month=4, rows_per_month=7300, bad_per_file=37,
                   docs=2500),
    "tiny": Scale(parts=200, suppliers=20, customers=150, months=1,
                  files_per_month=2, rows_per_month=300, bad_per_file=6,
                  docs=60),
}


@dataclass(frozen=True)
class Inputs:
    tables_dir: str         # <name>.parquet per table
    drop_dir: str           # raw/{streams,songs,users}
    stream_files: list[str]
    good_rows: int
    bad_rows: int
    drop_bytes: int


def _month(i: int) -> dt.date:
    y, m = divmod(FIRST_MONTH.month - 1 + i, 12)
    return dt.date(FIRST_MONTH.year + y, m + 1, 1)


def _write(table: dict, path: str, schema: list[tuple[str, pa.DataType]]) -> None:
    pq.write_table(pa.table(table, schema=pa.schema(schema)), path)


def _write_csv(path: str, header: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write(header + "\n")
        fh.writelines(ln + "\n" for ln in lines)


def _ts(t: dt.datetime) -> str:
    return f"{t:%Y-%m-%d %H:%M:%S}"


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents of 10 to 100 words; one in twenty is a
    planted near-duplicate (an earlier text + " dup")."""
    lengths = rng.permutation(10 + np.arange(n) * 91 // n)
    dups = set(rng.choice(np.arange(10, n), n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), lengths[i])))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n,
                                              p=[.44, .13, .15, .14, .14])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _tables(rng: np.random.Generator, tables: str, scale: Scale) -> None:
    p, c = scale.parts, scale.customers
    cents = rng.integers(90000, 99991, p)
    _write({"p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, len(ADJ), p), rng.integers(0, len(NOUN), p))],
            "p_type": [GENRES[g] for g in rng.integers(0, len(GENRES), p)],
            "p_retailprice": cents / 100.0},
           os.path.join(tables, "part.parquet"),
           [("p_partkey", pa.int64()), ("p_name", pa.string()),
            ("p_type", pa.string()), ("p_retailprice", pa.float64())])
    _write({"c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": rng.integers(0, len(COUNTRIES), c).astype(np.int32),
            "c_acctbal": rng.integers(-99999, 1000000, c) / 100.0,
            "c_mktsegment": [SEGMENTS[s] for s in rng.integers(0, len(SEGMENTS), c)]},
           os.path.join(tables, "customer.parquet"),
           [("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string())])
    ships = []
    for m in range(scale.months):
        start, end = _month(m), _month(m + 1)
        days = np.sort(rng.integers(0, (end - start).days, scale.rows_per_month))
        ships += [dt.datetime.combine(start, dt.time()) + dt.timedelta(days=int(d))
                  for d in days]
    n = len(ships)
    _write({"l_partkey": rng.integers(0, p, n), "l_suppkey": rng.integers(0, scale.suppliers, n),
            "l_shipdate": ships},
           os.path.join(tables, "lineitem.parquet"),
           [("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
            ("l_shipdate", pa.timestamp("us"))])
    _write(_documents(rng, scale.docs), os.path.join(tables, "documents.parquet"),
           [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64())])


def _users(customer: list[dict]) -> list[str]:
    """users.csv rows from ``customer``: id, name and country as they are;
    age and sign-up time derived from the key."""
    epoch = dt.datetime(1992, 1, 1)
    return [f"{r['c_custkey']},{r['c_name']},{16 + r['c_custkey'] * 7919 % 64},"
            f"{COUNTRIES[r['c_nationkey']]},"
            f"{_ts(epoch + dt.timedelta(seconds=r['c_custkey'] * 86413 % (3 * 365 * 86400)))}"
            for r in customer]


def generate(root: str, seed: int, scale: Scale, *, drop: bool = True) -> Inputs:
    """Write the tables and, with ``drop``, the raw drop under ``root``;
    return their paths and the facts the correctness checks need."""
    rng = np.random.default_rng(seed)
    tables = os.path.join(root, "tables")
    os.makedirs(tables)
    _tables(rng, tables, scale)
    if not drop:
        return Inputs(tables, "", [], 0, 0, 0)

    drop_dir = os.path.join(root, "drop")
    raw = {d: os.path.join(drop_dir, "raw", d) for d in ("streams", "songs", "users")}
    for d in raw.values():
        os.makedirs(d)

    def rows(name):
        return pq.read_table(os.path.join(tables, f"{name}.parquet")).to_pylist()

    _write_csv(os.path.join(raw["songs"], "songs.csv"),
               "track_id,track_name,track_genre,duration_ms",
               [f"{r['p_partkey']},{r['p_name']},{r['p_type']},{round(r['p_retailprice'] * 100)}"
                for r in rows("part")])
    _write_csv(os.path.join(raw["users"], "users.csv"),
               "user_id,user_name,user_age,user_country,created_at",
               _users(rows("customer")))

    by_file: dict[tuple[int, int, int], list[str]] = {}
    for r in rows("lineitem"):
        t = r["l_shipdate"]
        days = calendar.monthrange(t.year, t.month)[1]
        by_file.setdefault(
            (t.year, t.month, (t.day - 1) * scale.files_per_month // days), []
        ).append(f"{r['l_suppkey']},{r['l_partkey']},{_ts(t)}")
    stream_files, good = [], 0
    for (y, m, c), lines in sorted(by_file.items()):
        good += len(lines)
        first = lines[0].rsplit(",", 1)[1]
        for b in range(scale.bad_per_file):
            t = int(rng.integers(0, scale.parts))
            lines.append(f",{t},{first}" if b % 2 == 0 else f"{b},{t},not-a-time")
        path = os.path.join(raw["streams"], f"streams_{y}_{m:02d}_{c}.csv")
        _write_csv(path, "user_id,track_id,listen_time",
                   [lines[i] for i in rng.permutation(len(lines))])
        stream_files.append(path)

    drop_bytes = sum(os.path.getsize(os.path.join(dp, f))
                     for dp, _, fs in os.walk(drop_dir) for f in fs)
    return Inputs(tables, drop_dir, stream_files, good,
                  len(stream_files) * scale.bad_per_file, drop_bytes)
