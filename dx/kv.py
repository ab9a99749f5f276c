"""S4 keyed/wide-column scan connector, EXECUTED (SURVEY.md §2.2 S4).

DataX's KV-family readers — †hbase11xreader (rowkey-range split),
†otsreader (primary-key-range split), †mongodbreader (_id-range split
+ verbatim query filter), †cassandrareader — all share one shape:
split the key space into ranges, open one connection per task, scan
each range with projection and an optional store-side filter. Spark
has no built-in source for an arbitrary keyed store, so this is the
documented custom-operator path (b): per-partition imperative scans
behind ``mapInPandas``, Arrow-batched, with the range split computed
from the store itself.

The live store here is sqlite3 — in the Python standard library, so
the connector EXECUTES end-to-end in any environment (the same move
that gave S1 a live database via Spark's bundled Derby). The
connector shape is store-agnostic: quantile splits, schema mapping,
range predicates, projection and verbatim-filter pushdown are the
reusable structure; the sqlite3 connect/catalog/scan calls are the
thin layer a production deployment swaps for an HBase/OTS/Mongo
client. Such stores publish their own region/partition boundaries,
so there the split probes of ``kv_splits`` can be skipped.

Scale notes (the parts that must survive 1000 executors):
- Splits are EXACT quantiles of the key column (one ORDER BY/OFFSET
  probe per boundary on the driver), not lexicographic midpoints —
  skewed key spaces still yield balanced tasks, the same reason
  DataX's hbase reader lets users override auto-split boundaries.
- Each task scans ONLY its [lo, hi) range with an indexed predicate
  (the key is the store's primary key) and streams fetchmany batches
  into Arrow — no full-table read anywhere, no driver collect.
- Projection and the verbatim ``where`` filter are pushed into the
  store's SQL/scan API, so bytes that don't survive the filter never
  cross the wire.

Identifiers (table, key, version and projected column names) are
double-quoted into every statement, and a name that holds a ``"`` is
refused; only ``where`` is interpolated verbatim.
"""

from __future__ import annotations

import sqlite3
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# sqlite declared type → (Spark type, pandas dtype for null-safe batches)
_TYPES = {
    "INTEGER": (T.LongType(), "Int64"),
    "BIGINT": (T.LongType(), "Int64"),
    "TEXT": (T.StringType(), None),
    "VARCHAR": (T.StringType(), None),
    "REAL": (T.DoubleType(), "float64"),
    "DOUBLE": (T.DoubleType(), "float64"),
    "BLOB": (T.BinaryType(), None),
}


def _q(name: str) -> str:
    """``name`` as a double-quoted sqlite identifier. A name holding a
    double quote is refused rather than escaped."""
    if '"' in name:
        raise ValueError(f"kv identifier may not contain '\"': {name!r}")
    return f'"{name}"'


def _columns(db_path: str, table: str) -> dict[str, str]:
    """Declared column types from the store's schema catalog."""
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        info = conn.execute(f"PRAGMA table_info({_q(table)})").fetchall()
    if not info:
        raise ValueError(f"kv table not found: {table}")
    return {row[1]: (row[2] or "TEXT").upper() for row in info}


def _key_filter(key: str, lo, hi, where: str | None) -> tuple[str, list]:
    """`` WHERE`` clause bounding the quoted ``key`` to [lo, hi) (a
    None/NA bound is open) plus the verbatim ``where``, and its bound
    args; empty when there is nothing to filter."""
    conds, args = [], []
    for op, v in ((">=", lo), ("<", hi)):
        if not pd.isna(v):
            conds.append(f"{key} {op} ?")
            args.append(v.item() if hasattr(v, "item") else v)
    if where:
        conds.append(f"({where})")
    return (" WHERE " + " AND ".join(conds) if conds else ""), args


def kv_splits(
    db_path: str,
    table: str,
    key_col: str,
    n_splits: int,
    key_range: tuple | None = None,
    where: str | None = None,
) -> list[tuple]:
    """Exact-quantile key-range boundaries: [lo, hi) per split, hi=None
    for the last (†hbase11xreader auto-split; quantiles instead of
    lexicographic midpoints so skewed keys still balance).

    The count and the boundary probes apply the same verbatim
    ``where`` filter as the scan, so the splits balance the rows that
    SURVIVE it, however unevenly it selects across the key space."""
    if key_col not in _columns(db_path, table):
        # checked, not left to the store: sqlite reads a quoted name
        # that matches no column as a string literal
        raise ValueError(f"unknown kv columns: [{key_col!r}]")
    key, tbl = _q(key_col), _q(table)
    lo_bound, hi_bound = key_range or (None, None)
    pred, args = _key_filter(key, lo_bound, hi_bound, where)
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        n_rows = conn.execute(
            f"SELECT count(*) FROM {tbl}{pred}", args
        ).fetchone()[0]
        bounds = [lo_bound]
        for i in range(1, max(1, n_splits)):
            off = (n_rows * i) // n_splits
            row = conn.execute(
                f"SELECT {key} FROM {tbl}{pred} "
                f"ORDER BY {key} LIMIT 1 OFFSET ?",
                args + [off],
            ).fetchone()
            if row is not None and row[0] != bounds[-1]:
                bounds.append(row[0])  # dedupe: repeated keys merge splits
    bounds.append(hi_bound)
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def _range_scan(
    spark: SparkSession,
    db_path: str,
    table: str,
    key_col: str,
    key_type: T.DataType,
    schema: T.StructType,
    query: Callable[[str], str],
    shape: Callable[[list], pd.DataFrame],
    n_splits: int,
    key_range: tuple | None,
    batch_rows: int,
    where: str | None = None,
) -> DataFrame:
    """One task per ``kv_splits`` key range, each opening its own
    read-only store connection: it runs ``query(filter)``, where
    ``filter`` is the ``_key_filter`` clause of its range and
    ``where``, and yields ``shape(rows)`` per ``batch_rows`` fetch."""
    splits = kv_splits(db_path, table, key_col, n_splits, key_range, where)
    key = _q(key_col)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        conn = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
        try:
            for ranges in batches:
                for lo, hi in zip(ranges["lo"], ranges["hi"]):
                    filt, args = _key_filter(key, lo, hi, where)
                    cur = conn.execute(query(filt), args)
                    while rows := cur.fetchmany(batch_rows):
                        yield shape(rows)
        finally:
            conn.close()

    # one range per task: a two-column ranges frame, typed as the key
    # column, range-partitioned on lo so each split lands in its own
    # partition
    ranges_schema = T.StructType(
        [T.StructField("lo", key_type, True), T.StructField("hi", key_type, True)]
    )
    ranges_df = spark.createDataFrame(splits, ranges_schema)
    if len(splits) > 1:
        ranges_df = ranges_df.repartitionByRange(len(splits), F.col("lo"))
    return ranges_df.mapInPandas(scan, schema)


def read_kv(
    spark: SparkSession,
    db_path: str,
    table: str = "kv",
    key_col: str = "k",
    columns: list[str] | None = None,
    where: str | None = None,
    key_range: tuple | None = None,
    n_splits: int = 8,
    batch_rows: int = 4096,
) -> DataFrame:
    """Partition-parallel keyed range scan (S4): one task per key
    range, each opening its own store connection and streaming
    Arrow-sized batches. ``columns`` projects store-side; ``where`` is
    interpolated VERBATIM into the scan (DataX †mongodbreader query /
    †hbase11xreader filter semantics — the user speaks the store's
    filter dialect); ``key_range`` bounds the whole scan [lo, hi)."""
    decl = _columns(db_path, table)
    cols = columns or list(decl)
    missing = [c for c in [key_col, *cols] if c not in decl]
    if missing:
        raise ValueError(f"unknown kv columns: {missing}")
    fields, dtypes = [], {}
    for c in cols:
        spark_t, pd_t = _TYPES.get(decl[c], (T.StringType(), None))
        fields.append(T.StructField(c, spark_t, True))
        if pd_t:
            dtypes[c] = pd_t
    sel = ", ".join(_q(c) for c in cols)
    tbl = _q(table)

    def shape(rows: list) -> pd.DataFrame:
        pdf = pd.DataFrame.from_records(rows, columns=cols)
        return pdf.astype(dtypes) if dtypes else pdf

    # the key is typed from the catalog, not the projection: ``columns``
    # may leave it out
    return _range_scan(
        spark, db_path, table, key_col,
        _TYPES.get(decl[key_col], (T.StringType(), None))[0],
        T.StructType(fields), lambda filt: f"SELECT {sel} FROM {tbl}{filt}",
        shape, n_splits, key_range, batch_rows, where,
    )


def read_kv_versions(
    spark: SparkSession,
    db_path: str,
    table: str,
    key_col: str,
    version_col: str,
    columns: list[str],
    max_versions: int = 1,
    key_range: tuple | None = None,
    n_splits: int = 8,
    batch_rows: int = 4096,
) -> DataFrame:
    """†hbase11xreader ``multiVersionFixedColumn`` mode: the newest
    ``max_versions`` versions of each key's fixed columns, emitted as
    TALL rows ``(key, cell, version, value)`` — one row per surviving
    (key, column, version) cell, values stringified, exactly the
    4-tuple shape DataX emits for versioned HBase cells. The
    latest-N cut runs INSIDE the store (a windowed scan over only the
    task's key range), so superseded versions never reach Spark.
    ``version_col`` must be unique per key (HBase cell timestamps);
    ties would make the cut order-dependent in any engine."""
    decl = _columns(db_path, table)
    missing = [c for c in [key_col, version_col, *columns] if c not in decl]
    if missing:
        raise ValueError(f"unknown kv columns: {missing}")
    key_t, key_pd = _TYPES.get(decl[key_col], (T.StringType(), None))
    ver_t, ver_pd = _TYPES.get(decl[version_col], (T.LongType(), "Int64"))
    schema = T.StructType(
        [
            T.StructField(key_col, key_t, True),
            T.StructField("cell", T.StringType(), True),
            T.StructField("version", ver_t, True),
            T.StructField("value", T.StringType(), True),
        ]
    )
    sel = ", ".join(_q(c) for c in [key_col, version_col, *columns])
    key, tbl = _q(key_col), _q(table)

    def query(filt: str) -> str:
        inner = (f"SELECT {sel}, row_number() OVER (PARTITION BY {key} "
                 f"ORDER BY {_q(version_col)} DESC) AS _rn FROM {tbl}{filt}")
        return f"SELECT {sel} FROM ({inner}) WHERE _rn <= {int(max_versions)}"

    def shape(rows: list) -> pd.DataFrame:
        wide = pd.DataFrame.from_records(
            rows, columns=[key_col, version_col, *columns]
        )
        tall = wide.melt(
            id_vars=[key_col, version_col],
            value_vars=columns,
            var_name="cell",
            value_name="value",
        ).rename(columns={version_col: "version"})
        tall["value"] = tall["value"].map(
            lambda v: None if pd.isna(v) else str(v)
        )
        if key_pd:
            tall[key_col] = tall[key_col].astype(key_pd)
        if ver_pd:
            tall["version"] = tall["version"].astype(ver_pd)
        return tall

    return _range_scan(spark, db_path, table, key_col, key_t, schema, query,
                       shape, n_splits, key_range, batch_rows)


def stage_kv(
    db_path: str,
    table: str,
    pdf: pd.DataFrame,
    key_col: str | tuple | None,
) -> None:
    """Stage a pandas frame as a keyed store table — test/fixture
    scale only; production scans an EXISTING store. ``key_col`` is the
    PRIMARY KEY: a single column, a tuple for composite keys
    (versioned tables key on (key, version)), or None for no key.
    Replaces the table if present."""

    def decl(col: str) -> str:
        kind = str(pdf[col].dtype).lower()
        if "int" in kind:
            return "INTEGER"
        if "float" in kind:
            return "REAL"
        head = pdf[col].dropna()
        if len(head) and isinstance(head.iloc[0], (bytes, bytearray)):
            return "BLOB"
        return "TEXT"

    tbl = _q(table)
    with sqlite3.connect(db_path) as conn:
        conn.execute(f"DROP TABLE IF EXISTS {tbl}")
        col_sql = [
            f"{_q(c)} {decl(c)}"
            f"{' PRIMARY KEY' if isinstance(key_col, str) and c == key_col else ''}"
            for c in pdf.columns
        ]
        if isinstance(key_col, tuple):
            col_sql.append(f"PRIMARY KEY ({', '.join(_q(k) for k in key_col)})")
        conn.execute(f"CREATE TABLE {tbl} ({', '.join(col_sql)})")
        conn.executemany(
            f"INSERT INTO {tbl} VALUES ({', '.join('?' * len(pdf.columns))})",
            pdf.itertuples(index=False, name=None),
        )
        conn.commit()
