"""Independent DuckDB oracle for the benchmark's tables and inputs.

The expected state is computed straight from the changelog parquet,
never through the engine: the last event per ``(repo, path)`` by LSN
wins and deletes drop the key; content is normalized by turning CRLF
and lone CR into LF and then hashed with sha256. A state is compared
as ``(row count, order-insensitive hash)`` over ``(repo, path, commit,
lang, sha hex, lsn)``, plus the set of evolved columns the DDL events
leave behind.

The order-insensitive hash is the exact (HUGEINT) sum of a per-row
md5, so it is independent of row order and still counts duplicates.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from dx.generator import CHANGELOG_COLUMNS

STATE_COLUMNS = ["repo", "path", "commit", "lang", "sha", "lsn"]
BASE_COLUMNS = {"repo", "path", "commit", "lang", "content"}

_NORMALIZED = "replace(replace(content, chr(13) || chr(10), chr(10)), chr(13), chr(10))"


def _digest_sql(columns: list[str], relation: str) -> str:
    fields = ", ".join(f"coalesce(CAST({c} AS VARCHAR), chr(0))" for c in columns)
    return (
        f"SELECT count(*), CAST(coalesce(sum(md5_number_lower(concat_ws(chr(31), {fields}))), 0)"
        f" AS VARCHAR) FROM {relation}"
    )


def fingerprint(log_dir: str) -> dict:
    """Row count and order-insensitive hash of every changelog column."""
    con = duckdb.connect()
    try:
        rows, digest = con.execute(
            _digest_sql(CHANGELOG_COLUMNS, f"read_parquet('{log_dir}/*.parquet')")
        ).fetchone()
    finally:
        con.close()
    return {"rows": int(rows), "hash": digest}


@dataclass
class Verdict:
    ok: bool
    detail: str


class Oracle:
    """Expected table state after replaying the changelog up to a
    watermark (inclusive)."""

    def __init__(self, log_dir: str, watermark: int):
        self.watermark = int(watermark)
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW log AS SELECT * FROM read_parquet('{log_dir}/*.parquet') "
            f"WHERE lsn <= {self.watermark}"
        )
        self.con.execute(
            "CREATE TABLE last_event AS SELECT * FROM log WHERE op <> 'DDL' "
            "QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) = 1"
        )
        self.con.execute(
            f"CREATE TABLE expected AS SELECT repo, path, commit, lang, "
            f"sha256({_NORMALIZED}) AS sha, lsn FROM last_event WHERE op <> 'D'"
        )
        self.rows, self.digest = self.con.execute(
            _digest_sql(STATE_COLUMNS, "expected")
        ).fetchone()
        self.evolved = self._evolved_columns()

    def close(self) -> None:
        self.con.close()

    def _evolved_columns(self) -> list[str]:
        cols: list[str] = []
        for action, column in self.con.execute(
            "SELECT ddl_action, ddl_column FROM log WHERE op = 'DDL' ORDER BY lsn"
        ).fetchall():
            if action == "add_column":
                cols.append(column)
            elif action == "drop_column":
                cols = [c for c in cols if c != column]
        return cols

    # ------------------------------------------------------------ keys
    def sample_keys(self, kind: str, k: int, seed: int) -> list[tuple[str, str]]:
        """Seeded sample of ``live`` keys (present in the expected
        state), ``deleted`` keys (last event a delete) or ``absent``
        keys (never in the changelog)."""
        if kind == "absent":
            taken = {
                r[0] for r in self.con.execute(
                    "SELECT DISTINCT path FROM log WHERE path IS NOT NULL"
                ).fetchall()
            }
            repo = self.con.execute("SELECT min(repo) FROM log").fetchone()[0]
            out, i = [], 0
            while len(out) < k:
                path = f"src/never/s{seed}_{i}.py"
                if path not in taken:
                    out.append((repo, path))
                i += 1
            return out
        source = {"live": "expected", "deleted": "last_event WHERE op = 'D'"}[kind]
        return [
            (r[0], r[1]) for r in self.con.execute(
                f"SELECT repo, path FROM {source} "
                f"ORDER BY md5(concat('{seed}', chr(31), repo, chr(31), path)) LIMIT {int(k)}"
            ).fetchall()
        ]

    def expected_row(self, repo: str, path: str) -> tuple | None:
        return self.con.execute(
            "SELECT commit, lang, sha, lsn FROM expected WHERE repo = ? AND path = ?",
            [repo, path],
        ).fetchone()

    # ---------------------------------------------------------- checks
    def check_state(self, state_df, columns: list[str]) -> Verdict:
        """Compare a table state frame (``LakeTable.read(include_system=True)``
        shape) and the table's column names with the expected state."""
        from pyspark.sql import functions as F

        pdf = state_df.select(
            "repo", "path", "commit", "lang",
            F.lower(F.hex("_content_sha")).alias("sha"), F.col("_lsn").alias("lsn"),
        ).toPandas()
        self.con.register("actual", pdf)
        try:
            rows, digest = self.con.execute(_digest_sql(STATE_COLUMNS, "actual")).fetchone()
            problems = []
            if (rows, digest) != (self.rows, self.digest):
                missing = self.con.execute(
                    "SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL "
                    "SELECT repo, path, commit, lang, sha, lsn FROM actual)"
                ).fetchone()[0]
                extra = self.con.execute(
                    "SELECT count(*) FROM (SELECT repo, path, commit, lang, sha, lsn "
                    "FROM actual EXCEPT ALL SELECT * FROM expected)"
                ).fetchone()[0]
                problems.append(
                    f"state differs: {rows} rows vs {self.rows} expected, "
                    f"{missing} expected rows missing, {extra} unexpected rows"
                )
        finally:
            self.con.unregister("actual")
        evolved = [c for c in columns if c not in BASE_COLUMNS]
        if sorted(evolved) != sorted(self.evolved):
            problems.append(f"evolved columns {evolved} vs {self.evolved} expected")
        return Verdict(not problems, "; ".join(problems) or f"{rows} rows match")

    def check_point(self, repo: str, path: str, rows: list) -> Verdict:
        """Compare a ``read_point(..., include_system=True)`` result
        with the expected state of that key."""
        want = self.expected_row(repo, path)
        got = [
            (r["commit"], r["lang"], bytes(r["_content_sha"]).hex(), int(r["_lsn"]))
            for r in rows
        ]
        if want is None:
            ok = not got
        else:
            ok = got == [(want[0], want[1], want[2], int(want[3]))]
        return Verdict(ok, "" if ok else f"{repo}/{path}: got {got}, expected {want}")
