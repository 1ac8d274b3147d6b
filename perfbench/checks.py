"""Correctness checks on the engine's outputs, run in DuckDB outside the
timed region.  Each returns a list of failure messages; empty means the
output is correct."""

from __future__ import annotations

import hashlib
import os
import re

import duckdb


def table_dir(wh_root: str, zone: str, table: str) -> str:
    """Live parquet directory of a warehouse table (pointer or plain)."""
    from rabbit_in_a_blender_spark.core.commit import is_pointer_table, resolve_pointer

    p = os.path.join(wh_root, zone, table)
    return resolve_pointer(p) if is_pointer_table(p) else p


def _views(con, wh_root: str, zone: str, tables) -> None:
    for t in tables:
        glob = os.path.join(table_dir(wh_root, zone, t), "**", "*.parquet")
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")


def _one(con, sql: str) -> int:
    return int(con.sql(sql).fetchone()[0])


def check_etl(wh_root: str, expected: dict) -> list[str]:
    """OMOP output of ``--run-etl`` against the generator's expectations."""
    con = duckdb.connect()
    bad = []
    try:
        _views(con, wh_root, "omop", expected["rows"])
    except (FileNotFoundError, duckdb.Error) as e:
        return [f"omop tables unreadable: {e}"]

    for t, n in expected["rows"].items():
        got = _one(con, f"SELECT COUNT(*) FROM {t}")
        if got != n:
            bad.append(f"{t}: {got} rows, expected {n}")

    # (child table, FK column, parent table, parent PK); NULL FKs are not orphans
    for child, fk, parent, pk in (
        ("visit_occurrence", "person_id", "person", "person_id"),
        ("visit_occurrence", "preceding_visit_occurrence_id", "visit_occurrence",
         "visit_occurrence_id"),
        ("measurement", "person_id", "person", "person_id"),
        ("measurement", "visit_occurrence_id", "visit_occurrence", "visit_occurrence_id"),
    ):
        n = _one(con, f"SELECT COUNT(*) FROM {child} c ANTI JOIN {parent} p "
                      f"ON c.{fk} = p.{pk} WHERE c.{fk} IS NOT NULL")
        if n:
            bad.append(f"{child}.{fk}: {n} orphan rows")
    n = _one(con, "SELECT COUNT(*) FROM visit_occurrence "
                  "WHERE preceding_visit_occurrence_id IS NOT NULL")
    if n != expected["preceding_visits"]:
        bad.append(f"preceding visits: {n} resolved, expected {expected['preceding_visits']}")

    for key, n in expected["unmapped"].items():
        t, col = key.split(".")
        got = _one(con, f"SELECT COUNT(*) FROM {t} WHERE {col} = 0")
        if got != n:
            bad.append(f"{key}: {got} rows with concept 0, expected {n}")
    for key, n in expected["custom"].items():
        t, col = key.split(".")
        got = _one(con, f"SELECT COUNT(*) FROM {t} WHERE {col} >= 2000000000")
        if got != n:
            bad.append(f"{key}: {got} rows with custom concepts, expected {n}")

    for target, field_concept, pk in (
        ("measurement", 1147138, "measurement_id"),
        ("visit_occurrence", 1147070, "visit_occurrence_id"),
    ):
        got = _one(con, f"SELECT COUNT(*) FROM measurement m SEMI JOIN {target} t "
                        f"ON m.measurement_event_id = t.{pk} "
                        f"WHERE m.meas_event_field_concept_id = {field_concept}")
        if got != expected["events"][target]:
            bad.append(f"measurement events -> {target}: {got} resolved, "
                       f"expected {expected['events'][target]}")
    got = _one(con, "SELECT COUNT(*) FROM measurement "
                    "WHERE measurement_event_id IS NOT NULL AND measurement_event_id <> 0")
    if got != sum(expected["events"].values()):
        bad.append(f"measurement events: {got} set, expected {sum(expected['events'].values())}")
    return bad


DQD_LINE = re.compile(r"DQD sweep: (\d+) checks, (\d+) failed")


def dqd_counts(stdout: str) -> tuple[int, int] | None:
    m = DQD_LINE.search(stdout)
    return (int(m.group(1)), int(m.group(2))) if m else None


def check_dqd(rc: int, stdout: str, reference: dict) -> list[str]:
    """``--data-quality``: the check summary it prints and its exit code
    (3 when any check fails, which is the expected result here)."""
    counts = dqd_counts(stdout)
    if counts is None:
        last = stdout.strip().splitlines()[-1] if stdout.strip() else ""
        return [f"--data-quality exited {rc} without a check summary: {last}"]
    bad = []
    checks, failed = counts
    if (checks, failed) != (reference["checks"], reference["failed_checks"]):
        bad.append(f"DQD: {checks} checks / {failed} failed, expected "
                   f"{reference['checks']} / {reference['failed_checks']}")
    if rc != (3 if failed else 0):
        bad.append(f"--data-quality exited {rc} with {failed} failed checks")
    return bad


def check_achilles(wh_root: str, n_persons: int) -> list[str]:
    """``--achilles``: analysis 1 counts every generated person."""
    con = duckdb.connect()
    try:
        _views(con, wh_root, "achilles", ["achilles_results"])
        got = con.sql("SELECT count_value FROM achilles_results WHERE analysis_id = 1").fetchall()
    except (FileNotFoundError, duckdb.Error) as e:
        return [f"achilles_results unreadable: {e}"]
    if got != [(n_persons,)]:
        return [f"achilles analysis 1 (persons): {got}, expected {n_persons}"]
    return []


def achilles_rows(wh_root: str) -> int:
    con = duckdb.connect()
    _views(con, wh_root, "achilles", ["achilles_results", "achilles_results_dist"])
    return _one(con, "SELECT (SELECT COUNT(*) FROM achilles_results) "
                     "+ (SELECT COUNT(*) FROM achilles_results_dist)")


# -- catalog rows ------------------------------------------------------------

def _normalize(rows: list[dict]) -> list[tuple]:
    out = []
    for r in rows:
        vals = []
        for k in sorted(r):
            v = r[k]
            vals.append(f"{v:.9g}" if isinstance(v, float) else str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def value_hash(rows: list[dict]) -> str:
    """Order-insensitive hash of a result, the one the engine's oracle
    gate uses (columns by name, rows sorted, floats to 9 digits)."""
    h = hashlib.sha256()
    for t in _normalize(rows):
        h.update("\x1f".join(t).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def oracle_connection(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_catalog_row(con, oracle_sql: str, columns: list[str], rows: list[dict]) -> list[str]:
    rel = con.sql(oracle_sql)
    want = rel.df().to_dict("records")
    bad = []
    if sorted(columns) != sorted(rel.columns):
        bad.append(f"columns {sorted(columns)} != oracle {sorted(rel.columns)}")
    if len(rows) != len(want):
        bad.append(f"{len(rows)} rows, oracle {len(want)}")
    elif value_hash(rows) != value_hash(want):
        bad.append("value hash differs from the oracle")
    return bad
