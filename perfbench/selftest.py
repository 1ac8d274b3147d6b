"""Self-test of the benchmark's generators and correctness checks.

    python3 perfbench/selftest.py

Needs no Spark session.  It proves that the same seed gives
byte-identical inputs (and another seed different ones), and that every
correctness check passes on a correct output and fails on a
deliberately corrupted one.  The correct ETL output stands in as
``gen.write_omop_zone``, the OMOP zone the ETL makes from a cohort.
Exits 0 when every case holds.
"""

from __future__ import annotations

import copy
import hashlib
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
from run import CATALOG_ROWS, CATALOG_TABLES  # noqa: E402

N = 200


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(root: str, seed: int) -> dict[str, str]:
    c = gen.cdm_cohort(seed, N)
    gen.write_etl_inputs(c, os.path.join(root, "etl"))
    gen.write_omop_zone(c, os.path.join(root, "wh"))
    gen.write_catalog_inputs(os.path.join(root, "catalog"), seed)
    return _digest(root)


def _edit(wh: str, table: str, fn) -> None:
    """Rewrite one OMOP table through ``fn(pandas frame) -> frame``."""
    path = os.path.join(wh, "omop", table, "part-00000.parquet")
    t = pq.read_table(path)
    df = fn(t.to_pandas())
    pq.write_table(pa.Table.from_pandas(df, schema=t.schema, preserve_index=False), path)


def _set(col, value, row=0):
    def fn(df):
        df[col] = df[col].astype(object)
        df.loc[row, col] = value
        return df
    return fn


def main() -> int:
    results: list[tuple[str, bool]] = []

    def case(name: str, ok: bool) -> None:
        results.append((name, ok))
        print(f"{'PASS' if ok else 'FAIL'} {name}")

    tmp = tempfile.mkdtemp(prefix=".selftest-", dir=HERE)
    try:
        a = _inputs(os.path.join(tmp, "a"), 7)
        b = _inputs(os.path.join(tmp, "b"), 7)
        c = _inputs(os.path.join(tmp, "c"), 8)
        case("same seed gives byte-identical inputs", a == b and len(a) > 10)
        case("another seed gives other inputs", a != c)

        cohort = gen.cdm_cohort(7, N)
        expected = cohort.expected()
        good = os.path.join(tmp, "a", "wh")
        case("ETL checks pass on the correct output", checks.check_etl(good, expected) == [])

        # A dropped Usagi row: the ETL would leave that code's rows at concept 0.
        approved = {r[0] for r in cohort.usagi if r[3] == "APPROVED" and r[4]}
        code = next(x for x in cohort.lab_code if x in approved)
        broken = copy.copy(cohort)
        broken.usagi = [r for r in cohort.usagi if r[0] != code]
        wh = os.path.join(tmp, "usagi")
        gen.write_omop_zone(broken, wh)
        case("ETL check fails when one usagi row is dropped",
             any("concept 0" in m for m in checks.check_etl(wh, expected)))

        corruptions = {
            "a measurement row is lost": ("measurement", lambda df: df.iloc[1:], "rows"),
            "a person FK is orphaned": ("measurement", _set("person_id", 10**9), "orphan"),
            "a visit FK is orphaned": ("measurement", _set("visit_occurrence_id", 10**9),
                                       "orphan"),
            "a preceding visit is lost": ("visit_occurrence",
                                          _set("preceding_visit_occurrence_id", None, 1),
                                          "preceding"),
            "a custom concept is lost": ("measurement", lambda df: df.assign(
                measurement_concept_id=df.measurement_concept_id.where(
                    df.measurement_concept_id < gen.CUSTOM_ID_BASE, 1)), "custom"),
            "an event reference is lost": ("measurement", lambda df: df.assign(
                measurement_event_id=0), "events"),
        }
        for name, (table, fn, word) in corruptions.items():
            wh = os.path.join(tmp, name.replace(" ", "_"))
            shutil.copytree(good, wh)
            _edit(wh, table, fn)
            bad = checks.check_etl(wh, expected)
            case(f"ETL check fails when {name}", any(word in m for m in bad))

        ref = {"checks": 279, "failed_checks": 43}
        line = "DQD sweep: 279 checks, 43 failed"
        case("DQD check passes on the reference summary", checks.check_dqd(3, line, ref) == [])
        case("DQD check fails on another check count",
             checks.check_dqd(3, "DQD sweep: 278 checks, 43 failed", ref) != [])
        case("DQD check fails on exit code 0 with failed checks",
             checks.check_dqd(0, line, ref) != [])
        case("DQD check fails without a summary", checks.check_dqd(1, "", ref) != [])

        ach = os.path.join(tmp, "ach")
        os.makedirs(os.path.join(ach, "achilles", "achilles_results"))
        path = os.path.join(ach, "achilles", "achilles_results", "part-0.parquet")
        for n, ok in ((N, True), (N + 1, False)):
            pq.write_table(pa.table({"analysis_id": pa.array([1, 2], pa.int64()),
                                     "count_value": pa.array([n, 5], pa.int64())}), path)
            case(f"Achilles check {'passes' if ok else 'fails'} with {n} persons counted",
                 (checks.check_achilles(ach, N) == []) == ok)

        from rabbit_in_a_blender_spark.plans import catalog

        con = checks.oracle_connection(os.path.join(tmp, "a", "catalog"), CATALOG_TABLES)
        sql = catalog.get(CATALOG_ROWS[0]).oracle
        rel = con.sql(sql)
        rows, cols = rel.df().to_dict("records"), rel.columns
        case("catalog check passes on the oracle's rows",
             checks.check_catalog_row(con, sql, cols, rows) == [])
        num = next(k for k, v in rows[0].items() if isinstance(v, (int, float)))
        changed = [dict(rows[0], **{num: rows[0][num] + 1})] + rows[1:]
        case("catalog check fails on one changed value",
             checks.check_catalog_row(con, sql, cols, changed) != [])
        case("catalog check fails on a dropped row",
             checks.check_catalog_row(con, sql, cols, rows[1:]) != [])
        case("catalog check fails on a renamed column",
             checks.check_catalog_row(con, sql, cols[1:] + ["other"], rows) != [])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    failed = [n for n, ok in results if not ok]
    print(f"{len(results) - len(failed)}/{len(results)} cases hold")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
