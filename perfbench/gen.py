"""Seeded input generators for the benchmark.

``cdm_cohort`` draws an EMR-like extract: patients, encounters and lab
results, with Zipf-skewed lab codes, Usagi mappings covering most codes,
a few custom concepts, and lab rows that reference another record (the
polymorphic ``measurement_event_id``: the visit, or the visit's first
lab).  From one cohort, ``write_etl_inputs`` writes the raw zone and the
Rabbit-in-a-Blender convention tree that ``--run-etl`` reads, and
``write_omop_zone`` writes the OMOP tables that ETL makes from it, for
the quality verbs.  ``write_catalog_inputs`` writes the TPC-H-ish
tables the benchmark's catalog row reads.

Everything comes from one ``numpy`` generator seeded by the caller and
is written with pyarrow, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAYS = (dt.date(2010, 1, 1) - dt.date(1970, 1, 1)).days

CDM_TABLES = ("person", "visit_occurrence", "measurement")

# Lab vocabulary: 120 codes, Zipf exponent 1.3 (frequent codes are the
# low ranks), concept ids from 3,000,000.  Of the codes, APPROVED_SHARE
# have an APPROVED Usagi row and SEMI_SHARE a SEMI-APPROVED one, which
# the CLI default does not map; the rest have none.  CUSTOM_CODES more
# are custom concepts: an APPROVED Usagi row with conceptId 0 plus a
# custom-concept CSV row, which the ETL maps to ids from 2e9.
LAB_CODES, LAB_ZIPF, LAB_CONCEPT_BASE = 120, 1.3, 3_000_000
APPROVED_SHARE = 0.88
SEMI_SHARE = 0.04
CUSTOM_CODES = 6
CUSTOM_ID_BASE = 2_000_000_000
# Small dimension mappings: concept column -> ({source code: concept id},
# domain, table).  Sex "U" has no mapping.
DIM_CODES = {
    "gender_concept_id": ({"M": 8507, "F": 8532}, "Gender", "person"),
    "visit_concept_id": ({"OP": 9202, "IP": 9201, "ER": 9203}, "Visit", "visit_occurrence"),
}

# Share of lab rows whose measurement_event_id references another record
# (half the visit's first lab when that is another row, otherwise the
# visit itself).
EVENT_SHARE = 0.3
EVENT_FIELD_CONCEPT = {"measurement": 1147138, "visit_occurrence": 1147070}

USAGI_HEADER = [
    "sourceCode", "sourceName", "sourceFrequency", "mappingStatus",
    "conceptId", "conceptName", "domainId",
]
CUSTOM_HEADER = [
    "concept_name", "concept_code", "domain_id", "vocabulary_id", "concept_class_id",
]
ARROW_TYPES = {
    "int64": pa.int64(), "float64": pa.float64(), "string": pa.string(),
    "date": pa.date32(), "datetime": pa.timestamp("us", tz="UTC"),
}
SQL_TYPES = {
    "int64": "BIGINT", "float64": "DOUBLE", "string": "STRING",
    "date": "DATE", "datetime": "TIMESTAMP",
}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array((days + EPOCH_DAYS).astype("int32"), type=pa.int32()).cast(pa.date32())


def _ids(prefix: str, n: int) -> np.ndarray:
    return np.array([f"{prefix}{i:08d}" for i in range(n)], dtype=object)


@dataclass
class Cohort:
    n_persons: int
    sex: np.ndarray
    yob: np.ndarray
    visit_person: np.ndarray   # person index of each visit
    visit_start: np.ndarray    # day offsets
    visit_len: np.ndarray
    visit_type: np.ndarray
    visit_prev: np.ndarray     # index of the preceding visit, -1 for none
    lab_visit: np.ndarray      # visit index of each lab row
    lab_day: np.ndarray
    lab_code: np.ndarray
    lab_value: np.ndarray
    event_table: np.ndarray    # None, "measurement" or "visit_occurrence"
    event_index: np.ndarray    # row index in the referenced table, -1 for none
    usagi: list[list]          # Usagi rows for measurement_concept_id
    custom: list[str]          # custom-concept codes

    @property
    def lab_person(self) -> np.ndarray:
        return self.visit_person[self.lab_visit]

    def concept_map(self, col: str) -> dict[str, int]:
        """Source code -> concept id as the ETL maps it (CLI default:
        APPROVED rows only; custom codes numbered from CUSTOM_ID_BASE in
        code order, standing in for the engine's own numbering)."""
        if col in DIM_CODES:
            return dict(DIM_CODES[col][0])
        out = {r[0]: r[4] for r in self.usagi if r[3] == "APPROVED" and r[4]}
        out.update({code: CUSTOM_ID_BASE + k for k, code in enumerate(self.custom)})
        return out

    def expected(self) -> dict:
        """What the ETL output must reproduce, exactly."""
        rows = {
            "person": self.n_persons,
            "visit_occurrence": len(self.visit_person),
            "measurement": len(self.lab_visit),
        }
        unmapped = {}
        for table, col, codes in (
            ("person", "gender_concept_id", self.sex),
            ("visit_occurrence", "visit_concept_id", self.visit_type),
            ("measurement", "measurement_concept_id", self.lab_code),
        ):
            m = self.concept_map(col)
            unmapped[f"{table}.{col}"] = int(sum(1 for c in codes if c not in m))
        return {
            "n_persons": self.n_persons,
            "source_rows": int(sum(rows.values())),
            "rows": rows,
            "unmapped": unmapped,
            "custom": {"measurement.measurement_concept_id":
                       int(np.isin(self.lab_code, self.custom).sum())},
            "events": {t: int((self.event_table == t).sum()) for t in EVENT_FIELD_CONCEPT},
            "preceding_visits": int((self.visit_prev >= 0).sum()),
        }


def cdm_cohort(seed: int, n_persons: int) -> Cohort:
    rng = np.random.default_rng(seed)
    sex = rng.choice(np.array(["M", "F", "U"], dtype=object), n_persons, p=[0.49, 0.49, 0.02])
    yob = rng.integers(1930, 2005, n_persons)

    # 1..7 visits per person, each chained to the person's previous one
    n_vis = rng.integers(1, 8, n_persons)
    visit_person = np.repeat(np.arange(n_persons), n_vis)
    visit_prev = np.arange(len(visit_person)) - 1
    visit_prev[np.r_[0, np.cumsum(n_vis)[:-1]]] = -1
    visit_start = rng.integers(0, 3650, len(visit_person))
    visit_len = rng.integers(0, 6, len(visit_person))
    visit_type = rng.choice(np.array(["OP", "IP", "ER"], dtype=object), len(visit_person),
                            p=[0.7, 0.2, 0.1])

    # Poisson(4.4) labs per visit
    lab_visit = np.repeat(np.arange(len(visit_person)), rng.poisson(4.4, len(visit_person)))
    lab_day = visit_start[lab_visit] + rng.integers(0, 3, len(lab_visit))
    p = 1.0 / np.arange(1, LAB_CODES + 1) ** LAB_ZIPF
    codes = np.array([f"LB{r:04d}" for r in range(LAB_CODES)], dtype=object)
    lab_code = codes[rng.choice(LAB_CODES, size=len(lab_visit), p=p / p.sum())]
    lab_value = np.round(rng.normal(100.0, 25.0, len(lab_visit)), 2)

    first_lab = np.full(len(visit_person), -1)
    first_lab[lab_visit[::-1]] = np.arange(len(lab_visit))[::-1]
    has_ref = rng.random(len(lab_visit)) < EVENT_SHARE
    parent = first_lab[lab_visit]
    to_lab = has_ref & (rng.random(len(lab_visit)) < 0.5) & (parent != np.arange(len(lab_visit)))
    to_visit = has_ref & ~to_lab
    event_table = np.full(len(lab_visit), None, dtype=object)
    event_index = np.full(len(lab_visit), -1)
    event_table[to_lab], event_index[to_lab] = "measurement", parent[to_lab]
    event_table[to_visit], event_index[to_visit] = "visit_occurrence", lab_visit[to_visit]

    u = rng.random(LAB_CODES)
    custom = {codes[i] for i in rng.permutation(LAB_CODES)[:CUSTOM_CODES]}
    usagi = []
    for i, code in enumerate(codes):
        cid = LAB_CONCEPT_BASE + i
        if code in custom:
            usagi.append([code, f"custom {code}", 0, "APPROVED", 0, "", "Measurement"])
        elif u[i] < APPROVED_SHARE:
            usagi.append([code, f"name {code}", 0, "APPROVED", cid, f"c{cid}", "Measurement"])
        elif u[i] < APPROVED_SHARE + SEMI_SHARE:
            usagi.append([code, f"name {code}", 0, "SEMI-APPROVED", cid, f"c{cid}", "Measurement"])
    return Cohort(n_persons, sex, yob, visit_person, visit_start, visit_len, visit_type,
                  visit_prev, lab_visit, lab_day, lab_code, lab_value, event_table,
                  event_index, usagi, sorted(custom))


# -- ETL inputs --------------------------------------------------------------

def _query(spec, exprs: dict[str, str], source: str) -> str:
    """An upload query projecting every CDM column of ``spec``, as the
    ``--create-folders`` sample does: keys as string prequel values,
    mapped concept columns as ``<col>__source``, and every column the
    raw zone has nothing for (FK and event columns included) NULL-cast."""
    lines = []
    for c in spec.columns:
        name = c.name
        if name in spec.concept_cols and name not in spec.event_cols.values():
            if f"{name}__source" in exprs:
                lines.append(f"{exprs[name + '__source']} AS {name}__source")
            continue
        keyish = (name == spec.pk or name in spec.fks or name in spec.event_cols
                  or name in spec.event_cols.values())
        dtype = "STRING" if keyish else SQL_TYPES[c.dtype]
        lines.append(f"CAST({exprs.get(name, 'NULL')} AS {dtype}) AS {name}")
    return "SELECT\n  " + ",\n  ".join(lines) + f"\nFROM {source}\n"


def _csv(path: str, header: list[str], rows: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


# OMOP table -> (raw table, {CDM column: raw expression})
RAW_QUERIES = {
    "person": ("emr_patient", {
        "person_id": "pat_id", "gender_concept_id__source": "sex",
        "year_of_birth": "birth_year", "person_source_value": "pat_id",
        "gender_source_value": "sex",
    }),
    "visit_occurrence": ("emr_encounter", {
        "visit_occurrence_id": "enc_id", "person_id": "pat_id",
        "visit_concept_id__source": "enc_type", "visit_start_date": "start_day",
        "visit_end_date": "end_day", "visit_source_value": "enc_type",
        "preceding_visit_occurrence_id": "prev_enc_id",
    }),
    "measurement": ("emr_lab", {
        "measurement_id": "lab_id", "person_id": "pat_id",
        "visit_occurrence_id": "enc_id", "measurement_concept_id__source": "lab_code",
        "measurement_date": "lab_day", "value_as_number": "value",
        "measurement_source_value": "lab_code", "measurement_event_id": "event_ref",
        "meas_event_field_concept_id": "event_table",
    }),
}


def write_etl_inputs(c: Cohort, root: str) -> None:
    """Raw zone under ``root/raw``, convention tree under ``root/etl``."""
    from rabbit_in_a_blender_spark.core.cdm54 import cdm54_registry

    raw, etl = os.path.join(root, "raw"), os.path.join(root, "etl")
    os.makedirs(raw, exist_ok=True)
    pid = _ids("P", c.n_persons)
    vid = _ids("V", len(c.visit_person))
    lid = _ids("M", len(c.lab_visit))
    _write(pa.table({
        "pat_id": pid, "sex": c.sex, "birth_year": c.yob.astype("int32"),
    }), os.path.join(raw, "emr_patient.parquet"))
    _write(pa.table({
        "enc_id": vid, "pat_id": pid[c.visit_person], "enc_type": c.visit_type,
        "start_day": _dates(c.visit_start), "end_day": _dates(c.visit_start + c.visit_len),
        "prev_enc_id": pa.array(np.where(c.visit_prev >= 0, vid[c.visit_prev], None),
                                type=pa.string()),
    }), os.path.join(raw, "emr_encounter.parquet"))
    ref = np.full(len(c.lab_visit), None, dtype=object)
    for table, ids in (("measurement", lid), ("visit_occurrence", vid)):
        hit = c.event_table == table
        ref[hit] = ids[c.event_index[hit]]
    _write(pa.table({
        "lab_id": lid, "pat_id": pid[c.lab_person], "enc_id": vid[c.lab_visit],
        "lab_code": c.lab_code, "lab_day": _dates(c.lab_day), "value": c.lab_value,
        "event_ref": pa.array(ref, type=pa.string()),
        "event_table": pa.array(c.event_table, type=pa.string()),
    }), os.path.join(raw, "emr_lab.parquet"))

    cdir = os.path.join(etl, "measurement", "measurement_concept_id")
    _csv(os.path.join(cdir, "measurement_concept_id_usagi.csv"), USAGI_HEADER, c.usagi)
    _csv(os.path.join(cdir, "custom", "measurement_concept_id_concept.csv"), CUSTOM_HEADER,
         [[f"custom {code}", code, "Measurement", "BENCH", "Lab Test"] for code in c.custom])
    for col, (codes, domain, table) in DIM_CODES.items():
        _csv(os.path.join(etl, table, col, f"{col}_usagi.csv"), USAGI_HEADER,
             [[code, code, 0, "APPROVED", cid, code, domain] for code, cid in codes.items()])
    registry = cdm54_registry()
    for table, (source, exprs) in RAW_QUERIES.items():
        os.makedirs(os.path.join(etl, table), exist_ok=True)
        with open(os.path.join(etl, table, f"{source}.sql"), "w") as f:
            f.write(_query(registry[table], exprs, source))


# -- OMOP zone ---------------------------------------------------------------

def _omop(spec, n: int, cols: dict) -> pa.Table:
    """All columns of ``spec`` typed as the registry says: given ones as
    passed, unmapped concept columns 0 (as the ETL writes them), the
    rest NULL."""
    arrays = {}
    for c in spec.columns:
        t = ARROW_TYPES[c.dtype]
        if c.name in cols:
            v = cols[c.name]
            arrays[c.name] = v.cast(t) if isinstance(v, pa.Array) else pa.array(v, type=t)
        elif c.name in spec.concept_cols:
            arrays[c.name] = pa.array(np.zeros(n, dtype="int64"), type=t)
        else:
            arrays[c.name] = pa.nulls(n, type=t)
    return pa.table(arrays)


def write_omop_zone(c: Cohort, wh_root: str, tables=CDM_TABLES) -> None:
    """The OMOP ``tables`` the ETL makes from this cohort (ids numbered
    from 1 in source order), as plain parquet directories under
    ``wh_root/omop``."""
    from rabbit_in_a_blender_spark.core.cdm54 import cdm54_registry

    reg = cdm54_registry()

    def mapped(col, codes):
        m = c.concept_map(col)
        return np.array([m.get(x, 0) for x in codes], dtype="int64")

    n_vis, n_lab = len(c.visit_person), len(c.lab_visit)
    ref = c.event_index >= 0
    built = {
        "person": _omop(reg["person"], c.n_persons, {
            "person_id": np.arange(1, c.n_persons + 1),
            "gender_concept_id": mapped("gender_concept_id", c.sex),
            "year_of_birth": c.yob, "person_source_value": _ids("P", c.n_persons),
            "gender_source_value": c.sex,
        }),
        "visit_occurrence": _omop(reg["visit_occurrence"], n_vis, {
            "visit_occurrence_id": np.arange(1, n_vis + 1),
            "person_id": c.visit_person + 1,
            "visit_concept_id": mapped("visit_concept_id", c.visit_type),
            "visit_start_date": _dates(c.visit_start),
            "visit_end_date": _dates(c.visit_start + c.visit_len),
            "visit_source_value": c.visit_type,
            "preceding_visit_occurrence_id": pa.array(
                np.where(c.visit_prev >= 0, c.visit_prev + 1, None), type=pa.int64()),
        }),
        "measurement": _omop(reg["measurement"], n_lab, {
            "measurement_id": np.arange(1, n_lab + 1),
            "person_id": c.lab_person + 1, "visit_occurrence_id": c.lab_visit + 1,
            "measurement_concept_id": mapped("measurement_concept_id", c.lab_code),
            "measurement_date": _dates(c.lab_day), "value_as_number": c.lab_value,
            "measurement_source_value": c.lab_code,
            "measurement_event_id": np.where(ref, c.event_index + 1, 0),
            "meas_event_field_concept_id": np.array(
                [EVENT_FIELD_CONCEPT.get(t, 0) for t in c.event_table], dtype="int64"),
        }),
    }
    for name in tables:
        d = os.path.join(wh_root, "omop", name)
        os.makedirs(d, exist_ok=True)
        _write(built[name], os.path.join(d, "part-00000.parquet"))


# -- catalog fixture ---------------------------------------------------------

# Schemas of the engine's catalog fixtures (FIXTURES.md group A), at the
# sf0.01 row counts.
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ORDER_DAY0 = (dt.date(1992, 1, 1) - dt.date(1970, 1, 1)).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array((days.astype("int64") + _ORDER_DAY0) * 86_400_000_000,
                    type=pa.timestamp("us"))


def write_catalog_inputs(root: str, seed: int) -> None:
    """The TPC-H-ish tables q5_region_revenue reads: region, nation,
    customer, supplier, orders and lineitem."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000

    def w(name, cols):
        _write(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    w("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    w("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    dtype=object)
    w("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(segs, n_cust),
    })
    w("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    odays = rng.integers(0, 2557, n_ord)
    w("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us(odays),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object), n_ord),
    })
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    qty = rng.integers(1, 51, n_li).astype("float64")
    w("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), per), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n_li),
        "l_shipdate": _ts_us(np.repeat(odays, per) + rng.integers(1, 122, n_li)),
    })
