"""CDM convention-folder support: scaffolding and input loading.

The reference operates on a folder tree (etl/etl.py:88-104):

    <root>/<omop_table>/*.sql                         user upload queries
    <root>/<omop_table>/<concept_col>/*_usagi.csv     Usagi mapping CSVs
    <root>/<omop_table>/<concept_col>/custom/*_concept.csv  custom concepts

``create_cdm_folders`` mirrors ``riab --create-folders``
(/root/reference/src/riab/etl/create_cdm_folders.py, sample query
templates bq:cdm_folders/sample_etl_query.sql.jinja /
sample_usagi_query.sql.jinja): one folder per CDM table with an
``example.sql`` projecting every column (keys carry string "prequel"
source values — the engine renumbers them), a subfolder per concept
column, and a ``custom/`` subfolder with the custom-concept CSV header.

``load_table_inputs`` walks the same tree into ``TableInputs``: .sql
files run as Spark SQL over the registered raw views.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .core.registry import SchemaRegistry, TableSpec
from .mapping.usagi import read_usagi_csv
from .pipeline.etl import EtlError, TableInputs
from .quality.dqd_sweep import FK_DOMAINS

CUSTOM_CONCEPT_HEADER = (
    "concept_name,concept_code,domain_id,vocabulary_id,concept_class_id"
)

CUSTOM_CONCEPT_SCHEMA = T.StructType(
    [
        T.StructField("concept_name", T.StringType()),
        T.StructField("concept_code", T.StringType()),
        T.StructField("domain_id", T.StringType()),
        T.StructField("vocabulary_id", T.StringType()),
        T.StructField("concept_class_id", T.StringType()),
    ]
)


def _sample_etl_query(spec: TableSpec) -> str:
    """Sample per-table query (bq:cdm_folders/sample_etl_query.sql.jinja:
    23-40): CAST each source column to the CDM type, string-prequel the
    keys so the engine can renumber them."""
    lines = [
        f"-- Sample ETL query for {spec.name}: replace <raw_table>/<col>",
        "-- with your raw-zone source.  Key columns keep their SOURCE",
        "-- values (string 'prequel'); the engine renumbers PKs/FKs and",
        "-- replaces source codes in *_concept_id columns via Usagi CSVs.",
        "SELECT",
    ]
    exprs = []
    for c in spec.columns:
        if c.name == spec.pk or c.name in spec.fks or c.name in spec.event_cols:
            exprs.append(f"  CAST(<col> AS STRING) AS {c.name}")
        elif c.name in spec.concept_cols:
            exprs.append(f"  CAST(<source_code> AS STRING) AS {c.name}__source")
        else:
            exprs.append(f"  CAST(<col> AS {c.dtype.upper()}) AS {c.name}")
    lines.append(",\n".join(exprs))
    lines.append("FROM <raw_table>")
    return "\n".join(lines) + "\n"


def _sample_usagi_query(table: str, concept_col: str) -> str:
    """Sample source-frequency query feeding Usagi
    (bq:cdm_folders/sample_usagi_query.sql.jinja:1-7)."""
    return (
        f"-- Feed this into Usagi to map {table}.{concept_col}\n"
        "SELECT <code_col> AS sourceCode,\n"
        "       <name_col> AS sourceName,\n"
        "       COUNT(*)   AS sourceFrequency\n"
        "FROM <raw_table>\n"
        "GROUP BY <code_col>, <name_col>\n"
        "ORDER BY sourceFrequency DESC\n"
    )


def create_cdm_folders(root: str, registry: SchemaRegistry) -> list[str]:
    """Scaffold the convention tree; returns created table folders."""
    created = []
    os.makedirs(root, exist_ok=True)
    for tname in sorted(registry.tables):
        spec = registry[tname]
        tdir = os.path.join(root, tname)
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "example.sql"), "w", encoding="utf-8") as f:
            f.write(_sample_etl_query(spec))
        for concept_col in spec.concept_cols:
            cdir = os.path.join(tdir, concept_col)
            os.makedirs(os.path.join(cdir, "custom"), exist_ok=True)
            with open(
                os.path.join(cdir, "example_usagi_query.sql"), "w", encoding="utf-8"
            ) as f:
                f.write(_sample_usagi_query(tname, concept_col))
            with open(
                os.path.join(cdir, "custom", "example_concept.csv.template"),
                "w",
                encoding="utf-8",
            ) as f:
                f.write(CUSTOM_CONCEPT_HEADER + "\n")
        created.append(tname)
    return created


def _upload_files(tdir: str) -> list[str]:
    """The upload queries of one table folder (sample files skipped)."""
    names = sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []
    return [fn for fn in names if fn.endswith(".sql") and fn != "example.sql"]


def load_table_inputs(
    spark: SparkSession,
    root: str,
    spec: TableSpec,
    only_queries: set[str] | None = None,
) -> TableInputs | None:
    """Read one table's convention folder into TableInputs.

    Upload queries are plain Spark SQL over the session's registered raw
    views (the reference renders them against the raw dataset the same
    way, etl/etl.py:325-350); sample/template files are skipped.
    ``only_queries`` restricts to specific "table/file.sql" entries
    (the reference's --query filter, etl/etl.py:108-115)."""
    from functools import reduce

    from pyspark.sql import DataFrame

    tdir = os.path.join(root, spec.name)
    # Columns the pipeline joins on: the pk, each event column and its
    # discriminator, and each FK whose parent has a swap table to remap
    # through (a self-FK, or a parent with upload queries in this tree).
    keys = [spec.pk, *[c for pair in spec.event_cols.items() for c in pair]] + [
        fk for fk, parent in spec.fks.items()
        if parent == spec.name or _upload_files(os.path.join(root, parent))
    ]
    uploads = []
    for fn in _upload_files(tdir):
        if only_queries and f"{spec.name}/{fn}" not in only_queries:
            continue
        with open(os.path.join(tdir, fn), encoding="utf-8") as f:
            df = spark.sql(f.read())
        # df.columns reads the analyzed schema; it starts no job
        missing = [c for c in keys if c and c not in df.columns]
        if missing:
            raise EtlError(
                f"{spec.name}: upload query {spec.name}/{fn} lacks pipeline "
                f"column(s) {missing}; select them, NULL-cast if unknown"
            )
        uploads.append(df)
    if not uploads:
        return None

    usagi: dict[str, DataFrame] = {}
    custom: dict[str, DataFrame] = {}
    for concept_col in spec.concept_cols:
        cdir = os.path.join(tdir, concept_col)
        if not os.path.isdir(cdir):
            continue
        maps = [
            read_usagi_csv(spark, os.path.join(cdir, fn))
            for fn in sorted(os.listdir(cdir))
            if fn.endswith("_usagi.csv")
        ]
        if maps:
            usagi[concept_col] = reduce(DataFrame.unionByName, maps)
        cust_dir = os.path.join(cdir, "custom")
        if os.path.isdir(cust_dir):
            ccs = [
                spark.read.csv(
                    os.path.join(cust_dir, fn),
                    schema=CUSTOM_CONCEPT_SCHEMA,
                    header=True,
                )
                for fn in sorted(os.listdir(cust_dir))
                if fn.endswith("_concept.csv")
            ]
            if ccs:
                custom[concept_col] = reduce(DataFrame.unionByName, ccs)
    # Derive each concept column's allowed OMOP domain set from the
    # shared Field_Level-style map so the fatal domain-mismatch check
    # (reference parity J12, etl/bigquery/etl.py:607-625) fires on CLI
    # --run-etl invocations, not only when callers pass it explicitly.
    allowed = {
        c: [FK_DOMAINS[c]] for c in spec.concept_cols if c in FK_DOMAINS
    }
    return TableInputs(
        uploads=uploads,
        usagi=usagi,
        custom_concepts=custom,
        allowed_domains=allowed,
    )
