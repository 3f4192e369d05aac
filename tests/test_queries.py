"""Local mirror of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle SQL on the same parquet, compare
row count, column names, and order-insensitive values (exact)."""

import math
import os
import re

import duckdb
import pytest

from pdf_extractor_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


# Spark simpleString type → acceptable DuckDB arrow type *classes*.  The
# driver's value-hash survives integer-width differences (int32 row_number vs
# DuckDB's int64 hashed equal in round 1) but NOT class differences: DuckDB
# HUGEINT (arrow decimal128) converts to float where Spark emits bigint, so
# 5 hashes as "5.0" vs "5" (bit us in round 1 with SUM(CASE ...)).  Unmapped
# Spark types (arrays, structs) are skipped — values are still compared.
INTS = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"}
SPARK_TO_ARROW = {
    "tinyint": INTS, "smallint": INTS, "int": INTS, "bigint": INTS,
    "double": {"double", "float"}, "float": {"double", "float"},
    "boolean": {"bool"},
    "string": {"string", "large_string"},
    "date": {"date32[day]"},
}


def check_dtypes(name, sdf, arrow_tbl):
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    for field in arrow_tbl.schema:
        want = SPARK_TO_ARROW.get(spark_types.get(field.name, ""))
        if want is None:
            continue
        assert str(field.type) in want, (
            f"{name}.{field.name}: DuckDB arrow type {field.type} vs Spark "
            f"{spark_types[field.name]} — driver's typed hash will mismatch")


def normalize(rows, cols):
    """Order-insensitive, column-name-sorted canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                assert not math.isnan(v)
                v = repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, name):
    spec = REGISTRY[name]
    sdf = spec.spark(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns
    assert len(scols) == len(set(scols)), f"{name}: duplicate column names"
    if spec.sql is None:
        assert len(srows) >= 0  # rows-only check (driver does the same)
        return
    con = duck_con()
    arrow_tbl = con.execute(spec.sql).arrow()
    check_dtypes(name, sdf, arrow_tbl)
    res = con.execute(spec.sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    s_norm = normalize([[r[c] for c in scols] for r in srows], scols)
    d_norm = normalize(drows, dcols)
    mism = [i for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b]
    assert not mism, f"{name}: first value mismatch at {mism[0]}: " \
                     f"spark={s_norm[mism[0]]} duck={d_norm[mism[0]]}"


def test_extract_golden_path_is_in_this_checkout():
    """The extraction oracle's golden path derives from the package
    location, so the oracle works from any checkout."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    m = re.search(r"read_parquet\('([^']+)'\)", REGISTRY["extract_pipeline"].sql)
    assert m and os.path.exists(m.group(1)), REGISTRY["extract_pipeline"].sql
    assert os.path.samefile(os.path.dirname(m.group(1)),
                            os.path.join(here, "tests", "golden"))
