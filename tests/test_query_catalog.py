"""The query catalog: each query is declared once in __spark_entry__.

Pins the driver-visible key order (the first 50 keys are the graded
window) and the shape of every declaration, and checks a declared
build against its DuckDB oracle on a hand-made fixture the generated
test data never contains.
"""

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
import bench
from pipelines_rj_sms_spark.session import load_tables


def test_key_order_is_pinned():
    names = list(entry.queries())
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == ("94245cd0c6f50be7a091f33c39ba1561"
                      "fac4b9f82da5d4f685eab45a70adeb75")
    assert len(entry._HEAD) == 50
    assert names[:50] == entry._HEAD
    assert names[50:52] == list(entry.no_oracle_reasons())


def test_every_declaration_is_complete():
    assert len(entry.CATALOG) == 319
    assert sum(q.headline for q in entry.CATALOG.values()) == 71
    assert bench.HEADLINE == [
        n for n, q in entry.CATALOG.items() if q.headline]
    assert len(entry.FAMILIES) == 10
    for name, q in entry.CATALOG.items():
        assert q.family in entry.FAMILIES, name
        assert bench._family(name) == q.family
        assert (q.oracle is None) != (q.no_oracle is None), name
    assert bench._family("not_a_declared_query") == "relational"
    assert set(entry.oracle_sql()) | set(entry.no_oracle_reasons()) \
        == set(entry.queries())


def test_declaration_rejects_a_query_without_exactly_one_oracle_field():
    with pytest.raises(ValueError):
        entry.query("relational")
    with pytest.raises(ValueError):
        entry.query("relational", oracle="SELECT 1", no_oracle="why")
    with pytest.raises(ValueError):
        entry.query("no-such-family", oracle="SELECT 1")


@pytest.mark.parametrize("o_custkeys", [[1, None], [1]])
def test_customers_without_orders_matches_oracle_with_null_custkey(
        spark, tmp_path, o_custkeys):
    """NOT IN semantics: one NULL o_custkey means no customer is
    provably without orders, so the oracle returns nothing; without
    the NULL, customers 2 and 3 have no orders."""
    import duckdb

    pq.write_table(pa.table({
        "c_custkey": pa.array([1, 2, 3], pa.int64()),
        "c_name": ["a", "b", "c"],
    }), str(tmp_path / "customer.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(len(o_custkeys)), pa.int64()),
        "o_custkey": pa.array(o_custkeys, pa.int64()),
    }), str(tmp_path / "orders.parquet"))
    prior = getattr(spark, "_rj_sms_registered_tables", None)
    try:
        got = sorted(tuple(r) for r in entry.queries()[
            "customers_without_orders"](spark, str(tmp_path)).collect())
    finally:
        # point the shared views back at the tables they held before
        if prior is not None:
            delattr(spark, "_rj_sms_registered_tables")
            load_tables(spark, *prior)
    con = duckdb.connect()
    try:
        for t in ("customer", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{tmp_path}/{t}.parquet'")
        want = sorted(con.execute(
            entry.oracle_sql()["customers_without_orders"]).fetchall())
    finally:
        con.close()
    assert want == ([] if None in o_custkeys else [(2, "b"), (3, "c")])
    assert got == want
