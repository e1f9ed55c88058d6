"""Local replay of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over sf0.01, compare
row-count + name-sorted value multisets."""

import math

import pytest

pyspark = pytest.importorskip("pyspark")
import duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
DRIVER_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def spark():
    from py_pdf_parser_spark.session import get_spark

    return get_spark(cores=4)


@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    # Bounded, with a spill directory: DuckDB's default limit is 80% of
    # the host's memory, which a shared test host cannot give it.
    con = duckdb.connect(config={
        "threads": "4",
        "memory_limit": "2GB",
        "temp_directory": str(tmp_path_factory.mktemp("duckdb")),
    })
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    """Type-TAGGED normalization.

    The driver's value hash is format-sensitive: a DuckDB HUGEINT
    (SUM over BIGINT) round-trips through pandas as float64 and hashes
    as ``5.0`` where Spark's int64 hashes ``5``.  The r4 formal red
    rows (td_token_shards / td_shard_stats) passed the old untagged
    normalizer here (``f"{5.0:.9g}" == str(5)``) while failing the
    driver — so ints and floats must never normalize to the same
    string.  Floats get an ``f:`` tag (with %.9g rounding for genuine
    float-vs-float comparisons), ints an ``i:`` tag: int-vs-float type
    drift between an oracle and its Spark query now fails HERE first.
    """
    if hasattr(v, "item"):  # numpy scalar from the pandas fetch
        v = v.item()
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.9g}"
    if isinstance(v, int):
        return f"i:{v}"
    if v is None:
        return "\0NULL"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


def _spark_result(spark, fn):
    df = fn(spark, SF_DIR)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return cols, rows, dict(df.dtypes)


# Numeric class per type name — Spark simpleString dtypes and DuckDB
# DESCRIBE column_types both map here.  The driver compares pandas
# frames, where DuckDB HUGEINT (the silent SUM(BIGINT) widening) and
# any nullable int arrive as float64 — so an oracle whose column class
# differs from the Spark column's class WILL hash-mismatch at the
# driver even when fetchall/collect values are equal.  r4's only red
# rows (td_token_shards / td_shard_stats) were exactly this.
_INT_TYPES = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "ubigint", "uinteger", "usmallint", "utinyint",
}
_FLOAT_TYPES = {"float", "double", "real"}


def _type_class(t: str) -> str:
    t = t.lower()
    if t in _INT_TYPES:
        return "int"
    if t in _FLOAT_TYPES:
        return "float"
    if t in ("string", "varchar", "text"):
        return "str"
    if t in ("boolean", "bool"):
        return "bool"
    if t.startswith("decimal") or t in ("hugeint", "uhugeint"):
        # pandas-floatifying numerics: never allowed in an oracle —
        # flag them with their own class so they can't pair with
        # either int or float on the Spark side.
        return "pandas-float-drift:" + t
    return t


def _duck_types(duck, sql) -> dict:
    rows = duck.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: r[1] for r in rows}


def _duck_result(duck, sql):
    cur = duck.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _entry_items():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    return qs, oracles


QS, ORACLES = _entry_items()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, name):
    fn = QS[name]
    s_cols, s_rows, s_types = _spark_result(spark, fn)
    d_cols, d_rows = _duck_result(duck, ORACLES[name])
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: {s_cols} vs {d_cols}"
    )
    # Numeric-class drift gate (stricter than value equality): the
    # driver hashes pandas frames, so HUGEINT/DECIMAL oracle columns
    # and int-vs-float class mismatches fail THERE even when the
    # fetchall/collect values compared below are equal.
    d_types = _duck_types(duck, ORACLES[name])
    for col in s_cols:
        sc, dc = _type_class(s_types[col]), _type_class(d_types[col])
        assert sc == dc, (
            f"{name}.{col}: numeric-class drift — Spark {s_types[col]} "
            f"vs oracle {d_types[col]} (driver's pandas hash would "
            f"mismatch; CAST the oracle column)"
        )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    )
    sn = _normalize(s_rows, s_cols)
    dn = _normalize(d_rows, d_cols)
    if sn != dn:
        diffs = [
            (a, b) for a, b in zip(sn, dn) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", sorted(set(QS) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QS[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_emb_dup_pairs_finds_the_planted_pairs(spark):
    """emb_dup_pairs runs over the planted near-dup fixture, so its
    parity case compares real pairs, not two empty sets."""
    assert QS["emb_dup_pairs"](spark, SF_DIR).count() > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert "doc_id" in df.columns
