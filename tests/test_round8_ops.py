"""Round-8 contracts: engine-neutral day-of-week SQL (both oracles
replay identically through spark.sql and DuckDB) and the exact-integer
Kruskal h_term quantization."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _duck_with_views(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_zeller_dow_sql_identical_in_both_dialects(spark):
    """dow_sunday0_sql must PARSE and MEAN the same thing fed to
    spark.sql and DuckDB — the property EXTRACT(dow) lacks (Sunday=0
    vs Sunday=1, COMPAT.md round-7 mismatch bucket)."""
    import datetime

    import duckdb

    from tableau_dashboard_performance_etl_automation_spark.functions.expressions import (
        dow_sunday0_sql,
    )

    expr = dow_sunday0_sql("d")
    # 1200 consecutive days spanning leap years and the Jan/Feb
    # Zeller month-shift
    con = duckdb.connect()
    d_rows = con.sql(
        f"SELECT d, {expr} AS z FROM (SELECT DATE '1995-12-28'"
        " + INTERVAL (i) DAY AS d FROM range(1200) t(i))"
    ).fetchall()
    s_rows = spark.sql(
        f"SELECT d, {expr} AS z FROM (SELECT date_add("
        "DATE '1995-12-28', CAST(id AS INT)) AS d FROM range(1200))"
    ).collect()
    want = {}
    for d, z in d_rows:
        # datetime is a date subclass: normalize explicitly
        dd = d.date() if isinstance(d, datetime.datetime) else d
        assert z == (dd.weekday() + 1) % 7  # python Monday=0
        want[str(dd)] = z
    for r in s_rows:
        assert want[str(r.d)] == r.z


def test_seasonality_oracles_replay_equal_in_spark_sql(spark):
    """The two dow-consuming oracle STRINGS now evaluate identically
    through spark.sql and DuckDB on the same parquet (they were the
    COMPAT mismatch bucket's two dialect-divergent rows)."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = _duck_with_views(SF)
    for t in TABLES:
        spark.read.parquet(f"{SF}/{t}.parquet").createOrReplaceTempView(t)
    try:
        for name in ("order_seasonality", "dow_seasonal_decomposition"):
            duck = sorted(tuple(r) for r in con.sql(oracles[name]).fetchall())
            via_spark = sorted(
                tuple(r) for r in spark.sql(oracles[name]).collect()
            )
            assert via_spark == duck, name
    finally:
        for t in TABLES:
            spark.catalog.dropTempView(t)


def test_kruskal_h_term_is_exact_integer_on_both_engines(spark):
    """The round-7 never-green query's fix: h_term_e6 is a pure
    integer on BOTH sides — identical bit-for-bit, no rounding
    boundary left to flip (the driver's only hash mismatch in 307)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import statstests

    rows = statstests.returnflag_quantity_kruskal(spark, SF).collect()
    assert rows and all(isinstance(r.h_term_e6, int) for r in rows)
    con = _duck_with_views(SF)
    import __spark_entry__ as entry

    oracle = sorted(
        tuple(r)
        for r in con.sql(
            entry.oracle_sql()["returnflag_quantity_kruskal"]
        ).fetchall()
    )
    got = sorted(
        (r.l_returnflag, r.n_rows, int(r.rank_sum_x2), r.h_term_e6)
        for r in rows
    )
    assert got == [
        (a, b, int(c), d) for a, b, c, d in oracle
    ]


def test_zeller_dow_sql_century_boundaries():
    """Zeller handles the Gregorian century rules (1900 non-leap,
    2000 leap) — events data may drift decades from the TPC-H span."""
    import datetime

    import duckdb

    from tableau_dashboard_performance_etl_automation_spark.functions.expressions import (
        dow_sunday0_sql,
    )

    con = duckdb.connect()
    expr = dow_sunday0_sql("d")
    for start in ("1899-12-25", "1999-12-25", "2099-12-25"):
        rows = con.sql(
            f"SELECT d, {expr} AS z FROM (SELECT DATE '{start}'"
            " + INTERVAL (i) DAY AS d FROM range(70) t(i))"
        ).fetchall()
        for d, z in rows:
            dd = d.date() if isinstance(d, datetime.datetime) else d
            assert z == (dd.weekday() + 1) % 7, dd


def test_kruskal_two_stage_division_fuzz():
    """The two-stage exact division (q·10⁶ + rounded remainder term)
    must equal one-shot half-up rounding for every (t, den) — the
    identity that lets 3·rs² stay inside decimal(38,0) at the 256×
    fact decade."""
    import random

    rng = random.Random(8)
    for _ in range(20000):
        t = rng.randrange(0, 10**38)
        den = rng.randrange(1, 10**30)
        one = (2 * t * 10**6 + den) // (2 * den)
        q, r = divmod(t, den)
        assert one == q * 10**6 + (2 * r * 10**6 + den) // (2 * den)
