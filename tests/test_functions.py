"""Scalar function helpers: cleaning, datetime, JSON nesting."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pipelines_spark.functions.cleaning import (
    clean_string_columns,
    negative_to_null,
    recode,
    safe_cast,
    strip_accents_expr,
    trim_all_strings,
)
from pipelines_spark.functions.datetime_ops import (
    derive_partition_columns,
    from_unix_millis,
    parse_timestamp_multi,
    to_local,
    to_utc,
)
from pipelines_spark.functions.json_ops import flatten_struct, nest_payload, unnest_payload
from pipelines_spark.sources.files import read_csv_imposed_schema, read_fixed_width


def test_clean_string_columns(spark):
    df = spark.createDataFrame([("a\x00b", "None", "  x  ")], "p string, q string, r string")
    row = clean_string_columns(df).collect()[0]
    assert row["p"] == "ab"
    assert row["q"] is None
    assert row["r"] == "  x  "  # not trimmed by cleaner
    assert trim_all_strings(df).collect()[0]["r"] == "x"


def test_safe_cast_and_negative(spark):
    df = spark.createDataFrame([("12.5", -3.0), ("oops", 4.0)], "s string, v double")
    out = df.select(
        safe_cast("s", "double").alias("d"), negative_to_null("v").alias("v")
    ).collect()
    assert [r["d"] for r in out] == [12.5, None]
    assert [r["v"] for r in out] == [None, 4.0]


def test_recode_and_accents(spark):
    df = spark.createDataFrame([("alagamento",), ("bolsão",)], "tipo string")
    out = df.select(
        recode("tipo", {"alagamento": "flood"}).alias("t"),
        strip_accents_expr("tipo").alias("plain"),
    ).collect()
    assert out[0]["t"] == "flood"
    assert out[1]["plain"] == "bolsao"


def test_parse_timestamp_multi_fallback(spark):
    df = spark.createDataFrame(
        [("2024-01-02 03:04:05",), ("02/01/2024 03:04",), ("garbage",)], "s string"
    )
    out = df.select(
        parse_timestamp_multi("s", ["yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm"]).alias("ts")
    ).collect()
    assert out[0]["ts"] == datetime(2024, 1, 2, 3, 4, 5)
    assert out[1]["ts"] == datetime(2024, 1, 2, 3, 4)
    assert out[2]["ts"] is None


def test_unix_millis_and_tz_roundtrip(spark):
    millis = 1704067200000  # 2024-01-01T00:00:00Z
    df = spark.createDataFrame([(millis,)], "ms long")
    row = df.select(
        from_unix_millis("ms").alias("utc"),
        to_local(from_unix_millis("ms")).alias("sp"),
        to_utc(to_local(from_unix_millis("ms"))).alias("back"),
    ).collect()[0]
    assert row["utc"] == datetime(2024, 1, 1, 0, 0)
    assert row["sp"] == datetime(2023, 12, 31, 21, 0)  # UTC-3
    assert row["back"] == row["utc"]


def test_derive_partition_columns(spark):
    df = spark.createDataFrame([(datetime(2024, 3, 7),)], "d timestamp")
    row = derive_partition_columns(df, "d").collect()[0]
    assert (row["ano_particao"], row["mes_particao"], row["data_particao"]) == (
        "2024", "03", "2024-03-07",
    )


def test_nest_unnest_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "x", 2.5, datetime(2024, 1, 1))],
        "id long, name string, v double, timestamp_captura timestamp",
    )
    nested = nest_payload(df, keys=["id"])
    assert nested.columns == ["id", "content", "timestamp_captura"]
    back = unnest_payload(nested, "name string, v string")
    row = back.collect()[0]
    assert row["name"] == "x" and row["v"] == "2.5"


def test_flatten_struct(spark):
    df = spark.createDataFrame([(1, ("a", 2))], "id long, s struct<x:string,y:long>")
    out = flatten_struct(df, "s")
    assert out.columns == ["id", "x", "y"]


def test_read_csv_imposed_schema(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("10;VAN123;2500\n20;BUS9;1000\n")
    df = read_csv_imposed_schema(spark, str(p), ["Operadora", "Código", "Receita"])
    assert df.columns == ["operadora", "codigo", "receita"]
    rows = df.select(
        F.regexp_extract("codigo", r"VAN(\d+)", 1).alias("van"),
        (F.col("receita").cast("double") / 100).alias("money"),
    ).collect()
    assert rows[0]["van"] == "123" and rows[0]["money"] == 25.0


def test_read_fixed_width(spark, tmp_path):
    p = tmp_path / "data.txt"
    p.write_text("0012024ABC\n0022025DEF\n")
    df = read_fixed_width(spark, str(p), {"id": (0, 3), "ano": (3, 7), "code": (7, 10)})
    rows = {r["id"]: (r["ano"], r["code"]) for r in df.collect()}
    assert rows["001"] == ("2024", "ABC")


def test_geocode_addresses_rate_limited_with_failures(spark):
    from pipelines_spark.functions.geo import geocode_addresses

    table = {
        "Rua A, Rio": (-22.9, -43.2),
        "Rua B, Rio": (-22.95, -43.25),
    }

    def fake_geocoder(addr):
        if addr == "explode":
            raise RuntimeError("api 500")
        return table.get(addr)

    df = spark.createDataFrame(
        [(1, "Rua A, Rio"), (2, "Rua B, Rio"), (3, "nowhere"), (4, "explode"), (5, None)],
        "id long, addr string",
    ).coalesce(1)
    out = {
        r["id"]: (r["latitude"], r["longitude"])
        for r in geocode_addresses(df, "addr", fake_geocoder, rate_per_sec=1000).collect()
    }
    assert out[1] == (-22.9, -43.2)
    assert out[2] == (-22.95, -43.25)
    assert out[3] == (None, None)      # miss -> NULL
    assert out[4] == (None, None)      # API error -> NULL, job survives
    assert out[5] == (None, None)      # NULL address skipped


def test_polygon_clip_area_known_answers(spark):
    """General Sutherland–Hodgman clip against hand-computed areas:
    triangle x unit square, disjoint, containment, non-axis-aligned."""
    from pyspark.sql import functions as F
    from pipelines_spark.functions.geo import (
        intersection_area, polygon_area, polygon_clip, rect_ring,
    )

    def ring(*pts):
        return F.array(
            *[F.struct(F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y"))
              for x, y in pts]
        )

    unit_sq = rect_ring(0.0, 0.0, 1.0, 1.0)
    cases = {
        # big triangle containing the whole square (x+y<=2 on all of it)
        "tri_contains_square": (ring((0, 0), (2, 0), (0, 2)), unit_sq, 1.0),
        # triangle crossing the square edge: area under y=1-x/2 over [0,1]
        "tri_crossing": (ring((0, 0), (2, 0), (0, 1)), unit_sq, 0.75),
        # triangle fully inside
        "tri_inside": (ring((0.2, 0.2), (0.8, 0.2), (0.5, 0.8)), unit_sq, 0.18),
        # disjoint
        "disjoint": (ring((5, 5), (6, 5), (6, 6)), unit_sq, 0.0),
        # subject contains clip: intersection = clip polygon
        "contains": (rect_ring(-5.0, -5.0, 5.0, 5.0), unit_sq, 1.0),
        # diamond (rotated square, area 2) centered on unit square corner
        "diamond": (ring((1, 0), (2, 1), (1, 2), (0, 1)), unit_sq, 0.5),
    }
    row = spark.range(1).select(
        *[
            F.round(intersection_area(subj, clip), 9).alias(name)
            for name, (subj, clip, _) in cases.items()
        ],
        F.round(polygon_area(ring((0, 0), (4, 0), (4, 3))), 9).alias("tri_area"),
        F.size(polygon_clip(ring((5, 5), (6, 5), (6, 6)), unit_sq)).alias("empty_n"),
    ).collect()[0]
    for name, (_, _, want) in cases.items():
        assert row[name] == want, (name, row[name], want)
    assert row["tri_area"] == 6.0
    assert row["empty_n"] == 0


def test_polygon_clip_matches_rect_closed_form(spark):
    """Property: for axis-aligned rectangle pairs, the general clip
    reproduces the closed-form overlap area exactly (to 1e-9)."""
    from pyspark.sql import functions as F
    from pipelines_spark.functions.geo import intersection_area, rect_ring

    rows = [
        (i,
         (i * 37 % 100) / 10.0, (i * 53 % 100) / 10.0,   # ax0, ay0
         1 + (i * 29 % 40) / 10.0, 1 + (i * 41 % 40) / 10.0,  # aw, ah
         (i * 61 % 100) / 10.0, (i * 71 % 100) / 10.0,   # bx0, by0
         1 + (i * 13 % 40) / 10.0, 1 + (i * 17 % 40) / 10.0)  # bw, bh
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "i long, ax0 double, ay0 double, aw double, ah double,"
              " bx0 double, by0 double, bw double, bh double"
    ).select(
        "*",
        (F.col("ax0") + F.col("aw")).alias("ax1"),
        (F.col("ay0") + F.col("ah")).alias("ay1"),
        (F.col("bx0") + F.col("bw")).alias("bx1"),
        (F.col("by0") + F.col("bh")).alias("by1"),
    )
    got = df.select(
        "i",
        F.round(
            intersection_area(
                rect_ring(F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1")),
                rect_ring(F.col("bx0"), F.col("by0"), F.col("bx1"), F.col("by1")),
            ), 9
        ).alias("clip_area"),
        F.round(
            F.greatest(F.lit(0.0), F.least("ax1", "bx1") - F.greatest("ax0", "bx0"))
            * F.greatest(F.lit(0.0), F.least("ay1", "by1") - F.greatest("ay0", "by0")),
            9,
        ).alias("closed_form"),
    ).collect()
    bad = [(r["i"], r["clip_area"], r["closed_form"])
           for r in got if r["clip_area"] != r["closed_form"]]
    assert not bad, bad[:5]


def test_exact_mean_matches_fraction_reference_in_all_three_engines(spark):
    """The exact-mean discipline (docs/PARITY_SF01.md): the Spark
    Column helper, the Spark-SQL text twin, and the DuckDB text twin
    must all equal round-half-up of the EXACT rational mean — checked
    against Fraction arithmetic over randoms plus the deliberate
    *.5e-4 tie cases that split round(double, 4) across engines
    (58.5066/12 = 4.87555; the sf0.1 sweep's two real failures). At
    sum scale 0 the mean is an integer ratio, so the ratio helpers
    (``exact_div_round`` and its SQL twin) must give the same doubles,
    on .5 boundaries of either sign too."""
    import random
    from fractions import Fraction

    import duckdb
    from pyspark.sql import functions as F

    from pipelines_spark.functions.exact import (
        exact_div_round,
        exact_div_round_sql,
        exact_mean,
        exact_mean_sparksql,
    )
    from pipelines_spark.oracles import _exact_mean_sql

    def expected(s_int, n, ss, os_):
        x = Fraction(abs(s_int), n * 10**ss) * 10**os_
        q = (2 * x.numerator + x.denominator) // (2 * x.denominator)
        return (-q if s_int < 0 else q) / 10**os_

    rng = random.Random(7)
    cases = [(585066, 12, 4, 4), (73735, 10, 4, 4), (-73735, 10, 4, 4),
             (301869, 40, 4, 4), (5, 1000, 0, 4), (1, 2, 0, 2),
             (1, 8, 0, 2), (-1, 8, 0, 2), (-3, 8, 0, 2), (-5, 1000, 0, 2),
             (-1, 2, 0, 2), (-975, 200000, 0, 4), (-(10**13 + 5), 2 * 10**6, 0, 6)]
    for _ in range(40):
        cases.append((rng.randint(-10**14, 10**14), rng.randint(1, 10**6),
                      rng.choice([0, 2, 4, 6, 8]), rng.choice([2, 4, 6])))

    con = duckdb.connect()
    for s_int, n, ss, os_ in cases:
        exp = expected(s_int, n, ss, os_)
        sum_sql = (
            f"CAST(CAST({s_int} AS DECIMAL(38,0)) / {10**ss}"
            f" AS DECIMAL(30,{ss}))" if ss else str(s_int)
        )
        duck_sum = (
            f"(CAST({s_int} AS HUGEINT) / {10**ss}.0)::DECIMAL(30,{ss})"
            if ss else str(s_int)
        )
        got_d = con.execute(
            "SELECT " + _exact_mean_sql(duck_sum, str(n), sum_scale=ss, out_scale=os_)
        ).fetchone()[0]
        assert abs(got_d - exp) < 1e-12, (s_int, n, ss, os_, got_d, exp)
        got_sql = spark.sql(
            "SELECT " + exact_mean_sparksql(sum_sql, str(n), sum_scale=ss, out_scale=os_) + " AS m"
        ).collect()[0]["m"]
        assert abs(got_sql - exp) < 1e-12, (s_int, n, ss, os_, got_sql, exp)
        if ss == 0:
            got_div = spark.sql(
                "SELECT " + exact_div_round_sql(str(s_int), str(n), out_scale=os_) + " AS m"
            ).collect()[0]["m"]
            assert got_div == got_sql, (s_int, n, os_, got_div, got_sql)

    # Column API: one pass over all cases in a single plan
    rows = [(i, s, n) for i, (s, n, _, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, s long, n long")
    for ss in (0, 2, 4, 6, 8):
        for os_ in (2, 4, 6):
            got = {
                r["i"]: r["m"]
                for r in df.select(
                    "i",
                    exact_mean(
                        (F.col("s") / F.lit(10**ss)).cast(f"decimal(30,{ss})"),
                        F.col("n"),
                        sum_scale=ss,
                        out_scale=os_,
                    ).alias("m"),
                ).collect()
            }
            for i, (s_int, n, _, _) in enumerate(cases):
                exp = expected(s_int, n, ss, os_)
                assert abs(got[i] - exp) < 1e-12, (s_int, n, ss, os_, got[i], exp)
            if ss == 0:
                div = {
                    r["i"]: r["m"]
                    for r in df.select(
                        "i",
                        exact_div_round(F.col("s"), F.col("n"), out_scale=os_).alias("m"),
                    ).collect()
                }
                assert div == got, (os_, div, got)


#: the decimal sum the exact-sum helpers must equal, kept here as the
#: literal reference (functions/exact.py computes it on longs)
_REF_SUM = "sum(CAST({e} AS DECIMAL(18,6)))"
_REF_SUM_WHERE = (
    "sum(CASE WHEN {w} THEN CAST({e} AS DECIMAL(18,6))"
    " ELSE CAST(0 AS DECIMAL(18,6)) END)"
)


def _rounded(total, scale):
    return f"CAST(round({total}, {scale}) AS DOUBLE)"


def _assert_sums_equal_reference(spark, view, expr, *, where, group="g"):
    """Both exact-sum twins, with ``scale`` None and 2 and with
    ``where``, equal the literal decimal sum per ``group`` (same value
    and type)."""
    from pipelines_spark.functions.exact import exact_sum, exact_sum_sql

    ref = _REF_SUM.format(e=expr)
    ref_w = _REF_SUM_WHERE.format(e=expr, w=where)
    pairs = {
        "s": (ref, exact_sum_sql(expr)),
        "s2": (_rounded(ref, 2), exact_sum_sql(expr, 2)),
        "w": (ref_w, exact_sum_sql(expr, where=where)),
        "w2": (_rounded(ref_w, 2), exact_sum_sql(expr, 2, where=where)),
    }
    cols = ", ".join(f"{r} AS {k}_ref, {h} AS {k}" for k, (r, h) in pairs.items())
    got = spark.sql(f"SELECT {group} AS g, {cols} FROM {view} GROUP BY {group}")
    col = spark.table(view).groupBy(F.expr(group).alias("g")).agg(
        exact_sum(F.expr(expr)).alias("c"), exact_sum(F.expr(expr), 2).alias("c2")
    )
    types = dict(got.dtypes)
    assert types["s"] == types["s_ref"] == "decimal(28,6)"
    assert dict(col.dtypes)["c"] == "decimal(28,6)"
    rows = got.join(col, "g").collect()
    assert rows
    for row in rows:
        for k in pairs:
            assert row[k] == row[f"{k}_ref"], (k, row)
        assert (row["c"], row["c2"]) == (row["s_ref"], row["s2_ref"]), row


def test_exact_sum_helpers_equal_the_decimal_sum(spark):
    """The exact-sum helpers sum each row on a 64-bit long, and the
    result equals ``sum(CAST(x AS DECIMAL(18,6)))`` bit for bit in both
    twins: on decimal ties whose binary value lies below or above the
    tie, at and past the fast path's 2⁴⁰/10⁶ bound, on near-ties made by
    products, on NULLs and empty groups, in a window, and for FLOAT,
    INT and DECIMAL arguments, which the ``typeof`` guard keeps on the
    cast. The rounded form rounds the exact decimal half up: a sum of
    1.005 (binary 1.00499999999999989…) gives 1.01."""
    import math
    import random

    from pipelines_spark.functions.exact import exact_sum, exact_sum_sql

    rng = random.Random(15)
    bound = 2.0**40 / 1e6
    values = [1.0000005, 0.0000005, 2.5e-6, 0.1234565, 123.4567895, 99999.9999995,
              1.005, 0.0, 1e-300, 16777216.0000005, 999999999999.999]
    values += [bound, math.nextafter(bound, math.inf), math.nextafter(bound, 0.0),
               bound + 5e-7, bound - 5e-7, bound + 1e-6, 2 * bound + 5e-7]
    values += [(rng.randrange(10**10) * 10 + 5) / 10**7 for _ in range(400)]
    values += [rng.randrange(10**9) / 10**6 for _ in range(100)]
    values += [-v for v in values]
    df = spark.createDataFrame(
        [(i, i % 3, v) for i, v in enumerate(values)] + [(-1, 0, None)],
        "g int, k int, x double",
    )
    df.createOrReplaceTempView("exact_sum_t")
    # the decimal ties (doubles below and above the tie) are inputs on
    # which a bare rint(x·1e6) misses the cast
    y = "(x * 1e6)"
    naive = f"CAST(rint({y}) AS BIGINT) <> CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    assert spark.sql(f"SELECT count_if({naive}) FROM exact_sum_t").first()[0] > 50
    for group in ("g", "k", "x < 0", "1"):
        _assert_sums_equal_reference(spark, "exact_sum_t", "x", where="k = 1", group=group)

    # near-ties made by products of short decimals (a 3-decimal
    # discount gives 7-decimal products with 5 in the last place)
    spark.sql(
        "SELECT id AS g, id % 2 AS k,"
        " CAST(9000 + id * 7919 % 9000000 AS DOUBLE) / 100 AS l_extendedprice,"
        " CAST(5 + 10 * (id % 10) AS DOUBLE) / 1000 AS l_discount,"
        " CAST(id % 9 AS DOUBLE) / 100 AS l_tax FROM range(20000)"
    ).createOrReplaceTempView("exact_sum_li")
    prod = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"
    py = f"(({prod}) * 1e6)"
    near = (
        f"count_if(abs(abs({py} - rint({py})) - 0.5) <= 1e-3),"
        f" count_if(CAST(rint({py}) AS BIGINT)"
        f" <> CAST(CAST({prod} AS DECIMAL(18,6)) * 1000000 AS BIGINT))"
    )
    n_near, n_naive = spark.sql(f"SELECT {near} FROM exact_sum_li").first()
    assert n_near > 100 and n_naive > 100, (n_near, n_naive)
    for group in ("g", "k"):
        _assert_sums_equal_reference(spark, "exact_sum_li", prod, where="l_tax > 0.04", group=group)

    # an empty group is NULL, an all-NULL group too; the conditional
    # sum of a group whose rows all fail the predicate is an exact 0
    empty = spark.sql(
        f"SELECT {exact_sum_sql('x')} AS s, {exact_sum_sql('x', 2)} AS s2,"
        f" {exact_sum_sql('x', where='k = 1')} AS w FROM exact_sum_t WHERE g > 10000"
    ).first()
    assert tuple(empty) == (None, None, None)
    assert df.filter("g > 10000").agg(exact_sum("x")).first()[0] is None
    nulls = spark.sql(
        f"SELECT {exact_sum_sql('x')}, {exact_sum_sql('x', where='k = 1')},"
        f" {exact_sum_sql('x', where='k = 0')} FROM exact_sum_t WHERE g = -1"
    ).first()
    assert tuple(nulls) == (None, 0, None)

    # a window sum: the text ends in its sum(...) call
    frame = "OVER (ORDER BY g ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"
    win = spark.sql(
        f"SELECT {_REF_SUM.format(e='x')} {frame} AS r, {exact_sum_sql('x')} {frame} AS s"
        " FROM exact_sum_t"
    )
    assert win.filter("r IS DISTINCT FROM s").count() == 0

    # non-DOUBLE arguments take the cast on every row: the fast branch
    # is folded out of the plan
    for typ, vals in (
        ("float", [0.1, 1.0000005, 0.3, -2.5e-6, 16777216.0, 1234.5678, 3.4e10]),
        ("int", [5, -3, 2147483647, 0, -2147483648]),
        ("decimal(20,8)", ["1.00000050", "-0.00000050", "123456.12345678", "99999999999.99999949"]),
    ):
        spark.sql(
            "SELECT g, g % 2 AS k, CAST(v AS " + typ + ") AS x FROM VALUES "
            + ", ".join(f"({i}, '{v}')" for i, v in enumerate(vals))
            + " AS t(g, v)"
        ).createOrReplaceTempView("exact_sum_typed")
        for group in ("g", "1"):
            _assert_sums_equal_reference(spark, "exact_sum_typed", "x", where="k = 1", group=group)
        plan = spark.sql(f"SELECT {exact_sum_sql('x')} AS s FROM exact_sum_typed")
        assert "rint" not in plan._jdf.queryExecution().optimizedPlan().toString(), typ
    plan = spark.sql(f"SELECT {exact_sum_sql('x')} AS s FROM exact_sum_t")
    assert "rint" in plan._jdf.queryExecution().optimizedPlan().toString()

    one = spark.createDataFrame([(1, 1.005), (2, 0.0)], "k int, x double")
    one.createOrReplaceTempView("exact_sum_one")
    got = spark.sql(
        f"SELECT {exact_sum_sql('x', 2)} AS s,"
        f" {exact_sum_sql('x', 2, where='k = 2')} AS s2 FROM exact_sum_one"
    ).collect()[0]
    assert (got["s"], got["s2"]) == (1.01, 0.0)
    assert one.agg(exact_sum("x", 2).alias("s")).collect()[0]["s"] == 1.01


def test_exact_sum_non_finite_rows_match_the_decimal_sum(spark):
    """NaN and ±inf rows take the cast path, so both twins end as the
    decimal sum does: the same error, or the same value (Spark 4.1
    casts them to NULL, so they drop out of the sum)."""
    from pipelines_spark.functions.exact import exact_sum, exact_sum_sql

    def outcome(run):
        try:
            return ("value", run())
        except Exception as e:  # noqa: BLE001 - compared, not swallowed
            return ("error", getattr(e, "getCondition", lambda: type(e).__name__)())

    ref = _REF_SUM.format(e="x")
    for v in (float("nan"), float("inf"), float("-inf")):
        df = spark.createDataFrame([(1, v), (1, 2.5)], "k int, x double")
        df.createOrReplaceTempView("exact_sum_nf")

        def first(text):
            return outcome(lambda: spark.sql(f"SELECT {text} FROM exact_sum_nf").first()[0])

        assert first(exact_sum_sql("x")) == first(ref)
        assert first(exact_sum_sql("x", where="k = 1")) == first(ref)
        assert first(exact_sum_sql("x", 2)) == first(_rounded(ref, 2))
        assert outcome(lambda: df.agg(exact_sum("x")).first()[0]) == first(ref)


def test_exact_sum_overflow_raises_in_both_twins(spark):
    """A group whose total passes 2⁶³ units (9.2·10¹² in value) raises
    ARITHMETIC_OVERFLOW in both twins, with and without ``scale`` and
    ``where`` and in a window; it never returns a wrapped value."""
    from pipelines_spark.functions.exact import exact_sum, exact_sum_sql

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(1, 9.9e11)] * 10, "k int, x double")
    df.createOrReplaceTempView("exact_sum_big")
    texts = [exact_sum_sql("x"), exact_sum_sql("x", 2), exact_sum_sql("x", where="k = 1"),
             exact_sum_sql("x") + " OVER ()"]
    for text in texts:
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            spark.sql(f"SELECT {text} FROM exact_sum_big").collect()
    for col in (exact_sum("x"), exact_sum("x", 2)):
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            df.agg(col).collect()
    # nine rows stay in range and are exact
    assert str(spark.sql(
        f"SELECT {exact_sum_sql('x')} FROM (SELECT x FROM exact_sum_big LIMIT 9)"
    ).first()[0]) == "8910000000000.000000"


def test_q1_plan_sums_no_decimal(spark, sf_small):
    """q1's optimized plan holds no ``sum`` over a DecimalType: its
    seven exact sums run on longs."""
    from pipelines_spark.queries import QUERIES

    plan = QUERIES["q1_pricing_summary"](spark, sf_small)._jdf.queryExecution().optimizedPlan()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def sums(expr):
        if expr.nodeName() == "Sum":
            yield expr.child().dataType().typeName()
        for child in seq(expr.children()):
            yield from sums(child)

    def walk(node):
        for expr in seq(node.expressions()):
            yield from sums(expr)
        for child in seq(node.children()):
            yield from walk(child)

    types = list(walk(plan))
    assert len(types) >= 7, types
    assert all(t == "long" for t in types), types


def test_queries_write_no_exact_sum_by_hand():
    """Every exact float sum and exact mean or ratio in queries.py is
    written by functions/exact.py: no ``sum(`` there takes a
    DECIMAL(18,6) argument, and no round-half-up CASE over
    DECIMAL(38,0) operands is spelled out."""
    import inspect
    import re

    import pipelines_spark.queries as Q

    src = inspect.getsource(Q)
    by_hand = []
    for m in re.finditer(r"(?<!\w)sum\s*\(", src, re.I):
        depth = 0
        for j in range(m.end() - 1, len(src)):
            depth += {"(": 1, ")": -1}.get(src[j], 0)
            if depth == 0:
                break
        if "decimal(18,6)" in src[m.end() : j].lower():
            by_hand.append(src.count("\n", 0, m.start()) + 1)
    assert not by_hand, f"hand-written exact sums at queries.py lines {by_hand}"
    assert "DECIMAL(38,0)) < 0 THEN" not in src
