"""Function-library unit matrix (SURVEY.md §5.2): date-parse formats,
account-map fallback, currency quirk, phone prefixes in rule order,
money coercion."""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_data_peri_institute_spark.functions.cleaning import (
    ACCOUNT_MAP_PRIMERA,
    ACCOUNT_MAP_REGULAR,
    CURRENCY_BY_METHOD,
    PHONE_RULES,
    currency_fixed,
    digits_only,
    extract_project_code,
    first_token,
    fmt_ymd,
    money,
    normalize_account,
    normalize_num_cursos,
    parse_date_dayfirst,
    phone_country,
)


def _one(spark, value, expr):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(expr.alias("out")).first()["out"]


# --- C10: date parse matrix -------------------------------------------------

DATE_CASES = {
    "14/03/2024": "2024-03-14",
    "14/03/2024 09:15:00": "2024-03-14",
    "5/3/2024": "2024-03-05",
    "14-03-2024": "2024-03-14",
    "2024-03-14": "2024-03-14",
    "2024-03-14 10:00:00": "2024-03-14",
    "garbage": None,
    "": None,
    None: None,
}


def test_dayfirst_parse_matrix(spark):
    for raw, expected in DATE_CASES.items():
        got = _one(spark, raw, fmt_ymd(parse_date_dayfirst(F.col("v"))))
        assert got == expected, f"{raw!r} → {got!r}, want {expected!r}"


def test_dayfirst_is_day_first(spark):
    # 05/03 must be March 5th, not May 3rd
    assert _one(spark, "05/03/2024", fmt_ymd(parse_date_dayfirst(F.col("v")))) == "2024-03-05"


# --- C5/C18: code extraction -------------------------------------------------

def test_first_token(spark):
    assert _one(spark, "T01 Ana Roca", first_token(F.col("v"))) == "T01"


def test_extract_project_code(spark):
    assert _one(spark, "P101 Intro", extract_project_code(F.col("v"))) == "P101"
    assert _one(spark, "Taller libre", extract_project_code(F.col("v"))) == "Taller libre"
    assert _one(spark, None, extract_project_code(F.col("v"))) is None


def test_normalize_num_cursos(spark):
    df = spark.createDataFrame(
        [("P101 x", 3), ("Taller", 5), (None, 7)], "curso string, n int"
    )
    out = [r["out"] for r in df.select(
        normalize_num_cursos(F.col("curso"), F.col("n")).alias("out")
    ).collect()]
    assert out == [3, 0, 0]


# --- C13: money --------------------------------------------------------------

def test_money_coercion(spark):
    # decimal-midpoint deviation (documented): Spark round() is HALF_UP on
    # the decimal repr → 350.51; pandas rounds the binary double half-even
    # → 350.5. Non-midpoint values agree.
    assert _one(spark, "350.505", money(F.col("v"))) == 350.51
    assert _one(spark, "bad", money(F.col("v"))) == 0.0
    assert _one(spark, None, money(F.col("v"))) == 0.0
    assert _one(spark, " 42 ", money(F.col("v"))) == 42.0


# --- C16: account map --------------------------------------------------------

def test_account_map_hit_any_case(spark):
    expr = normalize_account(F.col("v"), ACCOUNT_MAP_PRIMERA)
    assert _one(spark, "yape", expr) == "Yape"
    assert _one(spark, "  BANCO DE MEXICO ", expr) == "Banco de México"
    assert _one(spark, "OTROS", expr) == "Sin Especificar"


def test_account_map_fallback_titlecase(spark):
    expr = normalize_account(F.col("v"), ACCOUNT_MAP_PRIMERA)
    assert _one(spark, "transferencia bcp", expr) == "Transferencia Bcp"


def test_account_map_falsy_to_null(spark):
    expr = normalize_account(F.col("v"), ACCOUNT_MAP_PRIMERA)
    assert _one(spark, "", expr) is None
    assert _one(spark, None, expr) is None


def test_regular_map_slash_p_variants(spark):
    expr = normalize_account(F.col("v"), ACCOUNT_MAP_REGULAR)
    assert _one(spark, "BANCO DE ECUADOR / P", expr) == "Banco de Ecuador"
    assert _one(spark, "banco de méxico / p", expr) == "Banco de México"


# --- C17: the currency quirk -------------------------------------------------

def test_currency_fixed_exact_matches_only(spark):
    expr = currency_fixed(F.col("v"))
    assert _one(spark, "Banco de México", expr) == "MXN"
    assert _one(spark, "Banco de Ecuador / P", expr) == "MXN"  # quirk: / P → MXN
    assert _one(spark, "Banco de Ecuador", expr) == "USD"
    assert _one(spark, "PAYPAL", expr) == "USD"
    assert _one(spark, "Banco de Chile", expr) == "CLP"
    # raw mixed case does NOT match → falls through to PEN (the quirk)
    assert _one(spark, "banco de chile", expr) == "PEN"
    assert _one(spark, "YAPE", expr) == "PEN"


# --- C19: phone country, rule order ------------------------------------------

PHONE_CASES = {
    "+51 987-654-321": "Perú",
    "+54 9 11 5555 4444": "Argentina",  # 549 before 54
    "+56 9 8765 4321": "Chile",  # 569
    "573001112233": "Colombia",
    "+593 99 123 4567": "Ecuador",
    "5215512345678": "México",
    "+1 (415) 555-0134": "Estados Unidos / Puerto Rico",  # exactly 11 digits
    "121": "Desconocido",  # starts with 1 but not 11 digits
    "+39 333 123 4567": "Italia",
    "12345": "Desconocido",
    "": "Desconocido",
    None: "Desconocido",
}


def test_phone_country_rule_order(spark):
    for raw, expected in PHONE_CASES.items():
        got = _one(spark, raw, phone_country(F.col("v")).getField("pais"))
        assert got == expected, f"{raw!r} → {got!r}, want {expected!r}"


def test_phone_e164_and_code(spark):
    s = _one(spark, "+51 987-654-321", phone_country(F.col("v")))
    assert s["codigo_pais"] == "51" and s["numero_e164"] == "+51987654321"
    assert _one(spark, "abc", digits_only(F.col("v"))) == ""


def test_sql_scalar_function_matches_column_expr(spark):
    """SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... RETURN):
    the engine's exact-cents money discipline exposed to pure-SQL users
    as a named function, pinned equal to the Python-side _cents column
    expression over real data."""
    from etl_data_peri_institute_spark.plans.tpch import _cents
    from etl_data_peri_institute_spark.sources.tables import load_table

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cents(x DOUBLE) RETURNS BIGINT "
        "RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)"
    )
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    li.createOrReplaceTempView("li_sqlfn")
    via_sql = spark.sql(
        "SELECT sum(cents(l_extendedprice)) AS s FROM li_sqlfn"
    ).first()["s"]
    from pyspark.sql import functions as F

    via_col = li.agg(F.sum(_cents("l_extendedprice")).alias("s")).first()["s"]
    assert via_sql == via_col


# --- lookup rules against plain-Python models --------------------------------


def _phone_model(raw):
    """First-match-wins over PHONE_RULES, each pattern tried on its own."""
    if raw is None:
        return ("Desconocido", None, None)
    num = re.sub(r"[^0-9]", "", raw)
    e164 = "+" + num if num else None
    for pais, cod, pattern in PHONE_RULES:
        if re.search(pattern, num):
            return (pais, cod, e164)
    return ("Desconocido", None, e164)


def _initcap(s):
    """Spark ``initcap``: lower-case, then upper-case each letter that
    starts the string or follows a space."""
    return " ".join(w[:1].upper() + w[1:] for w in s.lower().split(" "))


def _account_model(raw, mapping):
    if raw is None or raw == "":
        return None
    return mapping.get(raw.strip(" ").upper(), _initcap(raw))


def _eval(spark, values, build):
    """``build(col)`` over ``values`` in one job, in input order."""
    df = spark.createDataFrame(list(enumerate(values)), "i int, v string")
    rows = df.select("i", build(F.col("v")).alias("out")).collect()
    return [r["out"] for r in sorted(rows, key=lambda r: r["i"])]


# digit runs that overlap rule prefixes (549/54, 591/59/593, 1…), joined
# with punctuation; tails make 11- and 12-digit "1…" numbers likely
_PHONE = st.one_of(
    st.none(),
    st.just(""),
    st.builds(
        lambda head, tail, sep: sep.join([head, tail]),
        st.sampled_from(["549", "54", "569", "56", "51", "57", "593", "59", "591",
                         "507", "50", "52", "521", "55", "1", "+1", "39", "34", "33",
                         "49", "5", "9", "0", "+"]),
        st.text(alphabet="0123456789", max_size=12),
        st.sampled_from(["", " ", "-", " (", ") ", "."]),
    ),
    st.text(alphabet="0123456789 +-().x", max_size=16),
)


@given(st.lists(_PHONE, min_size=1, max_size=40))
@example(["+54 11 5555 4444", "5491155554444", "591 7123 4567", "59 123", "593991234567",
          "14155550134", "141555501345", "1 415 555 0134", "+1-415-555-01", None, ""])
@settings(max_examples=20, deadline=None)
def test_phone_country_matches_first_match_model(spark, phones):
    got = _eval(spark, phones, phone_country)
    assert [tuple(g) for g in got] == [_phone_model(p) for p in phones]


_ACCOUNT_KEYS = sorted(ACCOUNT_MAP_REGULAR)
_ACCOUNT = st.one_of(
    st.none(),
    st.just(""),
    st.just("  "),
    st.builds(
        lambda key, case, left, right: " " * left + case(key) + " " * right,
        st.sampled_from(_ACCOUNT_KEYS),
        st.sampled_from([str.upper, str.lower, str.title]),
        st.integers(0, 2),
        st.integers(0, 2),
    ),
    st.text(alphabet="abcpyBCPYóÓé /-", max_size=12),
)


@given(st.lists(_ACCOUNT, min_size=1, max_size=40))
@settings(max_examples=15, deadline=None)
def test_account_and_currency_rules_match_dict_models(spark, values):
    for mapping in (ACCOUNT_MAP_PRIMERA, ACCOUNT_MAP_REGULAR):
        got = _eval(spark, values, lambda c, m=mapping: normalize_account(c, m))
        assert got == [_account_model(v, mapping) for v in values]
    got = _eval(spark, values, currency_fixed)
    assert got == [CURRENCY_BY_METHOD.get(v, "PEN") for v in values]
