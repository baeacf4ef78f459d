"""Table-driven unit tests for the Column-expression library (SURVEY §2.8).

Each case table is lifted from reference behavior (file:line cites in the
function docstrings); the Samsung S24 ULTRA golden record reproduces
scripts/data_processors/test_avito_structure.py:14-74 verbatim.
"""

import pytest
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.functions import (
    brand_from_text,
    build_avito_url,
    clean_model_name,
    clean_price,
    determine_condition,
    extract_brand,
    extract_model,
    extract_model_from_title,
    extract_rating,
    normalize_brand,
    normalize_product_id,
    product_id,
    scrub_sentinels,
)


def eval_expr(spark, expr_builder, rows, schema):
    df = spark.createDataFrame(rows, schema=schema)
    return [r.out for r in df.select(expr_builder(df).alias("out")).collect()]


# --- F2 clean_price -------------------------------------------------------

PRICE_CASES = [
    ("7800 DH", 7800.0),
    ("250 DH", 250.0),
    ("1,200.50 MAD", 1200.5),
    ("4.500,00", 4500.0),
    ("4,500", 4500.0),
    ("13,875 DH", 13875.0),  # the Jumia thousands bug we do NOT replicate
    ("3500", 3500.0),
    ("", 0.0),
    (None, 0.0),
    ("Prix à discuter", 0.0),
    ("99 900 DH", 99900.0),
]


def test_clean_price(spark):
    rows = [(s,) for s, _ in PRICE_CASES]
    out = eval_expr(spark, lambda df: clean_price(df.price), rows, "price string")
    assert out == [e for _, e in PRICE_CASES]


def test_clean_price_numeric_passthrough(spark):
    out = eval_expr(
        spark, lambda df: clean_price(df.price), [(7800.0,), (None,)], "price double"
    )
    assert out == [7800.0, 0.0]


# --- F4/F5 brands ---------------------------------------------------------

BRAND_CASES = [
    ("SAMSUNG", "Samsung"),
    ("samsng", "Samsung"),  # typo key
    ("iphone 13", "Apple"),
    ("Redmi", "Xiaomi"),
    ("HONOR", "Honor"),  # canonical choice: DAG table, not avito's Huawei
    ("weirdbrand", "Weirdbrand"),  # title-case passthrough
    (None, "Unknown"),
    ("", "Unknown"),
]


def test_normalize_brand(spark):
    rows = [(s,) for s, _ in BRAND_CASES]
    out = eval_expr(spark, lambda df: normalize_brand(df.brand), rows, "brand string")
    assert out == [e for _, e in BRAND_CASES]


EXTRACT_BRAND_CASES = [
    # (brand_field, title, model, expected)
    ("SAMSUNG", "whatever", None, "Samsung"),
    ("NULL", "Galaxy S21 Ultra", None, "Samsung"),  # galaxy only in title scan
    (None, "téléphone pixel 7a", None, "Google"),
    (None, "téléphone quelconque", "redmi note 9", "Xiaomi"),
    (None, "rien ici", "rien non plus", "Unknown"),
]


def test_extract_brand_fallback_chain(spark):
    rows = [(b, t, m) for b, t, m, _ in EXTRACT_BRAND_CASES]
    out = eval_expr(
        spark,
        lambda df: extract_brand(df.brand, df.title, df.model),
        rows,
        "brand string, title string, model string",
    )
    assert out == [e for *_, e in EXTRACT_BRAND_CASES]


def test_first_match_follows_table_order_not_text_order(spark):
    """The lookup returns the FIRST table entry contained in the text:
    'galaxy' precedes 'pixel' in TITLE_BRAND_MAPPING, so a title naming
    both is Samsung even when 'pixel' comes first in the text."""
    rows = [("Pixel 7 vs Galaxy S23",), ("galaxy et pixel",), ("pixel 8",)]
    out = eval_expr(spark, lambda df: brand_from_text(df.title), rows, "title string")
    assert out == ["Samsung", "Samsung", "Google"]
    # longest-key-first condition table: 'comme neuf' wins over 'neuf'
    out = eval_expr(spark, lambda df: determine_condition(df.c), [("Comme neuf",)], "c string")
    assert out == ["like new"]


# --- F9 condition ---------------------------------------------------------

CONDITION_CASES = [
    ("NEUF", "new"),
    ("neuf", "new"),
    ("comme neuf", "like new"),  # longest-key-first (reference DAG bug fixed)
    ("Très bon état", "good"),
    ("excellent", "good"),
    ("moyen", "fair"),
    ("endommagé", "poor"),
    ("reconditionné", "refurbished"),
    ("NULL", "used"),
    (None, "used"),
    ("état inconnu xyz", "used"),
]


def test_determine_condition(spark):
    rows = [(s,) for s, _ in CONDITION_CASES]
    out = eval_expr(spark, lambda df: determine_condition(df.cond), rows, "cond string")
    assert out == [e for _, e in CONDITION_CASES]


# --- F10 rating -----------------------------------------------------------

RATING_CASES = [
    ("4.5 out of 5", 4.5),
    ("3.8/5", 3.8),
    ("4.2", 4.2),
    ("(2 avis vérifiés)", 2.0),  # bare-decimal fallback grabs the 2 (reference behavior)
    (None, 0.0),
    ("no digits", 0.0),
]


def test_extract_rating(spark):
    rows = [(s,) for s, _ in RATING_CASES]
    out = eval_expr(spark, lambda df: extract_rating(df.rating), rows, "rating string")
    assert out == [e for _, e in RATING_CASES]


# --- F6 model -------------------------------------------------------------

MODEL_CASES = [
    # (title, brand, model_field, expected)
    ("Samsung S24 ULTRA - 512 GB", "Samsung", "S24 ULTRA", "S24 ULTRA"),
    ("Samsung S24 ULTRA - 512 GB", "Samsung", None, "S24"),  # ULTRA stripped by cascade
    # reference regex walk: "IPHONE 13 PRO MAX" matched, PRO/MAX stripped
    ("iPhone 13 Pro Max 256Go", "Apple", "NULL", "IPHONE 13"),
    # pattern 1 backtracks past REDMI (no digits follow) to "NOTE 12"
    ("Xiaomi Redmi Note 12", "Xiaomi", None, "NOTE 12"),
]


def test_extract_model(spark):
    rows = [(t, b, m) for t, b, m, _ in MODEL_CASES]
    out = eval_expr(
        spark,
        lambda df: extract_model(df.title, df.brand, df.model),
        rows,
        "title string, brand string, model string",
    )
    assert out == [e for *_, e in MODEL_CASES]


def test_extract_model_from_title_base_variant(spark):
    rows = [
        ("Samsung Galaxy S21 Ultra 128Go", "Samsung"),
        ("iPhone 12 Pro 128 Go", "Apple"),
        ("", "Apple"),
    ]
    out = eval_expr(
        spark,
        lambda df: extract_model_from_title(df.title, df.brand),
        rows,
        "title string, brand string",
    )
    assert out[0] == "S21 ULTRA"  # galaxy pattern: 's21' + trailing '\s*\d*\w*' word
    assert out[1] == "128 GO"  # first match of r"\d+\s*go"
    assert out[2] == "Unknown"


# --- F7 product_id --------------------------------------------------------

def test_product_id_base_and_avito(spark):
    rows = [
        ("Samsung", "S24 ULTRA", "Samsung S24 ULTRA - 512 GB"),
        ("Apple", "Unknown", "iphone 13 pro neuf"),
        ("Unknown", "Unknown", "mystérieux téléphone rare"),
    ]
    schema = "brand string, model string, title string"
    base = eval_expr(
        spark, lambda df: product_id(df.brand, df.model, df.title), rows, schema
    )
    assert base[0] == "samsung_s24ultra"
    assert base[1] == "apple_13"  # second word of cleaned title ("iphone 13 ...")
    avito = eval_expr(
        spark, lambda df: product_id(df.brand, df.model, df.title, avito=True), rows, schema
    )
    assert avito[0] == "samsung_s24ultra"
    # 'iphone 13' has no letter-digit adjacency → token regex misses → md5 path
    assert avito[1] == "apple_title_c4049041"
    assert avito[2].startswith("unknown_title_") and len(avito[2]) == len("unknown_title_") + 8


def test_normalize_product_id(spark):
    out = eval_expr(
        spark,
        lambda df: normalize_product_id(df.pid),
        [("Apple IPhone 13",), ("  a  b ",)],
        "pid string",
    )
    assert out == ["apple_iphone_13", "a_b"]


# --- F13/F14/S3 cleaning ----------------------------------------------------

def test_clean_model_name(spark):
    out = eval_expr(
        spark,
        lambda df: clean_model_name(df.m),
        [("s24-ultra!!",), ("",), (None,)],
        "m string",
    )
    assert out == ["S24 ULTRA", "Unknown", "Unknown"]


def test_scrub_sentinels(spark):
    out = eval_expr(
        spark,
        lambda df: scrub_sentinels(df.v),
        [("NULL",), ("none",), ("nan",), (" ok ",), (None,), ("",)],
        "v string",
    )
    assert out == [None, None, None, " ok ", None, None]


# --- F15 url ----------------------------------------------------------------

def test_build_avito_url(spark):
    rows = [
        ("https://www.avito.ma/vi/57312179.htm", "999"),
        ("https://elsewhere.com/x", "76741338"),
        (None, None),
    ]
    out = eval_expr(
        spark, lambda df: build_avito_url(df.url, df.ad_id), rows, "url string, ad_id string"
    )
    assert out == [
        "https://www.avito.ma/vi/57312179.htm",
        "https://www.avito.ma/vi/76741338.htm",
        "https://www.avito.ma/",
    ]


# --- golden record (reference test_avito_structure.py) ----------------------

GOLDEN = {
    "ad_id": "76741338",
    "title": "Samsung S24 ULTRA - 512 GB",
    "price": "7800 DH",
    "brand": "SAMSUNG",
    "model": "S24 ULTRA",
    "condition": "NEUF",
    "url": "https://www.avito.ma/vi/57312179.htm",
}


def test_golden_record_avito(spark):
    df = spark.createDataFrame(
        [tuple(GOLDEN.values())],
        "ad_id string, title string, price string, brand string, model string, "
        "condition string, url string",
    )
    brand = extract_brand(df.brand, df.title, df.model)
    model = extract_model(df.title, brand, df.model)
    row = df.select(
        brand.alias("brand"),
        model.alias("model"),
        clean_price(df.price).alias("price"),
        determine_condition(df.condition).alias("condition"),
        product_id(brand, model, df.title, avito=True).alias("product_id"),
        build_avito_url(df.url, df.ad_id).alias("url"),
    ).collect()[0]
    assert row.brand == "Samsung"
    assert row.model == "S24 ULTRA"
    assert row.price == 7800.0
    assert row.condition == "new"
    assert row.product_id == "samsung_s24ultra"
    assert row.url == "https://www.avito.ma/vi/57312179.htm"
