"""Schema contracts.

The reference infers its ingest schema from JSON
(`/root/reference/scripts/el_to_parquet.py:221-222`) and declares types only
at the warehouse layer (`plugins/helpers/sql_queries_staging.py:14-72`).
We pin an explicit 14-column ingest contract (removes inference
nondeterminism, SURVEY §7 risk 5) and keep infer-mode as a fallback.

The warehouse layer is declared here too, as the reference's DDL is
(`sql_queries_staging.py`, `sql_queries_presentation.py`):
`WAREHOUSE_SCHEMAS` holds the nine tables `TableStore` reads with and
checks every write against. They derive from `LISTING_SCHEMA` (through
the cleaning rename + snake_case), `STAGING_COLUMNS`, `SURROGATE_KEYS`
and the fixed SCD2, fact and date-dimension columns.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

#: The 14 allowed ingest attributes (reference P1, `el_to_parquet.py:225-229`).
ALLOWED_ATTRIBUTES = [
    "Broker",
    "ContractNumber",
    "Country",
    "County",
    "Parish",
    "Title",
    "Description",
    "PriceCurrencyFormated",
    "PropertyType",
    "Bathrooms",
    "Bedrooms",
    "AreaNet",
    "Latitude",
    "Longitude",
]

#: Numeric columns defaulted to -1 when null (reference P2, `el_to_parquet.py:53-61`).
NUMERIC_DEFAULT_COLS = [
    "AreaNet",
    "Bathrooms",
    "Bedrooms",
    "PriceCurrencyFormated",
    "Latitude",
    "Longitude",
]

#: Textual columns defaulted to "Unknown" when null (reference P3, :57-64).
TEXT_DEFAULT_COLS = [
    "Broker",
    "Country",
    "County",
    "Description",
    "Parish",
    "PropertyType",
    "Title",
]

#: Columns that get HTML stripped + capped at 250 chars (reference P4/P5, :66-95,329-330).
CLEANED_TEXT_COLS = ["Description", "Title"]
TRUNCATE_LENGTH = 250

#: Pinned ingest StructType: strings for identity/text, doubles for measures
#: (staging DDL uses `float` for all numerics, `sql_queries_staging.py:36-41`).
LISTING_SCHEMA = T.StructType(
    [
        T.StructField("Broker", T.StringType(), True),
        T.StructField("ContractNumber", T.StringType(), True),
        T.StructField("Country", T.StringType(), True),
        T.StructField("County", T.StringType(), True),
        T.StructField("Parish", T.StringType(), True),
        T.StructField("Title", T.StringType(), True),
        T.StructField("Description", T.StringType(), True),
        T.StructField("PriceCurrencyFormated", T.DoubleType(), True),
        T.StructField("PropertyType", T.StringType(), True),
        T.StructField("Bathrooms", T.DoubleType(), True),
        T.StructField("Bedrooms", T.DoubleType(), True),
        T.StructField("AreaNet", T.DoubleType(), True),
        T.StructField("Latitude", T.DoubleType(), True),
        T.StructField("Longitude", T.DoubleType(), True),
    ]
)

#: Reference P6 rename (`el_to_parquet.py:72`), applied before snake_case.
RENAMED_ATTRIBUTES = {"PriceCurrencyFormated": "Price"}

_CAMEL_BOUNDARY = re.compile(r"(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])")


def snake_case(name: str) -> str:
    """CamelCase → snake_case (reference P7, `el_to_parquet.py:98-116`).

    `ContractNumber` → `contract_number`, `AreaNet` → `area_net`; already
    snake names pass through unchanged.
    """
    return _CAMEL_BOUNDARY.sub("_", name).lower()


#: Dimension business keys (reference dim configs,
#: `plugins/helpers/sql_queries_presentation.py:142-158`).
DIM_KEYS = {
    "dim_broker": ["broker"],
    "dim_asset": ["contract_number"],
    "dim_geography": ["country", "county", "parish"],
}

#: Staging projections (reference A1/P8, `el_to_parquet.py:177-197`), in
#: snake_case (post-P7). Hash is appended over these columns in this order.
STAGING_COLUMNS = {
    "dim_broker": ["broker"],
    "dim_geography": ["country", "county", "parish"],
    "dim_asset": [
        "contract_number",
        "country",
        "county",
        "parish",
        "title",
        "description",
        "price",
        "property_type",
        "bathrooms",
        "bedrooms",
        "area_net",
        "latitude",
        "longitude",
    ],
    "fact_stock": [
        "broker",
        "contract_number",
        "country",
        "county",
        "parish",
        "price",
    ],
}

#: Surrogate key column of each SCD2 dimension, in the fact table's
#: foreign-key order (presentation DDL, `sql_queries_presentation.py:91-102`).
SURROGATE_KEYS = {
    "dim_broker": "broker_id",
    "dim_asset": "asset_id",
    "dim_geography": "geography_id",
}

#: Change-detection fingerprint column (`stage.with_fingerprint`'s output).
HASH_COL = "hash"

#: SCD2 validity columns appended to every dimension row.
SCD2_COLS = ["record_start_date", "record_end_date"]

#: SCD2 sentinel for the active row. The reference stores `'99991231'`
#: (`dimension_operator.py:30,48`); ours is a real DateType sentinel.
SCD2_SENTINEL = "9999-12-31"


# --- Declared warehouse schemas (reference D2/D3) -------------------------

#: Cleaned listing column → type: what `clean.clean_listings` emits.
_CLEANED_TYPES = {
    snake_case(RENAMED_ATTRIBUTES.get(f.name, f.name)): f.dataType
    for f in LISTING_SCHEMA.fields
}
#: The stock literals `stage.stage_stock` appends (staging DDL keeps the
#: date a varchar); the fact table keeps the quantity.
_QUANTITY = ("quantity", T.IntegerType())
_STOCK_FIELDS = [_QUANTITY, ("stock_date", T.StringType())]

#: `dims.date_dimension`'s columns (reference `v_dim_date`, F2-F9).
_DIM_DATE_FIELDS = [
    ("date_id", T.IntegerType()),
    ("full_date", T.StringType()),
    ("year_number", T.IntegerType()),
    ("week_iso_number", T.IntegerType()),
    ("day_number", T.IntegerType()),
    ("quarter_number", T.IntegerType()),
    ("month_number", T.IntegerType()),
    ("month_name", T.StringType()),
    ("weekday_number", T.IntegerType()),
    ("day_name", T.StringType()),
    ("is_weekday", T.IntegerType()),
    ("is_last_of_month", T.IntegerType()),
]


def _struct(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


def _staging_fields(table: str) -> list[tuple[str, T.DataType]]:
    fields = [(c, _CLEANED_TYPES[c]) for c in STAGING_COLUMNS[table]]
    if table == "fact_stock":
        return fields + _STOCK_FIELDS
    return fields + [(HASH_COL, T.StringType())]


#: ``{database: {table: StructType}}`` — the warehouse DDL. Partitioned
#: `fact_stock` lists its `date_id` partition column last, where a read
#: puts it.
WAREHOUSE_SCHEMAS = {
    "staging": {t: _struct(_staging_fields(t)) for t in STAGING_COLUMNS},
    "presentation": {
        **{
            dim: _struct(
                [(sk, T.LongType()), *_staging_fields(dim)]
                + [(c, T.DateType()) for c in SCD2_COLS]
            )
            for dim, sk in SURROGATE_KEYS.items()
        },
        "dim_date": _struct(_DIM_DATE_FIELDS),
        "fact_stock": _struct(
            [("id", T.LongType())]
            + [(sk, T.LongType()) for sk in SURROGATE_KEYS.values()]
            + [("price", _CLEANED_TYPES["price"]), _QUANTITY]
            + [("date_id", T.IntegerType())]
        ),
    },
}


def warehouse_schema(database: str, table: str) -> T.StructType:
    """The declared schema of ``database.table``; an undeclared table is
    an error, as a table without a `CREATE TABLE` would be."""
    try:
        return WAREHOUSE_SCHEMAS[database][table]
    except KeyError:
        raise ValueError(f"warehouse table {database}.{table} is not declared") from None
