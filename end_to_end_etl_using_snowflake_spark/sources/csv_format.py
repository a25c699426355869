"""The reference's named CSV file format + entity stage schemas.

Snowflake file format (reference README.md:38-45, applied by every pipe,
e.g. customer-...sql:56):

    type=CSV, compression=auto, field_delimiter=',',
    record_delimiter='\\n', skip_header=1,
    field_optionally_enclosed_by='\\042', null_if=('\\N'),
    error_on_column_count_mismatch=false

Spark translation notes (verified against the reference fixtures):

- ``skip_header=1`` skips one physical line per file regardless of
  content. Spark equivalent: ``header=True`` + explicit schema +
  ``enforceSchema=True`` (default) — the first line is skipped
  *unvalidated*, which absorbs customer_delta_2.csv's 9-column header.
  It does not cover customer_delta_1.csv's blank first line: Spark
  drops blank lines before header handling, so ``header=True`` alone
  would skip that file's first data row. ``copy_into.read_stage_files``
  reads such files with ``header=false``; read stage files through it.
- ``error_on_column_count_mismatch=false`` -> PERMISSIVE mode; short
  rows (customer_delta_1.csv carries 9 of 10 columns — no is_active)
  fill missing trailing columns with NULL.
- Empty unquoted fields -> NULL in both systems (Snowflake
  EMPTY_FIELD_AS_NULL default; Spark default).
- Fixture quirks that must survive ingest unharmed: times like
  ``19:59:47 PM`` (kept as varchar, never cast), negative money,
  empty END_DATE (= current row), UPPERCASE headers.
"""

from __future__ import annotations

from pyspark.sql import types as T

CSV_OPTIONS = {
    "sep": ",",
    "lineSep": "\n",
    "quote": '"',
    "nullValue": "\\N",
    "header": "true",  # skip_header=1 (with explicit schema: skip, don't validate)
    "enforceSchema": "true",
    "mode": "PERMISSIVE",
}


def _string_schema(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


# stage/raw layers are schema-on-read: all varchar
# (reference customer-...sql:3-27, item-...sql:1-22, order-...sql:1-44)
CUSTOMER_STAGE = _string_schema(
    "customer_id", "salutation", "first_name", "last_name", "birth_day",
    "birth_month", "birth_year", "birth_country", "email_address", "is_active",
)

ITEM_STAGE = _string_schema(
    "item_id", "item_desc", "start_date", "end_date", "price",
    "item_class", "item_category", "is_active",
)

ORDER_STAGE = _string_schema(
    "order_date", "order_time", "item_id", "item_desc", "customer_id",
    "salutation", "first_name", "last_name", "store_id", "store_name",
    "order_quantity", "sale_price", "disount_amt",  # typo preserved (order-...sql:14)
    "coupon_amt", "net_paid", "net_paid_tax", "net_profit",
)

STAGE_SCHEMAS = {
    "customer": CUSTOMER_STAGE,
    "item": ITEM_STAGE,
    "order": ORDER_STAGE,
}

# transformed layer: fully typed (customer-...sql:31-45, item-...sql:25-37,
# order-...sql:48-61). Snowflake number->long/int, number(p,2)->decimal,
# autoincrement -> engine identity (operators.merge.fill_identity).
DIM_CUSTOMER = T.StructType([
    T.StructField("customer_dim_key", T.LongType()),
    T.StructField("customer_id", T.StringType()),
    T.StructField("salutation", T.StringType()),
    T.StructField("first_name", T.StringType()),
    T.StructField("last_name", T.StringType()),
    T.StructField("birth_day", T.IntegerType()),
    T.StructField("birth_month", T.IntegerType()),
    T.StructField("birth_year", T.IntegerType()),
    T.StructField("birth_country", T.StringType()),
    T.StructField("email_address", T.StringType()),
    T.StructField("added_timestamp", T.TimestampType()),
    T.StructField("updated_timestamp", T.TimestampType()),
    T.StructField("is_active", T.StringType()),
])

DIM_ITEM = T.StructType([
    T.StructField("item_dim_key", T.LongType()),
    T.StructField("item_id", T.StringType()),
    T.StructField("item_desc", T.StringType()),
    T.StructField("start_date", T.DateType()),
    T.StructField("end_date", T.DateType()),
    T.StructField("price", T.DecimalType(7, 2)),
    T.StructField("item_class", T.StringType()),
    T.StructField("item_category", T.StringType()),
    T.StructField("added_timestamp", T.TimestampType()),
    T.StructField("updated_timestamp", T.TimestampType()),
    T.StructField("is_active", T.StringType()),
])

FACT_ORDER = T.StructType([
    T.StructField("order_fact_key", T.LongType()),
    T.StructField("order_date", T.DateType()),
    T.StructField("customer_dim_key", T.LongType()),
    T.StructField("item_dim_key", T.LongType()),
    T.StructField("order_count", T.LongType()),
    T.StructField("order_quantity", T.LongType()),
    T.StructField("sale_price", T.DecimalType(20, 2)),
    T.StructField("disount_amt", T.DecimalType(20, 2)),  # typo preserved
    T.StructField("coupon_amt", T.DecimalType(20, 2)),
    T.StructField("net_paid", T.DecimalType(20, 2)),
    T.StructField("net_paid_tax", T.DecimalType(20, 2)),
    T.StructField("net_profit", T.DecimalType(20, 2)),
])
