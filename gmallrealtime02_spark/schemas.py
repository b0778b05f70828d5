"""Declared StructType schemas for every logical table and envelope.

The reference binds JSON reflectively to flat case classes (missing fields
silently null) — e.g. ``gmallrealtime/.../dwd/DwdOrderInfoApp.scala:46``.
Here every schema is declared once; ``from_json`` reproduces the same
null-on-missing semantics with types upgraded idiomatically
(TimestampType for the reference's string timestamps, see SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Event-stream envelopes (FIXTURES.md §1)
# ---------------------------------------------------------------------------

# Startup/app log envelope — reference: app/DauApp.scala:44-56 (parse), 66
# (common.mid), logger routing LoggerController.java:29-37.
STARTUP_LOG = T.StructType(
    [
        T.StructField(
            "common",
            T.StructType(
                [
                    T.StructField("mid", T.StringType()),
                    T.StructField("uid", T.StringType()),
                    T.StructField("ar", T.StringType()),
                    T.StructField("ch", T.StringType()),
                    T.StructField("vc", T.StringType()),
                ]
            ),
        ),
        # presence => startup log; absence => event log (LoggerController.java:31-36)
        T.StructField("start", T.StringType()),
        T.StructField("ts", T.LongType()),
    ]
)

# Canal CDC envelope — reference: ods/OdsGmallCanal.scala:42-50.  ``data`` is
# an ARRAY of rows; columns arrive as strings.  We keep the row payload as a
# map so one schema serves every table, then cast on bind.
CANAL_ENVELOPE = T.StructType(
    [
        T.StructField("database", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("data", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
    ]
)

# ---------------------------------------------------------------------------
# Fact rows (FIXTURES.md §2) — reference beans OrderInfo.scala / OrderDetail.scala
# ---------------------------------------------------------------------------

ORDER_INFO = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("province_id", T.LongType()),
        T.StructField("order_status", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("final_total_amount", T.DoubleType()),
        T.StructField("benefit_reduce_amount", T.DoubleType()),
        T.StructField("original_total_amount", T.DoubleType()),
        T.StructField("feight_fee", T.DoubleType()),
        T.StructField("expire_time", T.TimestampType()),
        T.StructField("create_time", T.TimestampType()),
        T.StructField("operate_time", T.TimestampType()),
    ]
)

ORDER_DETAIL = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("order_id", T.LongType()),
        T.StructField("sku_id", T.LongType()),
        T.StructField("order_price", T.DoubleType()),
        T.StructField("sku_num", T.LongType()),
        T.StructField("sku_name", T.StringType()),
        T.StructField("create_time", T.TimestampType()),
    ]
)

# ---------------------------------------------------------------------------
# Dimension rows (FIXTURES.md §3) — reference beans ProvinceInfo/UserInfo/...
# ---------------------------------------------------------------------------

PROVINCE_INFO = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("area_code", T.StringType()),
        T.StructField("iso_code", T.StringType()),
        T.StructField("iso_3166_2", T.StringType()),
    ]
)

USER_INFO = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("birthday", T.DateType()),
        T.StructField("gender", T.StringType()),
    ]
)

SKU_INFO = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("spu_id", T.StringType()),
        T.StructField("tm_id", T.StringType()),
        T.StructField("category3_id", T.StringType()),
    ]
)

SPU_INFO = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("spu_name", T.StringType())]
)

TRADEMARK = T.StructType(
    [T.StructField("tm_id", T.StringType()), T.StructField("tm_name", T.StringType())]
)

CATEGORY3 = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("category2_id", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (/root/testdata/sf*/ — TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
