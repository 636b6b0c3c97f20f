"""Central schema registry: one StructType per logical table.

The reference keeps fixed per-topic case classes (reference
gmall-realtime/src/main/scala/com/atguigu/bean/StartUpLog.scala:3-13,
EventLog.scala:3-13, OrderInfo.scala:3-23, OrderDetail.scala:3-9,
UserInfo.scala:3-7, SaleDetail.scala:6-18) and parses each Kafka JSON
record with fastjson. We keep the same "fixed declared schema per
source" policy but as StructTypes consumed by ``from_json``; unknown
fields are dropped, unparseable records land in a corrupt-record
column instead of being silently dropped.

Money policy: DECIMAL(18,2) at ingest (the reference uses Double --
bean/OrderInfo.scala:13 -- which makes sums order-dependent; decimal
sums are exact and shuffle-order-independent; SURVEY §7.3.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

MONEY = T.DecimalType(18, 2)

# ---------------------------------------------------------------------------
# A. Reference stream-record schemas (JSON payloads on Kafka topics)
# ---------------------------------------------------------------------------

# topic GMALL_STARTUP (bean/StartUpLog.scala:3-13); logDate/logHour are
# derived at ingest, not part of the payload (app/DauApp.scala:34-35).
STARTUP_LOG = T.StructType(
    [
        T.StructField("mid", T.StringType()),
        T.StructField("uid", T.StringType()),
        T.StructField("appid", T.StringType()),
        T.StructField("area", T.StringType()),
        T.StructField("os", T.StringType()),
        T.StructField("ch", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("vs", T.StringType()),
        T.StructField("ts", T.LongType()),  # epoch millis
    ]
)

# topic GMALL_EVENT (bean/EventLog.scala:3-13)
EVENT_LOG = T.StructType(
    [
        T.StructField("mid", T.StringType()),
        T.StructField("uid", T.StringType()),
        T.StructField("appid", T.StringType()),
        T.StructField("area", T.StringType()),
        T.StructField("os", T.StringType()),
        T.StructField("ch", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("evid", T.StringType()),
        T.StructField("pgid", T.StringType()),
        T.StructField("npgid", T.StringType()),
        T.StructField("itemid", T.StringType()),
        T.StructField("ts", T.LongType()),
    ]
)

# topic GMALL_ORDER (bean/OrderInfo.scala:3-23). The reference stores
# every field as string except total_amount: Double; we promote money
# to DECIMAL(18,2) at ingest and keep create_time as string (split into
# date/hour downstream, app/GmvApp.scala:33-34).
ORDER_INFO = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("province_id", T.StringType()),
        T.StructField("consignee", T.StringType()),
        T.StructField("order_comment", T.StringType()),
        T.StructField("consignee_tel", T.StringType()),
        T.StructField("order_status", T.StringType()),
        T.StructField("payment_way", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("img_url", T.StringType()),
        T.StructField("total_amount", MONEY),
        T.StructField("expire_time", T.StringType()),
        T.StructField("delivery_address", T.StringType()),
        T.StructField("create_time", T.StringType()),
        T.StructField("operate_time", T.StringType()),
        T.StructField("tracking_no", T.StringType()),
        T.StructField("parent_order_id", T.StringType()),
        T.StructField("out_trade_no", T.StringType()),
        T.StructField("trade_body", T.StringType()),
    ]
)

# topic TOPIC_ORDER_DETAIL (bean/OrderDetail.scala:3-9). order_price and
# sku_num are strings with numeric content in the reference; cast at
# ingest (bean/SaleDetail.scala:40 does `.toDouble` lazily).
ORDER_DETAIL = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("order_id", T.StringType()),
        T.StructField("sku_id", T.StringType()),
        T.StructField("sku_name", T.StringType()),
        T.StructField("order_price", MONEY),
        T.StructField("sku_num", T.IntegerType()),
        T.StructField("img_url", T.StringType()),
    ]
)

# topic TOPIC_USER_INFO (bean/UserInfo.scala:3-7)
USER_INFO = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("login_name", T.StringType()),
        T.StructField("user_level", T.StringType()),
        T.StructField("birthday", T.StringType()),  # yyyy-MM-dd
        T.StructField("gender", T.StringType()),  # M / F
    ]
)

# ---------------------------------------------------------------------------
# B. Driver fixture tables (/root/testdata/sf*/; TESTDATA.md).
# The exact read schemas of the parquet files: sources.fixtures.load_table
# passes them to ``spark.read.schema`` so no read launches a
# schema-inference job. The files store ``timestamp[us]`` with no
# timezone, which Spark reads as TIMESTAMP_NTZ; every field is nullable.
# tests/test_sources.py pins each one against Spark's inferred schema.
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),  # JSON {"k": int}
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

FIXTURE_TABLES = tuple(FIXTURE_SCHEMAS)
