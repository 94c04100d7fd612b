"""Explicit StructType registry.

The reference is schema-on-read (every formatter defensively ``.get``s —
reference ``clients/conversation_client.py:163-173``); the Spark build
inverts that into explicit schemas with nullable fields standing in for the
``.get(key, default)`` pattern (SURVEY §1.3).

Part A: driver testdata tables (``/root/testdata/sf*/``).
Part B: CRM-shaped entities matching the reference's property surface
(reference ``clients/company_client.py:58-65``,
``clients/contact_client.py:58-66``, ``clients/ticket_client.py:169-180``,
``clients/conversation_client.py:368-453``) — used by the api façade and
behavioral-parity tests.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


# ---------------------------------------------------------------- Part A —
# driver-provided testdata tables (FIXTURES.md Part A; verified against the
# sf0.001 parquet footers).

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": _st(("r_regionkey", IntegerType(), True), ("r_name", StringType(), True)),
    "nation": _st(
        ("n_nationkey", IntegerType(), True),
        ("n_name", StringType(), True),
        ("n_regionkey", IntegerType(), True),
    ),
    "customer": _st(
        ("c_custkey", LongType(), True),
        ("c_name", StringType(), True),
        ("c_nationkey", IntegerType(), True),
        ("c_acctbal", DoubleType(), True),
        ("c_mktsegment", StringType(), True),
    ),
    "supplier": _st(
        ("s_suppkey", LongType(), True),
        ("s_name", StringType(), True),
        ("s_nationkey", IntegerType(), True),
        ("s_acctbal", DoubleType(), True),
    ),
    "part": _st(
        ("p_partkey", LongType(), True),
        ("p_name", StringType(), True),
        ("p_brand", StringType(), True),
        ("p_type", StringType(), True),
        ("p_size", IntegerType(), True),
        ("p_retailprice", DoubleType(), True),
    ),
    "orders": _st(
        ("o_orderkey", LongType(), True),
        ("o_custkey", LongType(), True),
        ("o_orderstatus", StringType(), True),
        ("o_totalprice", DoubleType(), True),
        ("o_orderdate", TimestampType(), True),
        ("o_orderpriority", StringType(), True),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType(), True),
        ("l_partkey", LongType(), True),
        ("l_suppkey", LongType(), True),
        ("l_linenumber", IntegerType(), True),
        ("l_quantity", DoubleType(), True),
        ("l_extendedprice", DoubleType(), True),
        ("l_discount", DoubleType(), True),
        ("l_tax", DoubleType(), True),
        ("l_returnflag", StringType(), True),
        ("l_linestatus", StringType(), True),
        ("l_shipdate", TimestampType(), True),
    ),
    "events": _st(
        ("event_id", LongType(), True),
        ("ts", TimestampType(), True),
        ("user_id", LongType(), True),
        ("event_type", StringType(), True),
        ("value", DoubleType(), True),
        ("props", StringType(), True),
    ),
    "documents": _st(
        ("doc_id", LongType(), True),
        ("text", StringType(), True),
        ("lang", StringType(), True),
        ("source", StringType(), True),
        ("n_chars", LongType(), True),
    ),
    "embeddings": _st(
        ("vec_id", LongType(), True),
        ("embedding", ArrayType(FloatType()), True),
        ("label", IntegerType(), True),
    ),
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)


# ---------------------------------------------------------------- Part B —
# CRM entities (the reference's data model, SURVEY §1.1 / FIXTURES.md B).

PARTICIPANT = StructType(
    [
        StructField("raw", StringType(), True),
        StructField("email", StringType(), True),
        StructField("firstName", StringType(), True),
        StructField("lastName", StringType(), True),
    ]
)

DELIVERY_IDENTIFIER = StructType(
    [
        StructField("type", StringType(), True),
        StructField("value", StringType(), True),
    ]
)

SENDER = StructType(
    [
        StructField("actorId", StringType(), True),
        StructField("name", StringType(), True),
        StructField("senderField", StringType(), True),
        StructField("deliveryIdentifier", DELIVERY_IDENTIFIER, True),
    ]
)

RECIPIENT = StructType(
    [
        StructField("recipientField", StringType(), True),
        StructField("deliveryIdentifier", DELIVERY_IDENTIFIER, True),
    ]
)

ENGAGEMENT_METADATA = StructType(
    [
        StructField("body", StringType(), True),
        StructField("subject", StringType(), True),
        StructField("from", PARTICIPANT, True),
        StructField("to", ArrayType(PARTICIPANT), True),
        StructField("cc", ArrayType(PARTICIPANT), True),
        StructField("bcc", ArrayType(PARTICIPANT), True),
        StructField("sender_email", StringType(), True),
        StructField("text", StringType(), True),
        StructField("html", StringType(), True),
        StructField("status", StringType(), True),
        StructField("forObjectType", StringType(), True),
        StructField("title", StringType(), True),
        StructField("startTime", TimestampType(), True),
        StructField("endTime", TimestampType(), True),
        StructField("internalMeetingNotes", StringType(), True),
        StructField("fromNumber", StringType(), True),
        StructField("toNumber", StringType(), True),
        StructField("durationMilliseconds", LongType(), True),
        StructField("disposition", StringType(), True),
    ]
)

CRM_SCHEMAS: dict[str, StructType] = {
    # reference clients/company_client.py:58-65
    "companies": _st(
        ("id", StringType(), False),
        ("name", StringType(), True),
        ("domain", StringType(), True),
        ("website", StringType(), True),
        ("phone", StringType(), True),
        ("industry", StringType(), True),
        ("hs_lastmodifieddate", TimestampType(), True),
        ("archived", BooleanType(), True),
    ),
    # reference clients/contact_client.py:58-66
    "contacts": _st(
        ("id", StringType(), False),
        ("firstname", StringType(), True),
        ("lastname", StringType(), True),
        ("email", StringType(), True),
        ("phone", StringType(), True),
        ("company", StringType(), True),
        ("lastmodifieddate", TimestampType(), True),
        ("hs_lastmodifieddate", TimestampType(), True),
        ("archived", BooleanType(), True),
    ),
    # reference clients/ticket_client.py:169-180
    "tickets": _st(
        ("id", StringType(), False),
        ("subject", StringType(), True),
        ("content", StringType(), True),
        ("hs_pipeline", StringType(), True),
        ("hs_pipeline_stage", StringType(), True),
        ("hs_ticket_status", StringType(), True),
        ("status", StringType(), True),
        ("hs_ticket_priority", StringType(), True),
        ("createdate", TimestampType(), True),
        ("closedate", TimestampType(), True),
        ("hs_lastmodifieddate", TimestampType(), True),
    ),
    # association edges — reference clients/company_client.py:84-113,
    # clients/ticket_client.py:296-338
    "associations": _st(
        ("from_type", StringType(), False),
        ("from_id", StringType(), False),
        ("to_type", StringType(), False),
        ("to_object_id", StringType(), False),
    ),
    # tagged-union engagements — reference clients/company_client.py:139-283
    "engagements": StructType(
        [
            StructField("id", StringType(), False),
            StructField("type", StringType(), True),
            StructField("created_at", TimestampType(), True),
            StructField("last_updated", TimestampType(), True),
            StructField("timestamp", TimestampType(), True),
            StructField("created_by", StringType(), True),
            StructField("modified_by", StringType(), True),
            StructField("metadata", ENGAGEMENT_METADATA, True),
        ]
    ),
    # reference clients/conversation_client.py:368-379
    "threads": _st(
        ("id", StringType(), False),
        ("createdAt", TimestampType(), True),
        ("latestMessageTimestamp", TimestampType(), True),
        ("status", StringType(), True),
        ("inboxId", StringType(), True),
        ("associatedContactId", StringType(), True),
        ("assignedTo", StringType(), True),
        ("spam", BooleanType(), True),
        ("archived", BooleanType(), True),
    ),
    # reference clients/conversation_client.py:388-453
    "messages": StructType(
        [
            StructField("id", StringType(), False),
            StructField("thread_id", StringType(), False),
            StructField("type", StringType(), True),
            StructField("createdAt", TimestampType(), True),
            StructField("updatedAt", TimestampType(), True),
            StructField("subject", StringType(), True),
            StructField("text", StringType(), True),
            StructField("rich_text", StringType(), True),
            StructField("direction", StringType(), True),
            StructField("channel_id", StringType(), True),
            StructField("channel_account_id", StringType(), True),
            StructField(
                "status",
                StructType([StructField("statusType", StringType(), True)]),
                True,
            ),
            StructField("senders", ArrayType(SENDER), True),
            StructField("recipients", ArrayType(RECIPIENT), True),
        ]
    ),
    # reference clients/conversation_client.py:136-146
    "emails": _st(
        ("id", StringType(), False),
        ("subject", StringType(), True),
        ("hs_email_text", StringType(), True),
        ("hs_email_html", StringType(), True),
        ("hs_email_from", StringType(), True),
        ("hs_email_to", StringType(), True),
        ("hs_email_cc", StringType(), True),
        ("hs_email_bcc", StringType(), True),
        ("createdAt", TimestampType(), True),
        ("updatedAt", TimestampType(), True),
        ("archived", BooleanType(), True),
    ),
    # engine-side vector store — reference faiss_manager.py:221-252 +
    # utils.py:54-64, date-partitioned like the daily FAISS indexes
    "vector_store": _st(
        ("date", DateType(), False),
        ("vec_id", LongType(), False),
        ("embedding", ArrayType(FloatType()), False),
        ("type", StringType(), True),
        ("data_json", StringType(), True),
        ("extras", MapType(StringType(), StringType()), True),
    ),
    # multimodal: opaque payload + typed metadata (north-star extension)
    "media": _st(
        ("media_id", LongType(), False),
        ("kind", StringType(), False),  # image | audio | video
        ("payload", BinaryType(), True),
        ("mime", StringType(), True),
        ("width", IntegerType(), True),
        ("height", IntegerType(), True),
        ("duration_ms", LongType(), True),
    ),
}
