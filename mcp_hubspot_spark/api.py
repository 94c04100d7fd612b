"""Tool façade: the reference's 9 MCP tools as typed functions over
DataFrames (reference ``server.py:178-236`` tool registry; dispatch at
``server.py:256-286``).

Each function is a thin composition of the operator library — the MCP
transport, HubSpot HTTP client, and retry machinery are environment, not
query semantics (SURVEY §7 non-goals), so the façade takes DataFrames (the
"CRM tables") and returns DataFrames. Embedding side-effects of the
reference's handlers (every response indexed into FAISS before returning,
``handlers/base_handler.py:39-76``) are explicit: pass a VectorStore and a
tool runs its answer once, embeds and appends the rows in the driver, and
returns the same rows as a local DataFrame (``Engine._indexed``).

The Engine caches each table built in the driver (no input files, not
already local), since a Python-list table runs Python workers on every scan.
File-backed tables stay uncached: their scan is JVM-native, and a cache would
pin a file snapshot. ``persist()`` marks the caller's own DataFrame cached.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from datetime import date
from typing import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import local_serve
from .functions.embedding import _hash_embed_one
from .functions.scalars import (
    classify_sender,
    coalesce_body,
    email_of_delivery,
    engagement_content,
    filter_email_recipients,
    iso_format,
    truncate_text,
)
from .measure import materialize
from .operators.aggregates import group_to_array
from .operators.joins import dedup_insert
from .operators.scans import filtered_scan, filtered_scan_with_total, recent_scan
from .vector_store import VectorStore

logger = logging.getLogger(__name__)

COMPANY_PROPERTIES = [  # reference clients/company_client.py:58-65
    "id", "name", "domain", "website", "phone", "industry", "hs_lastmodifieddate",
]
CONTACT_PROPERTIES = [  # reference clients/contact_client.py:58-66
    "id", "firstname", "lastname", "email", "phone", "company",
    "lastmodifieddate", "hs_lastmodifieddate",
]
TICKET_PROPERTIES = [  # reference clients/ticket_client.py:169-180
    "id", "subject", "content", "hs_pipeline", "hs_pipeline_stage",
    "hs_ticket_status", "status", "hs_ticket_priority",
    "createdate", "closedate", "hs_lastmodifieddate",
]


def _filled(df: DataFrame) -> bool:
    """Whether ``df`` is cached with every partition of its cache stored."""
    if not df.is_cached:
        return False
    cache_manager = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = cache_manager.lookupCachedData(df._jdf)
    return cached.isDefined() and (
        cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    )


@dataclass
class Engine:
    """Bundle of CRM tables + optional vector store, mirroring the
    reference's HubSpotClient + FaissManager pair (server.py:60-97).

    Construction fills, one Spark job each, the cache of every table that
    reads no files and is not already local or filled, caching it first
    unless the caller has; such a table's rows are fixed, so no answer
    changes. The caller's DataFrame is marked cached. File-backed tables
    stay as they are (JVM-native scan, no pinned file snapshot)."""

    tables: dict[str, DataFrame]
    store: VectorStore | None = None

    def __post_init__(self) -> None:
        # Filled here so the first tool call runs the plan of every later
        # one: an unfilled cache costs an extra AQE job and has no size a
        # join could broadcast on.
        for name, df in self.tables.items():
            if df.isStreaming or df.isLocal() or df.inputFiles() or _filled(df):
                continue
            materialize(df if df.is_cached else df.persist())
            logger.debug("Engine caches table %s", name)

    def _indexed(
        self,
        df: DataFrame,
        data_type: str,
        as_of: date | None = None,
        answer: dict[str, Column] | None = None,
    ) -> DataFrame:
        """The tool's answer: ``df`` with the ``answer`` columns replaced
        by name. With a store attached, the answer runs once: the JSON
        payloads of the rows of ``df`` itself are embedded and appended to
        the store in the driver (reference handlers/base_handler.py:39-76),
        and the rows come back as a local frame whose collect runs no job."""
        if self.store is None:
            return df.withColumns(answer) if answer else df
        # one star column, not one F.col per column: each F.col costs ~19
        # py4j round trips (call-site capture), the same JSON either way
        payload = F.to_json(F.struct(F.col("*")))
        run = df.select(
            "*",
            # content-derived id: stable across re-runs and collision-
            # free across batches (monotonically_increasing_id restarts
            # at 0 every job, poisoning the store's key)
            F.xxhash64(F.lit(data_type), payload).alias("__vec_id"),
            payload.alias("__data_json"),
        )
        table = (run.withColumns(answer) if answer else run).toArrow()
        texts = table.column("__data_json")
        self.store.add(pa.table({
            "vec_id": table.column("__vec_id"),
            # the function the embedding pandas UDF applies per row
            "embedding": [_hash_embed_one(t or "", 64) for t in texts.to_pylist()],
            "type": [data_type] * table.num_rows,
            "data_json": texts,
            "extras": [None] * table.num_rows,
        }), as_of=as_of)
        return local_serve.answer(
            df.sparkSession, table.drop_columns(["__vec_id", "__data_json"])
        )

    # ------------------------------------------------------------ tools

    def get_active_companies(self, limit: int = 10) -> DataFrame:
        """hubspot_get_active_companies (S1/O1,
        clients/company_client.py:31-65). Results are embedded + indexed
        as a side effect when a store is attached (reference
        handlers/base_handler.py:39-76)."""
        return self._indexed(
            recent_scan(
                self.tables["companies"],
                ts_col="hs_lastmodifieddate",
                limit=limit,
                tiebreaker="id",
                properties=COMPANY_PROPERTIES,
            ),
            "hubspot_company",
        )

    def get_active_contacts(self, limit: int = 10) -> DataFrame:
        """hubspot_get_active_contacts (S2/O1,
        clients/contact_client.py:31-66)."""
        return self._indexed(
            recent_scan(
                self.tables["contacts"],
                ts_col="hs_lastmodifieddate",
                limit=limit,
                tiebreaker="id",
                properties=CONTACT_PROPERTIES,
            ),
            "hubspot_contact",
        )

    def create_contact(self, new_contacts: DataFrame) -> tuple[DataFrame, DataFrame]:
        """hubspot_create_contact (S11 + J3 dedup check,
        clients/contact_client.py:68-150): dedup on
        (firstname, lastname, company) — insert survivors, report matches."""
        return dedup_insert(
            new_contacts,
            self.tables["contacts"],
            keys=["firstname", "lastname", "company"],
        )

    def create_company(self, new_companies: DataFrame) -> tuple[DataFrame, DataFrame]:
        """hubspot_create_company (S12 + J3,
        handlers/company_handler.py:68-131): dedup on company name."""
        return dedup_insert(new_companies, self.tables["companies"], keys=["name"])

    def get_company_activity(self, company_ids: Sequence[str] | None = None) -> DataFrame:
        """hubspot_get_company_activity (J1,
        clients/company_client.py:67-137): company → association edges →
        engagement details, shaped per engagement type (F8)."""
        assoc = self.tables["associations"].filter(
            (F.col("from_type") == "companies") & (F.col("to_type") == "engagements")
        )
        eng = self.tables["engagements"]
        companies = self.tables["companies"]
        if company_ids is not None:
            companies = companies.filter(F.col("id").isin(list(company_ids)))
        edges = companies.select(F.col("id").alias("company_id")).join(
            assoc, F.col("company_id") == assoc["from_id"]
        )
        joined = edges.join(eng, edges["to_object_id"] == eng["id"])
        return joined.select(
            F.col("company_id"),
            eng["id"].alias("engagement_id"),
            F.col("type"),
            iso_format("created_at").alias("created_at"),
            iso_format("last_updated").alias("last_updated"),
            F.col("created_by"),
            F.col("modified_by"),
            engagement_content(F.col("type"), F.col("metadata")).alias("content"),
        )

    def get_recent_conversations(
        self, limit: int = 10, truncate_chars: int | None = 200
    ) -> DataFrame:
        """hubspot_get_recent_conversations (S6/S7/J5/A3/P7/F3,
        clients/conversation_client.py:220-453): latest threads with
        nested time-ordered MESSAGE-type messages; message text clipped
        AFTER indexing (handlers/conversation_handler.py:63-67,104-121):
        the store keeps the FULL text, and the same execution clips the
        answer's ``text``/``rich_text``."""
        answer = None
        if truncate_chars is not None:
            answer = {
                "messages": F.transform(
                    "messages",
                    lambda m: m.withField(
                        "text", truncate_text(m["text"], truncate_chars)
                    ).withField(
                        "rich_text", truncate_text(m["rich_text"], truncate_chars)
                    ),
                )
            }
        return self._indexed(
            self._conversations_frame(limit), "hubspot_conversation", answer=answer
        )

    def _conversations_frame(self, limit: int) -> DataFrame:
        threads = self.tables["threads"]
        messages = self._shaped_messages()
        # reference sorts threads by -id (conversation_client.py:273); ids
        # are numeric strings — numeric order, non-numeric ids sort last
        top_threads = (
            threads.withColumn("_idn", F.expr("try_cast(id AS long)"))
            .orderBy(F.col("_idn").desc_nulls_last(), F.col("id").desc())
            .limit(limit)
            .drop("_idn")
        )
        nested = group_to_array(
            messages,
            group=["thread_id"],
            payload=[
                "message_id", "type", "created_at", "sender_name",
                "sender_email", "sender_type", "recipient_emails",
                "subject", "text", "rich_text",
            ],
            sort_key="created_at",
            alias="messages",
        )
        return (
            top_threads.join(nested, top_threads["id"] == nested["thread_id"], "left")
            .select(
                top_threads["id"],
                iso_format("createdAt").alias("created_at"),
                iso_format("latestMessageTimestamp").alias("latest_message_timestamp"),
                "status", "inboxId", "associatedContactId", "assignedTo",
                "spam", "archived", "messages",
            )
        )

    def _shaped_messages(self) -> DataFrame:
        """Message shaping shared by conversation tools
        (clients/conversation_client.py:388-453): keep type==MESSAGE (P7),
        classify sender (F5), conditional email extraction (F7/P8)."""
        m = self.tables["messages"].filter(F.col("type") == "MESSAGE")
        first_sender = F.try_element_at(F.col("senders"), F.lit(1))
        return m.select(
            F.col("id").alias("message_id"),
            "thread_id",
            "type",
            iso_format("createdAt").alias("created_at"),
            F.coalesce(first_sender.getField("name"), F.lit("")).alias("sender_name"),
            email_of_delivery(first_sender.getField("deliveryIdentifier")).alias(
                "sender_email"
            ),
            classify_sender("senders").alias("sender_type"),
            F.transform(
                filter_email_recipients("recipients"),
                lambda r: r.getField("deliveryIdentifier").getField("value"),
            ).alias("recipient_emails"),
            "subject",
            "text",
            "rich_text",
        )

    def get_recent_emails(
        self, limit: int = 10, detail_ids: Sequence[str] | None = None
    ) -> DataFrame:
        """hubspot_get_recent_emails (S4/P9/F4/S5,
        clients/conversation_client.py:35-146): unarchived emails, newest
        first; body = text-or-html coalesce (empty string skipped, F4).
        ``detail_ids`` replaces the reference's batched point-lookup loop
        (batches of 10, :111) with one IN-list semi-join; like that loop it
        returns EVERY requested id — ``limit`` only shapes the browse
        path."""
        emails = self.tables["emails"].filter(~F.col("archived"))
        if detail_ids is not None:
            ids = list(detail_ids)  # an iterator is consumed once
            emails = emails.filter(F.col("id").isin(ids))
            limit = max(limit, len(ids))
        return (
            emails.withColumn("_idn", F.expr("try_cast(id AS long)"))
            .orderBy(
                F.col("createdAt").desc(),
                F.col("_idn").desc_nulls_last(),
                F.col("id").desc(),
            )
            .limit(limit)
            .select(
                "id",
                "subject",
                coalesce_body("hs_email_text", "hs_email_html").alias("body"),
                F.col("hs_email_from").alias("from_addr"),
                F.col("hs_email_to").alias("to_addr"),
                F.col("hs_email_cc").alias("cc"),
                F.col("hs_email_bcc").alias("bcc"),
                iso_format("createdAt").alias("created_at"),
                iso_format("updatedAt").alias("updated_at"),
            )
        )

    def get_tickets(
        self,
        filter_groups: list[list] | None = None,
        limit: int = 50,
        with_total: bool = False,
    ) -> DataFrame:
        """hubspot_get_tickets (S3/P2-P6/O1,
        clients/ticket_client.py:33-181). ``with_total=True`` adds the A2
        companion: a constant ``total`` column carrying the pre-limit
        matching count, as the reference surfaces ``search_response.total``
        next to the page (ticket_client.py:213,232-234)."""
        scan = filtered_scan_with_total if with_total else filtered_scan
        return self._indexed(
            scan(
                self.tables["tickets"],
                filter_groups=filter_groups,
                sorts=[("hs_lastmodifieddate", "desc"), ("id", "desc")],
                limit=limit,
                properties=TICKET_PROPERTIES,
            ),
            "hubspot_ticket",
        )

    def get_ticket_conversation_threads(
        self, ticket_ids: Sequence[str] | None = None
    ) -> DataFrame:
        """hubspot_get_ticket_conversation_threads (J2/A1/A3/W2,
        clients/ticket_client.py:255-399): ticket → conversation edges →
        messages, nested per thread with ASC time order + counts."""
        assoc = self.tables["associations"].filter(
            (F.col("from_type") == "tickets") & (F.col("to_type") == "conversation")
        )
        tickets = self.tables["tickets"]
        if ticket_ids is not None:
            tickets = tickets.filter(F.col("id").isin(list(ticket_ids)))
        # LEFT join: a ticket with no conversation threads must still
        # appear with total_threads=0 / empty threads — the reference
        # returns an empty-threads response, not a missing ticket
        # (ticket_client.py:276-278).
        edges = tickets.select(F.col("id").alias("ticket_id")).join(
            assoc, F.col("ticket_id") == assoc["from_id"], "left"
        ).select("ticket_id", F.col("to_object_id").alias("thread_id"))
        messages = self._shaped_messages()
        per_thread = group_to_array(
            messages,
            group=["thread_id"],
            payload=[
                "message_id", "created_at", "sender_name", "sender_email",
                "sender_type", "text",
            ],
            sort_key="created_at",  # ASC within thread (ticket_client.py:390)
            alias="messages",
        )
        joined = edges.join(per_thread, "thread_id", "left")
        return (
            joined.groupBy("ticket_id")
            .agg(
                F.count(F.col("thread_id")).alias("total_threads"),
                F.sum(F.coalesce(F.size("messages"), F.lit(0))).alias("total_messages"),
                F.sort_array(
                    # when() nulls out the padding row of an unmatched
                    # ticket; collect_list drops null entries, leaving []
                    F.collect_list(
                        F.when(
                            F.col("thread_id").isNotNull(),
                            F.struct(
                                F.col("thread_id").alias("_sort"),
                                F.col("thread_id").alias("thread_id"),
                                F.col("messages").alias("messages"),
                            ),
                        )
                    )
                ).alias("_threads"),
            )
            .withColumn(
                "threads",
                F.transform(
                    F.col("_threads"),
                    lambda t: F.struct(
                        t.getField("thread_id").alias("thread_id"),
                        t.getField("messages").alias("messages"),
                    ),
                ),
            )
            .drop("_threads")
        )

    def search_data(
        self, query_vec: Sequence[float], k: int = 10,
        types: Sequence[str] | None = None, as_of: date | None = None,
    ) -> DataFrame:
        """hubspot_search_data (V4/V5, faiss_manager.py:254-296 +
        utils.py:100-108) over the date-partitioned vector store. A
        small store is searched in the driver and launches no Spark job
        (``VectorStore.search``)."""
        if self.store is None:
            raise ValueError("engine has no vector store attached")
        return self.store.search(query_vec, k=k, types=types, as_of=as_of)

    def guarded(self) -> "GuardedEngine":
        """Error-boundary view of this engine: tool calls return the
        reference's ``{"error": ...}`` JSON payload instead of raising
        (reference ``core/error_handler.py:13-32``)."""
        return GuardedEngine(self)


# ----------------------------------------------------------- error boundary


def handle_tool_errors(func):
    """Decorator mirroring the reference's API-boundary error contract
    (``core/error_handler.py:13-32``): instead of raising, a failing tool
    call logs the exception and returns ``json.dumps({"error": str(e)})``
    — the payload the reference's MCP server hands back to the client.
    Successful calls return their normal result unchanged.

    Spark nuance: DataFrames are lazy, so this boundary converts the
    errors that surface at CALL time — analysis errors (missing table or
    column, type mismatch), bad arguments, missing store — which is also
    when the reference's HTTP errors surface. A tool with a store attached
    executes its answer inside the call, so its execution errors come back
    as the ``{"error": ...}`` payload too. Otherwise an executor failure
    during a later ``.collect()`` happens outside any tool call, exactly
    like a network drop after the reference returned its payload."""
    import functools
    import json as _json

    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        try:
            return func(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — the boundary's contract
            logger.error("Exception in %s: %s", func.__name__, exc)
            return _json.dumps({"error": str(exc)})

    return wrapper


class GuardedEngine:
    """Error-boundary view of an :class:`Engine`: every public tool
    method is wrapped with :func:`handle_tool_errors`, so a failing call
    returns the reference's ``{"error": ...}`` JSON payload instead of
    raising (reference ``core/error_handler.py:13-32``, applied to every
    handler via ``handlers/base_handler.py``). Obtain one via
    ``Engine.guarded()``."""

    def __init__(self, engine: Engine):
        self._engine = engine

    def __getattr__(self, name: str):
        attr = getattr(self._engine, name)
        if callable(attr) and not name.startswith("_"):
            return handle_tool_errors(attr)
        return attr
