"""Behavioral-parity tests pinning reference semantics (SURVEY §5 item 3)
through the 9-tool façade."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_hubspot_spark.api import Engine
from tests.crm_fixtures import build_crm_tables


@pytest.fixture(scope="module")
def engine(spark) -> Engine:
    return Engine(tables=build_crm_tables(spark))


def test_get_active_companies_topk_and_tiebreak(engine):
    rows = engine.get_active_companies(limit=3).collect()
    # c3 (d+2) first; c2/c5 tie on d+1 broken by id DESC → c5 before c2
    assert [r.id for r in rows] == ["c3", "c5", "c2"]
    assert rows[0].name == "Initech"


def test_get_active_contacts_projection(engine):
    df = engine.get_active_contacts(limit=2)
    assert df.columns == [
        "id", "firstname", "lastname", "email", "phone", "company",
        "lastmodifieddate", "hs_lastmodifieddate",
    ]
    assert [r.id for r in df.collect()] == ["p3", "p2"]


def test_create_contact_dedup_three_key(engine, spark):
    """Reference dedup keys: firstname+lastname+company
    (clients/contact_client.py:116-137) — same name at a DIFFERENT company
    inserts; same name+company reports the duplicate."""
    new = spark.createDataFrame(
        [
            ("n1", "Ada", "Lovelace", "Acme"),    # dup of p1
            ("n2", "Ada", "Lovelace", "Initech"),  # new company → insert
            ("n3", "Grace", "Hopper", "Acme"),     # new person → insert
        ],
        "id string, firstname string, lastname string, company string",
    )
    to_insert, dups = engine.create_contact(new)
    assert sorted(r.id for r in to_insert.collect()) == ["n2", "n3"]
    assert [r.id for r in dups.collect()] == ["n1"]


def test_create_company_dedup_by_name(engine, spark):
    new = spark.createDataFrame(
        [("x1", "Acme"), ("x2", "Umbrella")], "id string, name string"
    )
    to_insert, dups = engine.create_company(new)
    assert [r.id for r in to_insert.collect()] == ["x2"]
    assert [r.id for r in dups.collect()] == ["x1"]


def test_company_activity_tagged_union(engine):
    rows = {r.engagement_id: r for r in engine.get_company_activity(["c1"]).collect()}
    assert set(rows) == {"e1", "e2"}  # c1's edges only
    note, email = rows["e1"], rows["e2"]
    assert note.type == "NOTE" and note.content.note_body == "called them"
    assert note.content.email is None
    # F4: empty text coalesces to html
    assert email.content.email.body == "<b>hi</b>"
    assert email.content.email.subject == "hello"
    assert email.content.note_body is None


def test_company_activity_unknown_type_empty_content(engine, spark):
    eng = Engine(tables={**engine.tables})
    rows = eng.get_company_activity(["c2"]).collect()
    assert [r.engagement_id for r in rows] == ["e3"]
    assert rows[0].content.call.duration_ms == 60000


def test_recent_conversations_nested_order_and_filter(engine):
    rows = {r.id: r for r in engine.get_recent_conversations(limit=10).collect()}
    th1 = rows["101"]
    msgs = th1.messages
    # P7: SYSTEM row m3 dropped; W2: ASC by created_at → m1 before m2
    assert [m.message_id for m in msgs] == ["m1", "m2"]
    # F5: visitor actor → CUSTOMER, 0-1 prefix → AGENT
    assert msgs[0].sender_type == "CUSTOMER"
    assert msgs[1].sender_type == "AGENT"
    # P8/F7: phone recipient filtered out, email kept
    assert list(msgs[1].recipient_emails) == ["cust@ex.com"]
    # F3: 300-char text clipped to 200
    assert len(msgs[1].text) == 200
    # thread ordering: ids sorted numerically DESC → th10 is first
    ordered = engine.get_recent_conversations(limit=2).collect()
    assert [r.id for r in ordered] == ["1003", "102"]


def test_unknown_sender_classification(engine):
    rows = {r.id: r for r in engine.get_recent_conversations(limit=10).collect()}
    assert rows["95"].messages[0].sender_type == "UNKNOWN"
    # 0-9 prefix is not an agent prefix → CUSTOMER
    assert rows["1003"].messages[0].sender_type == "CUSTOMER"


def test_get_tickets_or_groups(engine):
    """OR across groups, AND within (ticket_client.py:115-116)."""
    groups = [
        [{"propertyName": "hs_pipeline_stage", "operator": "EQ", "value": "4"}],
        [{"propertyName": "hs_ticket_status", "operator": "EQ", "value": "closed"}],
    ]
    rows = engine.get_tickets(filter_groups=groups)
    assert sorted(r.id for r in rows.collect()) == ["t1", "t2"]


def test_get_tickets_with_total(engine):
    """A2: the limited page carries the PRE-limit matching total, as the
    reference surfaces search_response.total next to the page
    (ticket_client.py:213,232-234)."""
    groups = [
        [{"propertyName": "hs_pipeline_stage", "operator": "EQ", "value": "4"}],
        [{"propertyName": "hs_ticket_status", "operator": "EQ", "value": "closed"}],
    ]
    rows = engine.get_tickets(filter_groups=groups, limit=1, with_total=True).collect()
    assert len(rows) == 1  # page is limited...
    assert rows[0].total == 2  # ...but total counts every match
    # unfiltered: total == table size regardless of page size
    all_rows = engine.get_tickets(limit=2, with_total=True).collect()
    assert len(all_rows) == 2
    assert all(r.total == 3 for r in all_rows)


def test_ticket_conversation_threads_counts(engine):
    rows = {r.ticket_id: r for r in
            engine.get_ticket_conversation_threads(["t1", "t2"]).collect()}
    assert rows["t1"].total_threads == 2
    assert rows["t1"].total_messages == 3  # th1: m1,m2 (not m3) + th2: m4
    assert rows["t2"].total_threads == 1
    assert rows["t2"].total_messages == 1
    t1_threads = {t.thread_id: t for t in rows["t1"].threads}
    assert [m.message_id for m in t1_threads["101"].messages] == ["m1", "m2"]


def test_ticket_threads_empty_edges(engine):
    """A ticket with no conversation edges still yields a row with
    zeroed counts and an empty threads array — the reference returns
    _create_empty_ticket_threads_response, not a missing ticket
    (ticket_client.py:276-278)."""
    rows = engine.get_ticket_conversation_threads(["t3"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.ticket_id == "t3"
    assert r.total_threads == 0
    assert r.total_messages == 0
    assert list(r.threads) == []


def test_recent_emails_archived_filter_and_coalesce(engine):
    rows = engine.get_recent_emails(limit=10).collect()
    # P9: archived 503 excluded; newest createdAt first
    assert [r.id for r in rows] == ["502", "501", "500"]
    by_id = {r.id: r for r in rows}
    # F4: empty text → html; non-empty text wins; null text → html
    assert by_id["501"].body == "<p>welcome!</p>"
    assert by_id["502"].body == "plain body"
    assert by_id["500"].body == "<p>html only</p>"


def test_recent_emails_detail_id_lookup(engine):
    rows = engine.get_recent_emails(limit=10, detail_ids=["500", "502"]).collect()
    assert [r.id for r in rows] == ["502", "500"]


def test_recent_emails_detail_ids_iterator_returns_every_id(engine, spark):
    """``detail_ids`` may be any iterable, an iterator included: all 12
    requested ids come back although ``limit`` is 10."""
    from datetime import datetime, timedelta

    from mcp_hubspot_spark.schemas import CRM_SCHEMAS

    t0 = datetime(2024, 1, 1)
    emails = spark.createDataFrame(
        [
            (str(600 + i), "s", "body", None, "a@x.com", "b@y.com", None, None,
             t0 + timedelta(hours=i), t0 + timedelta(hours=i), False)
            for i in range(14)
        ],
        CRM_SCHEMAS["emails"],
    )
    many = Engine(tables={**engine.tables, "emails": emails})
    ids = [str(600 + i) for i in range(12)]
    rows = many.get_recent_emails(limit=10, detail_ids=iter(ids)).collect()
    assert [r.id for r in rows] == ids[::-1]


def test_staging_cache_roundtrip(engine, spark, tmp_path):
    from mcp_hubspot_spark.sources.staging import invalidate, read_or_build

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return engine.tables["companies"].select("id", "name")

    path = str(tmp_path / "stage")
    a = read_or_build(spark, path, build)
    assert calls["n"] == 1 and a.count() == 5
    b = read_or_build(spark, path, build)
    assert calls["n"] == 1  # served from cache (reference storage.py:25-58)
    c = read_or_build(spark, path, build, refresh=True)
    assert calls["n"] == 2  # refresh_cache=True forces rebuild
    assert invalidate(path) and not invalidate(path)


def test_error_boundary_returns_error_payload(engine, spark):
    """Reference error contract (core/error_handler.py:13-32): a failing
    tool call through the guarded façade returns json({"error": ...})
    instead of raising; a healthy call passes its result through."""
    import json

    # healthy: guarded result identical to the direct one
    g = engine.guarded()
    direct = engine.get_active_companies(limit=3).collect()
    via = g.get_active_companies(limit=3)
    assert not isinstance(via, str)
    assert via.collect() == direct

    # broken engine: companies table missing the sort column -> the
    # AnalysisException becomes the reference's error payload
    from mcp_hubspot_spark.api import Engine

    broken = Engine(
        tables={
            **engine.tables,
            "companies": engine.tables["companies"].drop(
                "hs_lastmodifieddate"
            ),
        }
    ).guarded()
    out = broken.get_active_companies(limit=3)
    assert isinstance(out, str)
    payload = json.loads(out)
    assert set(payload) == {"error"} and payload["error"]

    # no-store search_data: the ValueError is also boundary-wrapped
    out2 = engine.guarded().search_data([0.0] * 4, k=1)
    assert isinstance(out2, str) and "error" in json.loads(out2)


# ------------------------------------------------------- cached tables


def _leaf_nodes(df) -> list[str]:
    """Leaf operators of ``df``'s executed plan, through adaptive plans and
    query stages but not into the plan a cache was built from."""
    leaves, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            kids = node.children()
            if kids.isEmpty():
                leaves.append(node.nodeName())
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return leaves


def test_engine_caches_driver_built_tables(spark, caplog):
    """Tables built from Python rows are cached at construction, with one
    DEBUG record each, so a tool call reads the cache instead of running
    Python workers over the rows again."""
    import logging

    tables = build_crm_tables(spark)
    caplog.set_level(logging.DEBUG, logger="mcp_hubspot_spark")
    engine = Engine(tables)
    assert [(r.levelname, r.getMessage()) for r in caplog.records] == [
        ("DEBUG", f"Engine caches table {name}") for name in tables
    ]
    assert all(df.is_cached for df in tables.values())
    engine.get_tickets().collect()
    second = engine.get_tickets()
    assert [r.id for r in second.collect()] == ["t3", "t1", "t2"]
    leaves = _leaf_nodes(second)
    assert "InMemoryTableScan" in leaves
    assert not [n for n in leaves if n.startswith("Scan ExistingRDD")]


@pytest.fixture(scope="module")
def parquet_tables(spark, tmp_path_factory) -> dict:
    root = tmp_path_factory.mktemp("crm_parquet")
    tables = build_crm_tables(spark)
    for name, df in tables.items():
        df.write.parquet(str(root / name))
    return {name: spark.read.parquet(str(root / name)) for name in tables}


def test_engine_leaves_file_backed_tables_uncached(spark, parquet_tables, caplog):
    import logging

    tables = build_crm_tables(spark)
    caplog.set_level(logging.DEBUG, logger="mcp_hubspot_spark")
    engine = Engine({**tables, "tickets": parquet_tables["tickets"]})
    assert not engine.tables["tickets"].is_cached
    assert [name for name, df in engine.tables.items() if df.is_cached] == [
        name for name in tables if name != "tickets"
    ]
    assert [r.getMessage() for r in caplog.records] == [
        f"Engine caches table {name}" for name in tables if name != "tickets"
    ]
    assert "InMemoryTableScan" not in _leaf_nodes(engine.get_tickets())


def test_engine_fills_tables_the_caller_cached(spark):
    """A table the caller cached but never filled is filled at
    construction too, so a tool's first call runs the jobs of its later
    ones (an unfilled cache adds an AQE job and cannot be broadcast)."""
    tables = build_crm_tables(spark)
    for df in tables.values():
        df.cache()
    engine = Engine(tables)
    sc = spark.sparkContext
    jobs = []
    for call in range(2):
        group = f"cached-conversations-{call}"
        sc.setJobGroup(group, group)
        try:
            engine.get_recent_conversations().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1], jobs


def test_all_tools_agree_over_file_backed_tables(engine, spark, parquet_tables, tmp_path):
    """All 10 tools answer the same over parquet copies of the tables
    (uncached) as over the Python-list tables (cached); the tools that
    index their answer store the same payloads, so search_data agrees."""
    from mcp_hubspot_spark.vector_store import VectorStore

    new_contacts = spark.createDataFrame(
        [("n1", "Ada", "Lovelace", "Acme"), ("n3", "Grace", "Hopper", "Acme")],
        "id string, firstname string, lastname string, company string",
    )
    new_companies = spark.createDataFrame(
        [("x1", "Acme"), ("x2", "Umbrella")], "id string, name string"
    )
    calls = {
        "get_active_companies": lambda e: [e.get_active_companies(limit=3)],
        "get_active_contacts": lambda e: [e.get_active_contacts(limit=2)],
        "create_contact": lambda e: list(e.create_contact(new_contacts)),
        "create_company": lambda e: list(e.create_company(new_companies)),
        "get_company_activity": lambda e: [e.get_company_activity()],
        "get_recent_conversations": lambda e: [e.get_recent_conversations()],
        "get_recent_emails": lambda e: [e.get_recent_emails()],
        "get_tickets": lambda e: [e.get_tickets(with_total=True)],
        "get_ticket_conversation_threads": lambda e: [
            e.get_ticket_conversation_threads()
        ],
        "search_data": lambda e: [e.search_data([0.1] * 64, k=50)],
    }
    answers = []
    for name, tables in (("list", engine.tables), ("parquet", parquet_tables)):
        e = Engine(tables, VectorStore(spark, str(tmp_path / name)))
        answers.append({
            tool: [sorted(map(repr, df.collect())) for df in call(e)]
            for tool, call in calls.items()
        })
    assert not any(df.is_cached for df in parquet_tables.values())
    for tool in calls:
        assert answers[0][tool] == answers[1][tool], tool
    indexed = ["get_active_companies", "get_active_contacts",
               "get_recent_conversations", "get_tickets"]
    stored = sum(len(answers[0][tool][0]) for tool in indexed)
    assert 0 < len(answers[0]["search_data"][0]) == stored < 50


def test_indexed_payload_matches_explicit_columns(engine, spark, tmp_path, monkeypatch):
    """Every indexed tool stores ``vec_id`` and ``data_json`` byte-identical
    to the explicit one-``F.col``-per-column struct, so store keys written
    by either form agree."""
    from mcp_hubspot_spark.vector_store import VectorStore

    seen = []
    indexed = Engine._indexed

    def spy(self, df, data_type, *args, **kwargs):
        seen.append((df, data_type))
        return indexed(self, df, data_type, *args, **kwargs)

    monkeypatch.setattr(Engine, "_indexed", spy)
    e = Engine(engine.tables, VectorStore(spark, str(tmp_path / "store")))
    e.get_active_companies(limit=3)
    e.get_active_contacts(limit=2)
    e.get_recent_conversations()
    e.get_tickets()
    e.get_tickets(with_total=True)
    assert {t for _, t in seen} == {
        "hubspot_company", "hubspot_contact", "hubspot_conversation", "hubspot_ticket"
    }
    expected = []
    for df, data_type in seen:
        payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        expected += df.select(F.xxhash64(F.lit(data_type), payload), payload).collect()
    stored = e.store.load().select("vec_id", "data_json").collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, expected))
