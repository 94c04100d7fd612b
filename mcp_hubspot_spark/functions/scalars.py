"""Scalar function layer (SURVEY §2.8 F1-F16).

The reference applies these row-at-a-time in Python formatters
(``core/formatters.py``, ``clients/*``); here each is a Column expression
that stays inside whole-stage codegen.
"""

from __future__ import annotations

import math
import weakref

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def const_double_array(values, depth: int = 1) -> Column:
    """A constant ``array<...<double>>`` literal built from SQL TEXT, not
    ``F.lit``. Measured r13: ``F.lit`` converts lists at ~0.4-0.5 ms per
    ELEMENT (flat or nested — the scalar fast path does not extend to
    list inputs), so a 1024-element table costs ~0.5 s of driver time per
    query build, while parsing the equivalent ``array(...)`` SQL text
    costs single-digit milliseconds. Values are rendered with ``repr``,
    whose shortest-round-trip guarantee means Spark's double parser
    recovers the bit-identical IEEE value, so the literal is
    value-identical to the ``F.lit`` form. ``depth`` is the nesting level
    (1 = array<double>, 2 = array<array<double>>, ...). Non-finite values
    are rejected — these are data-derived tables (hashes, centroids,
    rotation rows), finite by construction."""
    return F.expr(_render_double_array(values, depth))


def _empty_array_sql(element_sql_type: str, depth: int = 1) -> str:
    """A TYPED empty-array literal. A bare ``array()`` is typed
    ``array<void>`` and fails with a type error deep inside any fold it
    feeds (r13 advice); the replaced ``F.lit([...]).cast(...)`` forms
    handled degenerate inputs (num_perm=0, empty centroid tables) at the
    boundary, so keep that contract."""
    t = element_sql_type
    for _ in range(depth):
        t = f"array<{t}>"
    return f"cast(array() as {t})"


def _render_double_array(values, depth: int) -> str:
    if depth == 1:
        parts = []
        for x in values:
            x = float(x)
            if not math.isfinite(x):
                raise ValueError(f"non-finite constant {x!r}")
            parts.append(f"{x!r}D")
        if not parts:
            return _empty_array_sql("double")
        return "array(" + ", ".join(parts) + ")"
    inner = ", ".join(_render_double_array(v, depth - 1) for v in values)
    if not inner:
        return _empty_array_sql("double", depth)
    return "array(" + inner + ")"


def const_long_array(values) -> Column:
    """``array<bigint>`` literal via SQL text — same rationale (and the
    same exactness, trivially: integer literals) as
    :func:`const_double_array`."""
    parts = ", ".join(f"{int(x)}L" for x in values)
    if not parts:
        return F.expr(_empty_array_sql("bigint"))
    return F.expr("array(" + parts + ")")


# (builder name, rendered input expression text, *params) -> built Column.
# Scoped to ONE SparkSession (cleared on session change — a cached Column
# holds py4j refs that die with the JVM-side session) and FIFO-capped so a
# long-lived driver with many distinct inputs cannot grow it without bound
# (r13 advice / verdict what's-wrong #5).
_EXPR_MEMO: dict[tuple, Column] = {}
_EXPR_MEMO_CAP = 512
_MEMO_SESSION: "weakref.ref[SparkSession] | None" = None


def memo_expr(key: tuple, build) -> Column:
    """Memoized Column construction for expensive expression builders
    (minhash/simhash/sign_pack/ngram chains cost 60-220 ms of py4j
    round-trips per call — r13 cProfile — and recur with identical
    inputs across queries and bench reps). Columns are immutable
    unresolved expression wrappers, so a shared object resolves per-plan
    exactly like a shared ``F.col`` — metadata only, never data (the
    schema/fan_out memo precedent). ``key`` must capture EVERY input
    that changes the built expression: the rendered input expression
    text (equal text == equal unresolved tree) plus all parameters.

    INVARIANT: only UNRESOLVED expressions (``F.col`` trees, literals)
    may be memoized. A plan-bound Column (``df["x"]``) renders the same
    text as ``F.col("x")`` but resolves against one specific DataFrame —
    memoizing it would hand that binding to unrelated plans. Callers
    that accept arbitrary Columns must bypass the memo for Column inputs
    (see minhash_signature/simhash/sign_pack) or guarantee the input is
    an internally-built unresolved tree (positional_ngrams)."""
    global _MEMO_SESSION
    sess = SparkSession.getActiveSession()
    cur = _MEMO_SESSION() if _MEMO_SESSION is not None else None
    if sess is not cur:
        # different or restarted session: cached Columns wrap py4j objects
        # from the previous JVM-side session — drop them all
        _EXPR_MEMO.clear()
        _MEMO_SESSION = weakref.ref(sess) if sess is not None else None
    got = _EXPR_MEMO.get(key)
    if got is None:
        got = build()
        if len(_EXPR_MEMO) >= _EXPR_MEMO_CAP:
            _EXPR_MEMO.pop(next(iter(_EXPR_MEMO)))
        _EXPR_MEMO[key] = got
    return got

# F1 — recursive datetime → ISO-8601 string. Schema is explicit here, so
# "recursive tree walk" degenerates to per-timestamp-column formatting
# (reference core/formatters.py:8-27).
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss"


def iso_format(c: Column | str, fmt: str = ISO_FMT) -> Column:
    return F.date_format(c, fmt)


def truncate_text(c: Column | str, n: int = 200) -> Column:
    """F3 — 200-char response clipping (reference
    handlers/conversation_handler.py:104-121; applied AFTER indexing)."""
    return F.substring(F.col(c) if isinstance(c, str) else c, 1, n)


def coalesce_body(text: Column | str, html: Column | str) -> Column:
    """F4 — ``text or html``: Python ``or`` also skips EMPTY strings, so the
    faithful translation is NULLIF-then-COALESCE (reference
    clients/company_client.py:215, conversation_client.py:172)."""
    t = F.col(text) if isinstance(text, str) else text
    h = F.col(html) if isinstance(html, str) else html
    return F.coalesce(F.nullif(t, F.lit("")), h)


def classify_sender(senders: Column | str) -> Column:
    """F5/F6 — AGENT iff first sender has senderField == "FROM" and actorId
    starting "0-1"/"0-2"; CUSTOMER otherwise; UNKNOWN when no senders
    (reference clients/ticket_client.py:441-458)."""
    s = F.col(senders) if isinstance(senders, str) else senders
    # try_element_at: null (not error) on empty arrays — ANSI-safe F6
    first = F.try_element_at(s, F.lit(1))
    is_agent = (first.getField("senderField") == "FROM") & F.substring(
        first.getField("actorId"), 1, 3
    ).isin("0-1", "0-2")
    return (
        F.when(F.size(s) <= 0, F.lit("UNKNOWN"))
        .when(is_agent, F.lit("AGENT"))
        .otherwise(F.lit("CUSTOMER"))
    )


def email_of_delivery(di: Column) -> Column:
    """F7 — extract email only when deliveryIdentifier.type ==
    "HS_EMAIL_ADDRESS" (reference conversation_client.py:430-434)."""
    return F.coalesce(
        F.when(
            di.getField("type") == "HS_EMAIL_ADDRESS", di.getField("value")
        ).otherwise(F.lit("")),
        F.lit(""),
    )


def filter_email_recipients(recipients: Column | str) -> Column:
    """P8 — keep recipients whose deliveryIdentifier.type is
    HS_EMAIL_ADDRESS (reference conversation_client.py:446-453), as a
    higher-order array filter (no explode/regroup shuffle)."""
    r = F.col(recipients) if isinstance(recipients, str) else recipients
    return F.filter(
        r, lambda x: x.getField("deliveryIdentifier").getField("type")
        == "HS_EMAIL_ADDRESS"
    )


def engagement_content(etype: Column, md: Column) -> Column:
    """F8 — tagged-union projection of engagement content per type
    (reference clients/company_client.py:171-283). A CASE over struct
    builders keeps one fixed output schema with per-branch nulls."""
    email_struct = F.struct(
        md.getField("subject").alias("subject"),
        coalesce_body(md.getField("text"), md.getField("html")).alias("body"),
        md.getField("from").alias("from"),
        md.getField("to").alias("to"),
    )
    task_struct = F.struct(
        md.getField("subject").alias("subject"),
        md.getField("body").alias("body"),
        md.getField("status").alias("status"),
        md.getField("forObjectType").alias("for_object_type"),
    )
    meeting_struct = F.struct(
        md.getField("title").alias("title"),
        md.getField("body").alias("body"),
        iso_format(md.getField("startTime")).alias("start_time"),
        iso_format(md.getField("endTime")).alias("end_time"),
        md.getField("internalMeetingNotes").alias("notes"),
    )
    call_struct = F.struct(
        md.getField("body").alias("body"),
        md.getField("fromNumber").alias("from_number"),
        md.getField("toNumber").alias("to_number"),
        md.getField("durationMilliseconds").alias("duration_ms"),
        md.getField("disposition").alias("disposition"),
        md.getField("status").alias("status"),
    )
    return F.struct(
        F.when(etype == "NOTE", md.getField("body")).alias("note_body"),
        F.when(etype == "EMAIL", email_struct).alias("email"),
        F.when(etype == "TASK", task_struct).alias("task"),
        F.when(etype == "MEETING", meeting_struct).alias("meeting"),
        F.when(etype == "CALL", call_struct).alias("call"),
    )


def similarity_from_distance(distance: Column | str) -> Column:
    """F14 — similarity = 1 - d/2 (reference utils.py:105; valid for
    L2-squared on unit-norm vectors)."""
    d = F.col(distance) if isinstance(distance, str) else distance
    return F.lit(1.0) - d / F.lit(2.0)
