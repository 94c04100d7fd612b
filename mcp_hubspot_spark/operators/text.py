"""Text-analysis operators over a documents table (north-star extension:
training-data pipeline ops; graded alongside SURVEY §2).

All pure Column expressions — tokenization, quality scoring, language ID
and fingerprinting stay JVM-side (no Python UDFs), so at 100 TB these are
a single embarrassingly-parallel scan with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalars import memo_expr
from .topk import grouped_top_k

_WS = r"\s+"

# tiny per-language stopword marker lists for the heuristic language ID.
# Deterministic and SQL-expressible (the DuckDB oracle uses the same lists).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "es": ("el", "la", "que", "los", "es"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}


def tokens(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.split(F.trim(col), _WS)


def token_count(c: Column | str) -> Column:
    """Whitespace token count (training-data token budget estimator)."""
    return F.size(tokens(c))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token count, mean word
    length, punctuation ratio, stopword ratio, uppercase ratio. All are
    classic pre-training quality filters (C4/Gopher-style rules)."""
    t = F.col(text_col)
    # tokenize ONCE into a staged column — the token array feeds three
    # downstream expressions, and nested re-tokenization is the measured
    # trap (see repetition_features)
    staged = df.select(*df.columns, tokens(t).alias("_toks"))
    toks = F.col("_toks")
    n_tok = F.size(toks)
    stop = F.lit(list(LANG_MARKERS["en"]))
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, F.lower(x))))
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[\p{Punct}]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    return staged.select(
        *df.columns,
        n_chars.alias("q_chars"),
        n_tok.alias("q_tokens"),
        F.round(n_chars.cast("double") / n_tok, 4).alias("q_mean_tok_len"),
        F.round(n_punct.cast("double") / n_chars, 4).alias("q_punct_ratio"),
        F.round(n_stop.cast("double") / n_tok, 4).alias("q_stopword_ratio"),
        F.round(n_upper.cast("double") / n_chars, 4).alias("q_upper_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text",
                alias: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: argmax over languages of marker-token hits.
    Ties break by language code ascending (deterministic)."""
    # tokenize ONCE: each of the 5 language scores filters the SAME token
    # array; inlining the tokenizer would re-split the text per language
    staged = df.select(
        *df.columns, tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")

    def _marker_hits(markers: tuple[str, ...]) -> Column:
        arr = F.lit(list(markers))
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    scores = [
        _marker_hits(markers).alias(f"_score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = staged.select(*df.columns, *scores)
    # argmax via greatest + case chain, ties to alphabetically-first lang
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"_score_{lang}") for lang in langs])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in langs:
        pred = pred.when(F.col(f"_score_{lang}") == best, F.lit(lang))
    out = scored.withColumn(alias, pred)
    return out.drop(*[f"_score_{lang}" for lang in langs])


def fingerprint(df: DataFrame, text_col: str = "text",
                alias: str = "fingerprint") -> DataFrame:
    """Content fingerprint: md5 over the sorted distinct token set —
    order/duplication-insensitive document identity (rolling-hash family)."""
    toks = F.array_sort(F.array_distinct(tokens(F.lower(F.col(text_col)))))
    return df.withColumn(alias, F.md5(F.array_join(toks, " ")))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms.

    Classic text-pipeline shape the reference's embedding stage implies
    (faiss_manager.py indexes raw text; a keyword view of the same corpus):
    explode -> (doc, term) count -> term document-frequency -> score -> per-doc
    top-k. Scale notes: the doc-frequency table is vocabulary-sized (small),
    so it is broadcast to the tf table; the corpus-size scalar rides the same
    broadcast (cross join of a 1-row agg). The only full shuffle is the
    (doc, term) groupBy, which partial-aggregates map-side. Per-doc top-k is
    a window over the doc_id partitioning already produced by the tf shuffle
    when keys align; ties break on term ascending for determinism.
    """
    from pyspark.sql import Window

    toks = df.select(id_col, F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    # No localCheckpoint on tf (measured neutral): AQE's ReuseExchange
    # already shares the (doc, term) shuffle with the dfreq broadcast.
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = df.agg(F.count("*").alias("n_docs"))
    score = (F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))))
    w = Window.partitionBy(id_col).orderBy(F.desc("_tfidf_raw"), F.asc("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("_tfidf_raw", score)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df",
                F.round(F.col("_tfidf_raw"), 4).alias("tfidf"), "rnk")
    )


def positional_ngrams(toks: Column, n: int) -> Column:
    """Positional n-gram list via shifted-array zip_with — ONLY valid when
    ``size(toks) >= n`` (callers guard the short-doc case).

    The naive per-position ``transform(sequence(...), i ->
    array_join(slice(toks, i+1, n)))`` allocates an n-element array AND a
    joined string per position — measured 6.6 s for trigram shingles over
    200k docs, 80% of the whole MinHash signature cost. Zipping n shifted
    views of the token array builds the same grams in linear passes with
    no per-position slice: 1.2-1.4 s for the same input (5×). Entries past
    position size-n+1 (where a shifted view runs out) are nulled by the
    last zip and cut by the final slice, so the output is exactly the
    full-gram list at positions 1..size-n+1, in order, with multiplicity.

    Construction is MEMOIZED via ``memo_expr`` (one memo, one policy:
    session-scoped, FIFO-capped) on (rendered input expression, n):
    building the n-1 zip_with chain costs 64-137 ms of py4j round-trips
    per call, and the same (tokens(col), n) pair recurs
    across many queries and bench reps. Equal rendered text == equal
    unresolved tree, so a memo hit is the identical expression — VALID
    because every caller passes an internally-built unresolved tree
    (``tokens(...)`` chains over ``F.col``), never a plan-bound Column;
    see the memo_expr invariant.
    """
    if n == 1:
        return toks
    return memo_expr(
        ("positional_ngrams", str(toks), n),
        lambda: _build_positional_ngrams(toks, n),
    )


def _build_positional_ngrams(toks: Column, n: int) -> Column:
    sz = F.size(toks)
    out = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(sz - k, F.lit(0)))
        if k < n - 1:
            out = F.zip_with(out, shifted, lambda a, b: F.concat_ws(" ", a, b))
        else:
            # last zip: null out the ragged tail instead of concat_ws's
            # null-skipping (which would fabricate short grams)
            out = F.zip_with(
                out,
                shifted,
                lambda a, b: F.when(b.isNull(), None).otherwise(
                    F.concat_ws(" ", a, b)
                ),
            )
    return F.slice(out, 1, F.greatest(sz - (n - 1), F.lit(1)))


def ngram_list(toks: Column, n: int) -> Column:
    """Positional n-grams WITH multiplicity (unlike the shingle sets used
    by MinHash) — the repetition signals need duplicate counts. Empty
    array for docs shorter than n (a bare ``sequence(0, size-n)`` would
    silently generate a DESCENDING range and fabricate n-grams)."""
    return F.when(F.size(toks) >= n, positional_ngrams(toks, n)).otherwise(
        F.array().cast("array<string>")
    )


def _dup_frac_of(grams: Column) -> Column:
    """dup fraction from an ALREADY-MATERIALIZED gram-array column."""
    total = F.size(grams)
    dups = (total - F.size(F.array_distinct(grams))).cast("double")
    return F.when(total > 0, F.round(dups / total, 4)).otherwise(F.lit(0.0))


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style per-document repetition signals: top-unigram fraction
    and duplicate 2-/3-gram fractions (Rae et al. 2021 §A1.1 use these to
    drop degenerate, loopy documents before pretraining).

    Scale shape: the n-gram fractions are pure array expressions (linear
    per row, zero shuffle). The top-unigram fraction needs a per-doc token
    histogram — computed the linear relational way (explode -> (doc, tok)
    count -> per-doc max/sum) rather than an O(distinct x n) nested array
    scan, so long documents cost O(n). The (doc_id, tok) groupBy partial-
    aggregates map-side and its output is vocabulary-bounded per doc; the
    final join back to the n-gram side is doc_id-to-doc_id (co-partitioned
    by the same shuffle when AQE aligns keys).
    """
    toks = tokens(F.lower(F.col(text_col)))
    # staged projections: tokenize ONCE into a column, build each gram
    # list ONCE into a column, then reduce — a single nested expression
    # would re-tokenize inside every HOF lambda position (no CSE in
    # lambdas; measured 47 s -> 4 s at 200k docs)
    grams = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            ngram_list(F.col("_toks"), 2).alias("_g2"),
            ngram_list(F.col("_toks"), 3).alias("_g3"),
        )
        .select(
            id_col,
            _dup_frac_of(F.col("_g2")).alias("dup_2gram_frac"),
            _dup_frac_of(F.col("_g3")).alias("dup_3gram_frac"),
        )
    )
    uni = (
        df.select(F.col(id_col), F.explode(toks).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tok"),
            F.round(
                F.max("cnt").cast("double") / F.sum("cnt"), 4
            ).alias("top_unigram_frac"),
        )
    )
    return uni.join(grams, id_col)


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
    capacity: int = 256,
    n_tok_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining batches):
    within each shard, documents are concatenated in id order and cut into
    fixed ``capacity``-token training sequences. Returns one row per doc
    with its shard-local token offset, the sequence it starts in, and
    whether it straddles a sequence boundary (would be split).

    Scale shape: one window partitioned by the shard key — shards pack
    independently and in parallel. A shard must fit one task's sort, so
    at 100 TB the shard key is (source, date-bucket) or finer, never a
    handful of mega-shards; the packing math is key-granularity-agnostic.

    ``n_tok_col`` names an ALREADY-COMPUTED whitespace token count —
    callers that carry counts on a narrow decision table (the
    training_corpus_pipeline checkpoints (id, shard, n_tok) and never
    ships text into the window) skip the re-tokenization;
    ``token_count(text_col)`` is the default and the two are
    value-identical whenever the count came from the same tokenizer.
    """
    n_tok = (
        F.col(n_tok_col) if n_tok_col is not None
        else token_count(F.col(text_col))
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    return (
        df.select(shard_col, F.col(id_col), n_tok.cast("long").alias("n_tok"))
        .withColumn("tok_offset", offset)
        .select(
            shard_col,
            id_col,
            "n_tok",
            "tok_offset",
            (F.col("tok_offset") / capacity).cast("long").alias("seq_id"),
            (
                ((F.col("tok_offset") + F.col("n_tok") - 1) / capacity).cast("long")
                != (F.col("tok_offset") / capacity).cast("long")
            ).alias("straddles"),
        )
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 5,
) -> DataFrame:
    """Line-level boilerplate removal (C4 §2.1 drops lines shared across
    documents — footers, nav bars, cookie banners): a line occurring in
    >= ``min_doc_freq`` DISTINCT documents is boilerplate; documents are
    rebuilt from their surviving lines in original order. Returns
    (id, cleaned_text, n_lines, n_removed).

    Scale shape: explode lines -> (line -> distinct-doc count) groupBy
    (map-side partial agg; output is distinct-line-bounded and heavily
    skew-resistant because identical lines collapse early). The
    boilerplate set is the FILTERED tail (df >= k) — far smaller than the
    line vocabulary — broadcast for the anti-join, so document lines
    never shuffle. Rebuild is a groupBy(doc) of surviving lines with
    sort_array over (line_idx, line) structs — per-doc arrays bounded by
    document length, same shape as order_lines_nested.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_idx", "line"
        ),
    )
    common = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("line_df"))
        .filter(F.col("line_df") >= min_doc_freq)
        .select("line")
    )
    kept = lines.join(F.broadcast(common), "line", "left_anti")
    n_lines = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).alias("n_lines")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("line_idx", "line"))
                ),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        n_lines.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
            F.col("n_lines").cast("long").alias("n_lines"),
            (
                F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
        )
    )


PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_LONG_DIGITS_RE = r"[0-9]{7,}"


def redact_pii(
    text_col: Column | str,
) -> tuple[Column, Column, Column]:
    """Training-data PII scrub: replace email addresses and long digit
    runs (phone/account numbers) with typed placeholders. Returns
    (redacted_text, n_emails, n_numbers) columns.

    Pure regexp expressions — codegen'd JVM-side, zero shuffle, and the
    patterns stick to the regex subset Java and RE2 interpret identically
    (character classes + bounded repetition; no backrefs/lookaround), so
    an external engine can re-verify the scrub byte-for-byte.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0)))
    redacted = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    # count digit runs on the email-redacted text so digits inside an
    # email (already scrubbed) aren't double-counted
    n_numbers = F.size(
        F.regexp_extract_all(redacted, F.lit(PII_LONG_DIGITS_RE), F.lit(0))
    )
    redacted = F.regexp_replace(redacted, PII_LONG_DIGITS_RE, "<NUM>")
    return redacted, n_emails, n_numbers


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking step
    in front of every embedding/RAG/pretraining-window pipeline. Returns
    (id, chunk_idx, chunk_text, n_chunk_tokens), one row per chunk.

    Pure expression plan: tokenize once, explode a stride sequence, slice
    the token array per chunk — no UDF, no shuffle; output rows are a
    scan-stage flatMap whose fan-out is len/stride per doc. The final
    short chunk is kept (standard convention) unless it would be empty;
    a document shorter than one chunk yields exactly one chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens "
            f"({chunk_tokens}) or the stride is non-positive"
        )
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # smallest start grid point whose chunk reaches the end:
    # ceil((len - chunk)/stride)*stride, floored at 0 — every token is
    # covered, no redundant tail chunk when len lands on the grid, and a
    # doc shorter than one chunk yields the single start 0
    last_start = F.greatest(
        (
            F.ceil((n - F.lit(chunk_tokens)).cast("double") / F.lit(stride))
            .cast("long")
            * F.lit(stride)
        ),
        F.lit(0).cast("long"),
    )
    starts = F.sequence(F.lit(0).cast("long"), last_start, F.lit(stride))
    out = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def canonicalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm_text"
) -> DataFrame:
    """Canonical text form for dedup keys and exact-match joins: lowercase,
    non-alphanumerics to spaces, whitespace collapsed, trimmed.

    Exact dedup on RAW text misses trivial variants (case, punctuation,
    spacing); hashing THIS form first is the standard cheap pass before
    MinHash (the near-dup pass). Pure scan-stage projection — three regexp
    expressions inside codegen, zero shuffle at any scale, and engine-
    reproducible (the DuckDB oracle applies the same three regexes).
    """
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    c = F.trim(F.regexp_replace(c, " +", " "))
    return df.withColumn(out_col, c)


def dedup_lines_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Global keep-first line dedup (the RefinedWeb / exact-substring family
    at line granularity): a line's FIRST occurrence in corpus order
    (doc id, then position) survives; every later copy — in other docs or
    later in the same doc — is dropped. Contrast with
    ``remove_boilerplate_lines``, which drops ALL copies of high-frequency
    lines; keep-first preserves exactly one.

    Scale shape: lines are keyed by md5 digest so the two shuffles move
    32-byte keys + small payloads, never full line text on the build side:
    (1) groupBy(digest).min(order_key) — map-side partial min, output
    bounded by distinct lines; (2) join lines back on digest and keep the
    row whose order_key equals the minimum (the join condition re-checks
    the key, so a digest collision could only merge identical-by-md5
    lines). Rebuild is the same per-doc bounded sort_array assembly as
    boilerplate removal. Returns (id, cleaned_text, n_lines, n_removed).
    """
    okey = (F.col(id_col) * F.lit(1_000_000) + F.col("line_idx")).alias("_okey")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
    ).select(id_col, "line_idx", "line", okey, F.md5("line").alias("_lh"))
    first = lines.groupBy("_lh").agg(F.min("_okey").alias("_first"))
    kept = lines.join(first, "_lh").filter(F.col("_okey") == F.col("_first"))
    n_lines = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).alias("n_lines")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return n_lines.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        F.col("n_lines").cast("long").alias("n_lines"),
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones idf, Lucene-style
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``) of documents against a fixed
    query-term list. Returns (id, score) for docs matching >= 1 term.

    Scale shape: the doc side is ONE linear scan — tokens are filtered to
    the query terms map-side (array_intersect-style before any explode),
    so the exploded row count is bounded by |query| * matching docs, not
    corpus token count. Per-term document frequencies and the corpus
    (N, avgdl) scalars are tiny aggregates broadcast back in. Per-doc
    scores sum the per-term contributions in SORTED TERM ORDER via a
    fixed-order fold rather than a shuffle-order float sum, so results
    are bit-stable across partitionings (and engines).
    """
    contrib = _bm25_contrib(df, query_terms, text_col, id_col, k1, b)
    return contrib.groupBy(id_col).agg(sorted_term_sum("_term").alias("score"))


def bm25_weight(
    tf: Column,
    dl: Column,
    df: Column,
    n: Column,
    avgdl: Column,
    k1: float,
    b: float,
) -> Column:
    """One term's BM25 contribution to one document: Lucene idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` times the saturated,
    length-normalized term frequency. Doubles in, double out."""
    idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
    return (
        idf
        * (tf * F.lit(k1 + 1.0))
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
    )


def sorted_term_sum(term_col: str) -> Column:
    """Aggregate: the sum of a group's BM25 contributions ``_c`` folded
    in sorted ``term_col`` order from 0.0 — a fixed-order float sum, so
    scores are bit-stable across partitionings (and engines)."""
    return F.aggregate(
        F.sort_array(F.collect_list(F.struct(term_col, "_c"))),
        F.lit(0.0),
        lambda acc, s: acc + s.getField("_c"),
    )


def _bm25_contrib(
    df: DataFrame,
    query_terms: list[str],
    text_col: str,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """Per-(doc, term) BM25 contributions for ``query_terms`` in ONE
    corpus scan — the shared front half of :func:`bm25_scores` and
    :func:`bm25_topk_batch`. Tokens are filtered to the term list
    map-side before the explode, so exploded rows are bounded by
    |terms| * matching docs; df/N/avgdl are tiny broadcast aggregates,
    and the weight is :func:`bm25_weight`, as ``TextIndex`` scores.
    Query terms are case-folded HERE so every caller (``bm25_scores``,
    ``bm25_topk_batch``, and through them the hybrid query) matches
    the lowercased corpus tokens identically (``bm25_scores(["Spark"])``
    would otherwise match nothing). Returns (id_col, _term, _c)."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.size(toks).cast("double").alias("_dl"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
    )
    terms = F.lit(sorted({t.lower() for t in query_terms}))
    hits = base.select(
        id_col,
        "_dl",
        F.explode(
            F.filter(F.col("_toks"), lambda t: F.array_contains(terms, t))
        ).alias("_term"),
    )
    tf = hits.groupBy(id_col, "_term").agg(
        F.count(F.lit(1)).cast("double").alias("_tf"),
        F.first("_dl").alias("_dl"),
    )
    dfreq = tf.groupBy("_term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    return (
        tf.join(F.broadcast(dfreq), "_term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "_term",
            bm25_weight(
                F.col("_tf"), F.col("_dl"), F.col("_df"),
                F.col("_n"), F.col("_avgdl"), k1, b,
            ).alias("_c"),
        )
    )


def bm25_topk_batch(
    df: DataFrame,
    queries: dict[str, list[str]],
    *,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k for MANY queries in ONE corpus scan — the
    ``knn_batch`` analog at the lexical tier. The naive form runs
    |queries| full corpus scans; here per-(doc, term) contributions
    are computed once over the UNION of all query terms (one scan, one
    tf aggregate — term df is corpus-global so it is shared across
    queries by construction), then a tiny broadcast (query_id, term)
    map fans each contribution into the queries that asked for that
    term, each query folds its own contributions by
    :func:`sorted_term_sum` (as :func:`bm25_scores` does, so per-query
    results are bit-identical to the one-query operator), and
    ``grouped_top_k`` keeps k per query from input already reduced to
    matching docs. Returns (query_id, rank, doc_id, score).

    Scale: one corpus scan regardless of Q; the window partitions by
    query_id over match-proportional rows, never the corpus.
    """
    if not queries:
        raise ValueError("empty query batch")
    qmap = sorted(
        (qid, t)
        for qid, ts in queries.items()
        for t in {x.lower() for x in ts}
    )
    all_terms = sorted({t for _, t in qmap})
    contrib = _bm25_contrib(df, all_terms, text_col, id_col, k1, b)
    qdf = df.sparkSession.createDataFrame(
        qmap, "query_id string, _term string"
    )
    per_q = contrib.join(F.broadcast(qdf), "_term")
    scored = per_q.groupBy("query_id", id_col).agg(
        sorted_term_sum("_term").alias("score")
    )
    return grouped_top_k(
        scored, ["query_id"], [F.col("score").desc(), F.col(id_col).asc()], k
    ).select("query_id", "rank", id_col, "score")


def length_bucketed_batches(
    df: DataFrame,
    len_col: str,
    batch_size: int = 32,
    id_col: str = "doc_id",
    seed: str = "lb",
) -> DataFrame:
    """Length-bucketed batching (the pad-efficiency loader layout:
    batching similar-length sequences bounds padding waste by the bucket
    width instead of the corpus-max length). Rows land in log2 length
    buckets; within a bucket they take a deterministic md5-shuffled
    order (so batches are not corpus-order-correlated) and are cut into
    fixed-size batches.

    Layout-independent by construction — (bucket, batch, pos) is a pure
    function of (seed, id, length) — and the same per-shard-parallel
    shape as ``sampling.global_shuffle``: one hash shuffle on the bucket
    key, per-bucket sorts run independently, no global coordination.
    Returns (id_col, len_bucket, batch_id, pos_in_batch).
    """
    from pyspark.sql import Window

    lc = F.col(len_col)
    bucket = F.floor(F.log2(F.greatest(lc, F.lit(1)))).cast("int")
    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy("len_bucket").orderBy(
        F.col("_key").asc(), F.col(id_col).asc()
    )
    rn = F.row_number().over(w) - 1
    return (
        df.select(id_col, bucket.alias("len_bucket"), key.alias("_key"))
        .withColumn("batch_id", (rn / batch_size).cast("long"))
        .withColumn("pos_in_batch", (rn % batch_size).cast("int"))
        .drop("_key")
    )


def greedy_pack_docs(
    df: DataFrame,
    len_col: str,
    capacity: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
    seed: str = "pack",
) -> DataFrame:
    """Greedy next-fit bin packing WITHOUT splitting documents: walk each
    shard in deterministic hash order, close the current bin whenever the
    next doc would overflow ``capacity``. The no-split counterpart of
    ``pack_sequences`` (which concatenates and cuts at exact boundaries):
    use this when examples must stay contiguous (instruction tuning,
    contrastive pairs) and padding waste is the price.

    Sequential state (running fill resets at bin boundaries) is not a
    window prefix-sum, so this is the textbook ``applyInPandas`` case:
    per-shard Arrow batches walked in one pass of vectorized-adjacent
    Python. Shards bound both memory (a shard's rows must fit an
    executor) and parallelism — at 100 TB pick n_shards ~ cores so every
    executor packs independently; cross-shard packing quality is
    irrelevant by symmetry (shards are hash-random samples of the same
    length distribution). A doc longer than ``capacity`` gets a bin of
    its own (next-fit semantics), so the op never drops or splits rows.
    Returns (id_col, shard_id, bin_id) with bin_id dense per shard in
    walk order.
    """
    from .sampling import split_bucket

    prepared = df.select(
        F.col(id_col),
        F.col(len_col).cast("long").alias("_len"),
        split_bucket(id_col, seed).alias("_bucket"),
    ).withColumn("shard_id", (F.col("_bucket") % n_shards).cast("int"))

    def pack(pdf):
        pdf = pdf.sort_values(["_bucket", id_col]).reset_index(drop=True)
        bins = []
        bin_id, fill = -1, capacity + 1  # force a new bin on the first row
        for length in pdf["_len"]:
            if fill + length > capacity:
                bin_id += 1
                fill = length
            else:
                fill += length
            bins.append(bin_id)
        pdf = pdf.assign(bin_id=bins)
        return pdf[[id_col, "shard_id", "bin_id"]]

    return prepared.groupBy("shard_id").applyInPandas(
        pack, schema=f"{id_col} long, shard_id int, bin_id long"
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
) -> "list[tuple[int, str, str, int]]":
    """Learn the first ``k`` BPE merges over the corpus's character
    sequences — the core of tokenizer TRAINING (Sennrich et al. 2016):
    repeatedly count adjacent symbol pairs and fuse the most frequent
    one. Spaces become '_' word markers, so merges never cross words via
    the separator.

    Iterative and data-dependent (each round's pair table depends on the
    previous round's merge), so the driver loop collects ONE bounded row
    per round (the argmax pair — same class as the IVF centroid
    collect); all heavy work stays distributed: pair counting is the
    shifted-array zip + explode + count shuffle, merge application is a
    pure string fold per doc (greedy left-to-right, exactly BPE's scan
    order: the accumulator ends with ' '+left and the next symbol equals
    right ⇒ fuse). Ties break (count desc, pair asc) so the learned
    vocabulary is deterministic on any engine or layout — the DuckDB
    oracle replays the identical k rounds with list_reduce. At real
    scale BPE is trained on a hash-sample of the corpus (it converges on
    counts, not rows) — compose with ``hash_stratified_sample``.

    Returns the merge table as plain rows: (rank, lhs, rhs, n_pairs).
    """
    syms = F.filter(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), " ", "_"), ""),
        lambda x: x != "",
    )
    work = df.select(F.col(id_col), syms.alias("_syms"))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        pairs = work.select(
            F.explode(
                F.when(
                    F.size("_syms") >= 2, positional_ngrams(F.col("_syms"), 2)
                ).otherwise(F.array())
            ).alias("pair")
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .first()
        )
        if top is None:
            break
        lhs, rhs = top["pair"].split(" ", 1)
        merges.append((rank, lhs, rhs, int(top["c"])))
        folded = F.aggregate(
            F.col("_syms"),
            F.lit(""),
            lambda acc, x: F.when(
                (x == F.lit(rhs)) & acc.endswith(F.lit(" " + lhs)),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit(" "), x)),
        )
        # Truncate lineage per round (same pattern as connected_components
        # / pagerank): without this, round r's first() re-executes ALL
        # r-1 prior merge folds from the parquet scan — O(k^2) total fold
        # work, quadratic at a real merge budget. The eager localCheckpoint
        # materializes the folded symbols once, so every round is
        # linear-in-corpus regardless of k.
        work = work.select(
            id_col, F.split(F.ltrim(folded), " ").alias("_syms")
        )
        if rank < k:  # the final fold is never read back — skip its job
            work = work.localCheckpoint(eager=True)
    return merges


def token_kl_divergence(
    df: DataFrame,
    slice_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Distribution shift between corpus slices: per slice (source,
    language, snapshot...), the KL divergence of its unigram token
    distribution from the whole corpus's — the standard check that one
    source isn't lexically drifting from the mix (domain skew, template
    contamination, a crawler gone wrong). Returns one row per slice:
    (slice, n_tokens, kl_bits) with KL in bits (log2), rounded to 6 dp.

    KL(P_s ‖ Q) = Σ_t p_s(t) · log2(p_s(t) / q(t)) over the slice's
    tokens; q is the corpus distribution, and every token of the slice
    exists in the corpus by construction, so no term is undefined.

    Scale shape — ONE pass, zero joins, the explode runs exactly once
    (plan-audited): the (slice, token) counts take one shuffle; the
    slice and corpus token totals come from unbounded WINDOW sums over
    that grain (slice- and token-partitioned — no self-join branches
    that would each re-run the explode); and the corpus total never
    touches the big grain at all — expanding log2(p/q) and using
    Σ_t p_s(t) = 1 gives KL_s = Σ_t p·(log2(n_st/n_s) − log2(n_t))
    + log2(N), where N = Σ_slices n_s is a window sum over the final
    ≤|slices| rows (a single-partition window over a handful of rows,
    not over data). Nothing collects to the driver.
    """
    from pyspark.sql import Window

    slice_tok = (
        df.select(
            F.col(slice_col).alias("slice"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
        )
        .filter(F.col("_t") != "")
        .groupBy("slice", "_t")
        .agg(F.count(F.lit(1)).alias("_n_st"))
    )
    n_s = F.sum("_n_st").over(Window.partitionBy("slice"))
    n_t = F.sum("_n_st").over(Window.partitionBy("_t"))
    term = (F.col("_n_st") / F.col("_n_s")) * (
        F.log2(F.col("_n_st") / F.col("_n_s")) - F.log2(F.col("_n_t"))
    )
    per_slice = (
        slice_tok.withColumn("_n_s", n_s)
        .withColumn("_n_t", n_t)
        .groupBy("slice")
        .agg(
            F.max("_n_s").alias("n_tokens"),
            F.sum(term).alias("_a"),
        )
    )
    # N over the <=|slices| result rows only — cheap by construction
    n_total = F.sum("n_tokens").over(
        Window.partitionBy()
    )
    return per_slice.select(
        "slice",
        "n_tokens",
        F.round(F.col("_a") + F.log2(n_total), 6).alias("kl_bits"),
    )


# ------------------------------------------------------------------ #
# Multi-phrase blocklist filtering (token-aligned).                   #
# ------------------------------------------------------------------ #
#
# The blocklist stage of a corpus pipeline (spam templates, license
# boilerplate, eval-set canaries): find every document containing ANY of
# N token-aligned phrases. The naive form is N `LIKE`/`regexp` scans —
# O(N) passes over 100 TB, unusable beyond a handful of patterns. Both
# shapes here make it ONE pass, mirroring the literal-vs-join split of
# the ADC serving family:
#
# - expr path: per-length shingle arrays tested against a LITERAL
#   phrase array (`arrays_overlap`). Zero shuffle, zero join, and the
#   test runs IN PLACE inside the scan's project — faster than the bare
#   join at 16 and 1024 phrases (9.6 vs 17.0 s, 11.2 vs 13.4 s per 1M
#   docs), as the join materializes the gram explosion. The
#   plan still carries O(N) string literals, so VERY wide lists
#   (>>10k) eventually hit the expression-bloat wall.
# - join path: distinct doc shingles exploded (narrow) and broadcast-
#   joined against the phrase table — the only shape for blocklists
#   that are managed TABLES or too wide to inline, and the source of
#   the per-phrase hit report. For list blocklists `blocklist_hits`
#   runs the HYBRID: literal flag first, explode/join only the flagged
#   docs — hit-proportional join input at literal-flag cost.
#
# Phrases are normalized with the SAME tokenizer as the corpus
# (whitespace split, single-space join) so matching is exact.


# The literal arrays_overlap path inlines ONE string literal per
# phrase into the plan — the same growth wall the ADC serving family
# measured for inlined float tables (vector_store.ADC_LITERAL_MAX_
# DOUBLES): fine for hundreds, a multi-MB expression tree at 50k.
# Above this cap, list blocklists are routed to the broadcast-join
# path automatically (blocklist_hits skips the literal prefilter;
# blocklist_flag dispatches to the join flag). At 1M docs the literal
# flag (16.5 s @4k phrases) meets the flat ~16 s join here, 2x slower by 10k.
BLOCKLIST_LITERAL_MAX_PHRASES = 4096


def _norm_phrase(p: str) -> str:
    # lowercased like every other matcher in the text family
    # (phrase_occurrences, TextIndex) and the SQL oracles' tokenizer
    return " ".join(p.lower().split())


def _phrase_lengths(phrases: list[str]) -> dict[int, list[str]]:
    by_len: dict[int, list[str]] = {}
    for p in phrases:
        q = _norm_phrase(p)
        if not q:
            continue
        by_len.setdefault(len(q.split()), []).append(q)
    return {n: sorted(set(ps)) for n, ps in sorted(by_len.items())}


def blocklist_flag_expr(
    df: DataFrame, phrases: list[str], *, text_col: str = "text"
) -> DataFrame:
    """Literal-array path: adds ``is_blocked`` without a join or a
    shuffle. Plan carries one literal per phrase — use for lists under
    a few hundred; beyond that the join path's flat overhead wins (as
    for ADC literal tables). Matching is
    case-insensitive (text and phrases both lowercased), like the rest
    of the text family."""
    toks = tokens(F.lower(F.col(text_col)))
    flag = F.lit(False)
    for n, ps in _phrase_lengths(phrases).items():
        lit = F.lit(list(ps))
        flag = flag | F.arrays_overlap(ngram_list(toks, n), lit)
    return df.withColumn("is_blocked", F.coalesce(flag, F.lit(False)))


def blocklist_flag_join(
    df: DataFrame,
    phrases: list[str] | DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lengths: list[int] | None = None,
    max_literals: int | None = None,
) -> DataFrame:
    """Join twin of :func:`blocklist_flag_expr`: adds ``is_blocked``
    via the gram-explode broadcast join instead of inlined literals —
    plan size O(1) in the phrase count, so this is the shape for
    managed blocklist TABLES and for lists past the literal wall.
    Needs ``id_col`` to attach the flag back onto the corpus (the
    expression twin flags in place and doesn't). Agreement with the
    literal path is pytest-pinned."""
    hit_ids = (
        blocklist_hits(
            df, phrases, id_col=id_col, text_col=text_col, lengths=lengths,
            max_literals=max_literals,
        )
        .select(id_col)
        .withColumn("_hit", F.lit(True))
    )
    return (
        df.join(hit_ids, id_col, "left")
        .withColumn("is_blocked", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_hit")
    )


def blocklist_flag(
    df: DataFrame,
    phrases: list[str] | DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lengths: list[int] | None = None,
    max_literals: int | None = None,
) -> DataFrame:
    """Auto-routing flag front door (the ``adc_tables="auto"`` pattern
    at the text tier): list blocklists at or under ``max_literals``
    (default ``BLOCKLIST_LITERAL_MAX_PHRASES``) take the zero-shuffle
    literal path; wider lists and DataFrame blocklists take the
    O(1)-plan join path. Both add the same ``is_blocked`` column."""
    cap = BLOCKLIST_LITERAL_MAX_PHRASES if max_literals is None else max_literals
    if not isinstance(phrases, DataFrame):
        by_len = _phrase_lengths(phrases)
        if not by_len:
            raise ValueError("empty blocklist")
        if sum(len(ps) for ps in by_len.values()) <= cap:
            return blocklist_flag_expr(df, phrases, text_col=text_col)
    return blocklist_flag_join(
        df, phrases, id_col=id_col, text_col=text_col, lengths=lengths,
        max_literals=max_literals,
    )


def blocklist_hits(
    df: DataFrame,
    phrases: list[str] | DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lengths: list[int] | None = None,
    max_literals: int | None = None,
) -> DataFrame:
    """Per-phrase hit report: (id, n_hits, first_hit) for every document
    matching ANY phrase. ``phrases`` is a list or a (phrase STRING)
    DataFrame (a managed blocklist table); DataFrame callers must pass
    ``lengths`` (the distinct phrase token-counts to shingle at) since
    discovering them would cost a collect on the blocklist.

    Plans (pytest-audited):

    - LIST blocklists at or under the literal cap compile to a pure
      in-scan filter + projection — ZERO joins, ZERO shuffles: the
      cheap short-circuiting ``arrays_overlap`` flag gates first
      (non-hit docs — the overwhelming majority — pay only the flag,
      which exits on the first match: 9.6 s vs 17.0 s/1M docs for the
      bare explode+join at 16 phrases), then the per-length
      ``array_intersect(ngram_list(toks, n), lit(phrases_n))`` over
      the SURVIVING rows IS the distinct matched-gram set
      (array_intersect dedups), so n_hits/first_hit are
      size/array_min of the concatenated intersections, evaluated
      once per hit row (one Project — physical subexpression
      elimination shares the intersect between the two columns). The
      flag is result-invariant (a doc overlaps iff its intersection
      is non-empty — pytest-pinned row-for-row against the join
      path), and the hit-proportional explode -> broadcast join ->
      id-keyed aggregation shuffle that used to follow the flag is
      gone entirely. An intersect-only form (no flag) was measured
      SLOWER at sf0.1 (2.42 vs 1.96 s): the filter pushdown
      re-evaluates the heavy intersect below the project, so every
      non-hit doc paid the full gram materialization twice.
      Different-length phrases cannot collide as strings (token
      counts differ), so the concat never double-counts.
    - DataFrame blocklists (too wide to inline, or managed tables) take
      the O(1)-plan join path: Scan -> Generate (explode distinct
      shingles, narrow) -> BroadcastHashJoin(phrase table) -> hash agg
      on the id. List blocklists wider than
      ``BLOCKLIST_LITERAL_MAX_PHRASES`` are routed there automatically —
      the literal plan grows O(N) with the phrase count (the ADC
      literal-wall lesson at the text tier) while the join is flat.
    """
    literal: dict[int, list[str]] | None = None
    if isinstance(phrases, DataFrame):
        if not lengths:
            raise ValueError("DataFrame blocklist requires explicit lengths")
        # same normalization as the list path's _norm_phrase — grams are
        # built from lowercased text and joined with SINGLE spaces, so a
        # stored phrase with irregular spacing (tabs, doubled spaces,
        # leading/trailing whitespace) must be collapsed the same way or
        # it silently never matches any gram
        phrase_df = phrases.select(
            F.trim(
                F.regexp_replace(F.lower(F.col("phrase")), r"\s+", " ")
            ).alias("phrase")
        )
        lens = sorted(set(lengths))
    else:
        by_len = _phrase_lengths(phrases)
        if not by_len:
            raise ValueError("empty blocklist")
        lens = list(by_len)
        spark = df.sparkSession
        flat = [p for ps in by_len.values() for p in ps]
        phrase_df = spark.createDataFrame(
            [(p,) for p in flat], "phrase string"
        )
        cap = (
            BLOCKLIST_LITERAL_MAX_PHRASES
            if max_literals is None
            else max_literals
        )
        if len(flat) <= cap:
            literal = by_len
    if literal is not None:
        toks = tokens(F.lower(F.col(text_col)))
        flag = F.lit(False)
        parts = []
        for n, ps in literal.items():
            grams_n = ngram_list(toks, n)
            flag = flag | F.arrays_overlap(grams_n, F.lit(ps))
            parts.append(F.array_intersect(grams_n, F.lit(ps)))
        hit_grams = parts[0] if len(parts) == 1 else F.concat(*parts)
        return df.filter(F.coalesce(flag, F.lit(False))).select(
            F.col(id_col),
            F.size(hit_grams).cast("long").alias("n_hits"),
            F.array_min(hit_grams).alias("first_hit"),
        )
    toks = tokens(F.lower(F.col(text_col)))
    gram_arrays = [ngram_list(toks, n) for n in lens]
    grams = F.array_distinct(
        gram_arrays[0] if len(gram_arrays) == 1 else F.concat(*gram_arrays)
    )
    exploded = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    hits = exploded.join(
        F.broadcast(phrase_df), exploded["gram"] == phrase_df["phrase"], "inner"
    )
    # (id, gram) pairs are UNIQUE by construction (array_distinct before
    # the explode), so plain count == count(DISTINCT gram) without the
    # second shuffle a distinct-aggregate would plan.
    return hits.groupBy(id_col).agg(
        F.count("gram").cast("long").alias("n_hits"),
        F.min("gram").alias("first_hit"),
    )


def blocklist_scrub(
    df: DataFrame,
    phrases: list[str] | DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lengths: list[int] | None = None,
) -> DataFrame:
    """Corpus minus blocked documents (left_anti against the hit set) —
    the filter form pipelines compose after review of the hit report."""
    hit_ids = blocklist_hits(
        df, phrases, id_col=id_col, text_col=text_col, lengths=lengths
    ).select(id_col)
    return df.join(hit_ids, id_col, "left_anti")


def phrase_occurrences(
    df: DataFrame,
    phrase: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-aligned phrase occurrences computed INLINE — the
    corpus-rescan twin of ``TextIndex.phrase_hits`` (text_index.py),
    and its oracle face: start positions fall out of one filtered index
    sequence per document (position i matches iff token i+j equals
    phrase term j for all j), zero shuffle, zero join, O(len·k) inside
    the scan's project. Returns (id, n_occurrences, first_pos) for
    matching docs; overlapping occurrences all count. Agreement with
    the persisted-index path is pytest-pinned; the arithmetic replays
    in SQL (the registry's hash gate for the positional-phrase math).
    """
    terms = phrase.lower().split()
    if not terms:
        raise ValueError("empty phrase")
    k = len(terms)
    staged = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")

    # PERF: the start list is built from per-term BOOLEAN flag arrays
    # combined by shifted zips — every lambda references only its own
    # argument, never the token column. The element_at(toks, i+j)
    # formulation this replaces turns pathological when Catalyst pushes
    # the emptiness filter below the projections by SUBSTITUTION: the
    # token column inlines as split(...) INSIDE the lambda, and with no
    # CSE in HOFs the corpus re-tokenizes once per sequence element
    # (measured 3.4 s -> 0.4 s at sf0.1). Flag arrays keep the worst
    # case at one whole-expression re-evaluation per pushed consumer.
    def _flags(term: str) -> Column:
        return F.transform(toks, lambda x: x == term)

    sz = F.size(toks)
    acc = _flags(terms[0])
    for j, t in enumerate(terms[1:], start=1):
        shifted = F.slice(_flags(t), j + 1, F.greatest(sz - j, F.lit(0)))
        # zip pads the shorter (shifted) side with nulls — the ragged
        # tail must be FALSE, not null-propagated
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.coalesce(b, F.lit(False)) & a,
        )
    # two-argument transform binds (element, index) — here the index IS
    # the payload (the start position of a full match)
    starts = F.filter(
        F.transform(acc, lambda x, i: F.when(x, i)),
        lambda p: p.isNotNull(),
    )
    staged = staged.select(F.col(id_col), starts.alias("_starts"))
    out = staged.select(
        id_col,
        F.size("_starts").cast("long").alias("n_occurrences"),
        F.array_min("_starts").cast("long").alias("first_pos"),
    )
    return out.filter(F.col("n_occurrences") > 0)
