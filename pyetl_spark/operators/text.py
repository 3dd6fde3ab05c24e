"""Text-analysis operator library (north-star extension: lang-ID, quality
scoring, token counting, document fingerprinting).

Every function returns a Column built from JVM-side primitives (split /
higher-order folds / regex) so the operators fuse into the scan pipeline —
no Python in the data path at any scale. Each has an exact DuckDB SQL twin
(the ``*_SQL`` helpers) used by the Tier-A oracle queries in
queries/llm_text.py; the twins mirror the arithmetic op-for-op so outputs
are bit-identical (see parity.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword lists — enough signal for an n-gram/stopword
#: heuristic language ID; order fixes the argmax preference chain.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "mit", "für", "von"],
    "es": ["el", "la", "de", "y", "es", "con", "para", "los"],
    "fr": ["le", "la", "et", "les", "des", "est", "pour", "avec"],
    "zh": ["的", "是", "了", "在", "和", "有", "不", "人"],
}

_FP_MOD = 2147483647  # 2^31 - 1: keeps acc*31 + h inside bigint


def tokens(text: Column) -> Column:
    """Whitespace tokenizer (the fixture's documents are space-joined)."""
    return F.split(text, " ")


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish tokenizer: alnum runs, punctuation-separated, empties
    dropped (both engines keep edge empties from regex splits — filter)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
    )


def stopword_hits(toks: Column, lang: str) -> Column:
    """Distinct-token overlap with a language's stopword list."""
    lits = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(toks), lits))


def lang_id(toks: Column) -> Column:
    """Heuristic language ID: argmax of stopword hits, fixed preference
    chain (en > de > es > fr > zh on ties, matching dict order) — an
    explicit CASE chain so both engines agree bit-for-bit."""
    scores = {lang: stopword_hits(toks, lang) for lang in STOPWORDS}
    langs = list(STOPWORDS)
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        later = [scores[lo] for lo in langs[langs.index(lang) + 1 :]]
        cond = scores[lang] >= F.greatest(*later) if len(later) > 1 else (
            scores[lang] >= later[0]
        )
        expr = F.when(cond, lang).otherwise(expr)
    return expr


_ALNUM_SPACE = "abcdefghijklmnopqrstuvwxyz0123456789 "


def quality_score(text: Column, toks: Column) -> Column:
    """Composite quality heuristic in [0, 1]: length saturation, stopword
    density, non-alnum penalty — ratios of exact integers, so both engines
    divide the same values."""
    n_chars = F.length(text).cast("double")
    length_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    n_toks = F.size(toks).cast("double")
    all_hits = stopword_hits(toks, "en")
    for lang in ("de", "es", "fr", "zh"):
        all_hits = all_hits + stopword_hits(toks, lang)
    stop_ratio = F.least(
        all_hits.cast("double") * F.lit(4.0) / n_toks, F.lit(1.0)
    )
    # characters outside [a-z0-9 ]: translate deletes every allowed one,
    # the same integer a regexp strip of the rest gives without running a
    # regex engine per row
    n_other = F.length(F.translate(text, _ALNUM_SPACE, ""))
    punct_ratio = n_other.cast("double") / n_chars
    return (
        F.lit(0.5) * length_score
        + F.lit(0.3) * stop_ratio
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
    )


def token_hash(tok: Column) -> Column:
    """Cross-engine 24-bit token hash: first 6 md5 hex chars as an int.
    (xxhash64 would be faster but is Spark-only — md5 exists identically
    on both engines, and the fingerprint is IO-bound anyway.)"""
    return F.conv(F.substring(F.md5(tok), 1, 6), 16, 10).cast("long")


def fingerprint(toks: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    (acc*31 + token_hash) mod 2^31-1 over the token sequence — a
    Karp-Rabin-style signature; equal docs ⇒ equal prints, reordered
    docs ⇒ different prints (unlike set-based hashes)."""
    hashes = F.transform(toks, token_hash)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % _FP_MOD,
    )


def winnow_grams(toks: Column, k: int = 3) -> Column:
    """Array of k-gram hashes over the token sequence (cross-engine
    md5 token hash). NOTE: materialize this as its OWN projection before
    sliding windows over it — referenced inside another array lambda,
    Catalyst re-evaluates the whole transform per element (O(m²))."""
    n = F.size(toks)
    # total function: sequence(1, 0) yields a DESCENDING [1, 0] in Spark
    # (slice start 0 then throws), and optimizers are free to evaluate
    # this projection before any guarding filter — so guard in-expression
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: token_hash(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))


def _let(val: Column, body) -> Column:
    """Bind ``val`` once as a lambda variable inside ``body`` — the
    single-element-array transform trick. SQL has no let-expression, so
    an array referenced from inside another lambda is re-evaluated per
    element; wrapping it as ``transform(array(val), v -> body(v))[0]``
    materializes it exactly once per row."""
    return F.element_at(F.transform(F.array(val), body), 1)


def winnow_fps(grams_col: Column, w: int = 4) -> Column:
    """Winnowing fingerprint set from a MATERIALIZED gram-hash array
    column: distinct minima of every sliding w-window — any shared
    token span of length ≥ k+w-1 between two docs shares ≥ 1 value.

    r15 shape: sparse-table doubling instead of per-window
    ``array_min(slice(...))`` — the old form allocated a w-slice and
    folded it per output element (O(m·w) with an array allocation per
    window); the doubling chain computes pairwise ``least`` arrays at
    spans 1,2,4,… (each bound ONCE via ``_let``) and finishes with one
    combine, O(m·log w) with O(1) element reads. Minima are exact
    integer ``least`` folds either way, so the fingerprint sets are
    bit-identical (the Tier-A oracle twin of text_winnowing_fingerprint
    still hash-matches; measured 2.05 → 0.83 s on the sf0.1 fingerprint
    pass together with the token-materialization fix)."""

    def slide(arr: Column, span: int) -> Column:
        # min over [i, i+span) pairs at stride `span` of the previous
        # level: m_2s[i] = least(m_s[i], m_s[i+s])
        return F.transform(
            F.sequence(F.lit(1), F.size(arr) - span),
            lambda i: F.least(
                F.element_at(arr, i), F.element_at(arr, i + span)
            ),
        )

    def chain(arr: Column, span: int) -> Column:
        if span * 2 <= w:
            return _let(slide(arr, span), lambda m: chain(m, span * 2))
        if span < w:
            # non-power-of-two tail: windows [i, i+w) = span-min at i
            # and at i + (w - span) (overlap is fine for min)
            return F.transform(
                F.sequence(F.lit(1), F.size(arr) - (w - span)),
                lambda i: F.least(
                    F.element_at(arr, i),
                    F.element_at(arr, i + (w - span)),
                ),
            )
        return arr

    minima = (
        grams_col if w == 1 else _let(grams_col, lambda g: chain(g, 1))
    )
    return F.when(
        F.size(grams_col) >= w, F.array_distinct(minima)
    ).otherwise(F.array().cast("array<long>"))


def winnowing_dedup_assign(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    threshold: float = 0.5,
):
    """Partial-overlap near-dup CLUSTER assignment via winnowing
    fingerprints — the ordered-span sibling of MinHash dedup (token-SET
    similarity) and SRP embedding dedup (semantic similarity): two docs
    cluster when ≥ ``threshold`` of the smaller one's fingerprints are
    shared, which winnowing guarantees happens whenever they share long
    contiguous token spans (quotes, boilerplate, edited copies).

    Same scale contract as `minhash_dedup_assign`, and literally the
    same edge machinery (operators/minhash._candidate_edges with the
    fingerprint VALUE as the bucket key): ≤ ~2 candidate edges per
    (doc, fingerprint) row, salted windows bound per-task work on hot
    fingerprints (common boilerplate phrases), containment-verified
    edges, connected components. Docs too short to fingerprint
    (< k+w-1 tokens) keep themselves.

    Returns (``id_col``, keeper_id).
    """
    from pyetl_spark.operators.components import connected_components
    from pyetl_spark.operators.minhash import _candidate_edges

    # materialize the TOKEN array as its own projection (r15): the gram
    # lambda's `slice(toks, i, k)` previously referenced the split
    # EXPRESSION, so the text was re-split once per gram position —
    # O(tokens²) splits per doc. As a bound column the split runs once
    # per row (same rule winnow_grams' docstring states for the gram
    # array itself, applied one level down).
    toked = docs.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    # gram hash here is xxhash64, NOT the cross-engine md5 hash the
    # Tier-A fingerprint query needs: no oracle reads these values, and
    # xxhash64 is JVM-codegen'd vs md5's hex round-trip (~4× cheaper on
    # the hottest expression in the pipeline)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    base = toked.filter(n >= k + w - 1).select("_id", grams.alias("_grams"))
    # PIN the fingerprint sets: they fan out to the edge union's window
    # branches AND both sides of the containment verify — unpinned, the
    # token→gram→winnow expression chain re-executes ~7× (measured 33 s
    # → 9 s at sf0.01). Same lineage-truncation pattern as components.py.
    fpsets = base.select(
        "_id", winnow_fps(F.col("_grams"), w).alias("_fps")
    ).localCheckpoint(eager=True)
    banded = fpsets.select(
        "_id",
        F.lit(0).alias("band_idx"),
        F.explode("_fps").alias("band_hash"),
    )
    edges = _candidate_edges(banded)
    a = fpsets.select(F.col("_id").alias("id_a"), F.col("_fps").alias("_fa"))
    b = fpsets.select(F.col("_id").alias("id_b"), F.col("_fps").alias("_fb"))
    containment = F.size(F.array_intersect("_fa", "_fb")).cast(
        "double"
    ) / F.least(F.size("_fa"), F.size("_fb")).cast("double")
    verified = (
        edges.join(a, "id_a")
        .join(b, "id_b")
        .filter(containment >= threshold)
        .select("id_a", "id_b")
    )
    comp = connected_components(verified, src="id_a", dst="id_b")
    return (
        docs.select(F.col(id_col).alias(id_col))
        .join(
            comp.select(
                F.col("node").alias(id_col),
                F.col("component").alias("keeper_id"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col, F.coalesce("keeper_id", F.col(id_col)).alias("keeper_id")
        )
    )


def paragraph_chunks(text: Column, width: int = 10) -> Column:
    """array<string>: consecutive ``width``-token chunks of ``text`` —
    the fixed-window "paragraph" unit for corpora without newline marks
    (the CCNet paragraph-hash unit). Pure JVM expression algebra; text
    must be non-null (split of '' yields one ''-chunk, consistent with
    the DuckDB twin in queries/llm_text.dedup_paragraph_global).

    ALIGNMENT SENSITIVITY (r12 ADVICE): windows are anchored at each
    document's OWN start, so identical boilerplate preceded by
    different-length content in different docs chunks at different
    offsets and never string-matches — unlike CCNet's newline-paragraph
    hashing, which is alignment-free because the boundary comes from
    the text itself. On a real crawl, split on the corpus's natural
    boundaries when it has them (``F.split(text, r"\\n{2,}")`` for
    paragraph marks, sentence splits otherwise) and fall back to fixed
    windows only for boundary-free text like this repo's synthetic
    corpus (verified: zero newlines or periods in documents.text at
    every SF). The downstream operators (paragraph_boilerplate,
    strip_boilerplate) are unit-agnostic — they consume whatever chunk
    column this function yields, so the swap is local to this one
    expression."""
    # bind the split ONCE via _let (r15): referenced from inside the
    # chunk lambda the split expression re-ran per chunk — O(tokens²/w)
    # character work per doc
    return _let(
        F.split(text, " "),
        lambda ts: F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(ts) / F.lit(float(width))).cast("int") - 1,
            ),
            lambda i: F.array_join(F.slice(ts, i * width + 1, width), " "),
        ),
    )


def paragraph_boilerplate(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 10,
    min_docs: int = 4,
):
    """(chunk): the cross-doc boilerplate table — chunks appearing in at
    least ``min_docs`` DISTINCT documents. This is the persistable
    maintenance artifact of the paragraph-dedup lifecycle: build it in
    batch over the corpus, write it as a small parquet table, and
    streaming ingests strip against it statically (refresh BETWEEN
    runs as the corpus grows — same between-runs contract as the
    MinHash index, and for the same reason: an in-run refresh would
    make replayed batches non-idempotent). One content-keyed exchange;
    output is bounded by how much text the corpus actually repeats."""
    chunks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.explode(paragraph_chunks(F.col(text_col), width)).alias("chunk"),
    )
    return (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("_id").alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("chunk")
    )


def strip_boilerplate(
    docs,
    boiler,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 10,
):
    """(id_col, clean_text, n_removed_chunks, n_chunks): remove every
    boilerplate chunk from every document and reassemble the survivors
    in original chunk order (struct-sorted collect_list — no window).
    ``boiler`` is ``paragraph_boilerplate`` output (or the persisted
    table); an all-boilerplate doc returns an empty string, not a
    dropped row. Works identically on a bounded streaming micro-batch
    against a STATIC boiler table (streaming/corpus.run_boilerplate_strip).
    """
    chunks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias(id_col),
        F.posexplode(paragraph_chunks(F.col(text_col), width)).alias(
            "cidx", "chunk"
        ),
    )
    marked = chunks.join(
        boiler.select("chunk", F.lit(True).alias("_boiler")),
        "chunk",
        "left",
    )
    kept_struct = F.when(
        F.col("_boiler").isNull(), F.struct("cidx", "chunk")
    )  # null for boilerplate rows -> dropped by collect_list
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                # struct sort = by first field (cidx, unique per doc)
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(
            F.when(F.col("_boiler").isNotNull(), 1).otherwise(0)
        ).alias("n_removed_chunks"),
        F.count("*").alias("n_chunks"),
    )


# ---------------------------------------------------------------- SQL twins

def _stopword_hits_sql(toks: str, lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_intersect(list_distinct({toks}), [{lits}]))"


def lang_id_sql(toks: str) -> str:
    """DuckDB twin of lang_id (same CASE chain)."""
    langs = list(STOPWORDS)
    scores = {lang: _stopword_hits_sql(toks, lang) for lang in langs}
    expr = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        later = [scores[lo] for lo in langs[langs.index(lang) + 1 :]]
        big = (
            f"greatest({', '.join(later)})" if len(later) > 1 else later[0]
        )
        expr = f"CASE WHEN {scores[lang]} >= {big} THEN '{lang}' ELSE {expr} END"
    return expr


def quality_score_sql(text: str, toks: str) -> str:
    """DuckDB twin of quality_score (op-for-op mirror)."""
    n_chars = f"CAST(length({text}) AS DOUBLE)"
    length_score = f"least({n_chars} / 500.0, 1.0)"
    n_toks = f"CAST(len({toks}) AS DOUBLE)"
    hits = " + ".join(_stopword_hits_sql(toks, g) for g in STOPWORDS)
    stop_ratio = f"least(CAST({hits} AS DOUBLE) * 4.0 / {n_toks}, 1.0)"
    n_other = f"length(translate({text}, '{_ALNUM_SPACE}', ''))"
    punct_ratio = f"CAST({n_other} AS DOUBLE) / {n_chars}"
    return (
        f"0.5 * {length_score} + 0.3 * {stop_ratio}"
        f" + 0.2 * (1.0 - {punct_ratio})"
    )


def token_hash_sql(tok: str) -> str:
    return f"CAST('0x' || substring(md5({tok}), 1, 6) AS BIGINT)"


def fingerprint_sql(toks: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks}, t -> {token_hash_sql('t')})), "
        f"(acc, h) -> (acc * 31 + h) % {_FP_MOD})"
    )


def bpe_ish_tokens_sql(text: str) -> str:
    return (
        f"list_filter(str_split_regex(lower({text}), '[^a-z0-9]+'),"
        " t -> t <> '')"
    )
