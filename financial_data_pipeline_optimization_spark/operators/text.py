"""Text-analysis operators (BASELINE.json north star: LLM-pipeline text ops).

All built-in JVM expressions (regexp, higher-order array functions) —
no Python in the hot path, every operator is a narrow per-row map that
scales linearly with input and never shuffles. Tokenization is shared
with ``operators.dedup`` so dedup and analysis agree on token
semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark.functions import explode_nonempty
from financial_data_pipeline_optimization_spark.sources import local_table

#: Per-language marker stopwords for the n-gram/stopword language-ID
#: heuristic. Deliberately tiny and deterministic — a real deployment
#: would swap in fastText/CLD3 via a Pandas UDF (same plumbing).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "las", "es", "y", "en"),
    "fr": ("le", "la", "les", "et", "est", "dans"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}


def tokens(col: Column | str) -> Column:
    """Lowercased word tokens — the ONE shared tokenizer
    (``operators.dedup._tokens`` delegates here; the DuckDB oracle
    ``queries._ORACLE_TOKENS`` mirrors the semantics in SQL).

    Implemented as a single ``regexp_extract_all(lower(c),
    '[a-z0-9]+')`` pass. This is value-identical to the historical
    ``split(trim(regexp_replace(lower(c), '[^a-z0-9\\s]', ' ')),
    '\\s+')`` form — the replace maps every non-alnum char to a
    space, so the split pieces are exactly the maximal ``[a-z0-9]+``
    runs the regex extracts — but ~40× faster per corpus evaluation
    (measured 42 s → 1 s on the ×100 replicated corpus, SCALING.md):
    the replace form rebuilds the whole string through the regex
    engine and then splits it, three materializations for one answer.
    Two edge cases carry over explicitly: an alnum-free NON-NULL
    document must tokenize to ``['']`` (the sentinel every
    size/element_at consumer depends on — ``extract_all`` alone would
    give ``[]``), and NULL stays NULL (``extract_all`` alone would
    too, but the sentinel branch must not capture it). The ONE real
    divergence from the old form — a bug there, not here: space-only
    ``trim`` left spurious ``''`` tokens for documents with
    leading/trailing non-space whitespace — was caught by the
    tokenizer differential fuzzer and resolved by moving the oracle
    contract (``queries._ORACLE_TOKENS``) to the runs form too.
    Equivalence on everything else is pinned by a dedicated edge-case
    test and the fuzzer (``tests/test_fuzz_differential.py``)."""
    c = F.col(col) if isinstance(col, str) else col
    ext = F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]+"), 0)
    return (
        F.when(c.isNull(), F.lit(None).cast("array<string>"))
        .when(F.size(ext) > 0, ext)
        .otherwise(F.array(F.lit("")))
    )


def with_text_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Quality-scoring statistics: char/token counts, type-token ratio,
    punctuation density, mean token length — the standard cheap quality
    signals for corpus filtering."""
    toks = tokens(text_col)
    c = F.col(text_col)
    n_tokens = F.size(toks)
    return df.withColumns(
        {
            "n_chars_text": F.length(c),
            "n_tokens": n_tokens,
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
            "n_punct": F.regexp_count(c, F.lit(r"[^\w\s]")),
            "mean_token_len": F.floor(
                (F.length(F.concat_ws("", toks)) / n_tokens) * 10000
                + F.lit(0.5000005)
            )
            / 10000,
        }
    )


def with_token_count(
    df: DataFrame,
    text_col: str,
    out_col: str = "n_bpe_ish_tokens",
    pattern: str = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]",
) -> DataFrame:
    """BPE-ish token counting: letter runs, single digits, and isolated
    punctuation each count as one token — a cheap JVM-side proxy for a
    real tokenizer's token count (the standard budget estimator)."""
    return df.withColumn(
        out_col, F.regexp_count(F.col(text_col), F.lit(pattern))
    )


def with_lang_id(
    df: DataFrame, text_col: str, out_col: str = "lang_pred"
) -> DataFrame:
    """Stopword-overlap language ID: score each language by how many of
    its marker stopwords occur in the distinct-token set; argmax wins,
    ties and zero-score fall back to 'und'. Deterministic and
    SQL-expressible (the oracle mirrors it with ``list_intersect``).

    Expression shape matters here: the obvious iterated
    ``when(score > best_score, ...)`` chain NESTS every prior score
    expression inside the next comparison, so the tree grows
    exponentially in the language count — with 5 languages the plan
    held 87 copies of the tokenizer and the generated code blew past
    janino's 64 KB method limit, silently disabling whole-stage
    codegen for the whole stage (and with it the runtime
    common-subexpression elimination that would have deduplicated
    the copies). Instead: materialize the distinct-token set ONCE per
    row behind a one-element ``explode`` (a Generate is a hard
    barrier — neither CollapseProject nor predicate pushdown can
    re-inline the tokenize into downstream expression copies), score
    all languages in one ``transform`` over the marker table, and
    argmax with one linear ``aggregate`` fold whose accumulator
    ``(0, 'und')`` encodes both the zero-score fallback and the
    alphabetical tie-break (later languages must be STRICTLY
    greater). One tokenize per row, a tree that grows linearly in
    languages, codegen re-enabled.

    The per-row set work is also factored: instead of intersecting
    the document's full (hundreds-of-tokens) set with each language's
    marker list — k big set builds per row — the tokens intersect
    ONCE with the union of all marker words (``array_intersect``
    already returns distinct elements, so no separate
    ``array_distinct`` pass either), and the per-language scores then
    intersect that ≤|union|-element hit list with each marker list:
    tiny × tiny. ``size(tokens ∩ mk) = size((tokens ∩ U) ∩ mk)``
    exactly, since ``mk ⊆ U``. Measured at the ×100 corpus this took
    the query from 18.8 s (one big intersect per language) to the
    few-second tokenize+hits floor."""
    langs = sorted(LANG_MARKERS)
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    markers_lit = F.array(
        *[
            F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
            for lang in langs
        ]
    )
    langs_lit = F.array(*[F.lit(lang) for lang in langs])
    scored = df.select(
        "*",
        F.explode(
            F.array(
                F.array_intersect(
                    tokens(text_col),
                    F.array(*[F.lit(m) for m in all_markers]),
                )
            )
        ).alias("__lang_hits"),
    ).select(
        *df.columns,
        F.zip_with(
            F.transform(
                markers_lit,
                lambda mk: F.size(
                    F.array_intersect(F.col("__lang_hits"), mk)
                ),
            ),
            langs_lit,
            lambda s, lang: F.struct(s.alias("sc"), lang.alias("lang")),
        ).alias("__lang_scores"),
    )
    best = F.aggregate(
        F.col("__lang_scores"),
        F.struct(F.lit(0).alias("sc"), F.lit("und").alias("lang")),
        lambda acc, x: F.when(x["sc"] > acc["sc"], x).otherwise(acc),
    )
    return scored.withColumn(out_col, best["lang"]).drop("__lang_scores")


def with_fingerprint(
    df: DataFrame, text_col: str, out_col: str = "fingerprint"
) -> DataFrame:
    """Document fingerprint: md5 of the canonicalized text (lowercase,
    punctuation stripped, whitespace collapsed) — the exact-dedup key
    that survives formatting differences. md5 keeps it oracle-portable;
    xxhash64 would be the cheaper production choice."""
    canon = F.concat_ws(" ", tokens(text_col))
    return df.withColumn(out_col, F.md5(canon))


def quality_filter(
    df: DataFrame,
    text_col: str,
    min_tokens: int = 20,
    max_punct_ratio: float = 0.3,
    min_ttr: float = 0.1,
) -> DataFrame:
    """Composite corpus-quality filter over the text-stats signals;
    narrow, row-local, zero exchanges.

    The token array is materialized ONCE per row behind a one-element
    ``explode`` before the predicates reference it: filtering directly
    on ``with_text_stats`` columns lets predicate pushdown substitute
    the tokenize into every conjunct — the n_tokens and ttr conditions
    each re-ran it, measured ~3× the single-evaluation cost at the
    ×100 corpus (98 s vs ~30 s/evaluation, SCALING.md). A Generate is
    a hard barrier: the conjuncts read the generated attribute, and
    the cheap punct/chars conditions still sit scan-side."""
    base = df.select(
        "*", F.explode(F.array(tokens(text_col))).alias("__qf_toks")
    )
    t = F.col("__qf_toks")
    c = F.col(text_col)
    keep = (
        (F.size(t) >= min_tokens)
        & (
            F.regexp_count(c, F.lit(r"[^\w\s]")) / F.length(c)
            <= max_punct_ratio
        )
        & (F.size(F.array_distinct(t)) / F.size(t) >= min_ttr)
    )
    return base.filter(keep).select(*df.columns)


def with_winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    k: int = 5,
    window: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    hash every ``k``-gram (character shingle), then keep the minimum
    hash of each sliding ``window`` of consecutive k-gram hashes. The
    selected set is position-robust: any sufficiently long shared
    substring between two documents yields a shared fingerprint.
    Row-local higher-order functions only — one scan, no shuffle."""
    c = F.col(text_col)
    n_grams = F.greatest(F.length(c) - (k - 1), F.lit(1))
    gram_hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(F.substring(c, i, k)),
    )
    windows = F.sequence(
        F.lit(0), F.greatest(n_grams - window, F.lit(0))
    )
    fingerprints = F.array_distinct(
        F.transform(
            windows,
            lambda i: F.array_min(F.slice(gram_hashes, i + 1, window)),
        )
    )
    return df.withColumn(out_col, fingerprints)


# ---------------------------------------------------------------------------
# Cleaning / redaction (training-data hygiene)
# ---------------------------------------------------------------------------

#: Redaction patterns, most-specific first (URLs before emails so the
#: userinfo part of a URL isn't half-eaten by the email rule). Kept to
#: the regex subset Java and RE2 interpret identically, so the DuckDB
#: oracle can replay them verbatim.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def clean_text(
    df: DataFrame, text_col: str, out_col: str | None = None
) -> DataFrame:
    """Normalize raw text for a training corpus: strip HTML-ish tags,
    drop control characters, collapse runs of whitespace, trim. One
    narrow per-row map (chained ``regexp_replace``), no shuffle."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col or text_col, c)


def redact_pii(
    df: DataFrame, text_col: str, out_col: str | None = None
) -> DataFrame:
    """Replace URLs, email addresses and phone-number-shaped digit runs
    with typed placeholder tokens (``<URL>``/``<EMAIL>``/``<PHONE>``).
    Pattern-based scrubbing — the deterministic first pass a corpus
    pipeline runs before any model-based PII pass; patterns are
    intentionally conservative (match obviously-structured identifiers,
    never free text). Narrow map, no shuffle."""
    c = F.col(text_col)
    for pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return df.withColumn(out_col or text_col, c)


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", appendix A1.1): fraction of
    tokens that are the single most frequent token, fraction of bigram
    occurrences that are repeats, and the distinct-token ratio. These
    are the standard cheap repetition filters an LLM pretraining
    pipeline applies before any model-based scoring.

    Computed as two explode → two-level aggregations (token level and
    bigram level) joined on the id — each is one shuffle keyed by
    (id, gram), which scales linearly and stays skew-free; a per-row
    higher-order-function mode computation would be O(tokens²)
    interpreted. The two legs deliberately tokenize independently:
    sharing one lazily-checkpointed token-array table was MEASURED
    break-even at the ×100 corpus (58 s both ways — materializing
    corpus-sized token ARRAYS costs what the second tokenize costs,
    unlike ``template_prefix_flags``' 16-byte prefix hashes where the
    same move wins ~1.5×), so the recompute keeps the block manager
    free for nothing. Returns ``(id, n_tokens, distinct_token_frac,
    top_token_frac, dup_bigram_frac)`` with raw double fractions
    (callers round for cross-engine comparison).
    """
    from financial_data_pipeline_optimization_spark.operators.dedup import with_shingles

    tok = df.select(id_col, explode_nonempty(tokens(text_col)).alias("__tok"))
    tok_agg = (
        tok.groupBy(id_col, "__tok")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.count("*").alias("__n_distinct"),
            F.max("__c").alias("__top"),
        )
    )
    big = with_shingles(
        df.select(id_col, text_col), text_col, n=2,
        out_col="__bg", distinct=False,
    ).select(id_col, explode_nonempty("__bg").alias("__bg"))
    bg_agg = (
        big.groupBy(id_col, "__bg")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("__n_bg"),
            F.count("*").alias("__n_distinct_bg"),
        )
    )
    return tok_agg.join(bg_agg, id_col).select(
        id_col,
        "n_tokens",
        (F.col("__n_distinct") / F.col("n_tokens")).alias(
            "distinct_token_frac"
        ),
        (F.col("__top") / F.col("n_tokens")).alias("top_token_frac"),
        (1 - F.col("__n_distinct_bg") / F.col("__n_bg")).alias(
            "dup_bigram_frac"
        ),
    )


def line_dedup(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Corpus-wide exact line dedup: every line keeps exactly one
    occurrence (the lowest ``(id, position)``), documents are
    reassembled with their surviving lines in original order — the
    boilerplate-removal pass (nav bars, cookie banners, repeated
    headers) of web-corpus pipelines.

    Shuffles ``(line, id, pos)`` for the occurrence window and
    ``(id, pos)`` for the reassembly — never whole documents twice.
    Documents whose every line was seen earlier disappear from the
    output (callers left-join if empty docs must survive).
    """
    from pyspark.sql import Window

    lines = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias(
            "__pos", "__line"
        ),
    )
    w = Window.partitionBy("__line").orderBy(id_col, "__pos")
    kept = (
        lines.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias(text_col)
    )
    return reassembled


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Fixed-window character chunking with overlap: the
    context-window packing step of an LLM training pipeline (long
    documents become stride-spaced windows; consecutive chunks share
    ``overlap`` characters so no boundary context is lost).

    Windows start at ``k * stride`` (``stride = chunk_size -
    overlap``) for ``k in [0, K)`` with ``K = max(1,
    ceil((n_chars - overlap) / stride))`` — the minimal cover of the
    document; every document with text gets at least one chunk, and
    the last window is allowed to run short. Empty/null documents
    produce no chunks.

    Scale shape: one narrow projection + ``explode`` — no shuffle, no
    Python; output row count is ``~n_chars / stride`` per document,
    so the operator is linear in corpus size and pipelines straight
    into downstream dedup/tokenize stages.

    Output: ``(id, chunk_index int, chunk_start bigint,
    chunk_text string, n_chunk_chars int)``.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"need 0 <= overlap < chunk_size, got {overlap=} {chunk_size=}"
        )
    stride = chunk_size - overlap
    n = F.length(F.col(text_col))
    k_count = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride))
    ).cast("int")
    start = (F.col("chunk_index").cast("bigint") * stride).alias(
        "chunk_start"
    )
    chunk = F.col(text_col).substr(
        (F.col("chunk_index") * stride + 1).cast("int"), F.lit(chunk_size)
    )
    return (
        df.filter(n > 0)
        .select(
            id_col,
            text_col,
            F.explode(
                F.sequence(F.lit(0).cast("int"), k_count - 1)
            ).alias("chunk_index"),
        )
        .select(
            id_col,
            "chunk_index",
            start,
            chunk.alias("chunk_text"),
            F.length(chunk).alias("n_chunk_chars"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Token-window chunking with overlap: like :func:`chunk_text` but
    windows are counted in word tokens (the shared :func:`tokens`
    tokenizer), so chunks never split a token — the packing step when
    downstream budgets are token counts, not characters.

    Same minimal-cover window math as :func:`chunk_text` over the
    token array; chunk text is the space-rejoin of its token slice
    (canonicalized: lowercased, punctuation stripped — chunking
    composes with the dedup/fingerprint tokenization, by design).
    Documents with no tokens produce no chunks.

    Scale shape: narrow projection + ``explode`` + ``slice`` — no
    shuffle, no Python.

    Output: ``(id, chunk_index int, chunk_start_token bigint,
    chunk_text string, n_chunk_tokens int)``.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"need 0 <= overlap < chunk_size, got {overlap=} {chunk_size=}"
        )
    stride = chunk_size - overlap
    n = F.size(F.col("__toks"))
    k_count = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride))
    ).cast("int")
    chunk_toks = F.slice(
        F.col("__toks"), (F.col("chunk_index") * stride + 1).cast("int"),
        chunk_size,
    )
    return (
        # The nonempty-token guard runs on lower(text) (a tokens()
        # token is a maximal [a-z0-9]+ run of the LOWERCASED text, so
        # "has a token" == "lower(text) has an [a-z0-9] char"):
        # filtering on the tokenized array makes Catalyst re-inline
        # the tokenize into every Filter conjunct — three ~full-corpus
        # regex evaluations instead of one (measured ~30 s each at the
        # ×100 corpus, SCALING.md). Lowercasing first (cheap, not a
        # regex) matches the tokenizer exactly even for characters
        # whose Unicode lowercase maps INTO ascii (Kelvin sign U+212A
        # → 'k'): a raw [a-zA-Z0-9] test would disagree with
        # size(tokens(..)) on such rows.
        df.filter(F.lower(F.col(text_col)).rlike("[a-z0-9]"))
        .select(id_col, tokens(text_col).alias("__toks"))
        .select(
            id_col,
            "__toks",
            F.explode(
                F.sequence(F.lit(0).cast("int"), k_count - 1)
            ).alias("chunk_index"),
        )
        .select(
            id_col,
            "chunk_index",
            (F.col("chunk_index").cast("bigint") * stride).alias(
                "chunk_start_token"
            ),
            F.concat_ws(" ", chunk_toks).alias("chunk_text"),
            F.size(chunk_toks).alias("n_chunk_tokens"),
        )
    )


def chunk_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """The metadata-only twin of :func:`chunk_tokens`: the same
    ``(id, chunk_index, n_chunk_tokens)`` rows WITHOUT materializing
    any chunk text or carrying the token array through the explode.

    A chunk's token count is pure arithmetic on the document's token
    count — chunk ``ci`` covers tokens ``ci*stride+1 .. ci*stride+
    chunk_size`` clamped to ``n``, so ``n_chunk_tokens =
    least(chunk_size, n - ci*stride)`` — and the document's token
    count never needs the token ARRAY either: a :func:`tokens` token
    is exactly a maximal ``[a-z0-9]+`` run of the LOWERCASED text, so
    ``n = regexp_count(lower(text), '[a-z0-9]+')``: one regex scan
    (``lower`` is a cheap non-regex pass, and lowercasing first — not
    counting ``[a-zA-Z0-9]+`` runs of the raw text — matches the
    tokenizer exactly even for characters whose Unicode lowercase
    maps into ascii, e.g. Kelvin sign U+212A → ``'k'``), no array
    allocation, and the nonempty-doc filter is just ``n > 0``. The measured contrast
    at the ×100 replicated corpus (see SCALING.md): the array path
    costs ~30 s per tokenize EVALUATION and Catalyst re-inlines the
    alias into each Filter conjunct, so :func:`chunk_tokens`' head
    evaluates it three times (~89 s) before duplicating the array
    onto every exploded chunk row; this form counts the same tokens
    in a fraction of one evaluation. Use THIS for packing/budgeting
    consumers that never read chunk text; use :func:`chunk_tokens`
    when the text itself is the output.

    Same chunk grid, same empty-doc filter, bit-identical counts —
    pinned against :func:`chunk_tokens` by tests.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"need 0 <= overlap < chunk_size, got {overlap=} {chunk_size=}"
        )
    stride = chunk_size - overlap
    n = F.col("__n")
    k_count = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride))
    ).cast("int")
    return (
        df.select(
            id_col,
            F.regexp_count(
                F.lower(F.col(text_col)), F.lit("[a-z0-9]+")
            ).alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            "__n",
            F.explode(
                F.sequence(F.lit(0).cast("int"), k_count - 1)
            ).alias("chunk_index"),
        )
        .select(
            id_col,
            "chunk_index",
            F.least(
                F.lit(chunk_size),
                n - F.col("chunk_index").cast("int") * stride,
            )
            .cast("int")
            .alias("n_chunk_tokens"),
        )
    )


def pack_chunks(
    df: DataFrame,
    shard_col: str,
    order_cols: "list[str]",
    token_col: str,
    budget: int,
    out_col: str = "bin_id",
) -> DataFrame:
    """Sequence packing: assign ordered chunks to fixed token-budget
    bins — the concat-and-cut packing of GPT-style pretraining (the
    shard's chunks form one logical token stream, cut every
    ``budget`` tokens; a chunk belongs to the bin where it starts).

    A bin's total can exceed ``budget`` by at most one chunk's tokens
    (the straddling chunk) — exactly the semantics of concatenating
    documents and slicing the stream, and the reason this stays a
    single window cumsum instead of a sequential first-fit loop.
    Deterministic given ``order_cols``.

    Scale shape: ONE shuffle on ``shard_col`` (the window partition);
    within a shard the cumsum is a linear running sum. Shards are the
    parallelism unit — size them like output files (thousands of
    bins per shard), never one global stream.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(shard_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    return df.withColumn(
        out_col,
        F.floor((cum - F.col(token_col)) / F.lit(budget)).cast("long"),
    )


def dup_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-span statistics: the fraction of a
    document's word ``n``-gram positions whose n-gram occurs more than
    once in the corpus (any document, any position — including a second
    position in the same document).

    The distributable approximation of exact-substring training-data
    dedup (Lee et al., ACL 2022, "Deduplicating Training Data Makes
    Language Models Better" builds a corpus suffix array; a word-n-gram
    positional multiset catches the same boilerplate/templated spans as
    n grows): high ``dup_frac`` documents are the near-verbatim
    repeats worth dropping or down-weighting.

    Scale shape: one corpus scan explodes positional n-grams which are
    IMMEDIATELY hashed to 8-byte keys (the gram text never shuffles);
    one groupBy(hash) builds the global span-frequency table with
    map-side partial aggregation, one hash-keyed join classifies each
    position, one groupBy(id) folds to per-document stats. Short docs
    (< n tokens) contribute their single sub-n-gram remainder, so every
    non-empty document gets a row.
    """
    toks = F.filter(tokens(text_col), lambda x: x != "")
    base = df.select(F.col(id_col), toks.alias("__t"))
    spans = (
        base.select(
            id_col,
            explode_nonempty(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size("__t") - (n - 1), F.lit(1)),
                    ),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice("__t", i, n))
                    ),
                )
            ).alias("__h"),
        )
        # Two consumers (frequency table + classification join) —
        # checkpoint so the scan+explode runs once.
        .localCheckpoint(eager=False)
    )
    freq = spans.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    return (
        spans.join(freq, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum((F.col("__cnt") >= 2).cast("long"))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    sep: str = " ",
) -> DataFrame:
    """Exact duplicated-substring REMOVAL, keep-first — the rewrite
    half of :func:`dup_span_stats` (which only measures): every word
    ``n``-gram window that occurs more than once in the corpus keeps
    its single lowest-``(id, position)`` occurrence; every OTHER
    occurrence's ``n`` tokens are excised from their documents and the
    survivors are reassembled in order. This is the distributable
    word-grain form of exact-substring training-data dedup (Lee et
    al., ACL 2022 build a corpus suffix array for character-grain
    spans; a positional n-gram multiset catches the same verbatim
    boilerplate at n=50-token grain, the threshold the paper uses).

    Semantics worth pinning:

    - operates on the NORMALIZED token stream (:func:`tokens` —
      lowercased, punctuation stripped); the output ``text_col`` is
      the surviving tokens joined with ``sep`` for every document,
      so downstream length/quality stats see one consistent form;
    - documents shorter than ``n`` tokens have no windows and pass
      through (token-normalized) unchanged;
    - a token is removed when ANY non-surviving window covers it —
      where a kept first-occurrence window overlaps a removed one
      inside the same document, removal wins on the shared tokens
      (the conservative choice: never emit a token that is part of a
      known duplicated span's later occurrence);
    - a document whose every token is covered disappears from the
      output (same contract as :func:`line_dedup`; callers left-join
      if empty docs must survive);
    - excision splices previously-distant tokens together, which CAN
      mint new duplicated windows across the splice boundary — one
      pass removes every duplicate that existed in the input; callers
      wanting literally zero duplicated windows in the OUTPUT iterate
      to fixpoint (1-2 passes in practice; the idempotence test pins
      that a clean corpus passes through unchanged).

    Scale shape: positional windows are hashed to 8 bytes at the scan
    (window text never shuffles); one ``(hash)``-keyed occurrence
    window picks global first occurrences; the removed ``(id, pos)``
    pairs — duplicates only, a vanishing fraction of a healthy corpus
    — fold to one per-doc position array that joins back id-keyed; the
    excision itself is a row-local higher-order filter costing
    O(tokens x removed-windows) per document, bounded because a doc
    has at most tokens/1 removed windows and pathological all-dup docs
    are exactly the ones shrinking to nothing.
    """
    from pyspark.sql import Window

    toks = F.filter(tokens(text_col), lambda x: x != "")
    base = df.select(F.col(id_col), toks.alias("__t")).localCheckpoint(
        eager=False  # two consumers: window derivation + reassembly
    )
    spans = base.where(F.size("__t") >= n).select(
        id_col,
        explode_nonempty(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - (n - 1)),
                lambda i: F.struct(
                    i.alias("__pos"),
                    F.xxhash64(
                        F.concat_ws(" ", F.slice("__t", i, n))
                    ).alias("__h"),
                ),
            )
        ).alias("__w"),
    ).select(id_col, "__w.__pos", "__w.__h")
    occ = Window.partitionBy("__h").orderBy(id_col, "__pos")
    removed = (
        spans.withColumn("__rn", F.row_number().over(occ))
        .where(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__rm"))
    )
    kept = base.join(removed, id_col, "left").select(
        id_col,
        F.when(F.col("__rm").isNull(), F.col("__t"))
        .otherwise(
            F.filter(
                "__t",
                lambda x, i: ~F.exists(
                    "__rm",
                    lambda p: (p <= i + 1) & (i + 1 < p + n),
                ),
            )
        )
        .alias("__kept"),
    )
    return kept.where(F.size("__kept") > 0).select(
        id_col, F.concat_ws(sep, "__kept").alias(text_col)
    )


def _dup_windows_remain(
    df: DataFrame, text_col: str, n: int
) -> bool:
    """True iff any word ``n``-gram window occurs >= 2 times across the
    corpus — the fixpoint test for :func:`substring_dedup_fixpoint`.
    Same hashing as the rewrite (windows become 8-byte longs at the
    scan); the check is one partial-aggregated groupBy short-circuited
    by ``isEmpty`` (fetches at most one row to the driver)."""
    toks = F.filter(tokens(text_col), lambda x: x != "")
    hashes = (
        df.select(toks.alias("__t"))
        .where(F.size("__t") >= n)
        .select(
            explode_nonempty(
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - (n - 1)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice("__t", i, n))
                    ),
                )
            ).alias("__h")
        )
    )
    dups = (
        hashes.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
    )
    return not dups.isEmpty()


def substring_dedup_fixpoint(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    sep: str = " ",
    max_passes: int = 4,
) -> DataFrame:
    """:func:`substring_dedup` iterated until the OUTPUT contains zero
    duplicated ``n``-token windows — closing the one-pass caveat that
    excision can splice previously-distant tokens into a NEW
    duplicated window across the cut boundary.

    Each round runs one full rewrite pass, eagerly checkpoints the
    survivors (truncating lineage so pass ``k+1`` doesn't replay
    passes ``1..k``), and stops as soon as :func:`_dup_windows_remain`
    is false. In practice 1-2 passes converge (a splice-minted window
    needs the n-1 tokens on each side of a cut to line up verbatim
    somewhere else); ``max_passes`` bounds the driver loop for
    adversarial corpora — a pathological input could need O(doc)
    passes, and a bounded, reported partial clean beats an unbounded
    job. Returns the last pass's output either way; callers who must
    know can re-run the check.

    Scale: the loop is driver-side control flow over full distributed
    passes — one boolean action per pass (partial-aggregated,
    ``isEmpty``-short-circuited), never data to the driver.
    """
    out = substring_dedup(df, id_col, text_col, n=n, sep=sep)
    for _ in range(max_passes - 1):
        out = out.localCheckpoint(eager=True)
        if not _dup_windows_remain(out, text_col, n):
            break
        out = substring_dedup(out, id_col, text_col, n=n, sep=sep)
    return out


def bpe_pair_counts(
    df: DataFrame, text_col: str, top_k: int = 20
) -> DataFrame:
    """One BPE-training pair-count step at the character level: the
    ``top_k`` most frequent adjacent character pairs across the corpus,
    weighted by word frequency — the statistic each merge round of
    byte-pair-encoding tokenizer training (Sennrich et al., ACL 2016)
    maximizes.

    Scale shape — the WordPiece/BPE counting trick: the corpus scan
    reduces to a VOCABULARY-sized word-frequency table first (one
    groupBy with partial aggregation), and pair enumeration runs over
    distinct words weighted by their counts — O(vocab × word-length)
    rows instead of O(corpus tokens). Ties at the ``top_k`` boundary
    break lexicographically, so the cut is deterministic; the top-k is
    a TakeOrderedAndProject, never a global sort.
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "__c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("__c").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(top_k)
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The full Gopher quality-rule signal set (Rae et al. 2021,
    appendix A1.1), one row-local projection — no explode, no shuffle;
    every signal is a higher-order-function fold over the whitespace
    word list or the newline line list:

    - ``n_words`` / ``mean_word_len`` — raw whitespace-split words;
    - ``symbol_word_ratio`` — '#' and '...' occurrences per word;
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — lines starting
      with a bullet mark / ending with an ellipsis;
    - ``alpha_word_frac`` — words containing at least one letter;
    - ``n_stop_hits`` — how many of the 8 canonical English stopwords
      appear at least once.

    Thresholding is the caller's policy (see the
    ``gopher_quality_flags`` query for the published cutoffs); the
    stats layer stays policy-free so the same scan feeds audits.
    """
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    lines = F.split(t, "\n")
    n_words = F.size(words)
    n_lines = F.size(lines)
    hash_count = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    dots_count = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("- ")
            | F.ltrim(l).startswith("* ")
            | F.ltrim(l).startswith("•"),
        )
    )
    ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...")
            | F.rtrim(l).endswith("…"),
        )
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    low_words = F.transform(words, F.lower)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(low_words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    mean_wl = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    ) / F.greatest(n_words, F.lit(1))
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        ((hash_count + dots_count) / F.greatest(n_words, F.lit(1))).alias(
            "symbol_word_ratio"
        ),
        (bullet / F.greatest(n_lines, F.lit(1))).alias("bullet_line_frac"),
        (ellipsis / F.greatest(n_lines, F.lit(1))).alias(
            "ellipsis_line_frac"
        ),
        (alpha_words / F.greatest(n_words, F.lit(1))).alias(
            "alpha_word_frac"
        ),
        stop_hits.cast("long").alias("n_stop_hits"),
    )


def c4_line_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4 line-level cleaning signals (Raffel et al. 2020, §2.2): a
    line is KEPT when it has >= 5 whitespace words and ends in terminal
    punctuation; a document survives when >= 3 lines are kept, it does
    not mention 'lorem ipsum', and it contains no curly brace. One
    row-local projection (line list folds), no shuffle; returns the
    per-document evidence plus the ``keep`` verdict so audits and the
    filter share a scan."""
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _kept(l):
        stripped = F.trim(l)
        n_w = F.size(F.filter(F.split(stripped, r"\s+"), lambda w: w != ""))
        last = F.substring(F.rtrim(l), -1, 1)
        return (n_w >= 5) & last.isin(".", "!", "?", '"', "'")

    kept = F.filter(lines, _kept)
    n_kept = F.size(kept)
    lorem = F.contains(F.lower(t), F.lit("lorem ipsum"))
    brace = F.contains(t, F.lit("{"))
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        F.aggregate(
            kept, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
        ).alias("kept_chars"),
        lorem.alias("has_lorem"),
        brace.alias("has_brace"),
        ((n_kept >= 3) & ~lorem & ~brace).alias("keep"),
    )


def _merge_pair_fold(syms, a: str, b: str):
    """Greedy left-to-right merge of adjacent pair ``(a, b)`` in a
    symbol array, as one row-local ``aggregate`` fold with a
    (out, pending) struct accumulator: 'aaa' with pair (a,a) →
    [aa, a]; 'aaaa' → [aa, aa] — exactly the merge BPE training
    applies (Sennrich et al., ACL 2016). No symbol is ever the empty
    string, so '' is a safe no-pending sentinel."""
    empty = F.array().cast("array<string>")
    return F.aggregate(
        syms,
        F.struct(empty.alias("out"), F.lit("").alias("pend")),
        lambda acc, x: F.when(
            (acc.pend == a) & (x == b),
            F.struct(
                F.concat(acc.out, F.array(F.lit(a + b))).alias("out"),
                F.lit("").alias("pend"),
            ),
        )
        .when(
            acc.pend == "",
            F.struct(acc.out.alias("out"), x.alias("pend")),
        )
        .otherwise(
            F.struct(
                F.concat(acc.out, F.array(acc.pend)).alias("out"),
                x.alias("pend"),
            )
        ),
        lambda acc: F.when(acc.pend == "", acc.out).otherwise(
            F.concat(acc.out, F.array(acc.pend))
        ),
    )


def bpe_train_merges(
    df: DataFrame, text_col: str, rounds: int = 3
) -> DataFrame:
    """Distributed BPE tokenizer training: run ``rounds`` merge
    iterations and return the learned merge table
    ``(round, sym_a, sym_b, merged, pair_count)``.

    Scale shape: the ONLY corpus-scale work is the initial
    word-frequency aggregation (one partial-agg groupBy). Every round
    after that operates on the VOCABULARY table — adjacent-pair
    enumeration is a row-local transform over each word's symbol
    array weighted by word frequency, the argmax pair is one bounded
    driver action (a 1-row ordered limit, the same justified pattern
    as IVF centroid training), and the merge itself is a row-local
    fold (:func:`_merge_pair_fold`). Per-round lineage is truncated
    with ``localCheckpoint`` exactly like the other iterative
    operators (graph, IVF). Ties break by (count desc, pair lexico),
    so the learned merges are deterministic across engines and runs.
    """
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
        .localCheckpoint(eager=False)
    )
    merges = []
    for r in range(1, rounds + 1):
        s = F.col("syms")
        pairs = vocab.where(F.size(s) >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("a"),
                        F.element_at(s, i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .first()
        )
        if top is None:
            break
        merges.append((r, top["a"], top["b"], top["a"] + top["b"], top["c"]))
        vocab = vocab.select(
            "freq", _merge_pair_fold(F.col("syms"), top["a"], top["b"]).alias("syms")
        ).localCheckpoint(eager=False)
    return local_table(
        df.sparkSession,
        merges,
        "round int, sym_a string, sym_b string, merged string, "
        "pair_count long",
    )


def relative_length_flags(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str,
    lo_pct: int = 5,
    hi_pct: int = 98,
) -> DataFrame:
    """CCNet-style RELATIVE length filtering (Wenzek et al. 2020): flag
    each document against its own group's (language's) token-count
    distribution rather than a global absolute threshold — 30 tokens is
    short for English prose and normal for a zh headline, so absolute
    cuts systematically bias multilingual corpora.

    A document is kept iff its token count ``c`` is inside the group's
    central mass: strictly more than ``lo_pct``% of the group's
    documents have count ≤ ``c`` AND strictly less than ``hi_pct``% of
    them have count < ``c``. Both comparisons are pure BIGINT
    arithmetic (``cum*100 > lo_pct*total``), so the verdicts are
    bit-identical across engines — no interpolated-percentile floats
    at the decision boundary.

    Scale shape: the per-document count is a narrow row-local map; the
    distribution is the aggregate ``(group, count) → n_docs`` table —
    bounded by #groups × #distinct lengths (thousands of rows at any
    corpus size), so the cumulative window runs over a TINY aggregate,
    never over documents; the flags then join back on
    ``(group, count)`` where the aggregate side broadcasts. This is
    the aggregate-then-window layering that survives 100 TB — the
    naive per-document ``percent_rank`` window would sort every
    document within each group.

    Returns ``(id, group, n_tokens int, keep boolean)``.
    """
    from pyspark.sql import Window

    # Token count without the tokenizer: a tokens() token is a maximal
    # [a-z0-9]+ run of the LOWERCASED text (lowercasing first matches
    # the tokenizer exactly even for chars whose Unicode lowercase
    # maps into ascii, e.g. Kelvin sign U+212A → 'k'), except that an
    # alnum-free non-null document tokenizes to [''] (count 1, not 0)
    # — hence the greatest(.., 1) clamp; NULL stays NULL. One cheap
    # regex scan per consumer instead of the full array tokenize:
    # `counts` feeds both the histogram and the flag join-back, and
    # the un-checkpointed tokenize ran TWICE (measured ~90 s at the
    # ×100 corpus vs ~30 s per evaluation, SCALING.md). Equivalence
    # with size(tokens(..)) is test-pinned.
    counts = df.select(
        F.col(id_col),
        F.col(group_col),
        F.when(
            F.col(text_col).isNotNull(),
            F.greatest(
                F.regexp_count(
                    F.lower(F.col(text_col)), F.lit("[a-z0-9]+")
                ),
                F.lit(1),
            ),
        ).alias("n_tokens"),
    )
    hist = counts.groupBy(group_col, "n_tokens").agg(
        F.count("*").alias("__n")
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(group_col)
    flags = (
        hist.withColumn("__cum", F.sum("__n").over(w_cum))
        .withColumn("__tot", F.sum("__n").over(w_tot))
        .select(
            group_col,
            "n_tokens",
            (
                (F.col("__cum") * 100 > F.lit(lo_pct) * F.col("__tot"))
                & (
                    (F.col("__cum") - F.col("__n")) * 100
                    < F.lit(hi_pct) * F.col("__tot")
                )
            ).alias("keep"),
        )
    )
    return counts.join(
        F.broadcast(flags), [group_col, "n_tokens"]
    ).select(id_col, group_col, "n_tokens", "keep")


def template_prefix_flags(
    df: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Template/boilerplate detection by shared document HEAD: flag
    documents whose first ``k`` tokens are identical to at least
    ``min_docs - 1`` other documents from the same source — the cheap
    tell of templated pages (mail-merge product pages, auto-generated
    listings, mirrored headers) that near-dup pipelines run as a
    pre-filter because it is one aggregation instead of a pairwise
    candidate join.

    Scale shape: the prefix is a row-local map hashed to md5, the
    profile is one ``(source, prefix-hash)`` partial-agg count —
    shuffles 16-byte keys only — and the flag joins back on the same
    key (the profile side is the distinct-prefix set; at web scale it
    is corpus-sized/doc-length smaller than the corpus and AQE picks
    the join strategy). Documents never move: the probe side keeps its
    (id, prefix) rows in place and only the tiny profile exchanges +
    broadcasts (pinned in ``tests/test_curation_extras.py``).

    Precondition: ``df`` has ONE ROW PER ``id_col`` (the normal corpus
    shape) — the profile counts rows, not distinct ids, precisely so
    the aggregation needs no extra distinct exchange; dedup upstream
    if ids can repeat.

    Returns ``(id, source, is_template boolean)``.
    """
    pre = df.select(
        F.col(id_col),
        F.col(source_col),
        F.md5(
            F.concat_ws(" ", F.slice(tokens(text_col), 1, k))
        ).alias("__p"),
        # Lazily checkpointed: `pre` feeds BOTH the profile aggregate
        # and the flag join-back, and without the checkpoint each leg
        # re-runs the corpus tokenize (measured ~60 s vs ~30 s per
        # evaluation at the ×100 corpus, SCALING.md). The table is
        # (id, source, 16-byte hash) — doc-count-sized, tiny.
    ).localCheckpoint(eager=False)
    prof = pre.groupBy(source_col, "__p").agg(
        F.count(F.lit(1)).alias("__nd")
    )
    return pre.join(prof, [source_col, "__p"]).select(
        id_col,
        source_col,
        (F.col("__nd") >= F.lit(min_docs)).alias("is_template"),
    )
