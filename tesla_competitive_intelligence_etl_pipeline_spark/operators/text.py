"""X-5: text analysis operators for LLM-data pipelines (SURVEY.md §2.9).

All pure Column expressions — JVM-side, codegen-friendly, no Python on the
hot path. Designed for 100 TB: every op is a narrow map over the text column
(no shuffle), so it pipelines with the scan.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via globals
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lexicons for the n-gram/stopword heuristic
# language-ID. At scale this would be a broadcast lexicon table; the operator
# shape (count weighted stopword hits per language, argmax) is the same.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(text, r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token counting: alpha runs, digit runs, and lone symbols —
    the standard pre-tokenizer regex shape."""
    return F.size(F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1))


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Count occurrences of any marker word (word-boundary anchored)."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 1))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, words) for lang, words in LANG_MARKERS.items()}


def predicted_lang(text: Column) -> Column:
    """Argmax over per-language stopword hit counts; ties broken by language
    code order (deterministic); no hits at all -> 'unknown'."""
    scores = lang_scores(text)
    pairs = [F.struct(c.alias("score"), F.lit(lang).alias("lang")) for lang, c in sorted(scores.items())]
    best = F.greatest(*pairs) if len(pairs) > 1 else pairs[0]
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(F.lit("unknown"))


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring features (length, token stats, uniqueness, punct/digit
    ratios) — the usual pre-training heuristics."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    n_uniq = F.size(F.array_distinct(toks))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"([^\w\s])"), 1))
    n_digit = F.size(F.regexp_extract_all(text, F.lit(r"([0-9])"), 1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "uniq_token_ratio": n_uniq.cast("double") / n_tok.cast("double"),
        "avg_token_len": (n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double"),
        "punct_ratio": n_punct.cast("double") / n_chars.cast("double"),
        "digit_ratio": n_digit.cast("double") / n_chars.cast("double"),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: penalize too-short docs, low token
    diversity, heavy punctuation/digits."""
    f = quality_features(text)
    length_ok = F.least(f["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0))
    diversity = f["uniq_token_ratio"]
    clean = F.lit(1.0) - F.least(f["punct_ratio"] + f["digit_ratio"], F.lit(1.0))
    return F.round((length_ok + diversity + clean) / F.lit(3.0), 6)


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip non-word chars."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(text), r"[^\w\s]", ""), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (stable across
    engines — used as the exact-dedup key)."""
    return F.md5(normalized_text(text))


def _sliding_tuples(arr: Column, n: int, combine) -> Column:
    """All length-n sliding windows of ``arr`` combined by
    ``combine(c0, ..., cn-1)`` — built from n bulk ``slice``s zipped
    together instead of ``transform(sequence(...), <per-window lookup>)``.

    Per-task work (guide §1.2 step 2): higher-order functions run
    interpreted, and the per-gram ``F.get``/``F.slice`` form paid n
    bounds-checked lookups (or an n-element copy) plus an index-array
    materialization per row; this form does n bulk array copies and one
    fused combine per window. Measured 1.50 s -> 0.36 s (4.2x) for trigram
    hashed shingling over sf0.1 documents with bit-identical output.
    Caller guards ``size(arr) >= n``."""
    length = F.size(arr) - (n - 1)
    sl = [F.slice(arr, k + 1, length) for k in range(n)]
    if n == 1:
        return F.transform(sl[0], lambda x: combine(x))
    if n == 2:
        return F.zip_with(sl[0], sl[1], lambda x, y: combine(x, y))
    # n >= 3: fold the trailing n-1 slices into a struct column-wise, then
    # one final zip applies `combine` over the full window
    acc = F.zip_with(
        sl[n - 2], sl[n - 1], lambda x, y: F.struct(x.alias("f0"), y.alias("f1"))
    )
    width = 2
    # NB: zip_with evaluates its callback EAGERLY to build the expression
    # tree (and requires exactly-2-arg callables), so plain closures over
    # `width` are safe — each call sees the loop's current value.
    for k in range(n - 3, 0, -1):
        acc = F.zip_with(
            sl[k],
            acc,
            lambda x, st: F.struct(
                x.alias("f0"),
                *[st.getField(f"f{i}").alias(f"f{i + 1}") for i in range(width)],
            ),
        )
        width += 1
    return F.zip_with(
        sl[0], acc, lambda x, st: combine(x, *[st.getField(f"f{i}") for i in range(width)])
    )


def ngrams(text: Column, n: int) -> Column:
    """ALL word n-grams in order (non-distinct — repetition analysis needs the
    multiplicities; `shingles` is the distinct variant for MinHash). Docs with
    fewer than n tokens collapse to their single joined-token gram."""
    toks = tokens(normalized_text(text))
    return F.when(
        F.size(toks) >= n,
        _sliding_tuples(toks, n, lambda *cols: F.concat_ws(" ", *cols)),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def dup_ngram_fraction(text: Column, n: int = 3) -> Column:
    """Gopher-style repetition signal: fraction of n-gram occurrences that are
    repeats of an earlier n-gram in the same document
    (1 - distinct/total). Pure array expression — no shuffle, pipelines with
    the scan."""
    grams = ngrams(text, n)
    total = F.size(grams).cast("double")
    return F.round(F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total, 6)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the MinHash input set)."""
    return F.array_distinct(ngrams(text, n))


# ---------------------------------------------------------------------------
# PII scanning (pre-training scrub pass). Patterns restricted to syntax valid
# in BOTH Java regex (Spark) and RE2 (DuckDB) so the oracle twin matches:
# no backreferences, no lookaround.
# ---------------------------------------------------------------------------

PII_PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": r"https?://[^\s]+",
    "phones": r"\d{3}[-.]\d{3}[-.]\d{4}",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Occurrence count per PII class (JVM-side regexp_count)."""
    return {name: F.regexp_count(text, F.lit(pat)) for name, pat in PII_PATTERNS.items()}


def redact_pii(text: Column, replacement: str = "[REDACTED]") -> Column:
    """Replace every PII occurrence; chained regexp_replace, one codegen pass."""
    out = text
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, replacement)
    return out


# ---------------------------------------------------------------------------
# BPE merge-candidate mining (tokenizer training, step 1): corpus-wide
# adjacent-token-pair frequencies. The first merge of every BPE training run
# is argmax over exactly this table; at 100 TB it is the canonical
# "explode adjacent pairs -> partial-agg groupBy" plan — pairs are generated
# map-side with array slicing (no self-join), and only (pair, count) rows
# shuffle. SQL-expressible, so oracle-checkable.
# ---------------------------------------------------------------------------


def adjacent_pairs(text: Column) -> Column:
    """Array of 'a b' adjacent token pairs of the normalized text (length
    n-1 for n tokens; empty for single-token docs)."""
    toks = tokens(normalized_text(text))
    n = F.size(toks)
    return F.when(
        n >= 2,
        _sliding_tuples(toks, 2, lambda a, b: F.concat_ws(" ", a, b)),
    ).otherwise(F.array().cast("array<string>"))


def bpe_pair_frequencies(
    docs: "DataFrame", text_col: str = "text", top_k: int = 100
) -> "DataFrame":
    """Top-k most frequent adjacent token pairs across the corpus with a
    total order (count desc, pair asc) — the BPE merge-candidate table.
    Returns (rank, pair, freq)."""
    from pyspark.sql import Window

    # pair generation is CPU-bound per row; small single-file inputs arrive
    # as one partition, so spread across cores first (a conditional
    # keyed spread — a no-op at scale where inputs are already split, and
    # no round-robin pre-sort; guide §2.4/§2.5)
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    pairs = spread(docs, text_col).select(
        F.explode(adjacent_pairs(F.col(text_col))).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("freq"))
    # A bare global row_number would pull the WHOLE vocabulary through one
    # partition. Two-phase top-k instead: each partition keeps its local
    # top-k (any global top-k member is a local top-k member of its
    # partition), then the final exact rank sorts only <= k * n_partitions
    # survivor rows — the same contract as RDD takeOrdered, in DataFrame form.
    w_local = Window.partitionBy("__pid").orderBy(
        F.col("freq").desc(), F.col("pair").asc()
    )
    survivors = (
        counts.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= top_k)
        .drop("__pid", "__lrn")
    )
    w_global = Window.orderBy(F.col("freq").desc(), F.col("pair").asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w_global).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("rank", "pair", "freq")
    )


# ---------------------------------------------------------------------------
# Context-window chunking: split long documents into fixed-token chunks with
# overlap — the pre-embedding / pre-packing step of RAG and pretraining
# pipelines. Pure array expressions (sequence + explode + slice), map-side
# except the explode's row fan-out; no shuffle. SQL-expressible (DuckDB list
# slicing), so oracle-checkable including chunk CONTENT via md5.
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> "DataFrame":
    """One row per chunk: (id, chunk_ix, n_tokens, chunk_text). Chunk i
    covers tokens [i*step, i*step + chunk_tokens) with step = chunk_tokens -
    overlap; the final chunk may be short. Tokens are whitespace splits of
    the raw text (chunking must not alter content — no normalization)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    return (
        spread(docs, id_col)
        .select(
            F.col(id_col),
            toks.alias("__tk"),
            F.explode(starts).alias("__start"),
        )
        .select(
            F.col(id_col),
            (F.col("__start") / step).cast("long").alias("chunk_ix"),
            F.slice(F.col("__tk"), F.col("__start") + 1, chunk_tokens).alias("__chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_ix",
            F.size("__chunk").cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF-style keyword extraction: per-document top-k terms by term frequency
# weighted with inverse document frequency. The idf here is the RATIONAL
# variant tf * N / df (exact small-integer arithmetic in doubles => the
# DuckDB oracle matches bit-for-bit; classic ln-idf is a one-expression swap
# that only rescales monotonically, so top-k membership per doc is identical
# whenever df differs).
# ---------------------------------------------------------------------------


def keyword_scores(
    docs: "DataFrame", text_col: str = "text", id_col: str = "doc_id", top_k: int = 5
) -> "DataFrame":
    """Per-document top-k keywords by tf * (N / df), total order
    (score desc, token asc). Returns (id, rank, tok, score).

    Scale shape: tokenize map-side; tf and df are two partial-aggregable
    groupBys (only (doc, token, count) / (token, count) rows shuffle — never
    text); the scoring join is by token; the ranking window partitions by
    document, so no global sort. The corpus-size scalar N enters as a 1-row
    broadcast."""
    from pyspark.sql import Window

    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    tok = (
        spread(docs, id_col)
        .select(F.col(id_col), F.explode(tokens(normalized_text(F.col(text_col)))).alias("tok"))
    )
    tf = tok.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    df = tok.groupBy("tok").agg(F.count_distinct(F.col(id_col)).alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "tok",
            F.round(
                F.col("tf").cast("double") * F.col("n_docs").cast("double")
                / F.col("df").cast("double"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "rank", "tok", "score")
    )


def rare_token_stats(
    docs: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_df: int = 2,
) -> "DataFrame":
    """Corpus-relative quality signal: per document, the fraction of its
    DISTINCT tokens whose corpus document-frequency is <= ``rare_df`` — the
    exact-arithmetic stand-in for LM-perplexity filtering (documents full of
    tokens the rest of the corpus never uses are junk/noise candidates;
    ln-based logprob scoring is deliberately avoided because libm rounding
    differs across engines while integer df ratios hash-match exactly).

    Two partial-aggregable groupBys over (doc, token) pairs — text itself
    never shuffles — plus one join against the document-frequency table
    (vocabulary-sized; AQE broadcasts it when small). Returns
    (id, n_distinct, rare_rate)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("__df"))
    return (
        toks.join(dfreq, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_distinct"),
            F.round(
                F.sum(F.when(F.col("__df") <= rare_df, 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("rare_rate"),
        )
        .orderBy(id_col)
    )


def _symbolize(word: Column, eow: str | None = None) -> Column:
    """A word's initial BPE symbol string: one space-separated symbol per
    character, optionally terminated by an end-of-word marker symbol
    (standard Sennrich '</w>'). The marker is ONE symbol (symbols are
    space-delimited, so a multi-char marker stays atomic); with it, merges
    learned at a word's end can never be confused with word-internal
    merges at decode time."""
    sym = F.trim(F.regexp_replace(word, "(.)", "$1 "))
    if eow:
        if " " in eow:
            raise ValueError(f"eow marker must not contain spaces: {eow!r}")
        sym = F.concat(sym, F.lit(" " + eow))
    return sym


# Above this many learned merges, the chained-replace EXPRESSION form of
# bpe_apply_merges stops being sensible (3 replaces per merge; a 32k-merge
# production vocabulary would be ~100k nested expressions — codegen and
# analysis both choke) and encoding switches to the Arrow-batched pandas_udf
# twin, which applies the same algorithm from one broadcast Python list.
# Same measured literal-vs-join switch discipline as kmeans
# (operators/clustering.py): the expression form is faster while it fits.
BPE_EXPR_MAX_MERGES = 64

# GPT-2's pre-tokenization pattern (Radford et al. 2019, the regex every
# byte-level BPE descendant ships): contractions, optional-leading-space
# letter runs, number runs, punctuation runs, then whitespace — trailing
# whitespace-before-nonspace split off by the lookahead. Java regex
# supports \p{L}/\p{N} and the lookahead natively, so the split is one
# JVM-side regexp_extract_all; case is PRESERVED (no lower()).
GPT2_PRETOK_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)
# GPT-2's byte-to-printable surrogates (chr(0x100 + byte), the visible
# convention from its byte encoder) for EVERY character the pattern's
# ``\s`` can match — Java regex ``\s`` is exactly the six ASCII
# whitespace chars [ \t\n\x0B\f\r] (no UNICODE_CHARACTER_CLASS), so this
# table covers the whole whitespace alphabet pieces can contain
# (including \x0B and \f: they match ``\s``, and without a surrogate
# their pieces would be silently dropped).
# The trainer's symbol strings are space-SEPARATED, so a literal space
# inside a piece would corrupt them; surrogates keep pieces atomic.
# Unicode-only whitespace (U+00A0, U+2000-U+200A, U+3000, ...) is NOT
# ``\s`` to Java: the pattern segments it into the [^\s\p{L}\p{N}] runs,
# where it rides through symbolization untouched (symbols are split on
# ASCII space alone) — character-lossless, pinned in tests.
_WS_CHARS, _WS_SURROGATES = " \n\t\r\x0b\x0c", "ĠĊĉčċČ"


def pretokenize_pieces(col: Column, mode: str = "whitespace") -> Column:
    """Text -> ARRAY of word pieces, the boundary the BPE trainer/encoder
    merges within.

    - ``"whitespace"`` (default): the lowercased ``\\s+`` split — keeps every
      pinned oracle byte-identical.
    - ``"gpt2"``: the GPT-2 regex — contractions split off, letter/number/
      punctuation runs with the leading-space convention, CASE PRESERVED;
      whitespace chars map to GPT-2's printable surrogates (Ġ Ċ ĉ č ċ Č —
      the full ASCII ``\\s`` alphabet the pattern splits on) so
      pieces survive the trainer's space-separated symbol encoding, and
      ``gpt2_detokenize`` maps them back for the exact (case-preserving)
      round trip. Unicode-only spaces (U+00A0, U+3000, ...) are not
      ``\\s`` to the JVM regex: they segment as non-letter/number runs
      and pass through untouched — every input character survives to
      decode (round-trip pinned incl. exotic whitespace). The trailing
      whitespace-bearing filter is a pure invariant guard: with the full
      surrogate table it can never drop a piece."""
    if mode == "whitespace":
        return F.split(F.lower(col), r"\s+")
    if mode == "gpt2":
        pieces = F.regexp_extract_all(col, F.lit(GPT2_PRETOK_RE), F.lit(0))
        return F.filter(
            F.transform(
                pieces, lambda p: F.translate(p, _WS_CHARS, _WS_SURROGATES)
            ),
            lambda p: ~p.rlike(r"\s"),
        )
    raise ValueError(f"pretokenize must be 'whitespace' or 'gpt2', got {mode!r}")


def gpt2_detokenize(col: Column) -> Column:
    """Inverse of the gpt2 piece surrogates: glued decoded pieces back to
    the original text (Ġ Ċ ĉ č ċ Č -> space/newline/tab/CR/VT/FF) — with
    ``pretokenize='gpt2'`` the pattern partitions the input, so
    gpt2_detokenize(decode(encode(x))) == x EXACTLY, case included
    (pinned in tests) — for text that does not itself contain the six
    surrogate code points (U+0120/U+010A/U+0109/U+010D/U+010B/U+010C). A document
    literally spelling 'Ġ' survives encode/decode but detokenizes to a
    space — the string-level-detokenizer ambiguity bpe_decode documents
    for byte tokens; real GPT-2 sidesteps it by mapping EVERY input byte
    into the surrogate alphabet, which is a different (byte-level)
    tokenizer contract than this symbol-level trainer implements."""
    return F.translate(col, _WS_SURROGATES, _WS_CHARS)


def bpe_apply_merges(
    word: Column, merges: list[tuple[str, str]], eow: str | None = None
) -> Column:
    """Encode a word with a LEARNED merge list: apply each (pair, merged)
    in rank order, leftmost non-overlapping, repeated to fixpoint — the
    EXACT rewrite bpe_train performs on its dictionary each round, so
    encoding an in-vocab word reproduces its trained spelling exactly and
    out-of-vocab words (held-out corpora, words past the trainer's
    max_word_len) get the merges the trainer would have applied
    (a char-count fallback would understate compression).
    Sequential rank-order application is deliberately the trainer's
    semantics, not reference-BPE's repeatedly-lowest-applicable-rank
    scan: this trainer's vocab was BUILT by sequential rewrites, so the
    encoder must match it to be self-consistent (and hash-checkable
    against the same unrolled-rounds oracle).

    Pure JVM expression chain (3 replaces per merge — the trainer's
    fixpoint bound for <=64-symbol words); for merge lists past
    BPE_EXPR_MAX_MERGES use bpe_apply_merges_udf."""
    if len(merges) > BPE_EXPR_MAX_MERGES:
        raise ValueError(
            f"{len(merges)} merges exceeds the expression-form limit "
            f"({BPE_EXPR_MAX_MERGES}); use bpe_apply_merges_udf"
        )
    padded = F.concat(F.lit(" "), _symbolize(word, eow), F.lit(" "))
    for pair, merged in merges:
        for _ in range(3):  # leftmost non-overlapping, to fixpoint
            padded = F.replace(padded, F.lit(f" {pair} "), F.lit(f" {merged} "))
    return F.trim(padded)


def bpe_apply_merges_udf(merges: list[tuple[str, str]], eow: str | None = None):
    """Arrow-batched twin of bpe_apply_merges for production-sized merge
    lists (a 32k-merge vocabulary is ~1 MB — broadcast to every executor
    inside the serialized udf, applied per word batch). Identical
    semantics: sequential rank-order, leftmost non-overlapping (Python
    str.replace), to TRUE fixpoint (a superset of the expression form's
    3-pass bound, equal on every word the bound covers). Returns a
    pandas_udf mapping word -> encoded symbol string."""
    from pyspark.sql.functions import pandas_udf

    frozen = [(f" {p} ", f" {m} ") for p, m in merges]
    suffix = f" {eow}" if eow else ""

    @pandas_udf("string")
    def _apply(words: pd.Series) -> pd.Series:
        def enc(w: str) -> str:
            s = " " + " ".join(w) + suffix + " "
            for pat, rep in frozen:
                while pat in s:
                    s = s.replace(pat, rep)
            return s.strip()

        return words.map(enc)

    return _apply


def _bpe_local_apply(sym: str, pair: str, merged: str) -> str:
    """The trainer's merge rewrite on ONE symbol string — the exact local
    twin of the distributed round's padded 3-pass F.replace (leftmost
    non-overlapping replace-all per pass, 3 passes cover the trainer's
    <=64-symbol words), so local and distributed training produce
    bit-identical dictionaries."""
    s = f" {sym} "
    pat, rep = f" {pair} ", f" {merged} "
    for _ in range(3):
        s = s.replace(pat, rep)
    return s.strip()


def _bpe_train_local(
    rows, rounds: int, min_pair_count: int | None
) -> tuple[list, list]:
    """The merge loop of bpe_train run DRIVER-LOCALLY over a collected
    (word, sym, freq) dictionary (the one real
    scale ceiling): the distributed trainer pays one Spark job PER MERGE
    (an orderBy().first() round trip), which is fine for gate-sized vocabs
    but wall-clock infeasible for a production 32-64k-merge vocabulary —
    tens of thousands of sequential driver round trips over a table that
    comfortably fits driver memory. This is how reference trainers (HF
    tokenizers, SentencePiece) work: the corpus-scale work is the ONE
    distributed word-frequency aggregation; the merge loop is pure
    dictionary state.

    Semantics are the distributed loop's EXACTLY (equivalence-pinned in
    tests): per round, adjacent-pair counts weighted by word freq with
    overlapping occurrences counted per position; argmax by (count DESC,
    pair ASC) — Python string comparison is code-point order, the same
    order Spark's binary UTF8 string sort yields; the min_pair_count floor
    is a BREAK before learning; the winning pair is rewritten with the
    3-pass leftmost-non-overlapping replace. Incremental bookkeeping (a
    lazy max-heap over pair counts + a pair->words index, the standard BPE
    trainer structure) makes each round O(words containing the winning
    pair), not O(dictionary) — measured ~10^2-10^3 rounds/sec at gate
    scale vs the distributed loop's ~1-2 rounds/sec (SCALING.md).

    Returns (merges, final_word_syms): merges as (rank, pair, merged,
    count) tuples; final_word_syms as (word, sym) for return_vocab."""
    import heapq
    from collections import Counter

    words = [r[0] for r in rows]
    syms = [r[1].split(" ") for r in rows]
    freqs = [int(r[2]) for r in rows]

    def _pairs(toks: list) -> list:
        return [f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)]

    pair_counts: dict[str, int] = {}
    pair_words: dict[str, set] = {}
    for i, toks in enumerate(syms):
        f = freqs[i]
        for p in _pairs(toks):
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(i)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple] = []
    for rank in range(1, rounds + 1):
        best = None
        while heap:
            negc, p = heap[0]
            if pair_counts.get(p, 0) == -negc:
                best = (p, -negc)
                break
            # stale entry (the count changed since this push; every
            # increase pushed a fresh entry, so the live maximum is
            # always still in the heap)
            heapq.heappop(heap)
        if best is None:
            break
        pair, cnt = best
        if min_pair_count is not None and cnt < int(min_pair_count):
            break  # sub-floor merge is NOT learned (HF min_frequency)
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, cnt))
        for i in sorted(pair_words.get(pair, ())):
            old = syms[i]
            new_s = _bpe_local_apply(" ".join(old), pair, merged)
            new = new_s.split(" ")
            if new == old:
                continue  # stale index membership — the pair is gone here
            f = freqs[i]
            delta = Counter(_pairs(new))
            delta.subtract(_pairs(old))
            for p2, d in delta.items():
                if d == 0:
                    continue
                nc = pair_counts.get(p2, 0) + d * f
                if nc <= 0:
                    pair_counts.pop(p2, None)
                else:
                    pair_counts[p2] = nc
                    heapq.heappush(heap, (-nc, p2))
                if d > 0:
                    pair_words.setdefault(p2, set()).add(i)
            syms[i] = new
    return merges, [(words[i], " ".join(syms[i])) for i in range(len(words))]


def bpe_train(
    docs,
    text_col: str = "text",
    n_merges: int = 3,
    max_word_len: int = 64,
    reliable: bool = False,
    return_vocab: bool = False,
    eow: str | None = None,
    target_vocab: int | None = None,
    min_pair_count: int | None = None,
    pretokenize: str = "whitespace",
    strategy: str = "distributed",
    local_budget_rows: int = 2_000_000,
):
    """Distributed BPE tokenizer training (Sennrich-style word-frequency
    formulation): ONE corpus-scale pass builds the (word, freq) dictionary
    — the only shuffle that grows with data volume — and every merge round
    then runs over that vocab-sized table, so training cost at 100 TB is
    one groupBy(word) plus n_merges tiny jobs, not n_merges corpus scans.

    Each round: adjacent symbol pairs weighted by word frequency →
    argmax (count DESC, pair ASC — deterministic tie-break) → merge the
    winning pair in every word's symbol string. The merge applies
    leftmost non-overlapping replacement REPEATED TO FIXPOINT (3 passes
    cover words <= 64 symbols; measured bound is 2) — a well-defined
    variant of greedy BPE that both Spark's and DuckDB's replace()
    implement identically, which is what makes the trainer hash-checkable
    end-to-end against an unrolled SQL oracle (same precedent as the
    unrolled-Lloyd k-means). ``eow`` appends an
    end-of-word marker SYMBOL (standard Sennrich ``'</w>'``) to every
    word's symbol string before training, so merges that absorb a word's
    final character are distinct from word-internal merges and decoding
    can recover word boundaries. Default None keeps the existing pinned
    oracles byte-identical.

    Driver-held state is ONE (pair, count) row per round — the argmax
    scalar, like kmeans' convergence check — never the dictionary.
    Returns (merge_rank, pair, merged, pair_count), the learned merge
    ops in order; with ``return_vocab=True`` also the final (word, sym)
    vocabulary for bpe_token_counts. ``reliable`` swaps the per-round lineage truncation to
    real checkpoints (see operators/dedup._truncate_lineage).

    Stop rules (how real tokenizers train):
    ``target_vocab=N`` trains until the NOMINAL vocabulary (alphabet +
    one entry per merge — the HF vocab_size accounting) reaches N: each
    merge adds exactly one entry, so the round count is N - |alphabet|
    (one vocab-sized distinct count up front; N below the alphabet size
    means zero merges), and ``n_merges`` is ignored. The realized symbol
    table can be smaller when a merge consumes every occurrence of a
    base symbol. ``min_pair_count=M`` stops
    BEFORE learning a merge whose best pair occurs < M times (the
    HF-trainer min_frequency floor — sub-floor merges memorize noise).
    Both are driver-visible scalars, so the unrolled SQL oracle
    reproduces them as round gates (_bpe_oracle_sql).

    ``pretokenize``: the word-boundary rule in
    front of the merges — ``"whitespace"`` (default, lowercased) or
    ``"gpt2"`` (the production regex: contractions, letter/number/punct
    runs, leading-space convention, case preserved; see
    pretokenize_pieces). Train-time choice like eow — encode with the
    SAME mode (bpe_encode_ids ``pretokenize=``), persisted by
    bpe_save.

    ``strategy`` (the vocab-scale training
    path): ``'distributed'`` (default — every round is one Spark job over
    the vocab-sized table, the oracle-parity path), ``'local'`` (collect
    the (word, sym, freq) dictionary ONCE after the corpus-scale groupBy
    and run the merge loop driver-locally with incremental pair-count
    bookkeeping — bit-identical merge lists, ~2-3 orders of magnitude
    more rounds/sec, the only wall-clock-feasible path for a production
    32-64k-merge vocabulary), or ``'auto'`` (local iff the distinct-word
    dictionary fits ``local_budget_rows``, else distributed). The
    dictionary — NOT the corpus — is what's collected: at 100 TB a
    deduplicated word-frequency table is tens of millions of rows
    (Heaps' law), a driver-sized object, which is exactly how HF/
    SentencePiece trainers are structured. ``'local'`` raises when the
    dictionary exceeds the budget instead of silently OOMing the
    driver."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators.dedup import _truncate_lineage

    if strategy not in ("distributed", "local", "auto"):
        raise ValueError(
            f"strategy must be 'distributed', 'local', or 'auto', got "
            f"{strategy!r}"
        )
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(
                pretokenize_pieces(F.col(text_col), pretokenize)
            ).alias("word")
        )
        .filter((F.col("word") != "") & (F.length("word") <= max_word_len))
    )
    wf = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            _symbolize(F.col("word"), eow).alias("sym"),
            F.col("freq"),
        )
    )
    if strategy != "distributed":
        # ONE corpus-scale job (a count() pre-check would run the
        # word-frequency groupBy twice): collect at most budget+1 rows —
        # the limit bounds the driver transfer, and the extra row is the
        # over-budget signal
        rows = wf.limit(int(local_budget_rows) + 1).collect()
        if len(rows) > int(local_budget_rows):
            if strategy == "local":
                raise ValueError(
                    f"bpe_train(strategy='local'): the distinct-word "
                    f"dictionary exceeds the "
                    f"local_budget_rows={local_budget_rows} driver budget "
                    "— raise the budget or use strategy='auto'/"
                    "'distributed'"
                )
        else:
            if target_vocab is not None:
                alpha = len({s for r in rows for s in r[1].split(" ")})
                rounds = max(0, int(target_vocab) - alpha)
            else:
                rounds = int(n_merges)
            merges, word_syms = _bpe_train_local(rows, rounds, min_pair_count)
            merges_df = spark.createDataFrame(
                merges,
                "merge_rank int, pair string, merged string, pair_count long",
            )
            if return_vocab:
                return merges_df, spark.createDataFrame(
                    word_syms, "word string, sym string"
                )
            return merges_df
    if target_vocab is not None:
        # each merge adds exactly ONE new symbol to the vocabulary, so the
        # round budget is target - |alphabet| (vocab-sized distinct count,
        # the same cost class as one merge round)
        alpha = (
            wf.select(F.explode(F.split("sym", " ")).alias("s"))
            .distinct()
            .count()
        )
        rounds = max(0, int(target_vocab) - alpha)
    else:
        rounds = int(n_merges)
    merges = []
    for rank in range(1, rounds + 1):
        wf = _truncate_lineage(wf, reliable)
        arr = F.split(F.col("sym"), " ")
        pair_col = F.when(
            F.size(arr) >= 2,
            _sliding_tuples(arr, 2, lambda a, b: F.concat_ws(" ", a, b)),
        ).otherwise(F.array().cast("array<string>"))
        best = (
            wf.select(F.explode(pair_col).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .first()
        )
        if best is None:
            break
        pair, cnt = best["pair"], int(best["cnt"])
        if min_pair_count is not None and cnt < int(min_pair_count):
            break  # sub-floor merge is NOT learned (HF min_frequency)
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, cnt))
        padded = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
        for _ in range(3):  # leftmost non-overlapping, to fixpoint
            padded = F.replace(
                padded, F.lit(f" {pair} "), F.lit(f" {merged} ")
            )
        wf = wf.select("word", F.trim(padded).alias("sym"), "freq")
    merges_df = spark.createDataFrame(
        merges, "merge_rank int, pair string, merged string, pair_count long"
    )
    if return_vocab:
        return merges_df, wf.select("word", "sym")
    return merges_df


def bpe_symbol_table(vocab, byte_fallback: bool = False) -> "DataFrame":
    """The trained tokenizer's (symbol, tok_id) table: every distinct
    symbol the final vocabulary uses, ids dense by symbol ASC — the
    deterministic id assignment both engines reproduce. The global
    row_number window runs over the SYMBOL table only (|alphabet| +
    n_merges rows — bounded by the tokenizer, not the corpus), so the
    single-partition stage it implies is vocab-sized, never data-sized.

    ``byte_fallback``: extend the alphabet with
    the 256 byte symbols ``<0x00>``..``<0xFF>`` (the SentencePiece
    byte-fallback convention), so NOTHING is unrepresentable — symbols
    outside the trained alphabet encode as their UTF-8 bytes instead of
    the unk ``-1``. Ids stay dense by symbol ASC over the union, so
    enabling it renumbers ids (it is a different tokenizer — train-time
    choice, like eow)."""
    from pyspark.sql import Window

    syms = vocab.select(
        F.explode(F.split("sym", " ")).alias("symbol")
    ).distinct()
    if byte_fallback:
        spark = vocab.sparkSession
        byte_syms = spark.range(256).select(
            F.concat(
                F.lit("<0x"),
                F.lpad(F.upper(F.hex(F.col("id"))), 2, "0"),
                F.lit(">"),
            ).alias("symbol")
        )
        syms = syms.unionByName(byte_syms).distinct()
    w = Window.orderBy("symbol")
    return syms.select(
        "symbol", (F.row_number().over(w) - 1).cast("long").alias("tok_id")
    )


def _utf8_byte_symbols(col: Column) -> Column:
    """A string's UTF-8 bytes as an ARRAY of ``<0xNN>`` byte-token symbols
    (uppercase hex) — the byte-fallback expansion, pure JVM expressions:
    encode to binary, slice one byte per position, hex it."""
    b = F.encode(col, "UTF-8")
    return F.transform(
        F.sequence(F.lit(1), F.length(b)),
        lambda i: F.concat(
            F.lit("<0x"),
            F.lpad(F.upper(F.hex(F.substring(b, i, 1))), 2, "0"),
            F.lit(">"),
        ),
    )


def _assemble_token_ids_per_word(
    words, lookup, vocab, byte_fallback: bool, id_col: str
):
    """Per-distinct-word token-id assembly (bpe_encode_ids'
    ``assemble_per_word`` option): symbols explode and resolve ids over the
    Heaps'-bounded (word -> sym) lookup instead of every occurrence; each
    word's ordered id array is built once, the occurrence side joins one
    (word -> ids) row, and the final per-doc groupBy collects n_words small
    arrays instead of n_symbols structs. Ordering is bit-identical to the
    per-occurrence form: the per-word array sorts by (spos[, bpos], tok_id)
    — exactly the suffix of the per-occurrence (wpos, spos[, bpos], tok_id)
    sort key — and the final assembly sorts by (wpos, ids) with wpos unique
    per doc, then flattens (pinned in tests/test_r14_optimizations.py)."""
    symtab = bpe_symbol_table(vocab, byte_fallback=byte_fallback)
    wsyms = lookup.select(
        "word", F.posexplode(F.split("sym", " ")).alias("__spos", "symbol")
    )
    wjoined = wsyms.join(symtab, "symbol", "left")
    if byte_fallback:
        # out-of-alphabet symbols expand to their UTF-8 byte tokens
        # (<0xNN>, always in the extended table) instead of unk — the
        # matched fast path keeps one row per symbol (__bpos 0); only the
        # rare misses explode, then resolve ids through the same tiny
        # broadcast table
        matched = wjoined.filter(F.col("tok_id").isNotNull()).select(
            "word", "__spos", F.lit(0).alias("__bpos"), F.col("tok_id")
        )
        unmatched = (
            wjoined.filter(F.col("tok_id").isNull())
            .select(
                "word", "__spos",
                F.posexplode(_utf8_byte_symbols(F.col("symbol"))).alias(
                    "__bpos", "__bsym"
                ),
            )
            .join(
                symtab.select(
                    F.col("symbol").alias("__bsym"),
                    F.col("tok_id").alias("__btok"),
                ),
                "__bsym",
                "left",
            )
            .select(
                "word", "__spos", "__bpos", F.col("__btok").alias("tok_id")
            )
        )
        wjoined = matched.unionByName(unmatched)
        word_struct = F.struct(
            "__spos", "__bpos",
            F.coalesce(F.col("tok_id"), F.lit(-1).cast("long")).alias("tok_id"),
        )
    else:
        word_struct = F.struct(
            "__spos",
            F.coalesce(F.col("tok_id"), F.lit(-1).cast("long")).alias("tok_id"),
        )
    wids = wjoined.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(word_struct)), lambda x: x["tok_id"]
        ).alias("__ids")
    )
    # a word absent from wids (possible only on pathological vocab rows with
    # NULL sym — posexplode drops them from wsyms) must contribute NOTHING,
    # as in the per-occurrence form; without the coalesce a single NULL
    # element would NULL the whole doc's flatten()
    empty_ids = F.array().cast("array<long>")
    return (
        words.join(wids, "word", "left")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__wpos"),
                        F.coalesce(F.col("__ids"), empty_ids).alias("__ids"),
                    )
                )
            ).alias("__ws")
        )
        .select(
            F.col(id_col),
            F.flatten(F.transform("__ws", lambda x: x["__ids"])).alias(
                "token_ids"
            ),
        )
        .select(
            F.col(id_col),
            "token_ids",
            F.size("token_ids").cast("long").alias("n_tokens"),
        )
    )


def bpe_encode_ids(
    docs,
    vocab,
    merges=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: str | None = None,
    byte_fallback: bool = False,
    pretokenize: str = "whitespace",
    assemble_per_word: bool = False,
):
    """FULL tokenizer output: per document, the ordered BPE token-id
    sequence (plus its length) — what sequence packing / training-batch
    assembly actually consumes, vs the count-only bpe_token_counts.
    Symbols map to ids through bpe_symbol_table (dense, symbol-ASC);
    symbols outside the trained alphabet (e.g. digits in a letters-only
    corpus) encode as -1, the unk convention — or, with
    ``byte_fallback=True``, as their UTF-8 byte
    tokens ``<0xNN>`` from the extended alphabet, so nothing is
    unrepresentable and decode(encode(x)) stays lossless on ANY input
    (the SentencePiece convention). Default off: the unk pins stay
    byte-identical.

    ``assemble_per_word`` (guide §2.3 — shuffle fewer rows): resolve
    each DISTINCT word's ordered token-id array once and let the final
    per-doc groupBy collect n_words small arrays instead of n_symbols
    structs (bit-identical output, pinned in tests). Worth it when words
    explode into MANY symbols (large vocabularies / byte-fallback-heavy
    corpora: x5_bpe_gpt2_encode measured 0.84-0.85x at sf0.1 AND sf1);
    NOT when high merge counts collapse words to few symbols (the
    high-merge entry measured 1.18x — the extra word-keyed aggregation
    outweighs the smaller doc-side shuffle), so the default stays the
    per-occurrence assembly.

    Plan shape: words posexplode map-side (word order preserved through
    the kept positions); ONE shuffle joins the vocabulary by word (OOV
    words get the ranked merges via bpe_apply_merges, the trainer's own
    rewrite); symbols explode map-side and join the tok_id table (tiny —
    AQE broadcasts it); one final groupBy(doc) assembles the ordered
    array via array_sort over (word_pos, sym_pos) structs. Token text
    never shuffles twice: the doc-side shuffle carries (doc, positions,
    tok_id) triples only."""
    words = docs.select(
        F.col(id_col),
        F.posexplode(pretokenize_pieces(F.col(text_col), pretokenize)).alias(
            "__wpos", "word"
        ),
    ).filter(F.col("word") != "")
    if merges is not None and hasattr(merges, "collect"):
        merges = [
            (r["pair"], r["merged"])
            for r in sorted(merges.collect(), key=lambda r: r["merge_rank"])
        ]
    if merges is not None and len(merges) > BPE_EXPR_MAX_MERGES:
        # UDF regime: apply the Arrow-batched encoder
        # ONCE PER DISTINCT OOV WORD and join the encoded spellings back —
        # a held-out corpus repeats its words just like the training
        # corpus (Zipf), so per-occurrence evaluation multiplies the
        # Python-side work by the duplication factor (measured:
        # SCALING.md). The distinct + anti-join shuffles (word)-keyed
        # slivers; the union makes the lookup TOTAL, so the occurrence
        # join below stays the one word-keyed shuffle the operator
        # already paid.
        oov_enc = (
            words.select("word")
            .distinct()
            .join(vocab.select("word"), "word", "left_anti")
            .select(
                "word",
                bpe_apply_merges_udf(merges, eow)(F.col("word")).alias("sym"),
            )
        )
        lookup = vocab.select("word", "sym").unionByName(oov_enc)
        if assemble_per_word:
            return _assemble_token_ids_per_word(
                words, lookup, vocab, byte_fallback, id_col
            )
        with_sym = words.join(lookup, "word", "left").select(
            F.col(id_col), "__wpos", F.col("sym").alias("__sym")
        )
    else:
        if merges is None:
            fallback = _symbolize(F.col("word"), eow)
        else:
            fallback = bpe_apply_merges(F.col("word"), merges, eow)
        if assemble_per_word:
            lookup = (
                words.select("word")
                .distinct()
                .join(vocab.select("word", "sym"), "word", "left")
                .select("word", F.coalesce(F.col("sym"), fallback).alias("sym"))
            )
            return _assemble_token_ids_per_word(
                words, lookup, vocab, byte_fallback, id_col
            )
        with_sym = words.join(vocab, "word", "left").select(
            F.col(id_col),
            "__wpos",
            F.coalesce(F.col("sym"), fallback).alias("__sym"),
        )
    toks = with_sym.select(
        F.col(id_col),
        "__wpos",
        F.posexplode(F.split("__sym", " ")).alias("__spos", "symbol"),
    )
    symtab = bpe_symbol_table(vocab, byte_fallback=byte_fallback)
    joined = toks.join(symtab, "symbol", "left")
    if byte_fallback:
        # out-of-alphabet symbols expand to their UTF-8 byte tokens
        # (<0xNN>, always in the extended table) instead of unk — the
        # matched fast path keeps one row per symbol (__bpos 0); only the
        # rare misses explode, then resolve ids through the same tiny
        # broadcast table
        matched = joined.filter(F.col("tok_id").isNotNull()).select(
            F.col(id_col), "__wpos", "__spos",
            F.lit(0).alias("__bpos"), F.col("tok_id"),
        )
        unmatched = (
            joined.filter(F.col("tok_id").isNull())
            .select(
                F.col(id_col), "__wpos", "__spos",
                F.posexplode(_utf8_byte_symbols(F.col("symbol"))).alias(
                    "__bpos", "__bsym"
                ),
            )
            .join(
                symtab.select(
                    F.col("symbol").alias("__bsym"),
                    F.col("tok_id").alias("__btok"),
                ),
                "__bsym",
                "left",
            )
            .select(
                F.col(id_col), "__wpos", "__spos", "__bpos",
                F.col("__btok").alias("tok_id"),
            )
        )
        joined = matched.unionByName(unmatched)
        order_struct = F.struct(
            "__wpos", "__spos", "__bpos",
            F.coalesce(F.col("tok_id"), F.lit(-1).cast("long")).alias("tok_id"),
        )
    else:
        order_struct = F.struct(
            "__wpos",
            "__spos",
            F.coalesce(F.col("tok_id"), F.lit(-1).cast("long")).alias("tok_id"),
        )
    return (
        joined.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(order_struct)).alias("__s"))
        .select(
            F.col(id_col),
            F.transform("__s", lambda x: x["tok_id"]).alias("token_ids"),
            F.size("__s").cast("long").alias("n_tokens"),
        )
    )


def bpe_decode(
    encoded,
    vocab,
    id_col: str = "doc_id",
    tokens_col: str = "token_ids",
    eow: str | None = None,
    byte_fallback: bool = False,
):
    """Inverse of bpe_encode_ids: token-id sequences back to text. Ids
    resolve through the same bpe_symbol_table; symbols concatenate in
    order and the eow marker (when the tokenizer was trained with one)
    becomes the word separator — the lossless round-trip
    decode(encode(x)) == lowercased x is pinned in tests. WITHOUT a
    marker, word boundaries are not recoverable from the ids alone (the
    standard argument FOR the marker), so markerless decode returns the
    symbols glued together verbatim. Unk ids (-1) render as '<unk>'.

    ``byte_fallback`` must match the encoder's: runs of byte tokens
    (``<0xNN>``, the fallback for out-of-alphabet symbols) are gathered
    and UTF-8-decoded as ONE run — multi-byte characters (emoji) span
    several byte tokens and only decode correctly together. Lossless
    round-trip on arbitrary input pinned in tests. One documented
    ambiguity, shared with every string-level detokenizer: corpus text
    that LITERALLY spells a byte token (the 6-char substring '<0x41>')
    would be gathered into a run; the trained alphabet covers its
    characters, so such text never produces byte tokens at encode time —
    the collision exists only between literal text and a genuine
    fallback, and byte-identical output would require id-level rendering
    instead."""
    symtab = bpe_symbol_table(vocab, byte_fallback=byte_fallback)
    ex = encoded.select(
        F.col(id_col),
        F.posexplode(F.col(tokens_col)).alias("__pos", "tok_id"),
    )
    joined = ex.join(symtab, "tok_id", "left").select(
        F.col(id_col),
        "__pos",
        F.coalesce(F.col("symbol"), F.lit("<unk>")).alias("symbol"),
    )
    ordered = (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "symbol"))
            ).alias("__s")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                "", F.transform("__s", lambda x: x["symbol"])
            ).alias("__joined"),
        )
    )
    if byte_fallback:
        # gather maximal <0xNN> runs and UTF-8-decode each run whole
        # (multi-byte chars span tokens); everything else passes through.
        # Pure JVM: regexp_extract_all segments, per-run strip + unhex +
        # decode inside one transform.
        runs = F.regexp_extract_all(
            F.col("__joined"),
            F.lit("(?:<0x[0-9A-F]{2}>)+|(?:(?!<0x[0-9A-F]{2}>)[\\s\\S])+"),
            0,
        )
        ordered = ordered.select(
            F.col(id_col),
            F.array_join(
                F.transform(
                    runs,
                    lambda r: F.when(
                        r.rlike("^(<0x[0-9A-F]{2}>)+$"),
                        F.decode(
                            F.unhex(F.regexp_replace(r, "<0x|>", "")), "UTF-8"
                        ),
                    ).otherwise(r),
                ),
                "",
            ).alias("__joined"),
        )
    if eow:
        return ordered.select(
            F.col(id_col),
            F.trim(F.replace(F.col("__joined"), F.lit(eow), F.lit(" "))).alias(
                "text"
            ),
        )
    return ordered.select(F.col(id_col), F.col("__joined").alias("text"))


def bpe_token_counts(
    docs,
    vocab,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges=None,
    eow: str | None = None,
):
    """Token counting under a LEARNED tokenizer: encode each doc with the
    final BPE vocabulary (``vocab`` = (word, sym) from
    ``bpe_train(..., return_vocab=True)``) and return per-doc BPE token
    and word counts — the budget signal an LLM-data pipeline actually
    bills by, vs the whitespace proxy of token_count.

    Encoding is a join, not a re-derivation: words explode once, join the
    vocab on word (shuffle carries (doc_id, word) — at 100 TB the vocab is
    itself large, so no broadcast), and a word's token count is the symbol
    count of its trained spelling.

    Out-of-vocab words — a held-out corpus, words past the trainer's
    max_word_len — are encoded by APPLYING THE LEARNED MERGES in rank
    order (``merges`` = the bpe_train result, or a pre-collected
    [(pair, merged), ...] list; ``eow`` must match training): true
    tokenizer semantics. The merge list is
    rank-bounded driver state (the same bounded-collect argument as the
    per-round argmax; a 32k-merge production list is ~1 MB) and is
    applied as a JVM replace chain up to BPE_EXPR_MAX_MERGES — coalesce
    is lazy in codegen, so only the join's OOV misses pay it — beyond
    that through the Arrow-batched bpe_apply_merges_udf twin, evaluated
    ONCE PER DISTINCT OOV WORD with the counts joined back (the
    same shape as the vocab join itself; per-occurrence evaluation
    would multiply the Python-side work by the corpus's duplication factor).
    With
    ``merges=None`` OOV words keep the legacy byte-level degradation to
    base symbols: character count (+1 for the eow symbol if set)."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    v = vocab.select(
        "word", F.size(F.split("sym", " ")).alias("n_sym")
    )
    if merges is None:
        fallback = F.length("word").cast("long") + F.lit(1 if eow else 0).cast("long")
    else:
        if hasattr(merges, "collect"):  # the bpe_train merges DataFrame
            merges = [
                (r["pair"], r["merged"])
                for r in sorted(merges.collect(), key=lambda r: r["merge_rank"])
            ]
        if len(merges) <= BPE_EXPR_MAX_MERGES:
            encoded = bpe_apply_merges(F.col("word"), merges, eow)
            fallback = F.size(F.split(encoded, " ")).cast("long")
        else:
            # UDF regime: encode each DISTINCT OOV
            # word once and extend the lookup table, instead of running
            # the pandas_udf on every occurrence (see bpe_encode_ids)
            oov_counts = (
                words.select("word")
                .distinct()
                .join(vocab.select("word"), "word", "left_anti")
                .select(
                    "word",
                    F.size(
                        F.split(
                            bpe_apply_merges_udf(merges, eow)(F.col("word")),
                            " ",
                        )
                    ).alias("n_sym"),
                )
            )
            v = v.unionByName(oov_counts)
            fallback = F.lit(None).cast("long")  # lookup is total
    return (
        words.join(v, "word", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("n_sym").cast("long"), fallback)).alias("bpe_tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )


BPE_FORMAT_VERSION = 1


def bpe_save(
    path: str,
    merges,
    vocab=None,
    eow: str | None = None,
    byte_fallback: bool = False,
    overwrite: bool = False,
    pretokenize: str = "whitespace",
) -> None:
    """Persist a trained tokenizer: the ranked merge table, the optional
    training-corpus (word, sym) vocabulary cache, and a one-row config
    table pinning the settings encode/decode must replay with (eow
    marker, byte_fallback, pretokenize mode, format version). Train ONCE offline, then any
    later job — other corpora, other clusters — loads the artifact and
    encodes without retraining (the HF tokenizer.json shape, as parquet
    so it lives on the same storage as the data). Merges are ∝ the merge
    count and vocab ∝ distinct training words: both tiny next to any
    corpus; encode for unseen corpora needs only merges + config (OOV
    words replay the ranked merges — the trainer's own rewrite)."""
    pretokenize_pieces(F.lit(""), pretokenize)  # raises on an unknown mode
    mode = "overwrite" if overwrite else "error"
    spark = merges.sparkSession
    merges.coalesce(1).write.mode(mode).parquet(f"{path}/merges")
    if vocab is not None:
        vocab.write.mode(mode).parquet(f"{path}/vocab")
    spark.createDataFrame(
        [(eow, bool(byte_fallback), BPE_FORMAT_VERSION, pretokenize)],
        "eow string, byte_fallback boolean, format_version int, "
        "pretokenize string",
    ).coalesce(1).write.mode(mode).parquet(f"{path}/config")


def bpe_load(spark, path: str):
    """Load a bpe_save artifact: (merges_df, vocab_df_or_None, config
    dict). Refuses a format version newer than this code understands —
    fail loudly, never mis-tokenize."""
    cfg_rows = spark.read.parquet(f"{path}/config").collect()
    if len(cfg_rows) != 1:
        raise ValueError(f"corrupt tokenizer config at {path}: {cfg_rows!r}")
    cfg = cfg_rows[0].asDict()
    if int(cfg["format_version"]) > BPE_FORMAT_VERSION:
        raise ValueError(
            f"tokenizer at {path} has format_version "
            f"{cfg['format_version']} > supported {BPE_FORMAT_VERSION}"
        )
    merges = spark.read.parquet(f"{path}/merges")
    # probe the OPTIONAL vocab through Spark itself, not os.path — the
    # artifact lives on the data's storage (s3://, hdfs://), where a local
    # isdir is always False and a present vocab would silently load as
    # None, degrading every word to the OOV merge-replay path
    try:
        vocab = spark.read.parquet(f"{path}/vocab")
        vocab.schema  # force analysis so a missing path raises HERE
    except Exception as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            vocab = None  # saved without a vocab — merge-replay encode
        else:
            raise  # present but unreadable: corrupt artifact, fail loudly
    return merges, vocab, cfg
