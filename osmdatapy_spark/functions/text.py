"""Text-analysis Column functions (north-star scope, BASELINE.json):
tokenization, quality scoring, language-ID heuristic, fingerprinting.

All pure `pyspark.sql.functions` Column algebra — JVM-side, whole-stage
codegen, no Python in the hot path.  At 100 TB these run as narrow
projections over the documents scan: zero shuffle until an aggregation
asks for one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark import memo
from osmdatapy_spark._pyworker import kernel

# tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic (public-knowledge word lists)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "y", "es", "un"],
    "fr": ["le", "la", "de", "et", "est", "un"],
}

LANG_PRECEDENCE = ["en", "de", "es", "fr"]  # deterministic argmax tie-break


_WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization. A BPE-ish regex tokenizer is
    ``F.split(text, r"\\s+|(?=[\\p{Punct}])")`` — whitespace is what the
    synthetic corpus needs and keeps the oracle portable.  ``tokens_sql``
    is the same expression as SQL text."""
    return F.split(F.trim(text), _WS)


def tokens_sql(text: str) -> str:
    """SQL text of ``tokens`` over a SQL fragment, for kernels built as
    memoized SQL (``memo.expr``)."""
    return f"split(trim({text}), {memo.sstr(_WS)})"


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_count(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def langid(toks: Column) -> Column:
    """Deterministic stopword-vote language guess; ties resolve by
    LANG_PRECEDENCE order (first language whose score >= all later ones)."""
    s = {lang: stopword_count(toks, lang) for lang in LANG_PRECEDENCE}
    expr = lit(LANG_PRECEDENCE[-1])
    for i in range(len(LANG_PRECEDENCE) - 2, -1, -1):
        lang = LANG_PRECEDENCE[i]
        cond = None
        for other in LANG_PRECEDENCE[i + 1 :]:
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, lit(lang)).otherwise(expr)
    return expr


def word_ngrams(toks: Column, n: int) -> Column:
    """ALL n-token shingles in document order, duplicates kept (the
    repetition-scoring unit; ``word_shingles`` dedups these).

    Formulated as slice+arrays_zip+transform rather than
    transform-over-indices with element_at: an element_at(toks, i) inside
    the lambda makes Catalyst re-evaluate the (possibly inlined) token
    expression per shingle element — O(tokens·n) splits per row, measured
    ~8× slower.  Here `toks` is referenced a constant number of times and
    the lambda touches only the zipped struct."""
    ln = F.greatest(F.size(toks) - (n - 1), lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, ln) for i in range(n)])
    return F.transform(z, lambda x: F.concat_ws(" ", *[x[str(i)] for i in range(n)]))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-token shingles (the MinHash/Jaccard unit)."""
    return F.array_distinct(word_ngrams(toks, n))


def shingle_sets(df, text_col: str = "text", id_col: str = "doc_id", n: int = 3):
    """(id, shingle-set) with the token split staged as its own projection
    so it runs once per row.  Both projections are memoized SQL: the
    shingles are ``word_shingles`` (slice + arrays_zip + transform, then
    array_distinct) written as SQL text."""
    ln = f"greatest(size(__toks) - {n - 1}, 0)"
    zipped = ", ".join(f"slice(__toks, {i + 1}, {ln})" for i in range(n))
    parts = ", ".join(f"__g.`{i}`" for i in range(n))
    return memo.select(
        df.withColumn("__toks", memo.expr(tokens_sql(memo.ident(text_col)))),
        memo.ident(id_col),
        f"array_distinct(transform(arrays_zip({zipped}), __g -> concat_ws(' ', {parts}))) AS s",
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint (md5 of the raw text).  A rolling
    Rabin-style hash is the streaming variant; md5 is collision-safe enough
    for dedup keys and portable across engines."""
    return F.md5(text.cast("binary"))


def portable_hash32(s: Column) -> Column:
    """Engine-portable 32-bit hash as BIGINT: first 8 md5 hex digits —
    the ``hash_bucket`` recipe.  DuckDB spells the same value
    ``CAST(('0x' || substr(md5(x),1,8)) AS BIGINT)``.  (Spark's xxhash64
    is the faster production swap, same trade as functions/dedup.py.)"""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")


def char_kgrams(text: Column, k: int = 8) -> Column:
    """All character k-grams of ``text`` in order.  Guarded: Spark's
    ``sequence(1, n)`` DESCENDS when n < 1, so short texts short-circuit
    to an empty array instead of producing phantom grams."""
    n = F.length(text) - (k - 1)
    return F.when(
        n >= 1,
        F.transform(F.sequence(lit(1), n), lambda i: F.substring(text, i, k)),
    ).otherwise(F.array().cast("array<string>"))


def winnow_fingerprints(text: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the rolling-hash fingerprinting scheme): hash every char
    k-gram, slide a w-hash window, keep each window's minimum hash, dedup
    and sort.  Guarantee: any substring match of length >= k + w - 1
    between two documents yields at least one SHARED fingerprint, so
    overlap detection needs only a fingerprint-set join, never full-text
    comparison.

    Single-Column convenience form.  HOT-PATH CAVEAT: the k-gram hash
    array appears w+1 times in this one expression, and Spark's
    subexpression elimination does not reach inside higher-order-function
    lambdas, so codegen re-hashes every gram per use (measured 6x slower
    than the staged form at sf0.1).  Pipelines use
    ``with_winnow_fingerprints`` below, which materializes the hash array
    once per row via separate projections."""
    hashes = F.transform(char_kgrams(text, k), portable_hash32)
    ln = F.greatest(F.size(hashes) - (w - 1), lit(0))
    z = F.arrays_zip(*[F.slice(hashes, i + 1, ln) for i in range(w)])
    mins = F.transform(z, lambda x: F.least(*[x[str(i)] for i in range(w)]))
    return F.array_sort(F.array_distinct(mins))


def with_winnow_fingerprints(
    df, text_col: str = "text", out_col: str = "fp", k: int = 8, w: int = 4
):
    """Staged winnowing: same semantics as ``winnow_fingerprints`` but the
    expensive per-gram hash array is its own projection, so each gram is
    hashed exactly once per row regardless of how many window slices read
    it.  Zero shuffle — all projections pipeline inside the scan stage."""
    text = F.col(text_col)
    hcol, lcol, zcol = f"__{out_col}_h", f"__{out_col}_ln", f"__{out_col}_z"
    mins = F.transform(
        F.col(zcol), lambda x: F.least(*[x[str(i)] for i in range(w)])
    )
    return (
        df.withColumn(hcol, F.transform(char_kgrams(text, k), portable_hash32))
        .withColumn(lcol, F.greatest(F.size(hcol) - (w - 1), lit(0)))
        .withColumn(zcol, F.arrays_zip(*[F.slice(hcol, i + 1, F.col(lcol)) for i in range(w)]))
        .withColumn(out_col, F.array_sort(F.array_distinct(mins)))
        .drop(hcol, lcol, zcol)
    )


def comparable_string(text: Column) -> Column:
    """Normalization for name matching (reference F2 ``comparable_string``,
    datasource/datasource.py:184-191): upper-case, strip apostrophes.
    NFC normalization needs a pandas_udf (no Spark builtin) — the synthetic
    corpus is ASCII so the Column path suffices; see ``nfc_normalize`` for
    the UDF variant."""
    return F.upper(F.regexp_replace(text, r"[''']", ""))


def nfc_normalize(text: Column) -> Column:
    """NFC unicode normalization as an Arrow-batched pandas UDF — Spark has
    no builtin for it; this is the documented pattern for the rare
    Python-required scalar (used by llm_text_normalize and the Curate
    facade's ``normalize(nfc=True)``)."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint parser rejects
    @kernel
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return pandas_udf(_nfc, "string")(text)


# -- PII scrubbing + deterministic sampling (training-data curation) --------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\-\s]{7,}[0-9]"


def scrub_pii(text: Column) -> Column:
    """Replace email addresses and phone-number-shaped spans with typed
    placeholder tokens — the standard pre-training redaction pass.  Pure
    regexp_replace: JVM-side, streams inside the scan stage, no shuffle.
    Patterns are RE2-safe (no backrefs/lookahead) so the same strings run
    in Spark, DuckDB, and ripgrep-style corpus tools."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic engine-portable sampling bucket in [0, buckets):
    md5 of the key's string form, first 8 hex digits mod buckets.  The
    point is reproducibility — the SAME doc keeps/drops across reruns,
    engines, and cluster sizes, unlike rand()-based sampling.  (Spark's
    xxhash64 is faster; md5 is the cross-engine-checkable choice, same
    trade as functions/dedup.py.)"""
    h = F.conv(F.substring(F.md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
    return (h.cast("long") % buckets).cast("int")


# default vocabulary for greedy longest-match tokenization: multi-char
# subword tokens over the corpus lexicon, with shared prefixes (stream/st,
# spark/spa, table/ta, data, val/value, win/window, or/order) so the
# longest-match rule is actually exercised; single characters fall back
# implicitly.  A trained BPE vocabulary drops in without changing any
# plan shape — the kernel only sees a list of strings.
TOKENIZER_VOCAB: list[str] = [
    "stream", "st", "scan", "sort", "spark", "spa", "table", "ta", "the",
    "data", "agg", "join", "window", "win", "value", "val", "order", "or",
    "row",
]


def vocab_tokenize_counts(df, vocab: list[str], id_col: str = "doc_id", text_col: str = "text"):
    """Greedy longest-match vocabulary tokenization → per-document token
    counts (id, token, n) — applying a tokenizer vocabulary to a corpus,
    the step between BPE training (``llm_bpe_merge_candidates``) and
    token budgeting.

    This is the one text operator that genuinely needs Python: greedy
    longest-match is an inherently sequential per-position scan (each
    step's position depends on the previous match length), which Column
    algebra and higher-order functions cannot express without quadratic
    re-evaluation.  So it runs as ONE Arrow-batched ``mapInPandas`` pass:

    - the vocabulary ships in the task closure (KBs — the same
      literal-shipping discipline as ``kmeans_centroids``/``md5_planes``);
    - counts fold per document INSIDE the kernel, and a document never
      spans Arrow batches, so the operator emits finished (id, token, n)
      rows with ZERO shuffle — no downstream groupBy;
    - matching is deterministic: at each position the longest vocab token
      prefixing the remainder wins (equal-length candidates are identical
      strings), no match falls back to the single character.

    At 100 TB this pipelines inside the documents scan stage exactly like
    the Column-algebra operators — Python cost is linear in characters,
    amortized by Arrow batching."""
    import pandas as pd

    by_first: dict[str, list[str]] = {}
    for t in sorted(set(vocab), key=lambda t: (-len(t), t)):
        by_first.setdefault(t[0], []).append(t)
    schema = f"{id_col} long, token string, n long"

    @kernel
    def _batches(it):
        for pdf in it:
            ids: list = []
            toks: list[str] = []
            ns: list[int] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                counts: dict[str, int] = {}
                i, ln = 0, len(text)
                while i < ln:
                    tok = text[i]
                    for cand in by_first.get(tok, ()):
                        if text.startswith(cand, i):
                            tok = cand
                            break
                    counts[tok] = counts.get(tok, 0) + 1
                    i += len(tok)
                ids.extend([did] * len(counts))
                toks.extend(counts.keys())
                ns.extend(counts.values())
            yield pd.DataFrame({id_col: ids, "token": toks, "n": ns})

    return df.select(id_col, text_col).mapInPandas(_batches, schema=schema)


BPE_SPLIT_RE = r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def bpe_tokens(text: Column) -> Column:
    """GPT-2-style pre-tokenization: contraction suffixes, space-prefixed
    letter runs, digit runs, punctuation runs (the split a BPE vocabulary
    is trained over).  Simplified to an RE2-safe subset (no lookahead) so
    the identical pattern runs in Spark (Java regex) and DuckDB (RE2) —
    verified token-for-token in tests.  regexp_extract_all is JVM-side and
    shuffle-free; token COUNTING for data budgeting needs only this, not a
    vocabulary."""
    return F.regexp_extract_all(text, lit(BPE_SPLIT_RE), 0)
