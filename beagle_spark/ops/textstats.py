r"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Every operator is a pure Spark SQL expression (no UDF) with an exact
DuckDB-SQL twin used as the correctness oracle — the expressions were
chosen so both engines compute bit-identical results (integer counts,
identically-rounded ratios, md5 on identical normalized strings).

The corpus-text vocabulary of every JVM text operator (here, in
``dedup`` and in ``streaming``) is defined once, below. Its two rules
are those of the DuckDB twins, which define these operators:

- :data:`WS`: whitespace is RE2's ``\s``, ``[\t\n\f\r ]`` (Java's
  ``\s`` also takes ``\x0b``; neither takes ``\xa0`` or other
  Unicode spaces),
- :func:`case_fold`: lowercase is per code point, as DuckDB's
  ``lower`` (Spark's ``lower`` maps 'İ' to two chars and a final 'Σ'
  to 'ς').

Built on them:

- :func:`normalized_text`: whitespace-collapsed lowercase text,
- :func:`fingerprint`: md5 of the normalized text,
- :func:`tokens_ws`: the whitespace word split,
- :func:`word_grams`: every k-word window of a token array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny multilingual stopword sets for the n-gram/stopword language
# heuristic. Deliberately small + hardcoded: the heuristic must be
# reproducible in SQL on both engines.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "du", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "para"],
}


# RE2's \s as a Java regex class (see the module docstring)
_WS_CHARS = r"\t\n\f\r "
WS = f"[{_WS_CHARS}]"


def case_fold(col):
    """Lowercase per code point, DuckDB's ``lower``."""
    return F.lower(F.translate(col, "İΣ", "iσ"))


def normalized_text(col):
    """Whitespace-collapsed lowercase — the canonical form for exact
    dedup and fingerprints (DuckDB: regexp_replace + lower)."""
    return F.regexp_replace(case_fold(F.trim(col)), WS + "+", " ")


def fingerprint(col):
    """md5 hex digest of :func:`normalized_text`."""
    return F.md5(normalized_text(col).cast("binary"))


def tokens_ws(col):
    """Whitespace word split of the lowercased text. ``trim`` strips
    spaces only and ``split`` keeps leading/trailing empty tokens, as
    DuckDB's trim()/regexp_split_to_array do."""
    return F.split(F.trim(case_fold(col)), WS + "+")


def word_grams(toks, k: int):
    """Every k-word window of the token-array column ``toks``, words
    joined by one space; a document shorter than k words gives one gram
    of all its words.

    Pass a column MATERIALIZED in a child projection: a ``tokens_ws``
    expression passed inline is re-evaluated per gram position (the
    interpreted higher-order-function trap, see
    :func:`~..dedup.shingle_docs`)."""
    n = F.size(toks)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy count (runs of
    letters / digits / single punctuation), both JVM-side regex."""
    return df.select(
        F.col(id_col),
        F.size(tokens_ws(F.col(text_col))).alias("n_tokens_ws"),
        F.size(
            F.regexp_extract_all(
                case_fold(F.col(text_col)), F.lit(f"[a-z]+|[0-9]+|[^a-z0-9{_WS_CHARS}]"), 0
            )
        ).alias("n_tokens_bpeish"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Cheap quality features + a composite score in [0,1]: length
    saturation, mean token length band, stopword presence. Mirrors
    published heuristic filters (C4/Gopher-style length & stopword
    rules) with exactly-SQL-reproducible arithmetic."""
    toks = tokens_ws(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    sw = STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, lambda t: t.isin(sw)))
    chars_per_token = F.round(n_chars.cast("double") / n_tokens, 3)
    stop_ratio = F.round(n_stop.cast("double") / n_tokens, 3)
    len_score = F.round(F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0)), 3)
    score = F.round(0.5 * len_score + 0.5 * F.least(stop_ratio * 5, F.lit(1.0)), 3)
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        chars_per_token.alias("chars_per_token"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-overlap language heuristic: argmax over per-language
    stopword hit ratios; 'und' when no language clears 2%. (On the
    synthetic corpus every doc is English-vocabulary, so this predicts
    'en' — the lang column there is synthetic metadata, not signal.)"""
    toks = tokens_ws(F.col(text_col))
    n = F.size(toks)
    exprs = []
    for lang, words in STOPWORDS.items():
        ratio = F.size(F.filter(toks, lambda t: t.isin(words))).cast("double") / n
        exprs.append(F.struct(F.round(ratio, 4).alias("r"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*exprs))
    return df.select(
        F.col(id_col),
        F.when(best["r"] >= 0.02, best["lang"]).otherwise("und").alias("lang_pred"),
        best["r"].alias("stop_ratio"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, "Scaling
    Language Models", Table A1) — the standard pre-training filters for
    boilerplate and degenerate text:

    - ``dup_line_frac``: fraction of lines that are duplicates of
      another line in the same document,
    - ``top_2gram_char_frac``: fraction of document characters covered
      by the most frequent word 2-gram (count * gram length / chars),
    - ``dup_5gram_char_frac``: fraction of characters covered by word
      5-grams occurring more than once (sum of count * length over
      duplicated grams / chars; overlaps counted, like the simple
      published formulation).

    Ties for the top 2-gram break on (count desc, gram desc) in BOTH
    engines so the result is deterministic and oracle-able.

    Plan shape: line stats are per-row array expressions (no shuffle);
    gram stats explode the materialized token array (the child
    projection keeps the split out of the per-gram loop) and aggregate
    on (doc, gram) with map-side partial agg, then on doc — two
    bounded hash shuffles, nothing quadratic, nothing interpreted in a
    hot loop. Scale-safe at 100 TB."""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    line_stats = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("_chars"),
        n_lines.alias("n_lines"),
        F.round(
            (n_lines - F.size(F.array_distinct(lines))).cast("double")
            / F.greatest(n_lines, F.lit(1)),
            4,
        ).alias("dup_line_frac"),
    )

    toks = df.select(F.col(id_col), tokens_ws(F.col(text_col)).alias("_toks"))

    def gram_counts(k: int):
        grams = toks.select(
            F.col(id_col), F.explode(word_grams(F.col("_toks"), k)).alias("gram")
        )
        return grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))

    # top 2-gram per doc via max_by instead of a row_number window: the
    # (cnt, gram) struct max reproduces the (cnt DESC, gram DESC) tie
    # order exactly — (id, gram) rows are unique so no residual ties.
    # (Struct max_by still plans as SortAggregate, but the Window
    # buffer + rn filter are gone and the partial agg shrinks shuffle
    # input to one row per doc per map partition.)
    top2 = gram_counts(2).groupBy(id_col).agg(
        F.max_by(
            F.col("cnt") * F.length("gram"), F.struct("cnt", "gram")
        ).alias("_top2_chars")
    )
    dup5 = (
        gram_counts(5)
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram")).otherwise(0)
            ).alias("_dup5_chars")
        )
    )
    return (
        line_stats.join(top2, id_col, "left")
        .join(dup5, id_col, "left")
        .select(
            F.col(id_col),
            "n_lines",
            "dup_line_frac",
            F.round(
                F.coalesce(F.col("_top2_chars"), F.lit(0)).cast("double")
                / F.greatest(F.col("_chars"), F.lit(1)),
                4,
            ).alias("top_2gram_char_frac"),
            F.round(
                F.coalesce(F.col("_dup5_chars"), F.lit(0)).cast("double")
                / F.greatest(F.col("_chars"), F.lit(1)),
                4,
            ).alias("dup_5gram_char_frac"),
        )
    )


def quality_gopher(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-rule quality features + the pass/fail decision used to
    drop documents from a pre-training corpus:

    - ``mean_word_len``: non-whitespace chars / whitespace tokens
      (Gopher keeps documents with mean word length in [3, 10]),
    - ``symbol_word_ratio``: '#' and ellipsis occurrences per token
      (Gopher drops ratio > 0.1),
    - ``alpha_word_frac``: fraction of tokens containing at least one
      ASCII letter (Gopher drops < 0.8),
    - ``passes_gopher``: the conjunction, with the published
      thresholds, of the three rules above plus a 50-token minimum.

    Every feature is a closed-form SQL expression computable
    bit-identically in DuckDB; the only higher-order function is a
    single linear ``filter`` over the token array (same pattern as
    :func:`lang_id` — per-token work, never per-token-pair)."""
    toks = tokens_ws(F.col(text_col))
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    non_ws_chars = F.length(F.regexp_replace(F.col(text_col), WS + "+", ""))
    mean_word_len = F.round(non_ws_chars.cast("double") / n_tokens, 3)
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis = F.floor(
        (
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
        )
        / 3
    ) + (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), "…", ""))
    )
    symbol_word_ratio = F.round((n_hash + n_ellipsis).cast("double") / n_tokens, 3)
    alpha_word_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n_tokens,
        3,
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        alpha_word_frac.alias("alpha_word_frac"),
        (
            (F.size(toks) >= 50)
            & mean_word_len.between(3.0, 10.0)
            & (symbol_word_ratio <= 0.1)
            & (alpha_word_frac >= 0.8)
        ).alias("passes_gopher"),
    )


def fingerprint_md5(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase
    text. Identical function exists in DuckDB -> exact oracle."""
    return df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))


def winnow_fingerprint_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    chunk: int = 16384,
) -> DataFrame:
    """Winnowing fingerprint (Schleimer et al., SIGMOD'03): k-gram
    hashes, keep the min hash of every `window` consecutive hashes,
    emit the distinct selected hashes as (id, fp) rows.

    One expression path for every document, in any script and of any
    length, in a MAP-ONLY plan (winnowing is a pure per-document
    function, so selection and distinctness happen inside the row and
    no Exchange is needed):

    1. a child projection encodes the normalized text once per row as
       UTF-32: 4 bytes per code point in every script, so char i
       starts at byte 4(i-1)+1 and every slice is an O(length) binary
       copy (a string ``substr`` counts chars from the start of its
       input, O(n) per gram on a long document);
    2. the winnow positions are cut into segments of ``chunk``
       positions (a short document is one segment); a segment's slice
       carries the ``window+k-2`` chars that follow it, so every
       window sees exactly the grams it sees over the whole document;
    3. per segment: the gram-hash array, ``array_min`` over each
       window (``slice`` truncates at the document tail), and an
       ``array_distinct``;
    4. the segments' selections are concatenated in position order,
       made distinct per document and exploded to (id, fp) rows.

    MEMORY BOUND: a gram-hash array holds one 32-char hex string per
    char position (~64x the text once the selection array is counted),
    so a 100 MB document in one array builds a multi-GB row. Segments
    bound the live per-row memory at O(doc + 4*n_chars + 64*chunk +
    selected set): the UTF-32 view costs 4 bytes per char, 4x the text
    of an ASCII document. A binary value holds at most 2^31-1 bytes, so
    the longest document this winnows is ~512M chars.

    The gram hash is md5 over the gram's UTF-8 bytes (decoded from
    UTF-32, cast to binary) rather than xxhash64, so DuckDB computes the
    identical fingerprint set and the operator is exactly oracle-able.
    At real scale swap ``F.md5`` for ``F.xxhash64`` (cheaper, same plan
    shape, no SQL oracle).

    The interpreted higher-order-function trap (see
    :func:`~..dedup.shingle_docs`): a lambda BODY is re-evaluated per
    element, a transform INPUT once. So the encoded text is a child-
    projection column, the segment slices are the input of the
    per-segment transform, and each segment's gram array is let-bound
    through the single-element ``transform(array(ghs), g -> ...)``.
    A slice written inline in the per-gram lambda is recomputed per
    gram (a 1 MB document then runs for more than 10 minutes).
    """
    def n_grams(u32):
        return F.greatest((F.octet_length(u32) / 4).cast("int") - (k - 1), F.lit(1))

    base = df.select(
        F.col(id_col),
        F.encode(normalized_text(F.col(text_col)), "UTF-32").alias("_u32"),
    )
    # winnow positions: 1-based p in [1, greatest(n_grams - window + 1, 1)]
    n_pos = F.greatest(n_grams(F.col("_u32")) - (window - 1), F.lit(1))
    # segment j: positions [j*chunk+1, min((j+1)*chunk, n_pos)], chars
    # [j*chunk+1, j*chunk + chunk+window+k-2] (truncated at the doc tail)
    seg_bytes = 4 * (chunk + window + k - 2)
    segments = F.transform(
        F.sequence(F.lit(0), ((n_pos - 1) / chunk).cast("int")),
        lambda j: F.struct(
            F.col("_u32").substr(4 * chunk * j + 1, F.lit(seg_bytes)).alias("u32"),
            F.least(F.lit(chunk), n_pos - chunk * j).alias("npos"),
        ),
    )

    # The UTF-32 decoder reads a leading 00 00 FE FF as a byte-order
    # mark and drops it; an explicit big-endian mark in front of each
    # gram keeps a real U+FEFF (a BOM or zero-width no-break space).
    bom = F.unhex(F.lit("0000FEFF"))

    def selected(seg):
        ghs = F.transform(
            F.sequence(F.lit(1), n_grams(seg["u32"])),
            lambda i: F.md5(
                F.decode(
                    F.concat(bom, seg["u32"].substr(4 * i - 3, F.lit(4 * k))),
                    "UTF-32",
                ).cast("binary")
            ),
        )
        return F.element_at(
            F.transform(
                F.array(ghs),  # let-bind: each segment hashed once
                lambda g: F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), seg["npos"]),
                        lambda p: F.array_min(F.slice(g, p, window)),
                    )
                ),
            ),
            1,
        )

    fps = F.array_distinct(F.flatten(F.transform(segments, selected)))
    return base.select(F.col(id_col), F.explode(fps).alias("fp"))


def fingerprint_winnow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint as a sorted array column.
    Thin aggregation over :func:`winnow_fingerprint_pairs` (see there
    for the plan rationale)."""
    pairs = winnow_fingerprint_pairs(df, text_col, id_col, k=k, window=window)
    return pairs.groupBy(id_col).agg(
        F.array_sort(F.collect_list("fp")).alias("winnow_fp")
    )
