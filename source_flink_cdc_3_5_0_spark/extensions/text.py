"""Text-analysis operators for training-data pipelines.

Beyond the reference's operator set (SURVEY.md §2 extensions): language ID,
quality scoring, token counting, document fingerprinting over a ``documents``
table. All hot-path expressions are built-in Spark SQL functions (JVM-side,
codegen'd) — no Python UDFs — so they scale linearly with executors at 100 TB.

Each operator has a **dual-dialect SQL generator** (Spark SQL / DuckDB SQL)
so the DuckDB oracle runs the *same* computation — the generators are the
single source of truth for the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Distinctive marker words per language (heuristic n-gram/stopword LID).
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|with|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|für)\b",
    "fr": r"\b(le|la|les|et|est|pas|pour|dans)\b",
    "es": r"\b(el|la|los|las|es|no|por|para)\b",
}
CJK_PATTERN = r"[一-鿿]"

_PUNCT_PATTERN = r"[.!?,;:]"
_WS_SPLIT = r"\s+"


def _lit(dialect: str, pattern: str) -> str:
    """Regex pattern as a string literal: Spark SQL literals process
    backslash escapes ('\\s' -> 's'), DuckDB's do not — double the
    backslashes for Spark only."""
    p = pattern.replace("'", "''")
    if dialect == "spark":
        p = p.replace("\\", "\\\\")
    return f"'{p}'"


def _regexp_count(dialect: str, s: str, pattern: str) -> str:
    if dialect == "spark":
        return f"regexp_count({s}, {_lit(dialect, pattern)})"
    return f"len(regexp_extract_all({s}, {_lit(dialect, pattern)}))"


def token_count_sql(dialect: str, col: str = "text") -> str:
    """Whitespace token count; empty/blank text counts 0."""
    if dialect == "spark":
        return (f"CASE WHEN length(trim({col})) = 0 THEN 0 "
                f"ELSE size(split(trim({col}), {_lit(dialect, _WS_SPLIT)})) END")
    return (f"CASE WHEN length(trim({col})) = 0 THEN 0 "
            f"ELSE len(regexp_split_to_array(trim({col}), {_lit(dialect, _WS_SPLIT)})) END")


_BPEISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def subword_count_sql(dialect: str, col: str = "text") -> str:
    """BPE-ish token count: letter runs, single digits, single symbols —
    the GPT-2 pre-tokenizer shape (letters merge, digits don't), as one
    portable regexp_count. A calibration proxy for real BPE token budgets
    without shipping a merges table."""
    return _regexp_count(dialect, col, _BPEISH_PATTERN)


def punct_ratio_sql(dialect: str, col: str = "text") -> str:
    """Punctuation chars / total chars (0 for empty)."""
    cnt = _regexp_count(dialect, col, _PUNCT_PATTERN)
    return (f"CASE WHEN length({col}) = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE CAST({cnt} AS DOUBLE) / CAST(length({col}) AS DOUBLE) END")


def stopword_count_sql(dialect: str, col: str = "text") -> str:
    """English stopword hits (quality signal)."""
    return _regexp_count(dialect, f"lower({col})", LANG_MARKERS["en"])


def quality_score_sql(dialect: str, col: str = "text") -> str:
    """Composite quality score in [0,1]: length band + stopword presence -
    punctuation excess. Deterministic integer/decimal arithmetic only."""
    tokens = token_count_sql(dialect, col)
    stop = stopword_count_sql(dialect, col)
    punct = punct_ratio_sql(dialect, col)
    return (
        f"CAST(CASE WHEN ({tokens}) >= 20 THEN 0.4 WHEN ({tokens}) >= 5 THEN 0.2 ELSE 0.0 END"
        f" + CASE WHEN ({stop}) >= 3 THEN 0.4 WHEN ({stop}) >= 1 THEN 0.2 ELSE 0.0 END"
        f" + CASE WHEN ({punct}) <= 0.1 THEN 0.2 ELSE 0.0 END AS DOUBLE)"
    )


def lang_id_sql(dialect: str, col: str = "text") -> str:
    """Marker-word-count language ID with deterministic tie order
    (en > de > fr > es), CJK characters short-circuit to 'zh'."""
    counts = {lang: _regexp_count(dialect, f"lower({col})", pat)
              for lang, pat in LANG_MARKERS.items()}
    cjk = _regexp_count(dialect, col, CJK_PATTERN)
    c = {k: f"({v})" for k, v in counts.items()}
    return (
        f"CASE WHEN ({cjk}) > 0 THEN 'zh' "
        f"WHEN {c['en']} >= {c['de']} AND {c['en']} >= {c['fr']} AND {c['en']} >= {c['es']} AND {c['en']} > 0 THEN 'en' "
        f"WHEN {c['de']} >= {c['fr']} AND {c['de']} >= {c['es']} AND {c['de']} > 0 THEN 'de' "
        f"WHEN {c['fr']} >= {c['es']} AND {c['fr']} > 0 THEN 'fr' "
        f"WHEN {c['es']} > 0 THEN 'es' "
        f"ELSE 'unknown' END"
    )


def _tokens_expr(dialect: str, col: str = "text") -> str:
    if dialect == "spark":
        return f"split(trim({col}), {_lit(dialect, _WS_SPLIT)})"
    return f"regexp_split_to_array(trim({col}), {_lit(dialect, _WS_SPLIT)})"


def dup_token_ratio_sql(dialect: str, col: str = "text") -> str:
    """Gopher-style repetition signal: fraction of duplicate words,
    1 − distinct_tokens/total_tokens (0 for blank text)."""
    toks = _tokens_expr(dialect, col)
    total = token_count_sql(dialect, col)
    distinct = (f"size(array_distinct({toks}))" if dialect == "spark"
                else f"len(list_distinct({toks}))")
    return (f"CASE WHEN ({total}) = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE CAST(1.0 AS DOUBLE) - CAST({distinct} AS DOUBLE) / CAST({total} AS DOUBLE) END")


def max_token_len_sql(dialect: str, col: str = "text") -> str:
    """Longest whitespace token (0 for blank) — flags unbroken junk runs."""
    toks = _tokens_expr(dialect, col)
    total = token_count_sql(dialect, col)
    mx = (f"array_max(transform({toks}, x -> length(x)))" if dialect == "spark"
          else f"list_max(list_transform({toks}, x -> length(x)))")
    return f"CASE WHEN ({total}) = 0 THEN 0 ELSE CAST({mx} AS INTEGER) END"


def avg_token_len_sql(dialect: str, col: str = "text") -> str:
    """Mean token length (0 for blank)."""
    toks = _tokens_expr(dialect, col)
    total = token_count_sql(dialect, col)
    s = (f"aggregate(transform({toks}, x -> length(x)), 0, (a, x) -> a + x)"
         if dialect == "spark"
         else f"list_sum(list_transform({toks}, x -> length(x)))")
    return (f"CASE WHEN ({total}) = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE CAST({s} AS DOUBLE) / CAST({total} AS DOUBLE) END")


def fingerprint_sql(dialect: str, col: str = "text") -> str:
    """Normalized-content fingerprint: md5 of lowercased, whitespace-collapsed
    text — identical built-in in both engines."""
    if dialect == "spark":
        return f"md5(regexp_replace(lower(trim({col})), {_lit(dialect, _WS_SPLIT)}, ' '))"
    return f"md5(regexp_replace(lower(trim({col})), {_lit(dialect, _WS_SPLIT)}, ' ', 'g'))"


def chunk_windows(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", window_tokens: int = 64,
                  stride: int | None = None) -> DataFrame:
    """Context-window chunking: split each document into
    ``window_tokens``-token chunks (the training-window preprocessing step
    before tokenizer packing). ``stride`` < ``window_tokens`` makes the
    windows OVERLAP (sliding windows — the long-document evaluation /
    retrieval-chunking convention: each window starts ``stride`` tokens
    after the previous, so consecutive windows share ``W - stride``
    tokens); default stride = window size = disjoint chunks. Windows
    start at 0, stride, 2·stride, … while the start is < n, so the final
    window may be short — same tail rule as the disjoint case.

    Pure codegen: tokens materialized once, one posexplode over the
    window starts, slice+join per chunk — no shuffle, no Python. Emits
    (id, window_idx, n_tokens, chunk)."""
    from .dedup import tokens_col

    W = window_tokens
    S = stride or W
    if S > W or S <= 0:
        raise ValueError(f"stride must be in [1, window_tokens], got {S}")
    base = df.withColumn("__toks", tokens_col(text_col))
    n = F.size("__toks")
    n_windows = F.ceil(n / F.lit(S)).cast("int")
    return (
        base.where(n > 0)
        .select(F.col(id_col),
                F.col("__toks"),
                F.posexplode(F.sequence(F.lit(0), n_windows - 1))
                .alias("window_idx", "__w"))
        .select(
            id_col,
            F.col("window_idx").cast("int"),
            F.least(F.lit(W), F.size("__toks") - F.col("__w") * S)
            .cast("int").alias("n_tokens"),
            F.array_join(F.slice("__toks", F.col("__w") * S + 1, W), " ")
            .alias("chunk"),
        ))


# PII patterns restricted to syntax with IDENTICAL meaning in Java regex
# (Spark) and RE2 (DuckDB): character classes, +, {m,n} repetition,
# literal dots. No lookaround, no backreferences (RE2 has neither).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+"
PII_URL = r"https?://[A-Za-z0-9./_%+~#?&=-]+"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
# international-prefix phones: leading '+', then digits with separators,
# ending in a digit (>= 8 chars total keeps version strings etc. out)
PII_PHONE = r"\+[0-9][0-9() -]{6,}[0-9]"

# scrub order matters: URLs may contain '@' userinfo and dotted hosts, so
# emails go first (longest-anchor), then URLs (swallowing any IPs inside
# them), then bare IPs, then phones (no dots — disjoint from the rest)
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("n_emails", PII_EMAIL, "<EMAIL>"),
    ("n_urls", PII_URL, "<URL>"),
    ("n_ipv4", PII_IPV4, "<IP>"),
    ("n_phones", PII_PHONE, "<PHONE>"),
)


def _regexp_strip(dialect: str, s: str, pattern: str) -> str:
    """Remove every match of pattern (global replace with '')."""
    if dialect == "spark":
        return f"regexp_replace({s}, {_lit(dialect, pattern)}, '')"
    return f"regexp_replace({s}, {_lit(dialect, pattern)}, '', 'g')"


def quality_filters_sql(dialect: str, col: str = "text") -> dict[str, str]:
    """C4/Gopher-style per-document quality filter flags, as named SQL
    expressions with identical semantics in Spark SQL and DuckDB (the
    generator is the single source of truth; the oracle runs the duckdb
    rendering). Deterministic integer/ratio arithmetic only — no
    transcendentals, so doubles compare bit-identically.

    Flags (TRUE = passes the rule):
      f_min_words      >= 30 whitespace words
      f_word_len       mean word length in [2, 12] chars
      f_symbol_ratio   non-alphanumeric-non-space chars <= 10% of text
      f_digit_ratio    digits <= 20% of text
      f_no_boilerplate no 'lorem ipsum' marker
      keep             conjunction of all flags
    """
    sym_pattern = r"[^A-Za-z0-9\s]"
    n_words = f"({token_count_sql(dialect, col)})"
    n_chars_in_words = f"length({_regexp_strip(dialect, col, _WS_SPLIT)})"
    n_sym = f"({_regexp_count(dialect, col, sym_pattern)})"
    n_dig = f"({_regexp_count(dialect, col, '[0-9]')})"
    tot = f"nullif(length({col}), 0)"
    mean_wl = f"(CAST({n_chars_in_words} AS DOUBLE) / nullif({n_words}, 0))"
    flags = {
        "f_min_words": f"{n_words} >= 30",
        "f_word_len": f"{mean_wl} BETWEEN 2.0 AND 12.0",
        "f_symbol_ratio": f"(CAST({n_sym} AS DOUBLE) / {tot}) <= 0.10",
        "f_digit_ratio": f"(CAST({n_dig} AS DOUBLE) / {tot}) <= 0.20",
        "f_no_boilerplate": f"lower({col}) NOT LIKE '%lorem ipsum%'",
    }
    flags["keep"] = " AND ".join(f"({e})" for e in flags.values())
    # normalize NULL (empty doc) to FALSE in every flag so the keep
    # decision is total
    return {k: f"coalesce({e}, FALSE)" for k, e in flags.items()}


def quality_filters(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the quality-filter flag columns (see quality_filters_sql) —
    one codegen'd projection, no shuffle, no Python."""
    d = "spark"
    return df.select(
        "*", *[F.expr(sql).alias(name)
               for name, sql in quality_filters_sql(d, text_col).items()])


def dedup_lines(lines: DataFrame, id_col: str = "doc_id",
                pos_col: str = "pos", line_col: str = "line",
                max_freq: int = 1) -> DataFrame:
    """Corpus-level line deduplication (the CCNet/RefinedWeb boilerplate
    scrub): drop every line whose exact text occurs more than ``max_freq``
    times corpus-wide, then rebuild each document from its surviving lines
    in position order. Documents with zero surviving lines drop out
    entirely (pure boilerplate).

    Scale shape: one partial-agg groupBy on the line text (map-side
    combine collapses repeats before the shuffle), an equi-join of the
    lines against the aggregated frequency table (one row per DISTINCT
    line — Catalyst broadcasts it while small, shuffles on the line key
    at corpus scale; not pinned), and one groupBy(doc) rebuild whose
    per-doc state is bounded by document length. No Python anywhere.

    Emits (id, n_lines, n_kept, text) with text = surviving lines joined
    by newline."""
    freq = (lines.groupBy(line_col)
            .agg(F.count(F.lit(1)).alias("__line_freq")))
    tagged = lines.join(freq, line_col)
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum(F.when(F.col("__line_freq") <= max_freq, 1).otherwise(0))
            .cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("__line_freq") <= max_freq,
                               F.struct(F.col(pos_col).alias("p"),
                                        F.col(line_col).alias("l"))))),
                    lambda s: s.getField("l")),
                "\n").alias("text"),
        )
        .where(F.col("n_kept") > 0)
    )


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, URLs, IPv4 addresses and phone numbers (standard
    pre-training hygiene): replaces each match with a typed placeholder
    token and counts matches per document — one codegen'd projection, no
    Python. Patterns use only regex syntax with identical semantics in
    Java regex and RE2, so the DuckDB oracle reproduces the scrub
    byte-for-byte.

    Each pattern's count is taken on the SAME intermediate string its
    replacement consumes (the scrub is sequential), so every count equals
    the number of placeholders that scrub step actually emitted — e.g. an
    email inside a URL is scrubbed by the email step and no longer counts
    as a URL match."""
    stage = F.col(text_col)
    counts = []
    for name, pattern, _tok in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(stage, F.lit(pattern),
                                                  F.lit(0)))
                      .cast("int").alias(name))
        stage = F.regexp_replace(stage, pattern, _tok)
    return df.select("*", *counts, stage.alias("redacted"))


_SENT_PATTERN = r"[^.!?]+[.!?]*"


def sentences_sql(dialect: str, col: str = "text") -> str:
    """Array of trimmed, non-empty sentences — maximal runs of
    non-terminator characters plus their trailing ``.!?`` terminators.
    Deliberately RE2-safe (no lookbehind, which DuckDB's RE2 rejects) so
    the SAME pattern runs in both engines; abbreviation handling ('Dr.')
    is out of scope for a regex segmenter and documented as such."""
    pat = _lit(dialect, _SENT_PATTERN)
    if dialect == "spark":
        arr = f"regexp_extract_all({col}, {pat}, 0)"
        return (f"filter(transform({arr}, x -> trim(x)), x -> x != '')")
    arr = f"regexp_extract_all({col}, {pat})"
    return (f"list_filter(list_transform({arr}, x -> trim(x)), "
            f"x -> x <> '')")


# -- text normalization (pre-dedup canonical form) ---------------------------

_ACCENT_FROM = "àáâãäåèéêëìíîïòóôõöùúûüýñç"
_ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuync"


def normalize_sql(dialect: str, col: str = "text") -> str:
    """Canonical text form for dedup/fingerprinting: lowercase (unicode),
    Latin accents folded to ASCII (``translate`` — one pass, no regex),
    whitespace runs collapsed to single spaces, trimmed.  Same expression
    text in both dialects except the Spark string-literal escaping of
    ``\\s`` — all codegen'd builtins, no Python."""
    s = f"lower({col})"
    s = f"translate({s}, '{_ACCENT_FROM}', '{_ACCENT_TO}')"
    if dialect == "spark":
        s = f"regexp_replace({s}, {_lit(dialect, _WS_SPLIT)}, ' ')"
    else:  # DuckDB replaces only the first match without the 'g' flag
        s = f"regexp_replace({s}, {_lit(dialect, _WS_SPLIT)}, ' ', 'g')"
    return f"trim({s})"


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``normalized`` to the frame (one codegen projection)."""
    from pyspark.sql import functions as _F
    return df.withColumn("normalized",
                         _F.expr(normalize_sql("spark", text_col)))


# -- content filtering: phrase blocklist -------------------------------------

def blocklist_flags_sql(dialect: str, phrases: list[str],
                        col: str = "text") -> dict[str, str]:
    """Blocklist filtering (the NSFW/badword gate every pretraining corpus
    runs): named SQL expressions counting case-insensitive word-boundary
    matches of each phrase plus the combined keep flag.  The pattern is a
    single alternation per phrase group — one codegen'd regex pass, no
    Python, identical RE2-safe pattern text in both engines (``\\b`` word
    boundaries work in Java regex and RE2 alike)."""
    import re as _re

    alts = "|".join(_re.escape(p.lower()) for p in phrases)
    pattern = rf"\b({alts})\b"
    lowered = f"lower({col})"
    n = _regexp_count(dialect, lowered, pattern)
    return {
        "n_blocked_terms": f"CAST({n} AS INTEGER)",
        "keep": f"({n}) = 0",
    }


def blocklist_filter(df: DataFrame, phrases: list[str],
                     text_col: str = "text") -> DataFrame:
    """Append ``n_blocked_terms`` + ``keep`` (one codegen projection)."""
    from pyspark.sql import functions as _F

    exprs = blocklist_flags_sql("spark", phrases, text_col)
    out = df
    for name, sql in exprs.items():
        out = out.withColumn(name, _F.expr(sql))
    return out


# -- intra-document paragraph dedup (boilerplate removal) --------------------

def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     sep: str = "\n\n") -> DataFrame:
    """Remove repeated paragraphs WITHIN each document, preserving first-
    occurrence order — the navigation/boilerplate scrub that runs before
    any cross-document dedup (repeated headers inflate shingle overlap).

    Pure higher-order array ops, zero shuffles: split on the separator,
    keep position i iff no earlier position holds the same trimmed
    paragraph, rejoin.  O(p²) comparisons per doc where p = paragraph
    count — tiny against the string work itself, and entirely
    codegen-free of Python."""
    from pyspark.sql import functions as _F

    sep_lit = sep.replace("\n", "\\n")
    paras = f"split({text_col}, '{sep_lit}')"
    keep = (f"filter({paras}, (x, i) -> trim(x) != '' AND NOT exists("
            f"slice({paras}, 1, i), y -> trim(y) = trim(x)))")
    return (df.withColumn("n_paras",
                          _F.expr(f"size(filter({paras}, x -> trim(x) != ''))")
                          .cast("int"))
              .withColumn("deduped", _F.expr(f"array_join({keep}, '{sep_lit}')"))
              .withColumn("n_unique", _F.expr(f"size({keep})").cast("int")))


def dedup_paragraphs_oracle_sql(table: str = "documents",
                                text_col: str = "text",
                                id_col: str = "doc_id") -> str:
    """DuckDB replay: same split/first-occurrence/rejoin semantics —
    ``list_position`` over the trimmed list IS "index of first
    occurrence", giving an order-preserving distinct without subqueries
    (DuckDB lambdas refuse correlated subqueries)."""
    paras = f"string_split({text_col}, chr(10) || chr(10))"
    return f"""
WITH split_docs AS (
  SELECT {id_col}, {paras} AS ps,
         list_transform({paras}, y -> trim(y)) AS ts
  FROM {table}),
kept AS (
  SELECT {id_col}, ps,
         [ps[i] FOR i IN generate_series(1, len(ps))
          IF trim(ps[i]) <> '' AND list_position(ts, trim(ps[i])) = i] AS kp
  FROM split_docs)
SELECT {id_col},
       CAST(len(list_filter(ps, x -> trim(x) <> '')) AS INTEGER) AS n_paras,
       array_to_string(kp, chr(10) || chr(10)) AS deduped,
       CAST(len(kp) AS INTEGER) AS n_unique
FROM kept
"""
