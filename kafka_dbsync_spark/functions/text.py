"""Text-analysis primitives for the training-data pipeline operators.

All pure built-in column expressions (WholeStageCodegen-friendly): these
run over the `documents` table at 100 TB scale, so nothing here drops to
Python. Semantics are deliberately simple + deterministic so a SQL oracle
can reproduce them bit-for-bit (see tools/oracle_fragments.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the n-gram/stopword lang-id
#: heuristic. Order matters: ties break by this order.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de5", "shi4", "bu4", "le5", "zai4"),
}

#: stopwords for the quality score (English-centric, like common
#: quality-filter recipes)
QUALITY_STOPWORDS = ("the", "be", "to", "of", "and", "a", "in", "that", "have", "it")

FNV_MOD = 1_000_000_007
FNV_BASE = 31


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(c: Column | str) -> Column:
    """lower → collapse non-alphanumeric runs to single spaces → trim."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), "[^a-z0-9]+", " "))


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(c), " ")


def token_count(c: Column | str) -> Column:
    norm = normalize_text(c)
    return F.when(norm == "", F.lit(0)).otherwise(F.size(F.split(norm, " ")))


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split documents into overlapping fixed-token-count chunks — the
    standard context-window prep for LLM training/embedding pipelines.

    Chunk i covers tokens [i·step, i·step + chunk_tokens) with
    step = chunk_tokens − overlap; the last chunk is short rather than
    padded. Fully narrow (sequence + slice on a materialized token
    array): no shuffle, no Python, scales linearly. Documents whose
    normalized text is empty yield no chunks."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    step = chunk_tokens - overlap
    d = df.withColumn("__toks", tokens(text_col)).withColumn(
        "__n",
        F.when(normalize_text(text_col) == "", F.lit(0)).otherwise(
            F.size(F.col("__toks"))
        ),
    )
    starts = F.sequence(F.lit(0), F.col("__n") - 1, F.lit(step))
    chunked = d.select(
        F.col(id_col),
        F.col("__toks"),
        F.posexplode(F.when(F.col("__n") > 0, starts)).alias("chunk_idx", "__start"),
    )
    piece = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return chunked.select(
        id_col,
        "chunk_idx",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def chunk_breaks_every_nth_space(c: Column | str, n: int = 8) -> Column:
    """Replace every ``n``-th space with a newline — the 8-token-chunk
    paragraph synthesis (split on " ", group in ``n``s, join groups
    with "\\n") as ONE regex pass (r13 opt, guide §4.1 built-ins
    first): ``split``/``join`` round-trip losslessly for any string, so
    grouping k tokens and rejoining equals replacing every n-th
    separator in place — proven value-identical to the
    transform/sequence/slice tree it replaces (which re-evaluated its
    interpreted lambda per chunk), including empty/NULL text,
    consecutive-space empty tokens and exact n-token boundaries
    (``test_chunk_breaks_matches_transform_tree``)."""
    pat = "((?:[^ ]* ){%d}[^ ]*) " % (n - 1)
    return F.regexp_replace(_col(c), pat, "$1\n")


def word_regex_count(c: Column | str) -> Column:
    """BPE-ish unit count: letter runs, single digits, single punctuation."""
    return F.regexp_count(_col(c), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))


def punct_count(c: Column | str) -> Column:
    return F.regexp_count(_col(c), F.lit(r"[^A-Za-z0-9\s]"))


def stopword_count(c: Column | str, stopwords=QUALITY_STOPWORDS) -> Column:
    toks = tokens(c)
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_scores(c: Column | str, toks: Column | None = None) -> dict[str, Column]:
    """Per-language stopword-hit counts (the lang-id heuristic). Pass a
    materialized token column via ``toks`` to tokenize once per row."""
    toks = tokens(c) if toks is None else toks
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def detect_language(c: Column | str, toks: Column | None = None) -> Column:
    """argmax over lang_scores with declaration-order tie-break; 'und' if
    no stopword hits at all.

    Implemented as array_max over (score, -declaration_index, lang)
    structs — each score expression appears exactly once in the plan (a
    when-chain would duplicate them exponentially)."""
    scores = lang_scores(c, toks)
    entries = [
        F.struct(
            s.alias("s"), F.lit(-idx).alias("prio"), F.lit(lang).alias("lang")
        )
        for idx, (lang, s) in enumerate(scores.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] == 0, F.lit("und")).otherwise(best["lang"])


def rolling_fingerprint(c: Column | str) -> Column:
    """Polynomial rolling hash (base 31, mod 1e9+7) over the normalized
    text's characters — the document fingerprint."""
    norm = normalize_text(c)
    chars = F.split(norm, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FNV_BASE + F.ascii(ch)) % FNV_MOD,
    )


def quality_score(c: Column | str) -> Column:
    """Composite quality score ∈ [0,1]: rewards mid-length docs, low
    punctuation density, presence of stopwords. Deterministic formula:

        score = 0.4*min(n_tokens,100)/100
              + 0.3*(1 - min(punct_ratio*5, 1))
              + 0.3*min(stopword_ratio*10, 1)
    """
    n_tok = token_count(c).cast("double")
    n_char = F.length(_col(c)).cast("double")
    punct_ratio = F.when(n_char > 0, punct_count(c) / n_char).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stopword_count(c) / n_tok).otherwise(F.lit(0.0))
    return (
        F.least(n_tok, F.lit(100.0)) / 100.0 * 0.4
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 10.0, F.lit(1.0)) * 0.3
    )


def _repetition_batch(toks_series, chars_series, stopwords=None):
    """Vectorized core of :func:`repetition_metrics` for one Arrow
    batch: identical arithmetic to the JVM expression tree it replaced
    (same IEEE-754 op order, floor basis points), run as numpy batch
    ops instead of the per-element interpreted ``aggregate`` fold
    (``ArrayAggregate`` is CodegenFallback — measured ~0.6 s of the
    0.8 s metrics pass at sf0.1).

    Token/gram ordering note: tokens are ``[a-z0-9]*`` (the
    ``normalize_text`` alphabet), where Python/numpy code-point order,
    Java's UTF-16 order and the oracle's byte order coincide, and
    ``concat_ws(" ", a, b)`` order equals (a, b) pair order because
    ``' '`` sorts below every token character."""
    import numpy as np
    import pandas as pd

    lists = toks_series.tolist()
    n_docs = len(lists)
    sizes = np.zeros(n_docs, dtype=np.int64)
    isnull = np.zeros(n_docs, dtype=bool)
    for i, t in enumerate(lists):
        if t is None:
            isnull[i] = True
        else:
            sizes[i] = len(t)
    # sizes for NULL arrays participate as 0 in the batch math; the
    # returned n_tokens restores NULL (F.size of NULL is NULL here)
    n = sizes
    distinct = np.zeros(n_docs, dtype=np.int64)
    best_cnt = np.zeros(n_docs, dtype=np.int64)
    best_len = np.zeros(n_docs, dtype=np.int64)
    alpha_cnt = np.zeros(n_docs, dtype=np.int64)
    stop_cnt = np.zeros(n_docs, dtype=np.int64)
    total = int(sizes.sum())
    if total:
        flat = np.empty(total, dtype=object)
        pos = 0
        for t, sz in zip(lists, sizes):
            if sz:
                flat[pos : pos + sz] = t
                pos += sz
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), sizes)
        codes, uniques = pd.factorize(pd.Series(flat), sort=False)
        codes = codes.astype(np.int64)
        # lexicographic rank per unique token: code order -> string order
        uarr = np.asarray(uniques, dtype=object)
        rank_of_code = np.empty(len(uarr), dtype=np.int64)
        rank_of_code[np.argsort(uarr, kind="stable")] = np.arange(
            len(uarr), dtype=np.int64
        )
        ulen = np.fromiter((len(u) for u in uarr), dtype=np.int64, count=len(uarr))
        # distinct tokens per doc: runs of (doc, code) after an int sort
        order = np.lexsort((codes, doc_idx))
        sd, sc = doc_idx[order], codes[order]
        newrun = np.ones(total, dtype=bool)
        newrun[1:] = (sd[1:] != sd[:-1]) | (sc[1:] != sc[:-1])
        np.add.at(distinct, sd[newrun], 1)
        if stopwords is not None:
            # alpha/stopword gate signals, decided once per UNIQUE token
            # (tokens are [a-z0-9]*: "contains a letter" == non-empty and
            # not all digits — same predicate as rlike('[a-z]'))
            has_alpha = np.fromiter(
                (len(u) > 0 and not u.isdigit() for u in uarr),
                dtype=bool,
                count=len(uarr),
            )
            np.add.at(alpha_cnt, doc_idx[has_alpha[codes]], 1)
            is_stop = np.fromiter(
                (u in stopwords for u in uarr), dtype=bool, count=len(uarr)
            )
            dmask = newrun & is_stop[sc]
            np.add.at(stop_cnt, sd[dmask], 1)
        # bigrams: adjacent positions within one doc
        if total > 1:
            same = doc_idx[1:] == doc_idx[:-1]
            if same.any():
                gl, gr = codes[:-1][same], codes[1:][same]
                gdoc = doc_idx[:-1][same]
                # single int key ordered like the "l r" gram string
                gkey = rank_of_code[gl] * np.int64(len(uarr)) + rank_of_code[gr]
                g_ord = np.lexsort((gkey, gdoc))
                gd, gk = gdoc[g_ord], gkey[g_ord]
                m = len(gd)
                starts = np.ones(m, dtype=bool)
                starts[1:] = (gd[1:] != gd[:-1]) | (gk[1:] != gk[:-1])
                run_start = np.flatnonzero(starts)
                run_doc = gd[run_start]
                run_cnt = np.diff(np.append(run_start, m)).astype(np.int64)
                run_l = gl[g_ord][run_start]
                run_r = gr[g_ord][run_start]
                # per doc: max count, ties -> largest gram (= largest
                # in-doc run index, runs ascend by gram)
                r_ord = np.lexsort(
                    (np.arange(len(run_doc)), run_cnt, run_doc)
                )
                last = np.ones(len(r_ord), dtype=bool)
                last[:-1] = run_doc[r_ord][1:] != run_doc[r_ord][:-1]
                win = r_ord[last]
                wd = run_doc[win]
                best_cnt[wd] = run_cnt[win]
                best_len[wd] = ulen[run_l[win]] + 1 + ulen[run_r[win]]
    chars = np.asarray(chars_series, dtype=np.float64)
    nf = n.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        dup_bp = np.where(
            n > 0,
            np.floor((1.0 - distinct.astype(np.float64) / nf) * 10000),
            0.0,
        ).astype(np.int64)
    top2_bp = np.floor(
        best_cnt.astype(np.float64) * best_len.astype(np.float64) / chars * 10000
    ).astype(np.int64)
    n_out = pd.array(n, dtype="Int64")
    n_out[isnull] = pd.NA  # F.size(NULL) is NULL
    out = pd.DataFrame(
        {
            "n_tokens": n_out,
            "dup_token_bp": dup_bp,
            "top2_count": best_cnt,
            "top2_bp": top2_bp,
        }
    )
    if stopwords is not None:
        # size(filter(NULL_toks, ...)) / size(array_intersect(NULL, ...))
        # are NULL in the JVM shape these mirror
        a_out = pd.array(alpha_cnt, dtype="Int64")
        s_out = pd.array(stop_cnt, dtype="Int64")
        a_out[isnull] = pd.NA
        s_out[isnull] = pd.NA
        out["alpha_cnt"] = a_out
        out["stop_cnt"] = s_out
    return out


def repetition_metrics(text_col: Column | str) -> dict[str, Column]:
    """Gopher-style repetition signals over a document's text (token
    alphabet = ``normalize_text``'s, i.e. the signals are those of
    ``tokens(text_col)``):

    - ``dup_token_bp``: fraction of tokens that repeat an earlier token
      (1 - distinct/total; 0 for empty docs), in floor basis points
    - ``top2_count``: occurrences of the most frequent word 2-gram
      (ties broken toward the lexicographically largest gram)
    - ``top2_bp``: fraction of the normalized text's characters covered
      by occurrences of that 2-gram (count·len(gram)/chars — the Gopher
      "fraction of characters in most common n-gram" signal), in floor
      basis points

    Ratios are floor-scaled basis points — floor on bit-identical
    doubles is engine-portable where round-half isn't (same convention
    as quality_score).

    Implementation (r13 opt, guide §4.2): ONE Arrow-vectorized
    ``pandas_udf`` over the NORMALIZED TEXT, evaluated once per row —
    the previous pure-JVM shape (``array_sort`` + ``aggregate`` struct
    fold per doc) ran the fold interpreted per element
    (CodegenFallback); shipping one normalized string per row instead
    of its token array also halves the Arrow transfer. Measured at
    sf0.1: 0.81 s -> 0.48 s for the 4-signal pass. Arithmetic and
    ordering are replicated exactly (:func:`_repetition_batch`; tokens
    and ``chars = greatest(len(norm), 1)`` re-derive from the same
    normalized string ``tokens()`` splits), pinned by the oracle-gated
    queries that consume it."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "n_tokens long, dup_token_bp long, top2_count long, top2_bp long"
    )
    def _rep(norm):
        import pandas as pd

        vals = norm.tolist()
        toks = pd.Series(
            [None if s is None else s.split(" ") for s in vals],
            dtype=object,
        )
        chars = [1.0 if s is None else float(max(len(s), 1)) for s in vals]
        return _repetition_batch(toks, chars)

    r = _rep(normalize_text(text_col))
    return {
        "n_tokens": r["n_tokens"],
        "dup_token_bp": r["dup_token_bp"],
        "top2_count": r["top2_count"],
        "top2_bp": r["top2_bp"],
    }


def gopher_signals(text_col: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Every per-doc signal the Gopher rule gate consumes, as ONE
    struct column ``(n_tok, letters, alpha_cnt, stop_cnt, top2_bp)``
    computed by a single Arrow-vectorized pass over the normalized
    text (r13 opt, guide §4.2/§4.4).

    Motivation: the gate previously built each signal as a separate JVM
    expression tree (tokens() split + HOF filter with a per-element
    rlike + the repetition fold), and a filter over those aliased
    columns inlines a fresh copy of each tree into every conjunct —
    measured at sf0.1, the 0.97 s feature projection became 9.3 s once
    the 6-conjunct gate filter inlined it. One UDF call is extracted
    into one ArrowEvalPython node however many conjuncts reference its
    fields, so the corpus is tokenized exactly once.

    Field semantics replicate the JVM expressions bit-for-bit
    (oracle-pinned by gopher_rules_report / curation_pipeline_v4):

    - ``n_tok``: 0 for empty normalized text, else token count
      (NULL text -> NULL)
    - ``letters``: ``len(norm) - (n_tok - 1)`` when n_tok > 0 else 0
      (chars minus separating spaces — exact letter count, since the
      normalized alphabet is [a-z0-9 ])
    - ``alpha_cnt``: tokens containing a letter (occurrences)
    - ``stop_cnt``: DISTINCT tokens found in ``stopwords``
    - ``top2_bp``: the repetition_metrics signal (same core)
    """
    from pyspark.sql.functions import pandas_udf

    stopset = frozenset(stopwords)

    @pandas_udf(
        "n_tok long, letters long, alpha_cnt long, stop_cnt long, top2_bp long"
    )
    def _gate(norm):
        import pandas as pd

        vals = norm.tolist()
        toks = pd.Series(
            [None if s is None else s.split(" ") for s in vals],
            dtype=object,
        )
        chars = [1.0 if s is None else float(max(len(s), 1)) for s in vals]
        import numpy as np

        r = _repetition_batch(toks, chars, stopwords=stopset)
        # n_tok: the gate's when(t=='', 0).otherwise(size(toks)) — 0
        # for empty norm (where split('') is ['']), NULL for NULL text
        isnull = np.array([s is None for s in vals], dtype=bool)
        nt = np.array(
            [0 if not s else s.count(" ") + 1 for s in vals],
            dtype=np.int64,
        )
        lens = np.array(
            [0 if s is None else len(s) for s in vals], dtype=np.int64
        )
        # when(n_tok > 0, len - (n_tok - 1)).otherwise(0): NULL n_tok
        # takes the otherwise branch, exactly like nt=0 here
        lets = np.where(nt > 0, lens - (nt - 1), 0)
        n_tok = pd.array(nt, dtype="Int64")
        n_tok[isnull] = pd.NA
        letters = pd.array(lets, dtype="Int64")
        return pd.DataFrame(
            {
                "n_tok": n_tok,
                "letters": letters,
                "alpha_cnt": r["alpha_cnt"],
                "stop_cnt": r["stop_cnt"],
                "top2_bp": r["top2_bp"],
            }
        )

    return _gate(normalize_text(text_col))


# PII patterns: RE2-safe subset (no lookaround/backrefs) so the Java
# regex engine (Spark) and RE2 (DuckDB oracle) match identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"(\+?[0-9]{1,3}[ -])?[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"


def with_pii_scrubbed(df, text_col: str):
    """Count and redact emails / URLs / phone numbers.

    Adds ``n_urls`` / ``n_emails`` / ``n_phones`` and ``scrubbed``
    (matches replaced by ``<URL>`` / ``<EMAIL>`` / ``<PHONE>``).
    Scrubbing is staged URL → email → phone and each count is taken on
    the previous stage's output, so an address embedded in a URL is
    counted once, as a URL. The stages are materialized as their own
    columns — each regexp_replace runs once per row even though two
    downstream expressions reference it (a single-projection expression
    chain would re-evaluate the whole prefix per output column). All
    regexes run in the codegen'd JVM regexp functions — no UDFs.
    """
    col = _col(text_col)
    d = df.withColumn("__no_url", F.regexp_replace(col, URL_RE, "<URL>"))
    d = d.withColumn(
        "__no_email", F.regexp_replace(F.col("__no_url"), EMAIL_RE, "<EMAIL>")
    )
    return (
        d.withColumn("n_urls", F.regexp_count(col, F.lit(URL_RE)).cast("long"))
        .withColumn(
            "n_emails",
            F.regexp_count(F.col("__no_url"), F.lit(EMAIL_RE)).cast("long"),
        )
        .withColumn(
            "n_phones",
            F.regexp_count(F.col("__no_email"), F.lit(PHONE_RE)).cast("long"),
        )
        .withColumn(
            "scrubbed", F.regexp_replace(F.col("__no_email"), PHONE_RE, "<PHONE>")
        )
        .drop("__no_url", "__no_email")
    )
