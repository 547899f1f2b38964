"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID, quality
scoring, token counting, document fingerprinting. Every operator here is
a narrow map-only pass that scales to 100 TB as a single pass over the
text column: built-in ``pyspark.sql.functions``, except the scorer counts
and the exploded n-grams, which run as vectorized mapInArrow kernels (no
per-row Python UDFs).

Cross-engine note: fingerprints use md5 (identical hex in Spark and
DuckDB), not xxhash64 (Spark-private seed), so oracle queries can
reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# A compact multilingual stopword table for the n-gram-heuristic language
# scorer. Occurrence counts are substring-based (replace-count trick) so
# the same logic is expressible in portable SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is ", " a "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
    "es": [" el ", " de ", " que ", " los ", " una "],
    "de": [" der ", " die ", " und ", " das ", " ein "],
}
CJK_RANGE = "[\\u4e00-\\u9fff]"

# BPE-ish tokenization: word pieces, digit runs, single non-space symbols.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

ENGLISH_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "for", "on", "with", "as", "at", "by", "it", "this", "that",
]


STAT_COLS = ["n_chars", "n_words", "n_tokens", "n_punct", "punct_ratio", "stopword_ratio", "avg_word_len"]

# The scorer kernel computes ONLY integer counts (codepoints,
# whitespace/punct bytes, token runs, stopword/marker substring hits, CJK
# codepoints); every ratio, quality weight and the language argmax stays
# in the JVM, so value equality with the regexp_count reference forms in
# tests/kernel_reference.py reduces to integer-count equality (pinned by
# tests/test_scorer_kernel.py).
_STATS_COUNT_COLS = ["__c_chars", "__c_ws", "__c_wruns", "__c_tok", "__c_punct", "__c_stop"]
_LANG_COUNT_COLS = ["__c_en", "__c_fr", "__c_es", "__c_de", "__c_cjk"]


def _scorer_counts_arrow_batches(t_idx: int, want_stats: bool, want_lang: bool):
    """mapInArrow kernel factory for the scorer's integer counts (guide
    §4.2). Input batches carry the caller's columns plus ``__pad``
    (JVM-computed ``' ' || lower(t) || ' '`` — lowercasing stays in the
    JVM so unicode case rules cannot drift) as the LAST column; output
    is the input minus ``__pad`` plus the requested count columns.

    Count definitions (all exact integers, replicating the regex
    reference forms byte-for-byte over the UTF-8 buffer):

    - ``__c_chars``  codepoints of t (= length(t); bytes minus UTF-8
      continuation bytes),
    - ``__c_ws``     ASCII-whitespace chars of t (Java ``\\s`` is the
      6 ASCII bytes — each one codepoint),
    - ``__c_wruns``  maximal whitespace runs in the SPACE-trimmed t
      (so ``n_words = size(split(trim(t), '\\s+')) = __c_wruns + 1``;
      trim strips 0x20 only, so an edge run survives iff it contains a
      non-space whitespace char — the per-row edge correction below),
    - ``__c_tok``    TOKEN_PATTERN matches = maximal [A-Za-z] runs +
      maximal [0-9] runs + other non-ws codepoints (leftmost-greedy
      alternation over disjoint starts — count equality by
      construction),
    - ``__c_punct``  the 15 ASCII punct bytes (matching the SQL regex
      class ``.,;:!?'"()[]{}-``),
    - ``__c_stop``   non-overlapping ``' w '`` hits over __pad summed
      across ENGLISH_STOPWORDS (bytes.count IS regexp_count's
      leftmost non-overlapping semantics for a literal needle),
    - ``__c_en/fr/es/de``  the same per LANG_MARKERS language,
    - ``__c_cjk``    U+4E00–U+9FFF codepoints (3-byte UTF-8 lead-byte
      range test).

    NULL text → NULL counts (the regex forms null-propagate)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        stops = [f" {w} ".encode() for w in ENGLISH_STOPWORDS]
        marks = [[m.encode() for m in LANG_MARKERS[lang]] for lang in ("en", "fr", "es", "de")]
        ws_bytes = np.array([0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D], dtype=np.uint8)
        punct_bytes = np.frombuffer(b".,;:!?'\"()[]{}-", dtype=np.uint8)

        def per_row(csum, lo):
            return csum[lo[1:]] - csum[lo[:-1]]

        def cum(mask):
            c = np.zeros(len(mask) + 1, dtype=np.int64)
            np.cumsum(mask, out=c[1:])
            return c

        def run_starts(mask, lo):
            st = mask & ~np.concatenate(([False], mask[:-1]))
            heads = lo[:-1][lo[:-1] < len(mask)]
            st[heads] = mask[heads]
            return st

        for batch in batches:
            n = len(batch)
            tcol = batch.column(t_idx)
            pcol = batch.column(batch.num_columns - 1)
            keep = [batch.column(i) for i in range(batch.num_columns - 1)]
            keep_names = batch.schema.names[:-1]
            count_names = (list(_STATS_COUNT_COLS) if want_stats else []) + (
                list(_LANG_COUNT_COLS) if want_lang else []
            )
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    keep + [pa.array([], type=pa.int64()) for _ in count_names],
                    keep_names + count_names,
                )
                continue
            null_mask = np.zeros(n, dtype=bool)
            if tcol.null_count:
                null_mask = ~np.asarray(tcol.is_valid())
            tb = tcol.buffers()
            odt = np.int64 if pa.types.is_large_string(tcol.type) else np.int32
            toffs = (
                np.frombuffer(tb[1], dtype=odt)[tcol.offset : tcol.offset + n + 1]
                .astype(np.int64)
            )
            tdata = np.frombuffer(tb[2], dtype=np.uint8)
            seg = tdata[toffs[0] : toffs[-1]]
            lo = toffs - toffs[0]
            out: dict[str, np.ndarray] = {}
            if want_stats or want_lang:
                ws = np.isin(seg, ws_bytes)
            if want_stats:
                cont = (seg & 0xC0) == 0x80
                alpha = ((seg >= 0x41) & (seg <= 0x5A)) | ((seg >= 0x61) & (seg <= 0x7A))
                digit = (seg >= 0x30) & (seg <= 0x39)
                punct = np.isin(seg, punct_bytes)
                lead = ~cont
                other_cp = lead & ~alpha & ~digit & ~ws
                out["__c_chars"] = per_row(cum(~cont), lo)
                out["__c_ws"] = per_row(cum(ws), lo)
                out["__c_punct"] = per_row(cum(punct), lo)
                out["__c_tok"] = (
                    per_row(cum(run_starts(alpha, lo)), lo)
                    + per_row(cum(run_starts(digit, lo)), lo)
                    + per_row(cum(other_cp), lo)
                )
                # whitespace runs of t, then the space-trim edge fix:
                # an edge run vanishes iff it is ALL 0x20 (trim strips
                # exactly those); it survives (shrunk) iff it reaches a
                # non-space whitespace byte
                wruns = per_row(cum(run_starts(ws, lo)), lo)
                nonsp = np.flatnonzero(seg != 0x20)
                f = np.searchsorted(nonsp, lo[:-1])
                g = np.searchsorted(nonsp, lo[1:]) - 1
                has_non = f <= g
                fidx = nonsp[np.minimum(f, max(len(nonsp) - 1, 0))] if len(nonsp) else np.zeros(n, dtype=np.int64)
                lidx = nonsp[np.maximum(g, 0)] if len(nonsp) else np.zeros(n, dtype=np.int64)
                ws_at = np.zeros(len(seg) + 1, dtype=bool)
                ws_at[: len(seg)] = ws
                lead_cut = has_non & (fidx > lo[:-1]) & ~ws_at[fidx]
                trail_cut = has_non & (lidx < lo[1:] - 1) & ~ws_at[lidx]
                wruns = wruns - lead_cut - trail_cut
                # all-space (or empty) rows: trimmed text is "" → 0 runs
                wruns[~has_non] = 0
                out["__c_wruns"] = wruns
            if want_lang:
                cjk = ((seg >= 0xE5) & (seg <= 0xE9)) | (
                    (seg == 0xE4) & (np.concatenate((seg[1:], np.zeros(1, dtype=np.uint8))) >= 0xB8)
                )
                out["__c_cjk"] = per_row(cum(cjk), lo)
            # substring hits run per row over the pad buffer with C-speed
            # bytes.count(needle, start, end) — no slices materialized
            pb_bufs = pcol.buffers()
            podt = np.int64 if pa.types.is_large_string(pcol.type) else np.int32
            poffs = (
                np.frombuffer(pb_bufs[1], dtype=podt)[pcol.offset : pcol.offset + n + 1]
                .astype(np.int64)
            )
            pb = pb_bufs[2].to_pybytes()
            if want_stats:
                c_stop = np.zeros(n, dtype=np.int64)
            if want_lang:
                c_langs = [np.zeros(n, dtype=np.int64) for _ in range(4)]
            for r in range(n):
                if null_mask[r]:
                    continue
                s, e = int(poffs[r]), int(poffs[r + 1])
                if want_stats:
                    c_stop[r] = sum(pb.count(nd, s, e) for nd in stops)
                if want_lang:
                    for li in range(4):
                        c_langs[li][r] = sum(pb.count(nd, s, e) for nd in marks[li])
            if want_stats:
                out["__c_stop"] = c_stop
            if want_lang:
                for li, name in enumerate(("__c_en", "__c_fr", "__c_es", "__c_de")):
                    out[name] = c_langs[li]
            mask = null_mask if null_mask.any() else None
            yield pa.RecordBatch.from_arrays(
                keep + [pa.array(out[c], mask=mask) for c in count_names],
                keep_names + count_names,
            )

    return fn


def _scorer_counts(df: DataFrame, text_col: str, want_stats: bool, want_lang: bool) -> DataFrame:
    """Append the requested integer count columns via the arrow kernel:
    one map-only pass, JVM-lowered pad, full column passthrough."""
    t = F.col(text_col)
    inp = df.withColumn("__pad", F.concat(F.lit(" "), F.lower(t), F.lit(" ")))
    t_idx = df.columns.index(text_col)
    counts = (list(_STATS_COUNT_COLS) if want_stats else []) + (
        list(_LANG_COUNT_COLS) if want_lang else []
    )
    # backtick-quote passthrough names: a caller column needing quoting
    # (space, dash, dot, reserved word) must round-trip the DDL schema
    # string exactly (ADVICE r14)
    fields = ", ".join(
        "`{}` {}".format(f.name.replace("`", "``"), f.dataType.simpleString())
        for f in df.schema.fields
    )
    schema = fields + ", " + ", ".join(f"{c} bigint" for c in counts)
    return inp.mapInArrow(_scorer_counts_arrow_batches(t_idx, want_stats, want_lang), schema=schema)


def _stats_from_counts(df: DataFrame, text_col: str) -> DataFrame:
    """The 7 STAT_COLS from the kernel's count columns — every division
    and cast matches the regex form's expression exactly (identical
    integer inputs → identical doubles)."""
    n_chars = F.col("__c_chars").cast("int")
    # NULL text: size(split(trim(NULL))) is SESSION-DEPENDENT — -1 with
    # ANSI off (legacy sizeOfNull defaults to !ansi), NULL with ANSI on.
    # Evaluate the ORIGINAL expression on exactly the null rows so the
    # session's own semantics apply; non-null rows take the count.
    n_words = (
        F.when(
            F.col("__c_wruns").isNull(),
            F.size(F.split(F.trim(F.col(text_col)), "\\s+")),
        )
        .otherwise(F.col("__c_wruns") + 1)
        .cast("int")
    )
    n_tokens = F.col("__c_tok").cast("int")
    n_punct = F.col("__c_punct").cast("int")
    stop_hits = F.col("__c_stop").cast("double")
    return df.select(
        "*",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_punct.cast("bigint").alias("n_punct"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (stop_hits / F.greatest(n_words, F.lit(1))).alias("stopword_ratio"),
        ((n_chars - F.col("__c_ws").cast("int")) / F.greatest(n_words, F.lit(1))).alias(
            "avg_word_len"
        ),
    ).drop(*_STATS_COUNT_COLS)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / word / token / punctuation statistics, one projection.
    Pre-existing columns with the same names are replaced (the documents
    testdata table ships its own ``n_chars``). The counts come from the
    arrow counting kernel; the regexp_count reference form lives in
    ``tests/kernel_reference.py`` (``tests/test_scorer_kernel.py``)."""
    df = df.drop(*[c for c in STAT_COLS if c in df.columns])
    return _stats_from_counts(_scorer_counts(df, text_col, True, False), text_col)


def _quality_from_stats(stats: DataFrame) -> DataFrame:
    """The quality_score arithmetic over the STAT_COLS — pure fixed-order
    double expressions, shared verbatim with the test reference."""
    len_score = F.least(F.col("n_chars") / F.lit(200.0), F.lit(1.0))
    stop_score = F.least(F.col("stopword_ratio") * F.lit(4.0), F.lit(1.0))
    punct_score = F.when(F.col("punct_ratio") <= 0.1, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - (F.col("punct_ratio") - F.lit(0.1)) * F.lit(5.0))
    )
    wordlen_score = F.when((F.col("avg_word_len") >= 2) & (F.col("avg_word_len") <= 12), F.lit(1.0)).otherwise(F.lit(0.3))
    # no rounding: the raw double is already deterministic (fixed operand
    # order), and round() semantics differ subtly across engines
    return stats.withColumn(
        "quality_score",
        len_score * F.lit(0.3) + stop_score * F.lit(0.3) + punct_score * F.lit(0.2) + wordlen_score * F.lit(0.2),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    sane punctuation + sane word length. Weights are arbitrary but fixed;
    the point is a deterministic, filterable scalar."""
    stats = with_text_stats(df, text_col) if "stopword_ratio" not in df.columns else df
    return _quality_from_stats(stats)


def _lang_pred_from_scores(cjk: Column, t: Column) -> Column:
    """The deterministic argmax over __score_* columns plus the CJK
    short-circuit — shared verbatim with the test reference (the
    when-chain is pure arithmetic over the score columns)."""
    best = F.lit("und")
    best_score = F.lit(0.0)
    # fixed iteration order; strict > keeps the earlier language on ties
    for lang in ["en", "fr", "es", "de"]:
        score = F.col(f"__score_{lang}")
        is_better = score > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return F.when(cjk * 2 > F.length(t) * 0.1, F.lit("zh")).otherwise(best)


def _lang_from_counts(df: DataFrame, text_col: str) -> DataFrame:
    """lang_pred from the kernel's count columns — the scores are the
    identical CAST(int-sum AS DOUBLE) the regexp_count fold produces."""
    t = F.col(text_col)
    with_scores = df.select(
        "*",
        *[F.col(f"__c_{lang}").cast("double").alias(f"__score_{lang}") for lang in LANG_MARKERS],
    )
    lang_col = _lang_pred_from_scores(F.col("__c_cjk"), t)
    return with_scores.withColumn("lang_pred", lang_col).drop(
        *_LANG_COUNT_COLS, *[f"__score_{lang}" for lang in LANG_MARKERS]
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID over the stopword marker table; CJK
    character density short-circuits to 'zh'. Ties resolve by fixed
    language order (en, fr, es, de) — deterministic by construction.
    The marker counts come from the arrow counting kernel; the
    regexp_count reference form lives in ``tests/kernel_reference.py``."""
    return _lang_from_counts(_scorer_counts(df, text_col, False, True), text_col)


def with_quality_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused ``with_lang_id(with_quality_score(df))`` — the corpus-prep
    scorer. The stats AND lang counts come out of ONE kernel pass (one
    text transfer instead of two); the output equals the literal
    composition."""
    d = df.drop(*[c for c in STAT_COLS if c in df.columns])
    counted = _scorer_counts(d, text_col, True, True)
    stats = _stats_from_counts(counted, text_col)
    return _lang_from_counts(_quality_from_stats(stats), text_col)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: full-content md5 plus a normalized
    (case/whitespace-insensitive) md5 — the cheap exact-dup keys."""
    t = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(t)), "\\s+", " ")
    return df.withColumn("fingerprint", F.md5(t)).withColumn("fingerprint_norm", F.md5(norm))


def normalize_ws(text_col: str = "text") -> Column:
    """Lowercase + whitespace-collapse canonical form (exact-dedup key).
    SQL twin: ``norm_ws_sql`` — the two must stay in lockstep; every
    oracle cites the SQL twin so there is ONE definition per family."""
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")


def norm_ws_sql(text_col: str = "text") -> str:
    """DuckDB twin of ``normalize_ws``."""
    return f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"


def normalize_chars(text_col: str = "text") -> Column:
    """Aggressive canonicalization: lowercase, every non-alphanumeric run
    to one space, trim (fingerprinting / fuzzy-blocking substrate).
    SQL twin: ``norm_chars_sql``."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))


def norm_chars_sql(text_col: str = "text") -> str:
    """DuckDB twin of ``normalize_chars``."""
    return f"trim(regexp_replace(lower({text_col}), '[^a-z0-9]+', ' ', 'g'))"


def tokenize(text_col: str = "text") -> Column:
    """Whitespace word tokens, lowercased — the substrate for shingling."""
    return F.split(normalize_ws(text_col), " ")


def bind_once(value, build):
    """Evaluate ``value`` ONCE per row and hand it to ``build`` as a
    lambda variable: ``transform(array(value), v -> build(v))[0]``.

    Why this exists: referencing a Column subtree from inside a
    higher-order-function lambda EMBEDS the subtree in the lambda body,
    so it re-evaluates per array element. For ``transform(sequence(0,
    size(toks)), i -> slice(toks, ...))`` with ``toks`` a regex
    tokenization, that is one full-text regex pass PER TOKEN — O(len²)
    per document. Binding through a one-element transform makes ``v``
    a NamedLambdaVariable (a per-row slot read), restoring O(len).
    Measured on the shingle/gram kernels at sf0.1: 7.45 → 1.97 and
    8.93 → 2.18 executor-CPU s, byte-identical output multisets."""
    return F.transform(F.array(value), build)[0]


def word_ngrams(text_col: str = "text", n: int = 5):
    """Array of word n-grams over whitespace tokens; windows that would
    run past the document end are dropped (no short tail grams). The
    SINGLE definition behind every gram-based screen — contamination,
    bloom pruning, novelty — and their oracles\' gram CTE; keep the
    DuckDB twin (list_slice over range, i + n <= len(tk)) in lockstep."""

    def build(tk):
        return F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0))),
                lambda i: F.when(i + n <= F.size(tk), F.concat_ws(" ", F.slice(tk, i + 1, n))),
            ),
            lambda g: g.isNotNull(),
        )

    # tokenize() must be BOUND, not referenced, inside the lambdas — see
    # bind_once: unbound, the regex tokenization re-runs per gram.
    return bind_once(tokenize(text_col), build)


def _grams_arrow_batches(n: int):
    """mapInArrow kernel factory for the exploded distinct word-n-gram
    relation (guide §4.2, same buffer-slicing trick as the minhash
    signature kernel): the normalized text arrives as ONE contiguous
    Arrow UTF-8 value buffer plus row offsets, and a word n-gram
    INCLUDING its single separating spaces is a CONTIGUOUS BYTE SLICE
    of that buffer (tokens are single-space separated by construction —
    ``concat_ws(' ', slice(tk, i+1, n))`` over consecutive tokens of a
    single-space-joined string IS the substring between the two token
    boundaries, empty edge tokens included). Per batch:

    - gram (start, end) pairs come from vectorized offset math over the
      space positions (no per-gram Python),
    - the gram string column is built with ONE vectorized byte gather,
    - per-row DISTINCT (the ``array_distinct`` contract) runs as
      ``dictionary_encode`` (exact byte equality, C++) + one
      ``np.unique`` over packed (row, code) int64 keys.

    Row-set contract is IDENTICAL to ``explode(array_distinct(
    word_ngrams(...)))``: one row per distinct gram per document,
    documents with fewer than n tokens emit nothing (``word_ngrams``
    drops windows past the end), NULL text emits nothing
    (pre-filtered). Row ORDER within a partition differs (the explode
    form keeps first-occurrence order, this form (row, dictionary code)
    order) — every consumer is an aggregate/join/window keyed on the
    gram or the id, so the query results are identical; pinned by
    ``tests/test_gram_kernel.py`` with sorted-row equality."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        cap = 1 << 28  # per-chunk output-bytes bound, keeps utf8 offsets int32
        for batch in batches:
            ids = batch.column(0)
            col = batch.column(1)
            n_rows = len(col)
            if n_rows == 0:
                continue
            bufs = col.buffers()
            odt = np.int64 if pa.types.is_large_string(col.type) else np.int32
            offs = (
                np.frombuffer(bufs[1], dtype=odt)[col.offset : col.offset + n_rows + 1]
                .astype(np.int64)
            )
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            # every separator position once per batch; rows slice into it
            sp_all = np.flatnonzero(data[offs[0] : offs[-1]] == 0x20) + int(offs[0])
            sp_safe = sp_all if sp_all.size else np.zeros(1, dtype=np.int64)
            row_sp = np.searchsorted(sp_all, offs)
            nsp = np.diff(row_sp)
            toks = nsp + 1
            m = np.where(toks >= n, toks - n + 1, 0).astype(np.int64)
            # chunk rows so one output value buffer stays bounded (each
            # source byte lands in <= n grams, so n * row_bytes bounds
            # the per-row gram bytes); almost always a single chunk
            est = np.cumsum(n * np.diff(offs))
            n_chunks = int(est[-1] // cap) + 1
            bounds = np.minimum(np.searchsorted(est, cap * np.arange(1, n_chunks)) + 1, n_rows)
            cut_rows = [0] + sorted(set(bounds.tolist()) - {0, n_rows}) + [n_rows]
            for r0, r1 in zip(cut_rows, cut_rows[1:]):
                mm = m[r0:r1]
                total = int(mm.sum())
                if total == 0:
                    continue
                mcum = np.zeros(r1 - r0 + 1, dtype=np.int64)
                np.cumsum(mm, out=mcum[1:])
                row_of = np.repeat(np.arange(r1 - r0, dtype=np.int64), mm)
                j = np.arange(total, dtype=np.int64) - np.repeat(mcum[:-1], mm)
                sp_base = np.repeat(row_sp[r0:r1], mm)
                # gram i spans token i .. token i+n-1; boundaries come
                # straight from the space positions (absolute offsets)
                starts = np.where(
                    j == 0,
                    np.repeat(offs[r0:r1], mm),
                    sp_safe[np.maximum(sp_base + j - 1, 0) % sp_safe.size] + 1,
                )
                t_end = j + n - 1
                ends = np.where(
                    t_end < np.repeat(nsp[r0:r1], mm),
                    sp_safe[np.minimum(sp_base + t_end, sp_safe.size - 1)],
                    np.repeat(offs[r0 + 1 : r1 + 1], mm),
                )
                lens = ends - starts
                gcum = np.zeros(total + 1, dtype=np.int64)
                np.cumsum(lens, out=gcum[1:])
                nbytes = int(gcum[-1])
                idx = (
                    np.arange(nbytes, dtype=np.int64)
                    - np.repeat(gcum[:-1], lens)
                    + np.repeat(starts, lens)
                )
                garr = pa.Array.from_buffers(
                    pa.utf8(),
                    total,
                    [None, pa.py_buffer(gcum.astype(np.int32)), pa.py_buffer(data[idx])],
                )
                denc = pc.dictionary_encode(garr)
                codes = np.asarray(denc.indices, dtype=np.int64)
                nuniq = len(denc.dictionary)
                ukey = np.unique(row_of * np.int64(nuniq) + codes)
                urow = ukey // nuniq
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.slice(r0, r1 - r0).take(pa.array(urow)),
                        denc.dictionary.take(pa.array(ukey - urow * nuniq)),
                    ],
                    ["id", "g"],
                )

    return fn


def word_ngrams_exploded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """The exploded distinct word-n-gram relation — (id_col, g), one row
    per distinct gram per document. The SINGLE Spark-side entry point
    behind every gram-based screen (contamination, bloom pruning,
    novelty); the DuckDB twin stays the _GRAMS5_CTE the oracles compose.

    Runs as a vectorized ``mapInArrow`` kernel (guide §4.2): the JVM
    computes the normalized text (codegen), the kernel slices grams as
    contiguous byte ranges of the Arrow buffer and dedups per row with
    dictionary-encode + one np.unique. It replaced the interpreted
    higher-order chain (transform/slice/concat_ws per gram +
    array_distinct string compares + Generate) with native vector
    code; map-only either way, so the plan keeps zero exchanges up to
    the first consumer shuffle at any scale. The test reference is
    ``explode(array_distinct(word_ngrams(...)))``
    (``tests/test_gram_kernel.py``).
    """
    norm = normalize_ws(text_col)
    base = df.filter(norm.isNotNull()).select(F.col(id_col).alias("id"), norm.alias("__norm"))
    idt = base.schema["id"].dataType.simpleString()
    out = base.mapInArrow(_grams_arrow_batches(n), schema=f"id {idt}, g string")
    return out.select(F.col("id").alias(id_col), "g")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of an LLM training pipeline.

    Chunks start every ``chunk_tokens - overlap`` tokens and span
    ``chunk_tokens`` (the final chunk is shorter). Pure column ops:
    tokenize once, explode a generated start-offset sequence, slice the
    token array per chunk — no UDF, embarrassingly parallel, output size
    ~ input x (1 + overlap ratio).

    Output: (id_col, chunk_id, chunk_text, chunk_n_tokens), chunk_id
    numbering chunks 0.. within each document. NULL/empty/whitespace-only
    documents produce no chunks (without the guard a NULL text would emit
    one phantom chunk whose chunk_n_tokens claims a full window —
    NULL-skipping ``greatest``/``least`` semantics)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("chunk_documents: need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(F.col("__tk")) - F.lit(overlap) - 1, F.lit(0)), F.lit(step)
    )
    return (
        df.filter(F.coalesce(F.length(F.trim(F.col(text_col))), F.lit(0)) > 0)
        .select(F.col(id_col), tokenize(text_col).alias("__tk"))
        .select(id_col, F.size("__tk").alias("__n"), F.explode(starts).alias("__start"), F.col("__tk"))
        .select(
            id_col,
            (F.col("__start") / step).cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice("__tk", F.col("__start") + 1, chunk_tokens)).alias("chunk_text"),
            F.least(F.col("__n") - F.col("__start"), F.lit(chunk_tokens)).alias("chunk_n_tokens"),
        )
    )


def top_tokens(
    df: DataFrame,
    by: list[str],
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary head: the ``k`` most frequent whitespace tokens per
    group (ties broken lexically — deterministic). One explode + one hash
    aggregate + one partitioned window; the group-by keys shard the
    window, so no global sort at any corpus size."""
    counts = (
        df.select(*by, F.explode(tokenize(text_col)).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy(*by, "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(*by).orderBy(F.col("n").desc(), "token")
    return counts.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB
# and most data engines) evaluate identically: character classes, bounded
# and unbounded greedy quantifiers — no alternation, no backreferences,
# no lookaround. Counting uses non-overlapping leftmost matching, which
# both engines share.
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    # digit-run phone shape: leading digit (optional +), >= 6 interior
    # chars of digits/space/()/-, trailing digit. Dots are NOT in the
    # interior class, so IPv4 addresses never satisfy it.
    "phone": "\\+?[0-9][0-9() -]{6,}[0-9]",
}

# redaction order matters: emails first (their local parts contain digit
# runs a phone pattern could claim), then IPv4 (dotted digit runs), then
# the loosest pattern (phone) over what remains
PII_REDACTION_ORDER = ["email", "ipv4", "phone"]


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII match counts (n_emails, n_phones, n_ipv4) plus a
    ``has_pii`` flag — the filter column a corpus-cleaning pipeline cuts
    or routes on. One projection, no UDF, no shuffle."""
    t = F.col(text_col)
    counts = {name: F.regexp_count(t, F.lit(pat)) for name, pat in PII_PATTERNS.items()}
    return df.select(
        "*",
        counts["email"].cast("bigint").alias("n_emails"),
        counts["phone"].cast("bigint").alias("n_phones"),
        counts["ipv4"].cast("bigint").alias("n_ipv4"),
        ((counts["email"] + counts["phone"] + counts["ipv4"]) > 0).alias("has_pii"),
    )


def redact_pii(df: DataFrame, text_col: str = "text", out_col: str = "text_redacted") -> DataFrame:
    """Replace every PII match with a typed placeholder (``<EMAIL>``,
    ``<IP>``, ``<PHONE>``) — the standard pre-training scrub that keeps
    the document while removing the contact surface. Sequential global
    regexp_replace in PII_REDACTION_ORDER; a narrow projection."""
    placeholders = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}
    out = F.col(text_col)
    for name in PII_REDACTION_ORDER:
        out = F.regexp_replace(out, F.lit(PII_PATTERNS[name]), F.lit(placeholders[name]))
    return df.withColumn(out_col, out)


# ---------------------------------------------------------------------------
# Repetition / boilerplate quality signals
# ---------------------------------------------------------------------------


def with_repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2) -> DataFrame:
    """Word n-gram repetition signals per document — the published
    pre-training quality-filter family (duplicate n-gram fraction and
    top n-gram share; high values mark boilerplate/spam):

    - ``n_ngrams``        total word n-grams,
    - ``distinct_ngrams`` distinct word n-grams,
    - ``dup_ngram_frac``  1 - distinct/total (0 for docs with < n words),
    - ``top_ngram``       the most frequent n-gram (lexically smallest on
                          count ties — deterministic),
    - ``top_ngram_share`` its count / total.

    Shape: explode → two hash aggregates, sharded by document — linear,
    no windows over more than one doc's n-grams, no UDF. Ratios are one
    integer division each, bit-reproducible cross-engine.
    """
    # the shared gram definition plus an empty-gram filter (empty docs
    # produce "" windows the stats must not count)
    grams = F.filter(word_ngrams(text_col, n), lambda g: F.length(g) > 0)
    exploded = df.select(F.col(id_col).alias("__id"), F.explode(grams).alias("__g"))
    per_gram = exploded.groupBy("__id", "__g").agg(F.count(F.lit(1)).alias("__c"))
    # argmax without a second join: rank n-grams within each doc
    # (count desc, gram asc) — the window is sharded by document, so no
    # task ever sees more than one doc's vocabulary
    w = Window.partitionBy("__id").orderBy(F.col("__c").desc(), F.col("__g"))
    ranked = per_gram.withColumn("__rn", F.row_number().over(w))
    per_doc = ranked.groupBy("__id").agg(
        F.sum("__c").alias("n_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.max("__c").alias("__maxc"),
        F.min(F.when(F.col("__rn") == 1, F.col("__g"))).alias("top_ngram"),
    )
    return df.join(per_doc, df[id_col] == F.col("__id"), "left").select(
        *df.columns,
        F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
        F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
        F.coalesce(
            F.lit(1.0) - F.col("distinct_ngrams") / F.col("n_ngrams"), F.lit(0.0)
        ).alias("dup_ngram_frac"),
        F.col("top_ngram"),
        F.coalesce(F.col("__maxc") / F.col("n_ngrams"), F.lit(0.0)).alias("top_ngram_share"),
    )


# ---------------------------------------------------------------------------
# BPE-ish token estimation
# ---------------------------------------------------------------------------

# Disjoint-start alternatives (letters / digits / punctuation) make the
# leftmost match unambiguous, so Java (Spark) and RE2 (DuckDB) tokenize
# identically; bounded greedy runs then mimic subword splitting: letter
# runs break every 4 chars (≈ the published ~4-chars-per-token average
# for BPE vocabularies), digits every 3 (GPT-style number chunking).
BPE_EST_PATTERN = "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]+"
WORD_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def with_token_estimates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenizer-free token budgeting: per document,

    - ``n_words``      full runs (letters / digit runs / punct runs),
    - ``n_bpe_est``    BPE-ish subword estimate (bounded runs — see
                       ``BPE_EST_PATTERN``),
    - ``chars_per_token``  length / n_bpe_est (0-safe).

    Pure ``regexp_count`` projections — no UDF, no shuffle; the numbers
    a packing/quota pass needs without shipping a real tokenizer."""
    t = F.col(text_col)
    words = F.regexp_count(t, F.lit(WORD_PATTERN)).cast("bigint")
    bpe = F.regexp_count(t, F.lit(BPE_EST_PATTERN)).cast("bigint")
    return df.select(
        "*",
        words.alias("n_words"),
        bpe.alias("n_bpe_est"),
        F.when(bpe > 0, F.length(t).cast("double") / bpe).otherwise(F.lit(0.0)).alias("chars_per_token"),
    )
