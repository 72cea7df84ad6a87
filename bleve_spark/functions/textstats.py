"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, fingerprinting.

All formulas are deliberately expressible as native Spark SQL columns —
the same arithmetic re-runs verbatim in any ANSI engine (the correctness
oracle), and on Spark it stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from bleve_spark.analysis.stopwords import ENGLISH_STOP_WORDS

# small, fixed function-word sets for n-gram-free language ID
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "como"],
    "fr": ["le", "la", "les", "des", "est", "dans", "une", "pour", "que"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
}

_TOKEN_RE = r"[a-z0-9]+(?:'[a-z]+)?"  # BPE-ish word pieces
_WS = r"\s+"


def words_col(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), _WS)


def token_count(text_col: str) -> Column:
    """Whitespace token count (native)."""
    return F.size(
        F.filter(words_col(text_col), lambda w: F.length(w) > 0)
    )


def regex_token_count(text_col: str) -> Column:
    """BPE-ish regex token count (Spark regexp_count ==
    DuckDB len(regexp_extract_all))."""
    return F.regexp_count(F.lower(F.col(text_col)), F.lit(_TOKEN_RE))


def stopword_ratio(text_col: str) -> Column:
    words = words_col(text_col)
    stops = F.filter(
        words,
        lambda w: w.isin(*sorted(ENGLISH_STOP_WORDS)),
    )
    return F.size(stops).cast("double") / F.greatest(
        F.size(words).cast("double"), F.lit(1.0)
    )


def punct_ratio(text_col: str) -> Column:
    txt = F.col(text_col)
    npunct = F.length(txt) - F.length(
        F.regexp_replace(txt, r"[^\w\s]", "")
    )
    return npunct.cast("double") / F.greatest(
        F.length(txt).cast("double"), F.lit(1.0)
    )


def mean_word_len(text_col: str) -> Column:
    words = F.filter(words_col(text_col), lambda w: F.length(w) > 0)
    total = F.aggregate(
        words, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
    )
    return total / F.greatest(F.size(words).cast("double"), F.lit(1.0))


def quality_score(text_col: str) -> Column:
    """Heuristic [0,1] quality: rewards mid-length docs, plausible word
    lengths, some stopword mass, low punctuation noise. Deterministic,
    portable arithmetic (piecewise-linear, no exp/erf)."""
    n_tok = token_count(text_col).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0)) * F.least(
        F.lit(2000.0) / F.greatest(n_tok, F.lit(1.0)), F.lit(1.0)
    )
    mwl = mean_word_len(text_col)
    wl_score = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    sw = stopword_ratio(text_col)
    sw_score = F.least(sw * F.lit(4.0), F.lit(1.0))
    pr = punct_ratio(text_col)
    punct_score = F.when(pr <= 0.2, F.lit(1.0)).otherwise(
        F.greatest(F.lit(1.0) - (pr - 0.2) * 2.0, F.lit(0.0))
    )
    return (
        len_score * 0.4 + wl_score * 0.2 + sw_score * 0.2 + punct_score * 0.2
    )


def lang_id(text_col: str) -> Column:
    """Function-word-overlap language ID (n-gram heuristic analogue):
    the language whose marker set overlaps the most tokens; 'und' if no
    marker hits."""
    words = words_col(text_col)
    best_lang = F.lit("und")
    best_cnt = F.lit(0)

    def _marker_count(markers):
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    for lang, markers in _LANG_MARKERS.items():
        cnt = _marker_count(markers)
        better = cnt > best_cnt
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_cnt = F.when(better, cnt).otherwise(best_cnt)
    return best_lang


def fingerprint(text_col: str) -> Column:
    """Locality-insensitive document fingerprint: md5 of the sorted
    distinct token set — stable under token reordering/duplication
    (the classic key-collapsing fingerprint)."""
    toks = F.array_sort(
        F.array_distinct(
            F.filter(words_col(text_col), lambda w: F.length(w) > 0)
        )
    )
    return F.md5(F.concat_ws(" ", toks))


def text_profile_columns(df: DataFrame, text_col: str,
                         key_col: str) -> DataFrame:
    """Column-expression statement of the profile (the reference
    semantics; every helper above). Kept as the executable spec the
    Arrow path is regression-tested against — as a plan it runs the
    higher-order functions interpreted (CodegenFallback) and
    re-evaluates the shared ``split(lower(text))`` subtree per stat."""
    return df.select(
        F.col(key_col).alias("key"),
        token_count(text_col).cast("long").alias("n_tokens"),
        regex_token_count(text_col).cast("long").alias("n_regex_tokens"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio"),
        F.round(mean_word_len(text_col), 6).alias("mean_word_len"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        F.round(quality_score(text_col), 6).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def _profile_batches(stops: frozenset, markers: list):
    """Per-batch profile worker (guide §4.2: one Arrow stage, batch
    compute in native/C code). Faithful to the Column spec above:

    * words = split(lower(text), \\s+) with Java-default ASCII
      classes (``re.ASCII``) and limit -1 (Python ``re.split`` keeps
      the same leading/trailing empty strings);
    * stopword/lang-marker counts run over the UNfiltered word list
      (empties match nothing) with size(words) as the ratio
      denominator — exactly like ``stopword_ratio``;
    * n_tokens / mean_word_len use the non-empty words;
    * all ratios are int/int double divisions and the quality formula
      is the same left-associated double arithmetic, so every value is
      bit-identical to the interpreted Column plan;
    * rounding stays in Spark (F.round on top) — Python ``round`` is
      banker's, Spark's is HALF_UP.
    """
    import hashlib
    import re

    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    tok = re.compile(r"[a-z0-9]+(?:'[a-z]+)?")
    punct = re.compile(r"[^\w\s]", re.ASCII)

    def run(batches):
        for pdf in batches:
            keys = pdf["key"].tolist()
            texts = pdf["text"].tolist()
            n = len(texts)
            cols: dict = {
                "key": keys,
                "n_tokens": [0] * n, "n_regex_tokens": [0] * n,
                "swr": [0.0] * n, "mwl": [0.0] * n, "pr": [0.0] * n,
                "quality": [0.0] * n,
                "lang_pred": [""] * n, "fingerprint": [""] * n,
            }
            for i, text in enumerate(texts):
                if text is None:
                    # the spec's stats of a null text are null; its
                    # least/greatest skip nulls, so quality keeps the
                    # length (1.0), word-length (0.5) and stopword
                    # (1.0) scores with punctuation 0.0, and
                    # concat_ws(null) fingerprints as md5("")
                    for c in ("n_tokens", "n_regex_tokens", "swr",
                              "mwl", "pr"):
                        cols[c][i] = None
                    cols["quality"][i] = (
                        1.0 * 0.4 + 0.5 * 0.2 + 1.0 * 0.2 + 0.0 * 0.2
                    )
                    cols["lang_pred"][i] = "und"
                    cols["fingerprint"][i] = hashlib.md5(b"").hexdigest()
                    continue
                lowered = text.lower()
                words = ws.split(lowered)
                nonempty = [w for w in words if w]
                n_tok = len(nonempty)
                n_words = len(words)
                swr = float(sum(1 for w in words if w in stops)) / max(
                    float(n_words), 1.0
                )
                mwl = float(sum(len(w) for w in nonempty)) / max(
                    float(n_tok), 1.0
                )
                n_chars = len(text)
                pr = float(len(punct.findall(text))) / max(
                    float(n_chars), 1.0
                )
                ntd = float(n_tok)
                len_score = min(ntd / 20.0, 1.0) * min(
                    2000.0 / max(ntd, 1.0), 1.0
                )
                wl_score = 1.0 if (3.0 <= mwl <= 10.0) else 0.5
                sw_score = min(swr * 4.0, 1.0)
                punct_score = (
                    1.0 if pr <= 0.2
                    else max(1.0 - (pr - 0.2) * 2.0, 0.0)
                )
                quality = (
                    len_score * 0.4 + wl_score * 0.2
                    + sw_score * 0.2 + punct_score * 0.2
                )
                best_lang, best_cnt = "und", 0
                for lang, mset in markers:
                    cnt = sum(1 for w in words if w in mset)
                    if cnt > best_cnt:
                        best_lang, best_cnt = lang, cnt
                fp = hashlib.md5(
                    " ".join(sorted(set(nonempty))).encode("utf-8")
                ).hexdigest()
                cols["n_tokens"][i] = n_tok
                cols["n_regex_tokens"][i] = len(tok.findall(lowered))
                cols["swr"][i] = swr
                cols["mwl"][i] = mwl
                cols["pr"][i] = pr
                cols["quality"][i] = quality
                cols["lang_pred"][i] = best_lang
                cols["fingerprint"][i] = fp
            yield pd.DataFrame(cols)

    return run


def text_profile(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """One row per doc with the full stats bundle.

    One ``mapInPandas`` stage over (key, text) — the Column plan
    (``text_profile_columns``, kept as the spec) evaluates its
    higher-order functions interpreted and recomputes the shared
    ``split(lower(text))`` subtree for every stat; the Arrow stage
    computes each per-doc value once, bit-identically (regression
    test: tests/test_textstats_arrow.py). Only the two needed columns
    cross the Python boundary; rounding stays in Spark."""
    from bleve_spark.functions.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    key_t = dict(df.dtypes)[key_col]
    schema = (
        f"key {key_t}, n_tokens long, n_regex_tokens long, "
        "swr double, mwl double, pr double, quality double, "
        "lang_pred string, fingerprint string"
    )
    markers = [(k, frozenset(v)) for k, v in _LANG_MARKERS.items()]
    prof = df.select(
        F.col(key_col).alias("key"),
        F.col(text_col).cast("string").alias("text"),
    ).mapInPandas(
        _profile_batches(frozenset(ENGLISH_STOP_WORDS), markers),
        schema=schema,
    )
    return prof.select(
        "key", "n_tokens", "n_regex_tokens",
        F.round("swr", 6).alias("stopword_ratio"),
        F.round("mwl", 6).alias("mean_word_len"),
        F.round("pr", 6).alias("punct_ratio"),
        F.round("quality", 6).alias("quality"),
        "lang_pred", "fingerprint",
    )
