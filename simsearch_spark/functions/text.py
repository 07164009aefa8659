"""Text primitives: tokenization, q-grams, language-ID, quality scoring.

All JVM-side column expressions (split / transform / aggregate) — the hot
path never leaves codegen.  Q-gram semantics mirror the reference
(``manager/ingested/DataIngestor.java:151-204``: the *string* facet is
tokenized into q-gram sets, default q=3, ``Constants.java:40``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from simsearch_spark.operators.fanout import fanout_for_kernel as _fanout

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------

def tokenize(col: Column, sep: str = " ") -> Column:
    """Keyword-set tokenization (KEYWORD_SET mount,
    ``TokenSetCollectionReader.java:47-143``): split on a separator, drop
    empties, dedupe, sort (the reference stores sorted token sets —
    ``manager/ingested/categorical/TokenSet.java``)."""
    return F.sort_array(F.array_distinct(F.array_remove(F.split(col, sep), "")))


def qgrams(col: Column, q: int = 3) -> Column:
    """Distinct q-gram set of a string (``DataIngestor.java:151-204``).

    Built with sequence+transform rather than a UDF: positions
    1..len-q+1, substring each.  Strings shorter than q yield the whole
    string as a single gram (matches padding-free semantics); a NULL or
    empty string yields no gram.  ``array_remove`` and ``sort_array`` take
    no lambda, so only the substring ``transform`` is evaluated per
    element."""
    s = F.lower(F.coalesce(col, F.lit("")))
    count = F.greatest(F.length(s) - F.lit(q - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), count), lambda i: s.substr(i, F.lit(q)))
    return F.sort_array(F.array_distinct(F.array_remove(grams, "")))


# ---------------------------------------------------------------------------
# training-data pipeline: token counting / quality / language-ID / fingerprint
# ---------------------------------------------------------------------------

#: tiny per-language stopword lists for the n-gram/stopword language heuristic.
#: deliberately small + ASCII so the same lists are expressible in the DuckDB
#: oracle SQL verbatim.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
}


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens, lowercased, empties dropped (token counting)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(ws_tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: count of runs matching word pieces / digits /
    punctuation, the standard pre-tokenizer regex shape. Uses an ASCII-safe
    pattern so Java and RE2/DuckDB dialects agree."""
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))


def stopword_ratio(col: Column, stopwords: list[str]) -> Column:
    """Fraction of whitespace tokens that are in `stopwords`."""
    toks = ws_tokens(col)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n.cast("double"))


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio — the language-ID signal."""
    return {lang: stopword_ratio(col, sw) for lang, sw in LANG_STOPWORDS.items()}


def lang_id(col: Column) -> Column:
    """argmax over language scores; 'und' (undetermined) when all zero.
    Deterministic tie-break: language list order en,de,fr,es."""
    scores = lang_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    # iterate in fixed order; strict > keeps the earliest language on ties
    for lang, sc in scores.items():
        take = sc > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, sc).otherwise(best_score)
    return best_lang


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, r"[!-/:-@\[-`{-~]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise((n - stripped).cast("double") / n.cast("double"))


def quality_score(col: Column) -> Column:
    """Composite document quality in [0,1]: length sweet-spot, low punctuation,
    healthy English-stopword density — the classic pre-training heuristics
    (length/punct/stopword ratios)."""
    n = F.length(col).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    sw = stopword_ratio(col, LANG_STOPWORDS["en"])
    sw_score = F.least(sw * 5, F.lit(1.0))
    return (len_score + punct_pen + sw_score) / F.lit(3.0)


def char_fold_hash(col: Column, mod: int = 1_000_000_007, mult: int = 31) -> Column:
    """Deterministic polynomial rolling hash over characters:
    ``h = fold(c: (h*mult + ascii(c)) % mod)`` — identical arithmetic is
    expressible in DuckDB via list_reduce, making hash-based operators
    (fingerprint, minhash, simhash) oracle-checkable.  mod ~1e9 keeps
    ``h*31 + 127`` far inside int64."""
    chars = F.filter(F.split(col, ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * mult + F.ascii(c)) % F.lit(mod),
    )


def doc_fingerprint(col: Column) -> Column:
    """Document fingerprint: rolling hash of whitespace-normalized, lowercased
    text — exact-dup detection key that survives whitespace jitter."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return char_fold_hash(norm)


def corpus_features_frame(df, id_col: str, text_col: str):
    """(id, quality_raw, lang_pred, fingerprint, n_tokens) in ONE
    Arrow-batched pandas pass — the corpus-clean pipeline's per-document
    features without four separate interpreted HOF chains re-splitting the
    text (measured ~5x on the composed query at sf0.1).

    Bit-identical to the column expressions (equality-tested):
    - quality_raw replays quality_score's exact IEEE expression tree and is
      returned UNROUNDED — the authoritative round-6 stays JVM-side so the
      DuckDB oracle contract is untouched;
    - lang_pred replicates lang_id's strict-> tie rules;
    - fingerprint is the same char-fold over trim+ws-collapse+lower text
      (ord(c) == F.ascii per character);
    - n_tokens is the whitespace token count.
    ASCII-range regexes keep Java and Python \\s/punct classes agreeing
    (fixture corpora are ASCII; the column path remains for full-unicode
    inputs)."""
    import re as _re
    from collections.abc import Iterator

    import pandas as pd

    id_dtype = dict(df.dtypes)[id_col]
    stop = {lang: set(sw) for lang, sw in LANG_STOPWORDS.items()}
    order = list(LANG_STOPWORDS)
    ws = _re.compile(r"\s+")
    punct = _re.compile(r"[!-/:-@\[-`{-~]")
    en = stop["en"]

    from simsearch_spark.functions.hashing import (
        batch_fold_hashes as _batch_fold,
    )

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            quality, preds, fps, ntoks, norms = [], [], [], [], []
            for t in pdf[text_col]:
                if t is None:
                    # replicate the column path's NULL propagation exactly
                    # (equality-pinned): least(NULL,1)=1 → len_score 1,
                    # punct_pen 0, sw_score 1 → quality 2/3; lang 'und';
                    # fingerprint/token count stay NULL
                    quality.append((1.0 + 0.0 + 1.0) / 3.0)
                    preds.append("und")
                    fps.append(None)
                    ntoks.append(None)
                    continue
                low = t.lower()
                toks = [w for w in ws.split(low) if w]
                n_tok = len(toks)
                # quality: length sweet-spot + punct penalty + en-stopword density
                n = len(t)
                len_score = min(n / 500.0, 1.0)
                pr = 0.0 if n == 0 else (n - len(punct.sub("", t))) / n
                punct_pen = 1.0 - min(pr * 4, 1.0)
                sw_ratio = 0.0 if n_tok == 0 else sum(1 for w in toks if w in en) / n_tok
                quality.append((len_score + punct_pen + min(sw_ratio * 5, 1.0)) / 3.0)
                # language argmax, strict > keeps the earlier language
                best_lang, best_score = "und", 0.0
                if n_tok:
                    for lang in order:
                        sc = sum(1 for w in toks if w in stop[lang]) / n_tok
                        if sc > best_score:
                            best_lang, best_score = lang, sc
                preds.append(best_lang)
                # fingerprint: char-fold over whitespace-normalized lower
                # text — collected here, folded batch-vectorized below
                norms.append(" ".join(toks))
                fps.append(0)
                ntoks.append(n_tok)
            # batched char-fold over the whole Arrow batch (r15, guide
            # §4.2; bit-identical — see hashing.batch_fold_hashes)
            if norms:
                folded = iter(_batch_fold(norms))
                fps = [None if f is None else int(next(folded)) for f in fps]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "quality_raw": quality,
                    "lang_pred": preds,
                    "fingerprint": fps,
                    "n_tokens": ntoks,
                }
            )

    return _fanout(df.select(id_col, text_col), id_col).mapInPandas(
        proc,
        f"{id_col} {id_dtype}, quality_raw double, lang_pred string, "
        "fingerprint long, n_tokens int",
    )


def lang_id_frame(df, id_col: str, text_col: str, passthrough: tuple[str, ...] = ()):
    """(id, *passthrough, lang_pred) via an Arrow-batched pandas kernel.

    The column-expression `lang_id` evaluates 4 stopword-filter HOF chains
    per row (each re-splitting the text); this kernel tokenizes once and
    counts set hits in Python.  Arithmetic is bit-identical: hit counts and
    token counts are exact ints, the ratio is one IEEE double division, and
    the argmax/tie rules replicate `lang_id` exactly (strict > keeps the
    earlier language; all-zero → 'und')."""
    import re as _re
    from collections.abc import Iterator

    import pandas as pd

    dtypes = dict(df.dtypes)
    id_dtype = dtypes[id_col]
    passthrough = list(passthrough or ())
    stop = {lang: set(sw) for lang, sw in LANG_STOPWORDS.items()}
    order = list(LANG_STOPWORDS)
    ws = _re.compile(r"\s+")

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            preds = []
            for t in pdf[text_col]:
                toks = [w for w in ws.split((t or "").lower()) if w]
                n = len(toks)
                best_lang, best_score = "und", 0.0
                if n:
                    for lang in order:
                        sw = stop[lang]
                        score = sum(1 for w in toks if w in sw) / n
                        if score > best_score:
                            best_lang, best_score = lang, score
                preds.append(best_lang)
            out = {id_col: pdf[id_col]}
            for c in passthrough:
                out[c] = pdf[c]
            out["lang_pred"] = preds
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"{id_col} {id_dtype}"]
        + [f"{c} {dtypes[c]}" for c in passthrough]
        + ["lang_pred string"]
    )
    # NO kernel fan-out here (r15): this kernel is a cheap tokenized-set
    # scan, and the r14 fan-out exchange cost more than it bought — the
    # driver measured text_lang_id at 0.86× and an interleaved in-JVM A/B
    # (plans/r15/ab/fanout_ab.txt) confirmed OFF wins 0.78× on mins and
    # medians.  The heavy kernels (corpus_features_frame, langid_frame)
    # keep their fan-out — same A/B shows 1.39× for langid_frame.
    return df.select(id_col, *passthrough, text_col).mapInPandas(proc, schema)


def nfc_frame(df, id_col: str, text_col: str):
    """(id, was_decomposed, n_chars_nfc, fp_nfc): Unicode NFC
    normalization audit in one Arrow pass — the canonicalization step a
    multilingual corpus runs before fingerprint dedup (visually-identical
    strings with composed vs decomposed accents otherwise hash apart and
    dodge the exact tier).

    Verification story: the kernel normalizes with Python's ``unicodedata``
    (UCD tables) while the DuckDB oracle uses ``nfc_normalize`` (utf8proc)
    — two INDEPENDENT Unicode-conformant NFC implementations that must
    agree on every document, plus the shared char-fold fingerprint over
    the normalized text.  NULL text propagates NULL (the schema-ish
    contract); row-local, shuffle-free."""
    import unicodedata
    from collections.abc import Iterator

    import pandas as pd

    id_dtype = dict(df.dtypes)[id_col]

    from simsearch_spark.functions.hashing import (
        batch_fold_hashes as _batch_fold,
    )

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dec, ln, fp, norms = [], [], [], []
            for t in pdf[text_col]:
                if t is None:
                    dec.append(None)
                    ln.append(None)
                    fp.append(None)
                    continue
                norm = unicodedata.normalize("NFC", t)
                dec.append(norm != t)
                ln.append(len(norm))
                fp.append(0)
                norms.append(norm)
            # batched char-fold (r15, guide §4.2; bit-identical)
            if norms:
                folded = iter(_batch_fold(norms))
                fp = [None if f is None else int(next(folded)) for f in fp]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "was_decomposed": dec,
                 "n_chars_nfc": ln, "fp_nfc": fp}
            )

    # NO kernel fan-out (r15): same evidence as lang_id_frame — the driver
    # measured text_nfc_normalize at 0.89× under the r14 fan-out and the
    # interleaved A/B confirmed OFF wins 0.84×; the per-row NFC pass is too
    # cheap to amortize the exchange at small scale (at 100 TB the scan has
    # enough splits that the fan-out was a no-op anyway).
    return df.select(id_col, text_col).mapInPandas(
        proc,
        f"{id_col} {id_dtype}, was_decomposed boolean, n_chars_nfc int, fp_nfc long",
    )
