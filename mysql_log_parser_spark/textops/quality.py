"""Text analysis: language ID (stopword-hit heuristic), quality scoring,
token counting, and rolling-hash document fingerprinting — all as native
Catalyst expressions (portable to any SQL engine for oracle checks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny, fixed stopword inventories — the heuristic's spec, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "pour", "que"],
}


def words_of(text: Column) -> Column:
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda w: w != "")


def stopword_hits(words: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(words), sw))


def language_id(text: Column) -> Column:
    """argmax language by distinct-stopword hits; 'und' (undetermined) when
    no stopword matches at all.  Ties break by language-code order."""
    w = words_of(text)
    pairs = F.array(*[
        F.struct(stopword_hits(w, lang).alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(STOPWORDS)
    ])
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(text: Column) -> dict[str, Column]:
    w = words_of(text)
    n_chars = F.length(text)
    n_words = F.size(w)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    mean_wl = F.when(n_words > 0, (F.length(F.concat_ws("", w)) / n_words)).otherwise(F.lit(0.0))
    sw_all = F.array(*[F.lit(x) for v in STOPWORDS.values() for x in v])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(sw_all, x)))
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0)),
        "mean_word_len": mean_wl,
    }


def quality_score(text: Column) -> Column:
    """Scalar [0,1] quality heuristic: rewards mid-length docs with low
    punctuation/digit noise and a healthy stopword rate."""
    f = quality_features(text)
    len_score = F.least(f["n_words"] / 100.0, F.lit(1.0))
    noise = F.greatest(F.lit(0.0), 1.0 - 2.0 * (f["punct_ratio"] + f["digit_ratio"]))
    sw = F.least(F.lit(1.0), 4.0 * f["stopword_ratio"])
    return (0.4 * len_score + 0.3 * noise + 0.3 * sw).alias("quality")


def with_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    out = docs
    for name, col in quality_features(t).items():
        out = out.withColumn(name, col)
    return out.withColumn("quality", quality_score(t)).withColumn(
        "lang_guess", language_id(t)
    )


def token_counts(text: Column) -> dict[str, Column]:
    """Whitespace tokens + a BPE-ish segmentation count (letter runs, digit
    runs, and single punctuation marks each count as one token)."""
    ws = F.size(words_of(text))
    bpe = F.regexp_count(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
    return {"ws_tokens": ws.cast("long"), "bpe_tokens": bpe.cast("long")}


def rolling_fingerprint(text: Column, mod: int = (1 << 31) - 1, base: int = 31) -> Column:
    """Polynomial rolling hash over codepoints: h = (h*base + cp) % mod.
    Engine-portable content fingerprint (order-sensitive, unlike md5 truncation
    it composes incrementally for chunked docs)."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    out = with_quality(docs, text_col)
    for name, col in token_counts(t).items():
        out = out.withColumn(name, col)
    return out.withColumn("fingerprint64", rolling_fingerprint(t))


def _max_run(sorted_arr: Column) -> Column:
    """Max run length in a SORTED array == max element frequency, in one
    narrow fold (no per-doc explode/groupBy shuffle).  The lambda only
    touches its own lambda variables, so nothing is re-evaluated per element
    (interpreted-HOF rule)."""
    zero = F.lit(0).cast("long")
    st = F.aggregate(
        sorted_arr,
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
    )
    return st["best"]


def with_repetition(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): most-frequent
    word/bigram share and type-token ratio, emitted as integer permille so
    oracle comparison is exact.  All narrow Catalyst folds — embarrassingly
    parallel per doc, no shuffle, the shape that survives 10^12 docs.

    Staged projections keep each non-cheap HOF evaluated ONCE per row: the
    words array and each _max_run fold are produced in their own projection
    and only referenced as attributes downstream (CollapseProject will not
    inline a non-cheap expression referenced more than once)."""
    w = F.col("_w")
    n_words = F.col("n_words")
    gcount = F.greatest(n_words - 1, F.lit(0)).cast("int")
    grams = F.when(
        gcount > 0,
        F.transform(F.sequence(F.lit(1), gcount), lambda i: F.concat_ws(" ", F.slice(w, i, 2))),
    ).otherwise(F.array())
    staged = (
        docs.withColumn("_w", words_of(F.col(text_col)))
        .withColumn("n_words", F.size(w).cast("long"))
        .withColumn("n_distinct_words", F.size(F.array_distinct(w)).cast("long"))
        .withColumn(
            "max_word_freq",
            F.when(n_words > 0, _max_run(F.array_sort(w))).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "max_bigram_freq",
            F.when(gcount > 0, _max_run(F.array_sort(grams))).otherwise(F.lit(0)).cast("long"),
        )
    )
    wf, bf, nd = F.col("max_word_freq"), F.col("max_bigram_freq"), F.col("n_distinct_words")
    return (
        staged.withColumn(
            "word_rep_permille",
            F.when(n_words > 0, F.floor(1000 * wf / n_words)).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "bigram_rep_permille",
            F.when(n_words > 1, F.floor(1000 * bf / (n_words - 1))).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "distinct_word_permille",
            F.when(n_words > 0, F.floor(1000 * nd / n_words)).otherwise(F.lit(0)).cast("long"),
        )
        .drop("_w")
    )


def char_diversity(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character-concentration junk signal: per doc, the Simpson /
    collision index sum(n_c^2)/n^2 (probability two random character
    draws collide) and the top-character share — both EXACT integer
    permille, which is why this is the gate-able form of the usual
    character-entropy filter (entropy needs log(), which no two engines
    round identically; collision probability is pure rational
    arithmetic).  Repetitive junk ('aaaa...', template runs) scores high;
    natural text over a full alphabet scores low.

    One zero-shuffle mapInPandas pass (per-doc numpy bincount over
    codepoints) — the per-character explode+groupBy twin is what the
    DuckDB oracle replays (heavy-hitters precedent: Arrow kernel gated
    against an exact SQL derivation)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    id_field = docs.schema[id_col]
    out_schema = StructType([
        StructField(id_field.name, id_field.dataType),
        StructField("n_chars", LongType()),
        StructField("distinct_chars", LongType()),
        StructField("simpson_permille", LongType()),
        StructField("top_char_permille", LongType()),
    ])

    def gen(batches):
        for pdf in batches:
            rows = []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                t = txt or ""
                n = len(t)
                if n == 0:
                    rows.append((did, 0, 0, 0, 0))
                    continue
                _, counts = np.unique(np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32),
                                      return_counts=True)
                c = counts.astype(np.int64)
                rows.append((
                    did, n, len(c),
                    int((1000 * int((c * c).sum())) // (n * n)),
                    int((1000 * int(c.max())) // n),
                ))
            yield pd.DataFrame(rows, columns=[id_field.name, "n_chars",
                                              "distinct_chars", "simpson_permille",
                                              "top_char_permille"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)
