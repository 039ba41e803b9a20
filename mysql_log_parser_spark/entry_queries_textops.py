"""Driver-contract queries for the training-data operators (dedup,
similarity search, text analysis) over the `documents` and `embeddings`
tables, each with an independent DuckDB oracle.

Where the corpus lacks interesting structure (no duplicates), both sides
inject the SAME deterministic mutations (id-shifted copies) so the operators
have something to find.

Engine-portability rules used throughout:
- hashing via md5 hex strings (never engine-native hash functions)
- hex-digit parity via strpos('0123456789abcdef', ...) instead of bit ops
- float embedding math in double after an explicit cast, cosine rounded to
  6 decimals before ranking (rank ties broken by neighbor id)
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql_log_parser_spark.textops.dedup import (
    exact_duplicates,
    minhash_dedup_pairs,
    simhash,
)
from mysql_log_parser_spark.textops.quality import (
    STOPWORDS,
    language_id,
    quality_features,
    rolling_fingerprint,
    stopword_hits,
    token_counts,
    words_of,
)
HEXD = "0123456789abcdef"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -- 1. exact dedup -----------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    # injected ids are negative (-(id+1)) — structurally collision-free
    # with any non-negative corpus id at any scale (char_diversity scheme)
    dupes = d.where(F.col("doc_id") % 7 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(dupes))


O_DEDUP_EXACT = """
WITH c AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1), text FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS content_hash, count(*) AS dup_count, min(doc_id) AS keep_id
FROM c GROUP BY 1 HAVING count(*) > 1
"""


# -- 2. quality features ------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    feats = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_words"].alias("n_words"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_word_len"].alias("mean_word_len"),
    )


_ALL_SW = "[" + ", ".join(f"'{w}'" for v in STOPWORDS.values() for w in v) + "]"

O_TEXT_QUALITY = f"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS words
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       CAST(len(words) AS BIGINT) AS n_words,
       (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text) AS punct_ratio,
       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS digit_ratio,
       len(list_filter(words, x -> list_contains({_ALL_SW}, x))) / len(words) AS stopword_ratio,
       length(array_to_string(words, '')) / len(words) AS mean_word_len
FROM w
"""


# -- 3. language id -----------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    w = words_of(t)
    return d.select(
        "doc_id",
        *[stopword_hits(w, lang).cast("long").alias(f"score_{lang}") for lang in sorted(STOPWORDS)],
        language_id(t).alias("lang_guess"),
    )


def _o_lang_id() -> str:
    scores = []
    for lang in sorted(STOPWORDS):
        lst = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
        scores.append(
            f"CAST(len(list_filter(list_distinct(words), x -> list_contains({lst}, x))) AS BIGINT) AS score_{lang}"
        )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS words
  FROM documents
), s AS (
  SELECT doc_id, {', '.join(scores)} FROM w
)
SELECT *, CASE
    WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
    WHEN score_fr = greatest(score_de, score_en, score_es, score_fr) THEN 'fr'
    WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
    WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
    ELSE 'de'
  END AS lang_guess
FROM s
"""


O_LANG_ID = _o_lang_id()


# -- 4. token counts + rolling fingerprint -------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    tc = token_counts(t)
    return d.select(
        "doc_id",
        tc["ws_tokens"].alias("ws_tokens"),
        tc["bpe_tokens"].alias("bpe_tokens"),
        rolling_fingerprint(t).alias("fingerprint64"),
    )


O_TOKEN_STATS = """
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), list_transform(regexp_extract_all(text, '(?s).'), c -> CAST(unicode(c) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 2147483647
       ) AS fingerprint64
FROM documents
"""


# -- 5. simhash ----------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", simhash(F.col("text"), bits=16).alias("simhash"))


def _o_simhash(bits: int = 16) -> str:
    votes = []
    for j in range(bits):
        votes.append(
            f"CASE WHEN list_sum(list_transform(hs, h -> ((strpos('{HEXD}', h[{j + 1}:{j + 1}]) - 1) % 2) * 2 - 1)) > 0 THEN {2**j} ELSE 0 END"
        )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> md5(x)) AS hs
  FROM documents
)
SELECT doc_id, CAST({' + '.join(votes)} AS BIGINT) AS simhash FROM w
"""


O_SIMHASH = _o_simhash()


# -- 6. minhash LSH near-dup pairs ----------------------------------------------

_MH, _BANDS, _NGRAM, _THRESH = 8, 4, 3, 0.5


def _mutated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    # negative injected ids (char_diversity scheme): never collide with a
    # real corpus id, at any corpus size
    nd = d.where(F.col("doc_id") % 5 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
    )
    return d.unionByName(nd)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dedup_pairs(
        _mutated_docs(spark, sf_dir),
        n=_NGRAM,
        num_hashes=_MH,
        bands=_BANDS,
        threshold=_THRESH,
    )


def _hex_to_int(col: str, start: int, ndigits: int) -> str:
    """SQL for big-endian hex-substring -> BIGINT via digit positions
    (mirrors Spark's conv(substring(h, start, ndigits), 16, 10))."""
    terms = [
        f"(strpos('{HEXD}', substr({col}, {start + k}, 1)) - 1) * {16 ** (ndigits - 1 - k)}"
        for k in range(ndigits)
    ]
    return "(" + " + ".join(terms) + ")"


def _o_minhash_pairs() -> str:
    rows = _MH // _BANDS
    mh = ", ".join(f"min(h1 + {i} * h2) AS mh{i}" for i in range(_MH))
    bands = ", ".join(
        "concat_ws('|', "
        + ", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + f") AS band{b}"
        for b in range(_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM banded" for b in range(_BANDS)
    )
    return f"""
WITH c AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1), text || ' zzz qqq' FROM documents WHERE doc_id % 5 = 0
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - {_NGRAM - 1}, 0)),
           i -> array_to_string(ws[i:i + {_NGRAM - 1}], ' ')
         )) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM c)
), hx AS (
  SELECT doc_id, md5(unnest(sh)) AS h FROM sh
), hv AS (
  SELECT doc_id, {_hex_to_int('h', 1, 12)} AS h1, {_hex_to_int('h', 13, 12)} AS h2 FROM hx
), sigs AS (
  SELECT doc_id, {mh} FROM hv GROUP BY doc_id
), shs AS (
  SELECT doc_id, list(DISTINCT h1) AS sh FROM hv GROUP BY doc_id
), banded AS (
  SELECT doc_id, {bands} FROM sigs
), long AS (
  {band_rows}
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), pairs AS (
  SELECT id_a, id_b,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
           / (len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS jaccard
  FROM cands
  JOIN shs sa ON sa.doc_id = id_a
  JOIN shs sb ON sb.doc_id = id_b
  WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
        / (len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) >= {_THRESH}
)
"""


O_MINHASH_PAIRS = _o_minhash_pairs() + "SELECT id_a, id_b, jaccard FROM pairs"


# -- 7. ANN: brute-force cosine top-k -------------------------------------------

_K = 5
_NQ = 8  # query vectors: vec_id < 8


def _as_double(c) -> F.Column:
    """array<float> -> array<double> via a plain Cast — codegen'd and cheap
    even when projection collapse inlines it at every reference, unlike the
    interpreted transform(x -> cast(x)) HOF this replaces (the no-CSE trap:
    a transform referenced k times is evaluated k times, interpreted)."""
    return c.cast("array<double>")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates the library kernel directly (textops/similarity.py:
    cosine_topk_bruteforce) — prenormed single-dot rerank, round-before-rank."""
    from mysql_log_parser_spark.textops.similarity import cosine_topk_bruteforce

    e = _emb(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("embedding")
    )
    r = cosine_topk_bruteforce(e, e.where(F.col("vec_id") < _NQ), k=_K, round_to=6)
    return r.select(
        "query_id",
        "neighbor_id",
        F.col("cosine").alias("cos6"),
        F.col("rank").cast("long").alias("rank"),
    )


O_ANN_TOPK = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cos6
  FROM e q JOIN e n ON q.vec_id < {_NQ} AND n.vec_id != q.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos6, rank FROM ranked WHERE rank <= {_K}
"""


# -- 8. embedding near-dup pairs (LSH-bucketed, exact-dup injection) ------------

_PLANES = 6
_DIM = 64
_DUP_MOD = 11
_COS_T = 0.95


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates textops/similarity.py:near_dup_pairs_cosine — one md5-seeded
    hyperplane table buckets the corpus, the exact prenormed cosine is
    thresholded unrounded inside the operator and rounded only for the
    hash compare.  Exact duplicates are injected so there is signal."""
    from mysql_log_parser_spark.textops.similarity import near_dup_pairs_cosine

    e = _emb(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    # negative injected ids (char_diversity scheme): never collide with a
    # real vec_id at any corpus size
    dupes = e.where(F.col("vec_id") % _DUP_MOD == 0).select(
        (-(F.col("vec_id") + 1)).alias("vec_id"), "v"
    )
    pairs = near_dup_pairs_cosine(
        e.unionByName(dupes), _DIM, threshold=_COS_T, vec_col="v",
        n_planes=_PLANES,
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cos6"))


def _o_embed_near_dup() -> str:
    """Same md5 planes (similarity._plane, table 0) and the same unrounded
    threshold as the operator: DuckDB's list_dot_product folds in index
    order like the Catalyst aggregate, so the cosine doubles agree."""
    from mysql_log_parser_spark.textops.similarity import _plane

    bits = " + ".join(
        f"CASE WHEN list_dot_product(v, {_plane(0, p, _DIM)}) > 0 THEN {2**p} ELSE 0 END"
        for p in range(_PLANES)
    )
    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT -(vec_id + 1), embedding::DOUBLE[] FROM embeddings WHERE vec_id % {_DUP_MOD} = 0
), s AS (
  SELECT vec_id, v, {bits} AS bucket FROM c
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cosine, 6) AS cos6 FROM p WHERE cosine >= {_COS_T}
"""


O_EMBED_NEAR_DUP = _o_embed_near_dup()


# -- 8b. multi-table hyperplane-LSH ANN (the scale path), oracle-gated ---------

_LSH_PLANES = 6
_LSH_TABLES = 4


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates textops/similarity.py:cosine_topk_lsh — the candidate set
    (bucket-equality in ANY of 4 hyperplane tables) and the exact rerank are
    both deterministic (md5-seeded planes), so the oracle replicates the full
    LSH pipeline in SQL and the hash compare is exact, not recall-thresholded."""
    from mysql_log_parser_spark.textops.similarity import cosine_topk_lsh

    e = _emb(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("embedding")
    )
    r = cosine_topk_lsh(
        e,
        e.where(F.col("vec_id") < _NQ),
        dim=_DIM,
        k=_K,
        n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES,
        round_to=6,
    )
    return r.select(
        "query_id",
        "neighbor_id",
        F.col("cosine").alias("cos6"),
        F.col("rank").cast("long").alias("rank"),
    )


def _o_ann_lsh_topk() -> str:
    from mysql_log_parser_spark.textops.similarity import _plane

    tables = []
    for t in range(_LSH_TABLES):
        bits = " + ".join(
            f"CASE WHEN list_dot_product(v, {_plane(t, p, _DIM)}) > 0 THEN {2**p} ELSE 0 END"
            for p in range(_LSH_PLANES)
        )
        tables.append(f"SELECT vec_id, {t} AS t, {bits} AS b FROM e")
    cl = " UNION ALL ".join(tables)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cl AS (
  {cl}
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM cl q JOIN cl n ON q.t = n.t AND q.b = n.b
  WHERE q.vec_id < {_NQ} AND n.vec_id != q.vec_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos6
  FROM cand c
  JOIN e a ON a.vec_id = c.query_id
  JOIN e b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos6, rank FROM ranked WHERE rank <= {_K}
"""


O_ANN_LSH_TOPK = _o_ann_lsh_topk()


TEXTOPS_QUERIES = {
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "text_quality": (q_text_quality, O_TEXT_QUALITY),
    "lang_id": (q_lang_id, O_LANG_ID),
    "token_stats": (q_token_stats, O_TOKEN_STATS),
    "simhash_docs": (q_simhash, O_SIMHASH),
    "minhash_lsh_pairs": (q_minhash_pairs, O_MINHASH_PAIRS),
    "ann_cosine_topk": (q_ann_topk, O_ANN_TOPK),
    "ann_lsh_topk": (q_ann_lsh_topk, O_ANN_LSH_TOPK),
    "embed_near_dup": (q_embed_near_dup, O_EMBED_NEAR_DUP),
}


# -- 9. deterministic split + stratified sampling ------------------------------

def _o_unit_hash(idexpr: str, salt: str) -> str:
    """DuckDB mirror of sampling.unit_hash: first 8 hex digits of md5 as a
    uint32, divided by 2^32."""
    h = f"md5(CAST({idexpr} AS VARCHAR) || ':{salt}')"
    terms = " + ".join(
        f"(strpos('{HEXD}', substr({h}, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )
    return f"(({terms}) / 4294967296.0)"


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_log_parser_spark.textops.sampling import with_split

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return with_split(d).groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("docs")
    )


O_SPLIT_ASSIGN = f"""
WITH u AS (
  SELECT doc_id, lang, {_o_unit_hash('doc_id', 'split')} AS u FROM documents
)
SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
       lang, count(*) AS docs
FROM u GROUP BY 1, 2
"""


_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_log_parser_spark.textops.sampling import stratified_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(d, _RATES).select("doc_id", "lang")


def _o_stratified() -> str:
    cases = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_RATES.items()))
    return f"""
WITH u AS (
  SELECT doc_id, lang, {_o_unit_hash('doc_id', 'sample')} AS u FROM documents
)
SELECT doc_id, lang FROM u
WHERE u < CASE {cases} ELSE 0.0 END
"""


O_STRATIFIED = _o_stratified()

TEXTOPS_QUERIES["split_assign"] = (q_split_assign, O_SPLIT_ASSIGN)
TEXTOPS_QUERIES["stratified_sample"] = (q_stratified_sample, O_STRATIFIED)


# -- 10. sequence packing (tokens -> fixed-length training sequences) ----------

_PACK_LEN = 512


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_log_parser_spark.textops.sampling import sequence_pack

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.length("text").cast("int").alias("n_tok"),
    )
    return sequence_pack(d, max_len=_PACK_LEN)


O_SEQUENCE_PACK = f"""
WITH d AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_tok FROM documents
), o AS (
  SELECT source, doc_id, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM d
)
SELECT source, doc_id, n_tok, tok_offset,
       CAST(tok_offset // {_PACK_LEN} AS BIGINT) AS start_seq,
       CAST((tok_offset + n_tok - 1) // {_PACK_LEN} AS BIGINT) AS end_seq
FROM o
"""

TEXTOPS_QUERIES["sequence_pack"] = (q_sequence_pack, O_SEQUENCE_PACK)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packing: tokens are the text's unicode code points (a
    definition both engines can compute); output is per-sequence length and
    token-sum checksum so the compare hashes scalars, not giant arrays."""
    from mysql_log_parser_spark.textops.sampling import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.transform(F.split("text", ""), lambda c: F.ascii(c)).alias("tokens"),
    )
    seqs = pack_sequences(d, max_len=_PACK_LEN)
    return seqs.select(
        "source",
        "seq_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("tok_sum"),
    )


O_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT source, doc_id,
         list_transform(regexp_extract_all(text, '(?s).'), c -> CAST(unicode(c) AS BIGINT)) AS tokens
  FROM documents
), c AS (
  SELECT source, flatten(list(tokens ORDER BY doc_id)) AS stream FROM t GROUP BY source
)
SELECT source,
       CAST(i AS BIGINT) AS seq_id,
       CAST(len(stream[i*{_PACK_LEN}+1 : (i+1)*{_PACK_LEN}]) AS BIGINT) AS n_tok,
       CAST(list_sum(stream[i*{_PACK_LEN}+1 : (i+1)*{_PACK_LEN}]) AS BIGINT) AS tok_sum
FROM c, (SELECT unnest(generate_series(0, 100000)) AS i)
WHERE i * {_PACK_LEN} < len(stream)
"""

TEXTOPS_QUERIES["pack_sequences"] = (q_pack_sequences, O_PACK_SEQUENCES)


# -- 11. quality filtering (drop low-quality docs) -----------------------------

_Q_THRESH = 0.6


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_log_parser_spark.textops.quality import quality_score

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    ).where(F.col("quality") >= _Q_THRESH)


O_QUALITY_FILTER = f"""
WITH w AS (
  SELECT doc_id, lang, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS words
  FROM documents
), f AS (
  SELECT doc_id, lang,
         CAST(len(words) AS DOUBLE) AS n_words,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text) AS punct_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS digit_ratio,
         len(list_filter(words, x -> list_contains({_ALL_SW}, x))) / len(words) AS stopword_ratio
  FROM w
)
SELECT doc_id, lang,
       0.4 * least(n_words / 100.0, 1.0)
     + 0.3 * greatest(0.0, 1.0 - 2.0 * (punct_ratio + digit_ratio))
     + 0.3 * least(1.0, 4.0 * stopword_ratio) AS quality
FROM f
WHERE 0.4 * least(n_words / 100.0, 1.0)
    + 0.3 * greatest(0.0, 1.0 - 2.0 * (punct_ratio + digit_ratio))
    + 0.3 * least(1.0, 4.0 * stopword_ratio) >= {_Q_THRESH}
"""

TEXTOPS_QUERIES["quality_filter"] = (q_quality_filter, O_QUALITY_FILTER)


# -- 11. Gopher-style repetition signals ---------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent word/bigram share + type-token ratio per doc (the
    Gopher repetition filters), computed as narrow sorted-array folds — the
    oracle independently derives the same frequencies via unnest/groupBy."""
    from mysql_log_parser_spark.textops.quality import with_repetition

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return with_repetition(d).select(
        "doc_id",
        "n_words",
        "max_word_freq",
        "max_bigram_freq",
        "word_rep_permille",
        "bigram_rep_permille",
        "distinct_word_permille",
    )


O_REPETITION_STATS = """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS w
  FROM documents
), base AS (
  SELECT doc_id, w,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
  FROM d
), wf AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS max_wf FROM (
    SELECT doc_id, word, count(*) AS c
    FROM (SELECT doc_id, unnest(w) AS word FROM d)
    GROUP BY doc_id, word
  ) GROUP BY doc_id
), bg AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS max_bf FROM (
    SELECT doc_id, g, count(*) AS c FROM (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]) AS g
      FROM d WHERE len(w) >= 2
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT b.doc_id,
       n_words,
       COALESCE(max_wf, 0) AS max_word_freq,
       COALESCE(max_bf, 0) AS max_bigram_freq,
       CAST(CASE WHEN n_words > 0 THEN 1000 * COALESCE(max_wf, 0) // n_words ELSE 0 END AS BIGINT) AS word_rep_permille,
       CAST(CASE WHEN n_words > 1 THEN 1000 * COALESCE(max_bf, 0) // (n_words - 1) ELSE 0 END AS BIGINT) AS bigram_rep_permille,
       CAST(CASE WHEN n_words > 0 THEN 1000 * n_distinct // n_words ELSE 0 END AS BIGINT) AS distinct_word_permille
FROM base b LEFT JOIN wf USING (doc_id) LEFT JOIN bg USING (doc_id)
"""

TEXTOPS_QUERIES["repetition_stats"] = (q_repetition_stats, O_REPETITION_STATS)


# -- 12. PII redaction ---------------------------------------------------------

_PII_MOD = 7


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus carries no PII, so every doc_id % 7 == 0 doc gets the SAME
    deterministic email+phone suffix in both engines; the redaction result
    is hash-compared via md5 of the redacted text."""
    from mysql_log_parser_spark.textops.pii import with_pii_redaction

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % _PII_MOD == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return with_pii_redaction(d).select(
        "doc_id", "n_emails", "n_phones", "pii_clean", "redacted_md5"
    )


O_PII_REDACT = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_PII_MOD} = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS BIGINT) AS n_phones,
       (len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}'))
        + len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b'))) = 0 AS pii_clean,
       md5(regexp_replace(
             regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}', '<EMAIL>', 'g'),
             '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '<PHONE>', 'g')) AS redacted_md5
FROM d
"""

TEXTOPS_QUERIES["pii_redact"] = (q_pii_redact, O_PII_REDACT)


# -- 13. benchmark decontamination ---------------------------------------------

_DECON_N = 5
_DECON_MOD = 11


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc_id % 11 == 0 doc plays the 'benchmark set'; its distinct
    word 5-grams are broadcast and every doc is scored by overlap count.
    The probe docs trivially flag themselves — exactly what a real
    decontamination pass does to verbatim benchmark leakage."""
    from mysql_log_parser_spark.textops.decontam import (
        contamination_hits,
        probe_ngrams,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    probes = probe_ngrams(d.where(F.col("doc_id") % _DECON_MOD == 0), n=_DECON_N)
    return contamination_hits(d, probes, n=_DECON_N)


O_DECONTAMINATE = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS w
  FROM documents
), g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest([array_to_string(w[i:i+{_DECON_N - 1}], ' ')
                   for i in generate_series(1, len(w) - {_DECON_N - 1})]) AS gram
    FROM w WHERE len(w) >= {_DECON_N}
  )
), p AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {_DECON_MOD} = 0
), h AS (
  SELECT g.doc_id, count(*) AS n FROM g JOIN p USING (gram) GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_probe_hits,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN h USING (doc_id)
"""

TEXTOPS_QUERIES["decontaminate"] = (q_decontaminate, O_DECONTAMINATE)


def q_decontaminate_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same decontamination semantics through the NON-broadcast path
    (probes_broadcastable=False): bounded bucket prefilter + pinned shuffle
    hash join — the plan used when the probe set outgrows the executor
    broadcast budget.  Gated against the identical oracle as `decontaminate`,
    so both join strategies must produce byte-identical results."""
    from mysql_log_parser_spark.textops.decontam import (
        contamination_hits,
        probe_ngrams,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    probes = probe_ngrams(d.where(F.col("doc_id") % _DECON_MOD == 0), n=_DECON_N)
    return contamination_hits(
        d, probes, n=_DECON_N, probes_broadcastable=False
    )


TEXTOPS_QUERIES["decontaminate_shuffle"] = (q_decontaminate_shuffle, O_DECONTAMINATE)


# -- 14. dedup components: pairs -> canonical keep-list ------------------------

_CC_ITERS = 3


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision step of the dedup pipeline: the (verified) minhash-LSH
    near-dup pairs become duplicate components via bounded min-label
    propagation, and keep = (doc_id == component) selects one canonical
    survivor per cluster.  Both engines run the SAME fixed iteration count,
    so the comparison is exact even where propagation has not converged."""
    from mysql_log_parser_spark.textops.dedup import (
        components_from_pairs,
        minhash_dedup_pairs,
    )

    corpus = _mutated_docs(spark, sf_dir)
    pairs = minhash_dedup_pairs(
        corpus, n=_NGRAM, num_hashes=_MH, bands=_BANDS, threshold=_THRESH
    )
    return components_from_pairs(pairs, corpus, iters=_CC_ITERS)


def _o_label_prop(iters: int, id_expr: str) -> str:
    """Shared SQL for bounded min-label propagation — the oracle mirror of
    textops/dedup.components_from_pairs, used by EVERY components-based
    oracle so the propagation rule lives in exactly one place.  Expects
    `pairs(id_a, id_b)` and a corpus CTE `c` carrying `id_expr`; emits the
    `sym` + `l0..l{iters}` CTE chain (caller appends the final SELECT over
    `l{iters}`)."""
    prop = []
    for t in range(iters):
        prop.append(
            f"""l{t + 1} AS (
  SELECT l.v, least(l.label, COALESCE(m.nm, l.label)) AS label
  FROM l{t} l LEFT JOIN (
    SELECT s.src, min(d.label) AS nm
    FROM sym s JOIN l{t} d ON d.v = s.dst
    GROUP BY s.src
  ) m ON m.src = l.v
)"""
        )
    return f"""sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), l0 AS (
  SELECT {id_expr} AS v, {id_expr} AS label FROM c
), {', '.join(prop)}"""


def _o_dedup_components() -> str:
    return (
        _o_minhash_pairs()
        + ", "
        + _o_label_prop(_CC_ITERS, "doc_id")
        + f"\nSELECT v AS doc_id, label AS component, v = label AS keep FROM l{_CC_ITERS}\n"
    )


O_DEDUP_COMPONENTS = _o_dedup_components()

TEXTOPS_QUERIES["dedup_components"] = (q_dedup_components, O_DEDUP_COMPONENTS)


# -- 15. domain-mixing upsampler + token-budget head ---------------------------

_MIX_W = {"src0": 2.5, "src1": 1.0, "src2": 0.5, "src3": 3.0}
_BUDGET = 20000


def q_mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional mixture weights per source: floor(w) copies plus one more
    when the id-hash falls under frac(w) — per-(doc, copy) rows, aggregated
    per source for a compact hash surface."""
    from mysql_log_parser_spark.textops.sampling import upsample

    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    up = upsample(d, _MIX_W, stratum_col="source")
    return up.groupBy("source").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.countDistinct("doc_id").alias("distinct_docs"),
        F.max("copy_idx").cast("long").alias("max_copies"),
    )


def _o_mix_upsample() -> str:
    w_case = "CASE " + " ".join(
        f"WHEN source = '{k}' THEN {v}" for k, v in sorted(_MIX_W.items())
    ) + " ELSE 1.0 END"
    return f"""
WITH d AS (
  SELECT doc_id, source, {w_case} AS w, {_o_unit_hash('doc_id', 'mix')} AS u
  FROM documents
), n AS (
  SELECT doc_id, source,
         CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS INT) AS n
  FROM d
), expanded AS (
  SELECT doc_id, source, unnest(generate_series(1, n)) AS copy_idx
  FROM n WHERE n > 0
)
SELECT source,
       count(*) AS rows_out,
       count(DISTINCT doc_id) AS distinct_docs,
       CAST(max(copy_idx) AS BIGINT) AS max_copies
FROM expanded GROUP BY source
"""


O_MIX_UPSAMPLE = _o_mix_upsample()

TEXTOPS_QUERIES["mix_upsample"] = (q_mix_upsample, O_MIX_UPSAMPLE)


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-quality docs per source until the per-source token budget
    fills.  Quality = the permille quality score (integer, exact in both
    engines); token length = char length of text."""
    from mysql_log_parser_spark.textops.quality import quality_score
    from mysql_log_parser_spark.textops.sampling import take_token_budget

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_tok"),
        F.floor(quality_score(F.col("text")) * 1000).cast("long").alias("q_permille"),
    )
    kept = take_token_budget(
        d, _BUDGET, part_col="source", priority_col="q_permille", len_col="n_tok"
    )
    return kept.select("source", "doc_id", "n_tok", "q_permille", "cum_tok")


def _o_token_budget() -> str:
    # quality_score mirror: 0.4*min(n_words/100,1) + 0.3*noise + 0.3*stopword
    sw = _ALL_SW
    return f"""
WITH f AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_tok,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS words,
         text
  FROM documents
), q AS (
  SELECT doc_id, source, n_tok,
         CAST(floor(1000 * (
           0.4 * least(len(words) / 100.0, 1.0)
           + 0.3 * greatest(0.0, 1.0 - 2.0 * (
               (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
             + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)))
           + 0.3 * least(1.0, 4.0 * (len(list_filter(words, x -> list_contains({sw}, x))) / len(words)))
         )) AS BIGINT) AS q_permille
  FROM f
), c AS (
  SELECT source, doc_id, n_tok, q_permille,
         sum(n_tok) OVER (PARTITION BY source ORDER BY q_permille DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM q
)
SELECT source, doc_id, n_tok, q_permille, CAST(cum_tok AS BIGINT) AS cum_tok
FROM c WHERE cum_tok <= {_BUDGET}
"""


O_TOKEN_BUDGET = _o_token_budget()

TEXTOPS_QUERIES["token_budget"] = (q_token_budget, O_TOKEN_BUDGET)


# -- 16. corpus vocabulary stats -----------------------------------------------

_VOCAB_TOP = 50


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-frequency table, top-K by (count desc, word):
    explode -> partial-aggregated groupBy -> orderBy().limit(K), which Spark
    compiles to TakeOrderedAndProject — a distributed per-partition top-K
    plus a K-row merge.  (A global row_number window here would exchange the
    ENTIRE vocabulary — 10^8+ distinct words at corpus scale — through one
    task; the limit form never moves more than K rows per partition.)  The
    rank window after the limit runs over exactly K rows."""
    from mysql_log_parser_spark.textops.quality import words_of

    d = _docs(spark, sf_dir).select(F.explode(words_of(F.col("text"))).alias("word"))
    counts = d.groupBy("word").agg(
        F.count(F.lit(1)).alias("n"),
    )
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(_VOCAB_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


O_VOCAB_STATS = f"""
WITH w AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x != '')) AS word
  FROM documents
), c AS (
  SELECT word, count(*) AS n FROM w GROUP BY word
)
SELECT word, n, rank FROM (
  SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rank FROM c
) WHERE rank <= {_VOCAB_TOP}
"""

TEXTOPS_QUERIES["vocab_stats"] = (q_vocab_stats, O_VOCAB_STATS)


# -- 17. end-to-end curation pipeline ------------------------------------------

_CUR_Q_MIN = 600
_CUR_BUDGET = 15000


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation chain as ONE dataflow:
    exact dedup (keep min-id per content hash) -> quality floor ->
    per-source token budget.  Each stage is the engine's own operator
    shape — hash-partitioned window for dedup, narrow quality scoring,
    per-shard cumsum head — and the oracle recomputes the whole chain
    independently, so a bug in ANY stage flips the hash."""
    from mysql_log_parser_spark.textops.quality import quality_score
    from mysql_log_parser_spark.textops.sampling import take_token_budget

    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    dupes = d.where(F.col("doc_id") % 7 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "source", "text"
    )
    corpus = d.unionByName(dupes)

    keep_w = Window.partitionBy(F.md5("text"))
    deduped = corpus.withColumn("_min_id", F.min("doc_id").over(keep_w)).where(
        F.col("doc_id") == F.col("_min_id")
    )
    scored = deduped.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_tok"),
        F.floor(quality_score(F.col("text")) * 1000).cast("long").alias("q_permille"),
    ).where(F.col("q_permille") >= _CUR_Q_MIN)
    kept = take_token_budget(
        scored, _CUR_BUDGET, part_col="source", priority_col="q_permille", len_col="n_tok"
    )
    return kept.select("source", "doc_id", "n_tok", "q_permille", "cum_tok")


def _o_curation() -> str:
    sw = _ALL_SW
    return f"""
WITH c AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1), source, text FROM documents WHERE doc_id % 7 = 0
), dd AS (
  SELECT * FROM (
    SELECT doc_id, source, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS min_id
    FROM c
  ) WHERE doc_id = min_id
), f AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_tok,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS words,
         text
  FROM dd
), q AS (
  SELECT doc_id, source, n_tok,
         CAST(floor(1000 * (
           0.4 * least(len(words) / 100.0, 1.0)
           + 0.3 * greatest(0.0, 1.0 - 2.0 * (
               (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
             + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)))
           + 0.3 * least(1.0, 4.0 * (len(list_filter(words, x -> list_contains({sw}, x))) / len(words)))
         )) AS BIGINT) AS q_permille
  FROM f
), flt AS (
  SELECT * FROM q WHERE q_permille >= {_CUR_Q_MIN}
), cm AS (
  SELECT source, doc_id, n_tok, q_permille,
         sum(n_tok) OVER (PARTITION BY source ORDER BY q_permille DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM flt
)
SELECT source, doc_id, n_tok, q_permille, CAST(cum_tok AS BIGINT) AS cum_tok
FROM cm WHERE cum_tok <= {_CUR_BUDGET}
"""


O_CURATION = _o_curation()

TEXTOPS_QUERIES["curation_pipeline"] = (q_curation_pipeline, O_CURATION)


# -- 18. token-ID frequency top-K ---------------------------------------------

_TOKEN_TOP = 40


def q_token_id_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token-ID frequency top-K over the input contract's
    ``tokens array<int32>`` column (BASELINE.json input_hint) — the unigram
    statistic a tokenizer/vocab audit runs over a training corpus.

    Scale shape: explode -> groupBy(token) -> orderBy().limit(K).  Catalyst
    plans a PARTIAL hash aggregate between the explode and the exchange, so
    the shuffle carries at most |vocab| rows per map partition (vocab-bounded,
    never token-count-bounded), and the limit compiles to
    TakeOrderedAndProject — per-partition top-K plus a K-row merge, no global
    sort.  The tokens here are the contract encoding (UTF-8 bytes as int32,
    entry_queries.encode_tokens); on a real corpus the column is read straight
    from the tokens table and the whole plan is JVM-side."""
    from mysql_log_parser_spark import entry_queries as EQ

    d = _docs(spark, sf_dir).select(EQ.encode_tokens("text").alias("tokens"))
    t = d.select(F.explode("tokens").alias("token"))
    counts = t.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(_TOKEN_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        F.col("token").cast("int").alias("token"),
        "n",
        F.row_number().over(w).cast("long").alias("rank"),
    )


# documents.text is ASCII by construction (gate-checked in
# tests/test_textops.py), so UTF-8 byte values == codepoints and the oracle
# can recover the token ids with unicode() per character.
O_TOKEN_ID_TOPK = f"""
WITH t AS (
  SELECT unnest(list_transform(list_filter(string_split(text, ''), c -> c != ''),
                               c -> unicode(c))) AS token
  FROM documents
), c AS (
  SELECT token, count(*) AS n FROM t GROUP BY token
)
SELECT CAST(token AS INTEGER) AS token, n, CAST(rank AS BIGINT) AS rank FROM (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM c
) WHERE rank <= {_TOKEN_TOP}
"""

TEXTOPS_QUERIES["token_id_topk"] = (q_token_id_topk, O_TOKEN_ID_TOPK)


# -- 19. token-bigram frequency top-K -----------------------------------------

_BIGRAM_TOP = 30


def q_token_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K adjacent token PAIRS over the tokens arrays (the bigram table a
    BPE-merge or contamination audit starts from), bigram encoded as
    ``lead_token * 256 + next_token``.

    The pairing is a single Catalyst ``transform`` over a slice of the array
    (one lambda, indexed element_at for the successor — no self-join, no
    posexplode-and-rejoin), then the same partial-agg + TakeOrderedAndProject
    plan as the unigram query: shuffle is bigram-vocab-bounded, final sort is
    a K-row merge."""
    from mysql_log_parser_spark import entry_queries as EQ

    d = (
        _docs(spark, sf_dir)
        .select(EQ.encode_tokens("text").alias("tokens"))
        .where(F.size("tokens") >= 2)
    )
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(slice(tokens, 1, size(tokens) - 1),"
                " (t, i) -> t * 256 + element_at(tokens, i + 2))"
            )
        ).alias("bigram")
    )
    counts = pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("bigram")).limit(_BIGRAM_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("bigram"))
    return top.select(
        F.col("bigram").cast("int").alias("bigram"),
        "n",
        F.row_number().over(w).cast("long").alias("rank"),
    )


O_TOKEN_BIGRAM_TOPK = f"""
WITH b AS (
  SELECT unnest([unicode(text[i:i]) * 256 + unicode(text[i+1:i+1])
                 for i in range(1, length(text))]) AS bigram
  FROM documents WHERE length(text) >= 2
), c AS (
  SELECT bigram, count(*) AS n FROM b GROUP BY bigram
)
SELECT CAST(bigram AS INTEGER) AS bigram, n, CAST(rank AS BIGINT) AS rank FROM (
  SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram) AS rank FROM c
) WHERE rank <= {_BIGRAM_TOP}
"""

TEXTOPS_QUERIES["token_bigram_topk"] = (q_token_bigram_topk, O_TOKEN_BIGRAM_TOPK)


# -- 20. heavy hitters (MG candidates + exact re-count) ------------------------

_HH_TOP = 10
_HH_K = 64


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 tokens via the two-pass heavy-hitters operator
    (textops/heavyhitters.py): per-partition Misra-Gries candidate
    generation, then an exact broadcast-semi-join re-count of candidates
    only.  Hash-identical to the one-pass exact plan (the oracle), but the
    pass-2 shuffle is candidate-bounded — the shape that survives a 10^8-
    entry vocabulary where the one-pass plan's shuffle is vocab-bounded."""
    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.textops.heavyhitters import heavy_hitters_topk

    d = _docs(spark, sf_dir).select(EQ.encode_tokens("text").alias("tokens"))
    return heavy_hitters_topk(d, k_counters=_HH_K, topk=_HH_TOP)


O_HEAVY_HITTERS = f"""
WITH t AS (
  SELECT unnest(list_transform(list_filter(string_split(text, ''), c -> c != ''),
                               c -> unicode(c))) AS token
  FROM documents
), c AS (
  SELECT token, count(*) AS n FROM t GROUP BY token
)
SELECT CAST(token AS INTEGER) AS token, n, CAST(rank AS BIGINT) AS rank FROM (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM c
) WHERE rank <= {_HH_TOP}
"""

TEXTOPS_QUERIES["heavy_hitters"] = (q_heavy_hitters, O_HEAVY_HITTERS)


# -- 22. per-source sequence-length histogram ----------------------------------

_SLH_WIDTH = 64
_SLH_BUCKETS = 16


def q_seq_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution per source — the table a packing planner
    (textops/sampling.sequence_pack) reads before choosing a context length:
    fixed-width buckets of n_tok, doc/token mass per bucket, and the
    cumulative token share (integer permille, drift-free).

    Narrow until the (source, bucket) agg — a few hundred groups at ANY
    corpus size — then a partition-bounded window (<= 16 rows per source)
    for the cumulative share.  No driver round-trips."""
    d = _docs(spark, sf_dir).select("source", F.col("n_chars").alias("n_tok"))
    b = d.select(
        "source",
        F.least(F.floor(F.col("n_tok") / _SLH_WIDTH), F.lit(_SLH_BUCKETS - 1))
        .cast("long")
        .alias("bucket"),
        "n_tok",
    )
    g = b.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tok_sum"),
    )
    cum = Window.partitionBy("source").orderBy("bucket")
    tot = Window.partitionBy("source")
    return g.select(
        "source",
        "bucket",
        "n_docs",
        F.col("tok_sum").cast("long").alias("tok_sum"),
        F.floor(
            (F.sum("tok_sum").over(cum) * 1000) / F.sum("tok_sum").over(tot)
        )
        .cast("long")
        .alias("cum_permille"),
    )


O_SEQ_LEN_HISTOGRAM = f"""
WITH b AS (
  SELECT source,
         least(n_chars // {_SLH_WIDTH}, {_SLH_BUCKETS - 1}) AS bucket,
         n_chars AS n_tok
  FROM documents
), g AS (
  SELECT source, bucket, count(*) AS n_docs, sum(n_tok) AS tok_sum
  FROM b GROUP BY source, bucket
)
SELECT source, CAST(bucket AS BIGINT) AS bucket, n_docs,
       CAST(tok_sum AS BIGINT) AS tok_sum,
       CAST(floor((sum(tok_sum) OVER (PARTITION BY source ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000.0)
                  / sum(tok_sum) OVER (PARTITION BY source)) AS BIGINT)
         AS cum_permille
FROM g
"""

TEXTOPS_QUERIES["seq_len_histogram"] = (q_seq_len_histogram, O_SEQ_LEN_HISTOGRAM)


# -- 23. chained BPE training --------------------------------------------------

_BPE_N = 8


def q_bpe_train8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGHT chained BPE rounds through the production trainer
    (textops/bpe.bpe_train_n): per round one distributed top-1 selection
    (single row to the driver) + one Arrow merge rewrite, with at most two
    corpus generations persisted at a time.  The oracle replays all eight
    rounds in DuckDB over a sentinel-char text encoding (chr(i) <-> id
    255+i) and hash-compares the final id sequences — any drift in pair
    choice, tie-break, overlap rule or id mapping across ANY round flips
    the hash."""
    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.textops.bpe import bpe_train_n

    d = _docs(spark, sf_dir).select(
        "doc_id", EQ.encode_tokens("text").alias("tokens")
    )
    merged, _rounds = bpe_train_n(d, _BPE_N)
    n0 = d.select("doc_id", F.size("tokens").cast("long").alias("n0"))
    out = merged.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_final"),
        F.md5(
            F.concat_ws(",", F.transform("tokens", lambda t: t.cast("string")))
        ).alias("merged_md5"),
    )
    return n0.join(out, "doc_id")


def _o_bpe_train_n(n: int, sample_where: str | None = None) -> str:
    """Chained-CTE DuckDB replay of n BPE rounds, the one BPE training
    oracle (bpe_train8, and bpe_train_sampled via `sample_where`): the
    working text keeps merged ids as sentinel chars (chr(i) <-> id 255+i,
    valid while the corpus is ASCII — gated by the token_topk precondition
    test), each round recomputes the id-list view, picks argmax bigram
    with top_bigram's (count desc, lead asc, next asc) tie-break via
    bg = lead*4096 + next, and applies a non-overlapping global replace
    (test_bpe_merge_matches_string_replace_semantics pins Spark's merge
    kernel to exactly replace() semantics).

    `sample_where` (a doc_id predicate) restricts ONLY the per-round
    bigram argmax to the training sample; the replace still rewrites every
    doc — the replay of hash-sampled training (bpe_train_sampled), valid
    because the rewrite is per-document so sampled docs evolve identically
    in the sample-only and corpus-wide chains.

    The replay assumes all n merges are learnable from the sample, as the
    gate corpus guarantees.  It has no early stop: where Spark's loop stops
    on a dry sample (bpe.BigramsExhausted), round i's pair here is NULL and
    every later text becomes NULL."""
    sample_and = f" AND ({sample_where})" if sample_where else ""
    ids = (
        "list_transform(list_filter(string_split(t, ''), c -> c != ''), "
        f"c -> CASE WHEN unicode(c) BETWEEN 1 AND {n} THEN 255 + unicode(c) "
        "ELSE unicode(c) END)"
    )
    parts = [f"WITH t0 AS (SELECT doc_id, text AS t FROM documents)"]
    for i in range(1, n + 1):
        parts.append(
            f", l{i - 1} AS (SELECT doc_id, t, {ids} AS l FROM t{i - 1})"
        )
        parts.append(
            f""", best{i} AS (
  SELECT bg FROM (
    SELECT bg, count(*) AS n FROM (
      SELECT unnest([l[i]*4096 + l[i+1] for i in range(1, len(l))]) AS bg
      FROM l{i - 1} WHERE len(l) >= 2{sample_and}
    ) GROUP BY bg ORDER BY n DESC, bg LIMIT 1)
)"""
        )
        parts.append(
            f""", p{i} AS (
  SELECT (CASE WHEN bg // 4096 >= 256 THEN chr(bg // 4096 - 255)
               ELSE chr(bg // 4096) END) ||
         (CASE WHEN bg % 4096 >= 256 THEN chr(bg % 4096 - 255)
               ELSE chr(bg % 4096) END) AS p
  FROM best{i}
)"""
        )
        parts.append(
            f""", t{i} AS (
  SELECT doc_id, replace(t, (SELECT p FROM p{i}), chr({i})) AS t
  FROM l{i - 1}
)"""
        )
    parts.append(
        f"""
SELECT doc_id,
       (SELECT CAST(length(o.text) AS BIGINT) FROM documents o
        WHERE o.doc_id = t{n}.doc_id) AS n0,
       CAST(length(t) AS BIGINT) AS n_final,
       md5(array_to_string(
         list_transform({ids}, x -> CAST(x AS VARCHAR)), ',')) AS merged_md5
FROM t{n}
"""
    )
    return "".join(parts)


O_BPE_TRAIN8 = _o_bpe_train_n(_BPE_N)

TEXTOPS_QUERIES["bpe_train8"] = (q_bpe_train8, O_BPE_TRAIN8)


# -- 23b. hash-sampled BPE training, corpus-wide apply --------------------------

# Deterministic ~25% training sample: first hex digit of md5(doc_id) < '4'.
# md5-of-decimal-string is engine-identical, so Spark and DuckDB carve the
# exact same sample at any corpus size.
_BPE_SAMPLE_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'"


def q_bpe_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-vocab BPE: train 8 merges on the deterministic ~25%
    md5(doc_id) sample, tokenize the FULL corpus with the learned table in
    one Arrow pass (textops/bpe.bpe_train_sampled).  Pass cost drops from
    n_merges full-corpus passes (bpe_train8) to n_merges sample passes +
    ONE corpus-wide apply — the reduction a 30k-merge production vocab
    needs.  The oracle replays the sampled argmax per round (bigram counts
    over sampled docs only) with the replace applied corpus-wide, and
    hash-compares every doc's final id sequence — a drift in the sample
    membership, any round's pair choice, or the apply-side overlap rule
    flips it."""
    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.textops.bpe import bpe_train_sampled

    d = _docs(spark, sf_dir).select(
        "doc_id", EQ.encode_tokens("text").alias("tokens")
    )
    pred = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4"
    tokenized, _rounds = bpe_train_sampled(d, _BPE_N, pred)
    n0 = d.select("doc_id", F.size("tokens").cast("long").alias("n0"))
    out = tokenized.select(
        "doc_id",
        F.col("n_after").cast("long").alias("n_final"),
        F.md5(
            F.concat_ws(
                ",", F.transform("tokens_merged", lambda t: t.cast("string"))
            )
        ).alias("merged_md5"),
    )
    return n0.join(out, "doc_id")


TEXTOPS_QUERIES["bpe_train_sampled"] = (
    q_bpe_train_sampled,
    _o_bpe_train_n(_BPE_N, sample_where=_BPE_SAMPLE_SQL),
)


# -- 24. vocabulary-commonness score (CCNet-style unigram filter) --------------


def q_word_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc vocabulary commonness — the unigram core of a CCNet-style
    LM quality filter: score = mean document-frequency share of the doc's
    words, i.e. (sum of per-word df) / (n_words * total_docs), emitted in
    integer permille from exact-integer operands (one IEEE division of
    exact ints, floored — bit-identical across engines, unlike summed
    float log-probs).  Low = rare-vocab doc
    (gibberish/special content candidate), high = common prose.

    Scale shape: word df is a vocab-bounded partial-agg table joined back
    onto the exploded words (AQE picks broadcast while the vocab fits,
    shuffle beyond), then one per-doc agg.  No driver round-trips except
    the O(1) doc count."""
    from mysql_log_parser_spark.textops.quality import words_of

    docs = _docs(spark, sf_dir)
    total = docs.count()
    words = docs.select(
        "doc_id", F.explode(words_of(F.col("text"))).alias("word")
    )
    dfreq = (
        words.select("doc_id", "word")
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    joined = words.join(dfreq, "word")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("df").alias("df_sum"),
        )
        .select(
            "doc_id",
            "n_words",
            F.col("df_sum").cast("long").alias("df_sum"),
            ((F.col("df_sum") * 1000) / (F.col("n_words") * F.lit(total)))
            .cast("long")
            .alias("common_permille"),
        )
    )


# NB Spark's integer `/` promotes to double, so the cast("long") above
# truncates the double ratio; mirror with floor() in DuckDB (values are
# exact small rationals, both engines see the same double).
O_WORD_COMMONNESS = """
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x != '')) AS word
  FROM documents
), dfq AS (
  SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM w)
  GROUP BY word
), j AS (
  SELECT w.doc_id, dfq.df FROM w JOIN dfq USING (word)
)
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(df) AS BIGINT) AS df_sum,
       CAST(floor((sum(df) * 1000.0)
                  / (count(*) * (SELECT count(*) FROM documents))) AS BIGINT)
         AS common_permille
FROM j GROUP BY doc_id
"""

TEXTOPS_QUERIES["word_commonness"] = (q_word_commonness, O_WORD_COMMONNESS)


# -- 25. n-gram novelty (memorization-risk / diversity signal) -----------------


def _word_trigrams(ws_col: str = "ws") -> Column:
    """Word-trigram array over a word-array column — ONE Catalyst transform
    over the array slice.  Shared by the exact AND sketched novelty/overlap
    audits so the n-gram definition can never drift between a gate and its
    scale path."""
    return F.expr(
        f"transform(slice({ws_col}, 1, size({ws_col}) - 2),"
        f" (x, i) -> concat_ws(' ', x, element_at({ws_col}, i + 2),"
        f" element_at({ws_col}, i + 3)))"
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc share of word trigrams that are corpus-UNIQUE (global
    frequency 1) — the inverse of the memorization-risk signal near-dup
    pipelines rank by: a doc whose trigrams all re-occur elsewhere is
    boilerplate-ish; one that is mostly unique is novel.  Exact integer
    permille (floored IEEE ratio of exact ints, same discipline as
    word_commonness).

    Scale shape: trigram extraction is one Catalyst transform over the
    word-array slice (no self-join); the global frequency table aggregates
    with map-side partials (trigram-vocab-bounded shuffle) and joins back
    onto the exploded trigrams; one per-doc agg finishes.  Docs with fewer
    than 3 words have no trigram row on either side."""
    from mysql_log_parser_spark.textops.quality import words_of

    d = _docs(spark, sf_dir).select(
        "doc_id", words_of(F.col("text")).alias("ws")
    ).where(F.size("ws") >= 3)
    tris = d.select(
        "doc_id",
        F.explode(
            _word_trigrams()
        ).alias("tri"),
    )
    freq = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("n"))
    j = tris.join(freq, "tri")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_tri",
            F.col("n_unique").cast("long").alias("n_unique"),
            F.floor((F.col("n_unique") * 1000) / F.col("n_tri"))
            .cast("long")
            .alias("novel_permille"),
        )
    )


O_NGRAM_NOVELTY = """
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x != '') AS ws
  FROM documents
), t AS (
  SELECT doc_id,
         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 for i in range(1, len(ws) - 1)]) AS tri
  FROM w WHERE len(ws) >= 3
), f AS (
  SELECT tri, count(*) AS n FROM t GROUP BY tri
), j AS (
  SELECT t.doc_id, f.n FROM t JOIN f USING (tri)
)
SELECT doc_id,
       count(*) AS n_tri,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(floor(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000.0 / count(*))
            AS BIGINT) AS novel_permille
FROM j GROUP BY doc_id
"""

TEXTOPS_QUERIES["ngram_novelty"] = (q_ngram_novelty, O_NGRAM_NOVELTY)


# -- 25b. sketched n-gram novelty (hash-sampled frequency table) ---------------

# Deterministic value-space sampling rate: a trigram is sampled iff its
# 48-bit md5 hash falls below RATE * 2^48.  Sampling by VALUE (not by
# occurrence) keeps the global frequency of every sampled trigram EXACT —
# all of its occurrences survive together — so "freq == 1" is decided
# correctly for each sampled trigram and only the per-doc AVERAGING is
# estimated.
_NOV_RATE = 0.25
_NOV_THRESHOLD = int(_NOV_RATE * (1 << 48))


def q_ngram_novelty_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_novelty` through a deterministic hash-sample of the trigram
    value space — the 100 TB path where the exact global frequency table is
    a corpus-scale shuffle per audit (the remaining scale gap the r3 review
    called out alongside `source_overlap`, fixed there by theta sketches;
    a distinct-set sketch cannot answer frequency==1, so the novelty
    analogue is value-space sampling a la distinct-sampling estimators,
    Gibbons 2001).

    Scale shape: the md5 threshold prunes (1 - RATE) of trigram
    OCCURRENCES before the shuffle, so the frequency build and the
    join-back both shrink by RATE (a budget knob: cost ~ RATE * corpus,
    per-doc standard error ~ 1/sqrt(RATE * n_tri)).  No driver state, no
    broadcast of corpus-scale structures, and the hash is the repo-standard
    md5 half: tomorrow's sample of a grown corpus is a superset decision
    per trigram, never a reshuffled one.

    Gate pattern (as `source_overlap_sketch`): the EXACT novelty columns
    hash-compare against the independent DuckDB oracle; `sketch_in_band`
    asserts the sampled estimate lands within a per-doc Hoeffding-style
    band 0.1 + 1.5/sqrt(n_sampled) of the exact share (docs whose sampled
    trigram set is empty are vacuously in band — at RATE * n_tri -> 0 the
    estimator abstains rather than lies)."""
    from mysql_log_parser_spark.textops.quality import words_of

    d = _docs(spark, sf_dir).select(
        "doc_id", words_of(F.col("text")).alias("ws")
    ).where(F.size("ws") >= 3)
    tris = d.select(
        "doc_id",
        F.explode(
            _word_trigrams()
        ).alias("tri"),
    )
    # first 48 bits of md5 as a long: the repo-standard item hash
    h48 = F.conv(F.substring(F.md5("tri"), 1, 12), 16, 10).cast("long")
    samp = tris.where(h48 < F.lit(_NOV_THRESHOLD))
    freq = samp.groupBy("tri").agg(F.count(F.lit(1)).alias("n"))
    est = (
        samp.join(freq, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_samp"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_uniq_samp"),
        )
    )
    exact = q_ngram_novelty(spark, sf_dir)
    band = F.lit(0.1) + F.lit(1.5) / F.sqrt(F.col("n_samp"))
    in_band = F.coalesce(
        F.abs(
            F.col("n_uniq_samp") / F.col("n_samp")
            - F.col("novel_permille") / 1000.0
        )
        <= band,
        F.lit(True),  # no sampled trigrams -> estimator abstains
    )
    return exact.join(est, "doc_id", "left").select(
        "doc_id",
        "n_tri",
        "n_unique",
        "novel_permille",
        in_band.alias("sketch_in_band"),
    )


O_NGRAM_NOVELTY_SKETCH = O_NGRAM_NOVELTY.rstrip().replace(
    "AS novel_permille",
    "AS novel_permille,\n       CAST(TRUE AS BOOLEAN) AS sketch_in_band",
    1,
)

TEXTOPS_QUERIES["ngram_novelty_sketch"] = (
    q_ngram_novelty_sketch,
    O_NGRAM_NOVELTY_SKETCH,
)


# -- 26. cross-source overlap matrix (leakage audit) ---------------------------


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for each ordered source pair (a, b),
    the share of a's DISTINCT word trigrams that also occur in b — the
    audit a curation pipeline runs before declaring two sources (or a train
    and a held-out split) independent.  Exact integer permille.

    Scale shape: the distinct (source, trigram) table is at most
    |sources| x |trigram vocab| rows regardless of corpus size; the
    self-join on trigram and both aggregations run with map-side partials.
    The corpus itself is never self-joined."""
    from mysql_log_parser_spark.textops.quality import words_of

    d = _docs(spark, sf_dir).select(
        "source", words_of(F.col("text")).alias("ws")
    ).where(F.size("ws") >= 3)
    st = d.select(
        "source",
        F.explode(
            _word_trigrams()
        ).alias("tri"),
    ).distinct()
    base = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_tri"))
    a = st.select(F.col("source").alias("source_a"), "tri")
    b = st.select(F.col("source").alias("source_b"), "tri")
    inter = (
        a.join(b, "tri")
        .where(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return inter.join(
        base.withColumnRenamed("source", "source_a"), "source_a"
    ).select(
        "source_a",
        "source_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.floor((F.col("n_shared") * 1000) / F.col("n_tri"))
        .cast("long")
        .alias("share_permille"),
    )


O_SOURCE_OVERLAP = """
WITH w AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x != '') AS ws
  FROM documents
), st AS (
  SELECT DISTINCT source,
         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 for i in range(1, len(ws) - 1)]) AS tri
  FROM w WHERE len(ws) >= 3
), base AS (
  SELECT source, count(*) AS n_tri FROM st GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM st a JOIN st b USING (tri)
  WHERE a.source != b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(floor(n_shared * 1000.0 / base.n_tri) AS BIGINT) AS share_permille
FROM inter JOIN base ON base.source = inter.source_a
"""

TEXTOPS_QUERIES["source_overlap"] = (q_source_overlap, O_SOURCE_OVERLAP)


# -- 26b. sketched source overlap (theta sketches) ------------------------------

# lgNomEntries: 256 nominal entries, below the ~1.1-1.5k distinct trigrams a
# source holds at sf0.01, so the gate runs the sketch in estimation mode.
_THETA_LG = 8
# Absolute error band on the containment FRACTION: the theta relative std
# error is ~1/sqrt(256) (~0.0625) and the containment estimate divides an
# intersection estimate by a cardinality estimate, so the gate allows 3x that.
_THETA_BAND = 0.2


def _theta_containment(st: DataFrame) -> DataFrame:
    """(source, tri) rows -> (source_a, source_b, share_est) for every
    ordered pair of distinct sources, share_est estimating the share of
    a's distinct trigrams also in b.  One Spark theta sketch per source
    (partial aggregation, so the shuffle carries sketches, not trigrams);
    the |sources|^2 pairwise stage intersects broadcast sketches."""
    sk = st.groupBy("source").agg(F.theta_sketch_agg("tri", _THETA_LG).alias("sk"))
    a = sk.select(F.col("source").alias("source_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("source").alias("source_b"), F.col("sk").alias("sk_b"))
    inter = F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b"))
    return a.join(F.broadcast(b), F.col("source_a") != F.col("source_b")).select(
        "source_a",
        "source_b",
        (inter / F.theta_sketch_estimate("sk_a")).alias("share_est"),
    )


def q_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`source_overlap` through per-source theta sketches of the trigram
    set (_theta_containment) — the 100 TB path where the exact distinct
    (source, trigram) relation is too large to shuffle per audit.

    Gate pattern (as slow_distinct_sketch): the EXACT overlap columns
    hash-compare against the independent DuckDB oracle, and the sketch's
    containment estimate must land within `_THETA_BAND` of the exact share
    — the boolean flips if the estimator drifts outside its guarantee."""
    from mysql_log_parser_spark.textops.quality import words_of

    d = _docs(spark, sf_dir).select(
        "source", words_of(F.col("text")).alias("ws")
    ).where(F.size("ws") >= 3)
    est = _theta_containment(
        d.select("source", F.explode(_word_trigrams()).alias("tri"))
    )
    # band check against the floored permille: the <=0.001 quantization is
    # negligible next to the 0.2 band
    exact = q_source_overlap(spark, sf_dir)
    return (
        exact.join(est, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "share_permille",
            (
                F.abs(F.col("share_est") - F.col("share_permille") / 1000.0)
                <= _THETA_BAND
            ).alias("sketch_in_band"),
        )
    )


O_SOURCE_OVERLAP_SKETCH = O_SOURCE_OVERLAP.rstrip().replace(
    "CAST(floor(n_shared * 1000.0 / base.n_tri) AS BIGINT) AS share_permille",
    "CAST(floor(n_shared * 1000.0 / base.n_tri) AS BIGINT) AS share_permille,\n"
    "       CAST(TRUE AS BOOLEAN) AS sketch_in_band",
    1,
)

TEXTOPS_QUERIES["source_overlap_sketch"] = (
    q_source_overlap_sketch,
    O_SOURCE_OVERLAP_SKETCH,
)


# -- 27. prefix-bucket duplicate candidates ------------------------------------

_PFX_WORDS = 8


def q_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-candidate groups by shared document PREFIX (first 8
    words) — the cheap bucketing pass web-scale dedup runs before any
    pairwise verification (boilerplate openers, mirrored pages, templated
    docs all collide here).  Injects the same deterministic id-shifted
    copies the other dedup gates use so the corpus has collisions to find.

    Scale shape: one narrow projection to the prefix key, one partial-agg
    groupBy (prefix-cardinality-bounded shuffle), group membership bounded
    by bucket size.  Emits (prefix_md5, n_docs, ids_md5) — ids sorted so
    the digest is order-stable."""
    from mysql_log_parser_spark.textops.quality import words_of

    base = _docs(spark, sf_dir).select("doc_id", "text")
    dupes = base.where(F.col("doc_id") % 11 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat("text", F.lit(" tail variation")).alias("text"),
    )
    d = base.unionByName(dupes).select(
        "doc_id", words_of(F.col("text")).alias("ws")
    ).where(F.size("ws") >= _PFX_WORDS)
    keyed = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("ws", 1, _PFX_WORDS))).alias("prefix_md5"),
    )
    return (
        keyed.groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("ids_md5"),
        )
        .where(F.col("n_docs") > 1)
    )


O_PREFIX_DUP_GROUPS = f"""
WITH c AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1), text || ' tail variation'
  FROM documents WHERE doc_id % 11 = 0
), w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x != '') AS ws
  FROM c
), k AS (
  SELECT doc_id, md5(array_to_string(ws[1:{_PFX_WORDS}], ' ')) AS prefix_md5
  FROM w WHERE len(ws) >= {_PFX_WORDS}
)
SELECT prefix_md5,
       count(*) AS n_docs,
       md5(array_to_string(list_transform(list_sort(list(doc_id)),
                                          x -> CAST(x AS VARCHAR)), ',')) AS ids_md5
FROM k GROUP BY prefix_md5 HAVING count(*) > 1
"""

TEXTOPS_QUERIES["prefix_dup_groups"] = (q_prefix_dup_groups, O_PREFIX_DUP_GROUPS)


# -- 28. token codec round-trip gate -------------------------------------------


def q_tokens_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end gate on the input-table codec (tokenizer.py): text ->
    int32 token array (the table contract) -> decoded text, hashed — the
    oracle hashes the ORIGINAL text, so any lossiness anywhere in the
    encode/decode pair (truncation, signedness, codepoint handling) flips
    the hash.  One Arrow pass each way, no shuffle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.tokenizer import decode_batch

    @pandas_udf(StringType())
    def decode_udf(tokens: pd.Series) -> pd.Series:
        return pd.Series(decode_batch(tokens))

    d = _docs(spark, sf_dir).select(
        "doc_id", EQ.encode_tokens("text").alias("tokens")
    )
    return d.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tok"),
        F.md5(decode_udf("tokens")).alias("text_md5"),
    )


O_TOKENS_ROUNDTRIP = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_tok,
       md5(text) AS text_md5
FROM documents
"""

TEXTOPS_QUERIES["tokens_roundtrip"] = (q_tokens_roundtrip, O_TOKENS_ROUNDTRIP)


# -- 29. exact-substring span dedup (ExactSubstr) ------------------------------

_SPAN_K = 24


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication audit (ExactSubstr, Lee et al. 2021) over the
    tokens contract: per doc, how many of its k-token windows occur verbatim
    in other docs.  Injected id-shifted copies (doc_id % 7) guarantee fully-
    duplicated docs exist; natural boilerplate in the rendered corpus shows
    up as partial permille scores.  Plan: explode -> three keyed aggs/joins
    on the span hash — never all-pairs (textops/dedup.duplicate_span_stats
    docstring has the 100-TB shape)."""
    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.textops.dedup import duplicate_span_stats

    d = _docs(spark, sf_dir).select("doc_id", "text")
    dupes = d.where(F.col("doc_id") % 7 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    base = d.unionByName(dupes).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        EQ.encode_tokens("text").alias("tokens"),
    )
    return duplicate_span_stats(base, k=_SPAN_K)


# documents.text is ASCII (gate-checked), so unicode(char) == the int32
# token id from encode_tokens and the oracle can rebuild the exact
# comma-joined span strings the Spark side hashes.
O_DEDUP_SUBSTRING = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(-(doc_id + 1) AS BIGINT) AS doc_id, text
  FROM documents WHERE doc_id % 7 = 0
), el AS (
  SELECT doc_id, text FROM base WHERE length(text) >= {_SPAN_K}
), spans AS (
  SELECT doc_id,
         unnest([md5(array_to_string(
                   [CAST(unicode(text[i+j:i+j]) AS VARCHAR)
                    for j in range(0, {_SPAN_K})], ','))
                 for i in range(1, length(text) - {_SPAN_K} + 2)]) AS span
  FROM el
), ds AS (
  SELECT DISTINCT doc_id, span FROM spans
), dup AS (
  SELECT span FROM ds GROUP BY span HAVING count(*) >= 2
), tot AS (
  SELECT doc_id, count(*) AS n_spans FROM ds GROUP BY doc_id
), per AS (
  SELECT ds.doc_id, count(*) AS n_dup
  FROM ds JOIN dup USING (span) GROUP BY ds.doc_id
)
SELECT b.doc_id,
       COALESCE(t.n_spans, 0) AS n_spans,
       COALESCE(p.n_dup, 0) AS n_dup,
       CASE WHEN COALESCE(t.n_spans, 0) = 0 THEN 0
            ELSE (1000 * COALESCE(p.n_dup, 0)) // t.n_spans END AS dup_permille
FROM base b
LEFT JOIN tot t ON b.doc_id = t.doc_id
LEFT JOIN per p ON b.doc_id = p.doc_id
"""

TEXTOPS_QUERIES["dedup_substring"] = (q_dedup_substring, O_DEDUP_SUBSTRING)


# -- 30. BPE apply (tokenize with a trained merge table) -----------------------

# Fixed ranked merge table for the gate: ('e',' ')->256, (256,'t')->257,
# ('t','h')->258, (257,258)->259.  Ranks 2 and 4 consume ids minted by
# earlier ranks, so the rank-order chaining is exercised, not just
# independent replaces.
_APPLY_MERGES = [(101, 32, 256), (256, 116, 257), (116, 104, 258), (257, 258, 259)]


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a trained BPE merge table to the corpus in ONE shuffle-free
    Arrow pass (textops/bpe.apply_merges) — the inference-side operator a
    tokenizer pipeline ships after bpe_train_n: no corpus pass per merge,
    each sequence folds the ranked merges locally.  The oracle replays the
    same ranked merges as chained non-overlapping string replaces over a
    sentinel-char encoding and hash-compares the final id sequences."""
    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.textops.bpe import apply_merges

    d = _docs(spark, sf_dir).select(
        "doc_id", EQ.encode_tokens("text").alias("tokens")
    )
    out = apply_merges(d, _APPLY_MERGES)
    return out.select(
        "doc_id",
        "n_before",
        "n_after",
        F.md5(
            F.concat_ws(
                ",", F.transform("tokens_merged", lambda t: t.cast("string"))
            )
        ).alias("merged_md5"),
    )


# sentinel chars chr(1)..chr(4) <-> ids 256..259 (corpus is ASCII and
# sentinel-free — both gate-checked in tests/test_textops.py)
O_BPE_APPLY = """
WITH t1 AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_before,
         replace(text, 'e ', chr(1)) AS t FROM documents
), t2 AS (
  SELECT doc_id, n_before, replace(t, chr(1) || 't', chr(2)) AS t FROM t1
), t3 AS (
  SELECT doc_id, n_before, replace(t, 'th', chr(3)) AS t FROM t2
), t4 AS (
  SELECT doc_id, n_before, replace(t, chr(2) || chr(3), chr(4)) AS t FROM t3
)
SELECT doc_id, n_before, CAST(length(t) AS BIGINT) AS n_after,
       md5(array_to_string(
         list_transform(list_filter(string_split(t, ''), c -> c != ''),
                        c -> CAST(CASE WHEN unicode(c) BETWEEN 1 AND 4
                                       THEN 255 + unicode(c)
                                       ELSE unicode(c) END AS VARCHAR)),
         ',')) AS merged_md5
FROM t4
"""

TEXTOPS_QUERIES["bpe_apply"] = (q_bpe_apply, O_BPE_APPLY)


# -- 30. DSIR importance weights (hashed-unigram target/raw mass ratio) --------

_DSIR_B = 256
_DSIR_TARGETS = ("src0", "src1")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection features (Xie et al. 2023): score every doc by
    how target-like its hashed-unigram profile is, target = the trusted
    src0/src1 slice.  Gate emits the exact-integer surface (masses + the
    permille ratio-of-masses proxy); the float log-likelihood estimator
    rides the same plan (textops/dsir.with_log_importance) and is
    unit-tested against a numpy replay instead.

    Scale shape: both distributions are tables bounded at 256 rows —
    hashed-vocab, never corpus-sized — broadcast back onto the exploded
    words; the only doc-keyed shuffle is the final per-doc sum."""
    from mysql_log_parser_spark.textops.dsir import importance_features

    return importance_features(
        _docs(spark, sf_dir),
        F.col("source").isin(*_DSIR_TARGETS),
        n_buckets=_DSIR_B,
    )


def _o_dsir() -> str:
    targets = ", ".join(f"'{s}'" for s in _DSIR_TARGETS)
    return f"""
WITH w AS (
  SELECT doc_id, source,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x != '')) AS word
  FROM documents
), b AS (
  SELECT doc_id, source,
         {_hex_to_int('h', 1, 8)} % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, source, md5(word || ':dsir') AS h FROM w)
), t AS (
  SELECT bucket, count(*) AS t_cnt FROM b WHERE source IN ({targets})
  GROUP BY bucket
), r AS (
  SELECT bucket, count(*) AS r_cnt FROM b GROUP BY bucket
), dist AS (
  SELECT r.bucket, coalesce(t.t_cnt, 0) AS t_cnt, r.r_cnt
  FROM r LEFT JOIN t USING (bucket)
), tot AS (
  SELECT sum(t_cnt) AS tt, sum(r_cnt) AS rr FROM dist
), pd AS (
  SELECT doc_id, count(*) AS n_words,
         sum(t_cnt) AS t_mass, sum(r_cnt) AS r_mass
  FROM b JOIN dist USING (bucket) GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(t_mass AS BIGINT) AS t_mass,
       CAST(r_mass AS BIGINT) AS r_mass,
       CAST(floor(((CAST(t_mass AS DOUBLE) * CAST(rr AS DOUBLE)) * 1000.0)
                  / (CAST(r_mass AS DOUBLE) * CAST(tt AS DOUBLE))) AS BIGINT)
         AS dsir_permille
FROM pd, tot
"""


TEXTOPS_QUERIES["dsir_weights"] = (q_dsir_weights, _o_dsir())


# -- 31. hashed linear quality classifier (fastText-shape apply pass) ----------

_CLF_B = 4096
_CLF_BIAS = 2149


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier apply pass — the execution shape of
    a fastText-style quality filter (CCNet / RefinedWeb / FineWeb): explode
    words -> md5 bucket -> broadcast-join the bounded weight table ->
    per-doc integer score -> keep threshold.  Weights are synthesized
    deterministically from the bucket id so the oracle rebuilds the
    identical table with generate_series; a trained model's weights ride
    the exact same plan."""
    from mysql_log_parser_spark.textops.classifier import (
        classify_docs,
        synthetic_weights,
    )

    return classify_docs(
        _docs(spark, sf_dir),
        synthetic_weights(spark, _CLF_B),
        _CLF_B,
        bias=_CLF_BIAS,
    )


_O_QUALITY_CLASSIFIER = f"""
WITH wt AS (
  SELECT i AS bucket,
         ({_hex_to_int('h', 1, 8)} % 2001) - 1000 AS weight
  FROM (SELECT i, md5(CAST(i AS VARCHAR) || ':clfw') AS h
        FROM generate_series(0, {_CLF_B - 1}) s(i))
), w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x != '')) AS word
  FROM documents
), b AS (
  SELECT doc_id, {_hex_to_int('h', 1, 8)} % {_CLF_B} AS bucket
  FROM (SELECT doc_id, md5(word || ':dsir') AS h FROM w)
), s AS (
  SELECT doc_id, count(*) AS n_words,
         sum(coalesce(weight, 0)) + {_CLF_BIAS} AS score
  FROM b LEFT JOIN wt USING (bucket) GROUP BY doc_id
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(score AS BIGINT) AS score, score >= 0 AS keep
FROM s
"""

TEXTOPS_QUERIES["quality_classifier"] = (q_quality_classifier, _O_QUALITY_CLASSIFIER)


# -- 32. winnowing fingerprints (MOSS local fingerprinting) ---------------------

_WN_K = 5   # k-gram length
_WN_W = 4   # winnowing window -> guarantee threshold t = K + W - 1 = 8
_WN_POSCAP = 1 << 20
_WN_DF_CAP = 8    # dup-pair prefilter: drop fingerprints in > CAP docs
_WN_SHARED = 10   # dup-pair report threshold
# pair mining wants DISTINCTIVE k-grams: at k=5 the synthetic corpus's shared
# vocabulary puts the median fingerprint in 34 docs and the df cap (rightly)
# drops them all — k=12/w=8 (guarantee threshold t=19 chars) concentrates df
# at 1-2 and surfaces 95/100 injected near-copies at sf0.01.
_WNP_K = 12
_WNP_W = 8


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc digest of the winnowed fingerprint set (Schleimer et al.
    2003; textops/winnow.py).  Gated through the PRODUCTION kernel with
    the md5 gram hash (per-doc-local numpy selection, zero shuffle before
    the groupBy — the heavy_hitters precedent of gating a kernel against
    an exact SQL oracle).
    The digest (count + fp/pos sums) pins both the selected hash VALUES
    and the rightmost-min POSITIONS without shipping 60k rows through
    the gate."""
    from mysql_log_parser_spark.textops.winnow import (
        gram_hashes_md5,
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(
        _docs(spark, sf_dir).select("doc_id", "text"),
        k=_WN_K, w=_WN_W, hash_fn=gram_hashes_md5,
    )
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("fp").alias("fp_sum"),
        F.sum("pos").alias("pos_sum"),
    )


def _o_winnow_fps() -> str:
    """Winnowing in pure SQL: explode k-gram positions, window min over the
    combined (hash, complemented-pos) bigint, distinct decode."""
    return f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {_WN_K + _WN_W - 1}
), g AS (
  SELECT doc_id, length(text) - {_WN_K} + 1 AS npos,
         unnest(range(1, length(text) - {_WN_K} + 2)) AS i, text
  FROM d
), hx AS (
  SELECT doc_id, npos, i, md5(substr(text, i, {_WN_K})) AS h FROM g
), c AS (
  SELECT doc_id, npos, i,
         {_hex_to_int('h', 1, 8)} * {_WN_POSCAP} + ({_WN_POSCAP - 1} - i) AS c
  FROM hx
), sel AS (
  SELECT doc_id, npos, i,
         min(c) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS s
  FROM c
), fps AS (
  SELECT DISTINCT doc_id, s // {_WN_POSCAP} AS fp,
         {_WN_POSCAP - 1} - (s % {_WN_POSCAP}) AS pos
  FROM sel WHERE i <= npos - {_WN_W - 1}
)
"""


O_WINNOW_FPS = _o_winnow_fps() + """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
       CAST(sum(fp) AS BIGINT) AS fp_sum, CAST(sum(pos) AS BIGINT) AS pos_sum
FROM fps GROUP BY doc_id
"""

TEXTOPS_QUERIES["winnow_fingerprints"] = (q_winnow_fingerprints, O_WINNOW_FPS)


# -- 33. winnowing dup pairs (substring-level containment mining) ---------------

def q_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing >= {t} winnowed fingerprints — the substring-level dup
    miner winnowing exists for: any shared run of >= k+w-1 chars leaves a
    shared fingerprint, so mutated near-copies (here: every 5th doc
    re-injected with an appended tail, the minhash-gate mutation) surface
    even though their full-doc hashes differ.  Shape: fingerprint table ->
    document-frequency prefilter (df <= {cap}, dropping boilerplate
    k-grams so no bucket fans out — the LSH-band cap discipline) ->
    self-join on fp -> pair count.  Never an all-pairs product; the join
    key is the fingerprint, whose per-key width is bounded by the cap.
    """
    from mysql_log_parser_spark.textops.winnow import (
        gram_hashes_md5,
        winnow_fingerprints,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # injected ids are NEGATIVE (-(id+1)): structurally collision-free with
    # any non-negative corpus id at any corpus size (the char_diversity
    # scheme — a +100000 offset collides once the corpus passes 100k docs).
    mut = d.where(F.col("doc_id") % 5 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz qqq winnow tail")).alias("text"),
    )
    fps = (
        winnow_fingerprints(
            d.unionByName(mut), k=_WNP_K, w=_WNP_W, hash_fn=gram_hashes_md5
        )
        .select("doc_id", "fp")
        .distinct()
    )
    keep = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= _WN_DF_CAP
    )
    fz = fps.join(keep.select("fp"), "fp")
    cnt = fz.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = fz.alias("a"), fz.alias("b")
    pairs = (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= _WN_SHARED)
    )
    # containment = shared / min(|fps_a|, |fps_b|) over the SAME capped
    # fingerprint space as `shared` — the MOSS asymmetric metric; a small
    # doc fully embedded in a big one scores ~1000 permille even though
    # its symmetric shared count is modest.
    return (
        pairs.join(cnt.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_a")), "id_a")
        .join(cnt.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b", "shared", "n_a", "n_b",
            F.expr("(1000 * shared) DIV least(n_a, n_b)").alias("containment_permille"),
        )
    )


q_winnow_dup_pairs.__doc__ = q_winnow_dup_pairs.__doc__.format(
    t=_WN_SHARED, cap=_WN_DF_CAP
)


def _o_winnow_pairs() -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1), text || ' zzz qqq winnow tail'
  FROM documents WHERE doc_id % 5 = 0
), d AS (
  SELECT doc_id, text FROM corpus WHERE length(text) >= {_WNP_K + _WNP_W - 1}
), g AS (
  SELECT doc_id, length(text) - {_WNP_K} + 1 AS npos,
         unnest(range(1, length(text) - {_WNP_K} + 2)) AS i, text
  FROM d
), hx AS (
  SELECT doc_id, npos, i, md5(substr(text, i, {_WNP_K})) AS h FROM g
), c AS (
  SELECT doc_id, npos, i,
         {_hex_to_int('h', 1, 8)} * {_WN_POSCAP} + ({_WN_POSCAP - 1} - i) AS c
  FROM hx
), sel AS (
  SELECT doc_id, npos, i,
         min(c) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {_WNP_W - 1} FOLLOWING) AS s
  FROM c
), fps AS (
  SELECT DISTINCT doc_id, s // {_WN_POSCAP} AS fp
  FROM sel WHERE i <= npos - {_WNP_W - 1}
), keep AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_WN_DF_CAP}
), fz AS (
  SELECT doc_id, fp FROM fps JOIN keep USING (fp)
), cnt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fz GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM fz a JOIN fz b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {_WN_SHARED}
)
SELECT id_a, id_b, shared, ca.n_fp AS n_a, cb.n_fp AS n_b,
       CAST((1000 * shared) // least(ca.n_fp, cb.n_fp) AS BIGINT)
         AS containment_permille
FROM pairs JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
"""


TEXTOPS_QUERIES["winnow_dup_pairs"] = (q_winnow_dup_pairs, _o_winnow_pairs())


# -- 34. temperature-scaled source mixing weights -------------------------------

def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the per-source mixing weights mix_upsample consumes:
    p_s ~ n_s^0.5 exponential smoothing (textops/sampling.temperature_mix)
    — natural share, temperature share, and the realizing upsample factor,
    all exact integer permille."""
    from mysql_log_parser_spark.textops.sampling import temperature_mix

    return temperature_mix(_docs(spark, sf_dir), alpha=0.5)


O_MIX_TEMPERATURE = """
WITH w AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x != '')) AS n_tok
  FROM documents
), per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM w GROUP BY source
), m AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT) AS s_mass
  FROM per_src
), t AS (
  SELECT sum(n_tokens) AS _t, sum(s_mass) AS _sm FROM m
)
SELECT source, n_docs, n_tokens,
       CAST((1000 * n_tokens) // _t AS BIGINT) AS share_permille,
       CAST((1000 * s_mass) // _sm AS BIGINT) AS temp_share_permille,
       CAST(floor(((CAST(s_mass AS DOUBLE) * CAST(_t AS DOUBLE))
                   / (CAST(_sm AS DOUBLE) * CAST(n_tokens AS DOUBLE))) * 1000.0)
            AS BIGINT) AS factor_permille
FROM m, t
"""

TEXTOPS_QUERIES["mix_temperature"] = (q_mix_temperature, O_MIX_TEMPERATURE)


# -- 35. incremental LSH near-dup check (delta batch vs persisted index) --------

def _lsh_delta(d: DataFrame) -> DataFrame:
    """The arriving batch both LSH-check entries (batch + streaming) and
    their shared oracle replay, so the mutation spec lives once.  Injected
    ids are NEGATIVE with distinct residues mod 4 — -(4*id + c), c in
    {1, 2, 3} — so they are structurally collision-free with any
    non-negative corpus id AND with each other at any corpus size (the
    char_diversity negative-id scheme; the former +100000/+200000/+300000
    offsets collide with real ids once the corpus passes 100k docs):
      -(4*id+1)  appended-tail near-copies of every 7th doc   -> must flag
      -(4*id+2)  md5-gibberish fresh docs (3 words, 1 shingle) -> must pass
      -(4*id+3)  single-md5-word docs (ZERO shingles)          -> exercises
                 the shingle-less path: no mh, never banded, clean row with
                 n_cands = 0 on both engines.
    Gibberish text is derived from the NEW doc_id via md5 (engine-identical
    by construction — no reverse()/case-folding unicode divergence
    surface)."""
    def gib(idc, salts):
        return F.concat_ws(
            " ", *[F.md5(F.concat(idc.cast("string"), F.lit(f":{s}"))) for s in salts]
        )

    return (
        d.where(F.col("doc_id") % 7 == 0).select(
            (-(F.col("doc_id") * 4 + 1)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 7 == 3).select(
                (-(F.col("doc_id") * 4 + 2)).alias("doc_id"), F.lit(None).alias("text")
            ).select("doc_id", gib(F.col("doc_id"), ("a", "b", "c")).alias("text"))
        )
        .unionByName(
            d.where(F.col("doc_id") % 7 == 5).select(
                (-(F.col("doc_id") * 4 + 3)).alias("doc_id"), F.lit(None).alias("text")
            ).select("doc_id", gib(F.col("doc_id"), ("x",)).alias("text"))
        )
    )


def q_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arriving-batch near-dup check against the corpus's banded signature
    index (textops/dedup.incremental_lsh_check): delta = appended-tail
    near-copies (should flag) + gibberish fresh docs (should pass clean)
    + shingle-less docs (clean row, never banded) — see _lsh_delta.  The
    corpus is banded once; the check joins delta bands into the index —
    never delta x delta, never a re-mine of the base.  The verdicts are
    drained eagerly (localCheckpoint) so the two fat signature caches can
    be released before returning — like the streaming twin, the gate
    session's storage memory stays bounded across 100+ entries."""
    from mysql_log_parser_spark.textops.dedup import incremental_lsh_check

    d = _docs(spark, sf_dir).select("doc_id", "text")
    caches: list = []
    out = incremental_lsh_check(
        d, _lsh_delta(d), n=_NGRAM, num_hashes=_MH, bands=_BANDS,
        threshold=_THRESH, caches=caches,
    ).withColumnRenamed("delta_id", "doc_id")
    # one small row per delta doc; blocks are context-cleaned once the
    # returned frame is collected and dropped
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


def _o_lsh_side(suffix: str, src: str) -> str:
    """Shared oracle builder: shingle -> minhash -> band chain for one doc
    source, emitting CTEs sh_/hv_/sigs_/shs_/banded_/long_{suffix}.  Both
    LSH-index oracles (the one-batch checker and the self-maintaining
    ingest loop) splice these per side so the signature spec lives once."""
    rows = _MH // _BANDS
    mh = ", ".join(f"min(h1 + {i} * h2) AS mh{i}" for i in range(_MH))
    bands = ", ".join(
        "concat_ws('|', "
        + ", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + f") AS band{b}"
        for b in range(_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM banded_{suffix}"
        for b in range(_BANDS)
    )
    return f"""sh_{suffix} AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - {_NGRAM - 1}, 0)),
           i -> array_to_string(ws[i:i + {_NGRAM - 1}], ' ')
         )) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM {src})
), hv_{suffix} AS (
  SELECT doc_id, {_hex_to_int('h', 1, 12)} AS h1, {_hex_to_int('h', 13, 12)} AS h2
  FROM (SELECT doc_id, md5(unnest(sh)) AS h FROM sh_{suffix})
), sigs_{suffix} AS (
  SELECT doc_id, {mh} FROM hv_{suffix} GROUP BY doc_id
), shs_{suffix} AS (
  SELECT doc_id, list(DISTINCT h1) AS sh FROM hv_{suffix} GROUP BY doc_id
), banded_{suffix} AS (
  SELECT doc_id, {bands} FROM sigs_{suffix}
), long_{suffix} AS (
  {band_rows}
)"""


def _o_incremental_lsh() -> str:
    side = _o_lsh_side
    return f"""
WITH delta AS (
  SELECT -(doc_id * 4 + 1) AS doc_id, text || ' zzz qqq' AS text
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT -(doc_id * 4 + 2) AS doc_id,
         concat_ws(' ', md5(CAST(-(doc_id * 4 + 2) AS VARCHAR) || ':a'),
                        md5(CAST(-(doc_id * 4 + 2) AS VARCHAR) || ':b'),
                        md5(CAST(-(doc_id * 4 + 2) AS VARCHAR) || ':c')) AS text
  FROM documents WHERE doc_id % 7 = 3
  UNION ALL
  SELECT -(doc_id * 4 + 3) AS doc_id,
         md5(CAST(-(doc_id * 4 + 3) AS VARCHAR) || ':x') AS text
  FROM documents WHERE doc_id % 7 = 5
), {side('b', 'documents')}, {side('d', 'delta')}, cands AS (
  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS cand_id
  FROM long_d d JOIN long_b b
    ON d.band_idx = b.band_idx AND d.band_key = b.band_key
), verified AS (
  SELECT c.delta_id, c.cand_id,
         round(len(list_filter(sd.sh, x -> list_contains(sb.sh, x)))
               / (len(sd.sh) + len(sb.sh)
                  - len(list_filter(sd.sh, x -> list_contains(sb.sh, x)))), 6) AS j
  FROM cands c
  JOIN shs_d sd ON sd.doc_id = c.delta_id
  JOIN shs_b sb ON sb.doc_id = c.cand_id
), ranked AS (
  SELECT delta_id, cand_id, j,
         row_number() OVER (PARTITION BY delta_id
                            ORDER BY j DESC, cand_id) AS rn
  FROM verified
), agg AS (
  SELECT delta_id, CAST(count(*) AS BIGINT) AS n_cands, max(j) AS maxj
  FROM verified GROUP BY delta_id
), best AS (
  SELECT a.delta_id, a.n_cands, a.maxj, r.cand_id AS best_match
  FROM agg a JOIN ranked r ON r.delta_id = a.delta_id AND r.rn = 1
)
SELECT d.doc_id,
       coalesce(b.n_cands, 0) AS n_cands,
       coalesce(b.maxj >= {_THRESH}, false) AS is_dup,
       coalesce(b.maxj, 0.0) AS best_jaccard,
       CAST(b.best_match AS BIGINT) AS best_match
FROM delta d LEFT JOIN best b ON b.delta_id = d.doc_id
"""


TEXTOPS_QUERIES["incremental_lsh_dedup"] = (q_incremental_lsh, _o_incremental_lsh())


# -- 35b. self-maintaining LSH index (two-batch admission loop) -----------------


def q_incremental_lsh_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch admission loop through the SELF-MAINTAINING index
    (textops/dedup.incremental_lsh_ingest): the corpus's even docs seed the
    on-disk index; batch 0 = the odd docs (checked, then the accepted ones'
    signatures APPENDED to the index); batch 1 = injected probes that only
    come out right if the append happened:

      -(4*id+1), id % 14 == 1 (odd)   appended-tail near-copies of BATCH-0
                                      docs -> flagged iff the batch-0
                                      original was admitted and indexed —
                                      the loop-closure evidence
      -(4*id+2), id % 14 == 2 (even)  near-copies of SEED docs -> flagged
                                      via the seed index (control: catches
                                      a broken overwrite too)
      -(4*id+3), id % 14 == 3         md5-gibberish fresh docs -> clean rows

    Negative injected ids (distinct residues mod 4) are structurally
    collision-free with corpus ids at any scale.  Verdicts are pinned
    (localCheckpoint) inside the loop before each index mutation, so the
    returned frame holds no parquet dependency on the scratch index."""
    import atexit
    import os
    import shutil
    import tempfile

    from mysql_log_parser_spark.textops.dedup import incremental_lsh_ingest

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.where(F.col("doc_id") % 2 == 0)
    batch0 = d.where(F.col("doc_id") % 2 == 1)

    def gib(idc):
        return F.concat_ws(
            " ",
            *[F.md5(F.concat(idc.cast("string"), F.lit(f":{s}"))) for s in "abc"],
        )

    batch1 = (
        d.where(F.col("doc_id") % 14 == 1)
        .select(
            (-(F.col("doc_id") * 4 + 1)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 14 == 2).select(
                (-(F.col("doc_id") * 4 + 2)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" yyy www")).alias("text"),
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 14 == 3)
            .select((-(F.col("doc_id") * 4 + 3)).alias("doc_id"))
            .select("doc_id", gib(F.col("doc_id")).alias("text"))
        )
    )
    # one scratch index per process: the previous call's verdicts are
    # pinned, so its index can go now
    idx = os.path.join(tempfile.gettempdir(), f"mlp_lsh_idx_{os.getpid()}")
    shutil.rmtree(idx, ignore_errors=True)
    os.makedirs(idx)
    atexit.register(shutil.rmtree, idx, ignore_errors=True)
    out = incremental_lsh_ingest(
        base,
        [batch0, batch1],
        idx,
        n=_NGRAM,
        num_hashes=_MH,
        bands=_BANDS,
        threshold=_THRESH,
    )
    return out.withColumnRenamed("delta_id", "doc_id")


def _o_incremental_lsh_append() -> str:
    def verdicts(tag: str, delta: str, long_i: str, shs_i: str, batch: int) -> str:
        return f"""c{tag} AS (
  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS cand_id
  FROM long_{delta} d JOIN {long_i} b
    ON d.band_idx = b.band_idx AND d.band_key = b.band_key
), v{tag} AS (
  SELECT c.delta_id, c.cand_id,
         round(len(list_filter(sd.sh, x -> list_contains(sb.sh, x)))
               / (len(sd.sh) + len(sb.sh)
                  - len(list_filter(sd.sh, x -> list_contains(sb.sh, x)))), 6) AS j
  FROM c{tag} c
  JOIN shs_{delta} sd ON sd.doc_id = c.delta_id
  JOIN {shs_i} sb ON sb.doc_id = c.cand_id
), ranked{tag} AS (
  SELECT delta_id, cand_id, j,
         row_number() OVER (PARTITION BY delta_id
                            ORDER BY j DESC, cand_id) AS rn
  FROM v{tag}
), agg{tag} AS (
  SELECT delta_id, CAST(count(*) AS BIGINT) AS n_cands, max(j) AS maxj
  FROM v{tag} GROUP BY delta_id
), best{tag} AS (
  SELECT a.delta_id, a.n_cands, a.maxj, r.cand_id AS best_match
  FROM agg{tag} a JOIN ranked{tag} r
    ON r.delta_id = a.delta_id AND r.rn = 1
), out{tag} AS (
  SELECT CAST({batch} AS BIGINT) AS batch, d.doc_id,
         coalesce(b.n_cands, 0) AS n_cands,
         coalesce(b.maxj >= {_THRESH}, false) AS is_dup,
         coalesce(b.maxj, 0.0) AS best_jaccard,
         CAST(b.best_match AS BIGINT) AS best_match
  FROM {delta} d LEFT JOIN best{tag} b ON b.delta_id = d.doc_id
)"""

    return f"""
WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
d1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
d2 AS (
  SELECT -(doc_id * 4 + 1) AS doc_id, text || ' zzz qqq' AS text
  FROM documents WHERE doc_id % 14 = 1
  UNION ALL
  SELECT -(doc_id * 4 + 2) AS doc_id, text || ' yyy www' AS text
  FROM documents WHERE doc_id % 14 = 2
  UNION ALL
  SELECT -(doc_id * 4 + 3) AS doc_id,
         concat_ws(' ', md5(CAST(-(doc_id * 4 + 3) AS VARCHAR) || ':a'),
                        md5(CAST(-(doc_id * 4 + 3) AS VARCHAR) || ':b'),
                        md5(CAST(-(doc_id * 4 + 3) AS VARCHAR) || ':c')) AS text
  FROM documents WHERE doc_id % 14 = 3
), {_o_lsh_side('b0', 'b0')}, {_o_lsh_side('d1', 'd1')}, {_o_lsh_side('d2', 'd2')},
{verdicts('1', 'd1', 'long_b0', 'shs_b0', 0)}, acc1 AS (
  SELECT d.doc_id FROM d1 d LEFT JOIN agg1 a ON a.delta_id = d.doc_id
  WHERE NOT coalesce(a.maxj >= {_THRESH}, false)
), long_i AS (
  SELECT doc_id, band_idx, band_key FROM long_b0
  UNION ALL
  SELECT l.doc_id, l.band_idx, l.band_key
  FROM long_d1 l JOIN acc1 a ON a.doc_id = l.doc_id
), shs_i AS (
  SELECT doc_id, sh FROM shs_b0
  UNION ALL
  SELECT s.doc_id, s.sh FROM shs_d1 s JOIN acc1 a ON a.doc_id = s.doc_id
), {verdicts('2', 'd2', 'long_i', 'shs_i', 1)}
SELECT * FROM out1 UNION ALL SELECT * FROM out2
"""


TEXTOPS_QUERIES["incremental_lsh_append"] = (
    q_incremental_lsh_append,
    _o_incremental_lsh_append(),
)


# -- 36. character-concentration junk signal ------------------------------------

def q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson/collision character-concentration (the gate-exact stand-in
    for character entropy; textops/quality.char_diversity) with injected
    junk docs — every 11th doc re-enters (under a negative id) as an 'aaaa...' run,
    which must score simpson_permille = top_char_permille = 1000."""
    from mysql_log_parser_spark.textops.quality import char_diversity

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # junk ids are NEGATIVE (-(id+1)): structurally collision-free with any
    # non-negative corpus id, so the oracle's per-doc_id grouping is
    # guaranteed to equal the kernel's per-row scoring.
    junk = d.where(F.col("doc_id") % 11 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.repeat(F.lit("a"), 64).alias("text"),
    )
    return char_diversity(d.unionByName(junk))


O_CHAR_DIVERSITY = """
WITH c AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1), repeat('a', 64) FROM documents WHERE doc_id % 11 = 0
), ch AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM c
), freq AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS distinct_chars,
         CAST(sum(cnt * cnt) AS BIGINT) AS sq, CAST(max(cnt) AS BIGINT) AS mx
  FROM freq GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(a.n, 0) AS n_chars,
       coalesce(a.distinct_chars, 0) AS distinct_chars,
       coalesce((1000 * a.sq) // (a.n * a.n), 0) AS simpson_permille,
       coalesce((1000 * a.mx) // a.n, 0) AS top_char_permille
FROM c LEFT JOIN agg a ON a.doc_id = c.doc_id
"""

TEXTOPS_QUERIES["char_diversity"] = (q_char_diversity, O_CHAR_DIVERSITY)


# -- 37. per-source quality-percentile calibration ------------------------------


def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-top-X%-per-source selection (textops/sampling.
    calibrate_per_source): each doc's quality score (floor-permille of the
    [0,1] heuristic the quality_filter gate already replays) is ranked
    against ITS SOURCE's score distribution via the bounded
    per-(source, score) histogram — one small groupBy, a window over the
    histogram rows only, a broadcast join back; never a per-doc window
    partitioned by source (an entire source in one WindowExec partition
    is the skew trap).  keep = top ~20% of each source."""
    from mysql_log_parser_spark.textops.quality import quality_score
    from mysql_log_parser_spark.textops.sampling import calibrate_per_source

    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id",
        "source",
        F.floor(quality_score(F.col("text")) * 1000).cast("long").alias("score"),
    )
    return calibrate_per_source(scored, cut_permille=800)


O_QUALITY_CALIBRATE = f"""
WITH w AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS words
  FROM documents
), f AS (
  SELECT doc_id, source,
         CAST(len(words) AS DOUBLE) AS n_words,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text) AS punct_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS digit_ratio,
         len(list_filter(words, x -> list_contains({_ALL_SW}, x))) / len(words) AS stopword_ratio
  FROM w
), s AS (
  SELECT doc_id, source,
         CAST(floor((0.4 * least(n_words / 100.0, 1.0)
                   + 0.3 * greatest(0.0, 1.0 - 2.0 * (punct_ratio + digit_ratio))
                   + 0.3 * least(1.0, 4.0 * stopword_ratio)) * 1000) AS BIGINT) AS score
  FROM f
), h AS (
  SELECT source, score, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY source, score
), c AS (
  SELECT source, score,
         CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
         CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS tot
  FROM h
)
SELECT s.doc_id, s.source, s.score,
       (1000 * c.below) // c.tot AS pct_permille,
       (1000 * c.below) // c.tot >= 800 AS keep
FROM s JOIN c ON c.source = s.source AND c.score = s.score
"""

TEXTOPS_QUERIES["quality_calibrate"] = (q_quality_calibrate, O_QUALITY_CALIBRATE)


# -- 38. exact sequence dedup over the tokens contract ---------------------------


def q_dedup_exact_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the TOKEN SEQUENCE (BASELINE.json input_hint:
    post-tokenization corpora often carry no text column at all, so the
    content key must come from `tokens array<int32>` itself): md5 over the
    comma-joined ids -> one hash-groupBy -> dup groups.  Same O(N)
    hash-shuffle shape as the text-keyed `dedup_exact`; the key expression
    is a single fold referenced once (HOF-no-CSE discipline).  Injected
    copies use the negative-id scheme, so keep_id = max(doc_id) always
    selects the positive original."""
    from mysql_log_parser_spark import entry_queries as EQ

    d = _docs(spark, sf_dir).select(
        "doc_id", EQ.encode_tokens("text").alias("tokens")
    )
    dup = d.where(F.col("doc_id") % 9 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "tokens"
    )
    corpus = d.unionByName(dup)
    key = F.md5(
        F.concat_ws(",", F.transform("tokens", lambda t: t.cast("string")))
    )
    return (
        corpus.select(key.alias("seq_hash"), "doc_id")
        .groupBy("seq_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.max("doc_id").cast("long").alias("keep_id"),
        )
        .where(F.col("dup_count") > 1)
    )


O_DEDUP_EXACT_TOKENS = """
WITH t AS (
  SELECT doc_id,
         array_to_string(list_transform(
           list_filter(string_split(text, ''), c -> c != ''),
           c -> CAST(unicode(c) AS VARCHAR)), ',') AS seq
  FROM documents
), d AS (
  SELECT doc_id, seq FROM t
  UNION ALL
  SELECT -(doc_id + 1), seq FROM t WHERE doc_id % 9 = 0
)
SELECT md5(seq) AS seq_hash,
       CAST(count(*) AS BIGINT) AS dup_count,
       CAST(max(doc_id) AS BIGINT) AS keep_id
FROM d GROUP BY seq HAVING count(*) > 1
"""

TEXTOPS_QUERIES["dedup_exact_tokens"] = (q_dedup_exact_tokens, O_DEDUP_EXACT_TOKENS)
