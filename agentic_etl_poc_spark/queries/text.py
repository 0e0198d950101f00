"""Text-analysis battery over ``documents`` — LLM-pipeline preprocessing ops.

All scores are built from exact integer counts (regex/token arithmetic)
combined in a FIXED order of double operations, so both engines agree
bit-for-bit.  Token work happens array-side (split once, fold in place) —
no explode/shuffle for per-document statistics.

Note on the synthetic corpus: all five ``lang`` values share one
vocabulary, so the language-ID heuristic legitimately scores everything
as English — what the oracle checks is that the operator computes the
same profile scores and argmax on both engines, which is the operator
contract (the stopword tables are swappable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agentic_etl_poc_spark.functions.hashing import duck_md5_48
from agentic_etl_poc_spark.io_tables import table
from agentic_etl_poc_spark.operators.multimodal import (
    PAYLOAD_SCHEMA,
    _pnm_raster,
    _wav_pcm16,
    attach_binary_payload,
    audio_features,
    audio_resample,
    frame_sample,
    image_center_crop,
    image_features,
    image_resize,
    shot_detect,
    vad_segments,
)
from agentic_etl_poc_spark.operators.transform import map_rows
from agentic_etl_poc_spark.queries.core import register

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "les", "des", "et", "une", "pour"),
    "de": ("der", "die", "und", "das", "ein", "zu"),
}


def _duck_count_in(words: str, vals: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{v}'" for v in vals)
    return (
        f"list_sum(list_transform({words}, "
        f"w -> CASE WHEN w IN ({lst}) THEN 1 ELSE 0 END))"
    )


def _spark_count_in(words, vals: tuple[str, ...]):
    arr = F.array(*[F.lit(v) for v in vals])
    return F.aggregate(
        F.transform(words, lambda w: F.array_contains(arr, w).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )


@register(
    "t01_token_stats",
    oracle="""
WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS words, text
           FROM documents)
SELECT doc_id, lang, source,
  CAST(len(words) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
    / len(words) AS avg_token_len,
  CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS type_token_ratio,
  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_regex_tokens
FROM w
ORDER BY doc_id
""",
    description="Per-document token statistics: whitespace tokens, distinct "
    "tokens, type-token ratio, regex (BPE-ish pre-tokenizer) token count — "
    "all computed array-side, no shuffle.",
)
def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    total_len = F.aggregate(
        F.transform(words, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.size(words).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_distinct"),
        F.length("text").cast("bigint").alias("n_chars"),
        (total_len.cast("double") / F.size(words)).alias("avg_token_len"),
        (F.size(F.array_distinct(words)).cast("double") / F.size(words)).alias(
            "type_token_ratio"
        ),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
        .cast("bigint")
        .alias("n_regex_tokens"),
    ).orderBy("doc_id")


@register(
    "t02_quality_score",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words, text FROM documents),
c AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_tokens,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(length(text) - length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT)
      AS n_nonalpha,
    CAST({_duck_count_in('words', STOPWORDS['en'])} AS BIGINT) AS n_stop
  FROM w
)
SELECT doc_id, n_tokens, n_chars, n_nonalpha, n_stop,
  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
  CAST(n_nonalpha AS DOUBLE) / n_chars AS nonalpha_ratio,
  0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
    + 0.3 * (1.0 - CAST(n_nonalpha AS DOUBLE) / n_chars)
    + 0.2 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
    AS quality_score,
  CASE WHEN n_tokens < 5 THEN 'too_short'
       WHEN CAST(n_nonalpha AS DOUBLE) / n_chars > 0.3 THEN 'noisy'
       ELSE 'ok' END AS quality_flag
FROM c
ORDER BY doc_id
""",
    description="Heuristic quality scoring (stopword ratio, non-alpha "
    "ratio, length band) — the classic pretraining-corpus filter, as exact "
    "integer counts combined in a fixed double formula.",
)
def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    n_nonalpha = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "[a-z ]", ""))
    ).cast("bigint")
    n_stop = _spark_count_in(words, STOPWORDS["en"]).cast("bigint")
    stop_ratio = n_stop.cast("double") / n_tokens
    nonalpha_ratio = n_nonalpha.cast("double") / n_chars
    score = (
        F.lit(0.5) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - nonalpha_ratio)
        + F.lit(0.2)
        * F.when((n_tokens >= 20) & (n_tokens <= 1000), 1.0).otherwise(0.0)
    )
    flag = (
        F.when(n_tokens < 5, "too_short")
        .when(nonalpha_ratio > 0.3, "noisy")
        .otherwise("ok")
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        n_nonalpha.alias("n_nonalpha"),
        n_stop.alias("n_stop"),
        stop_ratio.alias("stop_ratio"),
        nonalpha_ratio.alias("nonalpha_ratio"),
        score.alias("quality_score"),
        flag.alias("quality_flag"),
    ).orderBy("doc_id")


def _duck_lang_scores() -> str:
    cols = []
    for lang, stops in STOPWORDS.items():
        cols.append(
            f"CAST({_duck_count_in('words', stops)} AS DOUBLE) / len(words) AS s_{lang}"
        )
    return ",\n    ".join(cols)


@register(
    "t03_langid",
    oracle=f"""
WITH w AS (SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS words
           FROM documents),
s AS (
  SELECT doc_id, labeled_lang,
    {_duck_lang_scores()}
  FROM w
)
SELECT doc_id, labeled_lang, s_en, s_es, s_fr, s_de,
  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
       WHEN s_fr >= s_de THEN 'fr'
       ELSE 'de' END AS predicted_lang
FROM s
ORDER BY doc_id
""",
    description="Stopword-profile language ID: per-language hit ratios, "
    "deterministic argmax with fixed tie order (en>es>fr>de).",
)
def t03_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    scores = {
        lang: (
            _spark_count_in(words, stops).cast("double") / F.size(words)
        ).alias(f"s_{lang}")
        for lang, stops in STOPWORDS.items()
    }
    base = d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), *scores.values()
    )
    s = {lang: F.col(f"s_{lang}") for lang in STOPWORDS}
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]), "en"
        )
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]), "es")
        .when(s["fr"] >= s["de"], "fr")
        .otherwise("de")
    )
    return base.withColumn("predicted_lang", predicted).orderBy("doc_id")


_RK_B = 257
_RK_M = 2147483647  # 2^31 - 1


@register(
    "t04_fingerprint",
    oracle=f"""
WITH codes AS (
  SELECT doc_id, length(text) AS n,
         list_transform(string_split_regex(text, ''),
                        c -> CAST(ascii(c) AS BIGINT)) AS cs
  FROM documents
)
SELECT doc_id,
  CASE WHEN n >= 4 THEN
    list_min(list_transform(range(1, n - 2),
      i -> (cs[i] * {_RK_B ** 3} + cs[i + 1] * {_RK_B ** 2}
          + cs[i + 2] * {_RK_B} + cs[i + 3]) % {_RK_M}))
  ELSE NULL END AS fingerprint,
  CAST(n AS BIGINT) AS n_chars
FROM codes
ORDER BY doc_id
""",
    description="Rolling-hash (Rabin-Karp polynomial, base 257 mod 2^31-1) "
    "char-4-gram min fingerprint: robust to small edits, exact integer "
    "arithmetic.  Char codes are materialized ONCE per document (substr "
    "at position i is O(i) on UTF-8, so hashing via per-position substr "
    "would be quadratic), then each window is four O(1) array lookups — "
    "linear per byte, which matters when 100 TB passes through it.",
)
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("bigint"))
    d = d.select("doc_id", F.length(text).alias("n"), codes.alias("cs"))

    # The 4 staggered windows as zip_with over slices of the pre-projected
    # code array — same interpreted-HOF-avoidance as spark_grams: one
    # multiply-add per element instead of 4 element_at lambda evals per
    # position.
    def sl(off):
        return F.slice(F.col("cs"), off, F.col("n") - 3)

    hi = F.zip_with(sl(1), sl(2), lambda x, y: x * (_RK_B**3) + y * (_RK_B**2))
    lo = F.zip_with(sl(3), sl(4), lambda x, y: x * _RK_B + y)
    fp = F.when(
        F.col("n") >= 4,
        F.array_min(F.zip_with(hi, lo, lambda u, v: (u + v) % _RK_M)),
    ).otherwise(F.lit(None).cast("bigint"))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.col("n").cast("bigint").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "m01_multimodal_metadata",
    oracle="""
SELECT doc_id,
  octet_length(encode(text)) AS payload_bytes,
  md5(text) AS payload_md5,
  to_base64(encode(substr(text, 1, 8))) AS head_b64,
  'text/plain' AS mime,
  CASE WHEN octet_length(encode(text)) > 1024 THEN 'large' ELSE 'small' END
    AS size_class
FROM documents
ORDER BY doc_id
""",
    description="Multimodal-column plumbing: treat payloads as opaque "
    "binary + typed metadata (bytes, digest, head preview, mime, size "
    "class).  The same schema/partitioning carries image/audio blobs; "
    "decode/feature-extract runs as Arrow-batched pandas UDFs "
    "(operators/multimodal.py — decode stubbed, plumbing real).",
)
def m01_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("payload_bytes"),
        F.md5(F.col("text")).alias("payload_md5"),
        F.base64(F.encode(F.substring("text", 1, 8), "UTF-8")).alias("head_b64"),
        F.lit("text/plain").alias("mime"),
        F.when(F.octet_length(payload) > 1024, "large")
        .otherwise("small")
        .alias("size_class"),
    ).orderBy("doc_id")


@register(
    "t05_pandas_tokens",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
SELECT doc_id,
  CAST(len(words) AS BIGINT) AS n_tokens,
  CAST(list_max(list_transform(words, x -> length(x))) AS BIGINT)
    AS max_token_len,
  CAST(list_sum(list_transform(words,
       x -> CASE WHEN length(x) >= 8 THEN 1 ELSE 0 END)) AS BIGINT)
    AS n_long_tokens
FROM w
ORDER BY doc_id
""",
    description="Vectorized Pandas-UDF tokenizer (Arrow batches, pandas str "
    "ops) — the documented Python escape hatch (SURVEY §2.6), proven "
    "against the same statistics computed in pure SQL by the oracle.  "
    "Integer outputs only, so the Python path hash-matches exactly.",
)
def t05_pandas_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_tokens bigint, max_token_len bigint, n_long_tokens bigint")
    def token_stats(text: pd.Series) -> pd.DataFrame:
        toks = text.str.split(" ")
        # explode + groupby(level=0) keeps everything in vectorized pandas
        # ops (no per-row Python lambdas inside the Arrow batch)
        flat = toks.explode()
        lens = flat.str.len()
        g = lens.groupby(level=0)
        return pd.DataFrame(
            {
                "n_tokens": g.size().astype("int64"),
                "max_token_len": g.max().astype("int64"),
                "n_long_tokens": (lens >= 8).groupby(level=0).sum().astype("int64"),
            }
        )

    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", token_stats(F.col("text")).alias("s"))
        .select("doc_id", "s.n_tokens", "s.max_token_len", "s.n_long_tokens")
        .orderBy("doc_id")
    )


@register(
    "t06_boilerplate_ratio",
    oracle="""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i + 1]))) AS gram
  FROM documents
),
df AS (SELECT gram, COUNT(*) AS doc_freq FROM g GROUP BY gram),
scored AS (
  SELECT g.doc_id,
         COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN df.doc_freq > 50 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_common
  FROM g JOIN df ON g.gram = df.gram
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_common,
       CAST(n_common * 1000000 // n_grams AS BIGINT) AS common_ppm,
       CASE WHEN n_common * 10 > n_grams * 9
            THEN 'templated' ELSE 'ok' END AS flag
FROM scored
ORDER BY doc_id
""",
    description="Boilerplate/templated-ness detection: share of a doc's "
    "distinct word-bigrams that are corpus-common (doc-frequency > 50) — "
    "the shingle-frequency analogue of repeated-line boilerplate removal "
    "in pretraining pipelines.  The doc-frequency aggregation shuffles "
    "only map-side partials, and the scoring join BROADCASTS the "
    "common-gram MINORITY (df > 50 bounds it: at most n_grams/50 such "
    "grams, and Heaps-law sublinear vocabulary growth keeps the real set "
    "far smaller) — the gram table itself is never shuffled on gram for "
    "scoring, so the big frame shuffles exactly once, on doc_id, with "
    "map-side partial aggregation.  tests/test_plan_shapes.py pins the "
    "broadcast.  The ratio is emitted as integer parts-per-million "
    "(integer DIV) and the flag compares integers — no raw double leaves "
    "the query, so no downstream canonicalizer can drift (r2 driver "
    "hash-red on the double despite bit-exact local replicas).",
)
def t06_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.queries.dedup import spark_grams

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    g = spark_grams(d)
    common = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") > 50)
        .select("gram", F.lit(1).alias("is_common"))
    )
    scored = (
        g.join(F.broadcast(common), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_common"), F.lit(0))).alias("n_common"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_common",
        F.expr("CAST(n_common * 1000000 DIV n_grams AS BIGINT)").alias(
            "common_ppm"
        ),
        F.when(F.col("n_common") * 10 > F.col("n_grams") * 9, "templated")
        .otherwise("ok")
        .alias("flag"),
    ).orderBy("doc_id")


_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+1-[0-9]{3}-[0-9]{4}"


@register(
    "t07_pii_scan_redact",
    oracle=f"""
WITH decorated AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +1-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
  md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                     '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
FROM decorated
ORDER BY doc_id
""",
    description="PII scan + redaction: regex counts of email/phone "
    "patterns and the md5 of the redacted text (the scrubber's output "
    "contract, hash-verified).  PII is injected deterministically "
    "in-query — same construction both engines — because the synthetic "
    "corpus contains none.  Pure JVM regex map-side; no shuffle.",
)
def t07_pii_scan_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    decorated = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    t = d.select("doc_id", decorated.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    # F.regexp_extract_all with lit patterns: no SQL-string escaping layer
    # to eat the backslash in \+ (F.expr would need double-escaping).
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "t08_train_test_split",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, lang,
    CASE WHEN {duck_md5_48("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         WHEN {duck_md5_48("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM assigned
GROUP BY lang, split
ORDER BY lang, split
""",
    description="Deterministic train/val/test split (80/10/10) by hashing "
    "the document id — the reproducible-split primitive every training "
    "pipeline needs.  Hash-based assignment (not TABLESAMPLE/rand(), which "
    "are engine- and run-dependent) keeps the split stable across engines, "
    "runs, and re-partitioning; map-side, no shuffle until the audit "
    "aggregation.",
)
def t08_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.functions.hashing import md5_48

    d = table(spark, sf_dir, "documents")
    bucket = md5_48(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang", "split")
    )


@register(
    "t09_corpus_stats",
    oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
freq AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word)
SELECT word, n,
       CAST(SUM(n) OVER () AS BIGINT) AS total_tokens,
       CAST((SELECT COUNT(*) FROM freq) AS BIGINT) AS vocab_size
FROM freq
ORDER BY n DESC, word ASC
LIMIT 20
""",
    description="Corpus-level token statistics: top-20 vocabulary by "
    "frequency with total-token and vocab-size context — the "
    "tokenizer-training / corpus-audit aggregate.  Explode + groupBy(word) "
    "is one shuffle of (word, partial-count) pairs thanks to map-side "
    "combine; the top-20 is TakeOrdered, not a global sort.",
)
def t09_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    totals = freq.agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )
    return (
        freq.crossJoin(F.broadcast(totals))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@register(
    "t10_source_mixture",
    oracle=f"""
WITH weighted AS (
  SELECT doc_id, source,
    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 100
         WHEN source IN ('src5','src6','src7','src8','src9') THEN 50
         ELSE 25 END AS keep_pct,
    {duck_md5_48("'mix-' || CAST(doc_id AS VARCHAR)")} % 100 AS h
  FROM documents
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN h < keep_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN h < keep_pct THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS kept_frac
FROM weighted
GROUP BY source
ORDER BY source
""",
    description="Deterministic data-mixture sampling: per-source keep "
    "rates (100%/50%/25% tiers) applied via hash-threshold on doc_id — "
    "the corpus-mixing step of a pretraining pipeline, reproducible "
    "across engines and runs (unlike rand()-based sampling).  Map-side "
    "decision; the audit aggregation is the only shuffle.",
)
def t10_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.functions.hashing import md5_48

    d = table(spark, sf_dir, "documents")
    tier1 = [f"src{i}" for i in range(5)]
    tier2 = [f"src{i}" for i in range(5, 10)]
    keep_pct = (
        F.when(F.col("source").isin(tier1), 100)
        .when(F.col("source").isin(tier2), 50)
        .otherwise(25)
    )
    h = md5_48(F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))) % 100
    kept = F.when(h < keep_pct, 1).otherwise(0)
    return (
        d.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.sum("kept").cast("double") / F.count(F.lit(1))).alias(
                "kept_frac"
            ),
        )
        .orderBy("source")
    )


@register(
    "m02_frame_fingerprints",
    oracle="""
WITH f AS (
  SELECT doc_id, text,
         greatest(length(text) // 4, 1) AS step
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id AS item_id,
       CAST(i AS INT) AS frame_idx,
       md5(substr(text, i * step + 1, step)) AS frame_md5
FROM f CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
ORDER BY item_id, frame_idx
""",
    description="Multimodal frame sampling, hash-verified end to end: the "
    "Arrow-batched mapInPandas kernel (operators/multimodal.py::"
    "frame_sample — 1 payload in, 4 fingerprinted frames out) against a "
    "pure-SQL oracle slicing the same bytes.  Proves the Python-kernel "
    "PLUMBING (schema, batching, row explosion) byte-exactly, not just "
    "row counts — the contract a real video decoder would slot into.",
)
def m02_frame_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    frames = frame_sample(attach_binary_payload(d), n_frames=4, fake=True)
    return frames.orderBy("item_id", "frame_idx")


@register(
    "m03_audio_decode",
    oracle="""
SELECT doc_id AS item_id,
       CAST(44 + 2 * (100 + doc_id % 200) AS BIGINT) AS payload_bytes,
       CAST(100 + doc_id % 200 AS DOUBLE)
         / ([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1])
         AS duration_sec,
       CAST([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1]
            AS INT) AS sample_rate,
       CAST((doc_id * 37) % 32768 AS DOUBLE) / 32768 AS rms
FROM documents WHERE doc_id % 7 = 0
ORDER BY item_id
""",
    description="Real audio codec round-trip, hash-verified: Spark "
    "synthesizes a PCM16 WAV container per item (RIFF header + square "
    "wave whose rate/length/amplitude are integer functions of doc_id), "
    "decodes it with the real byte-level RIFF parser "
    "(operators/multimodal.py::_decode_audio_real — chunk walk, fmt "
    "block, sample decode, rms), and the oracle computes the same "
    "features ARITHMETICALLY — agreement proves the codec path, not "
    "just plumbing.  Exactness by construction: every sample has the "
    "same magnitude amp=(doc_id*37)%32768, so rms = amp/32768 via "
    "power-of-two divisions and a correctly-rounded sqrt of an exact "
    "square; duration is one double division of identical integers in "
    "both engines.  Scale shape: synthesis and decode are both "
    "Arrow-batched mapInPandas, map-only, no shuffle.",
)
def m03_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )

    def synth(i):
        amp = (i * 37) % 32768
        samples = np.empty(100 + i % 200, dtype="<i2")
        samples[0::2] = amp
        samples[1::2] = -amp
        yield i, _wav_pcm16(samples, (8000, 16000, 22050, 44100)[i % 4])

    payloads = map_rows(d, synth, PAYLOAD_SCHEMA)
    return audio_features(payloads).orderBy("item_id")


@register(
    "m04_image_decode",
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + CAST(doc_id % 13 AS INT) AS w,
         3 + CAST(doc_id % 7 AS INT) AS h,
         (doc_id * 31) % 256 AS v
  FROM documents WHERE doc_id % 5 = 0
)
SELECT doc_id AS item_id,
       CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
            + w * h AS BIGINT) AS payload_bytes,
       w AS width,
       h AS height,
       CAST(1 AS INT) AS n_channels,
       CAST(v AS DOUBLE) / 255 AS mean_luma
FROM g
ORDER BY item_id
""",
    description="Real image codec round-trip, hash-verified: Spark "
    "synthesizes a P5 (grayscale PNM) image per item — dimensions and "
    "constant pixel value integer functions of doc_id — decodes it with "
    "the real byte-level PNM parser (operators/multimodal.py::"
    "_decode_image_real — header tokenizer, raster read, mean luma) and "
    "the oracle computes the same features arithmetically.  Exactness: "
    "all pixels share one integer value v, so the raster mean is exact "
    "in float64 (integer-valued partial sums < 2^53, final division "
    "returns the representable v) and mean_luma = v/255 is one double "
    "division of identical integers in both engines.  Map-only "
    "mapInPandas both ways; no shuffle.",
)
def m04_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )

    def synth(i):
        w, h, v = 4 + i % 13, 3 + i % 7, (i * 31) % 256
        yield i, b"P5\n%d %d\n255\n" % (w, h) + bytes([v]) * (w * h)

    payloads = map_rows(d, synth, PAYLOAD_SCHEMA)
    return image_features(payloads).orderBy("item_id")


@register(
    "t11_repetition_score",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
tt AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_tok_cnt,
              CAST(SUM(c) AS BIGINT) AS n_tokens
       FROM tc GROUP BY doc_id),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i + 1])) AS bg
  FROM w
),
bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
bt AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_cnt,
              CAST(SUM(c) AS BIGINT) AS n_bigrams
       FROM bc GROUP BY doc_id)
SELECT tt.doc_id, n_tokens,
       CAST(top_tok_cnt AS DOUBLE) / n_tokens AS top_token_frac,
       CAST(top_bigram_cnt AS DOUBLE) / n_bigrams AS top_bigram_frac,
       (top_tok_cnt * 5 >= n_tokens) AS repetitive
FROM tt JOIN bt ON tt.doc_id = bt.doc_id
ORDER BY tt.doc_id
""",
    description="Repetition quality filter (the Gopher/C4-style rule): "
    "fraction of tokens taken by the single most frequent token and "
    "bigram; a doc whose top token is >=20% of all tokens is flagged "
    "(flag computed in exact int math, top*5 >= n, so the threshold "
    "cannot float-drift).  Shape: explode -> count per (doc, gram) -> "
    "max per doc — two map-side-combinable shuffles keyed by doc, no "
    "self-joins; this is how the rule runs over a 100 TB corpus.",
)
def t11_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    n = F.size(F.col("ws"))
    bigrams = F.zip_with(
        F.slice(F.col("ws"), 1, n - 1),
        F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tok_counts = (
        d.select("doc_id", F.explode("ws").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tt = tok_counts.groupBy("doc_id").agg(
        F.max("c").alias("top_tok_cnt"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    big_counts = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bt = big_counts.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_cnt"),
        F.sum("c").cast("bigint").alias("n_bigrams"),
    )
    return (
        tt.join(bt, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("top_tok_cnt").cast("double") / F.col("n_tokens")).alias(
                "top_token_frac"
            ),
            (
                F.col("top_bigram_cnt").cast("double") / F.col("n_bigrams")
            ).alias("top_bigram_frac"),
            (F.col("top_tok_cnt") * 5 >= F.col("n_tokens")).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "t12_length_deciles",
    oracle="""
WITH ranked AS (
  SELECT doc_id, n_chars,
         ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM ranked
GROUP BY decile
ORDER BY decile
""",
    description="Corpus length-decile audit: ntile(10) over the total "
    "order (n_chars, doc_id) then per-decile stats — the curation view "
    "behind 'drop the shortest X%' rules.  Scale note: global ntile is a "
    "single-partition window, exact and fine for an audit TABLE of 10 "
    "output rows at battery scale, but at 100 TB the cutpoints come from "
    "approxQuantile (one pass, mergeable sketches) broadcast back as a "
    "range join — the rest of the query is unchanged.",
)
def t12_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.orderBy("n_chars", "doc_id")
    return (
        d.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("decile")
    )


@register(
    "t13_vocab_by_source",
    oracle="""
WITH tok AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab,
       CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS vocab_ratio
FROM tok
GROUP BY source
ORDER BY source
""",
    description="Vocabulary growth per source (the Heaps-law audit behind "
    "source-mixture decisions: a source whose vocab/token ratio is "
    "near-zero is template spam).  One explode + one groupBy(source) with "
    "two DISTINCT aggregates — Spark plans the multi-distinct via Expand "
    "with map-side partial aggregation, still a single shuffle family "
    "keyed on (source, token/doc).",
)
def t13_vocab_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source", "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return (
        tok.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("vocab"),
            (F.countDistinct("tok").cast("double") / F.count(F.lit(1))).alias(
                "vocab_ratio"
            ),
        )
        .orderBy("source")
    )


@register(
    "t14_tfidf_keywords",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id < 100
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
""",
    description="TF-IDF keyword extraction: term frequency per (doc, term), "
    "document frequency per term, idf = N/df (RAW inverse document "
    "frequency, not ln(N/df): Java's Math.log and DuckDB's libm ln "
    "disagree in the final ulp for some inputs, which flips hash-matches "
    "and can even flip near-tie rankings — tf*N/df is integer math plus "
    "one correctly-rounded division, bit-identical by construction), "
    "top-3 terms per doc.  "
    "The idf factor is computed once PER TERM (not per occurrence) and "
    "joined back — at 100 TB the df table is the small side and "
    "broadcasts, so the big frame shuffles exactly twice (doc-term "
    "counts, per-doc top-k via WindowGroupLimit).  Doubles are safe "
    "cross-engine here: tf*ln(N/df) is the same two IEEE ops on the same "
    "inputs in both engines, and ranking ties break on the term.",
)
def t14_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tok.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .orderBy("doc_id", "rk")
    )


#: t17 chunk width (words per non-overlapping chunk).  C4 removes
#: repeated three-sentence spans; on the word-soup corpus a 5-word
#: chunk is the analogous unit.
CHUNK_W = 5


@register(
    "t17_chunk_dedup",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
ch AS (
  SELECT doc_id, pos,
         array_to_string(words[(pos - 1) * {CHUNK_W} + 1 : pos * {CHUNK_W}], ' ')
           AS chunk
  FROM (
    SELECT doc_id, words,
           unnest(range(1, n_tokens // {CHUNK_W} + 1)) AS pos
    FROM w
  )
),
ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM ch
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
  FROM ranked GROUP BY doc_id
)
SELECT d.doc_id, p.n_chunks, p.n_removed,
       CAST(p.n_removed * {CHUNK_W} AS BIGINT) AS tokens_removed
FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
""",
    description="Cross-document chunk deduplication (the C4 repeated-"
    f"span rule): every non-overlapping {CHUNK_W}-word chunk is kept "
    "only at its globally FIRST occurrence (ordered by doc_id, then "
    "position) and counted as removed everywhere else; per-doc output "
    "reports chunks, removals, and tokens removed.  Scale shape: the "
    "first-occurrence computation is a map-side-combinable "
    "min_by(struct(doc_id,pos)) aggregation on chunk + an equi-join "
    "back — NOT a per-chunk window sort — so the corpus shuffles once "
    "on chunk with partial aggregation and once on doc_id.  (The "
    "oracle states the same semantics as rn=1 of a window.)",
)
def t17_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_chunks_expr = (F.size(words) / CHUNK_W).cast("long")
    # docs shorter than one chunk yield no chunks; without this filter
    # sequence(1, 0) DESCENDS ([1, 0]) and fabricates a bogus chunk
    d = d.filter(F.size(words) >= CHUNK_W)
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_chunks_expr),
                lambda i: F.concat_ws(
                    " ", F.slice(words, (i - F.lit(1)) * CHUNK_W + 1, CHUNK_W)
                ),
            )
        ).alias("pos0", "chunk"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "chunk")
    firsts = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    flagged = chunks.join(firsts, "chunk").select(
        "doc_id",
        (
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        ).cast("long").alias("removed"),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("removed").cast("bigint").alias("n_removed"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_chunks",
            "n_removed",
            (F.col("n_removed") * CHUNK_W).cast("bigint").alias("tokens_removed"),
        )
        .orderBy("doc_id")
    )


#: t18 sliding-window chunking: width/stride in words (50% overlap — the
#: standard RAG ingestion shape; the ratio is a knob, not a design choice).
SLIDE_W = 8
SLIDE_S = 4


@register(
    "t18_sliding_chunks",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
k AS (
  SELECT doc_id, words, n_tokens,
         CASE WHEN n_tokens > {SLIDE_W}
              THEN (n_tokens - {SLIDE_W} + {SLIDE_S} - 1) // {SLIDE_S} + 1
              ELSE 1 END AS n_chunks
  FROM w
),
ch AS (
  SELECT doc_id, idx,
         (idx - 1) * {SLIDE_S} + 1 AS start_tok,
         LEAST({SLIDE_W}, n_tokens - ((idx - 1) * {SLIDE_S} + 1) + 1)
           AS n_tok,
         md5(array_to_string(
           words[(idx - 1) * {SLIDE_S} + 1 :
                 (idx - 1) * {SLIDE_S} + {SLIDE_W}], ' ')) AS chunk_md5
  FROM (SELECT doc_id, words, n_tokens,
               unnest(range(1, n_chunks + 1)) AS idx
        FROM k)
)
SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(n_tok AS BIGINT) AS n_tok, chunk_md5
FROM ch
ORDER BY doc_id, chunk_idx
""",
    description="Sliding-window document chunking (width 8, stride 4 — "
    "50% overlap), the RAG/embedding ingestion shape t17's non-"
    "overlapping C4 rule does not cover: every token is covered, the "
    "last window is allowed to be short, sub-width docs yield one whole-"
    "doc chunk, and each chunk ships a content fingerprint (md5 of the "
    "joined words) for downstream chunk-level dedup.  Scale shape: pure "
    "per-row expression work (sequence + transform + posexplode) — no "
    "shuffle at all before the output sort; chunk count per doc is "
    "ceil((n-W)/S)+1, derived, never capped.  The window arithmetic is "
    "exact integer on both engines.",
)
def t18_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    n_chunks = F.when(
        n > SLIDE_W,
        F.floor((n - SLIDE_W + SLIDE_S - 1) / SLIDE_S).cast("long") + 1,
    ).otherwise(F.lit(1))
    base = d.select("doc_id", words.alias("words"), n_chunks.alias("k"))
    chunks = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("k")),
                lambda i: F.struct(
                    ((i - 1) * SLIDE_S + 1).cast("long").alias("start_tok"),
                    F.least(
                        F.lit(SLIDE_W),
                        F.size(F.col("words")) - ((i - 1) * SLIDE_S + 1) + 1,
                    ).cast("long").alias("n_tok"),
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.slice(F.col("words"), (i - 1) * SLIDE_S + 1, SLIDE_W),
                        )
                    ).alias("chunk_md5"),
                ),
            )
        ).alias("pos0", "c"),
    )
    return chunks.select(
        "doc_id",
        (F.col("pos0") + 1).cast("bigint").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.n_tok").alias("n_tok"),
        F.col("c.chunk_md5").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "t19_token_rarity",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
ctf AS (SELECT term, COUNT(*) AS ctf FROM tok GROUP BY term),
per_doc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(f.ctf) AS BIGINT) AS sum_ctf
  FROM tok t JOIN ctf f ON t.term = f.term
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, sum_ctf,
       CAST(sum_ctf * 1000 // n_tokens AS BIGINT) AS mean_ctf_milli,
       CAST(NTILE(10) OVER (ORDER BY sum_ctf * 1000 // n_tokens, doc_id)
            AS BIGINT) AS rarity_decile
FROM per_doc
ORDER BY doc_id
""",
    description="Unigram-LM quality proxy (log-free): each document is "
    "scored by the mean CORPUS frequency of its tokens — the rational "
    "equivalent of average unigram log-likelihood (sum of collection term "
    "frequencies instead of sum of logs, because transcendental functions "
    "are not cross-engine bit-stable).  Docs in the low deciles use "
    "vocabulary the corpus has barely seen (OCR noise, gibberish, wrong "
    "language); the high deciles are template spam — both ends are what a "
    "perplexity filter trims before training.  Scale shape: the collection "
    "term-frequency table is Heaps-law bounded (vocab grows ~sqrt(corpus)) "
    "so it BROADCASTS back onto the exploded tokens; the big frame "
    "shuffles twice (term tf agg, per-doc re-agg), both map-side-"
    "combinable.  The global NTILE runs over one row per document for "
    "deterministic decile labels; at 100 TB the label step swaps to "
    "approx-quantile thresholds + broadcast join without touching the "
    "scoring plan.  All arithmetic is integer (milli-units via integer "
    "division), so the driver hash is safe by construction.",
)
def t19_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    ctf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    per_doc = (
        tok.join(F.broadcast(ctf), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("ctf").cast("bigint").alias("sum_ctf"),
        )
    )
    mean_milli = F.expr("sum_ctf * 1000 div n_tokens")
    w = Window.orderBy(mean_milli, F.col("doc_id"))
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            "sum_ctf",
            mean_milli.cast("bigint").alias("mean_ctf_milli"),
        )
        .withColumn("rarity_decile", F.ntile(10).over(w).cast("bigint"))
        .orderBy("doc_id")
    )


#: t20 epoch tiers: docs whose type-token ratio (milli) is at or below
#: these bounds train for 3 / 2 epochs; everything else for 1.  On the
#: word-soup corpus TTR quartiles are ~361/461/600, so the tiers split
#: the corpus roughly 35/40/25.
UPSAMPLE_TTR_3 = 400
UPSAMPLE_TTR_2 = 600


@register(
    "t20_quality_upsample",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
),
q AS (
  SELECT doc_id, source, len(words) AS n_tokens,
         len(list_distinct(words)) * 1000 // len(words) AS ttr_milli
  FROM w
),
e AS (
  SELECT source, n_tokens,
         CASE WHEN ttr_milli <= {UPSAMPLE_TTR_3} THEN 3
              WHEN ttr_milli <= {UPSAMPLE_TTR_2} THEN 2
              ELSE 1 END AS epochs
  FROM q
),
r AS (
  SELECT source, n_tokens, unnest(range(1, epochs + 1)) AS epoch FROM e
)
SELECT source, CAST(epoch AS BIGINT) AS epoch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM r
GROUP BY source, epoch
ORDER BY source, epoch
""",
    description="Quality-weighted corpus upsampling (epoch mixing): each "
    "document is assigned 1-3 training epochs from a deterministic "
    "quality tier (type-token ratio in milli-units — integer arithmetic, "
    "thresholds are exact), then physically REPLICATED via "
    "explode(sequence(1, epochs)) — the shape a data loader consumes when "
    "high-quality sources are seen multiple times per training run "
    "(epoch column = replica index, so downstream global shuffling keeps "
    "replicas distinguishable).  Output audits the mixture: rows out per "
    "(source, epoch) with token mass.  Scale shape: scoring and "
    "replication are pure per-row expression work (no shuffle before the "
    "final (source, epoch) agg, which is map-side-combinable); the "
    "explode multiplies rows at most 3x and never widens a shuffle key.",
)
def t20_quality_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    ttr = F.expr(
        "size(array_distinct(split(text, ' '))) * 1000"
        " div size(split(text, ' '))"
    )
    epochs = (
        F.when(ttr <= UPSAMPLE_TTR_3, 3)
        .when(ttr <= UPSAMPLE_TTR_2, 2)
        .otherwise(1)
    )
    base = d.select(
        "source", F.size(words).alias("n_tokens"), epochs.alias("epochs")
    )
    replicated = base.select(
        "source",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("epoch"),
    )
    return (
        replicated.groupBy("source", F.col("epoch").cast("bigint").alias("epoch"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "epoch")
    )


#: t21 shard count for the deterministic training shuffle.
SHUFFLE_SHARDS = 64


@register(
    "t21_training_shuffle",
    oracle=f"""
WITH h AS (
  SELECT doc_id, n_chars,
         {duck_md5_48("'shuffle-' || CAST(doc_id AS VARCHAR)")} AS hv
  FROM documents
)
SELECT doc_id,
       CAST(hv % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hv % {SHUFFLE_SHARDS}
                               ORDER BY hv, doc_id) AS BIGINT) AS pos,
       CAST(n_chars AS BIGINT) AS n_chars
FROM h
ORDER BY shard, pos
""",
    description="Deterministic global training shuffle: every document "
    "gets a pseudo-random but REPRODUCIBLE position — shard = "
    f"md5('shuffle-'||doc_id) % {SHUFFLE_SHARDS}, position = rank of the "
    "hash within the shard — the final operation of every training-data "
    "pipeline (data loaders read shards sequentially; reproducibility "
    "means a resumed run reads the same order).  Scale shape: shard "
    "assignment is pure map work; the within-shard ordering is a "
    "PARTITION-LOCAL window (shuffle on the 64-value shard key, sort "
    "within partition — never a global sort), which is exactly "
    "repartition(shard) + sortWithinPartitions at the writer.  Skew-free "
    "by construction: the hash spreads documents uniformly regardless of "
    "source/time locality in the input order.",
)
def t21_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from agentic_etl_poc_spark.functions.hashing import md5_48

    d = table(spark, sf_dir, "documents")
    hv = md5_48(F.concat(F.lit("shuffle-"), F.col("doc_id").cast("string")))
    h = d.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"), hv.alias("hv")
    )
    shard = (F.col("hv") % SHUFFLE_SHARDS).cast("bigint")
    w = Window.partitionBy(shard).orderBy("hv", "doc_id")
    return (
        h.select(
            "doc_id",
            shard.alias("shard"),
            F.row_number().over(w).cast("bigint").alias("pos"),
            "n_chars",
        )
        .orderBy("shard", "pos")
    )


def _gradient_p5(i: int, w: int, h: int) -> bytes:
    """m05/m09 source image: a w x h P5 whose pixel (y, x) is
    (i*31 + y*7 + x*3) % 256."""
    yy, xx = np.mgrid[0:h, 0:w]
    raster = ((i * 31 + yy * 7 + xx * 3) % 256).astype(np.uint8)
    return b"P5\n%d %d\n255\n" % (w, h) + raster.tobytes()


RASTER_CHECKSUM_SCHEMA = (
    "item_id bigint, width int, height int, "
    "src_bytes bigint, dst_bytes bigint, checksum bigint"
)


def _raster_checksum(item_id, payload, width, height, src_bytes, dst_bytes):
    """m05/m09 check kernel over a resize/crop row: re-decode the output
    P5 payload and sum its raster."""
    raster = _pnm_raster(payload)[2]
    yield (
        item_id, width, height, src_bytes, dst_bytes,
        int(raster.astype(np.int64).sum()),
    )


@register(
    "m05_image_resize",
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + CAST(doc_id % 13 AS INT) AS w0,
         3 + CAST(doc_id % 7 AS INT) AS h0
  FROM documents WHERE doc_id % 5 = 0
),
px AS (
  SELECT doc_id, w0, h0,
         CAST(floor((y + 0.5) * h0 / 4) AS BIGINT) AS sy,
         CAST(floor((x + 0.5) * w0 / 6) AS BIGINT) AS sx
  FROM g
  CROSS JOIN (SELECT unnest(range(0, 4)) AS y)
  CROSS JOIN (SELECT unnest(range(0, 6)) AS x)
)
SELECT doc_id AS item_id,
       CAST(6 AS INT) AS width,
       CAST(4 AS INT) AS height,
       CAST(9 + length(CAST(w0 AS VARCHAR)) + length(CAST(h0 AS VARCHAR))
            + w0 * h0 AS BIGINT) AS src_bytes,
       CAST(35 AS BIGINT) AS dst_bytes,
       CAST(SUM((doc_id * 31 + sy * 7 + sx * 3) % 256) AS BIGINT) AS checksum
FROM px
GROUP BY doc_id, w0, h0
ORDER BY item_id
""",
    description="Real resize-kernel round-trip, hash-verified: Spark "
    "synthesizes a P5 image per item whose pixel (y,x) carries the "
    "integer value (doc_id*31 + y*7 + x*3) % 256, pushes it through the "
    "REAL nearest-neighbor resize (operators/multimodal.py::image_resize "
    "— numpy index arithmetic, P5 re-encode) to 6x4, then re-decodes the "
    "RESIZED payload and reports its raster checksum; the oracle computes "
    "the same checksum arithmetically by replaying the NN index map "
    "(src = floor((dst + 0.5) * src_dim / dst_dim), the identical "
    "multiply-then-divide double expression, exact for these magnitudes). "
    "This pins the resize kernel's actual pixel selection and re-encode "
    "byte layout (dst_bytes = 11-byte header + 24 raster bytes), not "
    "just its plumbing.  Map-only both ways: synth -> resize -> "
    "checksum are three mapInPandas stages, zero shuffles before the "
    "output sort.",
)
def m05_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )

    def synth(i):
        yield i, _gradient_p5(i, 4 + i % 13, 3 + i % 7)

    resized = image_resize(
        map_rows(d, synth, PAYLOAD_SCHEMA), width=6, height=4
    )
    return map_rows(resized, _raster_checksum, RASTER_CHECKSUM_SCHEMA).orderBy(
        "item_id"
    )


@register(
    "m09_image_center_crop",
    oracle="""
WITH g AS (
  SELECT doc_id,
         8 + CAST(doc_id % 9 AS INT) AS w0,
         6 + CAST(doc_id % 5 AS INT) AS h0
  FROM documents WHERE doc_id % 7 = 0
),
px AS (
  SELECT doc_id, w0, h0,
         ((h0 - 4) // 2 + y) AS sy,
         ((w0 - 6) // 2 + x) AS sx
  FROM g
  CROSS JOIN (SELECT unnest(range(0, 4)) AS y)
  CROSS JOIN (SELECT unnest(range(0, 6)) AS x)
)
SELECT doc_id AS item_id,
       CAST(6 AS INT) AS width,
       CAST(4 AS INT) AS height,
       CAST(9 + length(CAST(w0 AS VARCHAR)) + length(CAST(h0 AS VARCHAR))
            + w0 * h0 AS BIGINT) AS src_bytes,
       CAST(35 AS BIGINT) AS dst_bytes,
       CAST(SUM((doc_id * 31 + sy * 7 + sx * 3) % 256) AS BIGINT) AS checksum
FROM px
GROUP BY doc_id, w0, h0
ORDER BY item_id
""",
    description="Real CENTER-CROP kernel round-trip, hash-verified — the "
    "second half of CLIP-style preprocessing (m05's resize is the first): "
    "Spark synthesizes a P5 image per item whose pixel (y,x) carries "
    "(doc_id*31 + y*7 + x*3) % 256, pushes it through the REAL crop "
    "(operators/multimodal.py::image_center_crop — numpy window slice, "
    "P5 re-encode; sources here are always >= the 6x4 target, the "
    "letterbox pad path is unit-tested separately), re-decodes the "
    "CROPPED payload and reports its raster checksum; the oracle replays "
    "the centered window arithmetically (src origin = (dim - crop) // 2, "
    "identical integer expressions both engines).  This pins the crop's "
    "actual window selection and re-encode byte layout (35 = 11-byte "
    "header + 24 raster bytes).  Map-only: synth -> crop -> checksum are "
    "three mapInPandas stages, zero shuffles before the output sort.",
)
def m09_image_center_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )

    def synth(i):
        yield i, _gradient_p5(i, 8 + i % 9, 6 + i % 5)

    cropped = image_center_crop(
        map_rows(d, synth, PAYLOAD_SCHEMA), width=6, height=4
    )
    return map_rows(cropped, _raster_checksum, RASTER_CHECKSUM_SCHEMA).orderBy(
        "item_id"
    )


def _duck_bpe_round(prev_state: str, n: int) -> str:
    """One unrolled BPE round: pair frequencies over ``prev_state``
    (seq, c), the top merge, and the merged next state.

    The state CTEs are MATERIALIZED: each round references the previous
    state twice (pair agg + merge rewrite), so DuckDB's default CTE
    inlining doubles the expansion per round — at t25's 16 rounds that
    is 2^16 scans of the base parquet (observed as 'Too many open
    files'); materialization makes the chain linear, which is also how
    the Spark side executes it."""
    return f"""
pairs{n} AS MATERIALIZED (
  SELECT pr AS pair, CAST(SUM(c) AS BIGINT) AS freq
  FROM (
    SELECT c,
           unnest(list_transform(range(1, len(string_split(trim(seq), ' '))),
                  i -> string_split(trim(seq), ' ')[i] || ' ' ||
                       string_split(trim(seq), ' ')[i + 1])) AS pr
    FROM {prev_state}
  )
  GROUP BY pr
),
top{n} AS MATERIALIZED (
  SELECT pair, freq FROM pairs{n} ORDER BY freq DESC, pair LIMIT 1),
s{n} AS MATERIALIZED (
  SELECT replace(replace(replace(seq,
           ' ' || t.pair || ' ', ' ' || replace(t.pair, ' ', '') || ' '),
           ' ' || t.pair || ' ', ' ' || replace(t.pair, ' ', '') || ' '),
           ' ' || t.pair || ' ', ' ' || replace(t.pair, ' ', '') || ' ')
           AS seq, c
  FROM {prev_state} CROSS JOIN top{n} t
)"""


@register(
    "t22_bpe_merges",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
vocab AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
s0 AS (
  SELECT ' ' || array_to_string(
           list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
         || ' ' AS seq, c
  FROM vocab
),
{_duck_bpe_round('s0', 1)},
{_duck_bpe_round('s1', 2)},
{_duck_bpe_round('s2', 3)}
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS round, pair,
         replace(pair, ' ', '') AS merged, freq FROM top1
  UNION ALL
  SELECT CAST(2 AS BIGINT), pair, replace(pair, ' ', ''), freq FROM top2
  UNION ALL
  SELECT CAST(3 AS BIGINT), pair, replace(pair, ' ', ''), freq FROM top3
)
ORDER BY round
""",
    description="BPE tokenizer training, distributed (the first 3 merge "
    "rounds of byte-pair encoding over the corpus vocabulary): word "
    "TYPES with counts form the training set (Heaps-law bounded — the "
    "classic BPE formulation, so corpus size only enters through the "
    "counts); each round counts adjacent-symbol pairs weighted by word "
    "frequency (map-side-combinable agg over the small vocab frame), "
    "takes the global argmax (freq desc, pair asc — a bounded top-1, "
    "broadcast back), and applies the merge with three fixed "
    "replace-all passes whose left-to-right skip semantics are "
    "byte-identical in both engines (greedy-approximate BPE, "
    "deterministic by construction; both engines run the SAME three "
    "passes).  The whole 3-round chain is one lazy Catalyst DAG — no "
    "driver-side loop state; the only driver data is the plan itself. "
    "Output: (round, pair, merged, freq).  At 100 TB: the vocab agg is "
    "the only corpus-sized shuffle; every round after it works on the "
    "vocabulary table.",
)
def t22_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merge_table(spark, sf_dir).orderBy("round")


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-round BPE merge table (round, pair, merged, freq), pre-sort —
    t22's training chain, shared with t24 which APPLIES the merges."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    state = vocab.select(
        F.concat(
            F.lit(" "), F.concat_ws(" ", F.split(F.col("w"), "")), F.lit(" ")
        ).alias("seq"),
        "c",
    )
    tops = []
    for rnd in (1, 2, 3):
        syms = F.split(F.trim(F.col("seq")), " ")
        n = F.size(syms)
        prs = F.zip_with(
            F.slice(syms, 1, n - 1),
            F.slice(syms, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        freq = (
            state.select("c", F.explode(prs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("c").cast("bigint").alias("freq"))
        )
        top = freq.orderBy(F.desc("freq"), F.asc("pair")).limit(1)
        tops.append(
            top.select(
                F.lit(rnd).cast("bigint").alias("round"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                "freq",
            )
        )
        pat = F.concat(F.lit(" "), F.col("pair"), F.lit(" "))
        rep = F.concat(
            F.lit(" "),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")),
            F.lit(" "),
        )
        merged_seq = F.col("seq")
        for _ in range(3):
            merged_seq = F.replace(merged_seq, pat, rep)
        state = state.crossJoin(F.broadcast(top.select("pair"))).select(
            merged_seq.alias("seq"), "c"
        )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out


#: t25's merge-round count.  Real tokenizers carry thousands of merges;
#: 16 is enough to exercise the driver-coordinated training loop (one
#: top-1 collect per round — inherent to BPE, each round's argmax gates
#: the next) and to measure apply cost vs merge-table size against t24's
#: N=3 (expected linear in N: the kernel is N sequential replace passes
#: per word).
BPE_N16 = 16


def _corpus_sized_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Partition count for vocabulary-scale intermediates, derived from
    the documents table's on-disk size (~32 MB per partition, floor 1,
    cap 4x cores) — data-adaptive, never a constant tuned to one box."""
    import os

    p = os.path.join(sf_dir, "documents.parquet")
    try:
        if os.path.isdir(p):
            total = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, fs in os.walk(p)
                for f in fs
                if not f.startswith(("_", "."))
            )
        else:
            total = os.path.getsize(p)
    except OSError:
        total = 0
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(4 * cores, total // (32 << 20) or 1))


def bpe_train_merges(
    spark: SparkSession, sf_dir: str, n_rounds: int
) -> list[tuple[str, str, int]]:
    """Driver-coordinated BPE training for an arbitrary round count:
    returns the rank-ordered merge table [(pair, merged, freq), ...].

    t22 unrolls its 3 rounds into ONE lazy Catalyst DAG; that stops
    scaling in round count (the plan nests a limit+aggregate per round),
    so past a handful of rounds training becomes what production BPE is
    everywhere: a driver LOOP whose per-round Spark job aggregates pair
    frequencies over the vocabulary state and collects the single argmax
    row — 1 row per round crosses the driver, never data.  The state
    (word-type seq + count, Heaps-law bounded) is localCheckpointed once
    after the corpus-sized vocab agg so round jobs never re-tokenize the
    corpus, and re-checkpointed every 4 rounds to keep the replace-chain
    lineage flat.  Merge semantics are byte-identical to t22's chain
    (same 3-pass replace-all, same freq-desc/pair-asc tie-break), so
    rounds 1-3 must equal t22's table exactly (pinned by a unit test).
    Raises if the vocabulary runs out of pairs before ``n_rounds`` (the
    oracle's unrolled CTE chain cannot represent early stopping; at the
    battery's scales 16 rounds never run dry)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # Size the checkpointed state to the DATA, not the session's shuffle
    # default (guide §2.2/§6): the state is the Heaps-bounded word-type
    # vocabulary — a few MB at bench scales — but the vocab agg leaves it
    # in shuffle-partition-count pieces, so every one of the n_rounds
    # per-round jobs scheduled 32+ near-empty scan tasks.  Partition
    # count derives from the corpus bytes on disk (a conservative upper
    # bound on vocab size), floored at 1 and capped at 4x cores — at
    # 100 TB the cap keeps round-jobs wide while the floor keeps bench-
    # scale rounds at single-task cost.
    nparts = _corpus_sized_partitions(spark, sf_dir)
    state = (
        vocab.select(
            F.concat(
                F.lit(" "), F.concat_ws(" ", F.split(F.col("w"), "")), F.lit(" ")
            ).alias("seq"),
            "c",
        )
        .coalesce(nparts)
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    for rnd in range(1, n_rounds + 1):
        syms = F.split(F.trim(F.col("seq")), " ")
        n = F.size(syms)
        prs = F.zip_with(
            F.slice(syms, 1, n - 1),
            F.slice(syms, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        top = (
            state.select("c", F.explode(prs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("c").cast("bigint").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            raise RuntimeError(
                f"BPE vocabulary ran out of pairs at round {rnd}/{n_rounds}"
            )
        pair, freq = top[0]["pair"], int(top[0]["freq"])
        merged = pair.replace(" ", "")
        merges.append((pair, merged, freq))
        pat, rep = F.lit(f" {pair} "), F.lit(f" {merged} ")
        merged_seq = F.col("seq")
        for _ in range(3):
            merged_seq = F.replace(merged_seq, pat, rep)
        state = state.select(merged_seq.alias("seq"), "c")
        if rnd % 4 == 0 and rnd < n_rounds:
            state = state.localCheckpoint(eager=True)
    return merges


def _duck_apply_merge(src: str, top: str) -> str:
    """One trained merge applied to per-word ``seq`` columns — the SAME
    three fixed replace-all passes as training (_duck_bpe_round), so the
    left-to-right skip semantics match the Python kernel byte-for-byte."""
    one = "{s}"
    for _ in range(3):
        one = (
            f"replace({one}, ' ' || {top}.pair || ' ', "
            f"' ' || replace({top}.pair, ' ', '') || ' ')"
        )
    return one.format(s=f"{src}.seq")


@register(
    "t24_bpe_apply",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
vocab AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
s0 AS (
  SELECT ' ' || array_to_string(
           list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
         || ' ' AS seq, c
  FROM vocab
),
{_duck_bpe_round('s0', 1)},
{_duck_bpe_round('s1', 2)},
{_duck_bpe_round('s2', 3)},
docs AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) > 0
),
w0 AS (
  SELECT doc_id, length(w) AS wlen,
         ' ' || array_to_string(
           list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
         || ' ' AS seq
  FROM docs
),
a1 AS (SELECT doc_id, wlen, {_duck_apply_merge('w0', 't')} AS seq
       FROM w0 CROSS JOIN top1 t),
a2 AS (SELECT doc_id, wlen, {_duck_apply_merge('a1', 't')} AS seq
       FROM a1 CROSS JOIN top2 t),
a3 AS (SELECT doc_id, wlen, {_duck_apply_merge('a2', 't')} AS seq
       FROM a2 CROSS JOIN top3 t)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wlen) AS BIGINT) AS pre_tokens,
       CAST(SUM(len(string_split(trim(seq), ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(wlen) - SUM(len(string_split(trim(seq), ' '))) AS BIGINT)
         AS n_merged
FROM a3
GROUP BY doc_id
ORDER BY doc_id
""",
    description="Distributed BPE tokenizer APPLY — the other half of the "
    "tokenizer story t22 trains (the round-8 verdict's ordered gap: a "
    "training-data pipeline tokenizes the corpus nightly with a FIXED "
    "merge table; training runs once, apply runs at 100 TB).  The merge "
    "table comes from t22's exact training chain (bpe_merge_table) and "
    "is collected to the driver — 3 rows, the trained-artifact "
    "broadcast every production tokenizer job ships to workers — then "
    "applied per DISTINCT word (the Heaps-bounded vocabulary) with the "
    "SAME three fixed replace-all passes training used, in RANK ORDER, "
    "as pure JVM codegen expressions (t22's greedy-approximate "
    "contract), and broadcast-joined back to the corpus word stream — "
    "so the apply chain, the Spark training chain, and the DuckDB "
    "replay are byte-identical by construction.  Output per doc: word "
    "count, pre-merge symbol count, post-merge token count, and merges "
    "applied — all exact integers.  Scale shape: the only corpus-sized "
    "work is the word explode feeding the vocab distinct and the "
    "map-side-combinable per-doc aggregate; the expensive merge chain "
    "runs vocabulary-sized, exactly how a 1000-executor tokenize pass "
    "amortizes a fixed merge table.",
)
def t24_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the trained artifact: 3 (pair, merged) rows in rank order — a
    # driver-side fetch of the tokenizer itself, not of data.  Round-12:
    # fetched via the driver-loop trainer (corpus tokenized ONCE into
    # the checkpointed vocab state, three vocab-sized round jobs) rather
    # than t22's fully-lazy unrolled chain, whose three limit-1
    # consumers each re-derived the corpus-sized vocab aggregate.  The
    # two trainers implement ONE merge semantics — their first three
    # merges are equal by the unit-pinned contract
    # (tests/test_text_quality.py::test_t25_trainer_prefix_matches_t22),
    # and t22 itself still ships the lazy chain (that entry's point).
    merges = [
        (pair, merged)
        for pair, merged, _ in bpe_train_merges(spark, sf_dir, 3)
    ]
    return _bpe_apply_frame(spark, sf_dir, merges).orderBy("doc_id")


def _bpe_apply_frame(spark: SparkSession, sf_dir: str, merges) -> DataFrame:
    """Corpus-wide BPE apply for an arbitrary rank-ordered merge list —
    t24 (N=3) and t25 (N=16) share it, so the apply-cost-vs-merge-table-
    size comparison prices ONLY the merge count.  Per-doc exact
    integers: word/pre-token/token/merge counts.

    Round-12 optimization (guide §4.1 "prefer built-ins", §2.3 "shuffle
    keys/metadata instead of payloads"): the former map-only Python
    kernel re-applied every merge to every word OCCURRENCE — O(corpus
    tokens x merges) interpreted string work per run.  BPE apply is a
    pure function of the WORD, so the merged token count is computed
    once per DISTINCT word (the Heaps-law-bounded vocabulary) with the
    SAME 3-pass replace-all chain training uses — as whole-stage-codegen
    JVM expressions (byte-identical merge semantics by construction:
    identical seq framing, identical F.replace passes) — then
    broadcast-joined back to the corpus word stream and aggregated per
    doc.  The ArrowEvalPython node is gone from the plan; the only
    corpus-sized shuffles are the vocab distinct and the docs-sized
    partial-aggregated groupBy(doc_id).  At 100 TB the vocabulary is
    still broadcast-scale (Heaps: ~millions of types, tens of MB as
    (word, 2 ints)); if a pathological corpus outgrew it, dropping the
    broadcast hint falls back to a vocab-keyed shuffle join with the
    same semantics."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # NULL text: split(NULL) -> NULL, explode yields no rows — same as
    # the oracle's docs CTE; zero-word docs drop out of the groupBy
    # (the oracle's length(w) > 0 filter drops them too).
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    # the trained merges applied per distinct word: the exact training
    # chain (bpe_merge_table / bpe_train_merges) — ' c h a r s '
    # framing, then per merge three fixed replace-all passes
    seq = F.concat(
        F.lit(" "), F.concat_ws(" ", F.split(F.col("w"), "")), F.lit(" ")
    )
    for pair, merged in merges:
        pat, rep = F.lit(f" {pair} "), F.lit(f" {merged} ")
        for _ in range(3):
            seq = F.replace(seq, pat, rep)
    word_tok = (
        words.select("w")
        .distinct()
        .select(
            "w",
            F.length("w").alias("wlen"),
            F.size(F.split(F.trim(seq), " ")).alias("wtok"),
        )
    )
    return (
        words.join(F.broadcast(word_tok), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("wlen").cast("bigint").alias("pre_tokens"),
            F.sum("wtok").cast("bigint").alias("n_tokens"),
            (F.sum("wlen") - F.sum("wtok")).cast("bigint").alias("n_merged"),
        )
    )


#: t25's oracle replays the SAME chain unrolled: 16 training rounds
#: (pair-freq agg -> top-1 -> 3-pass replace) then 16 apply passes in
#: rank order — mechanical expansion of the t22/t24 CTE generators, so
#: one merge-semantics definition serves every N.
_T25_TRAIN_CTES = ",\n".join(
    _duck_bpe_round(f"s{i - 1}", i) for i in range(1, BPE_N16 + 1)
)
_T25_APPLY_CTES = ",\n".join(
    "a{i} AS (SELECT doc_id, wlen, {expr} AS seq\n"
    "       FROM {src} CROSS JOIN top{i} t)".format(
        i=i,
        src="w0" if i == 1 else f"a{i - 1}",
        expr=_duck_apply_merge("w0" if i == 1 else f"a{i - 1}", "t"),
    )
    for i in range(1, BPE_N16 + 1)
)


@register(
    "t25_bpe_n16",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
vocab AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
s0 AS (
  SELECT ' ' || array_to_string(
           list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
         || ' ' AS seq, c
  FROM vocab
),
{_T25_TRAIN_CTES},
docs AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) > 0
),
w0 AS (
  SELECT doc_id, length(w) AS wlen,
         ' ' || array_to_string(
           list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
         || ' ' AS seq
  FROM docs
),
{_T25_APPLY_CTES}
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wlen) AS BIGINT) AS pre_tokens,
       CAST(SUM(len(string_split(trim(seq), ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(wlen) - SUM(len(string_split(trim(seq), ' '))) AS BIGINT)
         AS n_merged
FROM a{BPE_N16}
GROUP BY doc_id
ORDER BY doc_id
""",
    description=f"BPE at tokenizer-realistic depth — train {BPE_N16} merge "
    "rounds and apply them corpus-wide (the round-9 verdict's ordered "
    "extension of t22/t24, which pin the chain at N=3 with a fully lazy "
    "plan): past a handful of rounds BPE training IS a driver loop — "
    "each round's argmax gates the next, so the driver collects exactly "
    "ONE (pair, freq) row per round (bpe_train_merges) while the "
    "pair-frequency aggregate runs distributed over the localCheckpointed "
    "vocabulary state (Heaps-law bounded; the corpus is tokenized ONCE, "
    "never re-read per round).  Merge semantics are byte-identical to "
    "t22's chain (same 3-pass replace-all, same freq-desc/pair-asc "
    "tie-break; rounds 1-3 equal t22's table exactly, unit-pinned), and "
    f"the apply is t24's vocabulary-sized JVM merge chain with a "
    f"{BPE_N16}-entry merge list — the DuckDB oracle replays all "
    f"{BPE_N16} training rounds AND apply passes unrolled, so the hash "
    "pins every merge decision through the per-doc token counts.  "
    "Scale shape: training's corpus-sized work is one vocab agg; each "
    "round then costs one map-side-combinable agg + a 1-row collect "
    "over the vocab frame (thousands of rounds = thousands of small "
    "jobs, the production profile); the apply's merge chain runs once "
    "per distinct word and broadcast-joins back — cost grows linearly "
    "in N over the VOCABULARY (t24 vs t25 isolation probes price it), "
    "independent of corpus size per word and of executor count.",
)
def t25_bpe_n16(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = [
        (pair, merged)
        for pair, merged, _ in bpe_train_merges(spark, sf_dir, BPE_N16)
    ]
    return _bpe_apply_frame(spark, sf_dir, merges).orderBy("doc_id")


#: m06 synth bounds: n_src in [16, 48] -> n_out = n_src*3//2 in [24, 72].
#: The oracle's range() bound is DERIVED from these constants (not a magic
#: cap that silently truncates if the construction changes — the t17
#: lesson).
_M06_MAX_OUT = (16 + 32) * 3 // 2


@register(
    "m06_audio_resample",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         16 + CAST(doc_id % 33 AS BIGINT) AS n_src
  FROM documents WHERE doc_id % 5 = 0
),
k AS (SELECT doc_id, n_src, n_src * 3 // 2 AS n_out FROM g),
px AS (
  SELECT doc_id, n_src, n_out,
         CAST(floor((t + 0.5) * n_src / n_out) AS BIGINT) AS src_idx
  FROM k CROSS JOIN (SELECT unnest(range(0, {_M06_MAX_OUT} + 1)) AS t)
  WHERE t < n_out
)
SELECT doc_id AS item_id,
       CAST(8000 AS INT) AS src_rate,
       CAST(12000 AS INT) AS dst_rate,
       n_src,
       MAX(n_out) AS n_out,
       CAST(44 + MAX(n_out) * 2 AS BIGINT) AS dst_bytes,
       CAST(SUM((doc_id * 7 + src_idx * 13) % 2048 - 1024) AS BIGINT)
         AS checksum
FROM px
GROUP BY doc_id, n_src
ORDER BY item_id
""",
    description="Real audio resample round-trip, hash-verified (the audio "
    "twin of m05): Spark synthesizes a mono PCM16 WAV per item — sample "
    "k carries (doc_id*7 + k*13) % 2048 - 1024 — pushes it through the "
    "REAL sample-rate converter (operators/multimodal.py::audio_resample "
    "— RIFF chunk walk, NN index resample 8000→12000 Hz, PCM16 "
    "re-encode) and re-decodes the RESAMPLED payload to report its "
    "sample checksum and byte size; the oracle replays the index map "
    "floor((t+0.5)*n_src/n_out) arithmetically.  Pins the converter's "
    "actual sample selection and container byte layout (44-byte header "
    "+ 2 bytes/sample).  Map-only: three mapInPandas stages, zero "
    "shuffles before the output sort.",
)
def m06_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )

    def synth(i):
        k = np.arange(16 + i % 33, dtype=np.int64)
        yield i, _wav_pcm16((i * 7 + k * 13) % 2048 - 1024, 8000)

    def checksum(item_id, payload, src_rate, dst_rate, n_src, n_out):
        n = struct.unpack_from("<I", payload, 40)[0] // 2
        samples = np.frombuffer(payload, "<i2", count=n, offset=44)
        yield (
            item_id, src_rate, dst_rate, n_src, n_out, len(payload),
            int(samples.astype(np.int64).sum()),
        )

    resampled = audio_resample(map_rows(d, synth, PAYLOAD_SCHEMA), out_rate=12000)
    return map_rows(
        resampled,
        checksum,
        "item_id bigint, src_rate int, dst_rate int, n_src bigint, "
        "n_out bigint, dst_bytes bigint, checksum bigint",
    ).orderBy("item_id")


@register(
    "t23_bigram_novelty",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words)),
                  i -> array_to_string(words[i:i+1], ' '))) AS gram
    FROM w)
),
seen AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
novel AS (
  SELECT t.doc_id, COUNT(*) AS n_novel
  FROM g t LEFT JOIN seen s ON t.gram = s.gram
  WHERE t.doc_id % 2 = 1 AND s.gram IS NULL
  GROUP BY t.doc_id
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_bigrams FROM g
  WHERE doc_id % 2 = 1 GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_bigrams AS BIGINT) AS n_bigrams,
       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(COALESCE(n.n_novel, 0) * 1000000 // t.n_bigrams AS BIGINT)
         AS novelty_ppm
FROM totals t LEFT JOIN novel n ON t.doc_id = n.doc_id
ORDER BY t.doc_id
""",
    description="Bigram NOVELTY scoring — the freshness complement of "
    "t15's contamination flag: score each held-out document (odd "
    "doc_ids) by the fraction of its distinct word bigrams never seen "
    "in the reference corpus (even doc_ids), as integer ppm.  This is "
    "the cheap continual-pretraining signal for 'does this new crawl "
    "slice add anything': near-zero novelty means the slice is "
    "redundant with what the model already trained on.  Scale shape: "
    "unlike t15 (whose eval set broadcasts), the reference side here is "
    "corpus-vocabulary-sized, so the novelty probe is an honest "
    "gram-keyed shuffle anti-join (the d03 shape) with map-side "
    "distinct partials; per-doc counts are the only rows that leave "
    "the gram partitioning.  All-integer output — nothing for a "
    "canonicalizer to drift on.",
)
def t23_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    s0 = F.slice(words, 1, n - 1)
    s1 = F.slice(words, 2, n - 1)
    bi = F.zip_with(s0, s1, lambda a, b: F.concat_ws(" ", a, b))
    grams = (
        d.where(n >= 2)
        .select("doc_id", F.explode(F.array_distinct(bi)).alias("gram"))
    )
    seen = grams.where(F.col("doc_id") % 2 == 0).select("gram").distinct()
    target = grams.where(F.col("doc_id") % 2 == 1)
    novel = (
        target.join(seen, "gram", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    totals = target.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams")
    )
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
            # integer `div`, not double /-then-cast: both engines floor
            # exactly, no float rounding anywhere near the hash
            F.expr("coalesce(n_novel, 0L) * 1000000L div n_bigrams")
            .cast("bigint")
            .alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


M07_FRAMES = 6
M07_THRESH = 64.0


@register(
    "m07_shot_detection",
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         list_transform(range(0, {M07_FRAMES}),
           j -> CAST((doc_id * 31 + j * j * 17) % 256 AS DOUBLE)) AS means
  FROM documents WHERE doc_id % 9 = 0
),
c AS (
  SELECT doc_id,
         list_filter(range(1, {M07_FRAMES}),
           j -> abs(means[j + 1] - means[j]) > {M07_THRESH}) AS cuts
  FROM f
)
SELECT doc_id AS item_id,
       CAST({M07_FRAMES} AS INT) AS n_frames,
       CAST(len(cuts) AS INT) AS n_cuts,
       CAST(CASE WHEN len(cuts) = 0 THEN -1 ELSE cuts[1] END AS INT)
         AS first_cut
FROM c
ORDER BY item_id
""",
    description="Video SHOT-BOUNDARY detection, hash-verified through the "
    "REAL codec: Spark synthesizes a concatenated-PPM stream per item "
    f"({M07_FRAMES} solid 4x2 P6 frames whose gray level is the integer "
    "function (doc_id*31 + j*j*17) %% 256 of the frame index), the "
    "kernel (operators/multimodal.py::shot_detect) genuinely parses "
    "every frame header, decodes raster bytes, computes per-frame mean "
    "intensity, and flags cuts where the consecutive-mean jump exceeds "
    f"{M07_THRESH}; the oracle replays the same arithmetic.  Exact by "
    "construction: a solid frame's byte mean IS its gray level (an "
    "integer, exactly representable), so the diffs compare identical "
    "doubles in both engines.  This is the scene-segmentation primitive "
    "a frame-sampling pipeline uses to sample per SHOT instead of per "
    "time-slice.  Scale: synthesis and detection are both Arrow-batched "
    "mapInPandas, map-only, no shuffle; the codec hook slots ffmpeg in "
    "for compressed video unchanged.",
)
def m07_shot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 0)

    def synth(i):
        yield i, b"".join(
            b"P6\n4 2\n255\n" + bytes([(i * 31 + j * j * 17) % 256]) * 24
            for j in range(M07_FRAMES)
        )

    streams = map_rows(d.select("doc_id"), synth, PAYLOAD_SCHEMA)
    return shot_detect(streams, threshold=M07_THRESH).orderBy("item_id")


@register(
    "m08_audio_vad",
    oracle="""
WITH docs AS (
  SELECT doc_id,
         6 + doc_id % 7 AS nf,
         1000 + (doc_id * 31) % 20000 AS amp
  FROM documents WHERE doc_id % 5 = 0
),
frames AS (
  SELECT doc_id, amp, f,
         CASE WHEN ((doc_id // 5 + f) % 4) < 2 THEN 1 ELSE 0 END AS act
  FROM docs CROSS JOIN (SELECT unnest(range(0, 12)) AS f)
  WHERE f < nf
),
act AS (
  SELECT doc_id, amp, f,
         f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
  FROM frames WHERE act = 1
),
seg AS (
  SELECT doc_id, amp, grp, MIN(f) AS start_frame, COUNT(*) AS n_frames
  FROM act GROUP BY doc_id, amp, grp
)
SELECT doc_id AS item_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1
            AS INT) AS seg_idx,
       CAST(start_frame AS INT) AS start_frame,
       CAST(n_frames AS INT) AS n_frames,
       CAST(amp AS INT) AS peak_q15
FROM seg
ORDER BY item_id, seg_idx
""",
    description="Voice-activity detection through the real audio path: "
    "Spark synthesizes a PCM16 WAV per item whose frames alternate "
    "silence and an active square wave by an integer pattern of doc_id "
    "(active iff ((doc_id/5 + frame) % 4) < 2, amplitude "
    "1000+(doc_id*31)%20000), the VAD kernel "
    "(operators/multimodal.py::vad_segments) chunk-walks the RIFF "
    "container, computes per-frame RMS on the Q15 integer grid, and "
    "emits runs of above-threshold frames as segments; the oracle "
    "derives the same segments ARITHMETICALLY via gaps-and-islands "
    "SQL.  Exactness by construction: every active sample is ±amp, so "
    "frame RMS = sqrt of an exact square = amp exactly (IEEE sqrt is "
    "correctly rounded), and the 500 threshold sits far from both 0 "
    "and the 1000 amplitude floor.  Scale shape: synthesis and VAD "
    "are both Arrow-batched mapInPandas, map-only, no shuffle before "
    "the presentation sort — the segmentation step of a speech "
    "pretraining pipeline.",
)
def m08_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    FRAME = 160

    def synth(i):
        nf = 6 + i % 7
        amp = 1000 + (i * 31) % 20000
        samples = np.zeros(nf * FRAME, dtype="<i2")
        for f in range(nf):
            if ((i // 5 + f) % 4) < 2:
                seg = samples[f * FRAME : (f + 1) * FRAME]
                seg[0::2] = amp
                seg[1::2] = -amp
        yield i, _wav_pcm16(samples, 8000)

    payloads = map_rows(d, synth, PAYLOAD_SCHEMA)
    return vad_segments(payloads, frame_samples=FRAME, threshold_q15=500).orderBy(
        "item_id", "seg_idx"
    )


#: t26 feature dimension — the hashing-trick bucket count.  64 keeps the
#: oracle's per-word hash cheap at test scale; production uses 2^18-2^20
#: (the knob changes nothing structural: j = H(w) mod D).
HASH_EMBED_DIM = 64


@register(
    "t26_hashing_embed",
    oracle=f"""
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) > 0
),
feats AS (
  SELECT doc_id,
         {duck_md5_48('w')} % {HASH_EMBED_DIM} AS j,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM words GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, j, cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, j ASC) AS rn
  FROM feats
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS nnz,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sq_norm
  FROM feats GROUP BY doc_id
)
SELECT agg.doc_id, agg.nnz, agg.n_tokens, agg.sq_norm,
       CAST(r.j AS BIGINT) AS top_bucket,
       r.cnt AS top_count
FROM agg JOIN ranked r ON r.doc_id = agg.doc_id AND r.rn = 1
ORDER BY agg.doc_id
""",
    description="Embedding GENERATION for text — the corpus-wide "
    "featurize pass that produces the vectors the s-family searches and "
    "the d-family dedups (the one step of that pipeline the battery "
    "lacked; embeddings.parquet arrives pre-computed).  Implemented as "
    "the HASHING-TRICK featurizer (HashingTF): each word maps to bucket "
    "j = md5_48(w) mod D and the document's sparse vector is the bucket "
    "count map — the production featurizer for n-gram/sparse models, "
    "and the exact plumbing shape of dense-model inference (tokenize -> "
    "per-doc vector), which swaps the hash projection for an "
    "Arrow-batched model UDF (the m-family demonstrates that batched "
    "kernel plumbing; no model weights ship in this container).  "
    "Everything stays in whole-stage codegen: explode -> map-side "
    "md5_48 mod D -> partial-agg on (doc_id, bucket) -> one keyed "
    "rollup emitting exact-integer audit stats per doc (nnz, token "
    "count, L2^2 norm, argmax bucket with lowest-index tie-break via a "
    "struct max — no window, no second shuffle).  The 48-bit md5 "
    "prefix hash is bit-identical in both engines (functions/"
    "hashing.py), so the driver hash pins every bucket assignment.  "
    "Scale shape: two keyed exchanges total, no UDF, no driver data; "
    "D is a constant (production 2^18-2^20) so the feature map never "
    "shuffles wider than the corpus token stream.",
)
def t26_hashing_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.functions.hashing import md5_48

    D = HASH_EMBED_DIM
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.length("w") > 0)
    )
    feats = (
        words.select(
            "doc_id", (md5_48(F.col("w")) % F.lit(D)).alias("j")
        )
        .groupBy("doc_id", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # argmax bucket, lowest-j tie-break: max over (cnt, D-1-j) structs
    # picks the highest count and, within ties, the smallest bucket —
    # one aggregate, no window, reuses the same doc_id exchange
    top = F.max(
        F.struct(
            F.col("cnt").alias("c"),
            (F.lit(D - 1) - F.col("j")).cast("bigint").alias("negj"),
        )
    )
    return (
        feats.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nnz"),
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sq_norm"),
            top.alias("_top"),
        )
        .select(
            "doc_id",
            "nnz",
            "n_tokens",
            "sq_norm",
            (F.lit(D - 1) - F.col("_top.negj")).cast("bigint").alias("top_bucket"),
            F.col("_top.c").alias("top_count"),
        )
        .orderBy("doc_id")
    )


#: t27 per-stratum sample size.  Production eval-set builds use 1k-100k;
#: the value is a constant, so the SAMPLE stays fixed-size as the corpus
#: grows — which is exactly why the hash-threshold pre-filter matters.
STRAT_K = 40

#: Hash-threshold overshoot factor: candidates per stratum ~ 4K, so the
#: exact-rank window never sees more than a few hundred rows per stratum
#: regardless of corpus size.  Undershoot probability at 4x is the
#: binomial tail P(X < K | mean 4K) ~ 1e-30 PER STRATUM; the kernel
#: still hard-asserts coverage (an undershoot would silently truncate
#: the sample — fail loudly instead).
STRAT_OVERSHOOT = 4


@register(
    "t27_stratified_sample",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {duck_md5_48('CAST(doc_id AS VARCHAR)')} ASC,
                    doc_id ASC) AS rk
  FROM documents
)
SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
FROM ranked WHERE rk <= {STRAT_K}
ORDER BY source, rk
""",
    description="EXACT-N stratified sampling — 'exactly K documents per "
    "source', the eval-set/human-review draw every curation pipeline "
    "runs (t08's hash split and t10's mixture sample by RATE; neither "
    "can hit an exact per-stratum count).  Selection is deterministic: "
    "rank by md5_48(doc_id) within each source, keep rk <= K — a "
    "reproducible uniform draw with no RNG state.  Scale shape is the "
    "point: the naive form is a per-stratum WINDOW over the whole "
    "corpus (a stratum can be 10^10 rows — single-partition death, the "
    "same killer t16's prefix sum dodges).  Instead: (1) one keyed "
    "count agg gives per-stratum sizes; (2) broadcast-joined back, a "
    "MAP-SIDE hash-threshold filter keeps ~4K candidates per stratum "
    "(threshold = 2^48 * 4K / n, whole strata of <= 4K pass through), "
    "so (3) the exact-rank window runs over a few hundred rows per "
    "stratum — fixed work however large the corpus, and bit-identical "
    "to the full-corpus rank the oracle computes because the top-K by "
    "hash provably survive any threshold >= the K-th hash (coverage "
    "hard-asserted per stratum: P(undershoot at 4x) ~ 1e-30, and a "
    "silent truncation is the one failure mode the assert removes).  "
    "Everything JVM-side: md5 + compare in codegen, one count "
    "exchange, one candidate exchange into the tiny window.",
)
def t27_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from agentic_etl_poc_spark.functions.hashing import md5_48

    K, OV = STRAT_K, STRAT_OVERSHOOT
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    h = md5_48(F.col("doc_id").cast("string"))
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    full = F.lit(1 << 48).cast("bigint")
    # integer DIV keeps the threshold exact: `/` promotes to double and
    # 2^48 * OV * K exceeds 2^53, so the quotient would be rounded a few
    # ULPs before the +1 (ADVICE r12) — the ceiling bound must hold in
    # integer arithmetic, not merely survive the coverage assert
    thr = F.when(F.col("_n") <= OV * K, full).otherwise(
        F.expr(f"CAST({(1 << 48) * OV * K} DIV _n AS BIGINT) + 1")
    )
    cand = (
        docs.join(F.broadcast(counts), "source")
        .withColumn("_h", h)
        .filter(F.col("_h") < thr)
    )
    w = Window.partitionBy("source").orderBy(
        F.asc("_h"), F.asc("doc_id")
    )
    ranked = cand.withColumn("rk", F.row_number().over(w).cast("bigint"))
    # materialize the survivor set ONCE (strata x K rows — tiny by
    # construction): the coverage assert below and the returned frame
    # both read the checkpoint instead of re-running the count-agg +
    # filter + window pipeline twice
    out = ranked.filter(F.col("rk") <= K).localCheckpoint(eager=True)
    # coverage assert: every stratum yields exactly min(K, n) rows — an
    # undershoot (threshold clipped the true top-K) must fail loudly,
    # never silently truncate the sample.  One tiny driver-side check
    # over #strata rows.
    got = {
        r["source"]: (r["n_sampled"], r["n"])
        for r in out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.first("_n").alias("n"))
        .collect()
    }
    short = {
        s: v for s, v in got.items() if v[0] != min(K, v[1])
    }
    if short:
        raise RuntimeError(
            f"stratified-sample undershoot (raise STRAT_OVERSHOOT): {short}"
        )
    return out.select("source", "rk", "doc_id").orderBy("source", "rk")
