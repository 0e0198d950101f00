"""Training-data pipeline ops: benchmark decontamination, sequence packing.

Two corpus-preparation operators every large-scale LLM data pipeline runs
between filtering (t02) / dedup (d01-d10) and tokenization:

- **t15 benchmark decontamination** — flag corpus documents that share any
  word n-gram with a benchmark/eval set, so evaluation data cannot leak
  into training data.  The benchmark set is small by construction (eval
  suites are thousands of documents, the corpus is billions), so the scale
  shape is: distinct benchmark shingles → **broadcast** → hash-join
  against the corpus shingle stream — the corpus side never shuffles for
  the probe; only the per-document hit counts (a tiny fraction) shuffle
  for the final aggregation.
- **t16 sequence packing** — assign documents to fixed-token-budget packs
  by their starting offset in the concatenated token stream.  The core is
  a corpus-wide prefix sum, which naively is a single-partition window (a
  scale killer).  Implemented as the classic two-phase distributed scan:
  per-block partial sums (parallel) → block-offset prefix over the tiny
  block table (broadcast back) → intra-block window, so no stage ever
  sees more than one block's rows in one partition.

Both are exact-integer computations end to end — no doubles anywhere near
the driver hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from agentic_etl_poc_spark.io_tables import table
from agentic_etl_poc_spark.queries.core import register, run_root, staged

#: Word n-gram order for decontamination.  Real pipelines use 8-13-gram
#: exact overlap (the n-gram ORDER is a knob, not a design change); the
#: synthetic corpus shares one vocabulary, so trigrams give the oracle a
#: meaningful contaminated/clean split at test scale.
DECONTAM_N = 3

#: Every doc_id divisible by 97 plays the "benchmark set" role — a
#: deterministic stand-in for an external eval-suite table.
BENCH_MOD = 97

#: Token budget per packed training sequence.
PACK_BUDGET = 512

#: Documents per prefix-sum block (t16).  At 100 TB this is the only
#: knob: blocks of ~10^6 docs keep the block table in the kilobytes.
PACK_BLOCK = 100


@register(
    "t15_benchmark_decontam",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words) - {DECONTAM_N} + 2),
                                 i -> array_to_string(words[i:i+{DECONTAM_N - 1}], ' ')))
             AS gram
    FROM w)
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {BENCH_MOD} = 0),
hits AS (
  SELECT g.doc_id, COUNT(*) AS n_shared
  FROM g JOIN bench USING (gram)
  WHERE g.doc_id % {BENCH_MOD} <> 0
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_grams,
       COALESCE(h.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {BENCH_MOD} <> 0
ORDER BY d.doc_id
""",
    description="Benchmark decontamination: flag corpus docs sharing any "
    "word trigram with the (small) benchmark set.  Distinct benchmark "
    "shingles broadcast; the corpus shingle stream is probed map-side — "
    "no corpus shuffle until the tiny per-doc hit counts.",
)
def t15_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # n-grams via zip_with over n shifted slices of ONE pre-projected words
    # array (transform(sequence, element_at) re-evaluates split() per
    # element and is ~4x slower — see d03's gram builder).
    s0 = F.slice(words, 1, n - (DECONTAM_N - 1))
    s1 = F.slice(words, 2, n - (DECONTAM_N - 1))
    s2 = F.slice(words, 3, n - (DECONTAM_N - 1))
    tri = F.zip_with(
        F.zip_with(s0, s1, lambda a, b: F.concat_ws(" ", a, b)),
        s2,
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    # docs shorter than the n-gram order produce no shingles (the slice
    # length would go non-positive) — they fall out here and re-enter as
    # clean via the left join below.
    grams = (
        d.where(n >= DECONTAM_N)
        .select("doc_id", F.explode(F.array_distinct(tri)).alias("gram"))
    )
    bench = F.broadcast(
        grams.where(F.col("doc_id") % BENCH_MOD == 0).select("gram").distinct()
    )
    hits = (
        grams.where(F.col("doc_id") % BENCH_MOD != 0)
        .join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    corpus = d.where(F.col("doc_id") % BENCH_MOD != 0).select("doc_id")
    return (
        corpus.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias(
                "n_shared_grams"
            ),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "t16_sequence_packing",
    oracle=f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY 1
ORDER BY pack_id
""",
    description="Sequence packing: docs assigned to fixed-token-budget "
    "packs by start offset in the concatenated token stream.  The corpus "
    "prefix sum runs as a two-phase distributed scan (per-block partials "
    "-> tiny broadcast offset table -> intra-block window) instead of a "
    "single-partition global window.",
)
def t16_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") / PACK_BLOCK).cast("bigint").alias("block"),
    )
    # Phase 1: block totals (parallel partial sums; blocks are doc_id
    # ranges so this is one map-side-combined aggregation).
    block_tot = toks.groupBy("block").agg(F.sum("n_tokens").alias("block_tokens"))
    # Phase 2: prefix offsets over the BLOCK table — thousands of rows at
    # 100 TB, so the single-partition window is on provably tiny data.
    wb = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    offsets = block_tot.select(
        "block", F.coalesce(F.sum("block_tokens").over(wb), F.lit(0)).alias("offset")
    )
    # Phase 3: intra-block running sum + broadcast offset join -> global
    # cumulative position without a global shuffle.
    wi = Window.partitionBy("block").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        toks.join(F.broadcast(offsets), "block")
        .withColumn("cum", F.col("offset") + F.sum("n_tokens").over(wi))
    )
    packed = cum.withColumn(
        "pack_id", F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


#: Composite-pipeline knobs (p01): token-count quality gates and the
#: near-dup fingerprint width (first-k-words prefix — d02's normalized
#: fingerprint idea at its cheapest useful setting).
P01_MIN_TOKENS = 20
P01_MAX_TOKENS = 80
P01_FP_WORDS = 4


@register(
    "p01_curation_pipeline",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
filtered AS (
  SELECT * FROM base
  WHERE n_tokens BETWEEN {P01_MIN_TOKENS} AND {P01_MAX_TOKENS}
),
keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM filtered
  GROUP BY md5(array_to_string(words[1:{P01_FP_WORDS}], ' '))
),
deduped AS (
  SELECT f.doc_id, f.words, f.n_tokens
  FROM filtered f JOIN keep USING (doc_id)
),
bench AS (
  SELECT DISTINCT gram FROM (
    SELECT unnest(list_transform(range(1, len(words) - {DECONTAM_N} + 2),
                  i -> array_to_string(words[i:i+{DECONTAM_N - 1}], ' ')))
             AS gram
    FROM base WHERE doc_id % {BENCH_MOD} = 0)
),
g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words) - {DECONTAM_N} + 2),
                  i -> array_to_string(words[i:i+{DECONTAM_N - 1}], ' ')))
             AS gram
    FROM deduped WHERE doc_id % {BENCH_MOD} <> 0)
),
contaminated AS (
  SELECT DISTINCT doc_id FROM g JOIN bench USING (gram)
),
clean AS (
  SELECT d.doc_id, d.n_tokens
  FROM deduped d
  WHERE d.doc_id % {BENCH_MOD} <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM clean
)
SELECT CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY 1
ORDER BY pack_id
""",
    description="The end-to-end curation pipeline as ONE dataflow — "
    "quality filter (token-count gates) -> near-dup removal (first-"
    f"{P01_FP_WORDS}-words md5 fingerprint, keep lowest doc_id) -> "
    "benchmark decontamination (trigram overlap vs the RAW eval set, "
    "distinct bench shingles broadcast, left_anti drop) -> sequence "
    "packing (two-phase distributed prefix sum) — proving the stages "
    "compose as Catalyst subplans of a single lazy query, not "
    "materialized steps.  Scale shape inherits each stage's: the "
    "filter pushes to the scan, the fingerprint dedup is one map-side-"
    "combined aggregation + semi join, the decontam probe never "
    "shuffles the corpus, and the pack prefix-sum's only global window "
    "runs over the tiny block table.",
)
def p01_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    base = d.select("doc_id", words.alias("words"), F.size(words).alias("n_tokens"))
    filtered = base.where(
        F.col("n_tokens").between(P01_MIN_TOKENS, P01_MAX_TOKENS)
    )
    fp = F.md5(F.concat_ws(" ", F.slice(F.col("words"), 1, P01_FP_WORDS)))
    keep = (
        filtered.select(F.col("doc_id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = filtered.join(keep, "doc_id")

    def trigrams(frame):
        n = F.size(F.col("words"))
        s0 = F.slice(F.col("words"), 1, n - (DECONTAM_N - 1))
        s1 = F.slice(F.col("words"), 2, n - (DECONTAM_N - 1))
        s2 = F.slice(F.col("words"), 3, n - (DECONTAM_N - 1))
        tri = F.zip_with(
            F.zip_with(s0, s1, lambda a, b: F.concat_ws(" ", a, b)),
            s2,
            lambda ab, c: F.concat_ws(" ", ab, c),
        )
        return frame.where(n >= DECONTAM_N).select(
            "doc_id", F.explode(F.array_distinct(tri)).alias("gram")
        )

    bench = F.broadcast(
        trigrams(base.where(F.col("doc_id") % BENCH_MOD == 0))
        .select("gram")
        .distinct()
    )
    corpus = deduped.where(F.col("doc_id") % BENCH_MOD != 0)
    contaminated = (
        trigrams(corpus).join(bench, "gram").select("doc_id").distinct()
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    # two-phase distributed prefix sum (same shape as t16)
    toks = clean.withColumn(
        "block", (F.col("doc_id") / PACK_BLOCK).cast("bigint")
    )
    block_tot = toks.groupBy("block").agg(F.sum("n_tokens").alias("block_tokens"))
    wb = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    offsets = block_tot.select(
        "block", F.coalesce(F.sum("block_tokens").over(wb), F.lit(0)).alias("offset")
    )
    wi = Window.partitionBy("block").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        toks.join(F.broadcast(offsets), "block")
        .withColumn("cum", F.col("offset") + F.sum("n_tokens").over(wi))
    )
    packed = cum.withColumn(
        "pack_id", F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


@register(
    "p02_plan_csv_pipeline",
    oracle="""
WITH clean AS (
  SELECT o_custkey AS store_id,
         COALESCE(CAST(o_totalprice AS DOUBLE), 0.0) AS amt,
         o_orderdate AS d
  FROM orders
)
SELECT c.store_id,
       TRIM(n.n_name) AS nation,
       strftime(CAST(DATE_TRUNC('week', c.d) AS DATE), '%Y-%m-%d') AS week,
       COUNT(*) AS n_sales,
       CAST(CAST(SUM(CAST(c.amt AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS weekly_sales
FROM clean c
JOIN customer cu ON cu.c_custkey = c.store_id
JOIN nation n ON n.n_nationkey = cu.c_nationkey
GROUP BY 1, 2, 3
ORDER BY store_id, week
""",
    description="The reference's demonstrated end-to-end path (CSV triplet "
    "-> dialect-shimmed SQL transform -> DQ gate -> single-file CSV sink "
    "-> verify gate), oracle-gated as a battery entry so the plan layer "
    "is visible to the driver's correctness sweep, not just pytest "
    "(reference: etl_agent/templates.py:59-82 CSV_TRIPLET shape; "
    "ops.py:25-32 csv load/write).  The triplet (sales/features/stores) "
    "is staged deterministically FROM the driver's parquet tables "
    "(orders/nation/customer), so the oracle can state the same result "
    "over the pre-registered views — which makes the check cover the "
    "whole loop: CSV write/read roundtrip (incl. doubles and "
    "'%m/%d/%Y' date strings through try_strptime), the DuckDB-dialect "
    "shim, the DQ gate, the single-file sink contract, and the verify "
    "re-read, all of which must be value-exact for the hash to match.  "
    "Scale: the plan layer itself is declarative Spark SQL (Catalyst "
    "broadcasts the dim joins); the single-file sink is the reference's "
    "contract.",
)
def p02_plan_csv_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agentic_etl_poc_spark.runtime import run_from_plan
    from agentic_etl_poc_spark.sinks.csv_sink import write_csv
    from agentic_etl_poc_spark.sources.csv_source import read_csv

    def stage(root: str) -> None:
        orders = table(spark, sf_dir, "orders")
        write_csv(
            orders.select(
                F.col("o_orderkey").alias("sale_id"),
                F.col("o_custkey").alias("store"),
                F.col("o_totalprice").alias("amount"),
                F.date_format("o_orderdate", "MM/dd/yyyy").alias("sale_date"),
            ),
            os.path.join(root, "sales.csv"),
        )
        write_csv(
            table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("store_id"),
                F.col("c_name").alias("store_name"),
                F.col("c_nationkey").alias("nation_id"),
            ),
            os.path.join(root, "stores.csv"),
        )
        write_csv(
            table(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("nation_id"),
                F.col("n_name").alias("nation_name"),
            ),
            os.path.join(root, "features.csv"),
        )

    root = staged(sf_dir, "p02", ["orders", "customer", "nation"], stage)
    out_path = os.path.join(root, "weekly_sales.csv")
    plan = f"""
limits:
  max_input_bytes: 1073741824
source:
  kind: csv
  csv:
    paths:
      sales: {root}/sales.csv
      features: {root}/features.csv
      stores: {root}/stores.csv
    # Round 13 (guide §6.2): the triplet is staged BY THIS ENTRY from
    # typed frames, so the plan declares the staged schema instead of
    # paying an inference scan per source (3 fewer CSV passes).  The
    # declared types are the STAGING CONTRACT (ids written from bigint
    # keys, amount from a numeric price, dates formatted to strings),
    # not sniffed fixture values; every downstream use either CASTs
    # explicitly in the transform SQL or joins on same-typed keys, so
    # results are identical to the inference path (pinned by
    # tests/test_plan_layer.py::test_csv_triplet_schemas_match_inference).
    schemas:
      sales: "sale_id BIGINT, store BIGINT, amount DOUBLE, sale_date STRING"
      stores: "store_id BIGINT, store_name STRING, nation_id BIGINT"
      features: "nation_id BIGINT, nation_name STRING"
transform:
  sql: |
    WITH clean AS (
      SELECT CAST(store AS BIGINT) AS store_id,
             COALESCE(CAST(amount AS DOUBLE), 0.0) AS amt,
             CAST(try_strptime(CAST(sale_date AS STRING), '%m/%d/%Y')
                  AS DATE) AS d
      FROM sales
    )
    SELECT c.store_id,
           TRIM(f.nation_name) AS nation,
           CAST(CAST(DATE_TRUNC('week', c.d) AS DATE) AS STRING) AS week,
           COUNT(*) AS n_sales,
           CAST(CAST(SUM(CAST(c.amt AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS STRING) AS weekly_sales
    FROM clean c
    JOIN stores s ON s.store_id = c.store_id
    JOIN features f ON f.nation_id = s.nation_id
    GROUP BY c.store_id, TRIM(f.nation_name),
             CAST(DATE_TRUNC('week', c.d) AS DATE)
    ORDER BY store_id, week
load:
  to: csv
  file_path: {out_path}
  include_header: true
checks:
  min_rows: 1
  nonnull_cols: [store_id, weekly_sales]
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
    result = run_from_plan(spark, plan)
    if result.get("status") != "ok":
        raise RuntimeError(f"p02 plan pipeline failed: {result}")
    # the battery result IS the verified artifact, re-read from disk
    artifact = read_csv(spark, out_path, infer_schema=False)
    return artifact.select(
        F.col("store_id").cast("bigint").alias("store_id"),
        "nation",
        "week",
        F.col("n_sales").cast("bigint").alias("n_sales"),
        "weekly_sales",
    ).orderBy("store_id", "week")


@register(
    "p03_plan_incremental",
    oracle="""
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       event_type
FROM events
ORDER BY event_id
""",
    description="Watermark-incremental plan runs, oracle-gated end-to-end "
    "(the engine extension was pytest-proven but driver-invisible): the "
    "events table is split at max(ts) - 7 days, tick 1 ingests the old "
    "batch, tick 2 sees a newly-arrived file and must load ONLY rows "
    "past the stored watermark (strict >, formatted in-engine at "
    "microsecond scale so no TZ/precision drift re-ingests or skips "
    "rows), tick 3 finds nothing new and loads zero.  The checked "
    "result is the accumulated parquet sink re-read: it must equal "
    "exactly ONE copy of the source table — any watermark bug "
    "(reprocess, skip, premature advance on a failed run) shows up as "
    "duplicate or missing event_ids under the driver's hash.  Scale "
    "shape: each tick's filter (ts > watermark) is pushed into the "
    "parquet scan, so a tick reads the new files' row groups, not "
    "history; the ledger write is one row per verified run.",
)
def p03_plan_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from agentic_etl_poc_spark.runtime import run_from_plan

    work = run_root("p03", sf_dir)
    src_dir = f"{work}/src"
    out_dir = f"{work}/out"
    ledger = f"{work}/ledger.db"

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cutoff = ev.agg(F.max("ts")).collect()[0][0]
    split_at = cutoff - dt.timedelta(days=7)
    ev.filter(F.col("ts") <= split_at).write.parquet(f"{src_dir}/batch1")

    plan = f"""
source:
  kind: parquet
  parquet:
    path: {src_dir}/*
transform:
  sql: SELECT event_id, ts, user_id, event_type FROM input_df
load:
  to: parquet
  file_path: {out_dir}
  mode: append
checks:
  min_rows: 0
incremental:
  ts_col: ts
  ledger: {ledger}
  key: p03_events
"""
    for tick in range(3):
        if tick == 1:
            ev.filter(F.col("ts") > split_at).write.parquet(
                f"{src_dir}/batch2"
            )
        result = run_from_plan(spark, plan)
        if result.get("status") != "ok":
            raise RuntimeError(f"p03 tick {tick} failed: {result}")

    return (
        spark.read.parquet(out_dir)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "event_type",
        )
        .orderBy("event_id")
    )


@register(
    "p04_plan_json_pipeline",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_value,
       MIN(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS first_ts,
       MAX(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS last_ts
FROM events
WHERE user_id % 20 = 0
GROUP BY event_type
ORDER BY event_type
""",
    description="The reference's JSON-source plan path end-to-end under "
    "the oracle (reference: etl_agent/tools.py:36-49 load_json with "
    "selector + json_normalize flattening; templates.py:87-95 declares "
    "it broken-as-shipped — this is the per-declared-semantics rebuild): "
    "an NDJSON topic with NESTED objects is staged from the events "
    "table, the plan's json source reads it through the safe selector / "
    "flatten layer (nested `who` object -> dotted `who.user_id`, "
    "`who.event_type` columns — no eval()), the transform aggregates "
    "over the flattened names, and the result flows through the DQ "
    "gate -> single-file CSV sink -> verify gate.  The hash covers the "
    "whole loop: JSON serialization round-trip (timestamps as formatted "
    "strings, doubles re-parsed), struct flattening, backticked dotted "
    "identifiers through the SQL transform, decimal-string totals, and "
    "the sink/verify/re-read cycle.  Scale: NDJSON line splitting is "
    "parallel (one task per split); flattening is pure projection; the "
    "aggregate is map-side combinable.",
)
def p04_plan_json_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agentic_etl_poc_spark.runtime import run_from_plan
    from agentic_etl_poc_spark.sources.csv_source import read_csv

    def stage(root: str) -> None:
        events = table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
        events.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.struct("user_id", "event_type").alias("who"),
            "value",
        ).write.json(os.path.join(root, "events_topic.ndjson"))

    root = staged(sf_dir, "p04", ["events"], stage)
    topic = os.path.join(root, "events_topic.ndjson")
    out_path = os.path.join(root, "type_totals.csv")
    plan = f"""
limits:
  max_input_bytes: 1073741824
source:
  kind: json
  json:
    path: {topic}
transform:
  sql: |
    SELECT `who.event_type` AS event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT `who.user_id`) AS n_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS STRING) AS total_value,
           MIN(ts_s) AS first_ts,
           MAX(ts_s) AS last_ts
    FROM input_df
    GROUP BY `who.event_type`
    ORDER BY event_type
load:
  to: csv
  file_path: {out_path}
  include_header: true
checks:
  min_rows: 1
  nonnull_cols: [event_type, total_value]
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
    result = run_from_plan(spark, plan)
    if result.get("status") != "ok":
        raise RuntimeError(f"p04 plan pipeline failed: {result}")
    artifact = read_csv(spark, out_path, infer_schema=False)
    return artifact.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_users").cast("bigint").alias("n_users"),
        "total_value",
        "first_ts",
        "last_ts",
    ).orderBy("event_type")


@register(
    "p05_plan_multi_source",
    oracle="""
SELECT TRIM(r.r_name) AS region,
       TRIM(n.n_name) AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_acctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY 1, 2
ORDER BY region, nation
""",
    description="Heterogeneous multi-source plan end-to-end under the "
    "oracle: one plan whose source mixes PARQUET (customer — the scale "
    "fact, read natively), JSON (nation — staged as NDJSON part files in "
    "a directory with NO .ndjson suffix, so the content sniff decides "
    "the mode), and API (region — a file:// JSON document through the "
    "safe selector, the offline transport for a REST feed), each "
    "registered as a named temp view and joined by one SQL transform, "
    "then DQ gate -> parquet sink -> verify gate.  The reference "
    "DECLARES heterogeneous sources (etl_agent/templates.py:87-95) but "
    "hardcodes one kind per plan and its json/api loaders are broken as "
    "shipped; this entry runs the declared shape for real.  Scale: the "
    "fact table arrives through the native parquet scan (pushdown, "
    "pruning); the JSON/API feeds are the small dims — Catalyst "
    "broadcasts both joins, so the fact never shuffles.",
)
def p05_plan_multi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from agentic_etl_poc_spark.runtime import run_from_plan

    def stage(root: str) -> None:
        table(spark, sf_dir, "nation").write.json(os.path.join(root, "nation_feed"))
        regions = [
            {"r_regionkey": r["r_regionkey"], "r_name": r["r_name"]}
            for r in table(spark, sf_dir, "region").collect()
        ]
        # selector convention: in "data['regions']", `data` IS the document
        # root (reference binds the loaded doc to a variable named `data`)
        with open(os.path.join(root, "regions_api.json"), "w") as f:
            _json.dump({"regions": regions}, f)

    root = staged(sf_dir, "p05", ["nation", "region"], stage)
    nation_feed = os.path.join(root, "nation_feed")  # deliberately suffix-free
    region_api = os.path.join(root, "regions_api.json")
    out_path = os.path.join(root, "acctbal_by_nation")
    plan = f"""
limits:
  max_input_bytes: 1073741824
source:
  kind: multi
  multi:
    customer_pq:
      kind: parquet
      parquet:
        path: {sf_dir}/customer.parquet
    nation_feed:
      kind: json
      json:
        path: {nation_feed}
    region_api:
      kind: api
      api:
        url: file://{region_api}
        json_path: data['regions']
transform:
  sql: |
    SELECT TRIM(r.r_name) AS region,
           TRIM(n.n_name) AS nation,
           COUNT(*) AS n_customers,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6)))
                AS DECIMAL(28,6)) AS STRING) AS total_acctbal
    FROM customer_pq c
    JOIN nation_feed n ON n.n_nationkey = c.c_nationkey
    JOIN region_api r ON r.r_regionkey = n.n_regionkey
    GROUP BY TRIM(r.r_name), TRIM(n.n_name)
    ORDER BY region, nation
load:
  to: parquet
  file_path: {out_path}
  mode: overwrite
checks:
  min_rows: 1
  nonnull_cols: [region, nation, total_acctbal]
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
    result = run_from_plan(spark, plan)
    if result.get("status") != "ok":
        raise RuntimeError(f"p05 plan pipeline failed: {result}")
    artifact = spark.read.parquet(out_path)
    return artifact.select(
        "region",
        "nation",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        "total_acctbal",
    ).orderBy("region", "nation")


@register(
    "p06_plan_multi_step",
    oracle="""
WITH clean AS (
  SELECT o_custkey,
         CAST(o_totalprice AS DOUBLE) AS price,
         o_orderpriority
  FROM orders
  WHERE o_orderstatus = 'F'
),
tiers AS (
  SELECT o_custkey, o_orderpriority,
         CASE WHEN price >= 200000 THEN 'high'
              WHEN price >= 50000 THEN 'mid'
              ELSE 'low' END AS tier,
         price
  FROM clean
)
SELECT o_orderpriority, tier,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(CAST(price AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_price
FROM tiers
GROUP BY o_orderpriority, tier
ORDER BY o_orderpriority, tier
""",
    description="MULTI-STEP transform chaining end-to-end under the "
    "oracle (reference: etl_agent/templates.py:99-113 — each "
    "transform.steps[] output registers as a named view later steps "
    "reference; p02-p05 exercise only the single-SQL back-compat path, "
    "and the steps path was pytest-only).  Three chained steps (clean -> "
    "tiers -> summary, each referencing the previous by name) stay ONE "
    "lazy Catalyst DAG — no per-step materialization, unlike the "
    "reference's eager .df() round-trip per step — then DQ gate -> "
    "single-file CSV sink -> verify gate; the battery result is the "
    "verified artifact re-read, so the hash covers the whole loop "
    "including the view-chaining semantics.",
)
def p06_plan_multi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from agentic_etl_poc_spark.runtime import run_from_plan
    from agentic_etl_poc_spark.sources.csv_source import read_csv

    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_p06",
        sf_dir.strip(os.sep).replace(os.sep, "_"),
    )
    os.makedirs(root, exist_ok=True)
    out_path = os.path.join(root, "order_tiers.csv")

    plan = f"""
source:
  kind: parquet
  parquet:
    path: {sf_dir}/orders.parquet
transform:
  steps:
    - name: clean
      sql: |
        SELECT o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
               o_orderpriority
        FROM input_df WHERE o_orderstatus = 'F'
    - name: tiers
      sql: |
        SELECT o_custkey, o_orderpriority,
               CASE WHEN price >= 200000 THEN 'high'
                    WHEN price >= 50000 THEN 'mid'
                    ELSE 'low' END AS tier,
               price
        FROM clean
    - name: summary
      sql: |
        SELECT o_orderpriority, tier,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               CAST(CAST(SUM(CAST(price AS DECIMAL(28,6)))
                    AS DECIMAL(28,6)) AS STRING) AS total_price
        FROM tiers
        GROUP BY o_orderpriority, tier
        ORDER BY o_orderpriority, tier
load:
  to: csv
  file_path: {out_path}
  include_header: true
checks:
  min_rows: 1
  nonnull_cols: [o_orderpriority, tier, total_price]
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
    result = run_from_plan(spark, plan)
    if result.get("status") != "ok":
        raise RuntimeError(f"p06 plan pipeline failed: {result}")
    artifact = read_csv(spark, out_path, infer_schema=False)
    return artifact.select(
        "o_orderpriority",
        "tier",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        "total_price",
    ).orderBy("o_orderpriority", "tier")


@register(
    "p07_plan_quarantine",
    oracle="""
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
            AS DECIMAL(28,6)) AS VARCHAR) AS total_price
FROM (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN '__quarantined__'
              ELSE o_orderpriority END AS priority,
         o_totalprice
  FROM orders
)
GROUP BY priority
ORDER BY priority
""",
    description="DQ QUARANTINE routing as a plan-layer feature (engine "
    "extension over the reference's alert-and-abort gate, "
    "plans/model.py::Checks.quarantine_path): the transform NULLs the "
    "priority of every 7th order (a stand-in for upstream breakage), "
    "and instead of the whole run failing, the violating rows are "
    "routed to a parquet quarantine sink while the clean rows flow "
    "through the DQ gate -> parquet sink -> verify gate; the run "
    "report carries the quarantined count.  The entry re-reads BOTH "
    "artifacts and returns their union (quarantine rows labeled "
    "'__quarantined__'), so the oracle hash proves the split was "
    "exact and lossless — every source row landed in exactly one "
    "artifact with its value intact.  Scale shape: the split is two "
    "filters over ONE persisted transform (no recompute), the "
    "quarantine write is a distributed parquet sink (never a driver "
    "loop), and gate semantics are unchanged when no quarantine path "
    "is declared — the reference's abort contract is the default.",
)
def p07_plan_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agentic_etl_poc_spark.runtime import run_from_plan

    root = run_root("p07", sf_dir)
    out_path = os.path.join(root, "clean_orders")
    quarantine = os.path.join(root, "quarantine")
    plan = f"""
source:
  kind: parquet
  parquet:
    path: {sf_dir}/orders.parquet
transform:
  sql: |
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_orderpriority END AS priority,
           o_totalprice
    FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [priority]
  quarantine_path: {quarantine}
load:
  to: parquet
  file_path: {out_path}
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
    result = run_from_plan(spark, plan)
    if result.get("status") != "ok":
        raise RuntimeError(f"p07 plan pipeline failed: {result}")
    if not result.get("dq", {}).get("quarantined"):
        raise RuntimeError(f"p07 expected quarantined rows: {result}")
    clean = spark.read.parquet(out_path)
    bad = spark.read.parquet(quarantine)
    both = clean.select("priority", "o_totalprice").unionByName(
        bad.select(
            F.lit("__quarantined__").alias("priority"), "o_totalprice"
        )
    )
    return (
        both.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("decimal(28,6)")
            .cast("string")
            .alias("total_price"),
        )
        .orderBy("priority")
    )


@register(
    "p08_xml_roundtrip",
    oracle="""
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       MIN(n_name) AS first_nation
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
    description="Native XML source/sink round-trip (Spark 4 ships the "
    "spark-xml reader/writer built in — a source format the reference "
    "has no path for): the nation table is staged ONCE per fixture "
    "fingerprint as an XML document tree (write.format('xml'), one "
    "<nation> element per row), read back through the XML reader "
    "(rowTag='nation', schema inferred from elements), joined to the "
    "broadcast region dim, and aggregated per region.  The oracle runs "
    "the same join over the original parquet — the hash proves the "
    "XML serialization round-trip is lossless for the surviving "
    "columns (bigint keys + strings; XML is a TEXT format, so the "
    "battery's rule of keeping raw doubles out of checked outputs "
    "matters double here).  Scale shape: XML parsing is per-record and "
    "parallel (one task per split; rowTag framing is splittable), the "
    "25-row staging is a coalesce(1) demo artifact — a 100 TB XML feed "
    "lands as many files and scans like any text source.",
)
def p08_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agentic_etl_poc_spark import plan_capture

    def stage(root: str) -> None:
        n = table(spark, sf_dir, "nation")
        plan_capture.note("xml_stage", n)
        (
            n.coalesce(1)
            .write.format("xml")
            .option("rootTag", "nations")
            .option("rowTag", "nation")
            .save(os.path.join(root, "nation_xml"))
        )

    root = staged(sf_dir, "p08", ["nation"], stage)
    nx = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .load(os.path.join(root, "nation_xml"))
        .select(
            F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
            F.col("n_name").cast("string").alias("n_name"),
            F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        )
    )
    # noted unconditionally: on a warm (already-staged) run the staging
    # note above never fires, and the eager plan lint requires at least
    # one captured action site per run
    plan_capture.note("xml_read", nx)
    r = table(spark, sf_dir, "region")
    return (
        nx.join(F.broadcast(r), nx["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("r_name")
    )


@register(
    "p09_plan_stream",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_value
FROM events
WHERE event_type IN ('click', 'view', 'purchase')
GROUP BY event_type
ORDER BY event_type
""",
    description="A STREAMING ETL plan (engine extension, "
    "plans/model.py::StreamSource): the same YAML lifecycle the "
    "reference runs over batch CSV — source -> transform SQL -> sink "
    "-> DQ gate -> verify gate -> result JSON — declared over a "
    "Structured Streaming file source and drained with "
    "Trigger.AvailableNow (cron-batch semantics with streaming "
    "exactly-once bookkeeping: the checkpoint remembers consumed "
    "files, so a re-run processes only new arrivals).  The transform "
    "is a stateless filter+project on the stream (windowed/stateful "
    "parity is v01-v12's job); the DQ and verify gates run on the "
    "MATERIALIZED artifact after the drain — the documented "
    "gate-after-materialize inversion of the batch plan's "
    "gate-before-load (a stream cannot be counted before writing).  "
    "The entry re-reads the artifact and aggregates it, so the oracle "
    "hash proves the staged NDJSON topic -> stream read -> transform "
    "-> parquet commit round-trip was lossless.  Scale shape: the "
    "drain is map-only (no shuffle before the sink), the sink commit "
    "is Spark's transactional file-sink protocol, and each gate is "
    "one aggregate over the artifact.",
)
def p09_plan_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agentic_etl_poc_spark.queries.streamq import events_stream_dir
    from agentic_etl_poc_spark.runtime import run_from_plan

    topic = events_stream_dir(spark, sf_dir)
    root = run_root("p09", sf_dir)
    out_path = os.path.join(root, "stream_events")
    plan = f"""
source:
  kind: stream
  stream:
    path: {topic}
    schema: "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    watermark_col: ts
transform:
  sql: |
    SELECT event_id, user_id, event_type, ts, value
    FROM input_df
    WHERE event_type IN ('click', 'view', 'purchase')
checks:
  min_rows: 1
  nonnull_cols: [event_id, event_type]
load:
  to: parquet
  file_path: {out_path}
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
    result = run_from_plan(spark, plan)
    if result.get("status") != "ok":
        raise RuntimeError(f"p09 stream plan failed: {result}")
    artifact = spark.read.parquet(out_path)
    return (
        artifact.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("decimal(28,6)")
            .cast("string")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


def derby_url(db_dir: str, create: bool = False) -> str:
    """Embedded Apache Derby JDBC URL (the Derby jars ship on Spark's own
    classpath for the Hive metastore, so this is the one JDBC engine every
    Spark deployment can reach with zero extra jars — the offline stand-in
    for the reference's Postgres)."""
    return f"jdbc:derby:{db_dir}" + (";create=true" if create else "")


def _derby_orders_db(spark: SparkSession, sf_dir: str) -> str:
    """Stage the orders table INTO an embedded Derby database (one-time
    per fixture fingerprint, ``staged``) so the p10 plan can exercise the
    REAL JDBC source/sink path: ``fetch_db`` pulls from a live database
    and ``load_to_postgres`` writes back to one, instead of the
    golden-test SQLite stand-ins.  Strings are pre-coded to integers
    before the JDBC write: Spark's DerbyDialect maps StringType to CLOB,
    which Derby refuses to GROUP BY or index — numeric/date columns keep
    the staged table fully queryable upstream.  Embedded Derby lets one
    JVM boot a database, which ``staged``'s cross-process lock
    guarantees."""
    import os
    import tempfile

    from agentic_etl_poc_spark.sinks.jdbc_sink import load_to_postgres

    # Derby writes its boot log to derby.log in user.dir unless told
    # otherwise; point it at /tmp BEFORE the engine first boots.
    try:
        spark._jvm.java.lang.System.setProperty(
            "derby.stream.error.file",
            os.path.join(tempfile.gettempdir(), "derby.log"),
        )
    except Exception:
        pass  # already booted in this JVM — the log location is set

    def stage(root: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("total"),
            "o_orderdate",
            # '1-URGENT' -> 1 ... '5-LOW' -> 5: integer priority code
            F.substring("o_orderpriority", 1, 1).cast("int").alias("prio_code"),
        )
        # a handful of writer connections is plenty for a dim-scale
        # stage; embedded Derby serializes page writes anyway
        load_to_postgres(
            orders.coalesce(4), derby_url(os.path.join(root, "db"), create=True),
            "orders_src", mode="replace",
        )

    return os.path.join(staged(sf_dir, "p10", ["orders"], stage), "db")


@register(
    "p10_plan_jdbc_roundtrip",
    oracle="""
SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_code,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_s
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
GROUP BY 1
ORDER BY 1
""",
    description="LIVE JDBC round-trip through the full plan lifecycle — "
    "the reference's db-source -> transform -> Postgres-sink path "
    "(etl_agent/tools.py:51-56 fetch_db, tools.py:60-99 load, "
    "tools.py:120-168 verify_table) run against a REAL database, not a "
    "golden test: orders rows are staged into an embedded Apache Derby "
    "database (the JDBC engine on Spark's own classpath), the plan's "
    "source.db.query executes IN Derby with the date predicate pushed "
    "down (only filtered rows cross the wire), the transform aggregates "
    "decimal-exact in Spark, load_to_postgres writes the result back "
    "through Spark's JDBC writer (mode=replace: dialect-typed DDL + "
    "distributed insert), verify_table re-counts IN the sink database, "
    "and the battery result is fetch_db reading the loaded table back — "
    "so the oracle hash proves the parquet -> Derby -> Spark -> Derby -> "
    "Spark loop is value-exact (including DOUBLE totals surviving two "
    "JDBC crossings and the decimal-string rendering).  Scale shape: a "
    "production source DB is read with partitionColumn key-range slices "
    "(fetch_db's partition_column args); the staged dim-scale table "
    "needs exactly one connection, and the aggregate output is "
    "dim-sized, so the JDBC hops move kilobytes.",
)
def p10_plan_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.runtime import run_from_plan
    from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

    db_dir = _derby_orders_db(spark, sf_dir)
    url = derby_url(db_dir)
    plan = f"""
source:
  kind: db
  db:
    conn_str: "{url}"
    query: >-
      SELECT "o_custkey", "prio_code", "total" FROM orders_src
      WHERE "o_orderdate" >= TIMESTAMP('1995-01-01 00:00:00')
transform:
  sql: |
    SELECT prio_code,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           CAST(CAST(SUM(CAST(total AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS STRING) AS total_s
    FROM input_df
    GROUP BY prio_code
checks:
  min_rows: 1
  nonnull_cols: [prio_code, total_s]
load:
  to: postgres
  conn_str: "{url}"
  table: orders_agg
  mode: replace
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
    result = run_from_plan(spark, plan)
    if result.get("status") != "ok":
        raise RuntimeError(f"p10 jdbc plan failed: {result}")
    # the battery result IS the loaded table, read back from the sink DB
    # (CLOB -> VARCHAR cast: Spark's DerbyDialect stores StringType as
    # CLOB, which the JDBC reader cannot hash-compare directly)
    return fetch_db(
        spark,
        url,
        'SELECT "prio_code", "n_orders", "n_custs", '
        'CAST("total_s" AS VARCHAR(42)) AS "total_s" FROM orders_agg',
    ).orderBy("prio_code")


@register(
    "p11_jdbc_partitioned_read",
    oracle="""
SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_code,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_s,
       CAST(4 AS BIGINT) AS n_scan_parts
FROM orders
GROUP BY 1
ORDER BY 1
""",
    description="PARTITIONED JDBC ingest — the 100-TB source-database "
    "read shape the round-8 verdict ordered proven driver-visibly: p10 "
    "reads Derby through one connection; production reads a source DB "
    "with partitionColumn key-range slices so N executors each pull "
    "their own WHERE-bounded range concurrently (reference fetch_db, "
    "etl_agent/tools.py:51-56, which SQLAlchemy-streams through one "
    "connection — the single-node ceiling this entry's plan removes).  "
    "Flow: orders staged into embedded Derby (shared p10 stager), a "
    "1-row MIN/MAX bounds probe (the standard production pre-query), "
    "then fetch_db with partition_column/num_partitions=4 — Spark "
    "turns the user SQL into a derived table and issues 4 bounded "
    "upstream queries (fetch_db refuses query+partitionColumn "
    "combined, which Spark rejects; the derived-table rewrite is the "
    "documented scale path).  The PLAN ASSERTION is in the hashed "
    "result: spark_partition_id() is projected in the scan stage into "
    "a per-(priority, partition) partial aggregate that is "
    "materialized ONCE (localCheckpoint — static planning would give "
    "the rollup and the partition-count consumers each their own "
    "4-query JDBC subtree, doubling the transfer this entry prices), "
    "and n_scan_parts = COUNT(DISTINCT pid) over it is oracle-pinned "
    "to exactly 4 — if the read ever collapses to one JDBC connection "
    "the driver row goes red, not just a unit test.  The rollup "
    "re-aggregates the decimal partials exactly, so the Derby "
    "round-trip stays value-checked too.",
)
def p11_jdbc_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

    from agentic_etl_poc_spark import plan_capture

    db_dir = _derby_orders_db(spark, sf_dir)
    url = derby_url(db_dir)
    # bounds probe: one scalar row IN the source DB (the production
    # pre-query every partitioned-ingest job runs)
    bounds = fetch_db(
        spark,
        url,
        'SELECT MIN("o_orderkey") AS "lo", MAX("o_orderkey") AS "hi" '
        "FROM orders_src",
    )
    plan_capture.note("jdbc_bounds_probe", bounds)
    b = bounds.collect()[0]
    raw = fetch_db(
        spark,
        url,
        'SELECT "o_orderkey", "prio_code", "total" FROM orders_src',
        partition_column='"o_orderkey"',
        lower_bound=int(b["lo"]),
        upper_bound=int(b["hi"]) + 1,
        num_partitions=4,
    )
    # ONE pass over the partitioned scan: per-(prio_code, scan-partition)
    # partial sums first — the rollup re-aggregates them and the
    # partition evidence counts distinct pids from the SAME frame, so
    # both consumers share one exchange subtree (scan + partial agg
    # included) via ReuseExchange instead of each issuing its own 4
    # bounded Derby queries.  spark_partition_id() is projected before
    # the agg (Spark 4 forbids the non-deterministic expression inside
    # one) and decimal partial sums re-aggregate exactly.
    pid_stats = (
        raw.select(
            "prio_code",
            "total",
            F.spark_partition_id().alias("scan_pid"),
        )
        .groupBy("prio_code", "scan_pid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("total").cast("decimal(28,6)")).alias("tot"),
        )
    )
    plan_capture.note("jdbc_partitioned_scan", pid_stats)
    # materialize the (prio, pid) partials ONCE (a ~partitions*groups-row
    # frame): static planning gives each consumer its own JDBC scan
    # subtree (4 scan nodes in the formatted plan), which would double
    # the upstream transfer the entry exists to price
    pid_stats = pid_stats.localCheckpoint(eager=True)
    scan_stats = pid_stats.agg(
        F.countDistinct("scan_pid").cast("bigint").alias("n_scan_parts")
    )
    return (
        pid_stats.groupBy("prio_code")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("tot")
            .cast("decimal(28,6)")
            .cast("string")
            .alias("total_s"),
        )
        .crossJoin(F.broadcast(scan_stats))
        .orderBy("prio_code")
    )


#: p12's per-plan transform: monthly rollup of the fetched slice.  The ym
#: key is INT (year*100+month) so the Derby merge joins on an integer,
#: never a CLOB (Derby refuses CLOB comparisons).
_P12_TRANSFORM = """
SELECT CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS ym,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(total AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS STRING) AS total_s,
       '{src}' AS src
FROM input_df
GROUP BY YEAR(o_orderdate) * 100 + MONTH(o_orderdate)
"""


def _duck_p12_slice(pred: str) -> str:
    return f"""
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS DECIMAL(28,6)) AS VARCHAR) AS total_s
  FROM orders WHERE {pred}
  GROUP BY 1"""


@register(
    "p12_jdbc_live_upsert",
    oracle=f"""
WITH s1 AS ({_duck_p12_slice(
        "o_orderdate < DATE '1997-01-01' AND o_orderkey % 3 <> 0")}),
s2 AS ({_duck_p12_slice("o_orderdate >= DATE '1996-01-01'")})
SELECT COALESCE(s2.ym, s1.ym) AS ym,
       COALESCE(s2.n_orders, s1.n_orders) AS n_orders,
       COALESCE(s2.total_s, s1.total_s) AS total_s,
       CASE WHEN s2.ym IS NOT NULL THEN 's2' ELSE 's1' END AS src
FROM s1 FULL OUTER JOIN s2 ON s1.ym = s2.ym
ORDER BY 1
""",
    description="LIVE upsert on a real database — the one §2.2 load mode "
    "p10 left golden-tested only (reference etl_agent/tools.py:83-96: "
    "stage table + merge in one transaction): two full plan lifecycles "
    "run back-to-back against embedded Derby, each fetch_db-ing a slice "
    "of orders_src WITH THE PREDICATE PUSHED INTO DERBY, rolling it up "
    "to a monthly (ym) grain in Spark, and load_to_postgres'ing with "
    "mode=upsert — Spark's distributed writer stages to cust_agg_stg, "
    "then ONE driver-side transaction runs Derby MERGE INTO "
    "(create-if-absent DDL + merge together; sinks/jdbc_sink.py's Derby "
    "dialect, executed through the Spark JVM where the embedded engine "
    "lives).  Plan 1 loads a 2/3 orderkey-sample of months < 1997 "
    "(src='s1'); plan 2 re-loads months >= 1996 complete (src='s2') — "
    "so the final table proves all three merge behaviors at once: "
    "pre-1996 rows survive untouched (s1 sample values), 1996 rows are "
    "UPDATED in place (sample counts -> full counts, src flips to s2), "
    "and 1997-98 rows are pure INSERTs.  The oracle recomputes that "
    "exact final state from parquet (full outer join of the two "
    "slices), so the driver hash pins every merged cell — an "
    "insert-only, replace, or ignore-on-conflict merge all go red.  "
    "The battery result is the loaded table read back through JDBC.  "
    "Scale shape: the data plane stays distributed (bounded source "
    "read, partial-agg rollup, parallel stage write); the merge is one "
    "in-database statement moving zero rows through the driver — "
    "exactly the Postgres/lakehouse MERGE pattern at 100 TB.",
)
def p12_jdbc_live_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.runtime import run_from_plan
    from agentic_etl_poc_spark.sinks.jdbc_sink import derby_exec
    from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

    db_dir = _derby_orders_db(spark, sf_dir)
    url = derby_url(db_dir)
    # deterministic re-runs: start from an absent target so upsert #1 is
    # pure insert and upsert #2 is the mixed update/insert the entry
    # proves (42Y55 = table does not exist, fine on first run)
    derby_exec(spark, url, ["DROP TABLE cust_agg"], ignore_states=("42Y55",))
    slices = [
        (
            "s1",
            "SELECT \"o_orderdate\", \"total\" FROM orders_src "
            "WHERE \"o_orderdate\" < TIMESTAMP('1997-01-01 00:00:00') "
            "AND MOD(\"o_orderkey\", 3) <> 0",
        ),
        (
            "s2",
            "SELECT \"o_orderdate\", \"total\" FROM orders_src "
            "WHERE \"o_orderdate\" >= TIMESTAMP('1996-01-01 00:00:00')",
        ),
    ]
    for src, q in slices:
        sql_block = "\n".join(
            "    " + ln
            for ln in _P12_TRANSFORM.format(src=src).strip().splitlines()
        )
        plan = f"""
source:
  kind: db
  db:
    conn_str: "{url}"
    query: >-
      {q}
transform:
  sql: |
{sql_block}
checks:
  min_rows: 1
  nonnull_cols: [ym, total_s]
load:
  to: postgres
  conn_str: "{url}"
  table: cust_agg
  mode: upsert
  key_cols: [ym]
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
        result = run_from_plan(spark, plan)
        if result.get("status") != "ok":
            raise RuntimeError(f"p12 upsert plan ({src}) failed: {result}")
    return fetch_db(
        spark,
        url,
        'SELECT "ym", "n_orders", CAST("total_s" AS VARCHAR(42)) AS "total_s", '
        'CAST("src" AS VARCHAR(8)) AS "src" FROM cust_agg',
    ).orderBy("ym")


#: p13's per-plan transform: the p12 monthly rollup plus a year column —
#: the partition key of the lakehouse table (a key's year never changes,
#: satisfying upsert_parquet's stable-partition-per-key contract).
_P13_TRANSFORM = """
SELECT CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS ym,
       CAST(YEAR(o_orderdate) AS INT) AS yr,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS STRING) AS total_s,
       '{src}' AS src
FROM input_df
WHERE {pred}
GROUP BY YEAR(o_orderdate) * 100 + MONTH(o_orderdate), YEAR(o_orderdate)
"""

_P13_PRED_S1 = (
    "o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AND o_orderkey % 3 <> 0"
)
_P13_PRED_S2 = "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"

_DUCK_P13_PRED_S1 = (
    "o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 3 <> 0"
)
_DUCK_P13_PRED_S2 = "o_orderdate >= TIMESTAMP '1996-01-01'"


def _p13_build_table(
    spark: SparkSession, sf_dir: str
) -> tuple[str, dict, dict]:
    """Run the p13/p14 two-plan lifecycle (s1 bootstrap -> s2 COW
    upsert) into a fresh table directory; returns (table path,
    signature snapshot BEFORE the upsert, snapshot AFTER) — the
    snapshots come from sinks.parquet_sink.partition_signatures, the
    same primitive a downstream incremental consumer diffs.  The build
    is ``staged``: p13, p14 and p15 share ONE lifecycle per fixture (at
    sf10 a second build is a redundant multi-scan of millions of rows),
    and a process that finds a finished build reuses it instead of
    rebuilding a table a concurrent reader may be lazily collecting
    from.  Only the build itself can observe the snapshots, so they are
    stored in the staged root beside the table."""
    import json
    import os

    from agentic_etl_poc_spark.runtime import run_from_plan
    from agentic_etl_poc_spark.sinks.parquet_sink import partition_signatures

    # session parity with the rest of the battery (semantic confs +
    # data-sized shuffle partitions come from the table() path)
    table(spark, sf_dir, "orders")

    def stage(root: str) -> None:
        tbl = os.path.join(root, "monthly_orders")
        orders_path = os.path.join(sf_dir, "orders.parquet")
        # both plans run mode=upsert with the row-level change feed on: plan
        # 1 hits the bootstrap path (fresh dir) and records batch 0 as pure
        # inserts, plan 2's merge records batch 1 — p15 consumes the feed
        plans = [
            ("s1", _P13_PRED_S1, "upsert"),
            ("s2", _P13_PRED_S2, "upsert"),
        ]
        sig_before: dict = {}
        for src, pred, mode in plans:
            if mode == "upsert":
                sig_before = partition_signatures(tbl, "yr")
            sql_block = "\n".join(
                "    " + ln
                for ln in _P13_TRANSFORM.format(src=src, pred=pred)
                .strip()
                .splitlines()
            )
            plan = f"""
source:
  kind: parquet
  parquet:
    path: "{orders_path}"
transform:
  sql: |
{sql_block}
checks:
  min_rows: 1
  nonnull_cols: [ym, total_s]
load:
  to: parquet
  file_path: "{tbl}"
  mode: {mode}
  partition_by: [yr]
  key_cols: [ym]
  change_feed: true
verify:
  min_rows: 1
alerts:
  on_fail: "slack://#data-alerts"
"""
            result = run_from_plan(spark, plan)
            if result.get("status") != "ok":
                raise RuntimeError(f"p13 upsert plan ({src}) failed: {result}")
        with open(os.path.join(root, "signatures.json"), "w") as f:
            json.dump([sig_before, partition_signatures(tbl, "yr")], f)

    root = staged(sf_dir, "p13", ["orders"], stage)
    with open(os.path.join(root, "signatures.json")) as f:
        before, after = (
            {k: (tuple(v[0]), v[1]) for k, v in sig.items()} for sig in json.load(f)
        )
    return os.path.join(root, "monthly_orders"), before, after


@register(
    "p13_lakehouse_upsert",
    oracle=f"""
WITH s1 AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS DECIMAL(28,6)) AS VARCHAR) AS total_s
  FROM orders WHERE {_DUCK_P13_PRED_S1}
  GROUP BY 1),
s2 AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS DECIMAL(28,6)) AS VARCHAR) AS total_s
  FROM orders WHERE {_DUCK_P13_PRED_S2}
  GROUP BY 1),
merged AS (
  SELECT COALESCE(s2.ym, s1.ym) AS ym,
         COALESCE(s2.n_orders, s1.n_orders) AS n_orders,
         COALESCE(s2.total_s, s1.total_s) AS total_s,
         CASE WHEN s2.ym IS NOT NULL THEN 's2' ELSE 's1' END AS src
  FROM s1 FULL OUTER JOIN s2 ON s1.ym = s2.ym),
parts AS (
  SELECT CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders
               WHERE {_DUCK_P13_PRED_S2}) AS BIGINT) AS n_rewritten_parts,
         CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders
               WHERE {_DUCK_P13_PRED_S1}
                 AND year(o_orderdate) NOT IN
                     (SELECT DISTINCT year(o_orderdate) FROM orders
                      WHERE {_DUCK_P13_PRED_S2})) AS BIGINT)
             AS n_untouched_parts)
SELECT merged.ym, merged.n_orders, merged.total_s, merged.src,
       parts.n_rewritten_parts, parts.n_untouched_parts
FROM merged CROSS JOIN parts
ORDER BY merged.ym
""",
    description="Lakehouse copy-on-write MERGE — p12's live upsert "
    "semantics re-targeted at the 100 TB north-star sink: a "
    "hive-partitioned parquet table (Delta/Iceberg jars are absent "
    "here; sinks/parquet_sink.py::upsert_parquet is the portable COW "
    "equivalent the jdbc_sink docstring points at — stage write + "
    "atomic partition-directory swap instead of a metadata commit).  "
    "Two full plan lifecycles (reference etl_agent/tools.py:83-96 for "
    "the stage+merge shape, templates.py:135-140 for the load stage): "
    "plan 1 bootstraps the table partitioned by yr from a 2/3 "
    "orderkey-sample of months < 1997 (src='s1'); plan 2 upserts "
    "months >= 1996 complete (src='s2', key_cols=[ym]).  The final "
    "table proves all three merge behaviors: pre-1996 rows survive "
    "untouched, 1996 rows are UPDATED (sample -> full counts, src "
    "flips), post-1996 rows are pure INSERTs.  Beyond the merged VALUES "
    "(same full-outer-join oracle as p12), the entry pins the COW "
    "EFFICIENCY claim itself: partition-directory signatures (part "
    "filenames + mtime_ns) snapshotted around plan 2 count exactly "
    "which partitions were rewritten vs provably untouched, and the "
    "oracle computes both counts from the predicates — an upsert that "
    "rewrites the whole table (or misses a partition) goes "
    "driver-red, not just slow.  Scale shape: the merge read is "
    "partition-PRUNED to the touched years, survivors come from one "
    "distributed left_anti join, the stage write is one file per "
    "task, and untouched partitions are never opened — at 100 TB "
    "that is the difference between rewriting 3 partitions and "
    "rewriting the table.",
)
def p13_lakehouse_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl, sig_before, sig_after = _p13_build_table(spark, sf_dir)
    rewritten = sum(
        1
        for d, s in sig_after.items()
        if d not in sig_before or sig_before[d] != s
    )
    untouched = sum(
        1 for d, s in sig_before.items() if sig_after.get(d) == s
    )
    evidence = spark.createDataFrame(
        [(rewritten, untouched)],
        "n_rewritten_parts bigint, n_untouched_parts bigint",
    )
    from agentic_etl_poc_spark import plan_capture

    out = (
        spark.read.parquet(tbl)
        .select("ym", "n_orders", "total_s", "src")
        .crossJoin(F.broadcast(evidence))
        .orderBy("ym")
    )
    # the memoized build may leave this entry with no run_from_plan
    # action of its own — the merged-table read-back IS the entry's
    # executed plan, so hand it to the eager lint explicitly
    plan_capture.note("cow_readback", out)
    return out


@register(
    "p14_incremental_partition_consume",
    oracle=f"""
WITH s2m AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS DECIMAL(28,6)) AS tot
  FROM orders WHERE {_DUCK_P13_PRED_S2}
  GROUP BY 1, 2),
agg AS (
  SELECT yr,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(n_orders) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(tot) AS DECIMAL(28,6)) AS VARCHAR) AS total_s
  FROM s2m GROUP BY yr),
parts AS (
  SELECT CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders
               WHERE {_DUCK_P13_PRED_S2}) AS BIGINT) AS n_changed_parts,
         CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders
               WHERE ({_DUCK_P13_PRED_S1}) OR ({_DUCK_P13_PRED_S2}))
              AS BIGINT) AS n_total_parts)
SELECT agg.yr, agg.n_months, agg.n_orders, agg.total_s,
       parts.n_changed_parts, parts.n_total_parts
FROM agg CROSS JOIN parts
ORDER BY agg.yr
""",
    description="Incremental CHANGE-FEED consumption of the lakehouse "
    "COW table — the downstream half of p13's story (what Delta calls "
    "change-data-feed; on plain parquet the commit granularity is the "
    "partition directory, so the feed primitive is a signature diff): "
    "the nightly consumer snapshots partition_signatures BEFORE the "
    "upsert, diffs with changed_partitions AFTER it, and reads ONLY "
    "the changed `yr=` partitions — the scan is partition-PRUNED to "
    "the delta, never the table (at 100 TB: read 3 partitions after a "
    "3-partition commit, not 7 years of history).  The consumer "
    "rolls the changed months up per year (decimal-exact re-aggregation "
    "of the merged cells) and the oracle recomputes that rollup from "
    "the s2 predicate alone — a consumer that reads an unchanged "
    "partition (or misses a changed one) produces different rows and "
    "goes driver-red; the changed/total partition counts are hashed in "
    "as evidence.  Scale shape: the signature set is one row per "
    "partition (kilobytes, driver-side by design — the same metadata a "
    "lakehouse commit log holds); the data plane is a pruned scan + "
    "keyed partial aggregation.  Reference parity: the reference's "
    "incremental story is a timestamp high-water mark "
    "(etl_agent/ops.py watermark persistence, mirrored by p03); this "
    "entry is the partition-grain equivalent a file-table sink needs.",
)
def p14_incremental_partition_consume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from agentic_etl_poc_spark.sinks.parquet_sink import changed_partitions

    tbl, sig_before, _sig_after = _p13_build_table(spark, sf_dir)
    from agentic_etl_poc_spark import plan_capture

    changed = changed_partitions(tbl, "yr", sig_before)
    n_total = len(_sig_after)
    evidence = spark.createDataFrame(
        [(len(changed), n_total)],
        "n_changed_parts bigint, n_total_parts bigint",
    )
    consumed = spark.read.parquet(tbl).filter(
        F.col("yr").isin([int(v) for v in changed])
    )
    # the memoized build may leave this entry with no run_from_plan
    # action of its own — the consumer scan IS the entry's executed
    # plan, so hand it to the eager lint explicitly
    plan_capture.note("incremental_consume", consumed)
    return (
        consumed.groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum(F.col("total_s").cast("decimal(28,6)"))
            .cast("decimal(28,6)")
            .cast("string")
            .alias("total_s"),
        )
        .crossJoin(F.broadcast(evidence))
        .orderBy("yr")
    )


@register(
    "p15_row_change_feed",
    oracle=f"""
WITH s1 AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS DECIMAL(28,6)) AS VARCHAR) AS total_s
  FROM orders WHERE {_DUCK_P13_PRED_S1}
  GROUP BY 1),
s2 AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS DECIMAL(28,6)) AS VARCHAR) AS total_s
  FROM orders WHERE {_DUCK_P13_PRED_S2}
  GROUP BY 1),
feed AS (
  SELECT CAST(0 AS BIGINT) AS batch_no, 'insert' AS change_type,
         ym, n_orders, total_s, 's1' AS src FROM s1
  UNION ALL
  SELECT 1, 'update_pre', ym, n_orders, total_s, 's1' FROM s1
  WHERE ym IN (SELECT ym FROM s2)
  UNION ALL
  SELECT 1, 'update_post', ym, n_orders, total_s, 's2' FROM s2
  WHERE ym IN (SELECT ym FROM s1)
  UNION ALL
  SELECT 1, 'insert', ym, n_orders, total_s, 's2' FROM s2
  WHERE ym NOT IN (SELECT ym FROM s1))
SELECT batch_no, change_type, ym, n_orders, total_s, src
FROM feed ORDER BY batch_no, change_type, ym
""",
    description="Row-level CHANGE-DATA-FEED consumption of the lakehouse "
    "COW table — the row-grain upgrade of p14's partition-grain diff "
    "(what Delta exposes as table_changes with _change_type/"
    "_commit_version).  The upsert already computes every frame the feed "
    "needs (batch split = insert/update_post, pruned anti-join "
    "complement = update_pre), so emitting them is one extra write of "
    "data already in hand — staged NEXT to the data and committed by "
    "the SAME journal, so the feed and the table can never disagree "
    "about a commit (a crash rolls both forward or neither).  The "
    "consumer reads _changes/ batch dirs enumerated driver-side "
    "(bounded by commit count) with since_batch pruning BEFORE the "
    "scan.  The oracle recomputes the full expected feed from the s1/s2 "
    "predicates: batch 0 = bootstrap inserts, batch 1 = update_pre (s1 "
    "values) + update_post (s2 values) on the month overlap and inserts "
    "on s2-only months — a feed missing a row set, mixing up pre/post "
    "images, or double-counting goes driver-red on VALUES, not counts.  "
    "Scale shape: feed writes touch only batch rows (never the table), "
    "reads prune to requested batches; at 100 TB the feed is the cheap "
    "CDC stream a downstream materializer tails instead of re-scanning "
    "the table (reference anchor: the upsert semantics of "
    "etl_agent/tools.py:83-96, extended with Delta-CDF-style row "
    "tracking).",
)
def p15_row_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark import plan_capture
    from agentic_etl_poc_spark.sinks.parquet_sink import read_changes

    tbl, _sig_before, _sig_after = _p13_build_table(spark, sf_dir)
    out = (
        read_changes(spark, tbl)
        .select(
            F.col("_batch").cast("bigint").alias("batch_no"),
            F.col("_change_type").alias("change_type"),
            "ym",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "total_s",
            "src",
        )
        .orderBy("batch_no", "change_type", "ym")
    )
    # memoized build: the feed scan IS this entry's executed plan
    plan_capture.note("change_feed_consume", out)
    return out


#: p16's two-plan lifecycle: plan 1 bootstraps WITHOUT total_s, plan 2's
#: batch ADDS the column — the first thing a real lakehouse user hits
#: after upsert works (Delta: mergeSchema; Iceberg: schema evolution).
_P16_TRANSFORM_S1 = """
SELECT CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS ym,
       CAST(YEAR(o_orderdate) AS INT) AS yr,
       COUNT(*) AS n_orders
FROM input_df
WHERE {pred}
GROUP BY YEAR(o_orderdate) * 100 + MONTH(o_orderdate), YEAR(o_orderdate)
"""

_P16_TRANSFORM_S2 = """
SELECT CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS ym,
       CAST(YEAR(o_orderdate) AS INT) AS yr,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS STRING) AS total_s
FROM input_df
WHERE {pred}
GROUP BY YEAR(o_orderdate) * 100 + MONTH(o_orderdate), YEAR(o_orderdate)
"""

def _p16_build_table(spark: SparkSession, sf_dir: str) -> str:
    """p16's evolving-table build: bootstrap (ym, yr, n_orders), then
    upsert a batch that adds total_s — ``staged`` like
    _p13_build_table."""
    import os

    from agentic_etl_poc_spark.runtime import run_from_plan

    table(spark, sf_dir, "orders")

    def stage(root: str) -> None:
        tbl = os.path.join(root, "evolving_orders")
        orders_path = os.path.join(sf_dir, "orders.parquet")
        for tmpl, pred in (
            (_P16_TRANSFORM_S1, _P13_PRED_S1),
            (_P16_TRANSFORM_S2, _P13_PRED_S2),
        ):
            sql_block = "\n".join(
                "    " + ln
                for ln in tmpl.format(pred=pred).strip().splitlines()
            )
            plan = f"""
source:
  kind: parquet
  parquet:
    path: "{orders_path}"
transform:
  sql: |
{sql_block}
checks:
  min_rows: 1
  nonnull_cols: [ym]
load:
  to: parquet
  file_path: "{tbl}"
  mode: upsert
  partition_by: [yr]
  key_cols: [ym]
verify:
  min_rows: 1
"""
            result = run_from_plan(spark, plan)
            if result.get("status") != "ok":
                raise RuntimeError(f"p16 evolution plan failed: {result}")

    return os.path.join(staged(sf_dir, "p16", ["orders"], stage), "evolving_orders")


@register(
    "p16_schema_evolution",
    oracle=f"""
WITH s1 AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders WHERE {_DUCK_P13_PRED_S1}
  GROUP BY 1),
s2 AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS DECIMAL(28,6)) AS VARCHAR) AS total_s
  FROM orders WHERE {_DUCK_P13_PRED_S2}
  GROUP BY 1)
SELECT COALESCE(s2.ym, s1.ym) AS ym,
       COALESCE(s2.n_orders, s1.n_orders) AS n_orders,
       s2.total_s AS total_s
FROM s1 FULL OUTER JOIN s2 ON s1.ym = s2.ym
ORDER BY ym
""",
    description="SCHEMA EVOLUTION on the lakehouse COW merge — the "
    "second thing a real lakehouse user hits: plan 2's batch ADDS a "
    "column (total_s) the bootstrapped table lacks.  The merge read "
    "merges footers (mergeSchema), survivors∪batch unions BY NAME with "
    "missing columns null, and read_table exposes the union schema — "
    "old partitions read back with NULL total_s, updated/inserted "
    "months carry values (Delta mergeSchema / Iceberg add-column "
    "semantics on plain parquet).  The oracle full-outer-joins the two "
    "predicate rollups: every pre-1996 month must surface with NULL "
    "total_s and its SAMPLED s1 count, every 1996+ month with the s2 "
    "count and an exact decimal string — an evolution that drops old "
    "rows, fails to null-fill, or rewrites untouched partitions' "
    "values goes driver-red.  Scale shape: identical to p13 (pruned "
    "merge, one anti-join, journaled commit); evolution adds zero "
    "extra passes — the union schema is footer metadata, not a table "
    "rewrite (at 100 TB an ALTER TABLE that rewrites is the "
    "anti-pattern this entry pins away).",
)
def p16_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark import plan_capture
    from agentic_etl_poc_spark.sinks.parquet_sink import read_table

    tbl = _p16_build_table(spark, sf_dir)
    out = (
        read_table(spark, tbl)
        .select(
            "ym",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "total_s",
        )
        .orderBy("ym")
    )
    # memoized build: the evolved-table read-back IS the executed plan
    plan_capture.note("evolved_readback", out)
    return out
