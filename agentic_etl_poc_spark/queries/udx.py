"""User-defined function surface: UDTF and grouped pandas UDAF.

The reference's only UDF mechanism is a pandas ``DataFrame.eval``
expression (reference: etl_agent/tools.py:67-72 — covered by
operators/transform.py::python_udf).  It has no UDAF or UDTF at all
(SURVEY §2.6), so these two queries document the full Spark UDx surface a
user migrating from the reference gains:

- ``u01``: grouped custom aggregation via ``applyInPandas`` — arbitrary
  per-group Python over Arrow batches, shuffled once on the group key.
  The scale contract: state is bounded per GROUP (not per table), so 100 TB
  with many groups parallelizes; one giant group needs a two-phase
  (partial/merge) rewrite instead.
- ``u02``: a Python UDTF (one row in, N rows out, lateral-joined) — the
  row-expanding escape hatch when ``explode`` over a built-in split can't
  express the generator logic.
- ``u03``: a grouped-aggregate pandas UDAF (``@pandas_udf`` scalar return
  inside ``groupBy().agg()``) — whole-group Arrow batch, no partial agg.

All proven against pure-SQL oracles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agentic_etl_poc_spark.io_tables import table
from agentic_etl_poc_spark.queries.core import register, run_root


@register(
    "u01_grouped_pandas_agg",
    oracle="""
WITH w AS (SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
SELECT lang,
       COUNT(*) AS n_docs,
       quantile_cont(n_tokens, 0.5) AS median_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM w
GROUP BY lang
ORDER BY lang
""",
    description="Custom grouped aggregation (pandas UDAF via applyInPandas): "
    "exact per-language median token count — pandas' interpolated median "
    "equals quantile_cont(0.5) and is hash-safe on integer inputs (dyadic "
    "midpoints are exactly representable).",
)
def u01_grouped_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "median_tokens": [float(pdf["n_tokens"].median())],
                "max_tokens": [int(pdf["n_tokens"].max())],
            }
        )

    return (
        d.groupBy("lang")
        .applyInPandas(
            agg,
            schema="lang string, n_docs bigint, median_tokens double, "
            "max_tokens bigint",
        )
        .orderBy("lang")
    )


@register(
    "u02_python_udtf",
    oracle="""
WITH s AS (SELECT doc_id, string_split(text, '. ') AS sents FROM documents
           WHERE doc_id % 20 = 0)
SELECT doc_id,
       CAST(pair['i'] AS INT) AS sent_idx,
       pair['s'] AS sentence
FROM (
  SELECT doc_id,
         unnest(list_transform(range(1, len(sents) + 1),
                i -> {'i': i - 1, 's': sents[i]})) AS pair
  FROM s
)
ORDER BY doc_id, sent_idx
""",
    description="Python UDTF (table function): one document in, one row per "
    "sentence out, lateral-joined — the generator escape hatch beyond "
    "explode.  Row-at-a-time Python is the slow path (hence the 1-in-20 "
    "sample); for bulk splitting prefer posexplode(split(...)), which stays "
    "in codegen — the point here is the API surface, proven equal to the "
    "pure-SQL expansion.",
)
def u02_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, doc_id: int, text: str):
            for i, s in enumerate(text.split(". ")):
                yield doc_id, i, s

    spark.udtf.register("split_sentences", SplitSentences)
    table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.sent_idx, s.sentence
        FROM udtf_docs d, LATERAL split_sentences(d.doc_id, d.text) s
        ORDER BY s.doc_id, s.sent_idx
        """
    )


@register(
    "u03_pandas_udaf_weighted",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) AS DOUBLE)
         / CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
         AS weighted_avg_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="Grouped-aggregate pandas UDAF (@pandas_udf returning a "
    "scalar, used inside groupBy().agg() — the third UDx shape after "
    "applyInPandas and UDTF): quantity-weighted average price.  The UDAF "
    "computes exact decimal sums inside Python then one double division, "
    "matching the oracle's decimal arithmetic bit-for-bit.  Caveat at "
    "scale: grouped-agg pandas UDFs materialize each group's columns in "
    "one Arrow batch (no partial aggregation) — fine for bounded groups, "
    "wrong for giant ones; the built-in decimal-sum idiom (q01) stays the "
    "default.",
)
def u03_pandas_udaf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import Decimal

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        # exact decimal accumulation, one final double division — the same
        # arithmetic the oracle's SUM(DECIMAL)/SUM(DECIMAL) performs
        num = sum(
            Decimal(f"{p * q:.4f}") for p, q in zip(price, qty)
        )
        den = sum(Decimal(f"{q:.2f}") for q in qty)
        return float(num) / float(den)

    @pandas_udf("long")
    def n_rows(qty: pd.Series) -> int:
        # pandas UDAFs can't mix with JVM aggregates in one agg() — the
        # count rides along as a second pandas UDAF
        return len(qty)

    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            weighted_avg(F.col("l_extendedprice"), F.col("l_quantity")).alias(
                "weighted_avg_price"
            ),
            n_rows(F.col("l_quantity")).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "u04_arrow_scalar_udf",
    oracle="""
SELECT p_partkey,
       CAST(length(p_name) * 2 + CASE WHEN contains(p_name, 'green')
            THEN 1 ELSE 0 END AS BIGINT) AS feature,
       upper(substr(p_type, 1, 5)) AS type_tag
FROM part
WHERE p_partkey <= 500
ORDER BY p_partkey
""",
    description="Arrow-optimized scalar Python UDF (Spark 4 "
    "``useArrow=True``): row-at-a-time Python semantics with Arrow batch "
    "transfer instead of pickled rows — the migration path for UDFs too "
    "twisted for pandas vectorization but too hot for the legacy pickle "
    "serializer.  The logic here is deliberately SQL-expressible so the "
    "oracle can verify the Arrow path end-to-end; in the battery's own "
    "ranking (core.py docstring) built-ins > pandas UDF > arrow UDF > "
    "pickled UDF, and t05/u01/u03 show the preferred tiers.",
)
def u04_arrow_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.udf(returnType="bigint", useArrow=True)
    def feature(name: str) -> int:
        return len(name) * 2 + (1 if "green" in name else 0)

    @F.udf(returnType="string", useArrow=True)
    def type_tag(t: str) -> str:
        return t[:5].upper()

    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return (
        p.select(
            "p_partkey",
            feature(F.col("p_name")).alias("feature"),
            type_tag(F.col("p_type")).alias("type_tag"),
        )
        .orderBy("p_partkey")
    )


@register(
    "u05_arrow_map_batches",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       upper(substr(text, 1, 16)) AS head_upper
FROM documents
ORDER BY doc_id
""",
    description="mapInArrow escape hatch: the whole-RecordBatch Arrow "
    "surface (no pandas conversion at all — pyarrow.compute kernels "
    "straight on the batch columns), the lowest-overhead Python hook "
    "for columnar libraries that speak Arrow natively (tokenizers, "
    "model runtimes).  Computes utf8_length and an uppercased prefix "
    "per document; the oracle is plain SQL.  Map-only, zero shuffle; "
    "batch size bounded by spark.sql.execution.arrow.maxRecordsPerBatch.",
)
def u05_arrow_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def arrow_fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            doc_id = batch.column("doc_id")
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    doc_id,
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.utf8_upper(pc.utf8_slice_codeunits(text, 0, 16)),
                ],
                names=["doc_id", "n_chars", "head_upper"],
            )

    return d.mapInArrow(
        arrow_fn, schema="doc_id bigint, n_chars bigint, head_upper string"
    ).orderBy("doc_id")


@register(
    "u06_python_datasource",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM documents
WHERE lang = 'en'
GROUP BY source
ORDER BY source
""",
    description="Custom Python Data Source (the Spark 4 DataSource API — "
    "a source implemented entirely in Python yet planned and distributed "
    "by the engine): documents.parquet is read through "
    "sources/py_datasource.py::DocsPyDataSource, which plans one "
    "InputPartition per parquet row group, ACCEPTS the lang='en' filter "
    "via pushFilters (rows are dropped inside the reader by pyarrow "
    "compute — the Python-source equivalent of PushedFilters), and "
    "yields Arrow record batches zero-copy into the scan.  The oracle is "
    "plain SQL over the same file, so the hash proves the whole custom-"
    "source loop: schema declaration, partition planning, pushdown, "
    "Arrow hand-off.  Scale shape: row-group-per-task is exactly how a "
    "100 TB directory fans out; the aggregate on top is one map-side-"
    "combinable shuffle on source.",
)
def u06_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agentic_etl_poc_spark.sources.py_datasource import register as reg

    reg(spark)
    # session-semantic conf (also in session.SEMANTIC_CONF): default-off
    # in Spark 4.1, and a reader that merely IMPLEMENTS pushFilters fails
    # analysis without it.  Set here too because this entry does not go
    # through io_tables.table/ensure_semantics; deliberately NOT restored
    # — the pushdown rule runs lazily at first action, so a set-then-
    # restore around plan creation would break the query it was set for.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    docs = (
        spark.read.format("pydocs")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .load()
    )
    return (
        docs.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("source")
    )


@register(
    "u07_python_writer",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
    description="Custom Python SINK with a two-phase commit protocol "
    "(Spark 4 DataSourceWriter — the write-path sibling of u06/v07): a "
    "per-language aggregate is written through sources/py_datasource.py::"
    "LedgerWriteDataSource, where every task stages an uncommitted NDJSON "
    "part and the driver-side commit() promotes exactly the acknowledged "
    "parts into a manifest; the battery result is the MANIFEST-LISTED "
    "files read back, so the hash proves the full exactly-once loop "
    "(stage -> ack -> commit -> manifest-scoped read; an aborted task's "
    "orphan file would be invisible).  Scale: one stage file per "
    "partition, commit is O(tasks) driver work — the same protocol shape "
    "as Spark's own FileCommitProtocol, expressed in pure Python.",
)
def u07_python_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from agentic_etl_poc_spark.sources.py_datasource import (
        read_ledger,
        register_writer,
    )

    register_writer(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_u07",
        sf_dir.strip(os.sep).replace(os.sep, "_"),
    )
    shutil.rmtree(out, ignore_errors=True)
    agg = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )
    from agentic_etl_poc_spark import plan_capture

    plan_capture.note("ledger_sink_input", agg)
    agg.write.format("pyledger").option("path", out).mode("append").save()
    back = read_ledger(spark, out)
    return back.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_sources").cast("bigint").alias("n_sources"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
    ).orderBy("lang")


@register(
    "u08_polymorphic_udtf",
    oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE doc_id % 20 = 0)
SELECT doc_id, w[1] AS w0, w[2] AS w1, w[3] AS w2
FROM s
ORDER BY doc_id
""",
    description="POLYMORPHIC Python UDTF (Spark 4 analyze() API — the "
    "dynamic sibling of u02's static UDTF): the output schema is not "
    "declared up front but computed at plan time by a static analyze() "
    "from the call's literal arguments — split_fixed(doc_id, text, 3) "
    "resolves to columns (doc_id, w0, w1, w2), split_fixed(..., 5) "
    "would resolve to seven.  This is the table-function shape for "
    "schema-bearing generators (parse-to-N-columns, pivoting "
    "connectors) where the width is a call-site parameter.  Same "
    "1-in-20 sample + row-at-a-time caveat as u02: the point is the "
    "API surface, proven equal to the pure-SQL projection.",
)
def u08_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SplitFixed:
        @staticmethod
        def analyze(
            doc_id: AnalyzeArgument, text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            schema = StructType().add("doc_id", LongType())
            for i in range(int(n.value)):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, doc_id: int, text: str, n: int):
            words = text.split(" ")
            yield (doc_id,) + tuple(
                words[i] if i < len(words) else None for i in range(n)
            )

    spark.udtf.register("split_fixed", udtf(SplitFixed))
    table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).createOrReplaceTempView("u08_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.w0, s.w1, s.w2
        FROM u08_docs d, LATERAL split_fixed(d.doc_id, d.text, 3) s
        ORDER BY s.doc_id
        """
    )


@register(
    "u09_arrow_udtf",
    oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE doc_id % 20 = 5)
SELECT doc_id,
       CAST(i - 1 AS INT) AS pos,
       ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
FROM s CROSS JOIN (SELECT unnest(range(1, 10000)) AS i) r
WHERE i + 2 <= len(ws)
ORDER BY doc_id, pos
""",
    description="ARROW-optimized Python UDTF (Spark 4 useArrow=True — "
    "the vectorized sibling of u02's pickled UDTF): word 3-shingles per "
    "document, lateral-joined.  The point is the EXECUTION PATH, and "
    "the plan lint proves it mechanically: this entry's plan shows "
    "ArrowEvalPythonUDTF and needs NO pickled-UDF allowlist entry "
    "(u02/u08 sit on BatchEvalPythonUDTF and do) — rows cross the "
    "Python boundary as Arrow batches, not pickled tuples, the same "
    "10-100x serialization lever pandas UDFs have over row UDFs.  "
    "Same 1-in-20 sample discipline as u02 (offset 5 so the two UDTF "
    "entries exercise disjoint documents); bulk shingling stays on "
    "posexplode/slice built-ins (the dedup family's path) — UDTFs are "
    "for generators built-ins cannot express.",
)
def u09_arrow_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, shingle string", useArrow=True)
    class ArrowShingles:
        def eval(self, doc_id: int, text: str):
            ws = text.split(" ")
            for i in range(len(ws) - 2):
                yield doc_id, i, " ".join(ws[i : i + 3])

    spark.udtf.register("arrow_shingles3", ArrowShingles)
    table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 5
    ).createOrReplaceTempView("u09_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.pos, s.shingle
        FROM u09_docs d, LATERAL arrow_shingles3(d.doc_id, d.text) s
        ORDER BY s.doc_id, s.pos
        """
    )


@register(
    "u10_python_stream_writer",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MIN(event_id) AS first_event
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="Custom Python STREAMING sink (Spark 4 "
    "DataSourceStreamWriter — the fourth quadrant of the custom-"
    "DataSource matrix after u06 batch read, v07 stream read, u07 batch "
    "write): the events stream drains over a THREE-batch staged topic "
    "into the 'pyledger_stream' sink, where each task stages an NDJSON "
    "part and the driver-side commit(messages, batchId) promotes "
    "acknowledged parts into the manifest IDEMPOTENTLY — a replayed "
    "batchId (the restart-between-sink-commit-and-checkpoint window, "
    "the classic streaming failure) changes nothing, which is how an "
    "at-least-once replay becomes exactly-once output.  The entry "
    "reads back ONLY manifest-listed parts and must reproduce the "
    "batch aggregate over all events, however the drain was batched.  "
    "Scale shape: parts are written task-parallel, the manifest merge "
    "is a driver-side O(files) metadata operation under the shared "
    "O_EXCL lock, and readers never see uncommitted or replay-orphaned "
    "parts.",
)
def u10_python_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.queries.streamq import (
        _drain_parts_for,
        _drain_partitions,
        _tribatch_stream_dir,
        STREAM_DRAIN_PARTITIONS,
    )
    from agentic_etl_poc_spark.sources.py_datasource import (
        read_ledger,
        register_stream_writer,
    )
    from agentic_etl_poc_spark.streaming.events import (
        _note_executed_stream_plan,
        stream_events,
    )

    register_stream_writer(spark)
    src = _tribatch_stream_dir(spark, sf_dir)
    root = run_root("u10", sf_dir)
    import os

    out = os.path.join(root, "ledger")
    parts = _drain_parts_for(spark, [src], STREAM_DRAIN_PARTITIONS)
    with _drain_partitions(spark, parts):
        stream = stream_events(
            spark, src, watermark="3650 days", max_files_per_trigger=1
        )
        q = (
            stream.select("event_id", "user_id", "event_type")
            .writeStream.format("pyledger_stream")
            .option("path", out)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _note_executed_stream_plan(q)
    return (
        read_ledger(spark, out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("event_id").cast("bigint").alias("first_event"),
        )
        .orderBy("event_type")
    )


@register(
    "u11_arrow_grouped_map",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
""",
    description="Grouped-map over RAW ARROW (Spark 4 applyInArrow — the "
    "zero-copy sibling of u01's applyInPandas: each group arrives as a "
    "pyarrow.Table and the kernel runs pyarrow.compute vectorized "
    "kernels, never materializing pandas objects — no Series boxing, "
    "no NumPy copy, the cheapest possible Python-side grouped map).  "
    "The kernel quantizes order totals to integer cents with the "
    "floor(x*100 + 0.5) idiom (bit-identical in both engines where "
    "round() half-tie rules differ) and emits exact int64 sums/maxima, "
    "so the oracle match proves the Arrow path end to end.  Scale "
    "shape: one shuffle on the 5-value priority key; inside each task "
    "the work is C-speed Arrow kernels; the completeness point is the "
    "custom-UDF matrix — scalar (u04), map (u05), UDTF (u09), grouped "
    "map (this) — all on the Arrow boundary.",
)
def u11_arrow_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")

    def agg(t: "pa.Table") -> "pa.Table":
        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(t["o_totalprice"], 100.0), 0.5)),
            pa.int64(),
        )
        return pa.table(
            {
                "priority": [t["o_orderpriority"][0].as_py()],
                "n": pa.array([t.num_rows], pa.int64()),
                "total_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    return (
        o.groupBy("o_orderpriority")
        .applyInArrow(
            agg,
            schema="priority string, n bigint, total_cents bigint, "
            "max_cents bigint",
        )
        .orderBy("priority")
    )
