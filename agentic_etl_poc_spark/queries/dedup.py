"""Deduplication battery — LLM-training-data operators at 100 TB design.

Five dedup families over ``documents`` (plus embedding near-dup over
``embeddings``), each expressed as idiomatic distributed DataFrame plans
with a matching DuckDB oracle:

- exact (hash-groupBy), normalized fingerprint (md5 of canonical text),
- n-gram Jaccard with document-frequency pruning (the classic
  candidate-generation trick: frequent shingles are dropped BEFORE the
  self-join, which is what keeps the join from exploding at corpus scale),
- MinHash + LSH banding (signature → band buckets → candidate pairs →
  exact-Jaccard verification — only candidates are verified),
- SimHash with banded candidate generation (4x12-bit bands guarantee every
  pair within Hamming distance 3 shares a band — pigeonhole),
- embedding cosine near-dup with label blocking.

The synthetic corpus has no natural duplicates, so each query injects
deterministic near-dups (a truncated copy of every 10th doc, id+1000000) —
the SAME construction in Spark and in the oracle, so results must agree.

Cross-engine hash/fold primitives: functions/hashing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agentic_etl_poc_spark.functions.hashing import (
    MERSENNE_P,
    MINHASH_PERMS,
    MINHASH_ROWS_PER_BAND,
    cosine,
    duck_cosine,
    duck_dot_fold,
    duck_md5_48,
    md5_48,
    np_cosines,
    np_dot_fold,
    np_sq_norms,
)
from agentic_etl_poc_spark.io_tables import table
from agentic_etl_poc_spark.queries.core import register

EMB_DIM = 64

#: Degenerate-LSH-bucket guard: a band bucket keeps only a DETERMINISTIC
#: SAMPLE of its lowest-MINHASH_BUCKET_CAP doc_ids (row_number over the
#: bucket key).  A bucket of B docs asserts B(B-1)/2 pairwise
#: verifications — quadratic in B — and buckets that large are
#: signature-collision artifacts of low-diversity shingle sets
#: (boilerplate/templates); every production LSH deployment caps or
#: re-shards them.  The round-8 sf10 audit measured the alternative:
#: uncapped, background bigram similarity made candidates grow x97 for
#: x10 docs (22.5M pairs, 86% from buckets > 20) and d04/d11 walls grow
#: x16-30.  Sampling (round-8 advisory) rather than dropping the whole
#: bucket keeps a near-dup cluster larger than the cap CONNECTED through
#: its lowest ids — round 8's drop-the-bucket rule lost every candidate
#: pair such a cluster produced, and the exact pass (d01) only backstops
#: byte-identical members.  The rule is mirrored EXACTLY in the DuckDB
#: oracles, and 32 is above any real bucket at the driver's scales (max
#: observed: 4 at sf0.01, 11 at sf0.1), so driver-checked results are
#: unchanged.
MINHASH_BUCKET_CAP = 32

# -- shared corpus-with-injected-near-dups construction -----------------

DUCK_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substr(text, 1, CAST(floor(length(text) * 0.8) AS INT))
  FROM documents WHERE doc_id % 10 = 0
)"""

# Word-bigram shingles: the unit for MinHash/SimHash/Jaccard.  Unigrams are
# useless on a small shared vocabulary (every doc contains most words →
# all-pairs similarity ~1); bigrams give a |V|^2-sized shingle space.
DUCK_GRAMS = """
grams AS (
  SELECT DISTINCT doc_id, gram
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' '))),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i + 1])) AS gram
    FROM corpus
  )
)"""


def spark_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.8) as int))"
        ).alias("text"),
    )
    return d.unionByName(mutated)


def spark_grams(corpus: DataFrame) -> DataFrame:
    """Distinct word-bigram shingles per doc, built array-side — mirrors
    DUCK_GRAMS exactly.  Two deliberate physical choices:

    - distinctness is per (doc_id, gram), so array_distinct runs BEFORE
      the explode: zero shuffle, vs a full shuffle of every shingle row
      for ``.distinct()`` after;
    - bigrams come from zip_with over two slices of a PRE-PROJECTED words
      column (one concat per element; a 1-word doc slices to [] for free).
      The transform(sequence, element_at) alternative is ~4x slower: the
      higher-order lambda is interpreted (no whole-stage codegen) and
      re-evaluates split() per reference unless it sits behind its own
      projection."""
    w = corpus.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n = F.size(F.col("ws"))
    bigrams = F.zip_with(
        F.slice(F.col("ws"), 1, n - 1),
        F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return w.select(
        "doc_id", F.explode(F.array_distinct(bigrams)).alias("gram")
    )


# Session-scoped shared intermediates (queries/core.py::shared_frame):
# d04/d05/d07/d09/d10 all start from the same shingle table, and
# d04/d07/d09/d10 from the same verified pair set.  Partition counts are
# bounded by the data-sized shuffle conf before persist (AQE cannot
# re-coalesce cached plans).
from agentic_etl_poc_spark.queries.core import shared_frame as _shared_frame


def _shared(spark: SparkSession, sf_dir: str, what: str, build) -> DataFrame:
    return _shared_frame(spark, sf_dir, f"dedup:{what}", build)


def shared_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, gram) shingles, hash-partitioned by doc_id —
    the single explicit exchange reused by every doc_id-keyed consumer."""
    return _shared(
        spark,
        sf_dir,
        "toks",
        lambda: spark_grams(spark_corpus(spark, sf_dir)).repartition("doc_id"),
    )


# ----------------------------------------------------------------------


@register(
    "d01_dedup_exact",
    oracle=f"""
WITH {DUCK_CORPUS}
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM corpus
GROUP BY md5(text)
ORDER BY text_hash
""",
    description="Exact dedup via hash-groupBy: one keeper (min id) per "
    "distinct text.  Shuffles once on the text hash; at 100 TB the md5 key "
    "(16 bytes) shuffles instead of the document bodies.",
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark_corpus(spark, sf_dir)
    return (
        c.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("text_hash")
    )


@register(
    "d02_dedup_fingerprint",
    oracle=f"""
WITH {DUCK_CORPUS},
norm AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g')) AS fp
  FROM corpus
)
SELECT fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM norm
GROUP BY fp
HAVING COUNT(*) >= 1
ORDER BY fp
""",
    description="Canonicalized-fingerprint dedup: lower/trim/strip-punct "
    "then md5 — catches case/punctuation variants exact dedup misses.",
)
def d02_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark_corpus(spark, sf_dir)
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", ""))
    return (
        c.groupBy(fp.alias("fp"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("fp")
    )


@register(
    "d03_ngram_jaccard",
    oracle=f"""
WITH {DUCK_CORPUS},
{DUCK_GRAMS},
df AS (SELECT gram, COUNT(*) AS doc_freq FROM grams GROUP BY gram),
rare AS (
  SELECT g.doc_id, g.gram FROM grams g JOIN df ON g.gram = df.gram
  WHERE df.doc_freq <= 20
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY doc_id),
pair_counts AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.id1, p.id2, p.shared,
       CAST(p.shared AS DOUBLE) / (s1.sz + s2.sz - p.shared) AS jaccard
FROM pair_counts p
JOIN sizes s1 ON p.id1 = s1.doc_id
JOIN sizes s2 ON p.id2 = s2.doc_id
WHERE CAST(p.shared AS DOUBLE) / (s1.sz + s2.sz - p.shared) >= 0.3
ORDER BY id1, id2
""",
    description="Word-bigram Jaccard near-dup with document-frequency "
    "pruning (shingles in >20 docs dropped before the self-join — bounds "
    "the candidate explosion that kills naive all-pairs at scale).",
)
def d03_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark_corpus(spark, sf_dir)
    # One explicit shuffle on gram; every downstream consumer (doc-freq
    # agg, the rare filter join, and both sides of the pair self-join)
    # requires exactly this partitioning, so Catalyst reuses the single
    # exchange instead of re-exploding the corpus four times.  NOT fed
    # from the shared_toks cache deliberately: AQE plans a cached source
    # as TableCacheQueryStages and then fails to unify the four identical
    # repartition(gram) exchanges above it (measured: 1 reused exchange
    # becomes 4 separate shuffles), which costs more than the re-explode
    # saves.
    grams = spark_grams(c).repartition("gram")
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    rare = grams.join(
        df_counts.filter(F.col("doc_freq") <= 20).select("gram"), "gram"
    )
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = rare.alias("a")
    b = rare.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("shared").cast("double") / (
        F.col("s1.sz") + F.col("s2.sz") - F.col("shared")
    )
    return (
        pairs.join(s1, F.col("id1") == F.col("s1.doc_id"))
        .join(s2, F.col("id2") == F.col("s2.doc_id"))
        .select("id1", "id2", "shared", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("id1", "id2")
    )


def _duck_perms_values() -> str:
    return ", ".join(f"({i}, {a}, {b})" for i, a, b in MINHASH_PERMS)


#: Shared CTE chain ending in ``pairs(id1, id2, jaccard)`` — the verified
#: MinHash near-dup pairs.  Used by d04 (reports pairs) and d07 (clusters
#: them into connected components).
DUCK_MINHASH_PAIRS = f"""{DUCK_CORPUS},
{DUCK_GRAMS},
hashes AS (
  SELECT doc_id, {duck_md5_48('gram')} % {MERSENNE_P} AS h0 FROM grams
),
perms(i, a, b) AS (VALUES {_duck_perms_values()}),
minhash AS (
  SELECT doc_id, i, MIN((a * h0 + b) % {MERSENNE_P}) AS m
  FROM hashes CROSS JOIN perms
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // {MINHASH_ROWS_PER_BAND} AS band,
         string_agg(CAST(m AS VARCHAR), '-' ORDER BY i) AS sig
  FROM minhash GROUP BY doc_id, i // {MINHASH_ROWS_PER_BAND}
),
kept AS (
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, band, sig,
           ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
    FROM bands
  ) WHERE rk <= {MINHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
  FROM kept b1 JOIN kept b2
    ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, COUNT(*) AS shared
  FROM cand c
  JOIN grams t1 ON t1.doc_id = c.id1
  JOIN grams t2 ON t2.doc_id = c.id2 AND t1.gram = t2.gram
  GROUP BY c.id1, c.id2
),
pairs AS (
  SELECT i.id1, i.id2,
         CAST(i.shared AS DOUBLE) / (s1.sz + s2.sz - i.shared) AS jaccard
  FROM inter i
  JOIN sizes s1 ON i.id1 = s1.doc_id
  JOIN sizes s2 ON i.id2 = s2.doc_id
  WHERE CAST(i.shared AS DOUBLE) / (s1.sz + s2.sz - i.shared) >= 0.5
)"""


@register(
    "d04_minhash_lsh",
    oracle=f"""
WITH {DUCK_MINHASH_PAIRS}
SELECT id1, id2, jaccard FROM pairs
ORDER BY id1, id2
""",
    description="MinHash(12 perms) + LSH(4 bands x 3): band-bucket join "
    "generates candidates, exact token-Jaccard verifies ONLY candidates. "
    "The shuffle key is the 3-value band signature — tiny vs documents. "
    "Portable hashing: md5-48bit + (a*h+b) mod 2^31-1 (no overflow).",
)
def d04_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_verified_pairs(spark, sf_dir).orderBy("id1", "id2")


def minhash_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate sketch + exact-overlap statistics for EVERY LSH
    band candidate pair (pre-threshold): (id1, id2, n_match, shared,
    union_sz).  This is the expensive part of the whole MinHash family —
    computed once per (session, dir), persisted, and fanned out to d04
    (threshold -> verified pairs), d11 (sketch-error eval), and through
    the verified pairs to d07/d09/d10.  Compute-once-fan-out is the
    shape a production dedup run has at 100 TB: candidates and their
    verification stats are materialized a single time, every downstream
    decision (threshold choice, sketch audit, clustering) reads them."""
    return _shared(
        spark,
        sf_dir,
        "minhash_cand_stats",
        lambda: _build_candidate_stats(spark, sf_dir),
    )


def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash near-dup pairs (id1 < id2, jaccard >= 0.5) —
    shared by d04 (reporting), d07 (clustering), and d09 (containment);
    a cheap projection over the persisted candidate stats."""
    stats = minhash_candidate_stats(spark, sf_dir)
    jac = F.col("shared").cast("double") / F.col("union_sz")
    return stats.select("id1", "id2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.5
    )


def _minhash_wide(toks: DataFrame) -> DataFrame:
    """Wide MinHash signatures (doc_id, m0..m11).  All 12 permutation
    minima in ONE groupBy(doc_id) with 12 agg columns: partial (map-side)
    aggregation shrinks the shuffle to one row per (doc, partition) — vs
    the naive grams x perms crossJoin, which shuffles 12x the shingle
    count and then shuffles again for banding."""
    hashes = toks.select(
        "doc_id", (md5_48(F.col("gram")) % MERSENNE_P).alias("h0")
    )
    return hashes.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h0") + F.lit(b)) % MERSENNE_P).alias(f"m{i}")
            for i, a, b in MINHASH_PERMS
        ]
    )


def _band_candidates(minhash: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs (id1 < id2) from wide signatures:
    stack to (doc_id, band, sig), self-join on the band signature — the
    shuffle key is the tiny signature string, never the documents."""
    n_bands = len(MINHASH_PERMS) // MINHASH_ROWS_PER_BAND
    band_sigs = [
        F.concat_ws(
            "-",
            *[
                F.col(f"m{k * MINHASH_ROWS_PER_BAND + j}").cast("string")
                for j in range(MINHASH_ROWS_PER_BAND)
            ],
        ).alias(f"sig{k}")
        for k in range(n_bands)
    ]
    stack = ", ".join(f"{k}, sig{k}" for k in range(n_bands))
    bands = minhash.select("doc_id", *band_sigs).select(
        "doc_id", F.expr(f"stack({n_bands}, {stack}) as (band, sig)")
    )
    # degenerate-bucket guard (see MINHASH_BUCKET_CAP): a deterministic
    # lowest-CAP sample per bucket, via a row_number over the SAME
    # (band, sig) key the self-join shuffles on — no extra exchange
    from pyspark.sql.window import Window

    bands = (
        bands.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("band", "sig").orderBy("doc_id")
            ),
        )
        .filter(F.col("rk") <= MINHASH_BUCKET_CAP)
        .drop("rk")
    )
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    return (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.sig") == F.col("b2.sig"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("id1"), F.col("b2.doc_id").alias("id2")
        )
        .distinct()
    )


def _build_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single explicit shuffle on doc_id, reused by the signature agg, the
    # doc-size agg, and both verification joins (all keyed on doc_id).
    toks = shared_toks(spark, sf_dir)
    # Round-12 (guide §2.4): the wide-signature aggregate feeds THREE
    # consumers (the band stack + both sketch-agreement sides); Catalyst
    # reuses EXCHANGES, not aggregate subtrees, so left lazy each
    # consumer re-ran the 12-min aggregation.  The frame is 1 row/doc
    # (13 bigints) at any sf — localCheckpoint materializes it ONCE and
    # resets its plan to an RDD scan.  The candidate PAIR frame is
    # deliberately NOT checkpointed: its two consumers sit above the
    # distinct's own exchange (runtime-reusable), and at sf10 the pair
    # set is large enough that pinning it in block-manager storage
    # showed GC pressure in the isolation probe.  Runs once per
    # (session, dir): this builder sits behind the shared_frame memo.
    minhash = _minhash_wide(toks).localCheckpoint(eager=True)
    cand = _band_candidates(minhash)
    # sketch agreement: join the 1-row-per-doc wide signatures to each
    # side of the candidate pair and count matching minima
    w1 = minhash.select(
        F.col("doc_id").alias("id1"),
        *[F.col(f"m{i}").alias(f"a{i}") for i, _, _ in MINHASH_PERMS],
    )
    w2 = minhash.select(
        F.col("doc_id").alias("id2"),
        *[F.col(f"m{i}").alias(f"b{i}") for i, _, _ in MINHASH_PERMS],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("bigint")
        for i, _, _ in MINHASH_PERMS
    )
    est = cand.join(w1, "id1").join(w2, "id2").select(
        "id1", "id2", n_match.alias("n_match")
    )
    # Round 13 (guide §8 + §2.3): the exact-overlap join used to explode
    # every candidate pair into one row per gram of doc1 (sf10: 8.97M
    # pairs x ~55 grams = 495M (id1, id2, gram-string) rows through the
    # (id2, gram)-keyed exchange — 147 of d04's 234 s isolated).  The
    # intersection now moves per-PAIR arrays instead of per-gram rows:
    #
    # - grams get dense per-run integer ids from a DISTINCT-gram
    #   dictionary (monotonically_increasing_id — ANY injective map
    #   preserves gram equality exactly, so every `shared` count is
    #   unchanged by construction; no hashing, no collision risk);
    # - each doc's gid ARRAY is built once (doc-count-scale frame, the
    #   shuffle key is the doc id);
    # - each candidate pair ships exactly two ~55-int arrays across the
    #   Arrow boundary once, and a batched NumPy kernel counts
    #   |g1 ∩ g2| per pair (set semantics: toks is distinct per doc, so
    #   intersect1d(assume_unique) counts exactly the equal-gram pairs
    #   the retired join counted).
    #
    # sizes ride the same arrays (size(gids) == the retired per-doc
    # count).  Pinned against the retired join by
    # tests/test_d04_inter_arrays.py; the whole d04/d07/d09/d10/d11
    # family stays oracle-gated.
    gdict = toks.select("gram").distinct().withColumn(
        "gid", F.monotonically_increasing_id()
    )
    # monotonically_increasing_id is attempt-nondeterministic, so the
    # gid-carrying frame is materialized ONCE (doc-count-scale, ~55
    # ints/doc): both pair-side consumers scan the same blocks and see
    # one consistent injective gram->gid assignment — a lazy dictionary
    # re-derived under a task retry could map equal grams to different
    # ids across the two branches.
    docarr = (
        toks.join(gdict, "gram")
        .groupBy("doc_id")
        .agg(F.collect_list("gid").alias("gids"))
        .localCheckpoint(eager=True)
    )
    a1 = docarr.select(
        F.col("doc_id").alias("id1"),
        F.col("gids").alias("g1"),
        F.size("gids").cast("bigint").alias("sz1"),
    )
    a2 = docarr.select(
        F.col("doc_id").alias("id2"),
        F.col("gids").alias("g2"),
        F.size("gids").cast("bigint").alias("sz2"),
    )

    import numpy as np
    import pandas as pd

    def shared_counts(batches):
        for pdf in batches:
            g1s = pdf["g1"].to_numpy()
            g2s = pdf["g2"].to_numpy()
            shared = np.fromiter(
                (
                    np.intersect1d(g1s[i], g2s[i], assume_unique=True).size
                    for i in range(len(pdf))
                ),
                dtype=np.int64,
                count=len(pdf),
            )
            yield pd.DataFrame(
                {
                    "id1": pdf["id1"].to_numpy(),
                    "id2": pdf["id2"].to_numpy(),
                    "shared": shared,
                    "union_sz": pdf["sz1"].to_numpy()
                    + pdf["sz2"].to_numpy()
                    - shared,
                }
            )

    overlap = (
        cand.join(a1, "id1")
        .join(a2, "id2")
        .mapInPandas(
            shared_counts,
            "id1 bigint, id2 bigint, shared bigint, union_sz bigint",
        )
    )
    return est.join(overlap, ["id1", "id2"]).select(
        "id1", "id2", "n_match", "shared", "union_sz"
    )


# Recursive min-reachable-id fixpoint over the verified pair graph —
# shared by d07 (cluster report) and d10 (survivor selection).
DUCK_CLUSTERS = f"""{DUCK_MINHASH_PAIRS},
edges AS MATERIALIZED (  -- else DuckDB inlines the whole MinHash pipeline
                         -- into EVERY recursion step (measured 16x slower)
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION ALL
  SELECT id2, id1 FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
step(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, s.label FROM step s JOIN edges e ON s.node = e.src
),
assign AS (SELECT node AS doc_id, MIN(label) AS cluster_id
           FROM step GROUP BY node)"""


def shared_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels (node, label) over the verified MinHash
    pair graph — computed once per (session, dir), shared by d07/d10."""
    from agentic_etl_poc_spark.operators.graph import connected_components

    return _shared(
        spark,
        sf_dir,
        "cc_labels",
        lambda: connected_components(
            minhash_verified_pairs(spark, sf_dir), src="id1", dst="id2"
        ),
    )


@register(
    "d07_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {DUCK_CLUSTERS}
SELECT a.doc_id, a.cluster_id, c.cluster_size
FROM assign a
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM assign GROUP BY cluster_id) c USING (cluster_id)
ORDER BY a.doc_id
""",
    description="Near-dup CLUSTERING: connected components over the "
    "verified MinHash pair graph via min-label propagation with POINTER "
    "JUMPING (label <- min(label, label[label]) doubles the horizon per "
    "round, so rounds ~ O(log diameter), not O(diameter)) and periodic "
    "localCheckpoint to cut lineage — the keep-one-per-cluster step that "
    "turns pairwise near-dups into an actual dedup decision, shaped for "
    "billion-edge graphs (operators/graph.py).  "
    "Oracle: recursive CTE computing the same min-reachable-id fixpoint.",
)
def d07_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = shared_cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


@register(
    "d05_simhash",
    oracle=f"""
WITH {DUCK_CORPUS},
{DUCK_GRAMS},
hashes AS (
  SELECT doc_id, {duck_md5_48('gram')} AS h0 FROM grams
),
bitsum AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h0 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM hashes CROSS JOIN (SELECT unnest(range(0, 48)) AS bit)
  GROUP BY doc_id, bit
),
sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN w > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sh
  FROM bitsum GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b, (sh >> (12 * b)) & 4095 AS band_val, sh
  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2, x.sh AS sh1, y.sh AS sh2
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.band_val = y.band_val AND x.doc_id < y.doc_id
)
SELECT id1, id2, bit_count(xor(sh1, sh2)) AS hamming
FROM cand
WHERE bit_count(xor(sh1, sh2)) <= 8
ORDER BY id1, id2
""",
    description="48-bit SimHash near-dup: per-bit weighted sums of word "
    "hashes, banded 4x12 bits for candidate generation (pigeonhole: every "
    "pair within Hamming<=3 must share a band — no all-pairs scan), "
    "Hamming filter via xor+bit_count.",
)
def d05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = shared_toks(spark, sf_dir)
    hashes = toks.select("doc_id", md5_48(F.col("gram")).alias("h0"))
    # All 48 per-bit weighted sums in ONE groupBy(doc_id) with 48 agg
    # columns (bit positions are literals, so shiftright works): map-side
    # partial agg makes the shuffle one row per (doc, partition) — vs the
    # naive grams x bits crossJoin, which shuffles 48x the shingle count.
    bitsum = hashes.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h0"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"w{b}")
            for b in range(48)
        ]
    )
    sh = F.lit(0).cast("bigint")
    for b in range(48):
        sh = sh + F.when(F.col(f"w{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    # round-12 (the d04 lesson): the 48-column bit-sum aggregate feeds
    # BOTH sides of the band self-join; left lazy each side re-ran the
    # corpus-sized aggregation (exchange reuse covers the shuffle, not
    # the aggregate).  The signature frame is 1 row/doc (two bigints) —
    # materialize it once.
    sim = bitsum.select(
        "doc_id", sh.cast("bigint").alias("sh")
    ).localCheckpoint(eager=True)
    band_vals = [
        F.shiftright(F.col("sh"), 12 * k).bitwiseAND(F.lit(4095)).alias(f"bv{k}")
        for k in range(4)
    ]
    stack = ", ".join(f"{k}, bv{k}" for k in range(4))
    bands = sim.select("doc_id", "sh", *band_vals).select(
        "doc_id",
        "sh",
        F.expr(f"stack(4, {stack}) as (b, band_val)"),
    )
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id1"),
            F.col("y.doc_id").alias("id2"),
            F.col("x.sh").alias("sh1"),
            F.col("y.sh").alias("sh2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (
        cand.select("id1", "id2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 8)
        .orderBy("id1", "id2")
    )


@register(
    "d06_embedding_neardup",
    oracle=f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {duck_cosine('a.embedding', 'b.embedding', EMB_DIM)} AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
ORDER BY cos_sim DESC, id1 ASC, id2 ASC
LIMIT 20
""",
    description="Embedding cosine near-dup, label-blocked: candidate pairs "
    "only within the same label block (10x fewer pairs than all-pairs; at "
    "scale the blocker would be an LSH bucket or IVF cell).  Sequential "
    "double fold = bit-identical cosine across engines.",
)
def d06_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.functions.hashing import dot_fold

    # Squared norms are per-VECTOR, so fold them once before the pair join
    # (n rows) instead of twice per PAIR (n^2/blocks rows).  cos_sim is the
    # same expression tree the oracle uses — dot/(sqrt(nsq1*nsq2)) — on
    # identical per-vector values, so doubles stay bit-identical.
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        dot_fold(F.col("embedding"), F.col("embedding")).alias("nsq"),
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = dot_fold(F.col("a.embedding"), F.col("b.embedding")) / F.sqrt(
        F.col("a.nsq") * F.col("b.nsq")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            cos.alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id1"), F.asc("id2"))
        .limit(20)
    )


@register(
    "d08_fuzzy_levenshtein",
    oracle="""
WITH names AS (
  SELECT p_partkey, p_name FROM part WHERE p_partkey < 200
),
words AS (
  SELECT p_partkey, p_name, unnest(string_split(p_name, ' ')) AS w
  FROM names
),
cand AS (
  SELECT DISTINCT a.p_partkey AS id1, b.p_partkey AS id2,
         a.p_name AS name1, b.p_name AS name2
  FROM words a JOIN words b
    ON a.w = b.w AND a.p_partkey < b.p_partkey
)
SELECT id1, id2,
       CAST(levenshtein(name1, name2) AS BIGINT) AS edit_dist,
       1.0 - CAST(levenshtein(name1, name2) AS DOUBLE)
           / CAST(greatest(length(name1), length(name2)) AS DOUBLE)
         AS similarity
FROM cand
WHERE levenshtein(name1, name2) <= 8
ORDER BY id1, id2
""",
    description="Fuzzy record linkage via Levenshtein edit distance (both "
    "engines implement the same DP) with a normalized similarity score — "
    "the primitive between exact dedup (d01/d02) and shingle methods "
    "(d03-d05).  Candidate generation is a BLOCKED EQUI-JOIN on shared "
    "words (explode names to (id, word), hash-join on word, distinct "
    "pairs), with the edit-distance verify only on candidates — the "
    "standard record-linkage shape that scales: no nested-loop, no cross "
    "join, the shuffle is keyed on the blocking token.  Blocking trades "
    "recall for that equi-join (a pair sharing no word is never compared) "
    "— both engines apply the identical rule.",
)
def d08_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    words = p.select(
        "p_partkey",
        "p_name",
        F.explode(F.split(F.col("p_name"), " ")).alias("w"),
    )
    a = words.select(
        F.col("p_partkey").alias("id1"), F.col("p_name").alias("name1"),
        F.col("w").alias("w1"),
    )
    b = words.select(
        F.col("p_partkey").alias("id2"), F.col("p_name").alias("name2"),
        F.col("w").alias("w2"),
    )
    cand = (
        a.join(b, (F.col("w1") == F.col("w2")) & (F.col("id1") < F.col("id2")))
        .select("id1", "id2", "name1", "name2")
        .distinct()
    )
    dist = F.levenshtein(F.col("name1"), F.col("name2"))
    sim = F.lit(1.0) - dist.cast("double") / F.greatest(
        F.length("name1"), F.length("name2")
    ).cast("double")
    return (
        cand.filter(dist <= 8)
        .select(
            "id1", "id2",
            dist.cast("bigint").alias("edit_dist"),
            sim.alias("similarity"),
        )
        .orderBy("id1", "id2")
    )


@register(
    "d09_containment",
    oracle=f"""
WITH RECURSIVE {DUCK_MINHASH_PAIRS},
texts AS (SELECT doc_id, text FROM corpus)
SELECT p.id1, p.id2,
       (strpos(t2.text, t1.text) > 0) AS id1_in_id2,
       (strpos(t1.text, t2.text) > 0) AS id2_in_id1,
       CAST(length(t1.text) AS BIGINT) AS len1,
       CAST(length(t2.text) AS BIGINT) AS len2
FROM pairs p
JOIN texts t1 ON p.id1 = t1.doc_id
JOIN texts t2 ON p.id2 = t2.doc_id
ORDER BY p.id1, p.id2
""",
    description="Containment dedup: for each verified near-dup pair, test "
    "exact substring containment (the truncated-copy case — one doc IS a "
    "prefix/substring of the other, the strongest dedup signal short of "
    "equality).  Containment is only tested on the tiny candidate set "
    "from the MinHash pipeline — never all pairs: at 100 TB the O(n^2) "
    "containment scan is exactly what LSH candidate generation avoids.",
)
def d09_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark_corpus(spark, sf_dir)
    pairs = minhash_verified_pairs(spark, sf_dir).select("id1", "id2")
    t1 = c.select(F.col("doc_id").alias("id1"), F.col("text").alias("text1"))
    t2 = c.select(F.col("doc_id").alias("id2"), F.col("text").alias("text2"))
    return (
        pairs.join(t1, "id1")
        .join(t2, "id2")
        .select(
            "id1",
            "id2",
            (F.instr(F.col("text2"), F.col("text1")) > 0).alias("id1_in_id2"),
            (F.instr(F.col("text1"), F.col("text2")) > 0).alias("id2_in_id1"),
            F.length("text1").cast("bigint").alias("len1"),
            F.length("text2").cast("bigint").alias("len2"),
        )
        .orderBy("id1", "id2")
    )


@register(
    "d10_cluster_survivors",
    oracle=f"""
WITH RECURSIVE {DUCK_CLUSTERS},
texts AS (SELECT doc_id, length(text) AS n_chars FROM corpus),
joined AS (
  SELECT a.cluster_id, a.doc_id, t.n_chars
  FROM assign a JOIN texts t USING (doc_id)
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       arg_max(doc_id, n_chars * 1000000000 - doc_id) AS survivor_id,
       CAST(MAX(n_chars) AS BIGINT) AS survivor_chars,
       CAST(SUM(n_chars) - MAX(n_chars) AS BIGINT) AS chars_removed
FROM joined
GROUP BY cluster_id
ORDER BY cluster_id
""",
    description="The dedup DECISION d01-d09 build toward: per near-dup "
    "cluster keep ONE survivor (longest text, ties to the lowest doc_id "
    "via the exact scalar n_chars*1e9 - doc_id — int64 math, no float) "
    "and report the bytes removed.  Rides the session-shared cluster "
    "labels (d07) and verified pairs (d04): in a real pipeline this is "
    "one extra shuffle (cluster_id) over already-materialized state, and "
    "that is what it costs here too.",
)
def d10_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = shared_cluster_labels(spark, sf_dir)
    texts = spark_corpus(spark, sf_dir).select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )
    j = labels.join(
        texts, labels["node"] == texts["doc_id"]
    ).select(F.col("label").alias("cluster_id"), "doc_id", "n_chars")
    pick = F.col("n_chars") * F.lit(1000000000).cast("bigint") - F.col("doc_id")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by("doc_id", pick).alias("survivor_id"),
            F.max("n_chars").alias("survivor_chars"),
            (F.sum("n_chars") - F.max("n_chars"))
            .cast("bigint")
            .alias("chars_removed"),
        )
        .orderBy("cluster_id")
    )


_N_PERMS = len(MINHASH_PERMS)

#: Unverified LSH candidates with BOTH the sketch estimate and the exact
#: Jaccard — the evaluation harness behind choosing bands x rows.
DUCK_SKETCH_EVAL = f"""{DUCK_CORPUS},
{DUCK_GRAMS},
hashes AS (
  SELECT doc_id, {duck_md5_48('gram')} % {MERSENNE_P} AS h0 FROM grams
),
perms(i, a, b) AS (VALUES {_duck_perms_values()}),
minhash AS (
  SELECT doc_id, i, MIN((a * h0 + b) % {MERSENNE_P}) AS m
  FROM hashes CROSS JOIN perms
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // {MINHASH_ROWS_PER_BAND} AS band,
         string_agg(CAST(m AS VARCHAR), '-' ORDER BY i) AS sig
  FROM minhash GROUP BY doc_id, i // {MINHASH_ROWS_PER_BAND}
),
kept AS (
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, band, sig,
           ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
    FROM bands
  ) WHERE rk <= {MINHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
  FROM kept b1 JOIN kept b2
    ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id
),
matches AS (
  SELECT c.id1, c.id2,
         SUM(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS n_match
  FROM cand c
  JOIN minhash m1 ON m1.doc_id = c.id1
  JOIN minhash m2 ON m2.doc_id = c.id2 AND m1.i = m2.i
  GROUP BY c.id1, c.id2
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, COUNT(*) AS shared
  FROM cand c
  JOIN grams t1 ON t1.doc_id = c.id1
  JOIN grams t2 ON t2.doc_id = c.id2 AND t1.gram = t2.gram
  GROUP BY c.id1, c.id2
),
eval AS (
  SELECT m.id1, m.id2,
         CAST(m.n_match AS BIGINT) AS n_match,
         CAST(COALESCE(i.shared, 0) AS BIGINT) AS shared,
         CAST(s1.sz + s2.sz - COALESCE(i.shared, 0) AS BIGINT) AS union_sz
  FROM matches m
  LEFT JOIN inter i ON m.id1 = i.id1 AND m.id2 = i.id2
  JOIN sizes s1 ON m.id1 = s1.doc_id
  JOIN sizes s2 ON m.id2 = s2.doc_id
)"""


@register(
    "d11_sketch_error",
    oracle=f"""
WITH {DUCK_SKETCH_EVAL}
SELECT id1, id2, n_match, shared, union_sz,
       CAST(n_match * 1000 // {_N_PERMS} AS BIGINT) AS est_milli,
       CAST(shared * 1000 // union_sz AS BIGINT) AS exact_milli,
       CAST(ABS(n_match * 1000 // {_N_PERMS}
                - shared * 1000 // union_sz) AS BIGINT) AS err_milli
FROM eval
ORDER BY id1, id2
""",
    description="Sketch-accuracy evaluation: for every LSH candidate pair "
    "(band-bucket join, BEFORE the verification threshold), the MinHash "
    f"Jaccard estimate (matching minima / {_N_PERMS} permutations) next "
    "to the exact shingle Jaccard, with the absolute error — the harness "
    "that tunes bands x rows-per-band before committing a 100 TB dedup "
    "run (too-small sketches pass false candidates; the error column "
    "quantifies it).  All ratios are integer milli-units (integer DIV), "
    "so the driver hash is exact.  Scale shape: signatures aggregate "
    "map-side on the shared doc_id exchange; the estimate join touches "
    "only the 1-row-per-doc signature table; exact Jaccard is computed "
    "ONLY for candidates (never all pairs).",
)
def d11_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pure projection over the persisted candidate stats (built once,
    # shared with d04/d07/d09/d10 — see minhash_candidate_stats)
    stats = minhash_candidate_stats(spark, sf_dir)
    return stats.select(
        "id1",
        "id2",
        "n_match",
        "shared",
        "union_sz",
        F.expr(f"n_match * 1000 div {_N_PERMS}").cast("bigint").alias("est_milli"),
        F.expr("shared * 1000 div union_sz").cast("bigint").alias("exact_milli"),
        F.abs(
            F.expr(f"n_match * 1000 div {_N_PERMS}")
            - F.expr("shared * 1000 div union_sz")
        )
        .cast("bigint")
        .alias("err_milli"),
    ).orderBy("id1", "id2")


D12_MIN_CELLS = 4
D12_TAU = 0.8

#: d12's CTE chain through ``d12_assigned`` / ``d12_dropped``, reading
#: from an ``emb_corpus(vec_id, embedding)`` CTE the caller prepends —
#: shared verbatim by the d12 oracle (raw embeddings passthrough) and
#: d16's recall audit.  Same SQL as the round-6-green d12 oracle, CTE
#: names prefixed.
DUCK_D12_CHAIN = f"""d12_k AS (
  SELECT GREATEST({D12_MIN_CELLS},
                  CAST(floor(sqrt(COUNT(*))) AS BIGINT)) AS k
  FROM emb_corpus
),
d12_cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec FROM emb_corpus, d12_k
  WHERE vec_id < d12_k.k
),
d12_assigned AS (
  SELECT vec_id, embedding, cell_id, cent_sim FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           {duck_cosine('e.embedding', 'c.cvec', EMB_DIM)} AS cent_sim,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {duck_cosine('e.embedding', 'c.cvec', EMB_DIM)} DESC,
                      c.cell_id ASC) AS rn
    FROM emb_corpus e CROSS JOIN d12_cents c
  ) WHERE rn = 1
),
d12_dropped AS (
  SELECT DISTINCT x.vec_id
  FROM d12_assigned x JOIN d12_assigned y
    ON x.cell_id = y.cell_id
   AND (y.cent_sim > x.cent_sim
        OR (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id))
  WHERE {duck_cosine('x.embedding', 'y.embedding', EMB_DIM)} > {D12_TAU}
)"""


@register(
    "d12_semantic_dedup",
    oracle=f"""
WITH emb_corpus AS (SELECT vec_id, embedding FROM embeddings),
{DUCK_D12_CHAIN}
SELECT a.vec_id,
       CAST(a.cell_id AS BIGINT) AS cell_id,
       (d.vec_id IS NOT NULL) AS is_dup
FROM d12_assigned a LEFT JOIN d12_dropped d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
""",
    description="SemDeDup-style SEMANTIC deduplication: cluster the "
    "embedding space with a deterministic coarse quantizer (the first "
    "⌊√n⌋ vectors as centroids, argmax-cosine assignment — same "
    "stand-in-for-k-means scheme as s03), then WITHIN each cluster drop "
    "every vector that has a higher-priority near-twin (pairwise cosine "
    f"> {D12_TAU}; priority = centroid-similarity DESC then vec_id — the "
    "most-central copy of each semantic group survives).  One-shot "
    "priority rule, not sequential greedy: x is a duplicate iff SOME "
    "higher-priority y in its cluster is τ-close, which SQL states "
    "exactly (the oracle hash pins every per-vector decision).  Scale "
    "shape: the ⌊√n⌋ centroids broadcast once per task, assignment is "
    "one vectorized NumPy pass per vector batch (bit-identical to the "
    "interpreted per-centroid fold it replaced — round 13), and the "
    "quadratic pair scan is BOUNDED PER "
    "CLUSTER (keyed shuffle on cell_id) with an Arrow-vectorized "
    "per-pair cosine.  The centroid count SCALES "
    "with the corpus — k = ⌊√n⌋ "
    "— so cell OCCUPANCY stays ~√n and both the assignment "
    "(n·k) and the pair scan (n·occupancy) grow as n^1.5, never n²: "
    "the first cut of this entry pinned k=10 and the sf1 audit caught "
    "it at 16x (61 s) — fixed-cardinality blocking keys make pair "
    "joins quadratic, the exact lesson d06's tiler taught in round 5.",
)
def d12_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return d12_flags_for(e).orderBy("vec_id")


def _d12_assigned_vec(corpus: DataFrame) -> DataFrame:
    """SemDeDup coarse assignment — vectorized kernel, same bits.

    Round 13 (guide §4.2, §1.2 fix the algorithm before the per-task
    work): the retired chain crossJoined every vector with every
    broadcast centroid and ran one INTERPRETED 64-element HOF fold per
    (vector, centroid) row — n*k = n^1.5 CodegenFallback folds (sf10:
    89M folds, 112-157 s isolated, the dominant d12/d16 stage).  The
    assignment is a dense (n x dim) @ (k x dim) product, so it now runs
    as ONE mapInPandas over the vectors with the centroids broadcast
    once per task: per batch, NumPy accumulates products dimension by
    dimension — the SAME left-to-right IEEE-double order the HOF fold
    used, so every dot, norm and sim is bit-identical (pinned by
    tests/test_d12_assign_vec.py against the retired chain) — and the
    per-vector argmax replicates max_by(struct(sim, -cell_id)) exactly:
    np.argmax returns the FIRST index attaining the max, centroids are
    ordered by cell_id ascending, and Spark resolves equal sims to the
    LOWEST cell_id (equal-key structs tie on -cell_id; NaN sims are
    greatest-and-tied in both, picking the lowest NaN cell).  The
    driver collects only the k = ⌊√n⌋ centroid rows — the SAME bytes
    the retired F.broadcast(cents) shipped through the driver — and the
    groupBy(vec_id) shuffle of n*k scored rows disappears outright
    (guide §2.4: the aggregate existed only to undo the crossJoin).
    Batches are chunked so the (rows x k) sim buffer stays ~32 MB at
    any k."""
    import math

    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    # ⌊√n⌋ via double sqrt — the exact arithmetic the oracle
    # (floor(sqrt(COUNT(*)))) and the retired in-engine aggregate used
    n = corpus.count()
    k = max(D12_MIN_CELLS, int(math.floor(math.sqrt(float(n)))))
    cent_rows = sorted(
        corpus.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    out_schema = (
        "vec_id bigint, embedding array<double>, nsq double, "
        "cell_id bigint, cent_sim double"
    )
    if not cent_rows:
        return spark.createDataFrame([], out_schema)
    cent_ids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    cmat = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cent_ids, cmat, np_sq_norms(cmat)))

    def assign(batches):
        ids, cm, cn = bc.value
        kk = len(ids)
        chunk = max(1, (4 << 20) // kk)  # sim buffer ~32 MB of doubles
        for pdf in batches:
            emb = np.vstack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            vids = pdf["vec_id"].to_numpy()
            for lo in range(0, len(emb), chunk):
                ev = emb[lo : lo + chunk]
                nsq = np_sq_norms(ev)
                sims = np_cosines(ev, cm, nsq, cn)
                cell = np.argmax(sims, axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": vids[lo : lo + chunk],
                        "embedding": list(ev),
                        "nsq": nsq,
                        "cell_id": ids[cell],
                        "cent_sim": sims[np.arange(len(ev)), cell],
                    }
                )

    return corpus.select("vec_id", "embedding").mapInPandas(
        assign, out_schema
    )


def _d12_dropped_grouped(assigned: DataFrame) -> DataFrame:
    """d12's drop set as ONE grouped per-cell kernel — same decisions,
    heavy bytes cross the Python boundary once per VECTOR, not per pair.

    Round 13 (guide §8's transferable rule + §4.2): the retired shape
    self-joined `assigned` on cell_id and filtered an Arrow-vectorized
    cosine per candidate pair, so every embedding crossed the Arrow
    boundary once per PAIR it appears in — occupancy~sqrt(n) times —
    and the join materialized n*occupancy rows (sf10: 45M pair rows,
    ~20 s after the fold was already vectorized).  The decision per x
    is `exists y in cell: priority(y)>priority(x) and cos(x,y)>tau`,
    which is a per-CELL computation: applyInPandas over the existing
    cell_id partitioning (no new exchange) hands each cell's vectors to
    NumPy once, builds the (chunked-rows x occupancy) sim matrix by the
    same sequential per-dimension accumulation the fold family uses
    (bit-identical dots/sims), and applies the exact comparison
    semantics Spark did:

    - ``sims > tau``: Spark treats NaN as greater than any double, so
      the kernel ORs ``isnan(sims)`` (a NaN cosine needs a zero-norm
      vector; none exist in any fixture, but the semantics are pinned
      anyway);
    - priority ``(cs_y > cs_x) | (cs_y == cs_x & id_y < id_x)``: NaN
      cent_sims map to +inf first (cent_sim is a cosine in [-1, 1] or
      NaN, so +inf is free to stand in for Spark's NaN-greatest-and-
      self-equal ordering); y == x ties on both keys and never drops x.

    Pinned bitwise against the retired join+filter shape by
    tests/test_d12_assign_vec.py::test_d12_grouped_drop_matches_join.
    A degenerate giant cell costs occupancy^2 flops either way; the
    kernel chunks the x-rows so its sim buffer stays ~16 MB regardless
    of cell size."""
    import numpy as np
    import pandas as pd

    tau = D12_TAU

    def drop_cell(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": np.empty(0, dtype=np.int64)})
        emb = np.vstack(pdf["embedding"].to_numpy()).astype(
            np.float64, copy=False
        )
        nsq = pdf["nsq"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        csk = pdf["cent_sim"].to_numpy()
        csk = np.where(np.isnan(csk), np.inf, csk)
        dropped = np.zeros(n, dtype=bool)
        chunk = max(1, (2 << 20) // n)  # sim buffer ~16 MB of doubles
        for lo in range(0, n, chunk):
            sims = np_cosines(emb[lo : lo + chunk], emb, nsq[lo : lo + chunk], nsq)
            close = (sims > tau) | np.isnan(sims)
            hp = (csk[None, :] > csk[lo : lo + chunk, None]) | (
                (csk[None, :] == csk[lo : lo + chunk, None])
                & (ids[None, :] < ids[lo : lo + chunk, None])
            )
            dropped[lo : lo + chunk] = np.any(close & hp, axis=1)
        return pd.DataFrame({"vec_id": ids[dropped]})

    return assigned.groupBy("cell_id").applyInPandas(
        drop_cell, "vec_id bigint"
    )


def d12_flags_for(corpus: DataFrame) -> DataFrame:
    """d12's per-vector (vec_id, cell_id, is_dup) frame, pre-sort, over an
    arbitrary (vec_id, embedding) corpus — shared by the d12 entry (raw
    embeddings) and d16's recall audit (embeddings + planted twins)."""
    # Vectorized assignment (see _d12_assigned_vec).  The frame is
    # consumed twice (the grouped pair scan + the final flag join); the
    # explicit repartition on the pair-scan key gives both consumers one
    # identical exchange subtree so Catalyst's ReuseExchange computes
    # the assignment ONCE (the verify-skill gotcha about shared
    # expensive frames, applied), and applyInPandas's clustered-
    # distribution requirement is satisfied by the same exchange.
    assigned = _d12_assigned_vec(corpus).repartition("cell_id")
    dropped = _d12_dropped_grouped(assigned).withColumn(
        "is_dup", F.lit(True)
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell_id").cast("bigint").alias("cell_id"),
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


@register(
    "d13_perceptual_dhash",
    oracle="""
WITH g AS (
  SELECT doc_id, CAST(doc_id % 12 AS INT) AS grp,
         CAST(doc_id % 40 AS INT) AS off
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT g.doc_id, g.grp, g.off, r.r, c.c,
         (g.grp * 37 + r.r * 29 + c.c * c.c * 13) % 97 AS base
  FROM g
  CROSS JOIN (SELECT unnest(range(0, 8)) AS r) r
  CROSS JOIN (SELECT unnest(range(0, 9)) AS c) c
),
bytes AS (
  SELECT a.doc_id, a.r,
         CAST(SUM(CASE WHEN b.base > a.base
                       THEN 1 << (7 - a.c) ELSE 0 END) AS BIGINT) AS byte
  FROM px a JOIN px b
    ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
  WHERE a.c < 8
  GROUP BY a.doc_id, a.r
),
hashes AS (
  SELECT doc_id,
         string_agg(lpad(lower(to_hex(byte)), 2, '0'), '' ORDER BY r)
           AS dhash
  FROM bytes GROUP BY doc_id
),
variants AS (
  SELECT doc_id,
         string_agg(CAST(base + off AS VARCHAR), ',' ORDER BY r, c) AS pix
  FROM px GROUP BY doc_id
)
SELECT h.dhash,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT v.pix) AS BIGINT) AS n_byte_variants,
       MIN(h.doc_id) AS keeper_doc,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dups
FROM hashes h JOIN variants v ON v.doc_id = h.doc_id
GROUP BY h.dhash
ORDER BY h.dhash
""",
    description="Perceptual-hash IMAGE dedup — the multimodal twin of "
    "d01's exact text dedup, bridging the m- and d-families: every "
    "third document synthesizes a 9x8 P5 image whose pixel STRUCTURE "
    "is shared across its group (base = (grp*37 + r*29 + 13c^2) % 97, "
    "grp = doc_id%12) while a per-doc brightness offset (doc_id%40) "
    "makes the payload BYTES differ; the real PNM decode + 64-bit "
    "difference-hash kernel (operators/multimodal.py::dhash_hashes — "
    "block-mean grid, one bit per horizontal gradient, hex-packed) "
    "collapses the byte-distinct variants into perceptual groups: "
    "first-occurrence keeper + dup count per hash.  dHash\'s "
    "brightness-shift invariance is what the oracle PROVES (adding a "
    "constant cannot flip a gradient sign): n_byte_variants counts "
    "md5-distinct payloads per group Spark-side vs distinct canonical "
    "pixel strings oracle-side — equal iff byte-level variants really "
    "collapsed into one perceptual key.  Scale shape: synthesis / "
    "decode / hash are map-only Arrow-batched mapInPandas (the real-"
    "media path at 100 TB: payloads never shuffle — only the 16-char "
    "hash + id reach the exchange); the group table is one hash-keyed "
    "aggregation, and near-dup retrieval at Hamming<=k extends it with "
    "the same banding trick d05 (SimHash) already demonstrates.",
)
def d13_perceptual_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.operators.multimodal import (
        PAYLOAD_SCHEMA,
        dhash_hashes,
    )
    from agentic_etl_poc_spark.operators.transform import map_rows

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
    )

    def synth(i):
        grp, off = i % 12, i % 40
        yield i, b"P5\n9 8\n255\n" + bytes(
            (grp * 37 + r * 29 + c * c * 13) % 97 + off
            for r in range(8)
            for c in range(9)
        )

    payloads = map_rows(d, synth, PAYLOAD_SCHEMA)
    hashed = dhash_hashes(payloads)
    md5s = payloads.select("item_id", F.md5(F.col("payload")).alias("pmd5"))
    return (
        hashed.join(md5s, "item_id")
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.countDistinct("pmd5").cast("bigint").alias("n_byte_variants"),
            F.min("item_id").alias("keeper_doc"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dups"),
        )
        .orderBy("dhash")
    )


@register(
    "d14_incremental_dedup",
    oracle=f"""
WITH {DUCK_MINHASH_PAIRS},
newdocs AS (
  SELECT doc_id FROM corpus WHERE doc_id >= 1000000
),
dup_index AS (
  SELECT DISTINCT n.doc_id,
         MIN(CASE WHEN p.id1 = n.doc_id THEN p.id2 ELSE p.id1 END)
           AS matched_id
  FROM newdocs n
  JOIN pairs p ON (p.id1 = n.doc_id AND p.id2 < 1000000)
              OR (p.id2 = n.doc_id AND p.id1 < 1000000)
  GROUP BY n.doc_id
),
dup_batch AS (
  SELECT DISTINCT p.id2 AS doc_id, p.id1 AS matched_id
  FROM pairs p
  WHERE p.id1 >= 1000000 AND p.id2 >= 1000000
)
SELECT n.doc_id,
       CASE WHEN di.doc_id IS NOT NULL THEN 'dup_of_index'
            WHEN db.doc_id IS NOT NULL THEN 'dup_in_batch'
            ELSE 'new_unique' END AS status,
       CAST(COALESCE(di.matched_id,
                     CASE WHEN di.doc_id IS NULL THEN db.matched_id END,
                     -1) AS BIGINT) AS matched_id
FROM newdocs n
LEFT JOIN dup_index di ON di.doc_id = n.doc_id
LEFT JOIN (
  SELECT doc_id, MIN(matched_id) AS matched_id
  FROM dup_batch GROUP BY doc_id
) db ON db.doc_id = n.doc_id
ORDER BY n.doc_id
""",
    description="INCREMENTAL near-dup dedup — the production shape "
    "nightly ingestion runs have: a NEW batch (the corpus's planted "
    "80%-truncated near-copies, doc_id >= 1000000) is checked against "
    "the existing INDEX (everything else) without re-deduplicating the "
    "index against itself.  Built as a pure projection over the SAME "
    "persisted MinHash verified-pair frame the whole d-family fans out "
    "of (compute-once-fan-out): each new doc is classified "
    "dup_of_index (near-dups an index doc; lowest matching index id "
    "reported), dup_in_batch (near-dups a smaller-id batch doc — the "
    "greedy first-wins rule d10 uses), or new_unique.  Scale shape: at "
    "100 TB the index side contributes only its LSH band signatures "
    "(precomputed and stored); the batch's bands equi-join against "
    "them — the shuffle is band signatures, never documents, and the "
    "index is never re-paired with itself (the incremental win over "
    "d04's full-corpus pass).",
)
def d14_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_verified_pairs(spark, sf_dir)
    new_ids = spark_corpus(spark, sf_dir).filter(F.col("doc_id") >= 1000000).select(
        "doc_id"
    )
    p = pairs.select("id1", "id2")
    dup_index = (
        new_ids.join(
            p,
            ((F.col("id1") == F.col("doc_id")) & (F.col("id2") < 1000000))
            | ((F.col("id2") == F.col("doc_id")) & (F.col("id1") < 1000000)),
        )
        .select(
            "doc_id",
            F.when(F.col("id1") == F.col("doc_id"), F.col("id2"))
            .otherwise(F.col("id1"))
            .alias("m"),
        )
        .groupBy("doc_id")
        .agg(F.min("m").alias("idx_match"))
    )
    dup_batch = (
        p.filter((F.col("id1") >= 1000000) & (F.col("id2") >= 1000000))
        .groupBy(F.col("id2").alias("doc_id"))
        .agg(F.min("id1").alias("batch_match"))
    )
    out = (
        new_ids.join(dup_index, "doc_id", "left")
        .join(dup_batch, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("idx_match").isNotNull(), "dup_of_index")
            .when(F.col("batch_match").isNotNull(), "dup_in_batch")
            .otherwise("new_unique")
            .alias("status"),
            F.coalesce(
                F.col("idx_match"),
                F.when(F.col("idx_match").isNull(), F.col("batch_match")),
                F.lit(-1),
            )
            .cast("bigint")
            .alias("matched_id"),
        )
    )
    return out.orderBy("doc_id")


D15_TAU = 0.8
#: Target cell occupancy for d15's LSH cells: the number of sign bits is
#: derived from it as b = bit_length(n div OCC), so the 2^b cells hold
#: ~OCC vectors each REGARDLESS of corpus size — pairwise work stays
#: linear where d12's sqrt(n) cells give n^1.5 (its faithful-SemDeDup
#: contract; see BASELINE.md round 8).
D15_TARGET_OCC = 64
#: Degenerate-cell guard (the round-8 verdict advisory: d04's hot-bucket
#: pathology applies to sign cells too when embeddings are correlated):
#: within a cell, the comparison set is the lowest-D15_CELL_CAP vec_ids —
#: the same deterministic-sample discipline as MINHASH_BUCKET_CAP, so a
#: degenerate cell costs at most occupancy*CAP pair checks instead of
#: occupancy^2, and big near-twin groups stay connected through their
#: lowest ids.  4x the target occupancy: never fires on a healthy cell.
D15_CELL_CAP = 4 * D15_TARGET_OCC


#: d15's CTE chain through ``d15_assigned`` / ``d15_dropped``, reading
#: from an ``emb_corpus(vec_id, embedding)`` CTE the caller prepends —
#: shared verbatim by the d15 oracle (raw embeddings passthrough) and
#: d16's recall audit (embeddings + planted near-twins).
DUCK_D15_CHAIN = f"""d15_nn AS (
  SELECT COUNT(*) AS n, MIN(vec_id) AS lo, MAX(vec_id) AS hi
  FROM emb_corpus
),
d15_bb AS (
  SELECT n, lo, hi, b, greatest((hi - lo + 1) // b, 1) AS rstride FROM (
    SELECT n, lo, hi,
           length(printf('%b', greatest(n // {D15_TARGET_OCC}, 1))) AS b
    FROM d15_nn
  )
),
d15_projs AS (
  SELECT j,
         list_transform(range(1, {EMB_DIM} + 1),
           i -> CAST(uvec[i] AS DOUBLE) - CAST(vvec[i] AS DOUBLE)) AS wvec
  FROM (
    SELECT (e.vec_id - bb.lo) // bb.rstride AS j,
           arg_min(e.embedding, e.vec_id) AS uvec,
           arg_max(e.embedding, e.vec_id) AS vvec
    FROM emb_corpus e, d15_bb bb
    WHERE (e.vec_id - bb.lo) // bb.rstride < bb.b
    GROUP BY 1
  )
),
d15_cells AS (
  SELECT e.vec_id,
         SUM(CASE WHEN {duck_dot_fold('e.embedding', 'p.wvec', EMB_DIM)} > 0
                  THEN (1::BIGINT << CAST(p.j AS INT)) ELSE 0 END) AS cell_id
  FROM emb_corpus e CROSS JOIN d15_projs p
  GROUP BY e.vec_id
),
d15_assigned AS (
  SELECT e.vec_id, e.embedding, c.cell_id
  FROM emb_corpus e JOIN d15_cells c USING (vec_id)
),
d15_ranked AS (
  SELECT vec_id, embedding, cell_id,
         ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY vec_id) AS rk
  FROM d15_assigned
),
d15_dropped AS (
  SELECT DISTINCT x.vec_id
  FROM d15_assigned x
  JOIN d15_ranked y
    ON x.cell_id = y.cell_id AND y.vec_id < x.vec_id
   AND y.rk <= {D15_CELL_CAP}
  WHERE {duck_cosine('x.embedding', 'y.embedding', EMB_DIM)} > {D15_TAU}
)"""


@register(
    "d15_lsh_semantic_dedup",
    oracle=f"""
WITH emb_corpus AS (SELECT vec_id, embedding FROM embeddings),
{DUCK_D15_CHAIN}
SELECT a.vec_id,
       CAST(a.cell_id AS BIGINT) AS cell_id,
       (d.vec_id IS NOT NULL) AS is_dup
FROM d15_assigned a LEFT JOIN d15_dropped d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
""",
    description="LSH-cell semantic dedup — the LINEAR-ASSIGNMENT scale "
    "path next to d12's faithful sqrt(n)-SemDeDup (whose n*k centroid "
    "argmax and n*sqrt(n) pair scan are n^1.5 by design, confirmed at "
    "the sf10 audit): cells are random-hyperplane SIGN BUCKETS, with "
    "the bit count derived from the corpus size as b = bit_length(n "
    f"div {D15_TARGET_OCC}) — an exact integer both engines compute "
    "identically (length(bin(x)) / length(printf('%b', x))), so "
    f"expected occupancy stays ~{D15_TARGET_OCC} at every scale and no "
    "transcendental ever reaches the hash.  Hyperplane j's normal is "
    "the DIFFERENCE of two far-apart corpus embeddings: the vec_id "
    "range [lo, hi] splits into b equal-width buckets and bucket j "
    "contributes w_j = first(j) - last(j) (argmin/argmax by vec_id, "
    "value-range keyed, so sparse/tiled id layouts still yield b "
    "distinct projections — positional strides found ONE projection "
    "on the sf1 tiler's +1M-per-tile ids); bit j = sign(dot(e, w_j)), "
    "one exact sequential-fold dot per pair, w_j materialized once.  "
    "Differencing far-apart picks is the "
    "round-8 verdict's decorrelation fix — round 8 used the FIRST b "
    "embeddings as normals, so on a low-diversity corpus every "
    "hyperplane tilted toward the shared mean direction and cells "
    "skewed together.  Within a cell the d10 first-wins rule drops "
    f"every vector with a lower-id cosine>{D15_TAU} neighbor, and the "
    f"comparison set is capped at the lowest {D15_CELL_CAP} ids per "
    "cell (deterministic sample, the MINHASH_BUCKET_CAP discipline) so "
    "a degenerate cell costs occupancy*cap, never occupancy^2.  Cost "
    "shape: assignment is n*b dot-pairs (b grows as log n), the pair "
    "scan is n*min(occupancy, cap) — n log n total vs d12's n^1.5; the "
    "trade is recall at cell boundaries (near-twins split by a "
    "hyperplane are missed — d16 quantifies it against d12 in-row), "
    "which is why production systems run it multi-probe or as the "
    "cheap first pass.  Scale shape: projections broadcast (2b "
    "vectors), assignment aggregates map-side on vec_id, and the "
    "cell_id repartition is the ONE exchange the rank window, both "
    "pair-join sides, and the final flag join all reuse.",
)
def d15_lsh_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return d15_flags_for(e).orderBy("vec_id")


def d15_flags_for(e: DataFrame) -> DataFrame:
    """d15's per-vector (vec_id, cell_id, is_dup) frame, pre-sort, over an
    arbitrary (vec_id, embedding) corpus — the d15 entry runs it on the
    raw embeddings; the audit entries (d16/d17) compose the same pieces
    over the session-shared twin corpus (_twin_parts)."""
    assigned, y, _ = _d15_parts(e)
    dropped = _d15_dropped(assigned, y)
    return assigned.join(
        dropped.withColumnRenamed("vec_id", "dv"),
        F.col("vec_id") == F.col("dv"),
        "left",
    ).select(
        "vec_id",
        F.col("cell_id").cast("bigint").alias("cell_id"),
        F.col("dv").isNotNull().alias("is_dup"),
    )


def _dropped_exists_lower(xs: DataFrame, ys: DataFrame) -> DataFrame:
    """DISTINCT ``xs.vec_id`` having SOME same-group ``ys`` row with a
    lower vec_id and cosine > D15_TAU — the d10 first-wins drop rule as
    ONE cogrouped per-key kernel (round 13, guide §8 + §4.2).

    Both inputs carry (gk, vec_id, embedding, nsq).  The retired shape
    was an equi-join on the group key + vectorized-fold filter: every
    embedding crossed the Arrow boundary once per candidate PAIR
    (d17's probe scan at sf10: (b+1)*n probes x capped occupancy ≈
    155M pair rows, 65 s isolated).  Each vector now crosses ONCE per
    group it appears in: cogroup ships each key's xs and ys batches to
    NumPy, which builds the (chunked xs x ys) sim matrix by the same
    sequential per-dimension accumulation the fold family uses
    (bit-identical sims) and tests existence.  Spark comparison
    semantics are preserved exactly: NaN cosines (zero-norm vectors —
    none in any fixture) count as > tau because Spark orders NaN above
    every double.  Pinned against the join+filter shape by
    tests/test_d12_assign_vec.py::test_exists_lower_matches_join."""
    import numpy as np
    import pandas as pd

    tau = D15_TAU
    # both sides usually derive from the SAME assigned frame; re-alias
    # every column so each side carries fresh attribute ids, or the
    # cogroup trips Spark's ambiguous-self-join analyzer check
    cols = ["gk", "vec_id", "embedding", "nsq"]
    xs = xs.select(*[F.col(c).alias(c) for c in cols])
    ys = ys.select(*[F.col(c).alias(c) for c in cols])

    def scan(left, right):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"vec_id": np.empty(0, dtype=np.int64)})
        xe = np.vstack(left["embedding"].to_numpy()).astype(
            np.float64, copy=False
        )
        ye = np.vstack(right["embedding"].to_numpy()).astype(
            np.float64, copy=False
        )
        xn = left["nsq"].to_numpy()
        yn = right["nsq"].to_numpy()
        xid = left["vec_id"].to_numpy()
        yid = right["vec_id"].to_numpy()
        dropped = np.zeros(len(xe), dtype=bool)
        chunk = max(1, (2 << 20) // len(ye))  # sim buffer ~16 MB
        for lo in range(0, len(xe), chunk):
            sims = np_cosines(xe[lo : lo + chunk], ye, xn[lo : lo + chunk], yn)
            close = (sims > tau) | np.isnan(sims)
            lower = yid[None, :] < xid[lo : lo + chunk, None]
            dropped[lo : lo + chunk] = np.any(close & lower, axis=1)
        return pd.DataFrame({"vec_id": xid[dropped]})

    return (
        xs.groupBy("gk")
        .cogroup(ys.groupBy("gk"))
        .applyInPandas(scan, "vec_id bigint")
        .distinct()
    )


def _d15_dropped(assigned: DataFrame, y: DataFrame) -> DataFrame:
    """d15's single-probe drop set (DISTINCT vec_id with a lower-id
    cosine>tau neighbor among the cell's capped sample) from prebuilt
    cell machinery — shared by d15_flags_for and d16 (which needs only
    the drop set, not the per-vector flag join).  Round 13: one
    cogrouped per-cell kernel (see _dropped_exists_lower) instead of
    the pair join — both sides reuse assigned's cell_id exchange."""
    xs = assigned.select(
        F.col("cell_id").alias("gk"), "vec_id", "embedding", "nsq"
    )
    ys = y.select(
        F.col("cell_id").alias("gk"), "vec_id", "embedding", "nsq"
    )
    return _dropped_exists_lower(xs, ys)


def _d15_parts(e: DataFrame):
    """The shared sign-cell machinery over an arbitrary (vec_id,
    embedding) corpus: returns (assigned, ranked-sample y, bf) where
    assigned = (vec_id, cell_id, embedding, nsq) repartitioned on the
    pair-scan key, y = the lowest-D15_CELL_CAP ids per cell, and bf = the
    1-row (n, lo, hi, b, rstride) scalar frame.  Consumed by d15
    (single-probe); the audit entries (d16/d17) get the same pieces over
    the twin corpus from _twin_parts, which persists them session-wide."""
    bf = _d15_bounds(e)
    assigned = _d15_assign(e, bf)
    return assigned, _d15_sample(assigned), bf


def _d15_bounds(e: DataFrame) -> DataFrame:
    """The 1-row (n, lo, hi, b, rstride) scalar frame: corpus size, vec_id
    value range, derived hyperplane count b = bit_length(n div target
    occupancy), and the equal-width bucket stride over [lo, hi]."""
    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("vec_id").cast("bigint").alias("lo"),
        F.max("vec_id").cast("bigint").alias("hi"),
        F.length(
            F.bin(
                F.greatest(
                    (F.count(F.lit(1)) / D15_TARGET_OCC).cast("bigint"),
                    F.lit(1).cast("bigint"),
                )
            )
        )
        .cast("bigint")
        .alias("b"),
    ).select(
        "n",
        "lo",
        "hi",
        "b",
        F.expr("greatest((hi - lo + 1) DIV b, CAST(1 AS BIGINT))").alias(
            "rstride"
        ),
    )


def _d15_projs(e: DataFrame, bf: DataFrame) -> DataFrame:
    """The b hyperplane normals (j, wvec) — shared by the assignment
    fold and d18's margin pass.

    Projection picks are keyed by the vec_id VALUE RANGE (b equal-width
    buckets over [lo, hi]; u = first, v = last vector of each bucket),
    never by positional arithmetic on the ids themselves: vec_ids need
    not be dense — the sf1/sf10 tilers shift each tile by 1,000,000,
    and the first cut of this rework (picks at vec_id = j*stride)
    found ONE projection there, leaving 2 giant cells whose capped
    pair scan cost 29 s at sf1.  The difference vector is materialized
    ONCE per bucket (IEEE double subtraction of float-cast elements is
    exact and correctly rounded, so both engines build bit-identical
    wvec values), keeping the assignment at one fold per
    (vector, projection) pair."""
    return (
        e.crossJoin(F.broadcast(bf))
        .filter(F.expr("(vec_id - lo) DIV rstride") < F.col("b"))
        .groupBy(F.expr("(vec_id - lo) DIV rstride").alias("j"))
        .agg(
            F.min_by("embedding", "vec_id").alias("uvec"),
            F.max_by("embedding", "vec_id").alias("vvec"),
        )
        .select(
            "j",
            F.zip_with(
                F.col("uvec"),
                F.col("vvec"),
                lambda a, b: a.cast("double") - b.cast("double"),
            ).alias("wvec"),
        )
    )


def _d15_assign(e: DataFrame, bf: DataFrame) -> DataFrame:
    """Sign-cell assignment: (vec_id, cell_id, embedding, nsq),
    repartitioned on the pair-scan key (cell_id).

    Round 13 (the d12 assignment's pattern, guide §4.2): the retired
    chain crossJoined every vector with the b broadcast hyperplanes and
    ran one interpreted 64-dim HOF fold per (vector, projection) row,
    then re-aggregated by vec_id (sf10 twin corpus: 9.2 s isolated).
    The b projection vectors are tiny (b grows as log n), so they are
    collected once and broadcast into ONE mapInPandas pass that
    accumulates each dot dimension-by-dimension in NumPy — the same
    sequential IEEE order, bit-identical dots and norms — and composes
    cell_id = Σ 1<<j over positive dots.  Spark's `dot > 0` treats a
    NaN dot as true (NaN-greatest ordering); the kernel ORs isnan to
    match (a NaN dot needs a NaN embedding component; none exist in any
    fixture).  Pinned against the retired chain by
    tests/test_d12_assign_vec.py::test_d15_assign_vec_matches_retired."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    proj_rows = sorted(
        _d15_projs(e, bf).collect(), key=lambda r: r.j
    )
    out_schema = (
        "vec_id bigint, cell_id bigint, embedding array<double>, nsq double"
    )
    if not proj_rows:
        return spark.createDataFrame([], out_schema).repartition("cell_id")
    wmat = np.array([r.wvec for r in proj_rows], dtype=np.float64)
    shifts = np.array(
        [np.int64(1) << np.int64(r.j) for r in proj_rows], dtype=np.int64
    )
    bc = spark.sparkContext.broadcast((wmat, shifts))

    def assign(batches):
        wm, sh = bc.value
        for pdf in batches:
            emb = np.vstack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            dots = np_dot_fold(emb, wm)
            bits = (dots > 0) | np.isnan(dots)  # Spark NaN-greatest
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell_id": (bits * sh[None, :]).sum(
                        axis=1, dtype=np.int64
                    ),
                    "embedding": list(emb),
                    "nsq": np_sq_norms(emb),
                }
            )

    # one explicit exchange on the pair-scan key, reused by the rank
    # window, both pair-scan consumers, and the final flag join (d12's
    # ReuseExchange lesson)
    return (
        e.select("vec_id", "embedding")
        .mapInPandas(assign, out_schema)
        .repartition("cell_id")
    )


def _d15_sample(assigned: DataFrame) -> DataFrame:
    """The lowest-D15_CELL_CAP ids per cell (deterministic comparison
    sample; the MINHASH_BUCKET_CAP discipline), aliased 'y' for the pair
    scans.  Derives from assigned's cell_id partitioning — no exchange."""
    from pyspark.sql.window import Window

    return (
        assigned.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("cell_id").orderBy("vec_id")),
        )
        .filter(F.col("rk") <= D15_CELL_CAP)
        .alias("y")
    )


def _twin_parts(spark: SparkSession, sf_dir: str):
    """The planted-twin audit machinery, built ONCE per session: (raw,
    corpus, offf, assigned, y, bf) where assigned/bf are session-shared
    persisted frames (queries/core.py::shared_frame) over the twin
    corpus.  d16 and d17 both consume them, so one battery run folds the
    (1.1x n)-vector, 64-dim cell assignment a single time instead of
    once per audit entry (the round-9 verdict's cost-sharing order: the
    audit pair billed ~29 s at sf1 vs 3.9 s for the certified operator).
    y derives from the persisted assigned without an exchange (persist
    preserves the cell_id partitioning)."""
    raw = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus, offf = _twin_corpus(raw)
    bf = _shared(spark, sf_dir, "twin_d15_bounds", lambda: _d15_bounds(corpus))
    assigned = _shared(
        spark, sf_dir, "twin_d15_assigned", lambda: _d15_assign(corpus, bf)
    )
    return raw, corpus, offf, assigned, _d15_sample(assigned), bf


#: d16 near-twin perturbation: component 1 shifted by this much.  On the
#: unit-norm synthetic embeddings the twin's cosine to its original is
#: >= 0.96 for any e1 in [-1, 1] — always inside both algorithms' tau —
#: while still flipping an occasional sign bit / centroid argmax, which
#: is exactly the boundary loss the audit measures.  0.25 is exactly
#: representable, so the perturbed values are bit-identical cross-engine.
D16_EPS = 0.25


def _twin_corpus(raw: DataFrame):
    """(corpus, offf): the raw embeddings plus a planted near-twin of
    every 10th vector, and the broadcastable 1-row twin-id offset frame.
    The offset is DERIVED from the corpus (max id + 1), never a fixed
    constant: the sf1/sf10 tilers shift each tile's vec_ids by
    1,000,000, so a fixed +1,000,000 twin id collided with the next
    tile's real ids — two different embeddings under one vec_id, a
    nondeterministically corrupted audit at exactly the scales the
    growth table records.  Shared by d16 and d17."""
    offf = F.broadcast(
        raw.agg((F.max("vec_id") + 1).cast("bigint").alias("off"))
    )
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    twins = (
        raw.filter(F.col("vec_id") % 10 == 0)
        .crossJoin(offf)
        .select(
            (F.col("vec_id") + F.col("off")).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: F.when(
                    i == 0, x.cast("double") + D16_EPS
                ).otherwise(x.cast("double")),
            ).alias("embedding"),
        )
    )
    corpus = raw.select("vec_id", as_double.alias("embedding")).unionByName(
        twins
    )
    return corpus, offf


def _catch_set(dropped: DataFrame, offf: DataFrame, col: str) -> DataFrame:
    """Per-pair catch flags: demap twin ids back to the planted original
    (ids >= off are twins) and dedup — a pair counts as caught when
    EITHER member is in the drop set."""
    return (
        dropped.crossJoin(offf)
        .select(
            F.when(
                F.col("vec_id") >= F.col("off"),
                F.col("vec_id") - F.col("off"),
            )
            .otherwise(F.col("vec_id"))
            .alias("p")
        )
        .distinct()
        .withColumn(col, F.lit(True))
    )



#: The planted-twin audit corpus (raw embeddings + a perturbed copy of
#: every 10th vector at vec_id + (max id + 1)) — shared by the d16 and
#: d17 oracles; mirrors _twin_corpus exactly.
DUCK_TWIN_CORPUS = f"""d16_off AS (SELECT MAX(vec_id) + 1 AS off FROM embeddings),
emb_corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + o.off,
         list_transform(range(1, {EMB_DIM} + 1),
           i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + {D16_EPS}
                     ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings, d16_off o WHERE vec_id % 10 = 0
)"""


@register(
    "d16_semantic_recall_audit",
    oracle=f"""
WITH {DUCK_TWIN_CORPUS},
{DUCK_D12_CHAIN},
{DUCK_D15_CHAIN},
c12 AS (SELECT DISTINCT CASE WHEN d.vec_id >= o.off THEN d.vec_id - o.off
                             ELSE d.vec_id END AS p
        FROM d12_dropped d, d16_off o),
c15 AS (SELECT DISTINCT CASE WHEN d.vec_id >= o.off THEN d.vec_id - o.off
                             ELSE d.vec_id END AS p
        FROM d15_dropped d, d16_off o),
flags AS (
  SELECT e.vec_id AS p, (c12.p IS NOT NULL) AS f12, (c15.p IS NOT NULL) AS f15
  FROM embeddings e
  LEFT JOIN c12 ON c12.p = e.vec_id
  LEFT JOIN c15 ON c15.p = e.vec_id
  WHERE e.vec_id % 10 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS planted_pairs,
       CAST(SUM(CASE WHEN f12 THEN 1 ELSE 0 END) AS BIGINT) AS d12_caught,
       CAST(SUM(CASE WHEN f15 THEN 1 ELSE 0 END) AS BIGINT) AS d15_caught,
       CAST(SUM(CASE WHEN f12 AND f15 THEN 1 ELSE 0 END) AS BIGINT)
         AS both_caught,
       CAST(100 * SUM(CASE WHEN f12 AND f15 THEN 1 ELSE 0 END)
            // GREATEST(SUM(CASE WHEN f12 THEN 1 ELSE 0 END), 1) AS BIGINT)
         AS d15_vs_d12_pct
FROM flags
""",
    description="Recall audit of d15's LSH cells AGAINST d12's "
    "SemDeDup cells — the round-8 verdict's ordered measurement: d15's "
    "entry documents a cell-boundary recall trade but never quantified "
    "it.  Every 10th embedding gets a planted near-twin (id+1000000, "
    f"component 1 shifted by {D16_EPS} — cosine to the original stays "
    ">= 0.96 on the unit-norm corpus, always inside both algorithms' "
    "tau=0.8), the SAME injection discipline the document dedup family "
    "uses (the raw synthetic corpus has no organic cosine>0.8 pairs, so "
    "without injection both drop sets are empty and recall is 0/0).  "
    "Both algorithms run over the augmented corpus via the exact "
    "entry-shared kernels (d12_flags_for / d15_flags_for; the DuckDB "
    "side composes the same DUCK_D12_CHAIN / DUCK_D15_CHAIN CTEs), and "
    "a planted pair counts as CAUGHT when either member is dropped — "
    "pair-level, because d12's priority rule (centroid-similarity "
    "first) sometimes drops the original while d15's first-wins rule "
    "always drops the twin.  Output is one row of exact integers: "
    "planted_pairs, d12_caught, d15_caught, both_caught, and "
    "d15_vs_d12_pct = 100*both DIV d12 (integer division — no float "
    "ratio ever reaches the hash).  The twin-id offset is DERIVED from "
    "the corpus (max vec_id + 1): a fixed +1e6 collided with the sf1 "
    "tiler's per-tile id stride and corrupted the audit at scale.  "
    "Measured sf0.01: d12 catches 40/50, d15 38/50, agreement 31 -> "
    "77%; at sf1 (b = 9 bits) d12 catches 1326/2000, d15 734 -> 38% — "
    "recall falls as b grows with log n because every extra hyperplane "
    "is another chance to split a twin pair, the quantified law that "
    "makes production systems run sign-LSH multi-probe or as a cheap "
    "first pass.  The audit already earned its keep: the first d15 "
    "rework (first-b-embedding normals) scored 30/50 / 62% at sf0.01, "
    "and the value-range difference picks were chosen because this "
    "entry made the recall cost visible.  "
    "Scale shape: both kernels keep their entry plans (broadcast "
    "centroids/projections, one cell-keyed exchange each); the audit "
    "adds only a twin-id modulo join on dim-sized drop sets.",
)
def d16_semantic_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw, corpus, offf, assigned, y, _ = _twin_parts(spark, sf_dir)
    c12 = _catch_set(
        d12_flags_for(corpus).filter(F.col("is_dup")), offf, "f12"
    )
    # drop set straight from the session-shared cell machinery (the
    # entry-path d15_flags_for would rebuild the assignment fold and pay
    # a flag join this audit immediately filters away)
    c15 = _catch_set(_d15_dropped(assigned, y), offf, "f15")
    planted = raw.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("p")
    )
    flags = (
        planted.join(c12, "p", "left")
        .join(c15, "p", "left")
        .select(
            "p",
            F.coalesce("f12", F.lit(False)).alias("f12"),
            F.coalesce("f15", F.lit(False)).alias("f15"),
        )
    )
    n12 = F.sum(F.col("f12").cast("bigint"))
    n15 = F.sum(F.col("f15").cast("bigint"))
    nboth = F.sum((F.col("f12") & F.col("f15")).cast("bigint"))
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("planted_pairs"),
        n12.cast("bigint").alias("d12_caught"),
        n15.cast("bigint").alias("d15_caught"),
        nboth.cast("bigint").alias("both_caught"),
        F.expr(
            "CAST(100 * SUM(CAST(f12 AND f15 AS BIGINT)) "
            "DIV GREATEST(SUM(CAST(f12 AS BIGINT)), 1) AS BIGINT)"
        ).alias("d15_vs_d12_pct"),
    )


@register(
    "d17_multiprobe_semantic_dedup",
    oracle=f"""
WITH {DUCK_TWIN_CORPUS},
{DUCK_D15_CHAIN},
d17_probes AS (
  SELECT a.vec_id, a.embedding,
         unnest(list_prepend(a.cell_id,
           list_transform(range(0, bb.b),
             j -> xor(a.cell_id, 1::BIGINT << CAST(j AS INT))))) AS pc
  FROM d15_assigned a, d15_bb bb
),
d17_dropped AS (
  SELECT DISTINCT x.vec_id
  FROM d17_probes x JOIN d15_ranked y
    ON x.pc = y.cell_id AND y.vec_id < x.vec_id AND y.rk <= {D15_CELL_CAP}
  WHERE {duck_cosine('x.embedding', 'y.embedding', EMB_DIM)} > {D15_TAU}
),
c15 AS (SELECT DISTINCT CASE WHEN d.vec_id >= o.off THEN d.vec_id - o.off
                             ELSE d.vec_id END AS p
        FROM d15_dropped d, d16_off o),
c17 AS (SELECT DISTINCT CASE WHEN d.vec_id >= o.off THEN d.vec_id - o.off
                             ELSE d.vec_id END AS p
        FROM d17_dropped d, d16_off o),
flags AS (
  SELECT e.vec_id AS p, (c15.p IS NOT NULL) AS f15, (c17.p IS NOT NULL) AS f17
  FROM embeddings e
  LEFT JOIN c15 ON c15.p = e.vec_id
  LEFT JOIN c17 ON c17.p = e.vec_id
  WHERE e.vec_id % 10 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS planted_pairs,
       CAST(SUM(CASE WHEN f15 THEN 1 ELSE 0 END) AS BIGINT)
         AS single_probe_caught,
       CAST(SUM(CASE WHEN f17 THEN 1 ELSE 0 END) AS BIGINT)
         AS multi_probe_caught,
       CAST(SUM(CASE WHEN f17 AND NOT f15 THEN 1 ELSE 0 END) AS BIGINT)
         AS recovered_pairs,
       CAST(100 * SUM(CASE WHEN f17 THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
         AS multi_recall_pct
FROM flags
""",
    description="MULTI-PROBE sign-LSH semantic dedup — the production "
    "answer to the recall law d16 quantified (single-probe recall falls "
    "as b grows with log n because every extra hyperplane can split a "
    "twin pair): each vector probes its own cell PLUS the b Hamming-1 "
    "neighbor cells (own cell_id with one sign bit flipped — exactly "
    "the cells a near-boundary twin lands in), comparing against the "
    "same lowest-D15_CELL_CAP deterministic sample per probed cell "
    "under the d10 first-wins rule.  Cost shape: the probe join is "
    "(b+1)*n rows keyed on the probed cell — still n log n total where "
    "d12 is n^1.5 — and the cell machinery (assignment, rank sample) "
    "is the exact frame d15 builds, so the entry prices ONLY the "
    "incremental probes.  Measured on the planted-twin corpus "
    "(pair-level flags, same demap as d16): sf0.01 single-probe 38/50 "
    "-> multi-probe 49/50 (98%); sf1 (b = 9) single 734/2000 -> multi "
    "1559 (77%) — RECOVERING 825 pairs and overtaking even d12's "
    "1326/2000 there, at a fraction of its n^1.5 cost.  Output is one "
    "row of exact integers; no float ratio reaches the hash.  Scale "
    "shape: probes explode map-side from the assigned frame, the probe "
    "join shuffles on the probed cell id, and the y-side reuses d15's "
    "cell_id exchange.",
)
def d17_multiprobe_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw, _corpus, offf, assigned, y, bf = _twin_parts(spark, sf_dir)
    probes = (
        assigned.crossJoin(F.broadcast(bf.select("b")))
        .select(
            F.explode(
                F.concat(
                    F.array(F.col("cell_id")),
                    F.expr(
                        "transform(sequence(0, CAST(b - 1 AS INT)), "
                        "j -> cell_id ^ shiftleft(CAST(1 AS BIGINT), j))"
                    ),
                )
            ).alias("gk"),
            "vec_id",
            "embedding",
            "nsq",
        )
    )
    # Round 13: the probe scan yields (b+1)*n probe rows x capped
    # occupancy candidate pairs; the cogrouped kernel ships each probe
    # row across the Python boundary once per PROBED CELL instead of
    # once per pair (sf10 isolation: 64.9 s -> see OPTIMIZATION_r13.md;
    # bit-identical — _dropped_exists_lower's contract).
    d17_dropped = _dropped_exists_lower(
        probes,
        y.select(
            F.col("cell_id").alias("gk"), "vec_id", "embedding", "nsq"
        ),
    )
    # single-probe drop set from the SAME session-shared cell machinery
    # for the in-row recovery counters — no second assignment fold (the
    # round-9 verdict's double-build finding)
    d15_dropped = _d15_dropped(assigned, y)
    c15 = _catch_set(d15_dropped, offf, "f15")
    c17 = _catch_set(d17_dropped, offf, "f17")
    planted = raw.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("p")
    )
    flags = (
        planted.join(c15, "p", "left")
        .join(c17, "p", "left")
        .select(
            "p",
            F.coalesce("f15", F.lit(False)).alias("f15"),
            F.coalesce("f17", F.lit(False)).alias("f17"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("planted_pairs"),
        F.sum(F.col("f15").cast("bigint"))
        .cast("bigint")
        .alias("single_probe_caught"),
        F.sum(F.col("f17").cast("bigint"))
        .cast("bigint")
        .alias("multi_probe_caught"),
        F.sum((F.col("f17") & ~F.col("f15")).cast("bigint"))
        .cast("bigint")
        .alias("recovered_pairs"),
        F.expr(
            "CAST(100 * SUM(CAST(f17 AS BIGINT)) DIV COUNT(*) AS BIGINT)"
        ).alias("multi_recall_pct"),
    )
