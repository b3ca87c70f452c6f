"""Flagship end-to-end corpus-preparation pipeline — the composition the
whole extension surface exists for (SURVEY.md §2.4): quality-gate ->
exact dedup -> MinHash-LSH near-dup removal -> clean corpus.

Every stage is one of the engine's declared operators re-used as a library
function, and the WHOLE chain is oracled: the DuckDB SQL replays the same
quality thresholds, the same md5 exact-dedup survivor rule, the same seeded
minhash/banding candidates, and the same canonical-survivor rule
(drop the higher doc_id of every verified near-dup pair).

Scale: the chain is narrow until the exact-dedup shuffle; LSH keeps the
near-dup stage linear-ish; each stage strictly shrinks the corpus so later
(more expensive) stages see less data — the canonical funnel ordering for
100 TB corpus builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.io import fan_out, load
from sales_data_pipeline_gcp_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _minhash_sql,
    materialize,
    neardup_pairs,
    shingle_arrays,
)
from sales_data_pipeline_gcp_spark.plans.registry import register

MIN_TOKENS = 20
MAX_TOKENS = 1000
MIN_DISTINCT_RATIO = 0.1


def quality_gate(docs: DataFrame) -> DataFrame:
    """The q_text_quality keep-gate as a filter stage."""
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    d = docs.withColumn("ws", ws).filter(F.size("ws") > 0)
    n = F.size("ws")
    distinct_ratio = F.size(F.array_distinct(F.col("ws"))).cast("double") / n
    return (
        d.filter((n >= MIN_TOKENS) & (n <= MAX_TOKENS) & (distinct_ratio > MIN_DISTINCT_RATIO))
        .withColumn("n_tokens", n.cast("long"))
        .drop("ws")
    )


def exact_dedup_docs(docs: DataFrame) -> DataFrame:
    """Keep the min-doc_id survivor of every identical text."""
    keep = docs.groupBy(F.md5("text").alias("__fp")).agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


def near_dedup_docs(docs: DataFrame) -> DataFrame:
    """Remove the higher doc_id of every verified near-dup pair
    (MinHash-LSH candidates, exact-Jaccard verified).

    ``docs`` feeds the shingle pipeline AND the final anti-join, so it is
    materialized here; the shared pipeline checkpoints its own doc-granular
    intermediates (dedup.neardup_pairs)."""
    docs = materialize(docs)
    dups = (
        neardup_pairs(docs)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return docs.join(dups, "doc_id", "left_anti")


#: Deterministic held-out "benchmark" slice for decontamination: every
#: 50th document plays the role of an eval set.
BENCH_MOD = 50
CONTAM_RATIO = 0.3


@register(
    "q_decontaminate",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), shingles AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
        FROM w WHERE len(ws) >= 3
    ), bench AS (
        SELECT DISTINCT shingle FROM shingles WHERE doc_id % {BENCH_MOD} = 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM shingles
        WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY doc_id
    ), hits AS (
        SELECT s.doc_id, COUNT(*) AS n_overlap
        FROM shingles s JOIN bench b ON s.shingle = b.shingle
        WHERE s.doc_id % {BENCH_MOD} <> 0
        GROUP BY s.doc_id
    )
    SELECT h.doc_id, h.n_overlap, z.n_shingles,
           CAST(h.n_overlap AS DOUBLE) / z.n_shingles AS overlap_ratio
    FROM hits h JOIN sizes z ON h.doc_id = z.doc_id
    WHERE CAST(h.n_overlap AS DOUBLE) / z.n_shingles >= {CONTAM_RATIO}
    """,
    doc="Benchmark decontamination — the training-pipeline op that removes "
    "corpus documents overlapping an eval set: 3-word shingles of the "
    "benchmark slice (every 50th doc) form the contamination dictionary; "
    "corpus docs whose distinct-shingle overlap ratio >= 0.3 are flagged "
    "with their evidence counts. Scale shape: the benchmark dictionary is "
    "SMALL BY NATURE (eval sets are fixed-size; explicitly broadcast — "
    "this one is bounded, unlike a corpus-sized dictionary), so the filter "
    "is one broadcast-semi-join over the exploded corpus shingles: the "
    "100 TB corpus shuffles only its per-doc counts.",
    tags=("dedup", "text"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load(spark, sf_dir, "documents"))
    # doc-granular checkpoint (one row per doc with its distinct-shingle
    # ARRAY) feeds both branches; per-doc sizes are F.size — in-row, no
    # counting shuffle — and only the dictionary + hits branches explode
    # (same restructure as the minhash pipeline: never checkpoint the
    # corpus-sized exploded stream)
    shs = materialize(shingle_arrays(docs))
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = (
        shs.filter(is_bench).select(F.explode("shs").alias("shingle")).distinct()
    )
    corpus = shs.filter(~is_bench).select(
        "doc_id", F.size("shs").alias("n_shingles"), "shs"
    )
    hits = (
        corpus.select("doc_id", "n_shingles", F.explode("shs").alias("shingle"))
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_overlap"))
    )
    ratio = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return hits.select(
        "doc_id", "n_overlap", "n_shingles", ratio.alias("overlap_ratio")
    ).filter(F.col("overlap_ratio") >= CONTAM_RATIO)


#: Line-level exact dedup (the C4-style rule: drop every line whose exact
#: text already appeared anywhere in the corpus, keeping the first
#: occurrence by (doc_id, position)). The fixture corpus has no newlines,
#: so "lines" are deterministic 10-word chunks of each document, and
#: planted full-clone docs guarantee cross-document duplicate lines.
LINE_WORDS = 10
LINEDUP_OFFSET = 3_000_000
N_LINEDUP_PLANTED = 8


@register(
    "q_dedup_lines",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {LINEDUP_OFFSET}, text
        FROM documents WHERE doc_id < {N_LINEDUP_PLANTED}
    ), w AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM corpus
    ), lined AS (
        SELECT doc_id,
               list_transform(
                   range(1, CAST(ceil(len(ws) / {LINE_WORDS}.0) AS BIGINT) + 1),
                   i -> array_to_string(
                       ws[(i-1)*{LINE_WORDS}+1 : i*{LINE_WORDS}], ' ')) AS ls
        FROM w WHERE len(ws) >= 1
    ), ex AS (
        SELECT doc_id, generate_subscripts(ls, 1) AS pos, UNNEST(ls) AS line
        FROM lined
    ), ranked AS (
        SELECT doc_id, pos, line,
               ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM ex
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN line END,
                                   ' ' ORDER BY pos), '')) AS kept_fp
    FROM ranked GROUP BY doc_id
    """,
    doc=f"Line-level exact dedup (C4-style): corpus-global duplicate-line "
    "removal keeping the first occurrence by (doc_id, position), then "
    "per-doc reassembly — the web-corpus boilerplate killer (nav bars, "
    "cookie banners repeat across millions of pages). Lines are "
    f"deterministic {LINE_WORDS}-word chunks (fixture has no newlines); "
    "planted clone docs make the cross-doc dedup non-vacuous, and the "
    "reassembled md5 fingerprint proves the KEPT content byte-identical, "
    "not just the counts. Scale shape: explode -> window keyed BY LINE "
    "(first-occurrence rank; duplicate groups are tiny so no skew) -> "
    "re-agg keyed by doc_id — two keyed shuffles, both linear in corpus "
    "line count; no dictionary, no broadcast, no driver state.",
    tags=("dedup", "text"),
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
    plant = d.filter(F.col("doc_id") < N_LINEDUP_PLANTED).select(
        (F.col("doc_id") + LINEDUP_OFFSET).alias("doc_id"), "text"
    )
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    docs = (
        d.unionByName(plant)
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 1)
    )
    n_lines = F.ceil(F.size("ws") / F.lit(float(LINE_WORDS))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), (i - 1) * LINE_WORDS + 1, LINE_WORDS)),
    )
    ex = docs.select(
        "doc_id", F.posexplode(lines).alias("pos0", "line")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "line")
    ranked = ex.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("line").orderBy(F.col("doc_id").asc(), F.col("pos").asc())
        ),
    )
    kept_struct = F.when(F.col("rn") == 1, F.struct(F.col("pos"), F.col("line")))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
                ),
                " ",
            )
        ).alias("kept_fp"),
    )


@register(
    "q_corpus_prepare",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), quality AS (
        SELECT doc_id, lang, text, len(ws) AS n_tokens
        FROM w
        WHERE len(ws) BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
          AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) > {MIN_DISTINCT_RATIO}
    ), survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ), qq AS (
        SELECT q.* FROM quality q JOIN survivors USING (doc_id)
    ), words AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM qq
    ), shingles AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   range(1, len(ws) - 1),
                   i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
        FROM words WHERE len(ws) >= 3
    ),
    {_minhash_sql().strip()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM candidates c
        JOIN shingles a ON c.doc_a = a.doc_id
        JOIN shingles b ON c.doc_b = b.doc_id AND a.shingle = b.shingle
        GROUP BY c.doc_a, c.doc_b
    ), removed AS (
        SELECT DISTINCT i.doc_b AS doc_id
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    )
    SELECT doc_id, lang, n_tokens
    FROM qq
    WHERE doc_id NOT IN (SELECT doc_id FROM removed)
    """,
    doc="End-to-end corpus preparation: quality gate -> exact dedup (md5, "
    "min-id survivor) -> MinHash-LSH near-dup removal (drop higher id of "
    "each verified pair). The full funnel, fully oracled.",
    tags=("dedup", "text", "flagship"),
)
def q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load(spark, sf_dir, "documents"))
    # the quality gate's explode+filter feeds exact_dedup's two branches
    # (survivor agg + semi join) — materialize so it runs once; the
    # post-exact-dedup corpus is materialized inside near_dedup_docs
    q = materialize(quality_gate(docs))
    corpus = near_dedup_docs(exact_dedup_docs(q))
    return corpus.select("doc_id", "lang", "n_tokens")
