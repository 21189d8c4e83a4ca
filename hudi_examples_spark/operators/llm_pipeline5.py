"""LLM-training-data pipeline, part 5: decontamination + quality filtering +
deterministic training order.

Beyond-the-reference operators (BASELINE.json north star) a production
pretraining pipeline runs between raw corpus and tokenizer:

- **benchmark decontamination** — drop/flag training docs that share n-grams
  with an evaluation set (the standard "13-gram overlap" rule of GPT-3/PaLM
  data cards, scaled here to 3-grams for the short synthetic docs);
- **exact cross-corpus dedup** — remove training docs whose full content
  hash appears in the eval corpus;
- **repetition filter** — Gopher-style intra-document repetition signals
  (duplicate n-gram fraction, top-word dominance);
- **quality score** — a fixed-weight linear "classifier" over cheap text
  features, the plan shape of a fasttext-style quality model scored in-engine;
- **seeded shuffle order** — deterministic (seed, shard, position) training
  order, the shard-then-shuffle-within-shard pattern that avoids a global sort.

Scale stance (100 TB):
- the eval side of decontamination is a tiny fraction of the corpus — its
  shingle set is BROADCAST into the probe join (at real scale: a bloom filter
  push-down with the same plan shape); the train side never shuffles on text.
- repetition/quality are per-row expression pipelines — embarrassingly
  parallel, whole-stage-codegen, no shuffle at all.
- shuffle order partitions by a hash shard and orders within shards
  (row_number per shard), so no stage ever needs a single global ordering.

Every operator here carries a full value-match DuckDB oracle (md5 is the only
hash used — reproducible cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hudi_examples_spark.functions.text import words
from hudi_examples_spark.operators.llm_pipeline import _docs_shingled
from hudi_examples_spark.operators.spec import QuerySpec
from hudi_examples_spark.sources.readers import load_sf_table as t

#: eval-set membership rule: a deterministic slice of ``documents`` stands in
#: for the benchmark corpus (decontamination needs SOME held-out set; the
#: driver's tables have no separate one)
EVAL_MOD = 50


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    n = max(spark.sparkContext.defaultParallelism, 8)
    return t(spark, sf, "documents").repartition(n)


def pipe_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination by n-gram overlap.

    Train docs (doc_id % EVAL_MOD != 0) are flagged when they share any
    3-gram with the eval slice. The eval shingle set is broadcast — the train
    side is only ever scanned and hash-joined against a small dimension, the
    exact shape that survives a 1000× train-corpus scale-up.
    """
    d = _docs_shingled(spark, sf, 3)
    ev = F.broadcast(
        d.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("shingles").alias("g"))
        .distinct()
    )
    train = d.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id", F.explode_outer("shingles").alias("g")
    )
    hits = train.join(ev, "g", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        d.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


PIPE_DECONTAMINATE_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, list_filter(str_split(trim(text), ' '), w -> w <> '') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM ws)
), ev AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % {EVAL_MOD} = 0
), hits AS (
  SELECT s.doc_id, count(*) AS n_overlap
  FROM sh s JOIN ev USING (g)
  WHERE s.doc_id % {EVAL_MOD} <> 0
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(h.n_overlap, 0) > 0     AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {EVAL_MOD} <> 0
ORDER BY d.doc_id
"""


def dedup_cross_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cross-corpus dedup: training docs whose full-content md5 appears
    in the eval slice are removed (broadcast anti-join on the content hash —
    the train side shuffles nothing)."""
    d = _docs(spark, sf).select("doc_id", F.md5(F.trim("text")).alias("h"))
    ev = F.broadcast(d.filter(F.col("doc_id") % EVAL_MOD == 0).select("h").distinct())
    return (
        d.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(ev, "h", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


DEDUP_CROSS_CORPUS_ORACLE = f"""
SELECT doc_id FROM documents
WHERE doc_id % {EVAL_MOD} <> 0
  AND md5(trim(text)) NOT IN (
    SELECT md5(trim(text)) FROM documents WHERE doc_id % {EVAL_MOD} = 0
  )
ORDER BY doc_id
"""


def text_repetition_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_bigram_frac``: 1 − distinct-bigrams / total-bigrams;
    - ``top_word_frac``: occurrences of the most frequent word / total words;
    - ``keep``: both under the (Gopher report) thresholds.

    The bigram metrics are per-row array expressions (O(words) each). The
    top-word count deliberately is NOT the all-array form
    (``array_distinct × filter`` is O(words²) per row — a 100k-word document
    would cost 10^10 comparisons); it's explode → count per (doc, word) →
    max per doc, two keyed exchanges that stay balanced at any document
    length.
    """
    from hudi_examples_spark.functions.text import shingles_from

    # project the word array first; bigrams via shingles_from over the
    # projected column (inlined words() in the lambda is O(words²) per row)
    base = _docs(spark, sf).select("doc_id", words("text").alias("__ws"))
    base = base.select("doc_id", "__ws", shingles_from(F.col("__ws"), 2).alias("__bg"))
    top = (
        base.select("doc_id", F.explode("__ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    out = (
        base.join(top, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.size("__ws").cast("bigint").alias("n_words"),
            F.when(
                F.size("__bg") > 0,
                F.round(1.0 - F.size(F.array_distinct("__bg")) / F.size("__bg"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_frac"),
            F.when(F.size("__ws") > 0, F.round(F.col("top_cnt") / F.size("__ws"), 4))
            .otherwise(F.lit(0.0))
            .alias("top_word_frac"),
        )
    )
    return out.withColumn(
        "keep", (F.col("dup_bigram_frac") <= 0.9) & (F.col("top_word_frac") <= 0.3)
    ).orderBy("doc_id")


TEXT_REPETITION_ORACLE = """
WITH ws AS (
  SELECT doc_id, list_filter(str_split(trim(text), ' '), w -> w <> '') AS w
  FROM documents
), bg AS (
  SELECT doc_id, w,
         [w[i] || ' ' || w[i+1] FOR i IN generate_series(1, greatest(len(w) - 1, 0))] AS b
  FROM ws
), top AS (
  SELECT doc_id, max(c) AS top_cnt
  FROM (SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS word FROM ws)
        GROUP BY doc_id, word)
  GROUP BY doc_id
)
SELECT bg.doc_id,
       len(bg.w)::BIGINT AS n_words,
       CASE WHEN len(bg.b) > 0
            THEN round(1.0 - len(list_distinct(bg.b)) * 1.0 / len(bg.b), 4)
            ELSE 0.0 END AS dup_bigram_frac,
       CASE WHEN len(bg.w) > 0
            THEN round(top.top_cnt * 1.0 / len(bg.w), 4)
            ELSE 0.0 END AS top_word_frac,
       (CASE WHEN len(bg.b) > 0
             THEN round(1.0 - len(list_distinct(bg.b)) * 1.0 / len(bg.b), 4)
             ELSE 0.0 END) <= 0.9
       AND (CASE WHEN len(bg.w) > 0
                 THEN round(top.top_cnt * 1.0 / len(bg.w), 4)
                 ELSE 0.0 END) <= 0.3 AS keep
FROM bg LEFT JOIN top ON bg.doc_id = top.doc_id
ORDER BY bg.doc_id
"""


#: fixed "model" weights for the linear quality score (a stand-in for a
#: fasttext/logreg quality classifier scored in-engine), scaled to integers
#: by 10^4 so the whole score is exact integer arithmetic — score/1e4 =
#: -1.2·stop_ratio + 0.15·mean_word_len + 0.002·n_words + 0.5; emitting the
#: exact integer numerator (score × 10^4 × n_words) makes the result
#: value-hashable with no float-rounding boundary between engines.
QWS_STOP, QWS_LEN, QWS_WORDS, QWS_BIAS = -12000, 1500, 20, 5000


def with_quality_columns(df: DataFrame) -> DataFrame:
    """Append ``n_words`` / ``q_num`` / ``band`` to any DataFrame with a
    ``text`` column. Shared by the batch query AND the streaming corpus
    ingestion (streaming/corpus.py) — identical expressions on both paths, so
    stream-batch equivalence holds by construction, and both stay pure
    whole-stage-codegen (works unchanged on a streaming DataFrame)."""
    from hudi_examples_spark.functions.text import STOPWORDS

    ws = words(F.col("text"))
    n = F.size(ws).cast("bigint")
    sumlen = F.aggregate(ws, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    nstop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, F.lower(w)))).cast("bigint")
    q_num = (
        F.lit(QWS_STOP) * nstop
        + F.lit(QWS_LEN) * sumlen
        + F.lit(QWS_WORDS) * n * n
        + F.lit(QWS_BIAS) * n
    )
    return df.withColumns(
        {
            "n_words": n,
            "q_num": q_num.cast("bigint"),
            "band": F.when(q_num >= 10000 * n, F.lit("high"))
            .when(q_num >= 6000 * n, F.lit("mid"))
            .otherwise(F.lit("low")),
        }
    )


def text_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-weight linear quality classifier over cheap per-row features
    (stopword ratio, mean word length, doc length). The features and the dot
    product are all codegen expressions — the shape of scoring a trained
    linear model over 100 TB without leaving the JVM. The score is kept as
    the exact integer numerator ``q_num = 10^4 · n_words · score`` (band
    thresholds compare q_num against n_words-scaled cutoffs), so the driver
    gate hashes exact integers instead of boundary-roundable doubles."""
    return (
        with_quality_columns(_docs(spark, sf))
        .select("doc_id", "n_words", "q_num", "band")
        .orderBy("doc_id")
    )


def _stopword_sql_list() -> str:
    from hudi_examples_spark.functions.text import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def quality_sql(cols: str = "doc_id") -> str:
    """DuckDB SELECT computing ``n_words`` / ``q_num`` / ``band`` over
    ``documents``, carrying ``cols`` through — the single SQL definition of
    the quality score (mirror of ``with_quality_columns``), embedded by every
    oracle that scores documents (text_quality_score, dedup_keep_best,
    stream_corpus_ingest). Changing the word split, weights, or band cutoffs
    here and in ``with_quality_columns`` changes them everywhere at once."""
    score = f"{QWS_STOP} * nstop + {QWS_LEN} * sumlen + {QWS_WORDS} * n * n + {QWS_BIAS} * n"
    return f"""
SELECT {cols},
       n::BIGINT AS n_words,
       ({score})::BIGINT AS q_num,
       CASE WHEN {score} >= 10000 * n THEN 'high'
            WHEN {score} >= 6000 * n THEN 'mid'
            ELSE 'low' END AS band
FROM (
  SELECT {cols},
         len(list_filter(w, x -> list_contains({_stopword_sql_list()}, lower(x)))) AS nstop,
         coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS sumlen,
         len(w) AS n
  FROM (SELECT {cols}, list_filter(str_split(trim(text), ' '), w -> w <> '') AS w
        FROM documents)
)
"""


TEXT_QUALITY_ORACLE = quality_sql("doc_id") + "ORDER BY doc_id"

#: shards for the deterministic training order
N_SHARDS = 8
SHUFFLE_SEED = "seed42"


def pipe_shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic seeded training order: shard by a hash of (seed, doc_id),
    then order within each shard by the full hash. row_number is partitioned
    by shard — there is never a global sort or a single-partition window, so
    the plan is identical at 100 TB (shards ≈ output training files)."""
    d = _docs(spark, sf).select("doc_id")
    h = F.md5(F.concat(F.lit(SHUFFLE_SEED + ":"), F.col("doc_id").cast("string")))
    d = d.select(
        "doc_id",
        h.alias("h"),
        F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), N_SHARDS)
        .cast("int")
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h")
    return (
        d.select("doc_id", "shard", F.row_number().over(w).alias("pos"))
        .orderBy("shard", "pos")
    )


PIPE_SHUFFLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         md5('{SHUFFLE_SEED}:' || doc_id::VARCHAR) AS h,
         (('0x' || substr(md5('{SHUFFLE_SEED}:' || doc_id::VARCHAR), 1, 8))::BIGINT % {N_SHARDS})::INT AS shard
  FROM documents
)
SELECT doc_id, shard, row_number() OVER (PARTITION BY shard ORDER BY h)::INT AS pos
FROM h
ORDER BY shard, pos
"""


SPECS: list[QuerySpec] = [
    QuerySpec("pipe_decontaminate", pipe_decontaminate, PIPE_DECONTAMINATE_ORACLE, "LLM:decontamination"),
    QuerySpec("dedup_cross_corpus", dedup_cross_corpus, DEDUP_CROSS_CORPUS_ORACLE, "LLM:dedup"),
    QuerySpec("text_repetition_filter", text_repetition_filter, TEXT_REPETITION_ORACLE, "LLM:quality"),
    QuerySpec("text_quality_score", text_quality_score, TEXT_QUALITY_ORACLE, "LLM:quality"),
    QuerySpec("pipe_shuffle_order", pipe_shuffle_order, PIPE_SHUFFLE_ORACLE, "LLM:ordering"),
]
