"""T5-style span corruption: deterministic masked-span (input, target)
pair generation for denoising-objective pretraining.

The classic text-to-text denoising objective (Raffel et al., T5):
~15% of tokens are masked; CONSECUTIVE masked tokens collapse into one
sentinel ``<Xk>`` in the input, and the target lists each sentinel
followed by the tokens it hides. This implementation is fully
relational — no Python UDF anywhere:

1. tokenize + posexplode (narrow),
2. a per-(doc, pos) portable hash decides masking (deterministic
   across runs, engines, and partitionings — no RNG state to
   coordinate across 1000 executors),
3. mask runs found by the gaps-and-islands window (lag + running sum),
4. ordered per-run and per-doc reassembly via
   sort_array(collect_list(struct(...))) — aggregates, not
   single-partition windows.

Scale shape: both windows partition by doc_id (one shuffle; a doc's
tokens fit an executor by the same assumption as sessionization), the
reassembly aggregates are map-side combinable, and the output is one
row per document. At 100 TB this is exactly the shard-then-pack
pipeline's upstream stage (`operators.packing`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import tokens
from clickhouse_batcher_spark.operators import memo
from clickhouse_batcher_spark.operators.sampling import _sql_bucket
from clickhouse_batcher_spark.tables import load_table

MASK_PCT = 15
_SALT = "t5|"

# The masked-run frame: three consumers reference it inside the final
# action (unmasked pieces, masked-run numbering, target assembly) —
# lazily they race and recompute the token explode + two windows each.
# A memo rather than an in-query .cache() (round-14, ADVICE r13):
# repeated calls in one session no longer accumulate cached frames,
# memo.evict_all releases it like every other shared frame, and a hit
# skips building the token/flag/run plan altogether.
@memo.shared
def _t5_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")
    hb = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit(_SALT),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("pos").cast("string"),
                    ),
                    256,
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    flags = toks.withColumn("m", F.when(hb < MASK_PCT, 1).otherwise(0))
    w = Window.partitionBy("doc_id").orderBy("pos")
    g = flags.withColumn(
        "chg",
        F.when(
            F.lag("m").over(w).isNull() | (F.lag("m").over(w) != F.col("m")), 1
        ).otherwise(0),
    ).withColumn(
        "grp", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return g.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("p0"),
        F.min("m").alias("m"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("words"),
        F.count(F.lit(1)).alias("n_toks"),
    )


_HB_SQL = _sql_bucket(
    "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)", 100, _SALT
)


@query(
    "t5_span_corruption",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS tokens
      FROM documents
    ), toks AS (
      SELECT doc_id, CAST(generate_subscripts(tokens, 1) - 1 AS BIGINT) AS pos,
             unnest(tokens) AS tok FROM t
    ), flags AS (
      SELECT doc_id, pos, tok,
             CASE WHEN ({_HB_SQL}) < {MASK_PCT} THEN 1 ELSE 0 END AS m
      FROM toks
    ), g AS (
      SELECT *, CASE WHEN lag(m) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                       OR lag(m) OVER (PARTITION BY doc_id ORDER BY pos) <> m
                THEN 1 ELSE 0 END AS chg FROM flags
    ), g2 AS (
      SELECT *, SUM(chg) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS grp FROM g
    ), runs AS (
      SELECT doc_id, grp, MIN(pos) AS p0, MIN(m) AS m,
             string_agg(tok, ' ' ORDER BY pos) AS words, COUNT(*) AS n_toks
      FROM g2 GROUP BY doc_id, grp
    ), mruns AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY p0) - 1 AS sid
      FROM runs WHERE m = 1
    ), pieces AS (
      SELECT doc_id, p0, words AS piece FROM runs WHERE m = 0
      UNION ALL
      SELECT doc_id, p0, '<X' || CAST(sid AS VARCHAR) || '>' AS piece
      FROM mruns
    ), inp AS (
      SELECT doc_id, string_agg(piece, ' ' ORDER BY p0) AS input_text
      FROM pieces GROUP BY doc_id
    ), tgt AS (
      SELECT doc_id,
             string_agg('<X' || CAST(sid AS VARCHAR) || '> ' || words,
                        ' ' ORDER BY p0) AS target_text,
             CAST(SUM(n_toks) AS BIGINT) AS n_masked
      FROM mruns GROUP BY doc_id
    )
    SELECT i.doc_id, input_text, COALESCE(target_text, '') AS target_text,
           COALESCE(n_masked, 0) AS n_masked
    FROM inp i LEFT JOIN tgt USING (doc_id)
    """,
)
def t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoising (input, target) pairs per document — see module doc."""
    runs = _t5_runs(spark, sf_dir)
    wm = Window.partitionBy("doc_id").orderBy("p0")
    mruns = runs.filter(F.col("m") == 1).withColumn(
        "sid", F.row_number().over(wm) - 1
    )
    pieces = runs.filter(F.col("m") == 0).select(
        "doc_id", "p0", F.col("words").alias("piece")
    ).unionByName(
        mruns.select(
            "doc_id", "p0", F.format_string("<X%d>", F.col("sid")).alias("piece")
        )
    )
    inp = pieces.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("p0", "piece"))),
                lambda x: x["piece"],
            ),
        ).alias("input_text")
    )
    tgt = mruns.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "p0",
                            F.format_string(
                                "<X%d> %s", F.col("sid"), F.col("words")
                            ).alias("t"),
                        )
                    )
                ),
                lambda x: x["t"],
            ),
        ).alias("target_text"),
        F.sum("n_toks").cast("bigint").alias("n_masked"),
    )
    return inp.join(tgt, "doc_id", "left").select(
        "doc_id",
        "input_text",
        F.coalesce(F.col("target_text"), F.lit("")).alias("target_text"),
        F.coalesce(F.col("n_masked"), F.lit(0)).cast("bigint").alias("n_masked"),
    )
