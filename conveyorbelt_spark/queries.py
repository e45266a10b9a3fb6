"""Operator-parity query registry: Spark implementation + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 against the
driver-provided tables (region nation customer supplier part orders lineitem
events documents embeddings). Spark and SQL alias every computed column to
the same name; float aggregates are rounded identically on both sides so the
driver's order-insensitive value hash matches.

Conventions:
- timestamps are rendered to 'yyyy-MM-dd HH:mm:ss' strings before returning
  (engine-neutral value compare)
- double aggregates: round(x, 4)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql import Window as W  # noqa: N817

TOKEN_SPLIT = "[^a-z0-9]+"  # complement of textutils.TOKEN_RE — same token stream


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, term), JVM-side (codegen'd split+explode)."""
    return (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), TOKEN_SPLIT)).alias("term"))
        .where(F.col("term") != "")
    )


_TOKENS_SQL = (
    "SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term "
    "FROM documents"
)


# --------------------------------------------------------------------------
# Relational core (scans S1, filters F1/F2, aggregations A1/A3, joins J1-J3,
# sorts/limits O1/O2, windows)
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter pushdown + hash agg (SURVEY §2.5)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_revenue_by_nation(spark, sf_dir):
    """3-way equi-join (broadcast dims J1) + agg + sort."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


Q02_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def q03_minute_metrics(spark, sf_dir):
    """A1: per-(minute, type) count/sum/min/max/avg quintet — the
    InsightMetrics shape computed natively (InsightMetricsParser.cs:45-58)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss").alias("minute"),
            "event_type",
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
            F.round(F.min("value"), 4).alias("minimum"),
            F.round(F.max("value"), 4).alias("maximum"),
            F.round(F.avg("value"), 4).alias("average"),
        )
        .orderBy("minute", "event_type")
    )


Q03_SQL = """
SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute, event_type,
       count(*) AS cnt,
       round(sum(value), 4) AS total,
       round(min(value), 4) AS minimum,
       round(max(value), 4) AS maximum,
       round(avg(value), 4) AS average
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q04_sessionize(spark, sf_dir):
    """X3 analogue: stitch rows into sessions by 30-min inactivity gap
    (running-sum-over-window sessionization, SitecoreLogParser.cs:44-91)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    sess = F.sum(F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)).over(w)
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


Q04_SQL = """
WITH gaps AS (
  SELECT user_id, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, max(session_id)::BIGINT AS n_sessions, count(*) AS n_events
FROM sess GROUP BY user_id ORDER BY user_id
"""


def q05_filter_expr(spark, sf_dir):
    """F1 SimpleFilter semantics via Catalyst F.expr (SimpleFilter.cs:76-166
    compiles the same thing by hand)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.expr("value >= 50.0 AND event_type != 'view'"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("event_type")
    )


Q05_SQL = """
SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value
FROM events
WHERE value >= 50.0 AND event_type != 'view'
GROUP BY event_type ORDER BY event_type
"""


def q06_topk_per_group(spark, sf_dir):
    """O4 analogue at relational level: bounded top-k per group via window."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_orderpriority",
            F.col("rnk").cast("long").alias("rnk"),
            "o_orderkey",
            F.round("o_totalprice", 4).alias("totalprice"),
        )
        .orderBy("o_orderpriority", "rnk")
    )


Q06_SQL = """
SELECT o_orderpriority, rnk, o_orderkey, round(o_totalprice, 4) AS totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
)
WHERE rnk <= 3
ORDER BY o_orderpriority, rnk
"""


def q07_minute_shards(spark, sf_dir):
    """P1 minute planner: enumerate shard keys from min(ts) to max(ts)-grace
    (MinuteTableShardScheduler.cs:20-46; grace = 5 min, W1)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    return (
        bounds.select(
            F.explode(
                F.sequence(
                    F.col("lo"),
                    F.col("hi") - F.expr("INTERVAL 5 MINUTES"),
                    F.expr("INTERVAL 1 MINUTE"),
                )
            ).alias("m")
        )
        .select(F.date_format("m", "yyyy-MM-dd HH:mm:ss").alias("shard_key"))
        .orderBy("shard_key")
    )


Q07_SQL = """
WITH b AS (
  SELECT date_trunc('minute', min(ts)) AS lo, date_trunc('minute', max(ts)) AS hi
  FROM events
)
SELECT strftime(unnest(generate_series(lo, hi - INTERVAL 5 MINUTE, INTERVAL 1 MINUTE)),
                '%Y-%m-%d %H:%M:%S') AS shard_key
FROM b
ORDER BY shard_key
"""


# --------------------------------------------------------------------------
# Text / index operators over `documents`
# --------------------------------------------------------------------------

def q08_term_freq(spark, sf_dir):
    """Tokenize + term-frequency agg — the (term, df, cf) dictionary shape
    (SURVEY A5)."""
    docs = _t(spark, sf_dir, "documents")
    # two-level agg beats countDistinct's expand: (doc,term) partial counts
    # shuffle once, then a cheap per-term rollup (cf = Σtf, df = count)
    tf = _tokens(docs).groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("cf"), F.count("*").alias("df"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(50)
    )


Q08_SQL = f"""
SELECT term, count(*) AS cf, count(DISTINCT doc_id) AS df
FROM ({_TOKENS_SQL}) WHERE term != ''
GROUP BY term ORDER BY cf DESC, term ASC LIMIT 50
"""


def q09_doc_stats(spark, sf_dir):
    """Doc-length table (dl + distinct terms) — the doclens sidecar."""
    docs = _t(spark, sf_dir, "documents")
    tf = _tokens(docs).groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"), F.count("*").alias("n_terms"))
        .orderBy("doc_id")
    )


Q09_SQL = f"""
SELECT doc_id, count(*) AS dl, count(DISTINCT term) AS n_terms
FROM ({_TOKENS_SQL}) WHERE term != ''
GROUP BY doc_id ORDER BY doc_id
"""

BM25_QUERY_TERMS = ["spark", "join", "window"]


def q10_bm25_topk(spark, sf_dir):
    """Flagship: BM25 top-10 over documents, pure DataFrame ops
    (k1=1.2, b=0.75, ES idf; north_rule query semantics)."""
    docs = _t(spark, sf_dir, "documents")
    # tf feeds df_, the scoring join, and dl — materialize the (doc, term)
    # aggregate once instead of re-tokenizing the corpus three times.
    # localCheckpoint, NOT persist: persist() pins CacheManager entries for
    # the session lifetime (r2: q10's cache slowed every later query);
    # checkpoint blocks are GC-released and spill under pressure
    tf = (
        _tokens(docs).groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # one job for both corpus stats (n_docs counts ALL docs incl. empty)
    srow = docs.agg(F.count("*").alias("n")).collect()[0]
    n_docs = int(srow["n"])
    total = dl.agg(F.sum("dl")).collect()[0][0]
    avgdl = float(total) / n_docs
    qterms = spark.createDataFrame([(t,) for t in BM25_QUERY_TERMS], "term string")
    df_ = tf.join(F.broadcast(qterms), "term").groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_), "term")
        .withColumn("idf", F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)))
        .join(dl, "doc_id")
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * 2.2)
            / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * (F.col("dl") / F.lit(avgdl)))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


Q10_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q11_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (training-pipeline op; md5 portable
    across engines). Returns the keeper (min doc_id) per distinct text."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_dups"))
        .orderBy("text_hash")
    )


Q11_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY 1
"""


def q12_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-10 vs vec_id 0 (ANN baseline; double math)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    qrow = emb.where(F.col("vec_id") == 0).select("v").collect()[0][0]
    qlit = F.array(*[F.lit(float(x)) for x in qrow])
    dot = F.aggregate(
        F.zip_with(F.col("v"), qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    qnorm = float(sum(x * x for x in qrow)) ** 0.5
    return (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", F.round(dot / (norm_v * F.lit(qnorm)), 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


Q12_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], q.qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
FROM embeddings, q
WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


def q13_lang_quality(spark, sf_dir):
    """Text-quality scoring per lang: token counts + mean token length
    (training-pipeline quality gate)."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = _tokens(docs).groupBy("doc_id").agg(
        F.count("*").alias("dl"), F.round(F.avg(F.length("term")), 4).alias("avg_tok_len")
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("dl"), 4).alias("avg_dl"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


Q13_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, count(*) AS dl, round(avg(length(term)), 4) AS avg_tok_len
  FROM ({_TOKENS_SQL}) WHERE term != '' GROUP BY doc_id
)
SELECT lang, count(*) AS n_docs, round(avg(dl), 4) AS avg_dl,
       round(avg(n_chars), 4) AS avg_chars
FROM documents LEFT JOIN per_doc USING (doc_id)
GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# Training-pipeline operators (dedup / fingerprints / text analysis) —
# Spark impls live in operators/ and functions/; oracles are exact because
# every hash is md5→60-bit-int (portable) and permutations are integer
# universal hashes (conveyorbelt_spark/operators/dedup.py)
# --------------------------------------------------------------------------

from .functions.textstats import lang_id as _lang_id  # noqa: E402
from .functions.textstats import fingerprint as _fingerprint  # noqa: E402
from .functions.textstats import quality_score as _quality  # noqa: E402
from .functions.textstats import token_counts as _tok_counts  # noqa: E402
from .operators.dedup import (  # noqa: E402
    exact_dedup as _exact_dedup,
    minhash_jaccard_estimate as _mh_est,  # noqa: F401 (modular API kept)
    minhash_lsh_pairs as _mh_pairs,  # noqa: F401
    minhash_near_pairs as _mh_near,
    minhash_signatures as _mh_sigs,
    simhash as _simhash,
)
from .sources.planner import simple_filter as _simple_filter  # noqa: E402

_MH_PARAMS = [
    (327741617, 1152936666), (976413893, 68334472), (1202242075, 2146978983),
    (1369975287, 119248870), (1882953285, 769786948), (2053951701, 1583990192),
    (959775641, 1304549247), (1956722281, 1420943751), (2052949341, 1636129708),
    (1322904763, 1687674368), (165338511, 283194443), (1133316633, 748743479),
    (4812361, 1237575930), (372560219, 740097030), (309457263, 1759190803),
    (1801189931, 833359292),
]  # = operators.dedup.perm_params(16, seed=7), pinned
_M31 = 2147483647

_SHINGLES_SQL = """
  SELECT doc_id,
         unnest(CASE WHEN len(arr) >= 3 THEN
                  list_distinct(list_transform(range(1, len(arr) - 1),
                    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))
                WHEN len(arr) > 0 THEN [array_to_string(arr, ' ')]
                ELSE [] END) AS shingle
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           t -> t != '') AS arr
        FROM documents)
"""

_MH_SIG_SQL = f"""
  WITH sh AS ({_SHINGLES_SQL}),
  h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT % {_M31} AS hv
        FROM sh),
  perms AS (SELECT * FROM (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_PARAMS))}) t(perm, a, b)),
  raw AS (SELECT h.doc_id, p.perm, min((p.a * h.hv + p.b) % {_M31}) AS minh
          FROM h CROSS JOIN perms p GROUP BY h.doc_id, p.perm),
  sig AS (SELECT d.doc_id, p.perm, coalesce(r.minh, {_M31}) AS minh
          FROM documents d CROSS JOIN perms p
          LEFT JOIN raw r ON r.doc_id = d.doc_id AND r.perm = p.perm)
"""


def q14_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates with estimated Jaccard (16 perms,
    4 bands) — the shingle→minhash→band→bucket-join dedup pipeline."""
    docs = _t(spark, sf_dir, "documents")
    # signatures feed both sides of the banding self-join: materialize once
    # (at scale you'd write them to parquet; 16 longs/doc is trivial).
    # localCheckpoint releases on GC — persist() would outlive the query
    sigs = _mh_sigs(docs, num_perm=16).localCheckpoint(eager=True)
    return (
        _mh_near(sigs, bands=4)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    )


Q14_SQL = f"""
{_MH_SIG_SQL},
banded AS (
  SELECT doc_id, perm // 4 AS band,
         md5(string_agg(minh::VARCHAR, ',' ORDER BY perm)) AS bucket
  FROM sig GROUP BY doc_id, band
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id AND a.bsz <= 50 AND b.bsz <= 50
)
SELECT p.doc_a, p.doc_b,
       round(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / 16.0, 6) AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b AND sb.perm = sa.perm
GROUP BY p.doc_a, p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


def q15_simhash(spark, sf_dir):
    """Per-doc 32-bit SimHash fingerprints (tf-weighted token-hash bits)."""
    docs = _t(spark, sf_dir, "documents")
    return _simhash(docs).orderBy("doc_id")


Q15_SQL = """
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        FROM documents)
  WHERE term != '' GROUP BY doc_id, term
),
h AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(term), 1, 15))::UBIGINT::BIGINT % 4294967296 AS hv
  FROM tf
),
bits AS (
  SELECT doc_id, j.j, sum(tf * (2 * ((hv >> j.j) & 1) - 1)) AS s
  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS j) j
  GROUP BY doc_id, j.j
),
sh AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sh.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
ORDER BY d.doc_id
"""


def q16_lang_id(spark, sf_dir):
    """Heuristic language ID (marker-lexicon argmax, tie → 'und'/asc)."""
    docs = _t(spark, sf_dir, "documents")
    return _lang_id(docs).orderBy("doc_id")


def _markers_sql():
    from .functions.textstats import LANG_MARKERS

    rows = []
    for lang in sorted(LANG_MARKERS):
        for m in LANG_MARKERS[lang]:
            rows.append(f"('{lang}', '{m}')")
    return ", ".join(rows)


Q16_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
),
markers(lang, term) AS (VALUES {_markers_sql()}),
hits AS (
  SELECT t.doc_id, m.lang, count(*) AS hits
  FROM toks t JOIN markers m ON t.term = m.term AND t.term != ''
  GROUP BY t.doc_id, m.lang
),
all_hits AS (
  SELECT d.doc_id, l.lang, coalesce(h.hits, 0) AS hits
  FROM documents d
  CROSS JOIN (SELECT DISTINCT lang FROM markers) l
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = l.lang
),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
  FROM all_hits
)
SELECT doc_id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
       hits AS lang_hits
FROM best WHERE rn = 1 ORDER BY doc_id
"""


def q17_quality(spark, sf_dir):
    """Quality-gate features + composite score per doc."""
    docs = _t(spark, sf_dir, "documents")
    q = _quality(docs)
    return q.select(
        "doc_id", "n_tokens",
        F.round("alnum_ratio", 6).alias("alnum_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("mean_tok_len", 6).alias("mean_tok_len"),
        # floor, not round: identical doubles on both engines make floor
        # deterministic; round() differs in HALF_UP vs HALF_EVEN at .5
        (F.floor(F.col("quality") * 10000) / 10000).alias("quality"),
    ).orderBy("doc_id")


Q17_SQL = """
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
feats AS (
  SELECT doc_id,
         len(arr) AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           / greatest(length(text), 1) AS alnum_ratio,
         len(list_filter(arr, t -> list_contains(['the','and','of','to','is','that','with'], t)))
           / greatest(len(arr), 1) AS stopword_ratio,
         length(array_to_string(arr, '')) / greatest(len(arr), 1) AS mean_tok_len
  FROM base
)
SELECT doc_id, n_tokens,
       round(alnum_ratio, 6) AS alnum_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(mean_tok_len, 6) AS mean_tok_len,
       floor((least(n_tokens / 100.0, 1.0) * 0.4
              + least(stopword_ratio * 4.0, 1.0) * 0.3
              + alnum_ratio * 0.3) * 10000) / 10000 AS quality
FROM feats ORDER BY doc_id
"""


def q18_token_counts(spark, sf_dir):
    """Token counting: whitespace, alnum words, BPE-ish pieces."""
    docs = _t(spark, sf_dir, "documents")
    return _tok_counts(docs).orderBy("doc_id")


Q18_SQL = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\s+'), t -> t != '')) AS ws_tokens,
       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '')) AS word_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_ish_tokens
FROM documents ORDER BY doc_id
"""


def q19_fingerprint(spark, sf_dir):
    """Exact content fingerprint (md5 of normalized text)."""
    docs = _t(spark, sf_dir, "documents")
    return _fingerprint(docs).orderBy("doc_id")


Q19_SQL = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
"""


def q20_exact_dedup(spark, sf_dir):
    """Exact dedup keepers (one survivor per distinct text, min doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    return _exact_dedup(docs).select("doc_id").orderBy("doc_id")


Q20_SQL = """
SELECT doc_id FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
ORDER BY doc_id
"""


def q21_salted_shards(spark, sf_dir):
    """P2 salted shard keys: 10 pre-salt keys per elapsed minute
    ('{salt:D19}___{ticks:D19}', Modulo10MinuteTableShardScheduler.cs:13-28)
    computed as DataFrame ops over the events time range."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    minutes = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi") - F.expr("INTERVAL 5 MINUTES"), F.expr("INTERVAL 1 MINUTE"))
        ).alias("m")
    )
    ticks = (F.unix_seconds(F.col("m").cast("timestamp")) * F.lit(10000000) + F.lit(621355968000000000))
    return (
        minutes.select(
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("salt"),
            ticks.alias("ticks"),
        )
        .select(
            F.concat(
                F.lpad(F.col("salt").cast("string"), 19, "0"),
                F.lit("___"),
                F.lpad(F.col("ticks").cast("string"), 19, "0"),
            ).alias("shard_key")
        )
        .orderBy("shard_key")
    )


Q21_SQL = """
WITH b AS (
  SELECT date_trunc('minute', min(ts)) AS lo, date_trunc('minute', max(ts)) AS hi FROM events
),
m AS (
  SELECT unnest(generate_series(lo, hi - INTERVAL 5 MINUTE, INTERVAL 1 MINUTE)) AS m FROM b
),
s AS (SELECT unnest(range(0, 10)) AS salt)
SELECT lpad(salt::VARCHAR, 19, '0') || '___' ||
       lpad((epoch(m.m)::BIGINT * 10000000 + 621355968000000000)::VARCHAR, 19, '0') AS shard_key
FROM m CROSS JOIN s
ORDER BY shard_key
"""


def q22_simple_filter(spark, sf_dir):
    """F1 SimpleFilter compiled to Catalyst (missing-property-passes
    semantics; SimpleFilter.cs:20-166) — via the actual operator."""
    ev = _t(spark, sf_dir, "events")
    pred = _simple_filter("value >= 50.0") & _simple_filter("event_type != view")
    return (
        ev.where(pred)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("event_type")
    )


Q22_SQL = Q05_SQL  # same semantics, different Spark construction path


# --------------------------------------------------------------------------
# Parser round-trips: synthesize raw log/JSON payloads FROM the events table
# inside the query, run them through the real parser operators, and check
# against an oracle that computes the expected rows directly from events.
# This exercises X1/X4/X5 through the driver's correctness gate.
# --------------------------------------------------------------------------

_IIS_HDR = "#Fields: date time c-ip cs-method sc-status time-taken"


_IIS_NF = 8  # synthesized log files — like real IIS sites, one offset chain each


def q23_iis_roundtrip(spark, sf_dir):
    """X1: events → W3C IIS log lines → parse_iis_logs → typed rows.
    Synthesis spreads events over ``_IIS_NF`` log files with PER-FILE
    line numbers and byte offsets (window partitioned by file — a global
    unpartitioned window would serialize the synthesis through one task)."""
    from .sources.parsers import parse_iis_logs

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 200)
    line = F.concat_ws(
        " ",
        F.date_format("ts", "yyyy-MM-dd"),
        F.date_format("ts", "HH:mm:ss"),
        F.concat(F.lit("10.0.0."), (F.col("user_id") % 200).cast("string")),
        F.upper("event_type"),
        (F.lit(200) + F.col("event_id") % 5).cast("int").cast("string"),
        F.when(F.col("value") < 1, F.lit("-")).otherwise(
            F.round("value", 0).cast("int").cast("string")
        ),
    )
    w = W.partitionBy("file").orderBy("event_id")
    lines = (
        ev.select(
            F.col("event_id"),
            line.alias("line"),
            F.format_string(
                "logs/i1/u_ex_f%d.log", F.pmod("event_id", F.lit(_IIS_NF)).cast("int")
            ).alias("file"),
        )
        .withColumn("line_no", F.row_number().over(w) + 1)
        .withColumn(
            "byte_offset",
            F.lit(len(_IIS_HDR) + 1)
            + F.coalesce(
                F.sum(F.length("line") + 1).over(
                    w.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("file", "line_no", "byte_offset", "line")
    )
    hdr = spark.createDataFrame(
        [(f"logs/i1/u_ex_f{k}.log", 1, 0, _IIS_HDR) for k in range(_IIS_NF)],
        "file string, line_no long, byte_offset long, line string",
    )
    parsed = parse_iis_logs(hdr.unionByName(lines))
    return parsed.select(
        "RowKey",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "c_ip",
        "cs_method",
        "sc_status",
        "time_taken",
    ).orderBy("RowKey")


Q23_SQL = f"""
WITH ev AS (SELECT * FROM events WHERE event_id < 200),
lines AS (
  SELECT event_id,
         strftime(ts, '%Y-%m-%d') || ' ' || strftime(ts, '%H:%M:%S')
           || ' 10.0.0.' || (user_id % 200)
           || ' ' || upper(event_type)
           || ' ' || (200 + event_id % 5)
           || ' ' || CASE WHEN value < 1 THEN '-' ELSE round(value)::INT::VARCHAR END
           AS line
  FROM ev
),
offs AS (
  SELECT event_id, line, event_id % {_IIS_NF} AS fk,
         {len(_IIS_HDR) + 1} + coalesce(sum(length(line) + 1) OVER (
             PARTITION BY event_id % {_IIS_NF}
             ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + length(line) + 1 AS end_off
  FROM lines
)
SELECT 'u_ex_f' || o.fk || '_' || o.end_off AS RowKey,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       '10.0.0.' || (e.user_id % 200) AS c_ip,
       upper(e.event_type) AS cs_method,
       200 + e.event_id % 5 AS sc_status,
       CASE WHEN e.value < 1 THEN NULL ELSE round(e.value)::BIGINT END AS time_taken
FROM ev e JOIN offs o USING (event_id)
ORDER BY RowKey
"""


def q24_insight_roundtrip(spark, sf_dir):
    """X5: per-(minute, type) aggregates → '{"records":[...]}' blobs →
    parse_insight_metrics → PK/RK recipe checked end to end."""
    from .sources.parsers import parse_insight_metrics

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    agg = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "event_type"
    ).agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 0).cast("long").alias("tot"),
        F.round(F.min("value"), 0).cast("long").alias("mn"),
        F.round(F.max("value"), 0).cast("long").alias("mx"),
    )
    rid = F.concat(
        F.lit("/SUBSCRIPTIONS/9614FC94-0000-0000-0000-000000000000/RESOURCEGROUPS/RG/PROVIDERS/P/T/N-"),
        F.upper("event_type"),
    )
    frag = F.concat(
        F.lit('{"count":'), F.col("cnt").cast("string"),
        F.lit(',"total":'), F.col("tot").cast("string"),
        F.lit(',"minimum":'), F.col("mn").cast("string"),
        F.lit(',"maximum":'), F.col("mx").cast("string"),
        F.lit(',"average":0,"resourceId":"'), rid,
        F.lit('","time":"'), F.date_format("minute", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit('","metricName":"'), F.col("event_type"),
        F.lit('","timeGrain":"PT1M"}'),
    )
    blob = agg.agg(
        F.concat(F.lit('{"records":['), F.concat_ws(",", F.collect_list(frag)), F.lit("]}")).alias(
            "records"
        )
    )
    parsed = parse_insight_metrics(blob)
    return parsed.select(
        "PartitionKey", "RowKey", "metricName",
        F.col("count").alias("cnt"),
        F.col("total").cast("long").alias("tot"),
        F.col("minimum").cast("long").alias("mn"),
        F.col("maximum").cast("long").alias("mx"),
        "timeGrain",
    ).orderBy("PartitionKey", "RowKey")


Q24_SQL = """
WITH agg AS (
  SELECT date_trunc('minute', ts) AS minute, event_type,
         count(*) AS cnt,
         round(sum(value))::BIGINT AS tot,
         round(min(value))::BIGINT AS mn,
         round(max(value))::BIGINT AS mx
  FROM events WHERE event_id < 2000
  GROUP BY 1, 2
)
SELECT '9614FC94_N-' || upper(event_type) || '_T_P_' || event_type AS PartitionKey,
       strftime(minute, '%Y%m%d%H%M%S') AS RowKey,
       event_type AS metricName,
       cnt, tot, mn, mx,
       'PT1M' AS timeGrain
FROM agg
ORDER BY PartitionKey, RowKey
"""


def q25_json_roundtrip(spark, sf_dir):
    """X4: events → JSON object docs → parse_generic_json → timestamp
    heuristic + deterministic id synthesis checked via md5 twin in SQL."""
    from .sources.parsers import parse_generic_json

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 300)
    doc = F.concat(
        F.lit('{"EventDate": "'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit('", "user": '), F.col("user_id").cast("string"),
        F.lit(', "kind": "'), F.col("event_type"), F.lit('"}'),
    )
    parsed = parse_generic_json(ev.select(doc.alias("doc")))
    return parsed.select(
        "RowKey",
        F.substring("ts", 1, 19).alias("event_ts"),
        F.col("doc")["user"].alias("user"),
        F.col("doc")["kind"].alias("kind"),
    ).orderBy("RowKey")


Q25_SQL = """
WITH docs AS (
  SELECT '{"EventDate": "' || strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z", "user": '
         || user_id || ', "kind": "' || event_type || '"}' AS doc,
         ts, user_id, event_type
  FROM events WHERE event_id < 300
)
SELECT md5(doc || '#0') AS RowKey,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS event_ts,
       user_id::VARCHAR AS user,
       event_type AS kind
FROM docs
ORDER BY RowKey
"""


def q26_embedding_near_dups(spark, sf_dir):
    """Embedding near-dup detection through the BUCKETED LSH path (banded
    random hyperplanes → equi-join candidates → exact cosine verify). The
    raw table has no pairs above 0.51 cosine, so 50 deterministic perturbed
    copies are injected (first coordinate +0.1) — the expected near-dup
    pairs with exactly known similarities on both engines."""
    from .operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x + 0.1).otherwise(x)
        ).alias("embedding"),
    )
    # the augmented table feeds LSH banding AND both sides of the verify
    # join — materialize once (at scale it would be a written table).
    # localCheckpoint releases on GC — persist() would outlive the query
    aug = emb.unionByName(pert).localCheckpoint(eager=True)
    return (
        embedding_near_dups(aug, threshold=0.99)
        .orderBy("doc_a", "doc_b")
    )


Q26_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pert AS (
  SELECT vec_id + 10000 AS vec_id, [e[1] + 0.1] || e[2:] AS e
  FROM v WHERE vec_id < 50
),
aug AS (SELECT * FROM v UNION ALL SELECT * FROM pert),
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT doc_a, doc_b, round(c, 6) AS cos_sim
FROM pairs WHERE c >= 0.99
ORDER BY doc_a, doc_b
"""


_SC_STEM = "applog.log.20240101.000000"
_SC_PATH = f"site/prod/{_SC_STEM}.txt"
_SC_NF = 4  # synthesized sitecore files (distinct hhmmss stems)


def q27_sitecore_roundtrip(spark, sf_dir):
    """X3 roundtrip: events → sitecore-format lines (with continuation
    lines and secrets) → parse_sitecore_logs (distributed stitch +
    redaction) → typed entries, oracle-checked."""
    from .sources.parsers import parse_sitecore_logs

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 300)
    # spread over _SC_NF log files (distinct hhmmss stems) with PER-FILE
    # line numbers — an unpartitioned window would serialize the synthesis
    fk = F.pmod("event_id", F.lit(_SC_NF)).cast("int")
    w = W.partitionBy("file").orderBy("event_id")
    rn = F.row_number().over(w)
    start = F.concat(
        F.lit("proc"), (F.col("user_id") % 10).cast("string"),
        F.lit(" "), F.date_format("ts", "HH:mm:ss"),
        F.lit(" "), F.upper(F.substring("event_type", 1, 4)),
        F.lit(" msg-"), F.col("event_id").cast("string"),
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(F.lit(" password=sec"), F.col("event_id").cast("string"), F.lit(";tail")),
        ).otherwise(F.lit("")),
    )
    base = ev.select(
        "event_id", "ts", start.alias("s"),
        F.format_string("site/prod/applog.log.20240101.0000%02d.txt", fk).alias("file"),
    ).withColumn("start_ln", rn * 2)
    starts = base.select("file", F.col("start_ln").alias("line_no"), F.col("s").alias("line"))
    conts = base.where(F.col("event_id") % 3 == 0).select(
        "file",
        (F.col("start_ln") + 1).alias("line_no"),
        F.concat(F.lit("   at Trace"), F.col("event_id").cast("string")).alias("line"),
    )
    lines = starts.unionByName(conts).select("file", "line_no", "line")
    parsed = parse_sitecore_logs(lines, split_lines=64)
    return parsed.select(
        "RowKey",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("entry_ts"),
        F.col("SitecoreLevel").alias("level"),
        F.col("SitecoreProcessId").alias("src"),
        F.col("Payload").alias("payload"),
    ).orderBy("RowKey")


Q27_SQL = f"""
WITH ev AS (
  SELECT *, event_id % {_SC_NF} AS fk,
         2 * row_number() OVER (
             PARTITION BY event_id % {_SC_NF} ORDER BY event_id) AS start_ln
  FROM events WHERE event_id < 300
)
SELECT 'applog.log.20240101.0000' || lpad(fk::VARCHAR, 2, '0') || '_' || start_ln AS RowKey,
       '2024-01-01 ' || strftime(ts, '%H:%M:%S') AS entry_ts,
       upper(substr(event_type, 1, 4)) AS level,
       'proc' || (user_id % 10) AS src,
       'msg-' || event_id
         || CASE WHEN event_id % 7 = 0 THEN ' password=**PASSWORD**REDACTED**;tail' ELSE '' END
         || CASE WHEN event_id % 3 = 0 THEN chr(10) || '   at Trace' || event_id ELSE '' END
         AS payload
FROM ev
ORDER BY RowKey
"""


def q28_eav_roundtrip(spark, sf_dir):
    """X6/X7 roundtrip: events → typed EAV entity rows → eav_to_doc
    (canonical quadruple + event-time coalesce via EventTickCount, ISO 's'
    render, lowercase bools, empty-value drop) — oracle-checked."""
    from .sources.parsers import eav_to_doc, timestamp_to_ticks

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 500)
    eav = ev.select(
        F.concat(F.lit("p"), (F.col("user_id") % 10).cast("string")).alias("PartitionKey"),
        F.concat(F.lit("r"), F.col("event_id").cast("string")).alias("RowKey"),
        F.col("ts").alias("Timestamp"),
        timestamp_to_ticks(
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).cast("timestamp")
        ).alias("EventTickCount"),
        (F.col("value") > 50).alias("flag"),
        F.when(F.col("event_id") % 5 == 0, F.lit("")).otherwise(F.lit("note")).alias("note"),
        F.col("value").alias("v"),
    )
    doc = eav_to_doc(eav, "WADLogsTable")
    return doc.select(
        "PartitionKey", "RowKey", "cb_type", "ts", "flag", "note",
        F.col("v").cast("double").alias("v"),
    ).orderBy("RowKey")


Q28_SQL = """
SELECT 'p' || (user_id % 10) AS PartitionKey,
       'r' || event_id AS RowKey,
       'WADLogsTable' AS cb_type,
       strftime(ts + INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%S') AS ts,
       CASE WHEN value > 50 THEN 'true' ELSE 'false' END AS flag,
       CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'note' END AS note,
       value::DOUBLE AS v
FROM events WHERE event_id < 500
ORDER BY RowKey
"""


def q29_hour_shards(spark, sf_dir):
    """P4/S5: hour-file convention names synthesized from the events time
    range — one u_exyyMMddHH.log work unit per elapsed hour
    (IisBlobConventionScheduler.cs:68-85)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    return (
        bounds.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))).alias("h")
        )
        .select(
            F.concat(F.lit("u_ex"), F.date_format("h", "yyMMddHH"), F.lit(".log")).alias(
                "file_name"
            )
        )
        .orderBy("file_name")
    )


Q29_SQL = """
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
)
SELECT 'u_ex' || strftime(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)), '%y%m%d%H')
         || '.log' AS file_name
FROM b
ORDER BY file_name
"""


def q30_winnow_fingerprints(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints: min shingle hash per
    sliding window — any shared run of k+w-1 tokens between two docs yields
    a shared fingerprint (the MOSS scheme for near-dup span detection)."""
    from .functions.textstats import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, shingle_k=4, window_w=5).orderBy("doc_id", "fp")


Q30_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(arr) AS term,
         generate_subscripts(arr, 1) - 1 AS pos
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           t -> t != '') AS arr
        FROM documents)
),
sh AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(term || ' ' || t1 || ' ' || t2 || ' ' || t3), 1, 15))::UBIGINT::BIGINT
           % 4294967296 AS hv
  FROM (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1, lead(term, 2) OVER w AS t2, lead(term, 3) OVER w AS t3
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  )
  WHERE t3 IS NOT NULL
),
win AS (
  SELECT doc_id,
         min(hv)  OVER v AS fp,
         count(*) OVER v AS n
  FROM sh
  WINDOW v AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
),
mx AS (SELECT *, max(n) OVER (PARTITION BY doc_id) AS m FROM win)
SELECT DISTINCT doc_id, fp
FROM mx
WHERE n = 5 OR (m < 5 AND n = m)
ORDER BY doc_id, fp
"""


def q31_phrase_search(spark, sf_dir):
    """Phrase query through the REAL positional index (build → phrase_topk)
    checked against a pure-SQL adjacency+scoring oracle: the strongest gate
    — engine index bytes vs relational semantics, hash-identical scores."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import phrase_topk

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q31_idx_")
    try:
        # the driver table carries its own doc_id — index it directly
        build_index(spark, docs.select("doc_id", "text"), out,
                    url_col=None, n_buckets=8, positions=True)
        rows = [
            (int(r.doc_id), float(r.score))
            for r in phrase_topk(spark, out, "value table", 20).collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "doc_id long, score double")
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q31_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
dfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'value' THEN doc_id END) AS df0,
         count(DISTINCT CASE WHEN term = 'table' THEN doc_id END) AS df1
  FROM toks
),
hits AS (
  SELECT a.doc_id, count(*) AS pf
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'value' AND b.term = 'table'
  GROUP BY a.doc_id
),
scored AS (
  SELECT h.doc_id,
         (ln(1.0 + (s.n - d.df0 + 0.5) / (d.df0 + 0.5))
          + ln(1.0 + (s.n - d.df1 + 0.5) / (d.df1 + 0.5)))
         * (h.pf * 2.2) / (h.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM hits h
  JOIN dl ON dl.doc_id = h.doc_id
  CROSS JOIN stats s CROSS JOIN dfs d
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q32_date_bounded_bm25(spark, sf_dir):
    """Date-bounded BM25 through REAL daily sub-indexes (the reference's
    IndexNamer.cs:21-41 one-index-per-day design): ``time_range`` prunes to
    the window's day partitions BEFORE any segment file opens, stats merge
    across the selected days (exact window-corpus stats), and the DuckDB
    twin scores BM25 over exactly the window's documents. The driver table
    has no timestamp, so days are synthesized deterministically from
    doc_id on both sides (doc_id % 4 → 4 consecutive days)."""
    import datetime as dt
    import shutil
    import tempfile

    from .index.daily import DailySearcher, build_daily_index

    docs = _t(spark, sf_dir, "documents").withColumn(
        "warc_ts",
        F.expr(
            "timestampadd(DAY, cast(pmod(doc_id, 4) as int), "
            "timestamp '2016-09-16 12:00:00')"
        ),
    )
    root = tempfile.mkdtemp(prefix="cb_q32_idx_")
    try:
        # small layout knobs: the gate builds 4 tiny day indexes in-query,
        # so per-stage task count (n_term_buckets) dominates, not data
        build_daily_index(
            spark, docs.select("doc_id", "text", "warc_ts"), root,
            url_col=None, n_buckets=4, n_term_buckets=8,
        )
        # window = days 1 and 2 of 4 (doc_id % 4 ∈ {1, 2})
        rows = DailySearcher(spark, root).search_rows(
            " ".join(BM25_QUERY_TERMS), 20,
            time_range=(dt.datetime(2016, 9, 17), dt.datetime(2016, 9, 19)),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q32_SQL = f"""
WITH docs AS (SELECT * FROM documents WHERE doc_id % 4 IN (1, 2)),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM docs
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM docs) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM docs) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20
"""


def q33_facet_counts(spark, sf_dir):
    """Distributed ES terms-aggregation (facets) over the FULL matching set
    of a bool query, through the real index: matching doc_ids from one
    pruned posting scan ⋈ docstore → one hash aggregation — no driver
    materialization, no hit cap. DuckDB twin: GROUP BY over the docs that
    contain any SHOULD term and no MUST_NOT term."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import facet_counts_spark

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q33_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("source",))
        rows = [
            (r["facet"], int(r["n"]))
            for r in facet_counts_spark(
                spark, out, "source", "spark join", must_not="window"
            ).collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "facet string, n long")
    return res.orderBy(F.desc("n"), F.asc("facet"))


Q33_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN ('spark', 'join') THEN 1 ELSE 0 END) = 1
     AND max(CASE WHEN term = 'window' THEN 1 ELSE 0 END) = 0
)
SELECT d.source AS facet, count(*) AS n
FROM documents d JOIN hits USING (doc_id)
GROUP BY d.source ORDER BY n DESC, facet ASC
"""


def q34_min_should_match(spark, sf_dir):
    """ES minimum_should_match through the REAL index: top-k BM25 over docs
    matching ≥ 2 of the 3 query terms (candidate filter inside the scoring
    kernel, pruning stays exact) vs a DuckDB twin with a HAVING
    count(DISTINCT matched term) ≥ 2 candidate set."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q34_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8)
        rows = Searcher(spark, out).search_rows(
            " ".join(BM25_QUERY_TERMS), 20, min_should=2
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q34_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
msm AS (
  SELECT doc_id FROM tf WHERE term IN (SELECT term FROM q)
  GROUP BY doc_id HAVING count(DISTINCT term) >= 2
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN msm ON msm.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20
"""


def q35_filtered_search(spark, sf_dir):
    """ES filter context through the REAL index: keyword-field postings
    (``lang:xx`` + sortable ``nc:####`` terms, tf=0 — the Lucene keyword
    design the reference gets from its not_analyzed ES mappings, e.g.
    mappings/AzureIisLog.json) intersected inside the scoring kernel. Top-k
    BM25 over docs with lang='en' AND 100 ≤ n_chars ≤ 300; scores are the
    UNFILTERED corpus scores (filter context never rescores). DuckDB twin:
    same BM25 over the whole corpus, hits restricted by a WHERE on the
    documents table."""
    import shutil
    import tempfile

    from .index.build import build_index, sortable_int, sortable_int_col
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q35_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None, n_buckets=8,
            keyword_cols=("lang", ("nc", sortable_int_col("n_chars", 4))),
        )
        rows = Searcher(spark, out).search_rows(
            " ".join(BM25_QUERY_TERMS), 20,
            filters={"lang": "en"},
            ranges={"nc": (sortable_int(100, 4), sortable_int(300, 4))},
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q35_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT s.doc_id, round(s.raw, 4) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
WHERE d.lang = 'en' AND d.n_chars BETWEEN 100 AND 300
ORDER BY s.raw DESC, s.doc_id ASC LIMIT 20
"""


def q36_delete_by_query(spark, sf_dir):
    """ES _delete_by_query through the REAL index: tombstone every doc
    containing 'window' (per-run tombstones, block surgery at read — see
    index/delete.py), then BM25 top-k. Pre-compaction semantics pinned by
    the oracle: hits exclude deleted docs while idf/avgdl still count them
    (Lucene docFreq-includes-deletes). DuckDB twin: full-corpus BM25,
    matching set restricted to docs without the deleted term."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.delete import delete_by_query
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q36_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8)
        delete_by_query(spark, out, "", must="window", op_id="q36")
        rows = Searcher(spark, out).search_rows(" ".join(BM25_QUERY_TERMS), 20)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q36_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
dead AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'window'),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM dead)
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20
"""


def q37_date_histogram(spark, sf_dir):
    """ES date_histogram aggregation over the FULL matching set of a bool
    query, through the real index (the Kibana time-chart workload):
    matching doc_ids from one pruned posting scan ⋈ docstore → one hash
    agg on the truncated day — fully distributed, no hit cap. The driver
    table has no timestamp, so warc_ts is synthesized deterministically
    from doc_id (doc_id % 4 → 4 consecutive days) on both sides, like
    q32."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents").withColumn(
        "warc_ts",
        F.expr(
            "timestampadd(DAY, cast(pmod(doc_id, 4) as int), "
            "timestamp '2016-09-16 12:00:00')"
        ),
    )
    out = tempfile.mkdtemp(prefix="cb_q37_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("warc_ts",))
        res = search_aggs(
            spark, out,
            {"by_day": {"date_histogram": {"field": "warc_ts", "interval": "day"}}},
            "spark join", must_not="window",
        )["by_day"]
        rows = [(r.key, int(r.n)) for r in res.collect()]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "day timestamp, n long")
    return out_df.orderBy("day")


Q37_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN ('spark', 'join') THEN 1 ELSE 0 END) = 1
     AND max(CASE WHEN term = 'window' THEN 1 ELSE 0 END) = 0
)
SELECT date_trunc('day', TIMESTAMP '2016-09-16 12:00:00'
                         + (d.doc_id % 4) * INTERVAL 1 DAY) AS day,
       count(*) AS n
FROM documents d JOIN hits USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


def q38_multi_match(spark, sf_dir):
    """ES multi_match (best_fields, title^2) through the REAL index: a
    title field synthesized deterministically as the text's first five
    tokens is indexed via ``field_cols`` (field:token postings, per-field
    tf/dl/df/avgdl), and the query ranks by the best single field's BM25
    (dis_max). DuckDB twin: two per-field BM25 scorings (title avgdl = Σ
    title tokens / corpus n_docs, the engine's convention) merged with
    greatest()."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents").withColumn(
        "title",
        F.array_join(
            F.slice(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
                ),
                1, 5,
            ),
            " ",
        ),
    )
    out = tempfile.mkdtemp(prefix="cb_q38_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text", "title"), out, url_col=None,
            n_buckets=8, field_cols=("title",),
        )
        rows = Searcher(spark, out).multi_match_rows(
            " ".join(BM25_QUERY_TERMS), ["title^2", "text"], 20
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q38_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
n AS (SELECT count(*) AS n_docs FROM documents),
stats AS (
  SELECT n.n_docs, (SELECT sum(dl) FROM dl)::DOUBLE / n.n_docs AS avgdl FROM n
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
text_scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
ttoks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')[1:5]) AS term
  FROM documents
),
ttf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks GROUP BY doc_id, term),
tdl AS (SELECT doc_id, sum(tf) AS dl FROM ttf GROUP BY doc_id),
tstats AS (
  SELECT n.n_docs, (SELECT sum(dl) FROM tdl)::DOUBLE / n.n_docs AS avgdl FROM n
),
tdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM ttf
        WHERE term IN (SELECT term FROM q) GROUP BY term),
title_scored AS (
  SELECT ttf.doc_id,
         sum(2.0 * ln(1.0 + (tstats.n_docs - tdf.df + 0.5) / (tdf.df + 0.5))
             * (ttf.tf * 2.2)
             / (ttf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (tdl.dl / tstats.avgdl)))) AS raw
  FROM ttf
  JOIN tdf ON ttf.term = tdf.term
  JOIN tdl ON ttf.doc_id = tdl.doc_id
  CROSS JOIN tstats
  GROUP BY ttf.doc_id
),
best AS (
  SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
         greatest(coalesce(t.raw, -1e18), coalesce(s.raw, -1e18)) AS raw
  FROM text_scored s FULL JOIN title_scored t ON s.doc_id = t.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM best ORDER BY raw DESC, doc_id ASC LIMIT 20
"""


def q39_analyzed_search(spark, sf_dir):
    """BM25 over an ANALYZED index (ES custom analyzer: english stopwords +
    minimal plural stemming), queried with surface forms ('sparks joins
    windows') that the query-side chain reduces to the indexed stems —
    index and query agree through the persisted stats config. DuckDB twin:
    the same chain as SQL (stopword NOT IN + a CASE stemmer equivalent to
    textutils.stem_s — RE2 has no lookbehind, so the rules are expressed
    with substr/length), then q10-style BM25."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q39_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8,
            analyzer={"stopwords": "english", "stem": "s"},
        )
        rows = Searcher(spark, out).search_rows("sparks joins windows", 20)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _q39_sql() -> str:
    from .textutils import ENGLISH_STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOPWORDS))
    stem_case = """
  CASE
    WHEN length(term) >= 5 AND substr(term, length(term)-3, 1) NOT IN ('a','e')
         AND term LIKE '%ies'
      THEN substr(term, 1, length(term)-3) || 'y'
    WHEN regexp_matches(term, '[iaoe]es$') THEN term
    WHEN length(term) >= 4 AND substr(term, length(term)-1, 1) NOT IN ('s','u')
         AND term LIKE '%s'
      THEN substr(term, 1, length(term)-1)
    ELSE term
  END"""
    return f"""
WITH rawtoks AS ({_TOKENS_SQL}),
stoks AS (
  SELECT doc_id, {stem_case} AS term
  FROM rawtoks WHERE term <> '' AND term NOT IN ({stop_list})
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM stoks GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20
"""


Q39_SQL = _q39_sql()


def q40_dsl_search(spark, sf_dir):
    """An ES REQUEST BODY executed verbatim through ``search_body`` (the
    DSL the reference's users actually write): bool query with should +
    must_not + term-list filter + inclusive range filter over keyword
    fields, against the real index. The DuckDB twin scores full-corpus
    BM25 and restricts hits with the equivalent WHERE clause."""
    import shutil
    import tempfile

    from .index.build import build_index, sortable_int_col
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q40_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None, n_buckets=8,
            keyword_cols=("lang", ("nc", sortable_int_col("n_chars", 4))),
        )
        body = {
            "query": {"bool": {
                "should": [{"match": {"text": " ".join(BM25_QUERY_TERMS)}}],
                "must_not": [{"match": {"text": "merge"}}],
                "filter": [
                    {"terms": {"lang": ["en", "de"]}},
                    {"range": {"nc": {"gte": "0080", "lte": "0350"}}},
                ],
            }},
            "size": 20,
        }
        resp = search_body(spark, out, body)
        rows = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q40_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
excl AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM excl)
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM (
  SELECT s.doc_id, round(s.raw, 4) AS score, s.raw
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
  WHERE d.lang IN ('en', 'de') AND d.n_chars BETWEEN 80 AND 350
  ORDER BY s.raw DESC, s.doc_id ASC LIMIT 20
) t
ORDER BY score DESC, doc_id ASC
"""


def q41_analyzed_phrase(spark, sf_dir):
    """Phrase search over an ANALYZED positional index (Lucene
    position-increment gaps): the index removes english stopwords but
    keeps each surviving token's original slot, so the phrase
    "value the table" compiles to value@0, table@2 and matches docs with
    those terms exactly two raw slots apart — whatever occupies the gap.
    The DuckDB twin joins raw-position tokens at distance 2 and scores
    BM25 with POST-FILTER dl/avgdl/df (the Lucene length-norm rule)."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import phrase_topk

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q41_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8, n_term_buckets=8, positions=True,
            analyzer={"stopwords": "english"},
        )
        rows = [
            (int(r.doc_id), float(r.score))
            for r in phrase_topk(spark, out, "value the table", 20).collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "doc_id long, score double")
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


from .textutils import ENGLISH_STOPWORDS as _EN_STOP  # noqa: E402

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in sorted(_EN_STOP))

Q41_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
an AS (SELECT * FROM toks WHERE term NOT IN ({_STOPWORDS_SQL})),
dl AS (SELECT doc_id, count(*) AS dl FROM an GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT count(*) FROM an)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
dfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'value' THEN doc_id END) AS df0,
         count(DISTINCT CASE WHEN term = 'table' THEN doc_id END) AS df1
  FROM an
),
hits AS (
  SELECT a.doc_id, count(*) AS pf
  FROM an a JOIN an b ON a.doc_id = b.doc_id AND b.pos = a.pos + 2
  WHERE a.term = 'value' AND b.term = 'table'
  GROUP BY a.doc_id
),
scored AS (
  SELECT h.doc_id,
         (ln(1.0 + (s.n - d.df0 + 0.5) / (d.df0 + 0.5))
          + ln(1.0 + (s.n - d.df1 + 0.5) / (d.df1 + 0.5)))
         * (h.pf * 2.2) / (h.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM hits h
  JOIN dl ON dl.doc_id = h.doc_id
  CROSS JOIN stats s CROSS JOIN dfs d
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q42_fuzzy_expansion(spark, sf_dir):
    """prefix_length=0 fuzzy expansion through the SymSpell k-deletes
    sidecar (build_index(fuzzy_deletes=True) → hash-bucket probe →
    banded-DP verify), with each expansion's document frequency. The
    DuckDB twin brute-forces levenshtein ≤ 1 over the full vocabulary —
    the sidecar probe must reproduce it exactly despite opening only the
    query variants' hash buckets."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import _fuzzy_deletes_probe, expand_fuzzy

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q42_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8, n_term_buckets=8, fuzzy_deletes=True,
        )
        rows = []
        for probe in ("valu", "tble", "joinn"):
            cand, _nf = _fuzzy_deletes_probe(out, probe, 1)
            dfmap = dict(zip(cand["term"], cand["df"])) if len(cand) else {}
            for t in expand_fuzzy(out, probe, fuzziness=1, prefix_length=0):
                rows.append((probe, t, int(dfmap[t])))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "probe string, term string, df long")
    return res.orderBy("probe", "term")


Q42_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '')) AS term
  FROM documents
),
vocab AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
probes AS (SELECT unnest(['valu', 'tble', 'joinn']) AS probe)
SELECT p.probe, v.term, v.df
FROM probes p JOIN vocab v ON levenshtein(p.probe, v.term) <= 1
ORDER BY p.probe, v.term
"""



def q43_windowed_histogram(spark, sf_dir):
    """Windowed date_histogram + terms aggs over REAL daily sub-indexes —
    the Kibana time-chart workload (IndexNamer daily indexes + ES aggs):
    the window's matching ids resolve as ONE unioned plan across the
    selected days, join the unioned day docstores, and hash-aggregate per
    day. Days synthesized from doc_id (doc_id % 4 → 4 consecutive days),
    window = days 1-2; the DuckDB twin filters and groups directly."""
    import datetime as dt
    import shutil
    import tempfile

    from .index.daily import DailySearcher, build_daily_index

    docs = _t(spark, sf_dir, "documents").withColumn(
        "warc_ts",
        F.expr(
            "timestampadd(DAY, cast(pmod(doc_id, 4) as int), "
            "timestamp '2016-09-16 12:00:00')"
        ),
    )
    root = tempfile.mkdtemp(prefix="cb_q43_idx_")
    try:
        build_daily_index(
            spark, docs.select("doc_id", "text", "lang", "warc_ts"), root,
            url_col=None, n_buckets=4, n_term_buckets=8,
            store_cols=("lang", "warc_ts"),
        )
        aggs = DailySearcher(spark, root).search_aggs(
            {
                "by_day": {"date_histogram": {"field": "warc_ts", "interval": "day"}},
                "langs": {"terms": {"field": "lang"}},
            },
            " ".join(BM25_QUERY_TERMS),
            time_range=(dt.datetime(2016, 9, 17), dt.datetime(2016, 9, 19)),
        )
        day_rows = [
            ("day:" + r.key.strftime("%Y-%m-%d"), int(r.n))
            for r in aggs["by_day"].collect()
        ]
        lang_rows = [("lang:" + r.key, int(r.n)) for r in aggs["langs"].collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    res = spark.createDataFrame(day_rows + lang_rows, "key string, n long")
    return res.orderBy("key")


Q43_SQL = f"""
WITH docs AS (
  SELECT *, date_add(DATE '2016-09-16', (doc_id % 4)::INT) AS day
  FROM documents WHERE doc_id % 4 IN (1, 2)
),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM docs
),
hits AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
),
m AS (SELECT d.* FROM docs d JOIN hits h ON d.doc_id = h.doc_id)
SELECT key, n FROM (
  SELECT 'day:' || strftime(day, '%Y-%m-%d') AS key, count(*) AS n FROM m GROUP BY day
  UNION ALL
  SELECT 'lang:' || lang AS key, count(*) AS n FROM m GROUP BY lang
) t ORDER BY key
"""


def q44_nested_bool(spark, sf_dir):
    """A TWO-LEVEL-NESTED ES bool body through ``search_body`` — the shape
    query builders (Kibana filter pills, NEST) generate: scoring should +
    a nested FILTER bool OR-ing constraints across DIFFERENT fields (lang
    term vs n_chars range — one cross-field posting group) + a nested
    MUST_NOT bool (De Morgan: NOT(text 'merge' OR lang 'fr')). Reference
    contract: users query the ElasticsearchClient-managed indexes with
    arbitrary bodies (ElasticsearchClient.cs:31-135). DuckDB twin:
    full-corpus BM25 restricted by the equivalent WHERE."""
    import shutil
    import tempfile

    from .index.build import build_index, sortable_int_col
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q44_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None, n_buckets=8,
            keyword_cols=("lang", ("nc", sortable_int_col("n_chars", 4))),
        )
        body = {
            "query": {"bool": {
                "should": [{"match": {"text": " ".join(BM25_QUERY_TERMS)}}],
                "must_not": [{"bool": {"should": [
                    {"match": {"text": "merge"}},
                    {"term": {"lang": "fr"}},
                ]}}],
                "filter": [{"bool": {"should": [
                    {"term": {"lang": "en"}},
                    {"range": {"nc": {"gte": "0300", "lte": "0400"}}},
                ]}}],
            }},
            "size": 20,
        }
        resp = search_body(spark, out, body)
        rows = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q44_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
excl AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM excl)
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM (
  SELECT s.doc_id, round(s.raw, 4) AS score, s.raw
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
  WHERE d.lang != 'fr' AND (d.lang = 'en' OR d.n_chars BETWEEN 300 AND 400)
  ORDER BY s.raw DESC, s.doc_id ASC LIMIT 20
) t
ORDER BY score DESC, doc_id ASC
"""


def q45_sub_bucket_aggs(spark, sf_dir):
    """Windowed ES SUB-AGGREGATIONS over real daily sub-indexes: terms
    (lang) → child date_histogram (day) — the Kibana split-series chart,
    the canonical dashboard over the reference's daily IIS indexes
    (IndexNamer.cs:21-41). One unioned window plan resolves the matching
    ids, one docstore join, parent top-size selection by (count desc, key
    asc), then ONE hash aggregation with an extra group key. DuckDB twin:
    GROUP BY (lang, day) with a window parent count."""
    import datetime as dt
    import shutil
    import tempfile

    from .index.daily import DailySearcher, build_daily_index

    docs = _t(spark, sf_dir, "documents").withColumn(
        "warc_ts",
        F.expr(
            "timestampadd(DAY, cast(pmod(doc_id, 4) as int), "
            "timestamp '2016-09-16 12:00:00')"
        ),
    )
    root = tempfile.mkdtemp(prefix="cb_q45_idx_")
    try:
        build_daily_index(
            spark, docs.select("doc_id", "text", "lang", "warc_ts"), root,
            url_col=None, n_buckets=4, n_term_buckets=8,
            store_cols=("lang", "warc_ts"),
        )
        aggs = DailySearcher(spark, root).search_aggs(
            {"by_lang": {
                "terms": {"field": "lang"},
                "aggs": {"per_day": {
                    "date_histogram": {"field": "warc_ts", "interval": "day"},
                }},
            }},
            " ".join(BM25_QUERY_TERMS),
            time_range=(dt.datetime(2016, 9, 17), dt.datetime(2016, 9, 19)),
        )
        rows = [
            (r.key, int(r.doc_count), r.child_key.strftime("%Y-%m-%d"), int(r.n))
            for r in aggs["by_lang"].collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    res = spark.createDataFrame(rows, "lang string, doc_count long, day string, n long")
    return res.orderBy("lang", "day")


Q45_SQL = f"""
WITH docs AS (
  SELECT *, date_add(DATE '2016-09-16', (doc_id % 4)::INT) AS day
  FROM documents WHERE doc_id % 4 IN (1, 2)
),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM docs
),
hits AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
),
m AS (SELECT d.* FROM docs d JOIN hits h ON d.doc_id = h.doc_id),
pc AS (SELECT lang, count(*) AS doc_count FROM m GROUP BY lang)
SELECT m.lang AS lang, pc.doc_count AS doc_count,
       strftime(m.day, '%Y-%m-%d') AS day, count(*) AS n
FROM m JOIN pc ON pc.lang = m.lang
GROUP BY m.lang, pc.doc_count, m.day
ORDER BY lang, day
"""


def q46_query_string(spark, sf_dir):
    """Lucene ``query_string`` subset through ``search_body``:
    ``+spark join -merge lang:en`` = must(spark) + should(join) +
    must_not(merge) + keyword filter(lang=en). DuckDB twin: BM25 over
    {spark, join} restricted to docs containing 'spark', lacking 'merge',
    with lang='en'."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q46_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None, n_buckets=8, keyword_cols=("lang",),
        )
        body = {
            "query": {"query_string": {"query": "+spark join -merge lang:en"}},
            "size": 20,
        }
        resp = search_body(spark, out, body)
        rows = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q46_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
must AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark'),
excl AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN must ON must.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM excl)
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM (
  SELECT s.doc_id, round(s.raw, 4) AS score, s.raw
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
  WHERE d.lang = 'en'
  ORDER BY s.raw DESC, s.doc_id ASC LIMIT 20
) t
ORDER BY score DESC, doc_id ASC
"""


def q47_constant_score(spark, sf_dir):
    """ES constant_score through ``search_body``: a filter-context bool
    (keyword term AND text-match exclusion) wrapped in constant_score;
    every hit scores the boost. DuckDB twin: plain WHERE + literal
    score."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q47_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None, n_buckets=8, keyword_cols=("lang",),
        )
        body = {
            "query": {"constant_score": {
                "filter": {"bool": {
                    "must": [{"term": {"lang": "de"}}],
                    "must_not": [{"match": {"text": "merge"}}],
                }},
                "boost": 2.5,
            }},
            "size": 10000,
        }
        resp = search_body(spark, out, body)
        rows = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.orderBy("doc_id")


Q47_SQL = """
WITH excl AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
    FROM documents
  ) WHERE term = 'merge'
)
SELECT d.doc_id, 2.5 AS score
FROM documents d
WHERE d.lang = 'de' AND d.doc_id NOT IN (SELECT doc_id FROM excl)
ORDER BY d.doc_id
"""


def q48_score_search_after(spark, sf_dir):
    """Score-order search_after through ``search_body``: page 1 of the
    relevance ranking yields a (score, doc_id) cursor; the returned
    result is PAGE 2 — computed with the after-predicate inside the
    kernel, not an offset re-rank. DuckDB twin: the same ranking with
    LIMIT/OFFSET (rows 21-40)."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q48_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8)
        body = {
            "query": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
            "sort": ["_score"],
            "size": 20,
        }
        p1 = search_body(spark, out, body)
        cursor = p1["hits"]["hits"][-1]["sort"]
        p2 = search_body(spark, out, {**body, "search_after": cursor})
        rows = [(h["_id"], h["_score"]) for h in p2["hits"]["hits"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q48_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM (
  SELECT doc_id, round(raw, 4) AS score, raw
  FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20 OFFSET 20
) t
ORDER BY score DESC, doc_id ASC
"""


def q49_filter_aggs(spark, sf_dir):
    """ES filter / filters / missing bucket aggregations over the full
    matching set of a search, through the real index: a single-filter
    bucket with a terms child (rows carry the bucket doc_count), three
    overlapping named filters computed in ONE conditional-sum pass (no
    per-filter scan), and the missing-field bucket. Buckets flattened to
    (bucket, n) rows; DuckDB twin is conditional counts + one GROUP BY
    over the same hit set."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q49_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang", "source", "n_chars"))
        res = search_aggs(
            spark, out,
            {
                "en_by_src": {
                    "filter": {"term": {"lang": "en"}},
                    "aggs": {"src": {"terms": {"field": "source", "size": 0}}},
                },
                "named": {"filters": {"filters": {
                    "short": {"range": {"n_chars": {"lt": 600}}},
                    "latin": {"terms": {"lang": ["en", "de", "fr", "es"]}},
                    "not_en": {"bool": {
                        "must": {"exists": {"field": "lang"}},
                        "must_not": {"term": {"lang": "en"}},
                    }},
                }}},
                "no_lang": {"missing": {"field": "lang"}},
            },
            " ".join(BM25_QUERY_TERMS),
        )
        rows = [
            ("en_by_src:" + r.key, int(r.n)) for r in res["en_by_src"].collect()
        ]
        en_rows = res["en_by_src"].collect()
        rows.append(("en_by_src_total", int(en_rows[0].doc_count) if en_rows else 0))
        rows += [("named:" + r.key, int(r.n)) for r in res["named"].collect()]
        rows.append(("no_lang", int(res["no_lang"].collect()[0].n)))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "bucket string, n long")
    return out_df.orderBy("bucket")


Q49_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id))
SELECT 'en_by_src:' || source AS bucket, count(*) AS n
FROM m WHERE lang = 'en' GROUP BY source
UNION ALL
SELECT 'en_by_src_total', count(*) FROM m WHERE lang = 'en'
UNION ALL
SELECT 'named:short', count(*) FROM m WHERE n_chars < 600
UNION ALL
SELECT 'named:latin', count(*) FROM m WHERE lang IN ('en','de','fr','es')
UNION ALL
SELECT 'named:not_en', count(*) FROM m
WHERE lang IS NOT NULL AND NOT (lang = 'en')
UNION ALL
SELECT 'no_lang', count(*) FROM m WHERE lang IS NULL
ORDER BY bucket
"""


def q50_top_hits(spark, sf_dir):
    """ES top_hits sub-aggregation: terms(lang) buckets each carrying
    their 2 longest matching documents (sort n_chars desc, doc_id
    tiebreak) — the "show me examples per group" dashboard panel. One
    window row_number over the parent key, never a per-bucket rescan.
    DuckDB twin: row_number() OVER (PARTITION BY lang …) <= 2 joined to
    the parent counts."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q50_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang", "n_chars"))
        res = search_aggs(
            spark, out,
            {"by_lang": {
                "terms": {"field": "lang", "size": 0},
                "aggs": {"biggest": {"top_hits": {
                    "size": 2,
                    "sort": [{"n_chars": {"order": "desc"}}],
                    "_source": ["n_chars"],
                }}},
            }},
            " ".join(BM25_QUERY_TERMS),
        )["by_lang"]
        rows = [
            (r.key, int(r.doc_count), int(r.rank), int(r.doc_id), int(r.n_chars))
            for r in res.collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(
        rows, "lang string, doc_count long, rank long, doc_id long, n_chars long"
    )
    return out_df.orderBy("lang", "rank")


Q50_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
pc AS (SELECT lang, count(*) AS doc_count FROM m GROUP BY lang),
rk AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM m
)
SELECT rk.lang AS lang, pc.doc_count AS doc_count, rk.rank AS rank,
       rk.doc_id AS doc_id, rk.n_chars AS n_chars
FROM rk JOIN pc USING (lang) WHERE rank <= 2
ORDER BY lang, rank
"""


def q51_composite_aggs(spark, sf_dir):
    """ES composite aggregation: the (lang × source) bucket space walked
    in key order, 8 buckets per page, page 2 fetched with page 1's last
    key as the ``after`` cursor — the scale-safe facet walk (the driver
    holds ONE page whatever the key cardinality; the after-predicate is
    evaluated inside the aggregation, not by skipping driver rows).
    DuckDB twin: the ordered bucket list at OFFSET 8."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q51_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang", "source"))

        def page(after=None):
            body = {
                "size": 8,
                "sources": [
                    {"lg": {"terms": {"field": "lang"}}},
                    {"src": {"terms": {"field": "source"}}},
                ],
            }
            if after:
                body["after"] = after
            return search_aggs(
                spark, out, {"c": {"composite": body}},
                " ".join(BM25_QUERY_TERMS),
            )["c"]

        p1 = [r.asDict() for r in page().collect()]
        after = {"lg": p1[-1]["lg"], "src": p1[-1]["src"]}
        rows = [
            (r.lg, r.src, int(r.doc_count)) for r in page(after).collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "lang string, source string, doc_count long")
    return out_df.orderBy("lang", "source")


Q51_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id))
SELECT lang, source, doc_count FROM (
  SELECT lang, source, count(*) AS doc_count
  FROM m GROUP BY lang, source
  ORDER BY lang, source LIMIT 8 OFFSET 8
) t
ORDER BY lang, source
"""


def q52_field_collapse(spark, sf_dir):
    """ES field collapsing through ``search_body``: the top-3 hits of a
    BM25 match query with at most one hit per ``lang`` — each language
    represented by its best-scoring doc, groups ranked by that score.
    Exactness requires every group's best doc BEFORE truncation, so the
    kernel scores the full matching set in one pass (same posting scan as
    plain top-k) and one window-rank per collapse key picks the heads.
    DuckDB twin: the full BM25 ranking with row_number() over lang = 1,
    top 3 by (score desc, doc_id)."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q52_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang",))
        resp = search_body(spark, out, {
            "query": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
            "collapse": {"field": "lang"},
            "size": 3,
        })
        rows = [
            (int(h["_id"]), float(h["_score"]), h["fields"]["lang"][0])
            for h in resp["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "doc_id long, score double, lang string")
    return res.select(
        "doc_id", F.round("score", 4).alias("score"), "lang"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


Q52_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
ranked AS (
  SELECT s.doc_id, s.raw, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s.raw DESC, s.doc_id ASC) AS rk
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT doc_id, score, lang FROM (
  SELECT doc_id, round(raw, 4) AS score, lang, raw
  FROM ranked WHERE rk = 1
  ORDER BY raw DESC, doc_id ASC LIMIT 3
) t
ORDER BY score DESC, doc_id ASC
"""


def q53_rescore(spark, sf_dir):
    """ES query rescorer through ``search_body``: a bag-of-words BM25
    match ranks the corpus, then the top window_size=20 hits re-rank by
    0.7·bm25 + 1.3·phrase-score of ``"spark join"`` (Lucene QueryRescorer
    'total' mode; window docs without the phrase keep 0.7·bm25). DuckDB
    twin: the BM25 CTE (q48) LEFT JOINed to the positional-adjacency
    phrase CTE (q31), combined with the same weights."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q53_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8, positions=True,
        )
        resp = search_body(spark, out, {
            "query": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
            "rescore": {
                "window_size": 20,
                "query": {
                    "rescore_query": {"match_phrase": {"text": "spark join"}},
                    "query_weight": 0.7,
                    "rescore_query_weight": 1.3,
                },
            },
            "size": 10,
        })
        rows = [(int(h["_id"]), float(h["_score"])) for h in resp["hits"]["hits"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "doc_id long, score double")
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q53_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
ptoks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM ptoks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
win AS (
  SELECT doc_id, raw FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20
),
pdfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'spark' THEN doc_id END) AS df0,
         count(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df1
  FROM ptoks
),
phits AS (
  SELECT a.doc_id, count(*) AS pf
  FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'spark' AND b.term = 'join'
  GROUP BY a.doc_id
),
pscored AS (
  SELECT h.doc_id,
         (ln(1.0 + (s.n_docs - d.df0 + 0.5) / (d.df0 + 0.5))
          + ln(1.0 + (s.n_docs - d.df1 + 0.5) / (d.df1 + 0.5)))
         * (h.pf * 2.2) / (h.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS praw
  FROM phits h
  JOIN dl ON dl.doc_id = h.doc_id
  CROSS JOIN stats s CROSS JOIN pdfs d
),
combined AS (
  SELECT w.doc_id, 0.7 * w.raw + coalesce(1.3 * p.praw, 0.0) AS final
  FROM win w LEFT JOIN pscored p ON w.doc_id = p.doc_id
)
SELECT doc_id, score FROM (
  SELECT doc_id, round(final, 4) AS score, final
  FROM combined ORDER BY final DESC, doc_id ASC LIMIT 10
) t
ORDER BY score DESC, doc_id ASC
"""


def q55_sloppy_phrase(spark, sf_dir):
    """ES match_phrase with slop=1 through the real positional index
    (anchor-window proximity semantics pinned in ``_phrase_kernel``):
    anchors are 'value' starts, a match needs a 'table' within ±1 of the
    adjacent position, sloppyFreq = matching-anchor count feeding tfNorm.
    DuckDB twin: a position-window self-join with DISTINCT anchor
    counting, hash-identical scores."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import phrase_topk

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q55_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out,
                    url_col=None, n_buckets=8, positions=True)
        rows = [
            (int(r.doc_id), float(r.score))
            for r in phrase_topk(spark, out, "value table", 20, slop=1).collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "doc_id long, score double")
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q55_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
dfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'value' THEN doc_id END) AS df0,
         count(DISTINCT CASE WHEN term = 'table' THEN doc_id END) AS df1
  FROM toks
),
hits AS (
  -- anchor-window slop=1: anchor x = a 'value' start; needs a 'table'
  -- position p with |(p-1) - x| <= 1, i.e. p in [x, x+2]; pf counts
  -- DISTINCT anchors (each anchor once, however many partners)
  SELECT a.doc_id, count(DISTINCT a.pos) AS pf
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
                          AND b.pos BETWEEN a.pos AND a.pos + 2
  WHERE a.term = 'value' AND b.term = 'table'
  GROUP BY a.doc_id
),
scored AS (
  SELECT h.doc_id,
         (ln(1.0 + (s.n - d.df0 + 0.5) / (d.df0 + 0.5))
          + ln(1.0 + (s.n - d.df1 + 0.5) / (d.df1 + 0.5)))
         * (h.pf * 2.2) / (h.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM hits h
  JOIN dl ON dl.doc_id = h.doc_id
  CROSS JOIN stats s CROSS JOIN dfs d
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q56_term_suggester(spark, sf_dir):
    """ES term suggester ("did you mean") through the real index's term
    dictionary: three misspelled tokens expand to fuzzy candidates with
    the documented score 1 − ed/max(len), ordered (score desc, freq desc,
    term asc). DuckDB twin: a levenshtein join on first-char-sharing
    corpus terms with df = distinct-doc counts — hash-exact."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import term_suggest

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q56_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8)
        sugg = term_suggest(out, "sorw tabel vallue")
        rows = [
            (e["text"], o["text"], int(o["freq"]), round(float(o["score"]), 4))
            for e in sugg
            for o in e["options"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        rows, "tok string, suggestion string, freq long, score double"
    )
    return res.orderBy("tok", F.desc("score"), "suggestion")


Q56_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
terms AS (
  SELECT term, count(DISTINCT doc_id) AS freq FROM toks
  WHERE term != '' GROUP BY term
),
inputs(tok) AS (VALUES ('sorw'), ('tabel'), ('vallue')),
cand AS (
  SELECT i.tok, t.term AS suggestion, t.freq,
         levenshtein(i.tok, t.term) AS ed
  FROM inputs i JOIN terms t
    ON substr(t.term, 1, 1) = substr(i.tok, 1, 1)
  WHERE t.term != i.tok AND levenshtein(i.tok, t.term) <= 2
),
scored AS (
  SELECT tok, suggestion, freq,
         round(1.0 - ed::DOUBLE
               / greatest(length(tok), length(suggestion)), 4) AS score,
         row_number() OVER (
           PARTITION BY tok
           ORDER BY ed::DOUBLE / greatest(length(tok), length(suggestion)),
                    freq DESC, suggestion
         ) AS rk
  FROM cand
)
SELECT tok, suggestion, freq, score FROM scored WHERE rk <= 5
ORDER BY tok, score DESC, suggestion
"""


def q57_extended_aggs(spark, sf_dir):
    """The round's extended aggregation kinds in one gate: multi_terms
    (compound lang×source keys), rare_terms (long-tail n_chars), a
    histogram parent with sibling PIPELINE aggs (avg/max/stats_bucket
    over buckets_path parent>_count), all over the full matching set of
    the BM25 query through the real index. Buckets flattened to
    (bucket, v); DuckDB twin recomputes each from the raw tables."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q57_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang", "source", "n_chars"))
        res = search_aggs(
            spark, out,
            {
                "mt": {"multi_terms": {
                    "terms": [{"field": "lang"}, {"field": "source"}], "size": 0,
                }},
                "rare": {"rare_terms": {"field": "n_chars", "max_doc_count": 1}},
                "hist": {"histogram": {"field": "n_chars", "interval": 200}},
                "avg_b": {"avg_bucket": {"buckets_path": "hist>_count"}},
                "max_b": {"max_bucket": {"buckets_path": "hist>_count"}},
                "st_b": {"stats_bucket": {"buckets_path": "hist>_count"}},
            },
            " ".join(BM25_QUERY_TERMS),
        )
        rows = [
            (f"mt:{r.lang}|{r.source}", float(r.n)) for r in res["mt"].collect()
        ]
        rows += [(f"rare:{r.key}", float(r.n)) for r in res["rare"].collect()]
        rows += [(f"hist:{r.key:g}", float(r.n)) for r in res["hist"].collect()]
        rows.append(("avg_b", round(float(res["avg_b"].collect()[0].value), 4)))
        rows.append(("max_b", float(res["max_b"].collect()[0].value)))
        st = res["st_b"].collect()[0]
        rows += [
            ("st_b:count", float(st["count"])), ("st_b:min", float(st["min"])),
            ("st_b:max", float(st["max"])), ("st_b:sum", float(st["sum"])),
            ("st_b:avg", round(float(st["avg"]), 4)),
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "bucket string, v double")
    return out_df.orderBy("bucket")


Q57_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
hist AS (
  SELECT floor(n_chars / 200) * 200 AS hk, count(*) AS n
  FROM m WHERE n_chars IS NOT NULL GROUP BY 1
),
rare AS (
  SELECT n_chars AS key, count(*) AS n FROM m
  WHERE n_chars IS NOT NULL GROUP BY 1 HAVING count(*) <= 1
)
SELECT 'mt:' || lang || '|' || source AS bucket, count(*)::DOUBLE AS v
FROM m WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY lang, source
UNION ALL
SELECT 'rare:' || key, n::DOUBLE FROM rare
UNION ALL
SELECT 'hist:' || hk::BIGINT, n::DOUBLE FROM hist
UNION ALL
SELECT 'avg_b', round(avg(n), 4) FROM hist
UNION ALL
SELECT 'max_b', max(n)::DOUBLE FROM hist
UNION ALL
SELECT 'st_b:count', count(n)::DOUBLE FROM hist
UNION ALL SELECT 'st_b:min', min(n)::DOUBLE FROM hist
UNION ALL SELECT 'st_b:max', max(n)::DOUBLE FROM hist
UNION ALL SELECT 'st_b:sum', sum(n)::DOUBLE FROM hist
UNION ALL SELECT 'st_b:avg', round(avg(n), 4) FROM hist
ORDER BY bucket
"""


def q58_nested_agg_tree(spark, sf_dir):
    """Arbitrary-depth sub-aggregation tree (the full Kibana split-series
    shape): terms(lang, size 3) carrying a metric SIBLING (avg n_chars,
    prefixed column) and a histogram(n_chars, 400) child whose own child
    is a stats metric — depth-3 flattened rows computed over the full
    matching set of the BM25 query through the real index (one groupBy
    per level + a broadcast selection join). DuckDB twin: two-key GROUP
    BY with the per-lang top-3 selection and per-(lang,bucket) stats."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q58_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang", "n_chars"))
        res = search_aggs(
            spark, out,
            {
                "tree": {
                    "terms": {"field": "lang", "size": 3},
                    "aggs": {
                        "avgc": {"avg": {"field": "n_chars"}},
                        "byh": {
                            "histogram": {"field": "n_chars", "interval": 400},
                            "aggs": {"st": {"stats": {"field": "n_chars"}}},
                        },
                    },
                }
            },
            " ".join(BM25_QUERY_TERMS),
        )
        rows = [
            (
                r.key, int(r.doc_count), round(float(r.avgc), 4),
                float(r.child_key), int(r.n), int(r.st_count),
                int(r.st_min), int(r.st_max), round(float(r.st_avg), 4),
                int(r.st_sum),
            )
            for r in res["tree"].collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(
        rows,
        "key string, doc_count long, avgc double, child_key double, "
        "n long, st_count long, st_min long, st_max long, st_avg double, "
        "st_sum long",
    )
    return out_df.orderBy(F.desc("doc_count"), "key", "child_key")


Q58_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
langs AS (
  SELECT lang, count(*) AS doc_count, round(avg(n_chars), 4) AS avgc
  FROM m WHERE lang IS NOT NULL GROUP BY lang
  ORDER BY doc_count DESC, lang LIMIT 3
),
buckets AS (
  SELECT m.lang, floor(m.n_chars / 400) * 400 AS child_key,
         count(*) AS n, count(m.n_chars) AS st_count,
         min(m.n_chars) AS st_min, max(m.n_chars) AS st_max,
         round(avg(m.n_chars), 4) AS st_avg, sum(m.n_chars) AS st_sum
  FROM m JOIN langs USING (lang)
  WHERE m.n_chars IS NOT NULL
  GROUP BY m.lang, floor(m.n_chars / 400) * 400
)
SELECT l.lang AS key, l.doc_count, l.avgc, b.child_key, b.n,
       b.st_count, b.st_min, b.st_max, b.st_avg, b.st_sum
FROM langs l JOIN buckets b ON l.lang = b.lang
ORDER BY l.doc_count DESC, key, b.child_key
"""


def _cb_body_gate(spark, sf_dir, body, k, *, extra_cols=(), positions=True):
    """Shared scaffold for the compound-query gates: build the real index
    on `documents`, run one ES body through `search_body`, and return the
    top-k (doc_id, rounded score) re-ordered by (rounded score desc,
    doc_id) so Spark and DuckDB tie-break identically at 4 decimals."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_body_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None,
            n_buckets=8, positions=positions, store_cols=tuple(extra_cols),
        )
        resp = search_body(spark, out, dict(body, size=k))
        rows = [(int(h["_id"]), round(float(h["_score"]), 4))
                for h in resp["hits"]["hits"]]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "doc_id long, score double")
    return res.orderBy(F.desc("score"), F.asc("doc_id"))


_CB_SCORE_CTES = f"""
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
ptoks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ptoks GROUP BY doc_id, term),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
q AS (SELECT unnest({{terms!r}}) AS term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - alldf.df + 0.5) / (alldf.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN alldf ON tf.term = alldf.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN (SELECT term FROM q)
  GROUP BY tf.doc_id
)"""


def q59_dis_max(spark, sf_dir):
    """ES dis_max: best of [BM25 match, exact-phrase "spark join"] plus
    tie_breaker 0.3 × the other matching score; the doc set is the union.
    DuckDB twin: the BM25 CTE FULL JOINed to the positional-adjacency
    phrase CTE, greatest + 0.3 × least."""
    return _cb_body_gate(spark, sf_dir, {
        "query": {"dis_max": {
            "queries": [
                {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
                {"match_phrase": {"text": "spark join"}},
            ],
            "tie_breaker": 0.3,
        }},
    }, 15)


Q59_SQL = "WITH " + _CB_SCORE_CTES.format(terms=BM25_QUERY_TERMS) + """,
pdfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'spark' THEN doc_id END) AS df0,
         count(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df1
  FROM ptoks
),
phits AS (
  SELECT a.doc_id, count(*) AS pf
  FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'spark' AND b.term = 'join'
  GROUP BY a.doc_id
),
pscored AS (
  SELECT h.doc_id,
         (ln(1.0 + (s.n_docs - d.df0 + 0.5) / (d.df0 + 0.5))
          + ln(1.0 + (s.n_docs - d.df1 + 0.5) / (d.df1 + 0.5)))
         * (h.pf * 2.2) / (h.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS praw
  FROM phits h
  JOIN dl ON dl.doc_id = h.doc_id
  CROSS JOIN stats s CROSS JOIN pdfs d
),
comb AS (
  SELECT coalesce(sc.doc_id, p.doc_id) AS doc_id,
         CASE WHEN sc.raw IS NULL THEN p.praw
              WHEN p.praw IS NULL THEN sc.raw
              ELSE greatest(sc.raw, p.praw) + 0.3 * least(sc.raw, p.praw)
         END AS final
  FROM scored sc FULL OUTER JOIN pscored p ON sc.doc_id = p.doc_id
),
topk AS (SELECT doc_id, final FROM comb ORDER BY final DESC, doc_id LIMIT 15)
SELECT doc_id, round(final, 4) AS score FROM topk
ORDER BY round(final, 4) DESC, doc_id
"""


def q60_boosting(spark, sf_dir):
    """ES boosting: BM25 positive hits demoted ×0.5 when they also match
    the negative clause (term "table") — demote, not exclude. DuckDB
    twin: the BM25 CTE with a CASE on membership in the negative set."""
    return _cb_body_gate(spark, sf_dir, {
        "query": {"boosting": {
            "positive": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
            "negative": {"match": {"text": "table"}},
            "negative_boost": 0.5,
        }},
    }, 20, positions=False)


Q60_SQL = "WITH " + _CB_SCORE_CTES.format(terms=BM25_QUERY_TERMS) + """,
neg AS (SELECT DISTINCT doc_id FROM ptoks WHERE term = 'table'),
comb AS (
  SELECT sc.doc_id,
         sc.raw * CASE WHEN n.doc_id IS NOT NULL THEN 0.5 ELSE 1.0 END AS final
  FROM scored sc LEFT JOIN neg n ON sc.doc_id = n.doc_id
),
topk AS (SELECT doc_id, final FROM comb ORDER BY final DESC, doc_id LIMIT 20)
SELECT doc_id, round(final, 4) AS score FROM topk
ORDER BY round(final, 4) DESC, doc_id
"""


def q61_function_score(spark, sf_dir):
    """ES function_score / field_value_factor: BM25 × log10(1 + 0.01 ×
    n_chars) (ES log1p is base-10), boost_mode multiply, field resolved
    through the bucket-pruned docstore for the full matching set. DuckDB
    twin: the BM25 CTE joined to documents.n_chars."""
    return _cb_body_gate(spark, sf_dir, {
        "query": {"function_score": {
            "query": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
            "field_value_factor": {
                "field": "n_chars", "factor": 0.01, "modifier": "log1p",
            },
            "boost_mode": "multiply",
        }},
    }, 15, extra_cols=("n_chars",), positions=False)


Q61_SQL = "WITH " + _CB_SCORE_CTES.format(terms=BM25_QUERY_TERMS) + """,
comb AS (
  SELECT sc.doc_id, sc.raw * log10(1.0 + 0.01 * d.n_chars) AS final
  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
),
topk AS (SELECT doc_id, final FROM comb ORDER BY final DESC, doc_id LIMIT 15)
SELECT doc_id, round(final, 4) AS score FROM topk
ORDER BY round(final, 4) DESC, doc_id
"""


def q62_match_phrase_prefix(spark, sf_dir):
    """ES match_phrase_prefix "big s": the last token expands over the
    dictionary in term order (scan/slow/small/sort/spark/stream here) and
    each doc keeps its best expansion's exact-phrase BM25 score. DuckDB
    twin: adjacency phrase scoring per candidate term, max per doc."""
    return _cb_body_gate(spark, sf_dir, {
        "query": {"match_phrase_prefix": {"text": {"query": "big s"}}},
    }, 15)


Q62_SQL = "WITH " + _CB_SCORE_CTES.format(terms=BM25_QUERY_TERMS) + """,
cands AS (
  SELECT term FROM (
    SELECT DISTINCT term FROM ptoks WHERE term LIKE 's%'
    ORDER BY term LIMIT 50
  )
),
pdf0 AS (SELECT count(DISTINCT doc_id) AS df0 FROM ptoks WHERE term = 'big'),
cdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM ptoks
  WHERE term IN (SELECT term FROM cands) GROUP BY term
),
phits AS (
  SELECT a.doc_id, b.term AS cand, count(*) AS pf
  FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'big' AND b.term IN (SELECT term FROM cands)
  GROUP BY a.doc_id, b.term
),
pscored AS (
  SELECT h.doc_id,
         (ln(1.0 + (s.n_docs - p0.df0 + 0.5) / (p0.df0 + 0.5))
          + ln(1.0 + (s.n_docs - c.df + 0.5) / (c.df + 0.5)))
         * (h.pf * 2.2) / (h.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS praw
  FROM phits h
  JOIN cdf c ON h.cand = c.term
  JOIN dl ON dl.doc_id = h.doc_id
  CROSS JOIN stats s CROSS JOIN pdf0 p0
),
best AS (SELECT doc_id, max(praw) AS final FROM pscored GROUP BY doc_id),
topk AS (SELECT doc_id, final FROM best ORDER BY final DESC, doc_id LIMIT 15)
SELECT doc_id, round(final, 4) AS score FROM topk
ORDER BY round(final, 4) DESC, doc_id
"""


def q63_phrase_suggester(spark, sf_dir):
    """ES phrase suggester through the real positional index: "sport
    join" generates per-token corrections (sort, spark for 'sport'; none
    for 'join'), whole-phrase candidates score under the stupid-backoff
    bigram LM (ln Laplace unigram + ln bigram/cf | ln 0.4·unigram), and
    only candidates beating the input survive. DuckDB twin recomputes
    candidates (levenshtein, first-char prune, the term-suggester
    ranking) and the LM from raw adjacency counts — hash-exact."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q63_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8, positions=True,
        )
        ent = Searcher(spark, out).phrase_suggest("sport join")
        rows = [
            (o["text"], round(float(o["score"]), 6)) for o in ent[0]["options"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "suggestion string, score double")
    return res.orderBy(F.desc("score"), "suggestion")


Q63_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
ptoks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
tot AS (SELECT count(*) AS t FROM ptoks),
cf AS (SELECT term, count(*) AS cf FROM ptoks GROUP BY term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ptoks GROUP BY term),
bg AS (
  SELECT a.term AS w1, b.term AS w2, count(*) AS n
  FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.term, b.term
),
cand0 AS (
  SELECT term FROM (
    SELECT d.term,
           1.0 - levenshtein('sport', d.term)::DOUBLE
                 / greatest(5, length(d.term)) AS sc,
           d.df
    FROM dfreq d
    WHERE substr(d.term, 1, 1) = 's' AND d.term != 'sport'
      AND levenshtein('sport', d.term) <= 2
    ORDER BY sc DESC, d.df DESC, d.term LIMIT 5
  )
),
-- 'join' is the only j-term in this corpus, so position 1 generates no
-- candidates; every candidate phrase substitutes position 0
phrases AS (SELECT term AS w1, 'join' AS w2 FROM cand0),
scored AS (
  SELECT p.w1 || ' ' || p.w2 AS suggestion,
         ln((coalesce(c1.cf, 0) + 1.0) / (t.t + 1.0))
         + CASE WHEN coalesce(b.n, 0) > 0
                THEN ln(b.n::DOUBLE / c1.cf)
                ELSE ln(0.4 * (coalesce(c2.cf, 0) + 1.0) / (t.t + 1.0))
           END AS lp
  FROM phrases p
  LEFT JOIN cf c1 ON c1.term = p.w1
  LEFT JOIN cf c2 ON c2.term = p.w2
  LEFT JOIN bg b ON b.w1 = p.w1 AND b.w2 = p.w2
  CROSS JOIN tot t
),
basescore AS (
  SELECT ln(1.0 / (t.t + 1.0))
         + ln(0.4 * (c2.cf + 1.0) / (t.t + 1.0)) AS lp
  FROM tot t, cf c2 WHERE c2.term = 'join'
)
SELECT suggestion, round(s.lp, 6) AS score
FROM scored s, basescore bs
WHERE s.lp > bs.lp
ORDER BY round(s.lp, 6) DESC, suggestion
LIMIT 5
"""


def q64_explain(spark, sf_dir):
    """ES explain API: the top-10 BM25 hits' per-term weight nodes
    (idf, tfNorm, weight = idf × tfNorm) through ``Searcher.explain``,
    flattened to (doc_id, term, idf, tfnorm, weight) rows. DuckDB twin
    recomputes every component from raw tf/df/dl — hash-exact, so the
    explanation itself (not just the total) is pinned to the formula."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q64_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8)
        s = Searcher(spark, out)
        q = " ".join(BM25_QUERY_TERMS)
        rows = []
        for d, _sc in s.search_rows(q, 10):
            ex = s.explain(q, d)
            for node in ex["details"]:
                term = node["description"].split("text:")[1].split(" ")[0]
                idf_v, tfn = (c["value"] for c in node["details"])
                rows.append((
                    int(d), term, round(float(idf_v), 4),
                    round(float(tfn), 4), round(float(node["value"]), 4),
                ))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(
        rows, "doc_id long, term string, idf double, tfnorm double, weight double"
    )
    return res.orderBy("doc_id", "term")


Q64_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM base),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({{terms!r}}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
parts AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) AS idf,
         (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))) AS tfn
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT doc_id, sum(idf * tfn) AS raw FROM parts GROUP BY doc_id
),
topk AS (SELECT doc_id FROM scored ORDER BY raw DESC, doc_id LIMIT 10)
SELECT p.doc_id, p.term, round(p.idf, 4) AS idf, round(p.tfn, 4) AS tfnorm,
       round(p.idf * p.tfn, 4) AS weight
FROM parts p JOIN topk USING (doc_id)
ORDER BY p.doc_id, p.term
""".format(terms=BM25_QUERY_TERMS)


def q65_knn_dsl(spark, sf_dir):
    """ES kNN search through the DSL: documents joined to their
    embeddings in the docstore, the top-level "knn" section returns the
    exact cosine top-10 scored (1 + cos)/2 — the ES kNN score contract.
    DuckDB twin: list_dot_product cosine over the embeddings table."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    qv = [float(x) for x in emb.where(F.col("doc_id") == 0).collect()[0].embedding]
    out = tempfile.mkdtemp(prefix="cb_q65_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8)
        write_docstore(
            spark, docs.join(emb, "doc_id"), out, url_col=None,
            extra_cols=("embedding",),
        )
        resp = search_body(spark, out, {
            "knn": {
                "field": "embedding", "query_vector": qv, "k": 10,
                "num_candidates": 100,
            },
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = spark.createDataFrame(rows, "doc_id long, score double")
    return res.orderBy(F.desc("score"), "doc_id")


Q65_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], q.qv)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qv, q.qv))) AS c
  FROM embeddings, q
),
topk AS (SELECT doc_id, c FROM cos ORDER BY c DESC, doc_id LIMIT 10)
SELECT doc_id, round((1.0 + c) / 2.0, 4) AS score FROM topk
ORDER BY round((1.0 + c) / 2.0, 4) DESC, doc_id
"""


def q66_series_pipelines(spark, sf_dir):
    """ES series pipeline aggs: derivative (first bucket null) and
    cumulative_sum over a histogram parent, computed over the BM25
    matching set through the real index. DuckDB twin: lag/rolling-sum
    window functions over the same histogram."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q66_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("n_chars",))
        res = search_aggs(
            spark, out,
            {
                "hist": {"histogram": {"field": "n_chars", "interval": 100}},
                "dv": {"derivative": {"buckets_path": "hist>_count"}},
                "cs": {"cumulative_sum": {"buckets_path": "hist>_count"}},
            },
            " ".join(BM25_QUERY_TERMS),
        )
        dv = {float(r.key): r.value for r in res["dv"].collect()}
        cs = {float(r.key): float(r.value) for r in res["cs"].collect()}
        rows = [
            (float(r.key), int(r.n),
             None if dv[float(r.key)] is None else float(dv[float(r.key)]),
             cs[float(r.key)])
            for r in res["hist"].collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(
        rows, "key double, n long, dv double, cs double"
    )
    return out_df.orderBy("key")


Q66_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
hist AS (
  SELECT floor(n_chars / 100) * 100 AS key, count(*) AS n
  FROM m WHERE n_chars IS NOT NULL GROUP BY 1
)
SELECT key, n,
       (n - lag(n) OVER (ORDER BY key))::DOUBLE AS dv,
       sum(n) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING)::DOUBLE AS cs
FROM hist ORDER BY key
"""


def q54_significant_terms(spark, sf_dir):
    """ES significant_terms aggregation (JLH heuristic, ES's default
    scorer) through the real index: langs over-represented in the docs
    matching the BM25 query terms relative to the WHOLE corpus. One hash
    agg over each side + an equi-join on the aggregated keys — never a
    driver materialization. DuckDB twin computes the identical
    (fg%−bg%)·(fg%/bg%) contrast from the raw tables."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q54_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang",))
        res = search_aggs(
            spark, out,
            {"sig": {"significant_terms": {"field": "lang", "min_doc_count": 1}}},
            " ".join(BM25_QUERY_TERMS),
        )["sig"]
        rows = [
            (r.key, int(r.doc_count), int(r.bg_count), round(float(r.score), 4))
            for r in res.collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(
        rows, "key string, doc_count long, bg_count long, score double"
    )
    return out_df.orderBy("key")


Q54_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
fg AS (SELECT lang AS key, count(*) AS doc_count FROM m
       WHERE lang IS NOT NULL GROUP BY lang),
bg AS (SELECT lang AS key, count(*) AS bg_count FROM documents
       WHERE lang IS NOT NULL GROUP BY lang),
tot AS (SELECT (SELECT count(*) FROM m) AS fgt,
               (SELECT count(*) FROM documents) AS bgt)
SELECT key, doc_count, bg_count,
       round((doc_count / CAST(fgt AS DOUBLE) - bg_count / CAST(bgt AS DOUBLE))
             * ((doc_count / CAST(fgt AS DOUBLE))
                / (bg_count / CAST(bgt AS DOUBLE))), 4) AS score
FROM fg JOIN bg USING (key) CROSS JOIN tot
WHERE doc_count >= 1
  AND doc_count / CAST(fgt AS DOUBLE) > bg_count / CAST(bgt AS DOUBLE)
ORDER BY key
"""


def q67_metric_aggs(spark, sf_dir):
    """Round-5 ES metric agg kinds through the real index, over the full
    BM25 matching set: extended_stats (POPULATION variance/stddev, the ES
    default), weighted_avg (n_chars weighted by a derived per-doc weight),
    EXACT percentile_ranks (ES approximates with t-digest), exact
    median_absolute_deviation (interpolated median both sides), and
    string_stats over lang (length stats + Shannon entropy, log2).
    Flattened to (stat, v); the DuckDB twin recomputes every number from
    the raw tables — doubles rounded to 4 on both sides."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.col("doc_id") % 7 + 1
    )
    out = tempfile.mkdtemp(prefix="cb_q67_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang", "n_chars", "w"))
        res = search_aggs(
            spark, out,
            {
                "xs": {"extended_stats": {"field": "n_chars"}},
                "wa": {"weighted_avg": {"value": {"field": "n_chars"},
                                        "weight": {"field": "w"}}},
                "pr": {"percentile_ranks": {"field": "n_chars",
                                            "values": [500, 2000]}},
                "mad": {"median_absolute_deviation": {"field": "n_chars"}},
                "ss": {"string_stats": {"field": "lang"}},
            },
            " ".join(BM25_QUERY_TERMS),
        )
        xs = res["xs"].collect()[0]
        wa = res["wa"].collect()[0]
        pr = res["pr"].collect()[0]
        mad = res["mad"].collect()[0]
        ss = res["ss"].collect()[0]
        rows = [
            ("mad", round(float(mad["value"]), 4)),
            ("pr:2000", round(float(pr["r2000"]), 4)),
            ("pr:500", round(float(pr["r500"]), 4)),
            ("ss:avglen", round(float(ss["avg_length"]), 4)),
            ("ss:count", float(ss["count"])),
            ("ss:entropy", round(float(ss["entropy"]), 4)),
            ("ss:maxlen", float(ss["max_length"])),
            ("ss:minlen", float(ss["min_length"])),
            ("wa", round(float(wa["value"]), 4)),
            ("xs:avg", round(float(xs["avg"]), 4)),
            ("xs:count", float(xs["count"])),
            ("xs:max", float(xs["max"])),
            ("xs:min", float(xs["min"])),
            ("xs:sos", float(xs["sum_of_squares"])),
            ("xs:std", round(float(xs["std_deviation"]), 4)),
            ("xs:sum", float(xs["sum"])),
            ("xs:variance", round(float(xs["variance"]), 4)),
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "stat string, v double")
    return out_df.orderBy("stat")


Q67_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.*, (d.doc_id % 7 + 1) AS w
      FROM documents d JOIN hits USING (doc_id)),
med AS (SELECT median(n_chars) AS mv FROM m WHERE n_chars IS NOT NULL),
chars AS (
  SELECT unnest(string_split(lang, '')) AS c FROM m WHERE lang IS NOT NULL
),
cc AS (SELECT c, count(*)::DOUBLE AS n FROM chars WHERE length(c) = 1 GROUP BY c)
SELECT * FROM (
  SELECT 'mad' AS stat,
         round(median(abs(n_chars - (SELECT mv FROM med))), 4) AS v
  FROM m WHERE n_chars IS NOT NULL
  UNION ALL SELECT 'pr:2000',
    round(100.0 * sum(CASE WHEN n_chars <= 2000 THEN 1 ELSE 0 END)
          / count(*), 4)
  FROM m WHERE n_chars IS NOT NULL
  UNION ALL SELECT 'pr:500',
    round(100.0 * sum(CASE WHEN n_chars <= 500 THEN 1 ELSE 0 END)
          / count(*), 4)
  FROM m WHERE n_chars IS NOT NULL
  UNION ALL SELECT 'ss:avglen', round(avg(length(lang)), 4) FROM m
  UNION ALL SELECT 'ss:count', count(lang)::DOUBLE FROM m
  UNION ALL SELECT 'ss:entropy',
    round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 4) FROM cc
  UNION ALL SELECT 'ss:maxlen', max(length(lang))::DOUBLE FROM m
  UNION ALL SELECT 'ss:minlen', min(length(lang))::DOUBLE FROM m
  UNION ALL SELECT 'wa',
    round(sum(n_chars * w) / CAST(sum(w) AS DOUBLE), 4)
  FROM m WHERE n_chars IS NOT NULL AND w IS NOT NULL
  UNION ALL SELECT 'xs:avg', round(avg(n_chars), 4) FROM m
  UNION ALL SELECT 'xs:count', count(n_chars)::DOUBLE FROM m
  UNION ALL SELECT 'xs:max', max(n_chars)::DOUBLE FROM m
  UNION ALL SELECT 'xs:min', min(n_chars)::DOUBLE FROM m
  UNION ALL SELECT 'xs:sos', sum(n_chars * n_chars)::DOUBLE FROM m
  UNION ALL SELECT 'xs:std', round(stddev_pop(n_chars), 4) FROM m
  UNION ALL SELECT 'xs:sum', sum(n_chars)::DOUBLE FROM m
  UNION ALL SELECT 'xs:variance', round(var_pop(n_chars), 4) FROM m
)
ORDER BY stat
"""


def q68_bucket_pipelines(spark, sf_dir):
    """Round-5 bucket pipeline aggs through the real index: moving_fn
    (window of the 3 PRECEDING buckets, current excluded), serial_diff
    (lag 2), bucket_script (safe painless-subset arithmetic over sibling
    bucket values), then a second request where bucket_selector filters
    the parent histogram's buckets and bucket_sort pages them (n desc,
    key asc, from 1 size 3). DuckDB twin: window frames / lag / row_number
    over the identical histogram."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q68_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("n_chars",))
        q = " ".join(BM25_QUERY_TERMS)
        res = search_aggs(
            spark, out,
            {
                "hist": {"histogram": {"field": "n_chars", "interval": 100}},
                "mv": {"moving_fn": {
                    "buckets_path": "hist>_count", "window": 3,
                    "script": "MovingFunctions.unweightedAvg(values)"}},
                "sd": {"serial_diff": {"buckets_path": "hist>_count",
                                       "lag": 2}},
                "rate": {"bucket_script": {
                    "buckets_path": {"c": "hist>_count"},
                    "script": "params.c * 100 / (params.c + 1)"}},
            },
            q,
        )
        rows = []
        for r in res["hist"].collect():
            rows.append((f"h:{int(r.key)}:n", float(r.n)))
        for r in res["mv"].collect():
            rows.append((
                f"h:{int(r.key)}:mv",
                None if r.value is None else round(float(r.value), 4),
            ))
        for r in res["sd"].collect():
            rows.append((
                f"h:{int(r.key)}:sd",
                None if r.value is None else float(r.value),
            ))
        for r in res["rate"].collect():
            rows.append((f"h:{int(r.key)}:rate", round(float(r.value), 4)))
        res2 = search_aggs(
            spark, out,
            {
                "hist": {"histogram": {"field": "n_chars", "interval": 100}},
                "sel": {"bucket_selector": {
                    "buckets_path": {"c": "hist>_count"},
                    "script": "params.c >= 5"}},
                "srt": {"bucket_sort": {
                    "buckets_path": "hist",
                    "sort": [{"_count": {"order": "desc"}},
                             {"_key": {"order": "asc"}}],
                    "from": 1, "size": 3}},
            },
            q,
        )
        for i, r in enumerate(res2["hist"].collect()):
            rows.append((f"top{i}:{int(r.key)}", float(r.n)))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "stat string, v double")
    return out_df.orderBy("stat")


Q68_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
             THEN 1 ELSE 0 END) = 1
),
m AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
hist AS (
  SELECT CAST(floor(n_chars / 100) * 100 AS INT) AS key, count(*) AS n
  FROM m WHERE n_chars IS NOT NULL GROUP BY 1
),
ext AS (
  SELECT key, n,
         avg(n) OVER (ORDER BY key
                      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mv,
         (n - lag(n, 2) OVER (ORDER BY key)) AS sd
  FROM hist
),
top AS (
  SELECT row_number() OVER (ORDER BY n DESC, key ASC) - 2 AS i, key, n
  FROM hist WHERE n >= 5
  ORDER BY n DESC, key ASC LIMIT 3 OFFSET 1
)
SELECT stat, v FROM (
  SELECT 'h:' || CAST(key AS VARCHAR) || ':n' AS stat, n::DOUBLE AS v FROM ext
  UNION ALL SELECT 'h:' || CAST(key AS VARCHAR) || ':mv', round(mv, 4) FROM ext
  UNION ALL SELECT 'h:' || CAST(key AS VARCHAR) || ':sd', sd::DOUBLE FROM ext
  UNION ALL SELECT 'h:' || CAST(key AS VARCHAR) || ':rate',
    round(n * 100 / (n + 1.0), 4) FROM ext
  UNION ALL SELECT 'top' || CAST(i AS VARCHAR) || ':' || CAST(key AS VARCHAR),
    n::DOUBLE FROM top
) ORDER BY stat
"""


def q69_span_near(spark, sf_dir):
    """Lucene span_near through the ES DSL over a REAL positional index:
    ordered (greedy-chain window, slop 3) and unordered (anchor-window,
    slop 2) two-term spans with exact track_total_hits. spanFreq =
    matching anchors, score = idf_sum × tfNorm (see _span_kernel). The
    DuckDB twin recomputes anchors with correlated EXISTS over the
    token-position table and the identical BM25 arithmetic."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q69_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8, positions=True,
        )
        rows = []
        resp = search_body(spark, out, {
            "query": {"span_near": {
                "clauses": [
                    {"span_term": {"text": {"value": "spark"}}},
                    {"span_term": {"text": {"value": "join"}}},
                ],
                "slop": 3, "in_order": True,
            }},
            "size": 15, "track_total_hits": True,
        })
        rows += [
            ("ord", int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        rows.append(("ord_total", int(resp["hits"]["total"]["value"]), None))
        resp2 = search_body(spark, out, {
            "query": {"span_near": {
                "clauses": [
                    {"span_term": {"text": {"value": "window"}}},
                    {"span_term": {"text": {"value": "join"}}},
                ],
                "slop": 2, "in_order": False,
            }},
            "size": 15,
        })
        rows += [
            ("uno", int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp2["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "part string, doc_id long, score double")
    return out_df.orderBy("part", "doc_id")


Q69_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
dfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'spark' THEN doc_id END) AS df_s,
         count(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df_j,
         count(DISTINCT CASE WHEN term = 'window' THEN doc_id END) AS df_w
  FROM toks
),
o1 AS (
  SELECT a.doc_id, count(*) AS pf
  FROM toks a
  WHERE a.term = 'spark' AND EXISTS (
    SELECT 1 FROM toks b
    WHERE b.doc_id = a.doc_id AND b.term = 'join'
      AND b.pos > a.pos AND b.pos <= a.pos + 4)
  GROUP BY a.doc_id
),
o1s AS (
  SELECT o1.doc_id,
         (ln(1.0 + (s.n - d.df_s + 0.5) / (d.df_s + 0.5))
          + ln(1.0 + (s.n - d.df_j + 0.5) / (d.df_j + 0.5)))
         * (o1.pf * 2.2) / (o1.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM o1 JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN dfs d
),
u1 AS (
  SELECT p.doc_id, count(DISTINCT p.pos) AS pf
  FROM toks p
  WHERE p.term IN ('window', 'join')
    AND EXISTS (SELECT 1 FROM toks b
                WHERE b.doc_id = p.doc_id AND b.term = 'window'
                  AND b.pos >= p.pos AND b.pos <= p.pos + 3)
    AND EXISTS (SELECT 1 FROM toks c
                WHERE c.doc_id = p.doc_id AND c.term = 'join'
                  AND c.pos >= p.pos AND c.pos <= p.pos + 3)
  GROUP BY p.doc_id
),
u1s AS (
  SELECT u1.doc_id,
         (ln(1.0 + (s.n - d.df_w + 0.5) / (d.df_w + 0.5))
          + ln(1.0 + (s.n - d.df_j + 0.5) / (d.df_j + 0.5)))
         * (u1.pf * 2.2) / (u1.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM u1 JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN dfs d
)
SELECT part, doc_id, score FROM (
  SELECT 'ord' AS part, doc_id, round(raw, 4) AS score
  FROM (SELECT * FROM o1s ORDER BY raw DESC, doc_id ASC LIMIT 15)
  UNION ALL
  SELECT 'ord_total', (SELECT count(*) FROM o1), NULL
  UNION ALL
  SELECT 'uno', doc_id, round(raw, 4)
  FROM (SELECT * FROM u1s ORDER BY raw DESC, doc_id ASC LIMIT 15)
) ORDER BY part, doc_id
"""


def q70_termvectors(spark, sf_dir):
    """ES _termvectors with term_statistics through the real index: the
    min-doc_id document's stored text re-analyzed (realtime semantics),
    per-term tf + first position, and live-dictionary doc_freq / total
    term freq. All-integer output; the DuckDB twin recomputes every number
    from the raw token-position table."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q70_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("text",))
        did = int(docs.agg(F.min("doc_id")).collect()[0][0])
        tv = Searcher(spark, out).termvectors(did, term_statistics=True)
        terms = tv["term_vectors"]["text"]["terms"]
        rows = [
            (t, int(e["term_freq"]), int(e["doc_freq"]), int(e["ttf"]),
             int(e["tokens"][0]["position"]))
            for t, e in terms.items()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(
        rows, "term string, tf long, df long, ttf long, first_pos long"
    )
    return out_df.orderBy("term")


Q70_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
mine AS (
  SELECT term, count(*) AS tf, min(pos) AS first_pos
  FROM toks WHERE doc_id = (SELECT min(doc_id) FROM documents)
  GROUP BY term
),
stats AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
  FROM toks GROUP BY term
)
SELECT m.term, m.tf, s.df, s.ttf, m.first_pos
FROM mine m JOIN stats s USING (term)
ORDER BY term
"""


def q71_reindex(spark, sf_dir):
    """ES _delete_by_query (request-body form) + _reindex through the real
    index: tombstone every doc matching {"match": {"text": "window"}} in
    the source, then rebuild a brand-new index from the source docstore
    (live docs only) and BM25 top-k on the destination. The discriminating
    semantics vs q36: reindex RECOMPUTES corpus statistics from the live
    docs (n_docs, avgdl, df all shrink — a fresh Lucene index has no
    deleted-doc ghosts), where q36's in-place delete keeps them. DuckDB
    twin: BM25 with every statistic computed over the live corpus only."""
    import shutil
    import tempfile

    from .index.build import build_index, reindex, write_docstore
    from .index.dsl import delete_by_query_body
    from .index.query import Searcher

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="cb_q71_src_")
    dest = tempfile.mkdtemp(prefix="cb_q71_dest_")
    try:
        build_index(spark, docs, src, url_col=None, n_buckets=8,
                    store_cols=("text",))
        delete_by_query_body(
            spark, src, {"query": {"match": {"text": "window"}}}, op_id="q71"
        )
        reindex(spark, src, dest, n_buckets=4)
        rows = Searcher(spark, dest).search_rows(" ".join(BM25_QUERY_TERMS), 20)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dest, ignore_errors=True)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    return res.select("doc_id", F.round("score", 4).alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


Q71_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf0 AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dead AS (SELECT DISTINCT doc_id FROM tf0 WHERE term = 'window'),
tf AS (SELECT * FROM tf0 WHERE doc_id NOT IN (SELECT doc_id FROM dead)),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
live_n AS (
  SELECT count(*) AS n_docs FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM dead)
),
stats AS (
  SELECT live_n.n_docs AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / live_n.n_docs AS avgdl
  FROM live_n
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20
"""


def q72_update_by_query(spark, sf_dir):
    """ES _update_by_query through the real index: every doc matching
    {"match": {"text": "window"}} has its stored numeric field mutated by
    a painless-subset script (views = views * 10 + 3, compiled to JVM
    column expressions), re-pushed via the standard update path (tombstone
    old versions + delta run + delta docstore run), then the FULL docstore
    read back — exercising matching-set resolution, script compilation,
    and the latest-version-wins docstore dedup in one gate. DuckDB twin:
    a CASE over token membership."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import update_by_query_body
    from .index.query import _docstore_scan

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("views", F.pmod(F.col("doc_id"), F.lit(7)).cast("long"))
    )
    out = tempfile.mkdtemp(prefix="cb_q72_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("text", "views"))
        update_by_query_body(
            spark, out,
            {
                "query": {"match": {"text": "window"}},
                "script": {
                    "source":
                        "ctx._source.views = ctx._source.views * params.m + 3",
                    "params": {"m": 10},
                },
            },
            op_id="q72",
        )
        res = (
            _docstore_scan(spark, out)
            .select("doc_id", "views")
            .orderBy("doc_id")
            .collect()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(int(r.doc_id), int(r.views)) for r in res],
        "doc_id long, views long",
    ).orderBy("doc_id")


Q72_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
matched AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'window')
SELECT d.doc_id,
       CASE WHEN m.doc_id IS NOT NULL
            THEN (d.doc_id % 7) * 10 + 3
            ELSE d.doc_id % 7 END AS views
FROM documents d LEFT JOIN matched m ON d.doc_id = m.doc_id
ORDER BY d.doc_id
"""


def q73_analyze_api(spark, sf_dir):
    """ES _analyze over every document's text with the english-stopword +
    minimal-plural-stem chain: the serving-side token stream (token,
    position) per doc, positions keeping Lucene increment gaps where
    stopwords fell out. The DuckDB twin recomputes the chain in SQL
    (subscripts over the non-empty raw token array, stoplist filter, the
    q39 CASE stemmer). Pins analyze_body — the exact chain the build
    kernel and every query-side parse run."""
    from .index.dsl import analyze_body

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    analyzer = {"stopwords": "english", "stem": "s"}
    rows = []
    for r in docs:
        for t in analyze_body(None, {"text": r.text, "analyzer": analyzer})[
            "tokens"
        ]:
            rows.append((int(r.doc_id), int(t["position"]), t["token"]))
    return spark.createDataFrame(
        rows, "doc_id long, pos long, term string"
    ).orderBy("doc_id", "pos")


Q73_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
an AS (SELECT * FROM toks WHERE term NOT IN ({_STOPWORDS_SQL}))
SELECT doc_id, pos,
  CASE
    WHEN length(term) >= 5 AND substr(term, length(term)-3, 1) NOT IN ('a','e')
         AND term LIKE '%ies'
      THEN substr(term, 1, length(term)-3) || 'y'
    WHEN regexp_matches(term, '[iaoe]es$') THEN term
    WHEN length(term) >= 4 AND substr(term, length(term)-1, 1) NOT IN ('s','u')
         AND term LIKE '%s'
      THEN substr(term, 1, length(term)-1)
    ELSE term
  END AS term
FROM an
ORDER BY doc_id, pos
"""


def q74_bulk_api(spark, sf_dir):
    """ES _bulk through the real index (the reference pusher's write path,
    NestBatchPusher.cs:68-82): one payload mixing deletes (doc_id%10==0),
    partial-doc updates (doc_id%10==1 → patched text), and brand-new
    indexed docs, applied with sequential per-doc semantics and landed as
    plain-append + tombstone-update + delete passes. Result: the final
    live corpus read back through the engine's own readers (deduped
    docstore minus dead rows). DuckDB twin: the net effect as a
    CASE + anti-filter + UNION ALL."""
    import json as _json
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.delete import drop_dead_store_rows
    from .index.dsl import bulk_body
    from .index.query import _docstore_scan

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = tempfile.mkdtemp(prefix="cb_q74_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("text",))
        ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
        actions = []
        for d in ids:
            if d % 10 == 0:
                actions.append({"delete": {"_id": d}})
            elif d % 10 == 1:
                actions.append({"update": {"_id": d}})
                actions.append({"doc": {"text": "patched replacement text"}})
        for k in range(5):
            actions.append({"index": {"_id": 10_000_000 + k}})
            actions.append({"text": f"bulknew{k} content"})
        resp = bulk_body(
            spark, out, "\n".join(_json.dumps(a) for a in actions),
            batch_id="q74",
        )
        assert resp["errors"] is False
        final = (
            drop_dead_store_rows(spark, out, _docstore_scan(spark, out))
            .select("doc_id", "text")
            .orderBy("doc_id")
            .collect()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(int(r.doc_id), r.text) for r in final], "doc_id long, text string"
    ).orderBy("doc_id")


Q74_SQL = """
WITH live AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 1 THEN 'patched replacement text'
              ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 0
)
SELECT doc_id, text FROM live
UNION ALL
SELECT 10000000 + range AS doc_id,
       'bulknew' || range || ' content' AS text
FROM range(0, 5)
ORDER BY doc_id
"""


def q75_alias_search(spark, sf_dir):
    """ES alias + multi-index search (the daily-rotation idiom: dated
    indexes behind one alias — IndexNamer.cs:21-41 names them, Kibana
    queries the pattern): documents split by doc_id parity into two real
    indexes, an alias registered over both, one body searched through it.
    Pins ES query_then_fetch semantics — each index scores with its OWN
    df/avgdl/n_docs, the merge is by score. DuckDB twin: BM25 with every
    statistic computed PER PARITY, merged."""
    import shutil
    import tempfile

    from .index.aliases import search_body_alias, update_aliases
    from .index.build import build_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    import os

    root = tempfile.mkdtemp(prefix="cb_q75_")
    try:
        for p in (0, 1):
            build_index(
                spark, docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == p),
                os.path.join(root, f"idx-{p}"), url_col=None, n_buckets=4,
            )
        update_aliases(root, {"actions": [
            {"add": {"index": os.path.join(root, "idx-*"), "alias": "docs"}},
        ]})
        hits = search_body_alias(
            spark, root, "docs",
            {"query": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
             "size": 20},
        )["hits"]["hits"]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(int(h["_id"]), round(float(h["_score"]), 4)) for h in hits],
        "doc_id long, score double",
    ).orderBy(F.desc("score"), F.asc("doc_id"))


Q75_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, doc_id % 2 AS par, term, count(*) AS tf
  FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, par, sum(tf) AS dl FROM tf GROUP BY doc_id, par),
pstats AS (
  SELECT doc_id % 2 AS par, count(*) AS n_docs
  FROM documents GROUP BY doc_id % 2
),
pavg AS (
  SELECT dl.par, sum(dl.dl)::DOUBLE / max(pstats.n_docs) AS avgdl,
         max(pstats.n_docs) AS n_docs
  FROM dl JOIN pstats ON dl.par = pstats.par GROUP BY dl.par
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (
  SELECT par, term, count(DISTINCT doc_id) AS df FROM tf
  WHERE term IN (SELECT term FROM q) GROUP BY par, term
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (pavg.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / pavg.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term AND tf.par = df.par
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN pavg ON tf.par = pavg.par
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20
"""


def q76_intervals(spark, sf_dir):
    """ES ``intervals`` query through the DSL over a real positional
    index: a 3-term unordered match rule (max_gaps 4 → anchor-window
    width 6) with exact track_total_hits, and an ordered ``all_of`` of
    single-term matches (max_gaps 1 → greedy-chain window 2). Both
    reduce exactly to the span kernel (dsl._parse_intervals); the DuckDB
    twin recomputes anchor counts with correlated EXISTS over the
    token-position table and the identical BM25 arithmetic (the q69
    shape, fresh rules and terms)."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q76_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8, positions=True,
        )
        rows = []
        resp = search_body(spark, out, {
            "query": {"intervals": {"text": {"match": {
                "query": "scan filter join", "max_gaps": 4,
            }}}},
            "size": 15, "track_total_hits": True,
        })
        rows += [
            ("uno", int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        rows.append(("uno_total", int(resp["hits"]["total"]["value"]), None))
        resp2 = search_body(spark, out, {
            "query": {"intervals": {"text": {"all_of": {
                "intervals": [{"match": {"query": "merge"}},
                              {"match": {"query": "sort"}}],
                "max_gaps": 1, "ordered": True,
            }}}},
            "size": 15,
        })
        rows += [
            ("ord", int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp2["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    out_df = spark.createDataFrame(rows, "part string, doc_id long, score double")
    return out_df.orderBy("part", "doc_id")


Q76_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
dfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'scan' THEN doc_id END) AS df_sc,
         count(DISTINCT CASE WHEN term = 'filter' THEN doc_id END) AS df_f,
         count(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df_j,
         count(DISTINCT CASE WHEN term = 'merge' THEN doc_id END) AS df_m,
         count(DISTINCT CASE WHEN term = 'sort' THEN doc_id END) AS df_so
  FROM toks
),
u1 AS (
  SELECT p.doc_id, count(DISTINCT p.pos) AS pf
  FROM toks p
  WHERE p.term IN ('scan', 'filter', 'join')
    AND EXISTS (SELECT 1 FROM toks b
                WHERE b.doc_id = p.doc_id AND b.term = 'scan'
                  AND b.pos >= p.pos AND b.pos <= p.pos + 6)
    AND EXISTS (SELECT 1 FROM toks c
                WHERE c.doc_id = p.doc_id AND c.term = 'filter'
                  AND c.pos >= p.pos AND c.pos <= p.pos + 6)
    AND EXISTS (SELECT 1 FROM toks e
                WHERE e.doc_id = p.doc_id AND e.term = 'join'
                  AND e.pos >= p.pos AND e.pos <= p.pos + 6)
  GROUP BY p.doc_id
),
u1s AS (
  SELECT u1.doc_id,
         (ln(1.0 + (s.n - d.df_sc + 0.5) / (d.df_sc + 0.5))
          + ln(1.0 + (s.n - d.df_f + 0.5) / (d.df_f + 0.5))
          + ln(1.0 + (s.n - d.df_j + 0.5) / (d.df_j + 0.5)))
         * (u1.pf * 2.2) / (u1.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM u1 JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN dfs d
),
o1 AS (
  SELECT a.doc_id, count(*) AS pf
  FROM toks a
  WHERE a.term = 'merge' AND EXISTS (
    SELECT 1 FROM toks b
    WHERE b.doc_id = a.doc_id AND b.term = 'sort'
      AND b.pos > a.pos AND b.pos <= a.pos + 2)
  GROUP BY a.doc_id
),
o1s AS (
  SELECT o1.doc_id,
         (ln(1.0 + (s.n - d.df_m + 0.5) / (d.df_m + 0.5))
          + ln(1.0 + (s.n - d.df_so + 0.5) / (d.df_so + 0.5)))
         * (o1.pf * 2.2) / (o1.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM o1 JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN dfs d
)
SELECT part, doc_id, score FROM (
  SELECT 'uno' AS part, doc_id, round(raw, 4) AS score
  FROM (SELECT * FROM u1s ORDER BY raw DESC, doc_id ASC LIMIT 15)
  UNION ALL
  SELECT 'uno_total', (SELECT count(*) FROM u1), NULL
  UNION ALL
  SELECT 'ord', doc_id, round(raw, 4)
  FROM (SELECT * FROM o1s ORDER BY raw DESC, doc_id ASC LIMIT 15)
) ORDER BY part, doc_id
"""


def q77_terms_set(spark, sf_dir):
    """ES ``terms_set`` through the DSL: per-doc minimum_should_match
    from a stored numeric field (req = doc_id % 4 + 1, written at index
    time as a docstore column), score = Σ BM25 over the doc's matched
    terms, exact track_total_hits. One pruned posting scan → per-doc
    hash agg → docstore join (query.terms_set_match); the DuckDB twin
    recomputes matched-term counts and the identical BM25 sum."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("long").alias("req"),
    )
    out = tempfile.mkdtemp(prefix="cb_q77_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None, n_buckets=8,
            store_cols=("req",),
        )
        resp = search_body(spark, out, {
            "query": {"terms_set": {"text": {
                "terms": ["scan", "filter", "join", "window"],
                "minimum_should_match_field": "req",
            }}},
            "size": 15, "track_total_hits": True,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        rows.append((int(resp["hits"]["total"]["value"]), None))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id long, score double"
    ).orderBy("doc_id")


Q77_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
tf AS (
  SELECT doc_id, unnest(arr) AS term FROM base
),
tfc AS (
  SELECT doc_id, term, count(*) AS tf FROM tf
  WHERE term IN ('scan', 'filter', 'join', 'window')
  GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
df AS (
  SELECT term, count(*) AS df FROM tfc GROUP BY term
),
scored AS (
  SELECT tfc.doc_id, count(*) AS n_matched,
         sum(ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * ((tfc.tf * 2.2)
                / (tfc.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))))) AS raw
  FROM tfc
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tfc.doc_id
),
hits AS (
  SELECT scored.doc_id, scored.raw
  FROM scored
  WHERE scored.n_matched >= (scored.doc_id % 4) + 1
)
SELECT doc_id, score FROM (
  SELECT doc_id, round(raw, 4) AS score
  FROM (SELECT * FROM hits ORDER BY raw DESC, doc_id ASC LIMIT 15)
  UNION ALL
  SELECT (SELECT count(*) FROM hits), NULL
) ORDER BY doc_id
"""


def q78_nested_query(spark, sf_dir):
    """ES ``nested`` query (filter context) over a stored array<struct>
    column with SAME-ELEMENT semantics: two entangled comment elements
    per doc (alice: doc_id%5 stars, bob: (doc_id+2)%5 stars; every third
    doc has none), queried for a comment that is BOTH alice's AND ≥4
    stars — the flattened cross-element reading would wrongly include
    docs where alice is low-starred but bob is high. Exact totals. The
    DuckDB twin rebuilds the same struct list and filters it with
    list_filter (query.nested_filter_ids is one F.exists over the
    stored array — no explode, no shuffle)."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    a = F.struct(
        F.lit("alice").alias("author"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("long").alias("stars"),
    )
    bb = F.struct(
        F.lit("bob").alias("author"),
        F.pmod(F.col("doc_id") + 2, F.lit(5)).cast("long").alias("stars"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(None))
        .otherwise(F.array(a, bb)).alias("comments"),
    )
    out = tempfile.mkdtemp(prefix="cb_q78_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None, n_buckets=8,
            store_cols=("comments",),
        )
        resp = search_body(spark, out, {
            "query": {"nested": {
                "path": "comments",
                "query": {"bool": {"must": [
                    {"term": {"comments.author": "alice"}},
                    {"range": {"comments.stars": {"gte": 4}}},
                ]}},
            }},
            "size": 15, "track_total_hits": True,
        })
        rows = [("hit", int(h["_id"])) for h in resp["hits"]["hits"]]
        rows.append(("total", int(resp["hits"]["total"]["value"])))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "part string, doc_id long").orderBy(
        "part", "doc_id"
    )


Q78_SQL = """
WITH nested AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN NULL ELSE [
           {'author': 'alice', 'stars': doc_id % 5},
           {'author': 'bob',   'stars': (doc_id + 2) % 5}
         ] END AS comments
  FROM documents
),
m AS (
  SELECT doc_id FROM nested
  WHERE len(list_filter(comments,
            c -> c.author = 'alice' AND c.stars >= 4)) > 0
)
SELECT part, doc_id FROM (
  SELECT 'hit' AS part, doc_id
  FROM (SELECT doc_id FROM m ORDER BY doc_id ASC LIMIT 15)
  UNION ALL
  SELECT 'total', (SELECT count(*) FROM m)
) ORDER BY part, doc_id
"""


def q79_script_fields(spark, sf_dir):
    """script_fields + runtime_mappings + fields through the DSL: a BM25
    match page whose hits each carry (a) a script_field computed from a
    stored column with params (doc['n_chars'].value / params.div), (b) a
    runtime field (doc['n_chars'].value * 2 % 7) requested via fields,
    and (c) a stored column returned as-is. Painless-subset AST
    (query._parse_script) with doc refs; the DuckDB twin recomputes the
    BM25 ranking and the same expressions."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q79_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text", "n_chars", "lang"), out,
            url_col=None, n_buckets=8, store_cols=("n_chars", "lang"),
        )
        resp = search_body(spark, out, {
            "query": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
            "size": 15,
            "script_fields": {
                "cp": {"script": {
                    "source": "doc['n_chars'].value / params.div",
                    "params": {"div": 100},
                }},
            },
            "runtime_mappings": {
                "n2": {"type": "long", "script": {
                    "source": "doc['n_chars'].value * 2 % 7",
                }},
            },
            "fields": ["n2", "lang"],
        })
        rows = [
            (
                int(h["_id"]), round(float(h["_score"]), 4),
                round(float(h["fields"]["cp"][0]), 4),
                int(h["fields"]["n2"][0]), str(h["fields"]["lang"][0]),
            )
            for h in resp["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id long, score double, cp double, n2 long, lang string"
    ).orderBy("doc_id")


Q79_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
page AS (
  SELECT doc_id, raw FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 15
)
SELECT p.doc_id, round(p.raw, 4) AS score,
       round(d.n_chars / 100, 4) AS cp,
       (d.n_chars * 2) % 7 AS n2, d.lang
FROM page p JOIN documents d USING (doc_id)
ORDER BY p.doc_id
"""


def q80_sliced_scroll(spark, sf_dir):
    """ES sliced scroll: the same match query drained as 4 parallel
    scrolls ({"slice": {"id": i, "max": 4}}, the ES parallel-reindex
    idiom) must tile the full BM25-scored matching set exactly — slices
    are disjoint doc_id % 4 classes, each internally an exact (score
    desc, doc_id asc) ranking paged by score-order search_after. The
    DuckDB twin recomputes the full scored set and partitions it with
    doc_id % 4 (reference contract: arbitrary ES request bodies against
    managed indexes, ElasticsearchClient.cs:31-135)."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import scroll_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q80_idx_")
    rows = []
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8,
        )
        from .index.query import Searcher

        s = Searcher(spark, out)  # ONE warm handle: slices 2-4 serve from
        for i in range(4):        # its postings/term caches
            body = {
                "query": {"match": {"text": " ".join(BM25_QUERY_TERMS)}},
                "size": 7, "slice": {"id": i, "max": 4},
            }
            for page in scroll_body(spark, out, body, searcher=s):
                rows.extend(
                    (i, int(h["_id"]), round(float(h["_score"]), 4))
                    for h in page["hits"]["hits"]
                )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "slice long, doc_id long, score double"
    ).orderBy("slice", "doc_id")


Q80_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id % 4 AS slice, doc_id, round(raw, 4) AS score
FROM scored ORDER BY slice, doc_id
"""


def q81_simple_query_string(spark, sf_dir):
    """ES simple_query_string through the DSL: "spark join | window
    -stream" with default_operator and → spark required, (join OR
    window) required (the explicit |-group under a required context gets
    minimum_should_match 1 — Lucene a AND (b OR c)), stream excluded;
    BM25 scores over the scoring terms present, exact total. The DuckDB
    twin evaluates the same boolean predicate over per-doc term flags
    and recomputes BM25. Also pins the minimum_should_match=1-with-must
    kernel rule (ES: explicit msm makes should REQUIRED)."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q81_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text"), out, url_col=None,
            n_buckets=8,
        )
        resp = search_body(spark, out, {
            "query": {"simple_query_string": {
                "query": "spark join | window -stream",
                "default_operator": "and",
            }},
            "size": 15, "track_total_hits": True,
        })
        rows = [
            ("hit", int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        rows.append(("total", int(resp["hits"]["total"]["value"]), None))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "part string, doc_id long, score double"
    ).orderBy("part", "doc_id")


Q81_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
flags AS (
  SELECT doc_id,
         max(CASE WHEN term = 'spark'  THEN 1 ELSE 0 END) AS has_spark,
         max(CASE WHEN term = 'join'   THEN 1 ELSE 0 END) AS has_join,
         max(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS has_window,
         max(CASE WHEN term = 'stream' THEN 1 ELSE 0 END) AS has_stream
  FROM tf GROUP BY doc_id
),
m AS (
  SELECT doc_id FROM flags
  WHERE has_spark = 1 AND (has_join = 1 OR has_window = 1) AND has_stream = 0
),
q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id IN (SELECT doc_id FROM m)
  GROUP BY tf.doc_id
)
SELECT part, doc_id, score FROM (
  SELECT 'hit' AS part, doc_id, round(raw, 4) AS score
  FROM (SELECT doc_id, raw FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 15)
  UNION ALL
  SELECT 'total', (SELECT count(*) FROM m), NULL::DOUBLE
) ORDER BY part, doc_id
"""


def q82_adjacency_auto_dh(spark, sf_dir):
    """adjacency_matrix (a bucket per named filter + per unordered pair —
    the Kibana graph/co-occurrence shape; one conditional-sum pass, no
    joins) and auto_date_histogram (interval derived from the data's
    span: 40 distinct days at buckets=10 → week) over the full matching
    set of a BM25 query through the real index. ts is synthesized
    deterministically (2024-01-01 + doc_id%40 days). DuckDB twin: the
    same boolean-pair counts and a date_trunc('week') GROUP BY."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents").withColumn(
        "ts",
        F.date_add(
            F.to_date(F.lit("2024-01-01")),
            F.pmod(F.col("doc_id"), F.lit(40)).cast("int"),
        ).cast("timestamp"),
    )
    out = tempfile.mkdtemp(prefix="cb_q82_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("lang", "n_chars", "ts"))
        res = search_aggs(
            spark, out,
            {
                "adj": {"adjacency_matrix": {"filters": {
                    "en": {"term": {"lang": "en"}},
                    "de": {"term": {"lang": "de"}},
                    "small": {"range": {"n_chars": {"lt": 306}}},
                }}},
                "auto": {"auto_date_histogram": {"field": "ts", "buckets": 10}},
            },
            " ".join(BM25_QUERY_TERMS),
        )
        rows = [
            ("adj", str(r.key), int(r.n)) for r in res["adj"].collect()
        ] + [
            ("auto:" + r.interval, str(r.key), int(r.n))
            for r in res["auto"].collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "agg string, key string, n long"
    ).orderBy("agg", "key")


Q82_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN (SELECT unnest({BM25_QUERY_TERMS!r}))
),
hits AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         TIMESTAMP '2024-01-01' + (d.doc_id % 40) * INTERVAL 1 DAY AS ts
  FROM documents d JOIN m USING (doc_id)
),
adj AS (
  SELECT key, n FROM (
    SELECT 'en' AS key, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n FROM hits
    UNION ALL
    SELECT 'de', sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) FROM hits
    UNION ALL
    SELECT 'small', sum(CASE WHEN n_chars < 306 THEN 1 ELSE 0 END) FROM hits
    UNION ALL
    SELECT 'en&de', sum(CASE WHEN lang = 'en' AND lang = 'de' THEN 1 ELSE 0 END) FROM hits
    UNION ALL
    SELECT 'en&small', sum(CASE WHEN lang = 'en' AND n_chars < 306 THEN 1 ELSE 0 END) FROM hits
    UNION ALL
    SELECT 'de&small', sum(CASE WHEN lang = 'de' AND n_chars < 306 THEN 1 ELSE 0 END) FROM hits
  ) WHERE n > 0
),
auto AS (
  SELECT strftime(CAST(date_trunc('week', ts) AS TIMESTAMP),
                  '%Y-%m-%d %H:%M:%S') AS key, count(*) AS n
  FROM hits GROUP BY 1
)
SELECT agg, key, n FROM (
  SELECT 'adj' AS agg, key, n FROM adj
  UNION ALL
  SELECT 'auto:week', key, n FROM auto
) ORDER BY agg, key
"""


def q83_percolate(spark, sf_dir):
    """ES percolator over the documents table: 5 registered rule queries
    (match or/and, phrase adjacency, bool with filter + must_not, pure
    column range) × every document → (query_id, doc_id) matches. Plan:
    exploded-token ⋈ broadcast(term → query) candidate routing (ES's
    term-extraction pre-filter, corpus-at-a-time, no corpus shuffle) then
    exact vectorized verify on candidates only. DuckDB twin: per-rule
    boolean predicates over per-doc term flags and normalized-text
    adjacency."""
    from .operators.percolate import percolate

    docs = _t(spark, sf_dir, "documents")
    rules = [
        ("r_or", {"match": {"text": "spark window"}}),
        ("r_and", {"match": {"text": {"query": "spark window",
                                      "operator": "and"}}}),
        ("r_phrase", {"match_phrase": {"text": "spark join"}}),
        ("r_bool", {"bool": {
            "must": [{"match": {"text": "window"}}],
            "must_not": [{"match": {"text": "stream"}}],
            "filter": [{"term": {"lang": "en"}}],
        }}),
        ("r_range", {"range": {"n_chars": {"gte": 200, "lt": 320}}}),
    ]
    return (
        percolate(spark, docs, rules)
        .orderBy("query_id", "doc_id")
        .select("query_id", "doc_id")
    )


Q83_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
flags AS (
  SELECT doc_id,
         max(CASE WHEN term = 'spark'  THEN 1 ELSE 0 END) AS has_spark,
         max(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS has_window,
         max(CASE WHEN term = 'stream' THEN 1 ELSE 0 END) AS has_stream
  FROM (SELECT doc_id, term FROM toks WHERE term != '') GROUP BY doc_id
),
d AS (
  SELECT doc_id, lang, n_chars,
         ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ' AS norm
  FROM documents
),
j AS (SELECT d.*, f.has_spark, f.has_window, f.has_stream
      FROM d LEFT JOIN flags f USING (doc_id))
SELECT query_id, doc_id FROM (
  SELECT 'r_or' AS query_id, doc_id FROM j
  WHERE has_spark = 1 OR has_window = 1
  UNION ALL
  SELECT 'r_and', doc_id FROM j WHERE has_spark = 1 AND has_window = 1
  UNION ALL
  SELECT 'r_phrase', doc_id FROM j WHERE norm LIKE '% spark join %'
  UNION ALL
  SELECT 'r_bool', doc_id FROM j
  WHERE has_window = 1 AND coalesce(has_stream, 0) = 0 AND lang = 'en'
  UNION ALL
  SELECT 'r_range', doc_id FROM j WHERE n_chars >= 200 AND n_chars < 320
) ORDER BY query_id, doc_id
"""


def q84_span_algebra(spark, sf_dir):
    """Span algebra through the DSL over a positional index: span_or
    (union of member positions, idf = dominant member), span_first
    (spans ending at ≤ end; width-1 → pos < end), span_not (include
    positions not within [p−pre, p+post] of any exclude position) —
    Lucene SpanOr/SpanFirst/SpanNot semantics (the reference's ES
    indexes accept these bodies verbatim, ElasticsearchClient.cs:31-135).
    DuckDB twin: positional predicates over (doc, term, pos) with the
    same spanFreq→BM25 scoring."""
    import shutil
    import tempfile

    from .index.build import build_index
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q84_idx_")
    rows = []
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None,
                    n_buckets=8, positions=True)
        bodies = {
            "or": {"span_or": {"clauses": [
                {"span_term": {"text": "spark"}},
                {"span_term": {"text": "window"}},
            ]}},
            "first": {"span_first": {
                "match": {"span_term": {"text": "join"}}, "end": 5,
            }},
            "not": {"span_not": {
                "include": {"span_term": {"text": "window"}},
                "exclude": {"span_term": {"text": "spark"}},
                "pre": 1, "post": 1,
            }},
        }
        for part, q in bodies.items():
            resp = search_body(spark, out, {"query": q, "size": 15})
            rows.extend(
                (part, int(h["_id"]), round(float(h["_score"]), 4))
                for h in resp["hits"]["hits"]
            )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "part string, doc_id long, score double"
    ).orderBy("part", "doc_id")


Q84_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) - 1 AS pos FROM base
),
dl AS (SELECT doc_id, len(arr) AS dl FROM base),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(len(arr)) FROM base)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
dfs AS (
  SELECT count(DISTINCT CASE WHEN term = 'spark'  THEN doc_id END) AS df_s,
         count(DISTINCT CASE WHEN term = 'join'   THEN doc_id END) AS df_j,
         count(DISTINCT CASE WHEN term = 'window' THEN doc_id END) AS df_w
  FROM toks
),
orp AS (
  SELECT doc_id, count(DISTINCT pos) AS pf FROM toks
  WHERE term IN ('spark', 'window') GROUP BY doc_id
),
ors AS (
  SELECT orp.doc_id,
         greatest(ln(1.0 + (s.n - d.df_s + 0.5) / (d.df_s + 0.5)),
                  ln(1.0 + (s.n - d.df_w + 0.5) / (d.df_w + 0.5)))
         * (orp.pf * 2.2) / (orp.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM orp JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN dfs d
),
fst AS (
  SELECT doc_id, count(*) AS pf FROM toks
  WHERE term = 'join' AND pos + 1 <= 5 GROUP BY doc_id
),
fsts AS (
  SELECT fst.doc_id,
         ln(1.0 + (s.n - d.df_j + 0.5) / (d.df_j + 0.5))
         * (fst.pf * 2.2) / (fst.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM fst JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN dfs d
),
nt AS (
  SELECT a.doc_id, count(*) AS pf FROM toks a
  WHERE a.term = 'window' AND NOT EXISTS (
    SELECT 1 FROM toks b
    WHERE b.doc_id = a.doc_id AND b.term = 'spark'
      AND b.pos >= a.pos - 1 AND b.pos <= a.pos + 1)
  GROUP BY a.doc_id
),
nts AS (
  SELECT nt.doc_id,
         ln(1.0 + (s.n - d.df_w + 0.5) / (d.df_w + 0.5))
         * (nt.pf * 2.2) / (nt.pf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / s.avgdl))) AS raw
  FROM nt JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN dfs d
)
SELECT part, doc_id, score FROM (
  SELECT 'or' AS part, doc_id, round(raw, 4) AS score
  FROM (SELECT * FROM ors ORDER BY raw DESC, doc_id ASC LIMIT 15)
  UNION ALL
  SELECT 'first', doc_id, round(raw, 4)
  FROM (SELECT * FROM fsts ORDER BY raw DESC, doc_id ASC LIMIT 15)
  UNION ALL
  SELECT 'not', doc_id, round(raw, 4)
  FROM (SELECT * FROM nts ORDER BY raw DESC, doc_id ASC LIMIT 15)
) ORDER BY part, doc_id
"""


def q85_template_min_score(spark, sf_dir):
    """_search/template + min_score + _source filtering in one request:
    a mustache-subset template ({{q}}/{{lang}} inline, "{{size}}"/
    "{{floor}}" typed whole-string) renders to a bool body (match must +
    keyword filter-context term), hits floored at min_score, _source
    filtered to includes. DuckDB twin recomputes the BM25 ranking under
    the same filter and floor."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_template_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q85_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None,
            n_buckets=8, keyword_cols=("lang",), store_cols=("lang",),
        )
        resp = search_template_body(spark, out, {
            "source": {
                "query": {"bool": {
                    "must": [{"match": {"text": "{{q}}"}}],
                    "filter": [{"term": {"lang": "{{lang}}"}}],
                }},
                "size": "{{size}}",
                "min_score": "{{floor}}",
                "_source": {"includes": ["lang"]},
            },
            "params": {"q": "spark join", "lang": "en", "size": 15,
                       "floor": 0.4},
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4),
             str(h["_source"]["lang"]), len(h["_source"]))
            for h in resp["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id long, score double, lang string, n_src long"
    ).orderBy("doc_id")


Q85_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
  GROUP BY tf.doc_id
  HAVING count(DISTINCT tf.term) = 2  -- engine must-semantics: ALL terms
)
SELECT s.doc_id, round(s.raw, 4) AS score, d.lang, 1 AS n_src
FROM (SELECT * FROM scored WHERE raw >= 0.4
      ORDER BY raw DESC, doc_id ASC LIMIT 15) s
JOIN documents d USING (doc_id)
ORDER BY s.doc_id
"""


def q86_rank_feature_boost(spark, sf_dir):
    """ES rank_feature in bool.should (the recommended "relevance +
    popularity signal" shape): BM25 over a required match, plus
    boost × ln(scaling_factor + n_chars) added to every hit from the
    stored feature column. Ranking changes post-hoc, so the engine runs
    the FULL matching set through one docstore lookup (the
    rescorer/compound pattern — `index/dsl.py:_apply_rf_boosts`). DuckDB
    twin recomputes BM25 must-semantics and the same log feature."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q86_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None,
            n_buckets=8, store_cols=("n_chars",),
        )
        resp = search_body(spark, out, {
            "query": {"bool": {
                "must": [{"match": {"text": "spark join"}}],
                "should": [{"rank_feature": {
                    "field": "n_chars",
                    "log": {"scaling_factor": 1},
                    "boost": 0.5,
                }}],
            }},
            "size": 15,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        total = int(resp["hits"]["total"]["value"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(d, sc, total) for d, sc in rows],
        "doc_id long, score double, total long",
    ).orderBy("doc_id")


Q86_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
  HAVING count(DISTINCT tf.term) = 2  -- engine must-semantics: ALL terms
),
boosted AS (
  SELECT s.doc_id, s.raw + 0.5 * ln(1.0 + d.n_chars) AS score
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT b.doc_id, round(b.score, 4) AS score,
       (SELECT count(*) FROM boosted) AS total
FROM (SELECT * FROM boosted ORDER BY score DESC, doc_id ASC LIMIT 15) b
ORDER BY b.doc_id
"""


def q87_distance_feature(spark, sf_dir):
    """ES distance_feature under a filter-context bool: hits are the
    keyword-filtered set (lang = 'en'), scored purely by proximity —
    boost × pivot / (pivot + |n_chars − origin|) — with the exact
    distributed total. Exercises the docstore-resolved feature scoring
    and the filters⋈boost composition (`index/dsl.py` rf_boosts path)."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q87_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None,
            n_buckets=8, keyword_cols=("lang",), store_cols=("n_chars",),
        )
        resp = search_body(spark, out, {
            "query": {"bool": {
                "filter": [{"term": {"lang": "en"}}],
                "should": [{"distance_feature": {
                    "field": "n_chars", "origin": 2000, "pivot": 500,
                    "boost": 2.0,
                }}],
            }},
            "size": 12,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        total = int(resp["hits"]["total"]["value"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(d, sc, total) for d, sc in rows],
        "doc_id long, score double, total long",
    ).orderBy("doc_id")


Q87_SQL = """
WITH en AS (SELECT doc_id, n_chars FROM documents WHERE lang = 'en'),
scored AS (
  SELECT doc_id, 2.0 * 500.0 / (500.0 + abs(n_chars - 2000.0)) AS score
  FROM en
)
SELECT s.doc_id, round(s.score, 4) AS score,
       (SELECT count(*) FROM en) AS total
FROM (SELECT * FROM scored ORDER BY score DESC, doc_id ASC LIMIT 12) s
ORDER BY s.doc_id
"""


def q88_terms_order_metric(spark, sf_dir):
    """ES terms aggregation ordered by a metric sub-aggregation (the
    Kibana "top categories by average" table): buckets selected by
    avg(n_chars) DESC — not doc_count — with the metric computed in the
    SAME groupBy that ranks the buckets (`index/query.py:_sub_bucket_df`,
    `_terms_order_keys`). Served through the DSL request body; DuckDB twin
    recomputes the matching set, the per-bucket metric, and the order."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q88_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("source", "n_chars"))
        resp = search_body(spark, out, {
            "query": {"match": {"text": "spark"}},
            "size": 0,
            "aggs": {"top_src": {
                "terms": {
                    "field": "source", "size": 4,
                    "order": {"avg_len": "desc"},
                },
                "aggs": {"avg_len": {"avg": {"field": "n_chars"}}},
            }},
        })
        rows = [
            (str(b["key"]), int(b["doc_count"]), round(float(b["value"]), 4))
            for b in resp["aggregations"]["top_src"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "src string, doc_count long, avg_len double"
    ).orderBy("src")


Q88_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks WHERE term = 'spark' GROUP BY doc_id
),
buckets AS (
  SELECT d.source AS src, count(*) AS doc_count,
         avg(d.n_chars) AS avg_len
  FROM documents d JOIN hits USING (doc_id)
  GROUP BY d.source
)
SELECT src, doc_count, round(avg_len, 4) AS avg_len
FROM (SELECT * FROM buckets ORDER BY avg_len DESC, src ASC LIMIT 4) b
ORDER BY src
"""


def q89_rrf_hybrid(spark, sf_dir):
    """ES retriever/rrf hybrid search: reciprocal rank fusion of a
    lexical BM25 retriever (match "spark join") and an exact-cosine kNN
    retriever over a stored embedding column, rank_constant 60, window
    20 (`index/dsl.py:_rrf_search`). Every doc's fused score is
    Σ 1/(60 + rank_i) over the lists it appears in. DuckDB twin
    recomputes both rankings and the fusion."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    joined = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = tempfile.mkdtemp(prefix="cb_q89_idx_")
    try:
        build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=8)
        write_docstore(
            spark, joined, out, url_col=None, extra_cols=("embedding",)
        )
        resp = search_body(spark, out, {
            "retriever": {"rrf": {
                "retrievers": [
                    {"standard": {"query": {"match": {"text": "spark join"}}}},
                    {"knn": {"field": "embedding", "query_vector": qv}},
                ],
                "rank_constant": 60,
                "rank_window_size": 20,
            }},
            "size": 10,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 6))
            for h in resp["hits"]["hits"]
        ]
        total = int(resp["hits"]["total"]["value"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(d, sc, total) for d, sc in rows],
        "doc_id long, rrf double, total long",
    ).orderBy("doc_id")


Q89_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
bm_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY raw DESC, doc_id ASC) AS r
  FROM bm QUALIFY r <= 20
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
cs AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], qv.v)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qv.v, qv.v))) AS cos
  FROM embeddings, qv
),
cs_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r
  FROM cs QUALIFY r <= 20
),
fused AS (
  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
         coalesce(1.0 / (60 + b.r), 0) + coalesce(1.0 / (60 + c.r), 0) AS rrf
  FROM bm_rank b FULL OUTER JOIN cs_rank c USING (doc_id)
)
SELECT f.doc_id, round(f.rrf, 6) AS rrf,
       (SELECT count(*) FROM fused) AS total
FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10) f
ORDER BY f.doc_id
"""


def q90_pinned_query(spark, sf_dir):
    """ES pinned query: curated ids surface first in the given order
    (synthetic descending scores, 1e9 − position), then the organic BM25
    ranking with the pinned ids deduplicated out
    (`index/dsl.py` parse_query "pinned"). DuckDB twin unions the pinned
    rows with the organic scoring minus those ids."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q90_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_docs=True)
        resp = search_body(spark, out, {
            "query": {"pinned": {
                "ids": [42, 7],
                "organic": {"match": {"text": "spark join"}},
            }},
            "size": 10,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id long, score double"
    ).orderBy("doc_id")


Q90_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
pinned AS (
  SELECT doc_id, 1e9 - (CASE doc_id WHEN 42 THEN 0 ELSE 1 END) AS raw
  FROM documents WHERE doc_id IN (42, 7)
),
fused AS (
  SELECT * FROM pinned
  UNION ALL
  SELECT doc_id, raw FROM bm WHERE doc_id NOT IN (42, 7)
)
SELECT doc_id, round(raw, 4) AS score
FROM (SELECT * FROM fused ORDER BY raw DESC, doc_id ASC LIMIT 10) f
ORDER BY doc_id
"""


def q91_gapfilled_histogram(spark, sf_dir):
    """ES date_histogram with ``fixed_interval`` + ``min_doc_count: 0`` +
    ``extended_bounds`` — the gap-filled Kibana time chart: 6-hour
    epoch-aligned buckets over the matching set, empty buckets emitted as
    zero across the extended axis (`index/query.py:_densify_dh_df`; the
    bucket axis is driver-generated and capped, the counts stay
    distributed). warc_ts synthesized from doc_id like q37."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents").withColumn(
        "warc_ts",
        F.expr(
            "timestampadd(HOUR, cast(pmod(doc_id, 8) as int) * 9, "
            "timestamp '2016-09-16 12:00:00')"
        ),
    )
    out = tempfile.mkdtemp(prefix="cb_q91_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("warc_ts",))
        res = search_aggs(
            spark, out,
            {"by_6h": {"date_histogram": {
                "field": "warc_ts", "fixed_interval": "6h",
                "min_doc_count": 0,
                "extended_bounds": {"min": "2016-09-15T00:00:00",
                                    "max": "2016-09-21T00:00:00"},
            }}},
            "spark join", must_not="window",
        )["by_6h"]
        rows = [
            (r.key.strftime("%Y-%m-%d %H:%M:%S"), int(r.n))
            for r in res.collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "bucket string, n long").orderBy("bucket")


Q91_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN ('spark', 'join') THEN 1 ELSE 0 END) = 1
     AND max(CASE WHEN term = 'window' THEN 1 ELSE 0 END) = 0
),
counts AS (
  SELECT to_timestamp(floor(epoch(TIMESTAMP '2016-09-16 12:00:00'
                            + (d.doc_id % 8) * 9 * INTERVAL 1 HOUR) / 21600)
                      * 21600)::TIMESTAMP AS bucket,
         count(*) AS n
  FROM documents d JOIN hits USING (doc_id)
  GROUP BY 1
),
axis AS (
  SELECT unnest(generate_series(TIMESTAMP '2016-09-15 00:00:00',
                                TIMESTAMP '2016-09-21 00:00:00',
                                INTERVAL 6 HOUR)) AS bucket
)
SELECT strftime(a.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       coalesce(c.n, 0) AS n
FROM axis a LEFT JOIN counts c USING (bucket)
ORDER BY 1
"""


def q92_filtered_facets(spark, sf_dir):
    """ES terms aggregation with ``include`` (anchored regex) +
    ``exclude`` (exact list) + ``order: {_key: desc}`` — the filtered
    facet sidebar (`index/query.py:_terms_incl_excl_col`). Also carries a
    ``top_metrics`` sibling (the top-1 doc's lang by n_chars desc, doc_id
    tiebreak). DuckDB twin applies the same regex, anti-list, ordering,
    and window-top row."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q92_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("source", "lang", "n_chars"))
        res = search_aggs(
            spark, out,
            {
                "srcs": {"terms": {
                    "field": "source", "include": "src1.*",
                    "exclude": ["src12", "src14"],
                    "order": {"_key": "desc"}, "size": 0,
                }},
                "top": {"top_metrics": {
                    "metrics": [{"field": "lang"}, {"field": "doc_id"}],
                    "sort": {"n_chars": "desc"}, "size": 1,
                }},
            },
            "spark join",
        )
        srcs = [(str(r.key), int(r.n)) for r in res["srcs"].collect()]
        top = res["top"].collect()[0]
        rows = [
            (k, n, str(top["lang"]), int(top["doc_id"])) for k, n in srcs
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "src string, n long, top_lang string, top_doc long"
    )


Q92_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT doc_id FROM toks GROUP BY doc_id
  HAVING max(CASE WHEN term IN ('spark', 'join') THEN 1 ELSE 0 END) = 1
),
matched AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
srcs AS (
  SELECT source AS src, count(*) AS n
  FROM matched
  WHERE regexp_full_match(source, 'src1.*')
    AND source NOT IN ('src12', 'src14')
  GROUP BY source
),
top1 AS (
  SELECT lang AS top_lang, doc_id AS top_doc
  FROM matched
  ORDER BY n_chars DESC, doc_id ASC LIMIT 1
)
SELECT s.src, s.n, t.top_lang, t.top_doc
FROM srcs s CROSS JOIN top1 t
ORDER BY s.src DESC
"""


def q93_terms_lookup(spark, sf_dir):
    """ES terms lookup: the filter's term list lives in ANOTHER document
    (a profile doc with a stored array column), resolved by one
    driver-side bucket-pruned docstore lookup and replaced inline
    (`index/dsl.py:_resolve_terms_lookups`) — the "match my interests"
    shape. Result: the filtered export (doc_id order, constant score).
    DuckDB twin filters on the same (known) term list."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q93_idx_")
    prof = tempfile.mkdtemp(prefix="cb_q93_prof_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_docs=True)
        pdocs = spark.createDataFrame(
            [(1, "profile", ["spark", "shuffle"])],
            "doc_id long, text string, likes array<string>",
        )
        build_index(spark, pdocs, prof, url_col=None, n_buckets=2,
                    store_cols=("likes",))
        resp = search_body(spark, out, {
            "query": {"bool": {"filter": [{"terms": {
                "text": {"index": prof, "id": 1, "path": "likes"},
            }}]}},
            "sort": [{"doc_id": "asc"}],
            "size": 30,
            "track_total_hits": True,
        })
        rows = [int(h["_id"]) for h in resp["hits"]["hits"]]
        total = int(resp["hits"]["total"]["value"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(prof, ignore_errors=True)
    return spark.createDataFrame(
        [(d, total) for d in rows], "doc_id long, total long"
    ).orderBy("doc_id")


Q93_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hits AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('spark', 'shuffle')
)
SELECT h.doc_id, (SELECT count(*) FROM hits) AS total
FROM (SELECT doc_id FROM hits ORDER BY doc_id ASC LIMIT 30) h
ORDER BY h.doc_id
"""


def q94_filtered_knn(spark, sf_dir):
    """ES kNN search with a pre-filter: the keyword filter restricts the
    candidate set BEFORE the vector scan (one distributed semi-join into
    the cosine top-k — never a post-filtered short page;
    `index/dsl.py:_knn_search`). Scored ES-style (1+cos)/2. DuckDB twin
    filters the same subset and recomputes the cosine ranking."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    joined = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = tempfile.mkdtemp(prefix="cb_q94_idx_")
    try:
        build_index(
            spark, docs.select("doc_id", "text", "lang"), out, url_col=None,
            n_buckets=8, keyword_cols=("lang",),
        )
        write_docstore(
            spark, joined, out, url_col=None, extra_cols=("lang", "embedding")
        )
        resp = search_body(spark, out, {"knn": {
            "field": "embedding", "query_vector": qv, "k": 12,
            "filter": [{"term": {"lang": "en"}}],
        }})
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 6))
            for h in resp["hits"]["hits"]
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id long, score double"
    ).orderBy("doc_id")


Q94_SQL = """
WITH qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
en AS (
  SELECT e.vec_id AS doc_id, e.embedding
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE d.lang = 'en'
),
cs AS (
  SELECT doc_id,
         (1.0 + list_dot_product(embedding::DOUBLE[], qv.v)
          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * sqrt(list_dot_product(qv.v, qv.v)))) / 2.0 AS score
  FROM en, qv
)
SELECT doc_id, round(score, 6) AS score
FROM (SELECT * FROM cs ORDER BY score DESC, doc_id ASC LIMIT 12) c
ORDER BY doc_id
"""


def q95_keyword_wildcard(spark, sf_dir):
    """Scored BM25 query + a KEYWORD-field wildcard filter in one bool
    (the Kibana "field: src1*" pill): the wildcard expands the stored
    values over the range-pruned term_index and becomes a posting filter
    group (`index/dsl.py:_expand_keyword_values`) — constant-score filter
    context, never a docstore regex scan. DuckDB twin: LIKE + BM25."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q95_idx_")
    try:
        build_index(
            spark, docs, out, url_col=None,
            n_buckets=8, keyword_cols=("source",), store_cols=("source",),
        )
        resp = search_body(spark, out, {
            "query": {"bool": {
                "must": [{"match": {"text": "spark join"}}],
                "filter": [{"wildcard": {"source": "src1*"}}],
            }},
            "size": 15,
            "track_total_hits": True,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        total = int(resp["hits"]["total"]["value"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(d, sc, total) for d, sc in rows],
        "doc_id long, score double, total long",
    ).orderBy("doc_id")


Q95_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id IN (SELECT doc_id FROM documents WHERE source LIKE 'src1%')
  GROUP BY tf.doc_id
  HAVING count(DISTINCT tf.term) = 2  -- engine must-semantics: ALL terms
)
SELECT s.doc_id, round(s.raw, 4) AS score,
       (SELECT count(*) FROM scored) AS total
FROM (SELECT * FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 15) s
ORDER BY s.doc_id
"""


def q96_script_score(spark, sf_dir):
    """ES script_score: every matching doc re-scored by a painless-subset
    script over ``_score`` and a stored docstore field
    (`index/dsl.py:_script_score_rows` — full-matching-set base + one
    bucket-pruned docstore lookup, the compound exactness pattern).
    DuckDB twin recomputes BM25 (OR semantics) and the same expression."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q96_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("n_chars",))
        resp = search_body(spark, out, {
            "query": {"script_score": {
                "query": {"match": {"text": "spark join"}},
                "script": {
                    "source": "_score * params.w + doc['n_chars'].value / 10000",
                    "params": {"w": 2.0},
                },
            }},
            "size": 12,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        total = int(resp["hits"]["total"]["value"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(d, sc, total) for d, sc in rows],
        "doc_id long, score double, total long",
    ).orderBy("doc_id")


Q96_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (SELECT unnest(['spark', 'join']) AS term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
scripted AS (
  SELECT b.doc_id, b.raw * 2.0 + d.n_chars / 10000.0 AS score
  FROM bm b JOIN documents d USING (doc_id)
)
SELECT s.doc_id, round(s.score, 4) AS score,
       (SELECT count(*) FROM scripted) AS total
FROM (SELECT * FROM scripted ORDER BY score DESC, doc_id ASC LIMIT 12) s
ORDER BY s.doc_id
"""


def q97_match_bool_prefix(spark, sf_dir):
    """ES match_bool_prefix (search-as-you-type): analyzed tokens as
    should terms, the LAST token expanded as a prefix over the
    range-pruned term_index into the same should bag — each expansion
    scores as its own term (`index/dsl.py` "match_bool_prefix"). DuckDB
    twin derives the same expansion from the vocabulary (LIKE 's%') and
    recomputes the OR-semantics BM25."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.dsl import search_body

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q97_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_docs=True)
        resp = search_body(spark, out, {
            "query": {"match_bool_prefix": {"text": "join s"}},
            "size": 12,
            "track_total_hits": True,
        })
        rows = [
            (int(h["_id"]), round(float(h["_score"]), 4))
            for h in resp["hits"]["hits"]
        ]
        total = int(resp["hits"]["total"]["value"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(d, sc, total) for d, sc in rows],
        "doc_id long, score double, total long",
    ).orderBy("doc_id")


Q97_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
),
q AS (
  SELECT 'join' AS term
  UNION
  SELECT DISTINCT term FROM tf WHERE term LIKE 's%'
),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))) AS raw
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT s.doc_id, round(s.raw, 4) AS score,
       (SELECT count(*) FROM scored) AS total
FROM (SELECT * FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 12) s
ORDER BY s.doc_id
"""


def q98_dedup_components(spark, sf_dir):
    """Near-dup CLUSTERING: docs sharing a winnowing fingerprint become
    edges; distributed min-label propagation
    (`operators/dedup.py:connected_components` — one hash join + hash agg
    per round, localCheckpointed lineage) labels every clustered doc with
    its component = min reachable doc_id (the canonical-representative
    rule a dedup pipeline keeps). DuckDB twin: the SAME fingerprint pairs
    (q30's proven winnowing twin) + a recursive reachability CTE."""
    from .functions.textstats import winnow_fingerprints
    from .operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs)
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return connected_components(pairs).orderBy("doc_id")


Q98_SQL = f"""
WITH fps AS ({Q30_SQL.replace("ORDER BY doc_id, fp", "")}),
pairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
  )
  SELECT * FROM r
)
SELECT src AS doc_id, min(dst) AS component
FROM reach GROUP BY src ORDER BY doc_id
"""


def q99_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling for training-mix construction
    (`operators/dedup.py:stratified_sample`): per-stratum keep rates via a
    Knuth multiplicative hash on the doc id — a pure JVM predicate (no
    shuffle, no RNG state), bit-reproducible across engines and runs.
    DuckDB twin applies the identical arithmetic."""
    from .operators.dedup import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, stratum_col="source",
        default_rate=0.1,
    )
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("kept"), F.sum("doc_id").alias("id_sum"))
        .orderBy("source")
    )


Q99_SQL = """
WITH hashed AS (
  SELECT *, ((doc_id % 1000000007) * 2654435761) % 10000 AS bucket
  FROM documents
),
kept AS (
  SELECT * FROM hashed
  WHERE (source = 'src0' AND bucket < 10000)
     OR (source = 'src1' AND bucket < 5000)
     OR (source = 'src2' AND bucket < 2500)
     OR (source NOT IN ('src0', 'src1', 'src2') AND bucket < 1000)
)
SELECT source, count(*) AS kept, sum(doc_id) AS id_sum
FROM kept GROUP BY source ORDER BY source
"""


def q100_quality_filter(spark, sf_dir):
    """Training-corpus quality GATE (C4/Gopher-style rule chain over the
    JVM quality features — `functions/textstats.py:quality_filter`):
    every doc labeled keep/drop with the FIRST failing rule as the
    reason, then the per-reason census a pipeline dashboard shows.
    DuckDB twin recomputes the identical features and rule order."""
    from .functions.textstats import quality_filter

    docs = _t(spark, sf_dir, "documents")
    verdicts = quality_filter(
        docs, min_tokens=30, min_alnum_ratio=0.7,
        min_stopword_ratio=0.02, min_quality=0.55,
    )
    return (
        verdicts.groupBy("reason")
        .agg(
            F.count("*").alias("docs"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("reason")
    )


Q100_SQL = """
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '') AS arr
  FROM documents
),
feats AS (
  SELECT doc_id,
         len(arr) AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           / greatest(length(text), 1) AS alnum_ratio,
         len(list_filter(arr, t -> list_contains(['the','and','of','to','is','that','with'], t)))
           / greatest(len(arr), 1) AS stopword_ratio
  FROM base
),
verdicts AS (
  SELECT doc_id,
         CASE
           WHEN n_tokens < 30 THEN 'too_short'
           WHEN n_tokens > 100000 THEN 'too_long'
           WHEN alnum_ratio < 0.7 THEN 'low_alnum'
           WHEN stopword_ratio < 0.02 THEN 'no_stopwords'
           WHEN least(n_tokens / 100.0, 1.0) * 0.4
                + least(stopword_ratio * 4.0, 1.0) * 0.3
                + alnum_ratio * 0.3 < 0.55 THEN 'low_quality'
           ELSE ''
         END AS reason
  FROM feats
)
SELECT reason, count(*) AS docs, sum(doc_id) AS id_sum
FROM verdicts GROUP BY reason ORDER BY reason
"""


def q101_significant_text(spark, sf_dir):
    """ES significant_text: the analyzed terms that characterize the
    matching set vs the whole index — foreground from the hit-bounded
    docstore re-tokenization, background from the index DICTIONARY's doc
    frequencies (a metadata read; the corpus is never re-scanned) — JLH
    scored (`index/query.py:_significant_text_df`). DuckDB twin
    recomputes both distributions from the raw tokens."""
    import shutil
    import tempfile

    from .index.build import build_index, write_docstore
    from .index.query import search_aggs

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="cb_q101_idx_")
    try:
        build_index(spark, docs, out, url_col=None, n_buckets=8,
                    store_cols=("text",))
        res = search_aggs(
            spark, out,
            {"sig": {"significant_text": {"field": "text", "size": 8}}},
            "spark", must="spark",
        )["sig"]
        rows = [
            (str(r.key), int(r.doc_count), int(r.bg_count), round(float(r.score), 6))
            for r in res.collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "term string, doc_count long, bg_count long, score double"
    ).orderBy("term")


Q101_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
doc_terms AS (SELECT DISTINCT doc_id, term FROM toks WHERE term != ''),
hits AS (SELECT DISTINCT doc_id FROM doc_terms WHERE term = 'spark'),
fg AS (
  SELECT dt.term AS key, count(*) AS doc_count
  FROM doc_terms dt JOIN hits USING (doc_id)
  GROUP BY dt.term
),
bg AS (SELECT term AS key, count(*) AS bg_count FROM doc_terms GROUP BY term),
tot AS (
  SELECT (SELECT count(*) FROM hits)::DOUBLE AS fg_total,
         (SELECT count(*) FROM documents)::DOUBLE AS bg_total
),
scored AS (
  SELECT f.key, f.doc_count, b.bg_count,
         (f.doc_count / t.fg_total - b.bg_count / t.bg_total)
         * ((f.doc_count / t.fg_total) / (b.bg_count / t.bg_total)) AS score
  FROM fg f JOIN bg b USING (key) CROSS JOIN tot t
  WHERE f.doc_count >= 3
)
SELECT key AS term, doc_count, bg_count, round(score, 6) AS score
FROM (SELECT * FROM scored WHERE score > 0
      ORDER BY score DESC, key ASC LIMIT 8) s
ORDER BY term
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_by_nation": q02_revenue_by_nation,
    "q03_minute_metrics": q03_minute_metrics,
    "q04_sessionize": q04_sessionize,
    "q05_filter_expr": q05_filter_expr,
    "q06_topk_per_group": q06_topk_per_group,
    "q07_minute_shards": q07_minute_shards,
    "q08_term_freq": q08_term_freq,
    "q09_doc_stats": q09_doc_stats,
    "q10_bm25_topk": q10_bm25_topk,
    "q11_dedup_exact": q11_dedup_exact,
    "q12_ann_cosine": q12_ann_cosine,
    "q13_lang_quality": q13_lang_quality,
    "q14_minhash_lsh": q14_minhash_lsh,
    "q15_simhash": q15_simhash,
    "q16_lang_id": q16_lang_id,
    "q17_quality": q17_quality,
    "q18_token_counts": q18_token_counts,
    "q19_fingerprint": q19_fingerprint,
    "q20_exact_dedup": q20_exact_dedup,
    "q21_salted_shards": q21_salted_shards,
    "q22_simple_filter": q22_simple_filter,
    "q23_iis_roundtrip": q23_iis_roundtrip,
    "q24_insight_roundtrip": q24_insight_roundtrip,
    "q25_json_roundtrip": q25_json_roundtrip,
    "q26_embedding_near_dups": q26_embedding_near_dups,
    "q27_sitecore_roundtrip": q27_sitecore_roundtrip,
    "q28_eav_roundtrip": q28_eav_roundtrip,
    "q29_hour_shards": q29_hour_shards,
    "q30_winnow_fingerprints": q30_winnow_fingerprints,
    "q31_phrase_search": q31_phrase_search,
    "q32_date_bounded_bm25": q32_date_bounded_bm25,
    "q33_facet_counts": q33_facet_counts,
    "q34_min_should_match": q34_min_should_match,
    "q35_filtered_search": q35_filtered_search,
    "q36_delete_by_query": q36_delete_by_query,
    "q37_date_histogram": q37_date_histogram,
    "q38_multi_match": q38_multi_match,
    "q39_analyzed_search": q39_analyzed_search,
    "q40_dsl_search": q40_dsl_search,
    "q41_analyzed_phrase": q41_analyzed_phrase,
    "q42_fuzzy_expansion": q42_fuzzy_expansion,
    "q43_windowed_histogram": q43_windowed_histogram,
    "q44_nested_bool": q44_nested_bool,
    "q45_sub_bucket_aggs": q45_sub_bucket_aggs,
    "q46_query_string": q46_query_string,
    "q47_constant_score": q47_constant_score,
    "q48_score_search_after": q48_score_search_after,
    "q49_filter_aggs": q49_filter_aggs,
    "q50_top_hits": q50_top_hits,
    "q51_composite_aggs": q51_composite_aggs,
    "q52_field_collapse": q52_field_collapse,
    "q53_rescore": q53_rescore,
    "q54_significant_terms": q54_significant_terms,
    "q55_sloppy_phrase": q55_sloppy_phrase,
    "q56_term_suggester": q56_term_suggester,
    "q57_extended_aggs": q57_extended_aggs,
    "q58_nested_agg_tree": q58_nested_agg_tree,
    "q59_dis_max": q59_dis_max,
    "q60_boosting": q60_boosting,
    "q61_function_score": q61_function_score,
    "q62_match_phrase_prefix": q62_match_phrase_prefix,
    "q63_phrase_suggester": q63_phrase_suggester,
    "q64_explain": q64_explain,
    "q65_knn_dsl": q65_knn_dsl,
    "q66_series_pipelines": q66_series_pipelines,
    "q67_metric_aggs": q67_metric_aggs,
    "q68_bucket_pipelines": q68_bucket_pipelines,
    "q69_span_near": q69_span_near,
    "q70_termvectors": q70_termvectors,
    "q71_reindex": q71_reindex,
    "q72_update_by_query": q72_update_by_query,
    "q73_analyze_api": q73_analyze_api,
    "q74_bulk_api": q74_bulk_api,
    "q75_alias_search": q75_alias_search,
    "q76_intervals": q76_intervals,
    "q77_terms_set": q77_terms_set,
    "q78_nested_query": q78_nested_query,
    "q79_script_fields": q79_script_fields,
    "q80_sliced_scroll": q80_sliced_scroll,
    "q81_simple_query_string": q81_simple_query_string,
    "q82_adjacency_auto_dh": q82_adjacency_auto_dh,
    "q83_percolate": q83_percolate,
    "q84_span_algebra": q84_span_algebra,
    "q85_template_min_score": q85_template_min_score,
    "q86_rank_feature_boost": q86_rank_feature_boost,
    "q87_distance_feature": q87_distance_feature,
    "q88_terms_order_metric": q88_terms_order_metric,
    "q89_rrf_hybrid": q89_rrf_hybrid,
    "q90_pinned_query": q90_pinned_query,
    "q91_gapfilled_histogram": q91_gapfilled_histogram,
    "q92_filtered_facets": q92_filtered_facets,
    "q93_terms_lookup": q93_terms_lookup,
    "q94_filtered_knn": q94_filtered_knn,
    "q95_keyword_wildcard": q95_keyword_wildcard,
    "q96_script_score": q96_script_score,
    "q97_match_bool_prefix": q97_match_bool_prefix,
    "q98_dedup_components": q98_dedup_components,
    "q99_stratified_sample": q99_stratified_sample,
    "q100_quality_filter": q100_quality_filter,
    "q101_significant_text": q101_significant_text,
}

ORACLES: dict[str, str] = {
    "q01_pricing_summary": Q01_SQL,
    "q02_revenue_by_nation": Q02_SQL,
    "q03_minute_metrics": Q03_SQL,
    "q04_sessionize": Q04_SQL,
    "q05_filter_expr": Q05_SQL,
    "q06_topk_per_group": Q06_SQL,
    "q07_minute_shards": Q07_SQL,
    "q08_term_freq": Q08_SQL,
    "q09_doc_stats": Q09_SQL,
    "q10_bm25_topk": Q10_SQL,
    "q11_dedup_exact": Q11_SQL,
    "q12_ann_cosine": Q12_SQL,
    "q13_lang_quality": Q13_SQL,
    "q14_minhash_lsh": Q14_SQL,
    "q15_simhash": Q15_SQL,
    "q16_lang_id": Q16_SQL,
    "q17_quality": Q17_SQL,
    "q18_token_counts": Q18_SQL,
    "q19_fingerprint": Q19_SQL,
    "q20_exact_dedup": Q20_SQL,
    "q21_salted_shards": Q21_SQL,
    "q22_simple_filter": Q22_SQL,
    "q23_iis_roundtrip": Q23_SQL,
    "q24_insight_roundtrip": Q24_SQL,
    "q25_json_roundtrip": Q25_SQL,
    "q26_embedding_near_dups": Q26_SQL,
    "q27_sitecore_roundtrip": Q27_SQL,
    "q28_eav_roundtrip": Q28_SQL,
    "q29_hour_shards": Q29_SQL,
    "q30_winnow_fingerprints": Q30_SQL,
    "q31_phrase_search": Q31_SQL,
    "q32_date_bounded_bm25": Q32_SQL,
    "q33_facet_counts": Q33_SQL,
    "q34_min_should_match": Q34_SQL,
    "q35_filtered_search": Q35_SQL,
    "q36_delete_by_query": Q36_SQL,
    "q37_date_histogram": Q37_SQL,
    "q38_multi_match": Q38_SQL,
    "q39_analyzed_search": Q39_SQL,
    "q40_dsl_search": Q40_SQL,
    "q41_analyzed_phrase": Q41_SQL,
    "q42_fuzzy_expansion": Q42_SQL,
    "q43_windowed_histogram": Q43_SQL,
    "q44_nested_bool": Q44_SQL,
    "q45_sub_bucket_aggs": Q45_SQL,
    "q46_query_string": Q46_SQL,
    "q47_constant_score": Q47_SQL,
    "q48_score_search_after": Q48_SQL,
    "q49_filter_aggs": Q49_SQL,
    "q50_top_hits": Q50_SQL,
    "q51_composite_aggs": Q51_SQL,
    "q52_field_collapse": Q52_SQL,
    "q53_rescore": Q53_SQL,
    "q54_significant_terms": Q54_SQL,
    "q55_sloppy_phrase": Q55_SQL,
    "q56_term_suggester": Q56_SQL,
    "q57_extended_aggs": Q57_SQL,
    "q58_nested_agg_tree": Q58_SQL,
    "q59_dis_max": Q59_SQL,
    "q60_boosting": Q60_SQL,
    "q61_function_score": Q61_SQL,
    "q62_match_phrase_prefix": Q62_SQL,
    "q63_phrase_suggester": Q63_SQL,
    "q64_explain": Q64_SQL,
    "q65_knn_dsl": Q65_SQL,
    "q66_series_pipelines": Q66_SQL,
    "q67_metric_aggs": Q67_SQL,
    "q68_bucket_pipelines": Q68_SQL,
    "q69_span_near": Q69_SQL,
    "q70_termvectors": Q70_SQL,
    "q71_reindex": Q71_SQL,
    "q72_update_by_query": Q72_SQL,
    "q73_analyze_api": Q73_SQL,
    "q74_bulk_api": Q74_SQL,
    "q75_alias_search": Q75_SQL,
    "q76_intervals": Q76_SQL,
    "q77_terms_set": Q77_SQL,
    "q78_nested_query": Q78_SQL,
    "q79_script_fields": Q79_SQL,
    "q80_sliced_scroll": Q80_SQL,
    "q81_simple_query_string": Q81_SQL,
    "q82_adjacency_auto_dh": Q82_SQL,
    "q83_percolate": Q83_SQL,
    "q84_span_algebra": Q84_SQL,
    "q85_template_min_score": Q85_SQL,
    "q86_rank_feature_boost": Q86_SQL,
    "q87_distance_feature": Q87_SQL,
    "q88_terms_order_metric": Q88_SQL,
    "q89_rrf_hybrid": Q89_SQL,
    "q90_pinned_query": Q90_SQL,
    "q91_gapfilled_histogram": Q91_SQL,
    "q92_filtered_facets": Q92_SQL,
    "q93_terms_lookup": Q93_SQL,
    "q94_filtered_knn": Q94_SQL,
    "q95_keyword_wildcard": Q95_SQL,
    "q96_script_score": Q96_SQL,
    "q97_match_bool_prefix": Q97_SQL,
    "q98_dedup_components": Q98_SQL,
    "q99_stratified_sample": Q99_SQL,
    "q100_quality_filter": Q100_SQL,
    "q101_significant_text": Q101_SQL,
}
