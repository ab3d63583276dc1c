"""Round-7 additions, third batch: BPE merge learning, revenue
mix-shift, duration-capped sessions, kNN label-noise detection.

- ``text_bpe_learn_merges``: the first K=3 byte-pair-encoding merges
  learned from the corpus vocabulary — the tokenizer-TRAINING step the
  registry's BPE-ish splitter consumes. Words are '·'-delimited symbol
  strings; each round counts adjacent symbol pairs weighted by word
  frequency, picks the heaviest pair (ties: lexicographic), and merges
  it via delimiter-anchored literal replace (leftmost-non-overlapping
  in BOTH engines — exactly BPE's greedy left-to-right merge of
  consecutive runs). The whole 3-round chain is LAZY: each round's top
  pair rides a 1-row broadcast cross join into the next round's
  replace; no driver-side loop state.
- ``orders_mix_shift_decomposition``: yearly revenue share by customer
  market segment + year-over-year share drift — the mix-shift readout
  behind "did segment mix or segment size move the total". Integer
  cents; shares divide cents by cents so both engines compute
  identical doubles.
- ``events_sessionize_capped``: gap-based sessions (30 min) split
  further by a 40 min maximum duration — the session contract real
  analytics systems use (a device left open all day is not one
  session). Gap flags and sub-session indices are pure integer math
  over user-partitioned windows.
- ``embedding_label_noise_knn``: for every vector, the majority label
  of its 5 nearest neighbors (cosine, engine-stable 9dp rank key) vs
  its own label — the mislabeled-sample detector run before training.
  Neighbor majority ties break to the smallest label.

Invariant tests in tests/test_round41.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import bucket_sql, cosine_sql
from trackdechets_etl_spark.operators.ranking import top_k_per_group
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------ BPE merges

_BPE_VOCAB = 200
_BPE_ROUNDS = 3
_D = "·"  # '·' symbol delimiter — never appears in [a-z]+ words


def _bpe_pairs(words: DataFrame) -> DataFrame:
    syms = F.split(F.expr(f"trim(BOTH '{_D}' FROM w)"), _D)
    idx = F.when(
        F.size(syms) > 1, F.sequence(F.lit(1), F.size(syms) - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        words.select(
            "cnt",
            F.explode(idx).alias("i"),
            syms.alias("s"),
        )
        .select(
            F.element_at("s", F.col("i")).alias("l"),
            F.element_at("s", F.col("i") + 1).alias("r"),
            "cnt",
        )
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("weight"))
    )


def _text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").rlike("^[a-z]+$"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(_BPE_VOCAB)
    )
    words = vocab.select(
        F.concat(
            F.regexp_replace(F.col("term"), "(.)", _D + "$1"), F.lit(_D)
        ).alias("w"),
        "cnt",
    )
    tops = []
    for step in range(1, _BPE_ROUNDS + 1):
        top = (
            _bpe_pairs(words)
            .orderBy(F.desc("weight"), "l", "r")
            .limit(1)
            .select(
                F.lit(step).cast("long").alias("step"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                F.col("weight").cast("long").alias("weight"),
            )
        )
        tops.append(top)
        words = words.crossJoin(F.broadcast(top)).select(
            F.replace(
                F.col("w"),
                F.concat(F.lit(_D), "left_sym", F.lit(_D), "right_sym", F.lit(_D)),
                F.concat(F.lit(_D), "merged", F.lit(_D)),
            ).alias("w"),
            "cnt",
        )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out.orderBy("step")


def _bpe_sql_pairs(src: str) -> str:
    return f"""
    SELECT l[i] AS l, l[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS weight
    FROM (SELECT string_split(trim(w, '{_D}'), '{_D}') AS l, cnt,
                 unnest(generate_series(1, len(string_split(trim(w, '{_D}'),
                       '{_D}')) - 1)) AS i
          FROM {src})
    GROUP BY l[i], l[i + 1]"""


def _bpe_oracle() -> str:
    parts = [
        f"""
vocab AS (
    SELECT term, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE regexp_matches(term, '^[a-z]+$')
    GROUP BY term ORDER BY cnt DESC, term LIMIT {_BPE_VOCAB}),
w0 AS (
    SELECT regexp_replace(term, '(.)', '{_D}\\1', 'g') || '{_D}' AS w, cnt
    FROM vocab)"""
    ]
    for step in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f"""
p{step} AS ({_bpe_sql_pairs(f'w{step - 1}')}),
t{step} AS (
    SELECT {step} AS step, l AS left_sym, r AS right_sym,
           l || r AS merged, weight
    FROM p{step} ORDER BY weight DESC, l, r LIMIT 1),
w{step} AS (
    SELECT replace(w, '{_D}' || t.left_sym || '{_D}' || t.right_sym || '{_D}',
                   '{_D}' || t.merged || '{_D}') AS w, cnt
    FROM w{step - 1} CROSS JOIN t{step} t)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST(step AS BIGINT) AS step, left_sym, right_sym, merged, "
        f"CAST(weight AS BIGINT) AS weight FROM t{s}"
        for s in range(1, _BPE_ROUNDS + 1)
    )
    return "WITH " + ",".join(parts) + f" SELECT * FROM ({selects}) ORDER BY step"


# ------------------------------------------------ mix shift


def _orders_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year(F.to_date("o_orderdate")).cast("long").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    per = (
        o.join(c, "o_custkey")
        .groupBy("yr", "segment")
        .agg(F.sum("cents").alias("cents"))
    )
    wy = Window.partitionBy("yr")
    ws = Window.partitionBy("segment").orderBy("yr")
    shared = per.withColumn(
        "share", F.round(F.col("cents") / F.sum("cents").over(wy), 6)
    )
    return (
        shared.withColumn(
            "share_delta", F.round(F.col("share") - F.lag("share").over(ws), 6)
        )
        .select(
            "yr",
            "segment",
            (F.col("cents") / 100.0).alias("revenue"),
            "share",
            "share_delta",
        )
        .orderBy("yr", "segment")
    )


MIX_SHIFT_SQL = """
WITH per AS (
    SELECT CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
           c.c_mktsegment AS segment,
           CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY yr, segment),
shared AS (
    SELECT yr, segment, cents,
           round(cents / CAST(sum(cents) OVER (PARTITION BY yr) AS DOUBLE), 6)
               AS share
    FROM per)
SELECT yr, segment, cents / 100.0 AS revenue, share,
       round(share - lag(share) OVER (PARTITION BY segment ORDER BY yr), 6)
           AS share_delta
FROM shared ORDER BY yr, segment
"""


# ------------------------------------------------ capped sessions

_SESS_GAP_S = 1800
_SESS_CAP_S = 2400


def _events_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("s"),
    )
    wo = Window.partitionBy("user_id").orderBy("s")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("s").over(wo).isNull()
            | (F.col("s") - F.lag("s").over(wo) > _SESS_GAP_S),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "gap_sid",
        F.sum("new_sess").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "gap_sid")
    capped = sess.withColumn(
        "sub_sid",
        F.expr(f"(s - min(s) OVER (PARTITION BY user_id, gap_sid)) div {_SESS_CAP_S}"),
    )
    return (
        capped.groupBy(
            "user_id",
            F.col("gap_sid").cast("long").alias("session_seq"),
            F.col("sub_sid").cast("long").alias("sub_seq"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.max("s") - F.min("s")).cast("long").alias("duration_s"),
        )
        .orderBy("user_id", "session_seq", "sub_seq")
    )


SESSIONIZE_CAPPED_SQL = f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) // 1000000 AS s FROM events),
flagged AS (
    SELECT user_id, s,
           CASE WHEN lag(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
                  OR s - lag(s) OVER (PARTITION BY user_id ORDER BY s)
                     > {_SESS_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM e),
sess AS (
    SELECT user_id, s,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gap_sid
    FROM flagged),
capped AS (
    SELECT user_id, s, gap_sid,
           (s - min(s) OVER (PARTITION BY user_id, gap_sid)) // {_SESS_CAP_S}
               AS sub_sid
    FROM sess)
SELECT user_id, CAST(gap_sid AS BIGINT) AS session_seq,
       CAST(sub_sid AS BIGINT) AS sub_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(s) - min(s) AS BIGINT) AS duration_s
FROM capped GROUP BY user_id, gap_sid, sub_sid
ORDER BY user_id, session_seq, sub_seq
"""


# ------------------------------------------------ kNN label noise

_NOISE_K = 5


def _knn_majority(scored: DataFrame) -> DataFrame:
    """The kNN label vote: each probe ``pid`` (label ``plabel``) keeps
    its ``_NOISE_K`` nearest neighbours ``nid`` by ``cos`` under
    ``score_order``, and returns the neighbour label ``nlabel`` with the
    most votes ``n_votes`` (ties: label asc). Shared with the recall
    twin (embedding_label_noise_recall, round54.py)."""
    knn = top_k_per_group(scored, "pid", "cos", "nid", _NOISE_K, "rnk")
    votes = knn.groupBy("pid", "plabel", "nlabel").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wm = Window.partitionBy("pid").orderBy(F.desc("n_votes"), F.asc("nlabel"))
    return votes.withColumn("mr", F.row_number().over(wm)).filter(
        F.col("mr") == 1
    )


_NOISE_PROBE_HEX = "28"  # md5(vec_id) < 0x28/0xff -> ~1/6.4 of vectors


def _embedding_label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.similarity import (
        bucket_expr,
        cosine_from_norms,
        norm,
    )

    EMB_DIMS = 64
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        bucket_expr(F.col("embedding"), EMB_DIMS).alias("bucket"),
        norm(F.col("embedding")).alias("n"),
    )
    # deterministic md5 probe sample caps the probe side; candidate
    # generation is an EQUI-JOIN on the hyperplane-LSH bucket (the
    # sim_lsh_bucket_topk path), so NEITHER join input must fit in a
    # broadcast — the r7 form broadcast the whole corpus, which is the
    # plan's hard stop once the corpus passes Spark's 8 GB broadcast
    # limit. Both cuts are pure row properties, so the oracle applies
    # the identical sample AND bucket restriction. At 100 TB, raise
    # n_planes so 2^planes >> cores (bucket count bounds join
    # parallelism) and let AQE split residual hot buckets; the exact
    # audit lives on as the recall twin (embedding_label_noise_recall,
    # round54.py), which broadcasts only the bounded probe side.
    a = e.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2)
        < _NOISE_PROBE_HEX
    ).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("embedding").alias("pv"),
        F.col("n").alias("pn"),
        "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("nv"),
        F.col("n").alias("nn"),
        "bucket",
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("pid") != F.col("nid"))
        .select(
            "pid",
            "plabel",
            "nid",
            "nlabel",
            cosine_from_norms(
                F.col("pv"), F.col("nv"), F.col("pn"), F.col("nn")
            ).alias("cos"),
        )
    )
    return (
        _knn_majority(scored)
        .select(
            F.col("pid").alias("vec_id"),
            F.col("plabel").cast("long").alias("label"),
            F.col("nlabel").cast("long").alias("majority_label"),
            F.col("n_votes").cast("long").alias("n_agree"),
            (F.col("nlabel") != F.col("plabel")).cast("int").alias("is_noisy"),
        )
        .orderBy("vec_id")
    )


LABEL_NOISE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
bk AS (SELECT vec_id, v, label,
              {bucket_sql('v', 64)} AS bucket FROM e),
p AS (SELECT * FROM bk
      WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '28'),
scored AS (
    SELECT a.vec_id AS pid, a.label AS plabel,
           b.vec_id AS nid, b.label AS nlabel,
           {cosine_sql('a.v', 'b.v')} AS cos
    FROM p a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
knn AS (
    SELECT * FROM (
        SELECT pid, plabel, nlabel,
               row_number() OVER (PARTITION BY pid
                   ORDER BY round(cos, 9) DESC, nid ASC) AS rnk
        FROM scored) WHERE rnk <= {_NOISE_K}),
votes AS (
    SELECT pid, plabel, nlabel, count(*) AS n_votes
    FROM knn GROUP BY pid, plabel, nlabel),
m AS (
    SELECT *, row_number() OVER (PARTITION BY pid
               ORDER BY n_votes DESC, nlabel ASC) AS mr
    FROM votes)
SELECT pid AS vec_id,
       CAST(plabel AS BIGINT) AS label,
       CAST(nlabel AS BIGINT) AS majority_label,
       CAST(n_votes AS BIGINT) AS n_agree,
       CAST(nlabel <> plabel AS INT) AS is_noisy
FROM m WHERE mr = 1 ORDER BY vec_id
"""


QUERIES: dict[str, QuerySpec] = {
    "text_bpe_learn_merges": QuerySpec(_text_bpe_learn_merges, _bpe_oracle()),
    "orders_mix_shift_decomposition": QuerySpec(
        _orders_mix_shift_decomposition, MIX_SHIFT_SQL
    ),
    "events_sessionize_capped": QuerySpec(
        _events_sessionize_capped, SESSIONIZE_CAPPED_SQL
    ),
    "embedding_label_noise_knn": QuerySpec(
        _embedding_label_noise_knn, LABEL_NOISE_SQL
    ),
}
