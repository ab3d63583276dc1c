"""Round-9 additions, eleventh batch: recommender holdout evaluation,
functional-dependency profiling, rank-list similarity, corpus source
diversity, SaaS growth accounting, and Poisson-process validation.

- ``reco_holdout_hitrate``: leave-most-recent-out hit-rate@5 of two
  recommenders on the customer→supplier interaction graph —
  item co-occurrence scoring vs the global-popularity baseline, both
  evaluated on the SAME held-out supplier (the most recently
  interacted one per customer, deterministic tiebreak). THE recsys
  eval loop done relationally; a co-occurrence model that can't beat
  popularity is not a model.
- ``dq_functional_dependencies``: functional-dependency audit over a
  literal candidate list (PK-style o_orderkey→o_custkey through
  known-violated l_orderkey,l_linenumber→l_partkey — the synthetic
  duplicate-linenumber quirk) — per candidate: determinant groups,
  violating groups, holds flag. The profiling step schema-inference
  and CDC key-selection both depend on.
- ``text_topk_rbo_eras``: truncated rank-biased overlap (p = 0.9,
  depth 20) between the top-token rankings of the two corpus halves —
  the rank-list similarity metric monitoring pipelines use where
  set-Jaccard is too crude (RBO weights agreement at the top).
  Per-era lists are LIMIT-bounded; ranks come from bounded self-join
  counts (the round63 window-free pattern).
- ``text_source_diversity``: ecology-style diversity profile of the
  document source mix — Shannon entropy, Pielou evenness, Simpson
  index, Berger–Parker dominance, richness. The one-row corpus-mixture
  health check (a "diverse" corpus dominated 60% by one crawl source
  is not diverse).
- ``orders_growth_accounting``: the standard growth-accounting
  decomposition of monthly active customers — new / retained /
  resurrected, churned (attributed to the month they went missing),
  and the quick ratio (new+resurrected)/churned. Built from ONE
  distinct customer-month frame and a consecutive-month self-join;
  all counts exact integers.
- ``events_interarrival_exp_fit``: Poisson-process validation of
  per-user event inter-arrivals — MLE rate λ = n/Σd, CV² (≈1 for
  exponential), and the QQ-plot R² against exponential quantiles at
  median ranks (micro-unit integer OLS, the events_session_weibull
  contract). The overdispersion row tests counts; this one tests the
  fine-grained timing.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 eleventh batch; invariant tests
in tests/test_round66.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.ranking import global_row_number
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ---------------------------------------------- reco holdout eval

_RECO_K = 5
_RECO_DEGREE_CAP = 16


def _reco_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    # repartition("c") BEFORE the (c,s) aggregate: hash(c) satisfies
    # the clustered-by-(c,s) requirement (subset rule), so the (c,s)
    # max-date dedup AND the groupBy(c) profile build both run without
    # further exchanges — one shuffle of the joined frame instead of
    # two. Trade-off: the raw rows shuffle un-combined; with TPC-H-ish
    # (c,s) multiplicity ≈1.15 one full exchange beats two combined
    # ones (measured 0.88 s vs 1.40 s warm at sf0.1). A corpus with
    # high per-(c,s) multiplicity (>~2 repeat interactions) would flip
    # this — restore the plain groupBy(c,s) there and let its exchange
    # map-side-combine.
    inter = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").alias("s"),
            "o_orderdate",
        )
        .repartition("c")
        .groupBy("c", "s")
        .agg(F.max("o_orderdate").alias("last_d"))
    )
    # Per-user profile in ONE groupBy(c), everything else array-side:
    # held-out item = max (last_d, s) struct (most recent interaction,
    # tie -> max suppkey); the md5 degree cap = filter the held item
    # out, sort the rest by (md5(c_s), s), keep the first CAP — exactly
    # the oracle's train_full/train CTE chain (it numbers rows with the
    # held item already excluded). This replaces the former two-window
    # pass over inter (max-struct + row_number) with array expressions
    # inside the aggregate, and — the actual win — the frame is
    # materialized so the six downstream consumers (pop, toppop,
    # pop_hits, co, scores, co_hits, n_users) stop re-deriving the
    # lineitem⋈orders join: the executed plan drops from 14 parquet
    # scans / 32 exchanges to one scan pass plus the few real shuffles. At
    # 100 TB the profile frame is one bounded-width row per customer
    # (CAP+1 item ids), far smaller than the interaction table it
    # replaces, and materializing it is the standard multi-consumer
    # discipline.
    held_c = F.array_max("all_arr")["s"]
    rest = F.filter(
        "all_arr", lambda x: x["s"] != F.col("held")
    )
    keyed = F.transform(
        rest,
        lambda x: F.struct(
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("c").cast("string"),
                    x["s"].cast("string"),
                )
            ).alias("k"),
            x["s"].alias("s"),
        ),
    )
    seen = F.transform(
        F.slice(F.array_sort(keyed), 1, _RECO_DEGREE_CAP),
        lambda x: x["s"],
    )
    user = materialize(
        inter.groupBy("c")
        .agg(F.collect_list(F.struct("last_d", "s")).alias("all_arr"))
        .withColumn("held", held_c)
        .select("c", seen.alias("seen_arr"), "held")
    )
    train = user.select("c", F.explode("seen_arr").alias("s"))
    pop = train.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # popularity: global top candidates (4·K deep so every user still
    # has K unseen ones) folded into a single sorted 20-element array —
    # per user, drop the seen items, take the first K, check the held
    # item. Replaces the former anti-join + self-join rank pass with
    # array expressions on the user frame (no extra shuffle; the
    # candidate list is a constant-size broadcast row).
    toppop_arr = (
        pop.orderBy(F.desc("cnt"), F.asc("s"))
        .limit(_RECO_K * 4)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cnt")).alias("negcnt"),
                        F.col("s").alias("s"),
                    )
                )
            ).alias("tp")
        )
    )

    def _topk_contains_held(arr, item_field):
        unseen = F.filter(
            arr,
            lambda x: ~F.array_contains(
                F.col("seen_arr"), x[item_field]
            ),
        )
        topk = F.transform(
            F.slice(unseen, 1, _RECO_K), lambda x: x[item_field]
        )
        return F.array_contains(topk, F.col("held")).cast("int")

    pop_hits = (
        user.crossJoin(F.broadcast(toppop_arr))
        .select(_topk_contains_held(F.col("tp"), "s").alias("hit"))
        .agg(F.sum("hit").cast("long").alias("hits"))
    )
    # co-occurrence: score(c, s) = Σ_{s' ∈ train(c)} co(s', s).
    # Ordered pairs (x, y), x ≠ y, are generated map-side straight
    # from the per-user train arrays (≤ CAP·(CAP−1) = 240 per user),
    # so ONE map-side-combined aggregate yields the symmetric co
    # matrix directly. The former s1<s2 half-matrix + flipped-union
    # shape consumed its aggregate twice and needed an eager
    # materialize to avoid recomputing the explode; emitting both
    # directions before the groupBy removes the union, the second
    # consumer and the checkpoint (r14: interleaved best-of-5,
    # sf0.001 1.07→1.04 s best / 1.34→1.14 med, sf0.1 3.71→3.59 s).
    sarr = F.array_sort(F.col("seen_arr"))
    pair_arr = F.flatten(
        F.transform(
            sarr,
            lambda x: F.transform(
                F.filter(sarr, lambda y: y != x),
                lambda y: F.struct(x.alias("s1"), y.alias("s2")),
            ),
        )
    )
    co_sym = (
        user.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )
    # item-neighbor cap: keep only the top co-partners per item —
    # the standard item-CF neighborhood truncation; bounds the score
    # fan-out at |train|·cap regardless of catalog size
    wnb = Window.partitionBy("s1").orderBy(
        F.desc("co"), F.asc("s2")
    )
    co_top = (
        co_sym.withColumn("nbr", F.row_number().over(wnb))
        .filter(F.col("nbr") <= _RECO_DEGREE_CAP)
        .drop("nbr")
    )
    # One exchange for the whole scoring tail: hash(c) satisfies the
    # ClusteredDistribution of BOTH downstream aggregates (groupBy(c,
    # cand) by the subset rule, then groupBy(c) exactly), so the
    # ~|train|·CAP scored frame crosses the network once instead of
    # twice ((c,cand) exchange + (c) exchange in the naive plan).
    scores = (
        train.join(
            co_top.withColumnRenamed("s1", "s"), "s"
        )
        .repartition("c")
        .groupBy("c", F.col("s2").alias("cand"))
        .agg(F.sum("co").cast("long").alias("score"))
    )
    # per-user candidate list sorted by (score desc, cand asc) — the
    # bounded (≤ CAP² elements) array replaces the former
    # anti-join + self-join rank pass; unseen filtering and the top-K
    # cut are array expressions evaluated alongside the user profile.
    cand_lists = scores.groupBy("c").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("score")).alias("negs"),
                    F.col("cand").alias("cand"),
                )
            )
        ).alias("cl")
    )
    co_hits = (
        cand_lists.join(user, "c")
        .select(_topk_contains_held(F.col("cl"), "cand").alias("hit"))
        .agg(F.sum("hit").cast("long").alias("hits"))
    )
    n_users = user.agg(F.count(F.lit(1)).cast("long").alias("nu"))

    out = pop_hits.select(
        F.lit("popularity").alias("strategy"), "hits"
    ).unionByName(
        co_hits.select(F.lit("cooccurrence").alias("strategy"), "hits")
    )
    return (
        out.crossJoin(F.broadcast(n_users))
        .select(
            "strategy",
            F.col("nu").alias("n_users"),
            "hits",
            F.round(F.col("hits") / F.col("nu"), 6).alias("hit_rate"),
        )
        .orderBy("strategy")
    )


RECO_SQL = f"""
WITH inter AS (
    SELECT o_custkey AS c, l_suppkey AS s, max(o_orderdate) AS last_d
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2),
mxd AS (SELECT c, max(last_d) AS md FROM inter GROUP BY c),
held AS (
    SELECT inter.c, max(s) AS held
    FROM inter JOIN mxd ON inter.c = mxd.c AND last_d = md
    GROUP BY inter.c),
train_full AS (
    SELECT inter.c, s FROM inter JOIN held USING (c) WHERE s <> held),
train AS (
    SELECT c, s FROM (
        SELECT c, s, row_number() OVER (
            PARTITION BY c
            ORDER BY md5(CAST(c AS VARCHAR) || '_'
                         || CAST(s AS VARCHAR)), s) AS capr
        FROM train_full)
    WHERE capr <= 16),
pop AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt FROM train GROUP BY s),
toppop AS (SELECT * FROM pop ORDER BY cnt DESC, s LIMIT {_RECO_K * 4}),
pop_cand AS (
    SELECT held.c, held.held, t.s, t.cnt
    FROM held CROSS JOIN toppop t
    WHERE NOT EXISTS (SELECT 1 FROM train
                      WHERE train.c = held.c AND train.s = t.s)),
pop_rk AS (
    -- row_number over the strict total order (cnt DESC, s) equals
    -- 1 + count(strictly better) — linear, where the count self-join
    -- was quadratic per user (impractical in DuckDB at sf0.1)
    SELECT c, held, s, row_number() OVER (
        PARTITION BY c ORDER BY cnt DESC, s) AS rk
    FROM pop_cand),
pop_hits AS (
    SELECT c, max(CASE WHEN s = held AND rk <= {_RECO_K}
                       THEN 1 ELSE 0 END) AS hit
    FROM pop_rk GROUP BY c),
co AS (
    SELECT t1.s AS s1, t2.s AS s2, CAST(count(*) AS BIGINT) AS co
    FROM train t1 JOIN train t2 ON t1.c = t2.c AND t1.s < t2.s
    GROUP BY t1.s, t2.s),
co_sym AS (
    SELECT s1, s2, co FROM co
    UNION ALL SELECT s2, s1, co FROM co),
co_top AS (
    SELECT s1, s2, co FROM (
        SELECT *, row_number() OVER (
            PARTITION BY s1 ORDER BY co DESC, s2) AS nbr
        FROM co_sym)
    WHERE nbr <= 16),
scores AS (
    SELECT train.c, s2 AS cand, CAST(sum(co) AS BIGINT) AS score
    FROM train JOIN co_top ON train.s = co_top.s1
    GROUP BY train.c, s2),
unseen AS (
    SELECT scores.c, held.held, cand, score
    FROM scores JOIN held USING (c)
    WHERE NOT EXISTS (SELECT 1 FROM train
                      WHERE train.c = scores.c AND train.s = cand)),
co_rk AS (
    SELECT c, held, cand, row_number() OVER (
        PARTITION BY c ORDER BY score DESC, cand) AS rk
    FROM unseen),
co_hits AS (
    SELECT c, max(CASE WHEN cand = held AND rk <= {_RECO_K}
                       THEN 1 ELSE 0 END) AS hit
    FROM co_rk GROUP BY c),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM held),
summ AS (
    SELECT 'popularity' AS strategy,
           CAST(sum(hit) AS BIGINT) AS hits FROM pop_hits
    UNION ALL
    SELECT 'cooccurrence' AS strategy,
           CAST(sum(hit) AS BIGINT) AS hits FROM co_hits)
SELECT strategy, n_users, hits,
       round(hits * 1.0 / n_users, 6) AS hit_rate
FROM summ, nu
ORDER BY strategy
"""


# ----------------------------------------- functional dependencies


def _dq_functional_dependencies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")

    def fd(df: DataFrame, name: str, det: list, dep: str) -> DataFrame:
        g = df.groupBy(*det).agg(
            F.countDistinct(dep).alias("nd")
        )
        return g.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("nd") > 1).cast("int"))
            .cast("long")
            .alias("violating_groups"),
            (F.max("nd") == 1).cast("int").cast("long").alias("holds"),
        )

    frames = [
        fd(o, "o_orderkey->o_custkey", ["o_orderkey"], "o_custkey"),
        fd(
            o,
            "o_custkey->o_orderpriority",
            ["o_custkey"],
            "o_orderpriority",
        ),
        fd(
            o,
            "o_orderdate->o_orderpriority",
            ["o_orderdate"],
            "o_orderpriority",
        ),
        fd(li, "l_orderkey->l_suppkey", ["l_orderkey"], "l_suppkey"),
        fd(li, "l_partkey->l_suppkey", ["l_partkey"], "l_suppkey"),
        fd(
            li,
            "l_orderkey,l_linenumber->l_partkey",
            ["l_orderkey", "l_linenumber"],
            "l_partkey",
        ),
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("fd")


FD_SQL = """
WITH c1 AS (
    SELECT 'o_orderkey->o_custkey' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
           CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT)
               AS holds
    FROM (SELECT count(DISTINCT o_custkey) AS nd
          FROM orders GROUP BY o_orderkey)),
c2 AS (
    SELECT 'o_custkey->o_orderpriority',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT count(DISTINCT o_orderpriority) AS nd
          FROM orders GROUP BY o_custkey)),
c3 AS (
    SELECT 'o_orderdate->o_orderpriority',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT count(DISTINCT o_orderpriority) AS nd
          FROM orders GROUP BY o_orderdate)),
c4 AS (
    SELECT 'l_orderkey->l_suppkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT count(DISTINCT l_suppkey) AS nd
          FROM lineitem GROUP BY l_orderkey)),
c5 AS (
    SELECT 'l_partkey->l_suppkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT count(DISTINCT l_suppkey) AS nd
          FROM lineitem GROUP BY l_partkey)),
c6 AS (
    SELECT 'l_orderkey,l_linenumber->l_partkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT count(DISTINCT l_partkey) AS nd
          FROM lineitem GROUP BY l_orderkey, l_linenumber))
SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL
SELECT * FROM c3 UNION ALL SELECT * FROM c4 UNION ALL
SELECT * FROM c5 UNION ALL SELECT * FROM c6
ORDER BY fd
"""


# ------------------------------------------------------ top-k RBO

_RBO_P = 0.9
_RBO_DEPTH = 20
# (1-p)·p^(d-1) weights as shared decimal literals
_RBO_W = [repr((1 - _RBO_P) * _RBO_P ** (d - 1)) for d in range(1, _RBO_DEPTH + 1)]


def _text_topk_rbo_eras(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("mx"))
    tok = materialize(
        d.crossJoin(F.broadcast(mx))
        .select(
            (F.col("doc_id") * 2 > F.col("mx"))
            .cast("int")
            .alias("era"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("era", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )

    def toplist(era: int) -> DataFrame:
        lst = materialize(
            tok.filter(F.col("era") == era)
            .orderBy(F.desc("cnt"), F.asc("w"))
            .limit(_RBO_DEPTH)
        )
        a = lst.select("w", "cnt")
        b = lst.select(
            F.col("w").alias("bw"), F.col("cnt").alias("bcnt")
        )
        better = (F.col("bcnt") > F.col("cnt")) | (
            (F.col("bcnt") == F.col("cnt")) & (F.col("bw") < F.col("w"))
        )
        return (
            a.join(F.broadcast(b), better, "left")
            .groupBy("w")
            .agg((F.count("bw") + 1).cast("long").alias("rk"))
        )
    ra = toplist(0).withColumnRenamed("rk", "ra")
    rb = toplist(1).withColumnRenamed("rk", "rb")
    both = ra.join(rb, "w").select(
        F.greatest("ra", "rb").alias("m")
    )
    grid = spark.range(1, _RBO_DEPTH + 1).select(
        F.col("id").cast("long").alias("dd")
    )
    ov = (
        grid.join(
            F.broadcast(both), F.col("m") <= F.col("dd"), "left"
        )
        .groupBy("dd")
        .agg(F.count("m").cast("long").alias("ov"))
    )
    wexpr = None
    for dd, wl in enumerate(_RBO_W, 1):
        term = F.when(F.col("dd") == dd, float(wl)).otherwise(0.0)
        wexpr = term if wexpr is None else wexpr + term
    scored = ov.select(
        "dd", "ov", (wexpr * F.col("ov") / F.col("dd")).alias("term")
    )
    return scored.agg(
        F.lit(_RBO_DEPTH).cast("long").alias("depth"),
        F.lit(_RBO_P).alias("p"),
        F.round(F.sum("term"), 6).alias("rbo_trunc"),
        F.max(F.when(F.col("dd") == _RBO_DEPTH, F.col("ov")))
        .cast("long")
        .alias("overlap_at_depth"),
    )


_RBO_W_CASE = " ".join(
    f"WHEN {d} THEN {w}" for d, w in enumerate(_RBO_W, 1)
)

RBO_SQL = f"""
WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
tok AS (
    SELECT CASE WHEN doc_id * 2 > mx THEN 1 ELSE 0 END AS era, w,
           count(*) AS cnt
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents), mx
    WHERE w != '' GROUP BY 1, 2),
la AS (SELECT w, cnt FROM tok WHERE era = 0
       ORDER BY cnt DESC, w LIMIT {_RBO_DEPTH}),
lb AS (SELECT w, cnt FROM tok WHERE era = 1
       ORDER BY cnt DESC, w LIMIT {_RBO_DEPTH}),
ra AS (
    SELECT a.w, 1 + count(b.w) AS ra
    FROM la a LEFT JOIN la b
      ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.w < a.w)
    GROUP BY a.w),
rb AS (
    SELECT a.w, 1 + count(b.w) AS rb
    FROM lb a LEFT JOIN lb b
      ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.w < a.w)
    GROUP BY a.w),
joint AS (
    SELECT greatest(ra.ra, rb.rb) AS m FROM ra JOIN rb USING (w)),
grid AS (SELECT CAST(i AS BIGINT) AS dd
         FROM unnest(generate_series(1, {_RBO_DEPTH})) u(i)),
ov AS (
    SELECT dd, CAST(count(m) AS BIGINT) AS ov
    FROM grid LEFT JOIN joint ON m <= dd GROUP BY dd)
SELECT CAST({_RBO_DEPTH} AS BIGINT) AS depth,
       CAST({_RBO_P} AS DOUBLE) AS p,
       round(sum((CASE dd {_RBO_W_CASE} END) * ov / dd), 6)
           AS rbo_trunc,
       CAST(max(CASE WHEN dd = {_RBO_DEPTH} THEN ov END) AS BIGINT)
           AS overlap_at_depth
FROM ov
"""


# ------------------------------------------------ source diversity


def _text_source_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = src.agg(
        F.count(F.lit(1)).cast("long").alias("rich"),
        F.sum("c").cast("long").alias("n"),
    )
    p = F.col("c") / F.col("n")
    return (
        src.crossJoin(F.broadcast(tot))
        .agg(
            F.first("rich").alias("richness"),
            F.first("n").alias("n_docs"),
            F.round(F.sum(-p * F.log(p)), 6).alias("shannon_h"),
            F.round(
                F.sum(-p * F.log(p)) / F.log(F.first("rich").cast("double")),
                6,
            ).alias("evenness"),
            F.round(1.0 - F.sum(p * p), 6).alias("simpson"),
            F.round(F.max("c") / F.first("n"), 6).alias(
                "berger_parker"
            ),
        )
    )


SOURCE_DIV_SQL = """
WITH src AS (
    SELECT source, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY source),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS rich,
           CAST(sum(c) AS BIGINT) AS n
    FROM src)
SELECT min(rich) AS richness,
       min(n) AS n_docs,
       round(sum(-(c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS shannon_h,
       round(sum(-(c * 1.0 / n) * ln(c * 1.0 / n))
             / ln(CAST(min(rich) AS DOUBLE)), 6) AS evenness,
       round(1.0 - sum((c * 1.0 / n) * (c * 1.0 / n)), 6) AS simpson,
       round(max(c) * 1.0 / min(n), 6) AS berger_parker
FROM src, tot
"""


# --------------------------------------------- growth accounting


def _orders_growth_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cm = materialize(
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .alias("mi"),
        )
        .distinct()
    )
    firsts = cm.groupBy("o_custkey").agg(F.min("mi").alias("f"))
    prev = cm.select(
        "o_custkey", (F.col("mi") + 1).alias("mi")
    )
    status = (
        cm.join(firsts, "o_custkey")
        .join(
            prev.withColumn("had_prev", F.lit(1)),
            ["o_custkey", "mi"],
            "left",
        )
        .select(
            "mi",
            F.when(F.col("mi") == F.col("f"), "new")
            .when(F.col("had_prev") == 1, "retained")
            .otherwise("resurrected")
            .alias("st"),
        )
    )
    active = status.groupBy("mi").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum((F.col("st") == "new").cast("int"))
        .cast("long")
        .alias("n_new"),
        F.sum((F.col("st") == "retained").cast("int"))
        .cast("long")
        .alias("n_retained"),
        F.sum((F.col("st") == "resurrected").cast("int"))
        .cast("long")
        .alias("n_resurrected"),
    )
    # churned INTO month m: active at m-1, absent at m
    churn = (
        cm.select("o_custkey", (F.col("mi") + 1).alias("mi"))
        .join(cm, ["o_custkey", "mi"], "left_anti")
        .groupBy("mi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    out = (
        active.join(churn, "mi", "left")
        .na.fill(0, ["n_churned"])
    )
    qr = F.when(
        F.col("n_churned") > 0,
        (F.col("n_new") + F.col("n_resurrected")) / F.col("n_churned"),
    ).otherwise(0.0)
    return out.select(
        (
            ((F.col("mi") - 1) - (F.col("mi") - 1) % 12) / 12 * 100
            + ((F.col("mi") - 1) % 12)
            + 1
        )
        .cast("long")
        .alias("yyyymm"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_churned",
        F.round(qr, 4).alias("quick_ratio"),
    ).orderBy("yyyymm")


GROWTH_SQL = """
WITH cm AS (
    SELECT DISTINCT o_custkey,
           year(o_orderdate) * 12 + month(o_orderdate) AS mi
    FROM orders),
firsts AS (SELECT o_custkey, min(mi) AS f FROM cm GROUP BY o_custkey),
status AS (
    SELECT cm.mi,
           CASE WHEN cm.mi = f THEN 'new'
                WHEN EXISTS (SELECT 1 FROM cm p
                             WHERE p.o_custkey = cm.o_custkey
                               AND p.mi = cm.mi - 1) THEN 'retained'
                ELSE 'resurrected' END AS st
    FROM cm JOIN firsts USING (o_custkey)),
active AS (
    SELECT mi,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(sum(CASE WHEN st = 'retained' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN st = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected
    FROM status GROUP BY mi),
churn AS (
    SELECT a.mi + 1 AS mi, CAST(count(*) AS BIGINT) AS n_churned
    FROM cm a
    WHERE NOT EXISTS (SELECT 1 FROM cm b
                      WHERE b.o_custkey = a.o_custkey
                        AND b.mi = a.mi + 1)
    GROUP BY a.mi + 1)
SELECT CAST(((mi - 1) // 12) * 100 + ((mi - 1) % 12) + 1 AS BIGINT)
           AS yyyymm,
       n_active, n_new, n_retained, n_resurrected,
       coalesce(n_churned, 0) AS n_churned,
       round(CASE WHEN coalesce(n_churned, 0) > 0
                  THEN (n_new + n_resurrected) * 1.0 / n_churned
                  ELSE 0.0 END, 4) AS quick_ratio
FROM active LEFT JOIN churn USING (mi)
ORDER BY yyyymm
"""


# ------------------------------------------ interarrival exp fit

_EXP_MICRO = 1_000_000


def _events_interarrival_exp_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias(
            "s"
        ),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    ia = materialize(
        ev.select(
            "user_id",
            "event_id",
            (F.col("s") - F.lag("s").over(w)).cast("long").alias("dd"),
        )
        .filter(F.col("dd") >= 1)
    )
    mom = ia.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dd").cast("long").alias("sd"),
        F.sum(
            F.col("dd").cast("decimal(38,0)")
            * F.col("dd").cast("decimal(38,0)")
        ).alias("sdd"),
    )
    ranked = global_row_number(
        ia, [F.asc("dd"), F.asc("user_id"), F.asc("event_id")],
        rank_col="rk",
    )
    nn = ia.agg(F.count(F.lit(1)).cast("long").alias("n"))
    xy = ranked.crossJoin(F.broadcast(nn)).select(
        F.col("dd").alias("x"),
        F.round(
            -F.log(1.0 - (F.col("rk") - 0.3) / (F.col("n") + 0.4))
            * _EXP_MICRO
        )
        .cast("long")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r2 = (
        (d("n") * d("sxy") - d("sx") * d("sy"))
        * (d("n") * d("sxy") - d("sx") * d("sy"))
        / (
            (d("n") * d("sxx") - d("sx") * d("sx"))
            * (d("n") * d("syy") - d("sy") * d("sy"))
        )
    )
    qq = m.select(r2.alias("qq_r2"))
    cv2 = (
        (d("n") * d("sdd") - d("sd") * d("sd"))
        / (d("n") - 1.0)
        / (d("sd") / d("n"))
        / (d("sd") / d("n"))
        / d("n")
    )
    # cv2 above = var_samp/mean² ; written as one mirrored chain
    return mom.crossJoin(F.broadcast(qq)).select(
        "n",
        F.round(F.col("sd") / F.col("n"), 4).alias("mean_gap_s"),
        F.round(3600.0 * F.col("n") / F.col("sd"), 6).alias(
            "rate_per_hour"
        ),
        F.round(cv2, 6).alias("cv2"),
        F.round("qq_r2", 6).alias("qq_r2"),
    )


EXP_FIT_SQL = f"""
WITH ev AS (
    SELECT user_id, event_id, epoch_us(ts) // 1000000 AS s
    FROM events),
ia AS (
    SELECT user_id, event_id,
           CAST(s - lag(s) OVER (PARTITION BY user_id
                                 ORDER BY s, event_id) AS BIGINT) AS dd
    FROM ev
    QUALIFY dd >= 1),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dd) AS BIGINT) AS sd,
           sum(dd * dd) AS sdd
    FROM ia),
ranked AS (
    SELECT dd, row_number() OVER (ORDER BY dd, user_id, event_id)
               AS rk
    FROM ia),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ia),
xy AS (
    SELECT dd AS x,
           CAST(round(-ln(1.0 - (rk - 0.3) / (n + 0.4))
                      * {_EXP_MICRO}, 0) AS BIGINT) AS y
    FROM ranked, nn),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
    FROM xy),
qq AS (
    SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS qq_r2
    FROM m)
SELECT n,
       round(sd * 1.0 / n, 4) AS mean_gap_s,
       round(3600.0 * n / sd, 6) AS rate_per_hour,
       round((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1.0)
             / (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS cv2,
       round(qq_r2, 6) AS qq_r2
FROM mom, qq
"""


QUERIES: dict[str, QuerySpec] = {
    "reco_holdout_hitrate": QuerySpec(_reco_holdout_hitrate, RECO_SQL),
    "dq_functional_dependencies": QuerySpec(
        _dq_functional_dependencies, FD_SQL
    ),
    "text_topk_rbo_eras": QuerySpec(_text_topk_rbo_eras, RBO_SQL),
    "text_source_diversity": QuerySpec(
        _text_source_diversity, SOURCE_DIV_SQL
    ),
    "orders_growth_accounting": QuerySpec(
        _orders_growth_accounting, GROWTH_SQL
    ),
    "events_interarrival_exp_fit": QuerySpec(
        _events_interarrival_exp_fit, EXP_FIT_SQL
    ),
}
