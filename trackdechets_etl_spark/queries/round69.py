"""Round-9 additions, fourteenth batch: stochastic inventory, AR-order
identification, optimal-transport drift, time-series backtesting, and
tokenizer sizing.

- ``orders_newsvendor_stock``: the newsvendor solution per order
  priority — optimal stock = the smallest daily order count whose
  exact CDF reaches the critical ratio 0.8 (underage 4 : overage 1,
  literal), plus the expected daily over/underage at that level. The
  count-distribution CDF lives on a bounded distinct-value frame
  (window-free cumulative via bounded self-join).
- ``events_pacf_lags``: partial autocorrelation of the daily count
  series at lags 1–3 via the closed Durbin–Levinson recursion on
  r₁..r₃ (lagged equi-joins on the calendar frame — no window). The
  AR-order identification companion to ``events_daily_autocorr``:
  PACF cutting off after lag p is the AR(p) signature.
- ``orders_wasserstein_price_eras``: Wasserstein-1 (earth-mover)
  distance between the two eras' order-price distributions on a fixed
  50-bin grid — W₁ = Σ|CDF_A − CDF_B|·Δ. Completes the drift-metric
  family (PSI weights density ratios, KS takes the sup, JS is
  entropy-based; W₁ is the only one in PRICE UNITS — "the
  distribution moved $X").
- ``orders_ar1_backtest``: AR(1) one-step backtest on daily revenue —
  Yule–Walker φ from the FIRST 80% of the calendar (date split
  derived from min/max, no ranks), one-step forecasts on the held-out
  tail, MAE vs the naive carry-forward baseline. A φ that can't beat
  naive MAE means the series is a random walk at this grain.
- ``text_tokenizer_fertility``: tokenizer fertility (chars per
  whitespace token) and tokens per doc by language — the
  tokenizer-budget planning numbers: fertility differences across
  languages are why a shared BPE vocabulary under-serves some of
  them.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 fourteenth batch; invariant
tests in tests/test_round69.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize


# ------------------------------------------------ newsvendor stock

_NV_CR_NUM = 8  # critical ratio 0.8 = 8/10
_NV_CR_DEN = 10


def _orders_newsvendor_stock(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", F.col("o_orderdate").alias("dd"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    dist = daily.groupBy(
        F.col("o_orderpriority").alias("prio"), "c"
    ).agg(F.count(F.lit(1)).cast("long").alias("f"))
    tot = dist.groupBy("prio").agg(
        F.sum("f").cast("long").alias("n"),
        F.sum(F.col("f") * F.col("c")).cast("long").alias("sd"),
    )
    a = dist.select(
        F.col("prio").alias("p2"),
        F.col("c").alias("c2"),
        F.col("f").alias("f2"),
    )
    cum = (
        dist.join(
            a,
            (F.col("prio") == F.col("p2")) & (F.col("c2") <= F.col("c")),
        )
        .groupBy("prio", "c", "f")
        .agg(F.sum("f2").cast("long").alias("cum"))
    )
    # smallest c with cum·DEN >= NUM·n (integer cross-multiplied CDF)
    stock = (
        cum.join(F.broadcast(tot), "prio")
        .filter(
            F.col("cum") * _NV_CR_DEN >= F.lit(_NV_CR_NUM) * F.col("n")
        )
        .groupBy("prio")
        .agg(F.min("c").cast("long").alias("stock"))
    )
    costs = (
        daily.join(
            F.broadcast(stock),
            daily.o_orderpriority == stock.prio,
        )
        .groupBy("prio", "stock")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.greatest(F.col("stock") - F.col("c"), F.lit(0)))
            .cast("long")
            .alias("overage"),
            F.sum(F.greatest(F.col("c") - F.col("stock"), F.lit(0)))
            .cast("long")
            .alias("underage"),
        )
    )
    return costs.select(
        F.col("prio").alias("o_orderpriority"),
        "stock",
        "n_days",
        F.round(F.col("overage") / F.col("n_days"), 4).alias(
            "mean_overage"
        ),
        F.round(F.col("underage") / F.col("n_days"), 4).alias(
            "mean_underage"
        ),
    ).orderBy("o_orderpriority")


NEWSVENDOR_SQL = f"""
WITH daily AS (
    SELECT o_orderpriority AS prio, o_orderdate AS dd,
           CAST(count(*) AS BIGINT) AS c
    FROM orders GROUP BY 1, 2),
dist AS (
    SELECT prio, c, CAST(count(*) AS BIGINT) AS f
    FROM daily GROUP BY prio, c),
tot AS (
    SELECT prio, CAST(sum(f) AS BIGINT) AS n FROM dist GROUP BY prio),
cum AS (
    SELECT a.prio, a.c, CAST(sum(b.f) AS BIGINT) AS cum
    FROM dist a JOIN dist b ON a.prio = b.prio AND b.c <= a.c
    GROUP BY a.prio, a.c),
stock AS (
    SELECT cum.prio, CAST(min(c) AS BIGINT) AS stock
    FROM cum JOIN tot USING (prio)
    WHERE cum * {_NV_CR_DEN} >= {_NV_CR_NUM} * n
    GROUP BY cum.prio),
costs AS (
    SELECT daily.prio, stock,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(greatest(stock - c, 0)) AS BIGINT) AS overage,
           CAST(sum(greatest(c - stock, 0)) AS BIGINT) AS underage
    FROM daily JOIN stock USING (prio)
    GROUP BY daily.prio, stock)
SELECT prio AS o_orderpriority, stock, n_days,
       round(overage * 1.0 / n_days, 4) AS mean_overage,
       round(underage * 1.0 / n_days, 4) AS mean_underage
FROM costs ORDER BY o_orderpriority
"""


# ------------------------------------------------------ PACF


def _events_pacf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = materialize(
        read_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("dd"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    dm = daily.crossJoin(F.broadcast(mom)).select(
        "dd", (F.col("c") - F.col("s") / F.col("n")).alias("d")
    )
    den = dm.agg(F.sum(F.col("d") * F.col("d")).alias("v0"))

    def rk(k: int) -> DataFrame:
        lag = dm.select(
            F.date_add("dd", k).alias("dd"), F.col("d").alias("dl")
        )
        return (
            dm.join(lag, "dd")
            .crossJoin(F.broadcast(den))
            .agg(
                (F.sum(F.col("d") * F.col("dl")) / F.first("v0")).alias(
                    f"r{k}"
                )
            )
        )

    j = (
        rk(1)
        .crossJoin(F.broadcast(rk(2)))
        .crossJoin(F.broadcast(rk(3)))
        .crossJoin(F.broadcast(mom))
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    p21 = r1 * (1.0 - p22)
    p33 = (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2)
    return j.select(
        F.col("n").alias("n_days"),
        F.round(r1, 6).alias("acf1"),
        F.round(r2, 6).alias("acf2"),
        F.round(r3, 6).alias("acf3"),
        F.round(r1, 6).alias("pacf1"),
        F.round(p22, 6).alias("pacf2"),
        F.round(p33, 6).alias("pacf3"),
    )


PACF_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS dd, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
    FROM daily),
dm AS (
    SELECT dd, c - s * 1.0 / n AS d FROM daily, mom),
den AS (SELECT sum(d * d) AS v0 FROM dm),
r1t AS (
    SELECT sum(a.d * b.d) / min(v0) AS r1
    FROM dm a JOIN dm b ON a.dd = b.dd + INTERVAL 1 DAY, den),
r2t AS (
    SELECT sum(a.d * b.d) / min(v0) AS r2
    FROM dm a JOIN dm b ON a.dd = b.dd + INTERVAL 2 DAY, den),
r3t AS (
    SELECT sum(a.d * b.d) / min(v0) AS r3
    FROM dm a JOIN dm b ON a.dd = b.dd + INTERVAL 3 DAY, den),
x AS (SELECT n, r1, r2, r3 FROM mom, r1t, r2t, r3t),
y AS (
    SELECT *,
           (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
    FROM x),
z AS (
    SELECT *, r1 * (1.0 - p22) AS p21 FROM y)
SELECT n AS n_days,
       round(r1, 6) AS acf1, round(r2, 6) AS acf2,
       round(r3, 6) AS acf3,
       round(r1, 6) AS pacf1,
       round(p22, 6) AS pacf2,
       round((r3 - p21 * r2 - p22 * r1)
             / (1.0 - p21 * r1 - p22 * r2), 6) AS pacf3
FROM z
"""


# -------------------------------------------- Wasserstein drift

_W1_BIN_CENTS = 1_000_000
_W1_MAX_BIN = 49


def _orders_wasserstein_price_eras(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # era split at the calendar midpoint — pure integer date
    # arithmetic (no epoch/timezone path)
    split = o.agg(
        F.date_add(
            F.min("o_orderdate"),
            (
                F.floor(
                    F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
                    / 2
                )
            ).cast("int"),
        ).alias("mid")
    )
    cents = F.col("cents")
    binned = (
        o.crossJoin(F.broadcast(split))
        .select(
            (F.col("o_orderdate") < F.col("mid"))
            .cast("int")
            .alias("era_a"),
            F.least(
                ((cents - cents % _W1_BIN_CENTS) / _W1_BIN_CENTS).cast(
                    "long"
                ),
                F.lit(_W1_MAX_BIN),
            ).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum("era_a").cast("long").alias("na"),
            F.sum(1 - F.col("era_a")).cast("long").alias("nb"),
        )
    )
    tot = binned.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
    )
    b2 = binned.select(
        F.col("bin").alias("b2"),
        F.col("na").alias("na2"),
        F.col("nb").alias("nb2"),
    )
    cum = (
        binned.join(F.broadcast(b2), F.col("b2") <= F.col("bin"))
        .groupBy("bin")
        .agg(
            F.sum("na2").cast("long").alias("ca"),
            F.sum("nb2").cast("long").alias("cb"),
        )
    )
    gap = cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.abs(
            F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb")
        ).alias("g"),
    )
    return gap.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        # Δ = bin width in price units (cents/100)
        F.round(
            F.sum("g") * (_W1_BIN_CENTS / 100.0), 4
        ).alias("wasserstein_1"),
        F.round(F.max("g"), 6).alias("ks_sup_gap"),
    )


WASSERSTEIN_SQL = f"""
WITH o AS (
    SELECT o_orderdate,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders),
split AS (
    SELECT min(o_orderdate)
           + CAST(floor(date_diff('day', min(o_orderdate),
                                  max(o_orderdate)) / 2) AS INT)
             * INTERVAL 1 DAY AS mid
    FROM o),
binned AS (
    SELECT least(cents // {_W1_BIN_CENTS}, {_W1_MAX_BIN}) AS bin,
           CAST(sum(CASE WHEN o_orderdate < mid THEN 1 ELSE 0 END)
                AS BIGINT) AS na,
           CAST(sum(CASE WHEN o_orderdate < mid THEN 0 ELSE 1 END)
                AS BIGINT) AS nb
    FROM o, split GROUP BY 1),
tot AS (
    SELECT CAST(sum(na) AS BIGINT) AS ta,
           CAST(sum(nb) AS BIGINT) AS tb
    FROM binned),
cum AS (
    SELECT a.bin, CAST(sum(b.na) AS BIGINT) AS ca,
           CAST(sum(b.nb) AS BIGINT) AS cb
    FROM binned a JOIN binned b ON b.bin <= a.bin
    GROUP BY a.bin),
gap AS (
    SELECT bin, abs(ca * 1.0 / ta - cb * 1.0 / tb) AS g
    FROM cum, tot)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       round(sum(g) * ({_W1_BIN_CENTS} / 100.0), 4) AS wasserstein_1,
       round(max(g), 6) AS ks_sup_gap
FROM gap
"""


# ------------------------------------------------ AR(1) backtest


def _orders_ar1_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = materialize(
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("dd"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
    )
    # date split at 80% of the calendar span — no ranks, no window
    span = daily.agg(
        F.min("dd").alias("lo"),
        F.max("dd").alias("hi"),
    ).select(
        F.date_add(
            "lo",
            F.floor(F.datediff("hi", "lo") * 0.8).cast("int"),
        ).alias("cut")
    )
    d2 = daily.crossJoin(F.broadcast(span))
    train = d2.filter(F.col("dd") < F.col("cut"))
    mom = train.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("long").alias("s"),
    )
    tm = train.crossJoin(F.broadcast(mom)).select(
        "dd", (F.col("rev") - F.col("s") / F.col("n")).alias("d")
    )
    lag = tm.select(
        F.date_add("dd", 1).alias("dd"), F.col("d").alias("dl")
    )
    phi_f = (
        tm.join(lag, "dd")
        .crossJoin(F.broadcast(tm.agg(F.sum(F.col("d") * F.col("d")).alias("v0"))))
        .agg((F.sum(F.col("d") * F.col("dl")) / F.first("v0")).alias("phi"))
    )
    prev = daily.select(
        F.date_add("dd", 1).alias("dd"), F.col("rev").alias("prev_rev")
    )
    test = (
        d2.filter(F.col("dd") >= F.col("cut"))
        .join(prev, "dd")
        .crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(phi_f))
    )
    mean = F.col("s") / F.col("n")
    pred = mean + F.col("phi") * (F.col("prev_rev") - mean)
    return test.agg(
        F.first("n").alias("n_train_days"),
        F.count(F.lit(1)).cast("long").alias("n_test_days"),
        F.round(F.first("phi"), 6).alias("phi"),
        F.round(
            F.avg(F.abs(F.col("rev") - pred)) / 100.0, 4
        ).alias("mae_ar1"),
        F.round(
            F.avg(
                F.abs(F.col("rev") - F.col("prev_rev")).cast("double")
            )
            / 100.0,
            4,
        ).alias("mae_naive"),
    )


AR1_SQL = """
WITH daily AS (
    SELECT o_orderdate AS dd,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS rev
    FROM orders GROUP BY 1),
span AS (
    SELECT min(dd) + CAST(floor(date_diff('day', min(dd), max(dd))
                                * 0.8) AS INT) * INTERVAL 1 DAY AS cut
    FROM daily),
train AS (SELECT dd, rev FROM daily, span WHERE dd < cut),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s
    FROM train),
tm AS (SELECT dd, rev - s * 1.0 / n AS d FROM train, mom),
v0t AS (SELECT sum(d * d) AS v0 FROM tm),
phi_f AS (
    SELECT sum(a.d * b.d) / min(v0) AS phi
    FROM tm a JOIN tm b ON a.dd = b.dd + INTERVAL 1 DAY, v0t),
test AS (
    SELECT d1.dd, d1.rev, p.rev AS prev_rev
    FROM daily d1
    JOIN daily p ON d1.dd = p.dd + INTERVAL 1 DAY, span
    WHERE d1.dd >= cut)
SELECT min(n) AS n_train_days,
       CAST(count(*) AS BIGINT) AS n_test_days,
       round(min(phi), 6) AS phi,
       round(avg(abs(rev - (s * 1.0 / n
                            + phi * (prev_rev - s * 1.0 / n))))
             / 100.0, 4) AS mae_ar1,
       round(avg(abs(rev - prev_rev) * 1.0) / 100.0, 4) AS mae_naive
FROM test, mom, phi_f
"""


# ------------------------------------------- tokenizer fertility


def _text_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("long").alias("nc"),
        F.size(F.split("text", " ")).cast("long").alias("nt"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("total_chars"),
            F.sum("nt").cast("long").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_tokens",
            F.round(
                F.col("total_chars") / F.col("total_tokens"), 4
            ).alias("fertility_chars_per_tok"),
            F.round(F.col("total_tokens") / F.col("n_docs"), 4).alias(
                "mean_tokens_per_doc"
            ),
        )
        .orderBy("lang")
    )


FERTILITY_SQL = """
WITH d AS (
    SELECT lang, CAST(n_chars AS BIGINT) AS nc,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
    FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS total_chars,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       round(sum(nc) * 1.0 / sum(nt), 4) AS fertility_chars_per_tok,
       round(sum(nt) * 1.0 / count(*), 4) AS mean_tokens_per_doc
FROM d GROUP BY lang ORDER BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "orders_newsvendor_stock": QuerySpec(
        _orders_newsvendor_stock, NEWSVENDOR_SQL
    ),
    "events_pacf_lags": QuerySpec(_events_pacf_lags, PACF_SQL),
    "orders_wasserstein_price_eras": QuerySpec(
        _orders_wasserstein_price_eras, WASSERSTEIN_SQL
    ),
    "orders_ar1_backtest": QuerySpec(_orders_ar1_backtest, AR1_SQL),
    "text_tokenizer_fertility": QuerySpec(
        _text_tokenizer_fertility, FERTILITY_SQL
    ),
}
