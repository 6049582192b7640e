"""ML-preparation and data-governance operators: the profiling, quality-
gate, feature-engineering, and graph-analytics steps that sit between raw
warehouse tables (the reference pipeline's output schema,
course_catalog_database.sql) and a training job's input.

All float-producing operators follow the engine-determinism discipline of
functions/exact.py: sums happen in exact integers (long cents / micro
units), single divisions and sqrt happen once in a canonical textual
order both engines share, so every query here is oracle-hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ub_etl_spark.functions.exact import cents, sql_cents
from ub_etl_spark.registry import register
from ub_etl_spark.session import tracked_persist
from ub_etl_spark.sources.tables import load_table as T


# ---------------------------------------------------------------------------
# Table profiling
# ---------------------------------------------------------------------------

# (column, kind) pairs drive both the Spark aggregate and the oracle UNION.
# kind picks the numeric min/max representation: numeric columns cast to
# double, timestamps to epoch seconds, strings profile their lengths
# (a string min/max would hash engine collation differences; lengths are
# collation-free).
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
        elif kind == "ts":
            mn = f"CAST(DATE_PART('epoch', MIN({col})) AS DOUBLE)"
            mx = f"CAST(DATE_PART('epoch', MAX({col})) AS DOUBLE)"
        else:
            mn = f"CAST(MIN(LENGTH({col})) AS DOUBLE)"
            mx = f"CAST(MAX(LENGTH({col})) AS DOUBLE)"
        parts.append(
            f"SELECT '{col}' AS col_name, COUNT(*) AS n_rows,"
            f" COUNT(*) - COUNT({col}) AS n_nulls,"
            f" COUNT(DISTINCT {col}) AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num FROM orders"
        )
    return " UNION ALL ".join(parts)


@register("profile_table_stats", tier="B", oracle=_profile_oracle())
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (the ANALYZE/data-catalog primitive): row
    count, null count, exact distinct count, numeric min/max per column,
    as one union of per-column single-distinct aggregates (see inline
    note — the tempting fused multi-countDistinct plans an Expand and
    measured 94x the oracle; this shape measured ~3x faster).  Strings
    profile their lengths (collation-free), timestamps their epoch
    seconds.  At 100 TB swap COUNT(DISTINCT) for approx_count_distinct
    per column — all columns then fuse into ONE pass with bounded memory
    (the exact form is the oracle-checkable variant)."""
    o = T(spark, sf_dir, "orders")
    # One UNION branch per column, each a single-distinct aggregate over
    # a column-pruned scan.  The tempting single-pass multi-countDistinct
    # plans an Expand (xN row amplification into one multi-distinct agg)
    # and measured 94x the oracle at sf0.1; a melt-to-string variant
    # halves that but pays string hashing on every cell.  N independent
    # single-distinct aggs keep partial-distinct map-side combine per
    # column, schedule as parallel stages, and carry min/max/counts in
    # the same branch for free.
    branches = []
    for col, kind in _PROFILE_COLS:
        c = F.col(col)
        if kind == "num":
            mn, mx = F.min(c).cast("double"), F.max(c).cast("double")
        elif kind == "ts":
            # TIMESTAMP_NTZ casts to long only via TIMESTAMP; the session
            # timezone is pinned UTC so the epoch matches the oracle's
            mn = F.min(c).cast("timestamp").cast("long").cast("double")
            mx = F.max(c).cast("timestamp").cast("long").cast("double")
        else:
            mn = F.min(F.length(c)).cast("double")
            mx = F.max(F.length(c)).cast("double")
        branches.append(
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                mn.alias("min_num"),
                mx.alias("max_num"),
            ).select(
                F.lit(col).alias("col_name"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                "min_num",
                "max_num",
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# ---------------------------------------------------------------------------
# Data-quality expectation checks
# ---------------------------------------------------------------------------


@register(
    "dq_expectation_checks",
    tier="B",
    oracle="""
    SELECT 'totalprice_positive' AS rule,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orderdate_not_null',
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'status_in_domain',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'custkey_fk_resolves', COUNT(*)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_ships_after_order', COUNT(*)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    """,
)
def dq_expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (the expectations/contract step a
    training pipeline runs before consuming a table): per-rule violation
    counts.  The three single-table rules fuse into ONE conditional
    aggregate over one orders scan; the FK rule is a LEFT ANTI join
    count; the cross-table temporal rule counts over the lineitem-orders
    join's single shuffle.  Output is tiny (one row per rule) so the
    final union is free; a zero row means the expectation holds."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    li = T(spark, sf_dir, "lineitem")
    single = o.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "totalprice_positive"
        ),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias(
            "orderdate_not_null"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("status_in_domain"),
    ).selectExpr(
        "stack(3, 'totalprice_positive', totalprice_positive,"
        " 'orderdate_not_null', orderdate_not_null,"
        " 'status_in_domain', status_in_domain) AS (rule, n_violations)"
    )
    fk = (
        o.join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("custkey_fk_resolves").alias("rule"), "n_violations")
    )
    temporal = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("lineitem_ships_after_order").alias("rule"), "n_violations")
    )
    return single.unionByName(fk).unionByName(temporal)


# ---------------------------------------------------------------------------
# Feature scaling (z-score + min-max) from exact power sums
# ---------------------------------------------------------------------------

_SCALE_STATS_SQL = f"""
      SELECT c_mktsegment AS seg, COUNT(c_acctbal) AS n,
             SUM({sql_cents("c_acctbal")}) AS s1,
             SUM({sql_cents("c_acctbal")} * {sql_cents("c_acctbal")}) AS s2,
             MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx
      FROM customer GROUP BY c_mktsegment
"""


@register(
    "feature_scale_standard",
    tier="B",
    oracle=f"""
    WITH stats AS ({_SCALE_STATS_SQL})
    SELECT c.c_custkey, c.c_mktsegment,
           ({sql_cents("c.c_acctbal")} / 100.0
              - (st.s1 / 100.0 / st.n))
             / SQRT((st.n * st.s2 - st.s1 * st.s1)
                      / (st.n * (st.n - 1.0)) / 10000.0) AS zscore,
           ({sql_cents("c.c_acctbal")} - {sql_cents("st.mn")}) * 1.0
             / ({sql_cents("st.mx")} - {sql_cents("st.mn")}) AS minmax
    FROM customer c JOIN stats st ON c.c_mktsegment = st.seg
    """,
)
def feature_scale_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization (z-score + min-max of account
    balance within market segment) — the scaler step of a feature
    pipeline, with mean/std derived from EXACT integer power sums
    (n, Σcents, Σcents²) so the statistics are identical across engines
    and partitionings (built-in stddev sums doubles and is neither).
    The per-segment stats are a tiny aggregate broadcast back into the
    row stream — one scan + one map-side-combined agg, no window over
    the full table.  Sample std; min-max in pure integer cents."""
    c = T(spark, sf_dir, "customer")
    cc = cents("c_acctbal")
    stats = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("c_acctbal").alias("n"),
        F.sum(cc).alias("s1"),
        F.sum(cc * cc).alias("s2"),
        F.min("c_acctbal").alias("mn"),
        F.max("c_acctbal").alias("mx"),
    )
    mean = F.col("s1") / 100.0 / F.col("n")
    std = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
        / (F.col("n") * (F.col("n") - 1.0))
        / 10000.0
    )
    return (
        c.join(F.broadcast(stats), c.c_mktsegment == F.col("seg"))
        .select(
            "c_custkey",
            "c_mktsegment",
            ((cc / 100.0 - mean) / std).alias("zscore"),
            (
                (cc - cents("mn")) * 1.0 / (cents("mx") - cents("mn"))
            ).alias("minmax"),
        )
    )


# ---------------------------------------------------------------------------
# One-hot encoding
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register(
    "feature_onehot_encode",
    tier="B",
    oracle="SELECT c_custkey, "
    + ", ".join(
        f"CASE WHEN c_mktsegment = '{s}' THEN 1 ELSE 0 END AS is_{s.lower()}"
        for s in _SEGMENTS
    )
    + ", CASE WHEN c_mktsegment IN ("
    + ", ".join(f"'{s}'" for s in _SEGMENTS)
    + ") THEN 0 ELSE 1 END AS is_other FROM customer",
)
def feature_onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot categorical encoding against a FIXED vocabulary (the
    stable-schema variant a training pipeline needs — pivot-on-observed-
    values would change output schema when a category vanishes from a
    batch).  Unknown categories fold into is_other rather than erroring,
    so schema drift upstream degrades gracefully.  Pure projection: zero
    shuffles, fully codegen, trivially 100 TB-safe."""
    c = T(spark, sf_dir, "customer")
    cols = [
        F.when(F.col("c_mktsegment") == s, 1).otherwise(0).alias(f"is_{s.lower()}")
        for s in _SEGMENTS
    ]
    other = (
        F.when(F.col("c_mktsegment").isin(_SEGMENTS), 0).otherwise(1).alias("is_other")
    )
    return c.select("c_custkey", *cols, other)


# ---------------------------------------------------------------------------
# Exponential-decay rolling feature
# ---------------------------------------------------------------------------


@register(
    "feature_decay_rolling",
    tier="B",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             {sql_cents("value")} AS v0,
             LAG({sql_cents("value")}, 1) OVER w AS v1,
             LAG({sql_cents("value")}, 2) OVER w AS v2,
             LAG({sql_cents("value")}, 3) OVER w AS v3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           (v0 + 0.5 * COALESCE(v1, 0) + 0.25 * COALESCE(v2, 0)
              + 0.125 * COALESCE(v3, 0))
             / (1.0 + 0.5 * (CASE WHEN v1 IS NULL THEN 0 ELSE 1 END)
                  + 0.25 * (CASE WHEN v2 IS NULL THEN 0 ELSE 1 END)
                  + 0.125 * (CASE WHEN v3 IS NULL THEN 0 ELSE 1 END))
             / 100.0 AS decay_avg
    FROM seq
    """,
)
def feature_decay_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay rolling average per user (the recency-weighted
    activity feature): weights 1, 1/2, 1/4, 1/8 over the last 4 events,
    renormalized over the lags that exist.  A true infinite-horizon EWMA
    is a sequential recurrence (non-associative — it needs a stateful
    pass); the truncated form is expressible as pure LAG arithmetic:
    one window sort per user partition, zero extra shuffles beyond the
    user_id exchange, and bit-identical across engines because the
    lagged values are integer cents and the weight polynomial is one
    canonical float expression.  Ties broken by event_id so the lag
    sequence is total-ordered."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v0 = cents("value")
    lags = {k: F.lag(v0, k).over(w) for k in (1, 2, 3)}
    weights = {1: 0.5, 2: 0.25, 3: 0.125}
    num = v0 + sum(weights[k] * F.coalesce(lags[k], F.lit(0)) for k in (1, 2, 3))
    den = F.lit(1.0) + sum(
        weights[k] * F.when(lags[k].isNull(), 0).otherwise(1) for k in (1, 2, 3)
    )
    return e.select(
        "user_id", "event_id", (num / den / 100.0).alias("decay_avg")
    )


# ---------------------------------------------------------------------------
# Deterministic per-group reservoir sample
# ---------------------------------------------------------------------------


@register(
    "sample_reservoir_hash",
    tier="B",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM (
      SELECT c_custkey, c_mktsegment,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY (c_custkey * 2654435761) % 1000003, c_custkey
             ) AS rn
      FROM customer
    ) WHERE rn <= 20
    """,
)
def sample_reservoir_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k-per-group sample (reservoir semantics
    without reservoir state): rank rows inside each group by a keyed
    pseudo-random permutation and keep the first k — reproducible across
    runs, engines, and partitionings, unlike rand()-based sampling.  The
    permutation is Knuth's multiplicative hash in plain integer
    arithmetic ((key * 2654435761) mod 1000003) so BOTH engines rank
    identically and the sample itself is value-hash-checked (engine
    built-in hashes differ and would only permit a structural check).
    The window's top-k filter is rank-limited, so Spark plans it as a
    partial top-k per partition before the single group shuffle (no full
    sort of the table)."""
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        (F.col("c_custkey") * 2654435761) % 1000003,
        "c_custkey",
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("c_custkey", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------


@register(
    "privacy_k_anonymity",
    tier="B",
    oracle="""
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    HAVING COUNT(*) < 10
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation x market
    segment): every returned group identifies fewer than k=10 individuals
    and therefore needs suppression or generalization before release —
    the privacy gate a training-data export runs.  One map-side-combined
    aggregate; the HAVING prunes to the rare risky groups so the output
    is small even when the input isn't."""
    c = T(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 10)
    )


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph
# ---------------------------------------------------------------------------

_PR_ITERS = 5


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs.  Ranks live in
    integer micro-units (1e-12) end-to-end: each contribution floors a
    single long x double product (no a + b*c — DuckDB fuses that into an
    FMA with single rounding, 1 ulp off the JVM's separately-rounded
    ops), damping is integer (x * 85) // 100, and the only float
    division is the final presentation cast."""
    edges = f"""
    nodes AS (SELECT n_nationkey AS node FROM nation),
    raw_edges AS (
      SELECT cn.c_nationkey AS src, sn.s_nationkey AS dst,
             SUM({sql_cents("l.l_extendedprice")}) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer cn ON o.o_custkey = cn.c_custkey
      JOIN supplier sn ON l.l_suppkey = sn.s_suppkey
      GROUP BY cn.c_nationkey, sn.s_nationkey
    ),
    edges AS (
      SELECT src, dst, w * 1.0 / SUM(w) OVER (PARTITION BY src) AS p
      FROM raw_edges
    ),
    r0 AS (
      SELECT node,
             1000000000000 // (SELECT COUNT(*) FROM nodes) AS rank_u
      FROM nodes
    )
    """
    base_u = "(1000000000000 * 15) // (100 * (SELECT COUNT(*) FROM nodes))"
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(f"""
    r{i} AS (
      SELECT n.node,
             {base_u} + (COALESCE(c.s, 0) * 85) // 100 AS rank_u
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node,
               SUM(CAST(FLOOR(r.rank_u * e.p) AS BIGINT)) AS s
        FROM edges e JOIN r{i - 1} r ON e.src = r.node
        GROUP BY e.dst
      ) c ON n.node = c.node
    )""")
    return (
        "WITH " + edges + "," + ",".join(steps)
        + f" SELECT node AS n_nationkey,"
        f" rank_u / 1000000000000.0 AS pagerank FROM r{_PR_ITERS}"
    )


@register(
    "graph_pagerank_trade",
    tier="B",
    oracle=_pagerank_oracle(),
    cost_note=(
        "5 fixed power iterations = 5 chained Spark jobs over a 25-node "
        "graph: cost is iterations x per-job floor at bench scale; the "
        "join+agg dataflow per iteration is the GraphX/Pregel scale shape and "
        "the edge list is persisted"
    ),
    ratio_exception=True,
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation-level trade graph (edge weight =
    exact revenue customer-nation -> supplier-nation), 5 fixed power
    iterations, damping 0.85 — the iterative-graph-algorithm family on
    pure DataFrame ops.  Each iteration is one join + one aggregate on
    the edge list.  Ranks are integer micro-units (1e-12) throughout:
    contributions floor a single long x double product and the damping
    is integer (x * 85) div 100, so every iteration is exactly
    order-independent AND engine-independent (a float a + 0.85*x update
    hash-diverges — DuckDB emits an FMA, the JVM rounds twice).  The
    node set here is tiny but nothing in the plan depends on that: at a
    billion-node graph the same join/agg iteration is the scale shape
    (GraphX/Pregel runs the same dataflow), ranks never collect to the
    driver, and the edge build is the only fact-table pass (the edge
    list is persisted so the 5 iterations reuse it instead of re-running
    the scan)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    cn = T(spark, sf_dir, "customer")
    sn = T(spark, sf_dir, "supplier")
    nodes = T(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(sn.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.sum(cents("l_extendedprice")).alias("w"))
    )
    wsrc = Window.partitionBy("src")
    # persist the edge list: every power iteration joins it again, and
    # without the cache each iteration's lineage would re-run the fact
    # scan + three joins (5 iterations = 5 fact passes at 100 TB).
    # tracked_persist: each call persists its own edge list, which the
    # harness frees with release_persisted(), so every sample runs the
    # same persisted plan.
    edges = tracked_persist(
        raw.select("src", "dst", (F.col("w") * 1.0 / F.sum("w").over(wsrc)).alias("p"))
    )
    n_nodes = nodes.count()  # node-count scalar: one tiny dim count
    base_u = (1_000_000_000_000 * 15) // (100 * n_nodes)
    ranks = nodes.select(
        "node", F.lit(1_000_000_000_000 // n_nodes).alias("rank_u")
    )
    for _ in range(_PR_ITERS):
        # r15 MEASURED NON-CHANGE: explicit F.broadcast() hints on ranks
        # (into the edge join) and contrib (into the node join) read
        # 4.18 s min-of-3 vs the unhinted form's ~1.0-1.6 s — ten
        # chained BroadcastExchange builds serialize on the driver,
        # while AQE already converts these SMJs to broadcast joins at
        # runtime from the REAL sizes (the static plan shows SMJ; the
        # executed plan does not).  Hints rejected with data (guide
        # §3.1 applies to sides the optimizer cannot size at runtime;
        # AQE can size these).
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy(F.col("dst").alias("cnode"))
            .agg(
                F.sum(
                    F.floor(F.col("rank_u") * F.col("p")).cast("long")
                ).alias("s")
            )
        )
        ranks = nodes.join(contrib, nodes.node == F.col("cnode"), "left_outer").select(
            "node",
            (
                F.lit(base_u)
                + F.expr("(COALESCE(s, CAST(0 AS BIGINT)) * 85) div 100")
            ).alias("rank_u"),
        )
    return ranks.select(
        F.col("node").alias("n_nationkey"),
        (F.col("rank_u") / 1e12).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) precomputed as Python double literals: both engines get
# the SAME 64-bit constants (a runtime LOG10 would be evaluated by two
# different libm implementations).
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


@register(
    "agg_benford_first_digit",
    tier="B",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST({sql_cents("o_totalprice")} AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders
    ), counted AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT SUM(n) AS t FROM counted)
    SELECT digit, n,
           CAST(n AS DOUBLE) / t AS observed_p,
           CASE digit {' '.join(f'WHEN {d} THEN CAST({p!r} AS DOUBLE)' for d, p in _BENFORD_P.items())} END
             AS benford_p,
           CAST(n AS DOUBLE) / t
             - CASE digit {' '.join(f'WHEN {d} THEN CAST({p!r} AS DOUBLE)' for d, p in _BENFORD_P.items())} END
             AS deviation
    FROM counted, tot
    ORDER BY digit
    """,
)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    data-quality / fraud screen (synthetic or fabricated numeric columns
    diverge from log10(1+1/d)).  The first digit comes from the CENTS
    integer rendered as a string (substr of an integer is engine-identical;
    floor(log10(x)) float paths are not, near powers of ten).  One
    map-side-combined 9-group aggregate; the total joins back as a 1-row
    broadcast (AQE).  Expected probabilities are Python-precomputed double
    literals injected into BOTH plans, so observed-expected deviation is
    bit-identical.  Scale: shuffle carries 9 rows regardless of input."""
    o = T(spark, sf_dir, "orders")
    counted = (
        o.select(
            F.substring(cents("o_totalprice").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counted.agg(F.sum("n").alias("t"))
    benford = F.lit(None).cast("double")
    for d, p in reversed(_BENFORD_P.items()):
        benford = F.when(F.col("digit") == d, F.lit(p)).otherwise(benford)
    obs = F.col("n").cast("double") / F.col("t")
    return (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            obs.alias("observed_p"),
            benford.alias("benford_p"),
            (obs - benford).alias("deviation"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Smoothed target encoding
# ---------------------------------------------------------------------------

_TE_SMOOTH = 20  # pseudo-observations pulled toward the global prior


@register(
    "feature_target_encode",
    tier="B",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_mktsegment, {sql_cents("o.o_totalprice")} AS sp
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), seg AS (
      SELECT c_mktsegment, COUNT(*) AS n, SUM(sp) AS s FROM spend
      GROUP BY c_mktsegment
    ), g AS (SELECT SUM(n) AS gn, SUM(s) AS gs FROM seg)
    SELECT c_mktsegment, n,
           CAST(s AS DOUBLE) / n / 100.0 AS segment_mean,
           (CAST(s AS DOUBLE) + {_TE_SMOOTH} * (CAST(gs AS DOUBLE) / gn))
             / (n + {_TE_SMOOTH}) / 100.0 AS encoded
    FROM seg, g
    ORDER BY c_mktsegment
    """,
)
def feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding of a categorical feature (market
    segment -> average order value), the standard high-cardinality
    categorical encoder: encoded = (sum + m*prior) / (n + m) shrinks rare
    categories toward the global mean.  Sums are exact long cents; the
    global prior is ONE double division (gs/gn) shared textually by both
    engines, and the smoothed value divides once more in the same
    canonical order — no a + b*c float site (FMA hazard).  The customer
    dim broadcasts into the fact join; the segment aggregate shuffles
    |segments| rows and the global prior joins back as a 1-row broadcast.
    Scale: identical shape at 100 TB — the encoder state is |categories|
    rows however large the fact is."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    spend = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", cents("o_totalprice").alias("sp")
    )
    seg = spend.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("sp").alias("s")
    )
    g = seg.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    prior = F.col("gs").cast("double") / F.col("gn")
    return (
        seg.crossJoin(F.broadcast(g))
        .select(
            "c_mktsegment",
            "n",
            (F.col("s").cast("double") / F.col("n") / 100.0).alias("segment_mean"),
            (
                (F.col("s").cast("double") + F.lit(float(_TE_SMOOTH)) * prior)
                / (F.col("n") + F.lit(_TE_SMOOTH))
                / 100.0
            ).alias("encoded"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# l-diversity audit
# ---------------------------------------------------------------------------

_LDIV_L = 3  # groups whose sensitive attribute shows < l distinct values


@register(
    "privacy_l_diversity",
    tier="B",
    oracle="""
    WITH tagged AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS INTEGER) AS sens
      FROM customer
    )
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS group_size,
           COUNT(DISTINCT sens) AS l_distinct,
           COUNT(DISTINCT sens) < 3 AS at_risk
    FROM tagged
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion gate to privacy_k_anonymity: a
    quasi-identifier group is re-identifiable in spirit even at k>=k_min
    if every member shares the same SENSITIVE value (homogeneity attack).
    Quasi-identifiers (nation, segment) group the table; the sensitive
    attribute (account balance bucketed to $1000 — integer floor, no
    float boundary hazard) is counted DISTINCT per group and groups with
    l < 3 are flagged.  One aggregate with a distinct count (Spark plans
    the standard two-phase partial-distinct expand); shuffle carries
    |groups x distinct-buckets| then |groups| rows.  Scale: same shape;
    for very wide sensitive domains swap exact distinct for HLL
    (agg_hll_mergeable) and flag on the estimate."""
    c = T(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / 1000.0).cast("int")
    return (
        c.select("c_nationkey", "c_mktsegment", sens.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("sens").alias("l_distinct"),
        )
        .withColumn("at_risk", F.col("l_distinct") < _LDIV_L)
        .orderBy("c_nationkey", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Trailing-window features (point-in-time feature snapshot)
# ---------------------------------------------------------------------------


@register(
    "feature_trailing_windows",
    tier="B",
    oracle=f"""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders)
    SELECT o_custkey,
           SUM(CASE WHEN o_orderdate > ref_date - INTERVAL 90 DAY
                    THEN {sql_cents("o_totalprice")} ELSE 0 END) / 100.0
             AS spend_90d,
           SUM(CASE WHEN o_orderdate > ref_date - INTERVAL 365 DAY
                    THEN {sql_cents("o_totalprice")} ELSE 0 END) / 100.0
             AS spend_365d,
           SUM({sql_cents("o_totalprice")}) / 100.0 AS spend_total,
           CAST(SUM(CASE WHEN o_orderdate > ref_date - INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orders_90d
    FROM orders, ref
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def feature_trailing_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window spend features per customer at a point-in-time
    reference (the corpus max date — in production, the feature-snapshot
    date): 90-day / 365-day / lifetime spend and recent order count.
    The t-minus conditional-aggregate shape every feature store
    materializes.  NO per-customer window pass: the reference date is a
    1-row broadcast and every window is a conditional sum inside ONE
    map-side-combined aggregate — shuffle carries |customers| rows with
    4 integer columns.  Exact long-cents sums; /100 once at output."""
    o = T(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    sp = cents("o_totalprice")
    in90 = F.col("o_orderdate") > F.col("ref_date") - F.expr("INTERVAL 90 DAY")
    in365 = F.col("o_orderdate") > F.col("ref_date") - F.expr("INTERVAL 365 DAY")
    return (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.when(in90, sp).otherwise(0)) / 100.0).alias("spend_90d"),
            (F.sum(F.when(in365, sp).otherwise(0)) / 100.0).alias("spend_365d"),
            (F.sum(sp) / 100.0).alias("spend_total"),
            F.sum(F.when(in90, 1).otherwise(0)).cast("bigint").alias("n_orders_90d"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Mutual information between two categoricals
# ---------------------------------------------------------------------------


@register(
    "agg_mutual_information",
    tier="B",
    oracle="""
    WITH joint AS (
      SELECT c.c_mktsegment AS x, o.o_orderpriority AS y, COUNT(*) AS nxy
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), mx AS (SELECT x, SUM(nxy) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, SUM(nxy) AS ny FROM joint GROUP BY y),
    g AS (SELECT SUM(nxy) AS n FROM joint),
    terms AS (
      SELECT CAST(nxy AS BIGINT) * CAST(FLOOR(
               ln((CAST(nxy AS DOUBLE) * n) / (CAST(nx AS DOUBLE) * ny))
               * 1000000) AS BIGINT) AS t_u, n
      FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN g
    )
    SELECT SUM(t_u) / 1000000.0 / ANY_VALUE(n) AS mutual_information,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_rows
    FROM terms
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between market segment and order priority —
    the dependency screen feature selection runs over categorical pairs
    (MI 0 = independent; here it measures whether segment predicts
    priority).  I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), computed as
    exact joint/marginal counts with the ln of the count-ratio
    quantized to integer micro-units per CELL before the weighted sum
    (the repo ln rule) — each term multiplies an exact long count by an
    exact quantized long, so the reduction is order- and engine-
    independent; one double division at the end.  The fact aggregates
    to the |X×Y| contingency grid first; marginals re-aggregate the
    grid (never the fact); everything after the first agg is
    grid-sized.  Scale: contingency-table state, fact scanned once."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    joint = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("x"), F.col("o_orderpriority").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    g = joint.agg(F.sum("nxy").alias("n"))
    ratio = (F.col("nxy").cast("double") * F.col("n")) / (
        F.col("nx").cast("double") * F.col("ny")
    )
    t_u = F.col("nxy").cast("bigint") * F.floor(F.log(ratio) * 1e6).cast("bigint")
    return (
        joint.join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(g))
        .select(t_u.alias("t_u"), "n")
        .agg(
            (F.sum("t_u") / 1e6 / F.any_value("n")).alias("mutual_information"),
            F.any_value("n").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Weight of evidence / information value
# ---------------------------------------------------------------------------


@register(
    "feature_woe_iv",
    tier="B",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS cat,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per_cat AS (
      SELECT cat, SUM(1 - bad) AS n_good, SUM(bad) AS n_bad FROM base
      GROUP BY cat
    ), tot AS (SELECT SUM(n_good) AS tg, SUM(n_bad) AS tb FROM per_cat),
    w AS (
      SELECT cat, n_good, n_bad,
             FLOOR(ln((CAST(n_good AS DOUBLE) * tb)
                      / (CAST(n_bad AS DOUBLE) * tg)) * 1000000)
               / 1000000.0 AS woe,
             (CAST(n_good AS DOUBLE) / tg - CAST(n_bad AS DOUBLE) / tb)
               AS dp
      FROM per_cat, tot
    )
    SELECT cat, CAST(n_good AS BIGINT) AS n_good,
           CAST(n_bad AS BIGINT) AS n_bad, woe, dp * woe AS iv_term
    FROM w
    ORDER BY cat
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information-value terms per category — the
    credit-scoring / churn-model encoder and feature screen (|IV| sums
    over categories; < 0.02 = useless feature, > 0.5 = suspicious).
    'Bad' = finished-status orders as the stand-in binary target.  WoE
    = ln(good-share / bad-share) with the ln QUANTIZED to micro-units
    (repo ln rule); shares are shared-order double divisions of exact
    longs; the iv term multiplies the already-quantized WoE — one float
    product on bit-identical operands.  One fact aggregate to |cats|
    rows + a 1-row total broadcast.  Scale: encoder state is
    |categories| rows, same as feature_target_encode."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    per_cat = base.groupBy("cat").agg(
        F.sum(1 - F.col("bad")).alias("n_good"), F.sum("bad").alias("n_bad")
    )
    tot = per_cat.agg(F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb"))
    woe = (
        F.floor(
            F.log(
                (F.col("n_good").cast("double") * F.col("tb"))
                / (F.col("n_bad").cast("double") * F.col("tg"))
            )
            * 1e6
        )
        / 1e6
    )
    dp = F.col("n_good").cast("double") / F.col("tg") - F.col("n_bad").cast(
        "double"
    ) / F.col("tb")
    return (
        per_cat.crossJoin(F.broadcast(tot))
        .select(
            "cat",
            F.col("n_good").cast("bigint").alias("n_good"),
            F.col("n_bad").cast("bigint").alias("n_bad"),
            woe.alias("woe"),
            (dp * woe).alias("iv_term"),
        )
        .orderBy("cat")
    )


# ---------------------------------------------------------------------------
# Schema contract check
# ---------------------------------------------------------------------------

# the expected contract for the events feed — the consumer-side data
# contract the producer must not break.  One entry is DELIBERATELY
# drifted (value expected as float, actual double) so the report's
# drift-detection arm is exercised, not just the all-ok path; a contract
# column absent from the actual schema exercises the missing arm.
_EVENTS_CONTRACT = [
    ("event_id", "bigint"),
    ("ts", "timestamp_ntz"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "float"),       # drifted: actual is double
    ("session_ref", "string"),  # missing from the actual schema
]


@register(
    "dq_schema_contract",
    tier="B",
    oracle="""
    SELECT * FROM (VALUES
      ('event_id',   'bigint',        'bigint',        'ok'),
      ('ts',         'timestamp_ntz', 'timestamp_ntz', 'ok'),
      ('user_id',    'bigint',        'bigint',        'ok'),
      ('event_type', 'string',        'string',        'ok'),
      ('value',      'float',         'double',        'type_drift'),
      ('session_ref','string',        CAST(NULL AS VARCHAR), 'missing'),
      ('props',      CAST(NULL AS VARCHAR), 'string',  'undeclared')
    ) t(col_name, expected_type, actual_type, status)
    ORDER BY col_name
    """,
)
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract validation — the consumer-side data contract
    (names + types) checked against the feed's ACTUAL schema, reporting
    ok / type_drift / missing / undeclared per column: the interface
    test that catches producer changes before they corrupt a pipeline
    (the reference tolerates drift silently via .get() — SURVEY §1.3;
    this makes the tolerance an explicit, auditable report).  Pure
    METADATA: the table's schema comes from the catalog/footers, no
    data is read; the report frame is built driver-side at |columns|
    scale and value-checked against the literal expectation.  The
    fixture contract deliberately plants one drift and one missing
    column so all four arms execute."""
    actual = {f.name: f.dataType.simpleString() for f in T(spark, sf_dir, "events").schema.fields}
    rows = []
    declared = set()
    for name, want in _EVENTS_CONTRACT:
        declared.add(name)
        have = actual.get(name)
        status = "ok" if have == want else ("missing" if have is None else "type_drift")
        rows.append((name, want, have, status))
    for name, have in actual.items():
        if name not in declared:
            rows.append((name, None, have, "undeclared"))
    return spark.createDataFrame(
        rows, "col_name string, expected_type string, actual_type string, status string"
    ).orderBy("col_name")
