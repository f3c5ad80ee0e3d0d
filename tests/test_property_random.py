"""Randomized differential testing: hypothesis generates filter/aggregation
shapes, and Spark and DuckDB must agree on every one.

This is the breadth layer the reference gets from re-running ~25 of Spark's
expression test suites (SURVEY.md §5) — here we generate the expressions, run
both engines, and diff, with deterministic examples (derandomized) so CI is
stable.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from auron_spark.tables import table
from tests.conftest import SF_SMOKE, normalize

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
STR_COLS = ["l_returnflag", "l_linestatus"]
CMP_OPS = ["<", "<=", ">", ">=", "=", "<>"]

predicate = st.tuples(
    st.sampled_from(NUM_COLS),
    st.sampled_from(CMP_OPS),
    st.integers(min_value=0, max_value=60),
)


def _pred_sql(p) -> str:
    col, op, v = p
    return f"{col} {op} {v}"


@pytest.fixture(scope="module")
def duck(oracle):
    # session-scoped oracle views are at SF_DIR; build smoke-scale views here
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    )
    yield con
    con.close()


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(preds=st.lists(predicate, min_size=1, max_size=3), conj=st.booleans())
def test_random_filter_counts(spark, duck, preds, conj):
    """Random conjunctions/disjunctions of numeric comparisons: row counts and
    per-flag group counts must match DuckDB exactly."""
    glue = " AND " if conj else " OR "
    where = glue.join(_pred_sql(p) for p in preds)
    li = table(spark, SF_SMOKE, "lineitem")
    li.createOrReplaceTempView("li_prop")
    got = normalize(
        spark.sql(
            f"SELECT l_returnflag, COUNT(*) AS n FROM li_prop WHERE {where} "
            "GROUP BY l_returnflag ORDER BY l_returnflag"
        ).toPandas()
    )
    want = normalize(
        duck.execute(
            f"SELECT l_returnflag, COUNT(*) AS n FROM lineitem WHERE {where} "
            "GROUP BY l_returnflag ORDER BY l_returnflag"
        ).df()
    )
    assert got == want, where


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    col=st.sampled_from(NUM_COLS),
    key=st.sampled_from(STR_COLS),
    lo=st.integers(min_value=0, max_value=30),
)
def test_random_decimal_sums(spark, duck, col, key, lo):
    """Random (column, group-key, threshold) aggregations through the
    decimal-exact path: sums must be bit-identical."""
    li = table(spark, SF_SMOKE, "lineitem")
    li.createOrReplaceTempView("li_prop")
    q = (
        f"SELECT {key} AS k, CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS s "
        f"FROM {{t}} WHERE l_quantity >= {lo} GROUP BY {key} ORDER BY k"
    )
    got = normalize(spark.sql(q.format(t="li_prop")).toPandas())
    want = normalize(duck.execute(q.format(t="lineitem")).df())
    assert got == want, q


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=1, max_value=40),
    off=st.integers(min_value=0, max_value=25),
    desc=st.booleans(),
)
def test_random_sort_limit_offset(spark, duck, n, off, desc):
    """Random limit/offset windows over a deterministic total order."""
    li = table(spark, SF_SMOKE, "lineitem")
    li.createOrReplaceTempView("li_prop")
    d = "DESC" if desc else "ASC"
    q = (
        "SELECT l_orderkey, l_linenumber FROM {t} "
        f"ORDER BY l_orderkey {d}, l_linenumber LIMIT {n} OFFSET {off}"
    )
    got = normalize(spark.sql(q.format(t="li_prop")).toPandas())
    want = normalize(duck.execute(q.format(t="lineitem")).df())
    assert got == want


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
    cutoff=st.integers(min_value=1, max_value=5000),
)
def test_random_join_types(spark, duck, how, cutoff):
    """Random join type × orders-side filter: per-type row counts must match
    DuckDB's equivalent join formulation."""
    li = table(spark, SF_SMOKE, "lineitem")
    orders = table(spark, SF_SMOKE, "orders").filter(f"o_orderkey <= {cutoff}")
    got = li.join(orders, li.l_orderkey == orders.o_orderkey, how).count()
    duck.execute(
        f"CREATE OR REPLACE VIEW o_f AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/orders.parquet') WHERE o_orderkey <= {cutoff}"
    )
    sql = {
        "inner": "SELECT COUNT(*) FROM lineitem JOIN o_f ON l_orderkey = o_orderkey",
        "left": "SELECT COUNT(*) FROM lineitem LEFT JOIN o_f ON l_orderkey = o_orderkey",
        "left_semi": "SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM o_f)",
        "left_anti": "SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM o_f)",
    }[how]
    want = duck.execute(sql).fetchone()[0]
    assert got == want, (how, cutoff)


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=st.integers(min_value=-5, max_value=0),
    hi=st.integers(min_value=0, max_value=5),
    desc=st.booleans(),
)
def test_random_window_frames(spark, duck, lo, hi, desc):
    """Random ROWS frame bounds: windowed decimal sums must match DuckDB
    over the identical deterministic ordering."""
    d = "DESC" if desc else "ASC"
    frame = (
        f"ROWS BETWEEN {-lo} PRECEDING AND {hi} FOLLOWING"
    )
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures — l_quantity in
    # the ordering makes remaining ties carry equal summands, so frame sums
    # are invariant under tie reordering in both engines.
    q = (
        "SELECT l_orderkey, l_linenumber, l_quantity, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) OVER "
        "(PARTITION BY l_returnflag "
        f"ORDER BY l_orderkey {d}, l_linenumber, l_quantity {frame}) "
        "AS DOUBLE) AS s "
        "FROM {t} ORDER BY l_orderkey, l_linenumber, l_quantity, s"
    )
    li = table(spark, SF_SMOKE, "lineitem")
    li.createOrReplaceTempView("li_prop")
    got = normalize(spark.sql(q.format(t="li_prop")).toPandas())
    want = normalize(duck.execute(q.format(t="lineitem")).df())
    assert got == want, (lo, hi, desc)


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fn=st.sampled_from(["MIN", "MAX", "COUNT", "SUM"]),
    col=st.sampled_from(NUM_COLS),
    key=st.sampled_from(STR_COLS + ["l_linenumber"]),
    lo=st.integers(min_value=0, max_value=40),
)
def test_random_aggregates(spark, duck, fn, col, key, lo):
    """Random (aggregate fn, column, group key, filter): results must match
    DuckDB exactly (SUM through the decimal-exact path)."""
    expr = (
        f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"
        if fn == "SUM"
        else f"{fn}({col})"
    )
    q = (
        f"SELECT {key} AS k, {expr} AS v FROM {{t}} "
        f"WHERE l_quantity >= {lo} GROUP BY {key} ORDER BY k"
    )
    li = table(spark, SF_SMOKE, "lineitem")
    li.createOrReplaceTempView("li_prop")
    got = normalize(spark.sql(q.format(t="li_prop")).toPandas())
    want = normalize(duck.execute(q.format(t="lineitem")).df())
    assert got == want, q


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    op=st.sampled_from(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"]),
    lo=st.integers(min_value=0, max_value=30),
    hi=st.integers(min_value=20, max_value=55),
)
def test_random_set_operations(spark, duck, op, lo, hi):
    """Random set operation over two overlapping projections: result
    multisets must match DuckDB (UNION/INTERSECT/EXCEPT are distinct-based
    in both dialects; UNION ALL keeps duplicates)."""
    a = f"SELECT l_returnflag, l_linestatus FROM {{t}} WHERE l_quantity >= {lo}"
    b = f"SELECT l_returnflag, l_linestatus FROM {{t}} WHERE l_quantity <= {hi}"
    q = f"SELECT * FROM (({a}) {op} ({b})) ORDER BY 1, 2"
    li = table(spark, SF_SMOKE, "lineitem")
    li.createOrReplaceTempView("li_prop")
    got = normalize(spark.sql(q.format(t="li_prop")).toPandas())
    want = normalize(duck.execute(q.format(t="lineitem")).df())
    assert got == want, (op, lo, hi)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=39),
            st.integers(min_value=0, max_value=39),
        ),
        min_size=0,
        max_size=60,
    )
)
def test_connected_components_vs_union_find(spark, edges):
    """connected_components must agree with a pure-Python union-find on
    arbitrary random graphs (40 nodes, up to 60 edges) — topology-independent
    correctness beyond the near-clique LSH fixture and the chain test."""
    import pyspark.sql.functions as F

    from auron_spark.pipeline.dedup import connected_components

    n = 40
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expected = {x: find(x) for x in range(n)}
    # canonical = min of component: union-by-min keeps root == component min
    nodes = spark.range(n).selectExpr("id AS doc_id")
    pairs = [(u, v) for u, v in edges if u != v]
    if pairs:
        e = spark.createDataFrame(pairs, "u long, v long")
        e = e.union(e.selectExpr("v AS u", "u AS v"))
    else:
        e = spark.createDataFrame([], "u long, v long")
    labels = {
        r.doc_id: r.canonical_id
        for r in connected_components(nodes, e, max_rounds=12).collect()
    }
    assert labels == expected


# --- composed operator chains (VERDICT r7 stretch #7) ----------------------
#
# The per-operator oracles prove each §2 row alone; this layer composes
# random scan -> filter -> join -> aggregate -> window -> sort/limit CHAINS
# from a seeded generator and diffs the whole pipeline against DuckDB —
# the fuzz insurance against composition bugs (join null-handling feeding a
# group-by, window over an aggregated subquery, limit over a windowed sort)
# that neither the reference's suites nor per-operator tests can see.
# Every random choice renders to ONE SQL string valid in both dialects
# (explicit NULLS FIRST, decimal-exact sums, deterministic total order).

_CHAIN_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CHAIN_PREDS = [
    "l_quantity {} {}",
    "l_extendedprice {} {}",
    "l_linenumber {} {}",
    "l_orderkey % 7 {} {}",
]
_CHAIN_STR_PREDS = [
    "l_returnflag = 'A'", "l_returnflag <> 'N'", "l_linestatus = 'O'",
    "l_shipdate >= DATE '1995-06-01'", "l_shipdate < DATE '1997-01-01'",
]


def _gen_chain_sql(seed: int) -> str:
    import random

    rng = random.Random(seed)
    join = rng.choice(["none", "JOIN", "LEFT JOIN"])
    base_cols = (
        "l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice, "
        "l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus, l.l_shipdate"
    )
    if join == "none":
        frm = "{li} l"
        keys = ["l_returnflag", "l_linestatus", "l_linenumber"]
    else:
        base_cols += ", o.o_orderpriority, o.o_orderstatus"
        frm = f"{{li}} l {join} {{ord}} o ON l.l_orderkey = o.o_orderkey"
        keys = [
            "l_returnflag", "l_linestatus", "l_linenumber",
            "o_orderpriority", "o_orderstatus",
        ]
    preds = []
    for _ in range(rng.randint(1, 3)):
        if rng.random() < 0.6:
            tmpl = rng.choice(_CHAIN_PREDS)
            preds.append(
                tmpl.format(
                    rng.choice(["<", "<=", ">", ">=", "=", "<>"]),
                    rng.randint(0, 60),
                )
            )
        else:
            preds.append(rng.choice(_CHAIN_STR_PREDS))
    where = f" ({rng.choice([' AND ', ' OR ']).join(preds)}) "
    key = rng.choice(keys)
    col = rng.choice(_CHAIN_NUM)
    col2 = rng.choice(_CHAIN_NUM)
    rankfn = rng.choice(["RANK()", "DENSE_RANK()", "ROW_NUMBER()"])
    limit = f"LIMIT {rng.randint(1, 25)}" if rng.random() < 0.7 else ""
    return f"""
    WITH base AS (
        SELECT {base_cols}
        FROM {frm}
        WHERE {where}
    ),
    agg AS (
        SELECT {key} AS k,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS s,
               MIN({col2}) AS mn, MAX({col2}) AS mx
        FROM base
        GROUP BY {key}
    )
    SELECT k, n, s, mn, mx,
           {rankfn} OVER (ORDER BY n DESC, k ASC NULLS FIRST) AS rnk,
           CAST(SUM(n) OVER (ORDER BY k ASC NULLS FIRST
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_n
    FROM agg
    ORDER BY k ASC NULLS FIRST
    {limit}
    """


@pytest.fixture(scope="module")
def duck2(oracle):
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("seed", range(60))
def test_random_composed_chains(spark, duck2, seed):
    sql = _gen_chain_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_chain")
    table(spark, SF_SMOKE, "orders").createOrReplaceTempView("ord_chain")
    got = normalize(
        spark.sql(sql.format(li="li_chain", ord="ord_chain")).toPandas()
    )
    want = normalize(
        duck2.execute(sql.format(li="lineitem", ord="orders")).df()
    )
    assert got == want, f"seed={seed}\n{sql}"


def _gen_having_setop_sql(seed: int) -> str:
    """Second chain shape: two filtered aggregates composed by a set
    operation, with HAVING on each side — exercises agg->having->setop
    composition the first generator doesn't reach."""
    import random

    rng = random.Random(1_000_000 + seed)
    key = rng.choice(["l_returnflag", "l_linestatus", "l_linenumber"])
    col = rng.choice(_CHAIN_NUM)
    op = rng.choice(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"])
    lo_a, lo_b = rng.randint(0, 40), rng.randint(0, 40)
    hmin = rng.randint(1, 50)

    def side(lo):
        return (
            f"SELECT {key} AS k, CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS s "
            f"FROM {{t}} WHERE l_quantity >= {lo} GROUP BY {key} "
            f"HAVING COUNT(*) >= {hmin}"
        )

    return (
        f"SELECT * FROM (({side(lo_a)}) {op} ({side(lo_b)})) "
        "ORDER BY k, n, s"
    )


@pytest.mark.parametrize("seed", range(15))
def test_random_having_setop_chains(spark, duck2, seed):
    sql = _gen_having_setop_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_chain")
    got = normalize(spark.sql(sql.format(t="li_chain")).toPandas())
    want = normalize(duck2.execute(sql.format(t="lineitem")).df())
    assert got == want, f"seed={seed}\n{sql}"


def _gen_subquery_chain_sql(seed: int) -> str:
    """Third chain shape: correlated EXISTS / NOT EXISTS against lineitem
    plus a correlated scalar-subquery threshold — the subquery
    decorrelation surface (Filter -> Join rewrite) the first two
    generators never reach.  Thresholds use MIN/MAX + integer offsets
    only (order-independent exact aggregates), so no FP-summation-order
    divergence can flip a boundary row between engines."""
    import random

    rng = random.Random(2_000_000 + seed)
    exists = rng.choice(["EXISTS", "NOT EXISTS"])
    qop = rng.choice(["<", "<=", ">", ">=", "="])
    qv = rng.randint(0, 55)
    scalar_fn = rng.choice(["MIN", "MAX"])
    offset = rng.randint(-50_000, 50_000)
    corr_key = rng.choice(["o_orderstatus", "o_orderpriority"])
    key = rng.choice(["o_orderpriority", "o_orderstatus"])
    neg = rng.choice(["", "NOT"])
    return f"""
    SELECT {key} AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
    FROM {{ord}} o
    WHERE {exists} (
            SELECT 1 FROM {{li}} l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_quantity {qop} {qv}
          )
      AND {neg} (o.o_totalprice >= (
            SELECT {scalar_fn}(o2.o_totalprice) + {offset}
            FROM {{ord}} o2
            WHERE o2.{corr_key} = o.{corr_key}
          ))
    GROUP BY {key}
    ORDER BY k
    """


@pytest.mark.parametrize("seed", range(15))
def test_random_subquery_chains(spark, duck2, seed):
    sql = _gen_subquery_chain_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_chain")
    table(spark, SF_SMOKE, "orders").createOrReplaceTempView("ord_chain")
    got = normalize(
        spark.sql(sql.format(li="li_chain", ord="ord_chain")).toPandas()
    )
    want = normalize(
        duck2.execute(sql.format(li="lineitem", ord="orders")).df()
    )
    assert got == want, f"seed={seed}\n{sql}"


def _gen_window_chain_sql(seed: int) -> str:
    """Fourth chain shape: window functions computed OVER a join result
    with random frames and partition keys, then filtered on the window
    value — the window-over-join composition (and the window-in-predicate
    rewrite via subquery) the other generators don't reach.  Frames are
    ROWS-based with integer bounds.  ROWS frames and rank filters compose
    deterministically ONLY over a STRICT total order, and this fixture's
    lineitem has duplicate (l_orderkey, l_linenumber) pairs (the driver
    generator does not enforce the TPC-H PK), so `base` first collapses
    to one row per key — the same discipline every registered frame
    query follows."""
    import random

    rng = random.Random(3_000_000 + seed)
    pkey = rng.choice(["l_returnflag", "l_linestatus", "o_orderpriority"])
    frame_lo = rng.randint(1, 5)
    frame_hi = rng.randint(0, 3)
    lo = rng.randint(0, 45)
    fn = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
    rank_cut = rng.randint(1, 8)
    return f"""
    WITH base AS (
        SELECT l.l_orderkey, l.l_linenumber,
               MAX(l.l_quantity) AS l_quantity,
               MIN(l.l_returnflag) AS l_returnflag,
               MIN(l.l_linestatus) AS l_linestatus,
               MIN(o.o_orderpriority) AS o_orderpriority
        FROM {{li}} l JOIN {{ord}} o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_quantity >= {lo}
        GROUP BY l.l_orderkey, l.l_linenumber
    ),
    win AS (
        SELECT l_orderkey, l_linenumber, {pkey} AS pk,
               CAST({fn}(l_quantity) OVER (
                   PARTITION BY {pkey}
                   ORDER BY l_orderkey, l_linenumber
                   ROWS BETWEEN {frame_lo} PRECEDING
                        AND {frame_hi} FOLLOWING) AS DOUBLE) AS fval,
               ROW_NUMBER() OVER (
                   PARTITION BY {pkey}
                   ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
                   AS rk
        FROM base
    )
    SELECT pk, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(fval AS DECIMAL(18,2))) AS DOUBLE) AS s
    FROM win WHERE rk <= {rank_cut}
    GROUP BY pk
    ORDER BY pk
    """


@pytest.mark.parametrize("seed", range(15))
def test_random_window_chains(spark, duck2, seed):
    sql = _gen_window_chain_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_chain")
    table(spark, SF_SMOKE, "orders").createOrReplaceTempView("ord_chain")
    got = normalize(
        spark.sql(sql.format(li="li_chain", ord="ord_chain")).toPandas()
    )
    want = normalize(
        duck2.execute(sql.format(li="lineitem", ord="orders")).df()
    )
    assert got == want, f"seed={seed}\n{sql}"


# --- Misra-Gries mergeable-summary guarantee --------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                 max_size=200),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=12),
)
def test_mg_merge_deficiency_bound(batches, k):
    """The PODS'12 merge invariant behind `agg_heavy_hitters_mg`'s
    candidate-superset proof: after merging per-batch exact counts through
    `_mg_merge(k)`, (true_count - summary_count) <= N/(k+1) for EVERY item,
    hence any item with true count > N/(k+1) is present in the summary —
    on arbitrary stream shapes, not just the fixture."""
    from collections import Counter

    from auron_spark.operators.aggregate import _mg_merge

    acc: dict = {}
    truth: Counter = Counter()
    n = 0
    for batch in batches:
        c = Counter(batch)
        truth.update(c)
        n += len(batch)
        acc = _mg_merge(acc, dict(c), k)
        assert len(acc) <= k
    bound = n / (k + 1)
    for item, true_c in truth.items():
        est = acc.get(item, 0)
        assert est <= true_c  # never overcount
        assert true_c - est <= bound + 1e-9, (item, true_c, est, bound)
        if true_c > bound:
            assert item in acc


# --- randomized two-sample power-sum statistics ------------------------------

_ETYPES = ["view", "click", "purchase", "signup", "error"]


def _welch_sql(a: str, b: str, day: int) -> str:
    """The `eval_welch_ttest` shape with a parameterized group pair and a
    date filter — a single SQL text run by BOTH engines, so any divergence
    in the exact-DECIMAL power-sum contract (FILTER clauses, decimal
    products, the double expression tree) surfaces on arbitrary slices,
    not just the registered query's fixed one."""
    xd = "CAST(value AS DECIMAL(12,2))"
    return f"""
    WITH ps AS (
        SELECT COUNT(*) FILTER (WHERE event_type = '{a}') AS na,
               CAST(SUM({xd}) FILTER (WHERE event_type = '{a}')
                    AS DOUBLE) AS s1a,
               CAST(SUM(CAST({xd} * {xd} AS DECIMAL(24,4)))
                    FILTER (WHERE event_type = '{a}') AS DOUBLE) AS s2a,
               COUNT(*) FILTER (WHERE event_type = '{b}') AS nb,
               CAST(SUM({xd}) FILTER (WHERE event_type = '{b}')
                    AS DOUBLE) AS s1b,
               CAST(SUM(CAST({xd} * {xd} AS DECIMAL(24,4)))
                    FILTER (WHERE event_type = '{b}') AS DOUBLE) AS s2b
        FROM {{ev}}
        WHERE ts >= TIMESTAMP '2024-01-{day:02d}'
    )
    SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           ROUND(s1a / na, 6) AS mean_a,
           ROUND(s1b / nb, 6) AS mean_b,
           ROUND((s2a - s1a * s1a / na) / (na - 1), 6) AS var_a,
           ROUND((s2b - s1b * s1b / nb) / (nb - 1), 6) AS var_b,
           ROUND((s1a / na - s1b / nb)
                 / sqrt((s2a - s1a * s1a / na) / (na - 1) / na
                        + (s2b - s1b * s1b / nb) / (nb - 1) / nb), 6) AS t
    FROM ps
    """


@pytest.fixture(scope="module")
def duck_ev():
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_SMOKE}/events.parquet')"
    )
    yield con
    con.close()


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pair=st.sampled_from(
        [(a, b) for a in _ETYPES for b in _ETYPES if a < b]
    ),
    day=st.integers(min_value=1, max_value=25),
)
def test_random_two_sample_power_sums(spark, duck_ev, pair, day):
    a, b = pair
    sql = _welch_sql(a, b, day)
    table(spark, SF_SMOKE, "events").createOrReplaceTempView("ev_prop")
    got = normalize(spark.sql(sql.format(ev="ev_prop")).toPandas())
    want = normalize(duck_ev.execute(sql.format(ev="events")).df())
    assert got == want, f"pair={pair} day={day}"


# --- geo grid-pruning losslessness at multiple radii -------------------------


@pytest.mark.parametrize(
    "r_km,cell_lat,cell_lon",
    [(40.0, 0.4, 0.8), (80.0, 0.8, 1.6), (250.0, 2.3, 5.0),
     (500.0, 4.6, 10.0)],
)
def test_grid_radius_join_lossless(spark, r_km, cell_lat, cell_lon):
    """The 3x3 grid pruning must be LOSSLESS for any (radius, cell) pair
    satisfying the degree-extent bound — checked against the unpruned
    Spark cross join at radii besides the registered query's 150 km."""
    from pyspark.sql import functions as F

    from auron_spark.pipeline.geo import (
        _spark_haversine,
        _spark_latlon,
        grid_radius_join,
    )
    from auron_spark.tables import Tables

    t = Tables(spark, SF_SMOKE)
    pruned = grid_radius_join(t, r_km, cell_lat, cell_lon).toPandas()
    clat, clon = _spark_latlon("c_custkey")
    slat, slon = _spark_latlon("s_suppkey")
    cust = t.customer.select("c_custkey", clat.alias("lat"), clon.alias("lon"))
    supp = t.supplier.select(
        "s_suppkey", slat.alias("s_lat"), slon.alias("s_lon")
    )
    km = _spark_haversine(
        F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
    )
    enc = F.floor(F.col("km") * 1000000) * 1000000 + F.col("s_suppkey")
    brute = (
        cust.crossJoin(supp)
        .where(km <= r_km)
        .select("c_custkey", "s_suppkey", F.round(km, 6).alias("km"))
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_near"),
            F.min("km").alias("min_km"),
            (F.min(enc) % 1000000).alias("nearest_suppkey"),
        )
        .orderBy("c_custkey")
        .toPandas()
    )
    assert normalize(pruned) == normalize(brute)


# --- k-fold CV: complement algebra vs direct per-fold refit ------------------


def test_kfold_ols_matches_direct_refit(spark):
    """eval_kfold_ols_oos derives each fold's training moments as
    total-minus-fold; re-fit every fold DIRECTLY on its complement rows
    (numpy lstsq on the collected sf0.001 subset) and the slopes,
    intercepts and OOS RMSEs must agree to ~1e-6."""
    import numpy as np

    from auron_spark.registry import load_all

    got = (
        load_all()["eval_kfold_ols_oos"]
        .build(spark, SF_SMOKE)
        .toPandas()
        .set_index("fold")
    )
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT CAST(('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
                                             AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 5 AS fold,
               l_quantity AS x, l_extendedprice AS y
        FROM read_parquet('{SF_SMOKE}/lineitem.parquet')
        """
    ).df()
    for fold in range(5):
        train = rows[rows.fold != fold]
        test = rows[rows.fold == fold]
        A = np.vstack([train.x.values, np.ones(len(train))]).T
        slope, intercept = np.linalg.lstsq(A, train.y.values, rcond=None)[0]
        pred = intercept + slope * test.x.values
        rmse = float(np.sqrt(np.mean((test.y.values - pred) ** 2)))
        g = got.loc[fold]
        assert abs(g.slope - slope) < 1e-4 * max(1, abs(slope)), (fold, slope)
        assert abs(g.intercept - intercept) < 1e-3 * max(1, abs(intercept))
        assert abs(g.oos_rmse - rmse) < 1e-4 * max(1, rmse), (fold, rmse)
        assert g.n_train == len(train) and g.n_test == len(test)


# --- MMR: differential vs an independent greedy reimplementation -------------


def test_mmr_matches_numpy_greedy(spark):
    """sim_mmr_diversify's DataFrame-relay greedy must equal a direct
    numpy implementation of MMR run on the same pool."""
    import numpy as np

    from auron_spark.registry import load_all
    from auron_spark.tables import table

    got = load_all()["sim_mmr_diversify"].build(spark, SF_SMOKE).toPandas()
    emb = table(spark, SF_SMOKE, "embeddings").toPandas()
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}
    q = vecs[0]

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    rel = {i: cos(v, q) for i, v in vecs.items() if i != 0}
    pool = sorted(rel, key=lambda i: (-round(rel[i], 9), i))[:12]
    sel, picks = [], []
    for r in range(5):
        if not sel:
            scores = {i: rel[i] for i in pool}
        else:
            scores = {
                i: 0.7 * rel[i]
                - 0.3 * max(cos(vecs[i], vecs[j]) for j in sel)
                for i in pool
                if i not in sel
            }
        best = min(scores, key=lambda i: (-round(scores[i], 9), i))
        sel.append(best)
        picks.append((r + 1, best, round(rel[best], 6), round(scores[best], 6)))
    want = [tuple(p) for p in picks]
    have = [
        (int(r.pick_order), int(r.vec_id), round(r.relevance, 6),
         round(r.mmr_score, 6))
        for r in got.itertuples()
    ]
    assert have == want


def _gen_expr(rng, depth: int) -> str:
    """Random scalar expression tree over lineitem numerics.  Every leaf
    casts to DOUBLE first so no decimal precision/scale inference rules
    cross engines (IEEE double arithmetic is bit-identical); division is
    NULLIF-guarded."""
    leaves = [
        "CAST(l_quantity AS DOUBLE)",
        "CAST(l_extendedprice AS DOUBLE)",
        "CAST(l_discount AS DOUBLE)",
        "CAST(l_tax AS DOUBLE)",
        "CAST(l_linenumber AS DOUBLE)",
    ]
    if depth == 0 or rng.random() < 0.25:
        if rng.random() < 0.2:
            return str(rng.randint(1, 9))
        return rng.choice(leaves)
    a = _gen_expr(rng, depth - 1)
    b = _gen_expr(rng, depth - 1)
    op = rng.choice(
        ["add", "sub", "mul", "div", "greatest", "least", "abs", "case"]
    )
    if op == "add":
        return f"({a} + {b})"
    if op == "sub":
        return f"({a} - {b})"
    if op == "mul":
        return f"({a} * {b})"
    if op == "div":
        return f"({a} / NULLIF({b}, 0.0))"
    if op == "greatest":
        return f"GREATEST({a}, {b})"
    if op == "least":
        return f"LEAST({a}, {b})"
    if op == "abs":
        return f"ABS({a})"
    return f"(CASE WHEN {a} > {b} THEN {a} ELSE COALESCE({b}, 0.0) END)"


def _gen_expr_sql(seed: int) -> str:
    """SQLancer-style differential expression shape: a random depth-3
    scalar tree evaluated ROW-WISE on a deterministic slice, plus its
    decimal-contained per-group sum — one statement exercises the scalar
    surface (arith / comparison / conditional / null propagation) far
    more densely than the hand-written per-function oracles."""
    import random

    rng = random.Random(7_000_000 + seed)
    expr = _gen_expr(rng, 3)
    return f"""
    WITH rows_slice AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               ROUND({expr}, 6) AS v
        FROM {{t}}
        WHERE l_orderkey % 7 = 0
    ),
    per_row AS (
        SELECT l_orderkey, l_linenumber, v
        FROM rows_slice
        ORDER BY l_orderkey, l_linenumber LIMIT 300
    ),
    per_group AS (
        SELECT l_returnflag AS k,
               CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS sv,
               CAST(COUNT(v) AS BIGINT) AS nv
        FROM rows_slice GROUP BY l_returnflag
    )
    SELECT CAST(l_orderkey AS BIGINT) AS a, CAST(l_linenumber AS BIGINT) AS b,
           v, NULL AS sv, NULL AS nv
    FROM per_row
    UNION ALL
    SELECT NULL, NULL, NULL, sv, nv FROM per_group
    ORDER BY a NULLS LAST, b, sv
    """


@pytest.mark.parametrize("seed", range(25))
def test_random_scalar_expressions(spark, duck2, seed):
    sql = _gen_expr_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_expr")
    got = normalize(spark.sql(sql.format(t="li_expr")).toPandas())
    want = normalize(duck2.execute(sql.format(t="lineitem")).df())
    assert got == want, f"seed={seed}\n{sql}"


def _gen_grouping_sets_sql(seed: int) -> str:
    """Fifth chain shape: randomized multi-dimensional aggregation —
    ROLLUP / CUBE / explicit GROUPING SETS with GROUPING() markers and a
    random pre-filter.  Exercises the Expand-based grouping paths (and
    their null-vs-grouping-null disambiguation) that the fixed-shape
    oracles only cover at one point each."""
    import random

    rng = random.Random(9_000_000 + seed)
    keys = rng.sample(
        ["l_returnflag", "l_linestatus", "l_linenumber"], k=2
    )
    construct = rng.choice(["ROLLUP", "CUBE", "SETS"])
    if construct == "SETS":
        grp = (
            f"GROUPING SETS (({keys[0]}, {keys[1]}), ({keys[0]}), ())"
        )
    else:
        grp = f"{construct}({keys[0]}, {keys[1]})"
    lo = rng.randint(0, 40)
    col = rng.choice(["l_extendedprice", "l_quantity", "l_discount"])
    return f"""
    SELECT {keys[0]} AS k1, {keys[1]} AS k2,
           CAST(GROUPING({keys[0]}) AS INT) AS g1,
           CAST(GROUPING({keys[1]}) AS INT) AS g2,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS s
    FROM {{t}}
    WHERE l_quantity >= {lo}
    GROUP BY {grp}
    ORDER BY g1, g2, k1 NULLS FIRST, k2 NULLS FIRST
    """


@pytest.mark.parametrize("seed", range(15))
def test_random_grouping_sets(spark, duck2, seed):
    sql = _gen_grouping_sets_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_gsets")
    got = normalize(spark.sql(sql.format(t="li_gsets")).toPandas())
    want = normalize(duck2.execute(sql.format(t="lineitem")).df())
    assert got == want, f"seed={seed}\n{sql}"


def _gen_rollup_rank_sql(seed: int) -> str:
    """Sixth chain shape (VERDICT r10 ask #7): rollup/grouping-sets ×
    rank-within-parent × rollup-level filter — the TPC-DS Q36/Q67 family
    where the round-10 review found two hand-written bugs (an inverted
    grouping CASE and a null-rejecting filter) that the fixed-point
    oracles could not catch.  Randomizes the grouping construct, the rank
    function, the grouping-marker partition CASE (correct orientation by
    construction — the fuzzer asserts the VALUE, so an engine that
    mis-evaluates GROUPING() inside a window partition key diverges), the
    rank direction and the post-window level/rank filter."""
    import random

    rng = random.Random(11_000_000 + seed)
    k1, k2 = rng.sample(
        ["l_returnflag", "l_linestatus", "l_linenumber", "l_suppkey"], k=2
    )
    construct = rng.choice(["ROLLUP", "SETS"])
    if construct == "SETS":
        grp = f"GROUPING SETS (({k1}, {k2}), ({k1}), ())"
    else:
        grp = f"ROLLUP({k1}, {k2})"
    col = rng.choice(["l_extendedprice", "l_quantity"])
    lo = rng.randint(0, 30)
    rank_fn = rng.choice(["RANK()", "DENSE_RANK()", "ROW_NUMBER()"])
    direction = rng.choice(["ASC", "DESC"])
    # partition detail rows by their PARENT key (NULL at subtotal levels),
    # the exact CASE shape the r10 review found inverted in hand-written SQL
    part = "lochierarchy, CASE WHEN g2 = 0 THEN CAST(k1v AS STRING) END"
    lvl_filter = rng.choice(
        ["rk <= %d" % rng.randint(1, 4),
         "lochierarchy = %d" % rng.randint(0, 2),
         "rk <= %d AND lochierarchy <= 1" % rng.randint(2, 5)]
    )
    return f"""
    WITH s AS (
        SELECT {k1} AS k1v, {k2} AS k2v,
               CAST(GROUPING({k1}) AS INT) + CAST(GROUPING({k2}) AS INT)
                   AS lochierarchy,
               CAST(GROUPING({k2}) AS INT) AS g2,
               SUM(CAST({col} AS DECIMAL(18,2))) AS s_dec
        FROM {{t}}
        WHERE l_quantity >= {lo}
        GROUP BY {grp}
    ),
    r AS (
        SELECT k1v, k2v, lochierarchy, g2,
               CAST(s_dec AS DOUBLE) AS s,
               CAST({rank_fn} OVER (
                   PARTITION BY {part}
                   ORDER BY s_dec {direction},
                            CAST(k1v AS STRING) NULLS FIRST,
                            CAST(k2v AS STRING) NULLS FIRST
               ) AS BIGINT) AS rk
        FROM s
    )
    SELECT k1v, k2v, lochierarchy, s, rk
    FROM r
    WHERE {lvl_filter}
    ORDER BY lochierarchy DESC, rk,
             CAST(k1v AS STRING) NULLS FIRST, CAST(k2v AS STRING) NULLS FIRST
    """


@pytest.mark.parametrize("seed", range(18))
def test_random_rollup_rank_chains(spark, duck2, seed):
    sql = _gen_rollup_rank_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_rrank")
    got = normalize(spark.sql(sql.format(t="li_rrank")).toPandas())
    want = normalize(duck2.execute(sql.format(t="lineitem")).df())
    assert got == want, f"seed={seed}\n{sql}"


def _gen_time_window_sql(seed: int) -> str:
    """Seventh chain shape (VERDICT r9 ask #4): time-bucketed aggregation
    over events composed with running/lag windows and a ROLLUP on top —
    the grouping-sets × time-windows composition from the r8/r9 surface.
    Buckets cast to DATE (both engines' date_trunc agrees at day/week/
    month grain under the UTC-pinned session); the rollup re-aggregates
    only integer counts and order-safe MIN/MAX, never re-sums doubles, so
    no FP-summation-order divergence can appear."""
    import random

    rng = random.Random(13_000_000 + seed)
    gran = rng.choice(["day", "week", "month"])
    types = rng.sample(["view", "click", "purchase", "signup", "error"],
                       k=rng.randint(2, 3))
    ty_list = ", ".join(f"'{t}'" for t in sorted(types))
    day = rng.randint(1, 20)
    # Spark rejects explicit frames on lag/row_number — those use the
    # order-only window `wo`, the frame-bearing aggregates use `wf`.
    winfn = rng.choice(
        ["SUM(n) OVER wf", "LAG(n, 1, 0) OVER wo", "MIN(n) OVER wf",
         "ROW_NUMBER() OVER wo"]
    )
    return f"""
    WITH b AS (
        SELECT CAST(date_trunc('{gran}', ts) AS DATE) AS bucket,
               event_type,
               CAST(value AS DECIMAL(12,2)) AS v
        FROM {{ev}}
        WHERE event_type IN ({ty_list})
          AND ts >= TIMESTAMP '2024-01-{day:02d}'
    ),
    agg AS (
        SELECT bucket, event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DOUBLE) AS s
        FROM b GROUP BY bucket, event_type
    ),
    win AS (
        SELECT bucket, event_type, n, s,
               CAST({winfn} AS BIGINT) AS w
        FROM agg
        WINDOW wf AS (PARTITION BY event_type ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING),
               wo AS (PARTITION BY event_type ORDER BY bucket)
    )
    SELECT event_type,
           CAST(GROUPING(event_type) AS INT) AS g,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS total_n,
           CAST(SUM(w) AS BIGINT) AS total_w,
           ROUND(MAX(s), 6) AS max_s
    FROM win
    GROUP BY ROLLUP(event_type)
    ORDER BY g, event_type NULLS FIRST
    """


@pytest.mark.parametrize("seed", range(15))
def test_random_time_window_chains(spark, duck_ev, seed):
    sql = _gen_time_window_sql(seed)
    table(spark, SF_SMOKE, "events").createOrReplaceTempView("ev_prop")
    got = normalize(spark.sql(sql.format(ev="ev_prop")).toPandas())
    want = normalize(duck_ev.execute(sql.format(ev="events")).df())
    assert got == want, f"seed={seed}\n{sql}"


# --- set-similarity prefix filter: losslessness at random thresholds ---------


@pytest.mark.parametrize("tau", [0.4, 0.5, 0.7, 0.85])
def test_set_similarity_prefix_lossless_random_tau(spark, tau):
    """The AllPairs/PPJoin prefix filter must be LOSSLESS at ANY threshold,
    not just the registered query's 0.6: candidates may only come from
    rare-first prefixes, yet the output must equal the unpruned
    share-a-shingle quadratic computed Spark-side on the same shingle
    relation (VERDICT r9 ask #4 — fuzz the r8 surface)."""
    import pyspark.sql.functions as F

    from auron_spark.pipeline.dedup import _doc_shingles
    from auron_spark.pipeline.simjoin import _set_similarity_pairs
    from auron_spark.tables import Tables

    t = Tables(spark, SF_SMOKE)
    got = normalize(_set_similarity_pairs(t, tau).toPandas())
    sh = _doc_shingles(t).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
        .join(sizes.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a")
        .join(sizes.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b")
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    brute = normalize(
        inter.filter(jac >= tau)
        .select("doc_a", "doc_b", F.round(jac, 9).alias("jaccard"))
        .toPandas()
    )
    assert got == brute


@pytest.fixture(scope="module")
def duck3(oracle):
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def _gen_star_join_sql(seed: int) -> str:
    """Sixth chain shape: a randomized 3-4 table star join
    (lineitem -> orders -> customer [-> nation]) with per-table filters,
    a random join type on the outer leg, and a grouped rollup — the
    multi-join reordering surface the 2-table chains don't reach."""
    import random

    rng = random.Random(11_000_000 + seed)
    lo_q = rng.randint(0, 40)
    lo_p = rng.choice([0, 50_000, 150_000])
    seg = rng.choice(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    outer = rng.choice(["JOIN", "LEFT JOIN"])
    with_nation = rng.random() < 0.5
    key = "n_name" if with_nation else "c_mktsegment"
    nation_join = (
        "LEFT JOIN {na} ON n_nationkey = c_nationkey" if with_nation else ""
    )
    seg_pred = (
        f"AND c_mktsegment = '{seg}'" if rng.random() < 0.6 else ""
    )
    return f"""
    SELECT {key} AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(c_custkey) AS BIGINT) AS n_matched,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s
    FROM {{li}}
    JOIN {{ord}} ON o_orderkey = l_orderkey
               AND o_totalprice >= {lo_p}
    {outer} {{cu}} ON c_custkey = o_custkey {seg_pred}
    {nation_join}
    WHERE l_quantity >= {lo_q}
    GROUP BY {key}
    ORDER BY k NULLS FIRST
    """


@pytest.mark.parametrize("seed", range(15))
def test_random_star_joins(spark, duck3, seed):
    sql = _gen_star_join_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_star")
    table(spark, SF_SMOKE, "orders").createOrReplaceTempView("ord_star")
    table(spark, SF_SMOKE, "customer").createOrReplaceTempView("cu_star")
    table(spark, SF_SMOKE, "nation").createOrReplaceTempView("na_star")
    got = normalize(
        spark.sql(
            sql.format(li="li_star", ord="ord_star", cu="cu_star", na="na_star")
        ).toPandas()
    )
    want = normalize(
        duck3.execute(
            sql.format(li="lineitem", ord="orders", cu="customer", na="nation")
        ).df()
    )
    assert got == want, f"seed={seed}\n{sql}"


def test_permutation_test_invariants(spark):
    from auron_spark.registry import load_all
    SPECS = load_all()
    from tests.conftest import SF_DIR
    """eval_permutation_test: the observed diff must equal the directly
    computed group-mean difference, and the add-one-smoothed p must be
    consistent with the reported exceedance count."""
    from pyspark.sql import functions as F

    row = SPECS["eval_permutation_test"].build(spark, SF_DIR).collect()[0]
    ev = (
        table(spark, SF_DIR, "events")
        .where(F.col("event_type").isin("view", "click"))
        .select(
            F.col("value").cast("decimal(12,2)").alias("x"), "event_type"
        )
    )
    agg = ev.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("m")
    ).collect()
    means = {r["event_type"]: r["m"] for r in agg}
    direct = round(means["view"] - means["click"], 6)
    assert row["observed_diff"] == direct
    assert 0 <= row["n_as_extreme"] <= row["n_permutations"]
    assert row["p_value"] == round(
        (1.0 + row["n_as_extreme"]) / (1.0 + row["n_permutations"]), 6
    )


def test_best_split_stump_matches_numpy(spark):
    from auron_spark.registry import load_all
    SPECS = load_all()
    """feature_best_split_stump vs a direct numpy scan over every
    candidate threshold — the distributed cumulative-sum split search
    must pick the same threshold and gain as the O(n * thresholds)
    reference."""
    import numpy as np

    got = SPECS["feature_best_split_stump"].build(spark, SF_SMOKE).collect()[0]
    pdf = (
        table(spark, SF_SMOKE, "orders")
        .select("o_totalprice", "o_orderpriority")
        .toPandas()
    )
    x = pdf["o_totalprice"].astype(float).to_numpy()
    y = (pdf["o_orderpriority"] == "1-URGENT").to_numpy().astype(int)
    nt, post = len(x), y.sum()

    def gini(p):
        return 2.0 * p * (1.0 - p)

    gp = gini(post / nt)
    best = (-1.0, None)
    for t in np.unique(x)[:-1]:  # last value -> empty right side
        left = x <= t
        nl, pl = left.sum(), y[left].sum()
        nr, pr = nt - nl, post - y[left].sum()
        gain = gp - (nl * gini(pl / nl) + nr * gini(pr / nr)) / nt
        key = (round(gain, 9), -t)
        if best[1] is None or key > best[1]:
            best = (t, key)
    got_b = SPECS["feature_best_split_stump"].build(spark, SF_SMOKE).collect()[0]
    assert float(got_b["threshold"]) == round(float(best[0]), 2)
    assert abs(float(got_b["gini_gain"]) - best[1][0]) < 1e-6


# --- the k knob behind the bench vector-scale leg ---------------------------


@pytest.mark.parametrize("k", [4, 12])
def test_kmeans_k_knob_oracle_exact(spark, oracle, k):
    """`_lloyd`'s k parameter (bench.py's vector_scale leg runs the
    k-means-backed trainers at k = n/256) is oracle-exact at arbitrary k,
    not just the registered KM_K = 8: k enters each oracle's SQL only
    through the init CTE's LIMIT, so substituting it yields an exact
    k-parameterized oracle.  Proves the knob changes BLOCKING, never
    arithmetic."""
    from auron_spark.pipeline.similarity import (
        KM_K,
        sim_kmeans_lloyd,
        sim_knn_ivf_trained,
        sim_semantic_dedup,
    )
    from auron_spark.registry import load_all
    from tests.conftest import SF_DIR, assert_matches_oracle

    specs = load_all()
    for name, fn in (
        ("sim_kmeans_lloyd", sim_kmeans_lloyd),
        ("sim_semantic_dedup", sim_semantic_dedup),
        ("sim_knn_ivf_trained", sim_knn_ivf_trained),
    ):
        sql = specs[name].oracle
        assert sql.count(f"LIMIT {KM_K}") == 1, name
        sql = sql.replace(f"LIMIT {KM_K}", f"LIMIT {k}")
        assert_matches_oracle(fn(spark, SF_DIR, k), oracle, sql, f"{name}@k={k}")


def _embeddings_oracle(sf_dir: str):
    """A DuckDB connection with ``embeddings`` over ``sf_dir``'s table —
    the oracle side for a corpus the session fixture does not cover."""
    import os

    import duckdb

    path = f"{sf_dir}/embeddings.parquet"
    if os.path.isdir(path):  # written by Spark: a directory of parts
        path += "/*.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    return con


def _vector_oracle(name: str, k: int | None = None) -> str:
    """The registered oracle of ``name``; for the k-means-backed queries,
    trained at ``k`` clusters (k enters their SQL only through the init
    CTE's LIMIT, see test_kmeans_k_knob_oracle_exact)."""
    from auron_spark.pipeline.similarity import KM_K
    from auron_spark.registry import load_all

    sql = load_all()[name].oracle
    if k is not None:
        assert sql.count(f"LIMIT {KM_K}") == 1, name
        sql = sql.replace(f"LIMIT {KM_K}", f"LIMIT {k}")
    return sql


def _write_embeddings(spark, sf_dir: str, mat, labels=None, parts=None):
    """Write ``mat`` (rows = vec_ids 0..n-1) as ``sf_dir``'s embeddings
    table (float32 components, label 0 unless given)."""
    if labels is None:
        labels = [0] * len(mat)
    rows = [
        (i, [float(x) for x in mat[i]], int(labels[i])) for i in range(len(mat))
    ]
    data = spark.sparkContext.parallelize(rows, parts) if parts else rows
    spark.createDataFrame(
        data, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.mark.parametrize(
    "name",
    [
        "sim_knn_bruteforce_arrow",
        "sim_kmeans_lloyd",
        "sim_ivfpq_trained",
        "sim_semantic_dedup",
    ],
)
def test_vector_kernel_matches_oracle(spark, oracle, name):
    """Each exact Arrow kernel query equals its DuckDB oracle beyond the
    battery's sf0.01 run: at sf0.001, and for the k-means-backed ones at
    k = 16 clusters at sf0.01 (the bench leg's knob)."""
    from auron_spark.registry import load_all
    from tests.conftest import SF_DIR, assert_matches_oracle

    fn = load_all()[name].build
    smoke = _embeddings_oracle(SF_SMOKE)
    try:
        assert_matches_oracle(
            fn(spark, SF_SMOKE), smoke, _vector_oracle(name), f"{name}@sf0.001"
        )
    finally:
        smoke.close()
    if name != "sim_knn_bruteforce_arrow":
        assert_matches_oracle(
            fn(spark, SF_DIR, 16), oracle, _vector_oracle(name, 16),
            f"{name}@k=16",
        )


@pytest.mark.parametrize("seed", range(3))
def test_vector_kernels_match_oracle_on_random_corpora(spark, tmp_path, seed):
    """The exact kernels equal their oracles on ARBITRARY corpora, not
    just the driver fixtures: a seeded random embeddings table (skewed
    cluster sizes, planted exact duplicates, a zero-tail vector to probe
    the norm edge) is written to a temp dir and k-NN, SemDeDup and Lloyd
    run over it."""
    import numpy as np

    from auron_spark.pipeline.similarity import (
        sim_kmeans_lloyd,
        sim_knn_bruteforce_arrow,
        sim_semantic_dedup,
    )
    from tests.conftest import assert_matches_oracle

    rng = np.random.default_rng(424200 + seed)
    n = 120
    cent = rng.normal(size=(6, 64))
    cl = rng.integers(0, 6, size=n)
    mat = cent[cl] + 1.5 * rng.normal(size=(n, 64))
    mat[n - 1, 8:] = 0.0  # sparse tail vector: exercises small-norm path
    for i in range(19, n, 40):
        mat[i] = mat[i - 1]  # planted exact duplicates
    sf = str(tmp_path / "corpus")
    _write_embeddings(spark, sf, mat, cl)

    con = _embeddings_oracle(sf)
    for fn, k in (
        (sim_knn_bruteforce_arrow, None),
        (sim_semantic_dedup, 5),
        (sim_kmeans_lloyd, 5),
    ):
        df = fn(spark, sf) if k is None else fn(spark, sf, k)
        assert_matches_oracle(
            df, con, _vector_oracle(fn.__name__, k), (fn.__name__, seed)
        )
    con.close()


def test_knn_matches_oracle_on_block_bound_batches(spark, tmp_path):
    """`sim_knn_bruteforce_arrow` equals its oracle on a corpus whose
    Arrow batches are large enough (>= TOP_K * 64 rows) for the screen's
    block lower bound, with exact duplicates straddling 64-row blocks
    inside one batch and across batches, and a row count that is not a
    multiple of 64 (so every batch has a partial tail block)."""
    import numpy as np

    from auron_spark.pipeline.similarity import TOP_K, sim_knn_bruteforce_arrow
    from auron_spark.tables import min_parallel, table
    from tests.conftest import assert_matches_oracle

    # One file, hence one Arrow batch, per slice: >= 400 rows each, and an
    # odd row count.
    parts = max(4, spark.sparkContext.defaultParallelism)
    n = parts * 400 + 7
    rng = np.random.default_rng(5150)
    cent = rng.normal(size=(12, 64))
    mat = cent[rng.integers(0, 12, size=n)] + 0.8 * rng.normal(size=(n, 64))
    w = mat[0].copy()  # vec_id 0 is a query: its copies tie for its top-k
    for p in range(parts):
        for pos in (63, 64, 127, 128, 255, 256, 319, 320):
            mat[p * n // parts + pos] = w
    sf = str(tmp_path / "corpus")
    _write_embeddings(spark, sf, mat, parts=parts)
    sizes = (
        min_parallel(table(spark, sf, "embeddings")).rdd.glom().map(len).collect()
    )
    assert min(sizes) >= TOP_K * 64, sizes

    df = sim_knn_bruteforce_arrow(spark, sf)
    con = _embeddings_oracle(sf)
    assert_matches_oracle(
        df, con, _vector_oracle("sim_knn_bruteforce_arrow"), "block-bound"
    )
    con.close()
    top0 = [(nid, c) for q, nid, c in df.collect() if q == 0]
    assert len(top0) == TOP_K and all(c == 1.0 for _, c in top0)


def test_lloyd_apply_mean_rejects_ragged_embeddings():
    """`_lloyd_apply_mean` (driver only) copies complete per-dim means into
    the centroid and keeps an empty cluster's centroid; mean rows from a
    ragged corpus (missing dims, extra dims, or per-dim member counts that
    differ) fail with a ValueError that names the precondition, which
    survives ``python -O``."""
    from collections import namedtuple

    from auron_spark.pipeline.similarity import _lloyd_apply_mean

    R = namedtuple("R", "cid dim c n")
    cvs = [[0.0, 0.0, 0.0], [9.0, 9.0, 9.0]]
    _lloyd_apply_mean(cvs, [R(0, d, d + 0.5, 2) for d in range(3)])
    assert cvs == [[0.5, 1.5, 2.5], [9.0, 9.0, 9.0]]

    for rows in (
        [R(0, d, 1.0, 2) for d in range(2)],  # a member shorter than 3
        [R(0, d, 1.0, 2) for d in range(4)],  # a member longer than 3
        [R(0, 0, 1.0, 2), R(0, 1, 1.0, 2), R(0, 2, 1.0, 1)],  # mixed lengths
    ):
        with pytest.raises(ValueError, match="ragged embeddings"):
            _lloyd_apply_mean([[0.0] * 3, [0.0] * 3], rows)


def test_vector_kernels_degenerate_inputs(spark, tmp_path):
    """The exact kernels on adversarial corpora, each against its oracle:
    (a) a tiny corpus (fewer rows than TOP_K) must not leak the k-NN
    kernel's self-match sentinel rows, and Lloyd trains only as many
    centroids as there are vectors; (b) bitwise-duplicate vectors
    guarantee exact cosine TIES at the top-k boundary, which per-batch
    pruning must keep for the global window's id tie-break, and send
    every vector to one cluster while the rest carry their init centroid
    at n = 0; (c) a zero-norm embedding is outside the cosine's domain,
    so the k-NN and SemDeDup kernels fail loudly, never emit silent NaN;
    (d) a corpus with no query vector yields an empty k-NN result with the
    query's schema; (e) an empty corpus trains zero centroids, and IVF-PQ
    and Lloyd return empty frames instead of raising on 0-length model
    arrays."""
    import numpy as np
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from auron_spark.pipeline.similarity import (
        sim_ivfpq_trained,
        sim_kmeans_lloyd,
        sim_knn_bruteforce_arrow,
        sim_semantic_dedup,
    )
    from tests.conftest import assert_matches_oracle

    def check(fn, sf, k=None):
        df = fn(spark, sf) if k is None else fn(spark, sf, k)
        con = _embeddings_oracle(sf)
        try:
            assert_matches_oracle(
                df, con, _vector_oracle(fn.__name__, k), (fn.__name__, sf)
            )
        finally:
            con.close()
        return df

    rng = np.random.default_rng(7)
    # (a) tiny corpus: 4 vectors, one query (vec_id 0)
    tiny = str(tmp_path / "tiny")
    _write_embeddings(spark, tiny, rng.normal(size=(4, 64)))
    rows = check(sim_knn_bruteforce_arrow, tiny).collect()
    assert rows and all(q != n for q, n, _ in rows)  # no self rows leaked
    check(sim_kmeans_lloyd, tiny, 8)

    # (b) 8 bitwise copies of ONE vector: all pairwise cos exactly 1.0
    deg = str(tmp_path / "deg")
    base = rng.normal(size=64)
    _write_embeddings(spark, deg, np.tile(base, (8, 1)))
    check(sim_knn_bruteforce_arrow, deg)
    check(sim_semantic_dedup, deg, 3)
    check(sim_kmeans_lloyd, deg, 8)

    # (c) zero-norm vector: 3 identical vectors + the zero vector; with
    # k = 1 every vector shares ONE cluster, so the pair stage reaches it
    zer = str(tmp_path / "zer")
    _write_embeddings(spark, zer, np.vstack([np.tile(base, (3, 1)), np.zeros(64)]))
    for fn, kw in ((sim_knn_bruteforce_arrow, {}), (sim_semantic_dedup, {"k": 1})):
        with pytest.raises((PySparkException, Py4JJavaError, ValueError)):
            fn(spark, zer, **kw).collect()

    # (d) no vec_id satisfies the query predicate (vec_id % QUERY_MOD == 0
    # and < QUERY_CAP): vec_ids 1..6
    noq = str(tmp_path / "noq")
    spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=64)], 0) for i in range(1, 7)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{noq}/embeddings.parquet")
    df = check(sim_knn_bruteforce_arrow, noq)
    assert df.collect() == [] and df.columns == [
        "query_id", "neighbor_id", "cos_sim",
    ]

    # (e) empty corpus
    emp = str(tmp_path / "emp")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{emp}/embeddings.parquet")
    df = check(sim_ivfpq_trained, emp)
    assert df.collect() == [] and df.columns == [
        "query_id", "neighbor_id", "l2_dist", "rk",
    ]
    assert check(sim_kmeans_lloyd, emp).collect() == []


def test_freshness_lag_zero_span_yields_null_rate(spark, tmp_path):
    """An event type whose timestamps are ALL identical has zero span: the
    NULLIF guard (ADVICE r10) must yield a NULL arrival rate in BOTH
    engines instead of Spark's ANSI DIVIDE_BY_ZERO / DuckDB's error."""
    import datetime

    import duckdb

    from auron_spark.operators.relational2 import dq_freshness_lag
    from auron_spark.registry import load_all

    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, t0, 10, "ping", 1.0, "{}"),
        (2, t0, 11, "ping", 2.0, "{}"),  # zero span for "ping"
        (3, t0, 12, "click", 1.0, "{}"),
        (4, t0 + datetime.timedelta(hours=2), 13, "click", 2.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    sf = str(tmp_path / "zspan")
    spark.createDataFrame(rows, schema).write.parquet(f"{sf}/events.parquet")

    got = {
        r.event_type: (r.span_sec, r.events_per_hour)
        for r in dq_freshness_lag(spark, sf).collect()
    }
    assert got["ping"] == (0, None)
    assert got["click"] == (7200, 1.0)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    oracle_rows = con.execute(load_all()["dq_freshness_lag"].oracle).fetchall()
    con.close()
    assert {r[0]: (r[3], r[4]) for r in oracle_rows} == got


# --- GLM / preference family: independent numpy twins -------------------------


def test_logreg_newton_matches_numpy_irls(spark):
    """feature_logreg_newton's aggregate-expressed Newton steps must equal
    a direct numpy IRLS run on the same contingency grain (pulled via
    DuckDB, solved with np.linalg.solve) — an independent third
    implementation next to the shared-expression DuckDB oracle."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = (
        load_all()["feature_logreg_newton"].build(spark, SF_SMOKE).collect()[0]
    )
    con = duckdb.connect()
    g = con.execute(
        f"""
        SELECT CAST(l_quantity AS INT) x1,
               CAST(l_discount AS DECIMAL(4,2)) x2,
               COUNT(*) n,
               COUNT(*) FILTER (WHERE l_returnflag = 'R') k
        FROM read_parquet('{SF_SMOKE}/lineitem.parquet') GROUP BY 1, 2
        """
    ).fetchnumpy()
    X = np.stack(
        [np.ones(len(g["n"])), g["x1"].astype(float),
         np.array([float(v) for v in g["x2"]])], 1
    )
    n, k = g["n"].astype(float), g["k"].astype(float)
    beta = np.zeros(3)
    grad = None
    for _ in range(2):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = n * p * (1 - p)
        grad = X.T @ (k - n * p)
        beta = beta + np.linalg.solve((X * w[:, None]).T @ X, grad)
    assert got.n_rows == int(n.sum())
    assert abs(got.intercept - beta[0]) < 1e-5, (got, beta)
    # outputs are 6-dp rounded, so 5e-7 of quantization is expected
    assert abs(got.b_quantity - beta[1]) < 1e-6
    assert abs(got.b_discount - beta[2]) < 1e-5
    assert abs(got.grad_norm - float(np.linalg.norm(grad))) < 1e-3


def test_bradley_terry_matches_numpy_mm(spark):
    """eval_bradley_terry's two MM steps must equal a direct numpy MM on
    the same win matrix; the fitted order must also be consistent with
    raw win counts on this fixture (sanity: MM never inverts a dominance
    this one-sided)."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = {
        r.event_type: r
        for r in load_all()["eval_bradley_terry"].build(spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    m = con.execute(
        f"""
        WITH ut AS (
            SELECT user_id, event_type,
                   SUM(CAST(value AS DECIMAL(12,2))) AS v
            FROM read_parquet('{SF_SMOKE}/events.parquet')
            GROUP BY 1, 2
        )
        SELECT a.event_type i, b.event_type j, COUNT(*) n,
               SUM(CASE WHEN a.v > b.v THEN 1 ELSE 0 END) w
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        WHERE a.v <> b.v GROUP BY 1, 2
        """
    ).fetchall()
    types = sorted({r[0] for r in m} | {r[1] for r in m})
    idx = {t: x for x, t in enumerate(types)}
    K = len(types)
    N = np.zeros((K, K))
    W = np.zeros((K, K))
    for i, j, n, w in m:
        N[idx[i], idx[j]] = N[idx[j], idx[i]] = n
        W[idx[i], idx[j]] = w
        W[idx[j], idx[i]] = n - w
    pi = np.ones(K)
    for _ in range(2):
        D = np.array(
            [
                sum(N[i, j] / (pi[i] + pi[j]) for j in range(K) if j != i)
                for i in range(K)
            ]
        )
        pi = W.sum(1) / D
        pi = pi / pi.sum()
    for t in types:
        assert abs(got[t].pi - pi[idx[t]]) < 1e-5, (t, got[t].pi, pi[idx[t]])
        assert got[t].wins == int(W[idx[t]].sum())
    # rank consistency: strict ordering by fitted pi matches the output rnk
    by_pi = sorted(types, key=lambda t: (-pi[idx[t]], t))
    assert [got[t].rnk for t in by_pi] == list(range(1, K + 1))


# --- Multi-band conditional aggregates (the Q88 family) ----------------------

_BAND_PREDS = [
    "l_quantity BETWEEN {lo} AND {hi}",
    "l_discount >= 0.0{d}",
    "l_shipdate < DATE '199{y}-01-01'",
    "l_returnflag = '{rf}'",
    "l_tax <= 0.0{d}",
]


def _gen_multiband_sql(seed: int) -> str:
    """One-scan multi-band conditional aggregation (the TPC-DS Q88 shape
    `ds_time_band_counts` pins deterministically): N random band
    predicates as FILTER aggregates over one scan, optionally grouped,
    plus a cross-band derived ratio — the family where a wrong FILTER
    placement or a per-band rescan silently diverges."""
    import random

    rng = random.Random(seed)
    nbands = rng.randint(3, 6)
    bands = []
    for _ in range(nbands):
        tmpl = rng.choice(_BAND_PREDS)
        lo = rng.randint(1, 30)
        bands.append(
            tmpl.format(
                lo=lo,
                hi=lo + rng.randint(0, 20),
                d=rng.randint(1, 8),
                y=rng.randint(2, 8),
                rf=rng.choice(["A", "N", "R"]),
            )
        )
    cols = []
    for i, p in enumerate(bands):
        if rng.random() < 0.5:
            cols.append(
                f"CAST(COUNT(*) FILTER (WHERE {p}) AS BIGINT) AS b{i}"
            )
        else:
            cols.append(
                f"CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))) "
                f"FILTER (WHERE {p}), 0) AS DOUBLE) AS b{i}"
            )
    key = rng.choice(["", "l_returnflag", "l_linestatus", "l_linenumber"])
    sel = (f"{key}, " if key else "") + ",\n           ".join(cols)
    ratio = (
        "ROUND(CAST(b0 AS DOUBLE) / NULLIF(CAST(b0 AS DOUBLE) "
        "+ CAST(b1 AS DOUBLE), 0), 6) AS share01"
    )
    grp = f"GROUP BY {key}" if key else ""
    order = f"ORDER BY {key} NULLS FIRST" if key else ""
    return f"""
    WITH cells AS (
        SELECT {sel}
        FROM {{li}}
        {grp}
    )
    SELECT *, {ratio} FROM cells
    {order}
    """


@pytest.mark.parametrize("seed", range(24))
def test_random_multiband_aggregates(spark, duck2, seed):
    sql = _gen_multiband_sql(seed)
    table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView("li_mb")
    got = normalize(spark.sql(sql.format(li="li_mb")).toPandas())
    want = normalize(duck2.execute(sql.format(li="lineitem")).df())
    assert got == want, f"seed={seed}\n{sql}"


def test_poisson_glm_matches_numpy_irls(spark):
    """feature_poisson_glm's aggregate-expressed Newton steps must equal a
    direct numpy IRLS (log link, log-mean init) on the same calendar
    grain, including the deviance."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["feature_poisson_glm"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    g = con.execute(
        f"""
        SELECT CAST(ts AS DATE) d, COUNT(*) y,
               CASE WHEN isodow(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END wk
        FROM read_parquet('{SF_SMOKE}/events.parquet')
        GROUP BY 1, 3 ORDER BY 1
        """
    ).fetchall()
    y = np.array([r[1] for r in g], float)
    wk = np.array([r[2] for r in g], float)
    # Trend from the ACTUAL dates (ADVICE r12 #4): the query defines it as
    # date_diff from the minimum date, so a calendar gap in a future
    # fixture must not make the twin diverge (np.arange only matches on a
    # gap-free calendar).
    dates = [r[0] for r in g]
    dd = np.array([(d - dates[0]).days for d in dates], float)
    X = np.stack([np.ones_like(y), wk, dd - dd.mean()], 1)
    beta = np.array([np.log(y.mean()), 0.0, 0.0])
    grad = None
    for _ in range(2):
        mu = np.exp(X @ beta)
        grad = X.T @ (y - mu)
        beta = beta + np.linalg.solve((X * mu[:, None]).T @ X, grad)
    mu = np.exp(X @ beta)
    dev = float(2 * np.sum(y * np.log(y / mu) - (y - mu)))
    assert got.n_days == len(y)
    assert abs(got.intercept - beta[0]) < 1e-5, (got, beta)
    assert abs(got.b_weekend - beta[1]) < 1e-5
    assert abs(got.b_trend - beta[2]) < 1e-6
    assert abs(got.grad_norm - float(np.linalg.norm(grad))) < 1e-3
    assert abs(got.deviance - dev) < 1e-3


def test_auc_delong_matches_numpy(spark):
    """eval_auc_delong_ci must equal a direct numpy midrank DeLong
    implementation (independent third code path)."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["eval_auc_delong_ci"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT 1.0/(1.0+exp(-(value-50.0)/20.0)) s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y
        FROM read_parquet('{SF_SMOKE}/events.parquet')
        """
    ).fetchnumpy()
    s, y = rows["s"], rows["y"]

    def midranks(x):
        order = np.argsort(x, kind="stable")
        xs = x[order]
        r = np.empty(len(x))
        i = 0
        while i < len(x):
            j = i
            while j < len(x) and xs[j] == xs[i]:
                j += 1
            r[order[i:j]] = (i + j + 1) / 2.0
            i = j
        return r

    pos, neg = s[y == 1], s[y == 0]
    n1, n0 = len(pos), len(neg)
    allr = midranks(np.concatenate([pos, neg]))
    v10 = (allr[:n1] - midranks(pos)) / n0
    v01 = 1 - (allr[n1:] - midranks(neg)) / n1
    auc = v10.mean()
    se = float(np.sqrt(v10.var(ddof=1) / n1 + v01.var(ddof=1) / n0))
    assert got.n_pos == n1 and got.n_neg == n0
    assert abs(got.auc - auc) < 1e-6
    assert abs(got.se_delong - se) < 1e-6
    assert abs(got.ci_lo - (auc - 1.96 * se)) < 2e-6
    assert abs(got.ci_hi - (auc + 1.96 * se)) < 2e-6


def test_platt_scaling_matches_numpy_irls(spark):
    """feature_platt_scaling's three aggregate-expressed Newton steps must
    equal a direct numpy IRLS on the same rounded-score grain, including
    both Brier scores."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["feature_platt_scaling"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    g = con.execute(
        f"""
        SELECT ROUND(1.0/(1.0+exp(-(value-50.0)/20.0)), 3) x,
               COUNT(*) n,
               SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) k
        FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY 1
        """
    ).fetchnumpy()
    x = g["x"].astype(float)
    n = g["n"].astype(float)
    k = g["k"].astype(float)
    X = np.stack([np.ones_like(x), x], 1)
    beta = np.zeros(2)
    grad = None
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = n * p * (1 - p)
        grad = X.T @ (k - n * p)
        beta = beta + np.linalg.solve((X * w[:, None]).T @ X, grad)
    p = 1.0 / (1.0 + np.exp(-(X @ beta)))
    brier_platt = float(np.sum(n * p * p - 2 * p * k + k) / n.sum())
    brier_raw = float(np.sum(n * x * x - 2 * x * k + k) / n.sum())
    assert got.n_rows == int(n.sum())
    assert abs(got.intercept - beta[0]) < 1e-5
    assert abs(got.slope - beta[1]) < 1e-5
    assert abs(got.grad_norm - float(np.linalg.norm(grad))) < 1e-3
    assert abs(got.brier_raw - brier_raw) < 1e-6
    assert abs(got.brier_platt - brier_platt) < 1e-6


# --- ALS alternating round (round 13) ----------------------------------------


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, "/root/testdata/sf0.01"])
def test_als_alternating_round_monotone(spark, sf_dir):
    """The property that makes `rec_als_alternating_round` ALS and not
    arithmetic: the item half-step exactly minimizes the regularized
    objective J = SE + lambda*(|P|^2 + |Q|^2) over Q with P1 fixed, so
    obj_item_step <= obj_user_step is a theorem; on both fixtures the
    plain RMSE is also non-increasing (VERDICT r12 ask #2), and a numpy
    replay of the two closed-form ridge solves reproduces both RMSEs."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["rec_als_alternating_round"].build(spark, sf_dir).collect()
    assert len(got) == 1
    row = got[0]
    assert row.obj_item_step <= row.obj_user_step, row
    assert row.rmse_item_step <= row.rmse_user_step, row

    # numpy twin: rebuild ratings + md5 factors in DuckDB, run the two
    # exact ridge solves with dense linear algebra.
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH r AS (
            SELECT user_id, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) / 100.0 AS r
            FROM read_parquet('{sf_dir}/events.parquet')
            GROUP BY user_id, event_type
        )
        SELECT user_id, event_type, r,
               (CAST(('0x' || substr(md5(event_type), 1, 4)) AS BIGINT)
                % 1000) / 1000.0 AS q1,
               (CAST(('0x' || substr(md5(event_type), 5, 4)) AS BIGINT)
                % 1000) / 1000.0 AS q2
        FROM r
        """
    ).fetchall()
    users = sorted({r[0] for r in rows})
    items = sorted({r[1] for r in rows})
    ui = {u: i for i, u in enumerate(users)}
    ii = {t: i for i, t in enumerate(items)}
    lam = 0.1
    Q0 = np.zeros((len(items), 2))
    obs = []
    for u, t, r, q1, q2 in rows:
        Q0[ii[t]] = (q1, q2)
        obs.append((ui[u], ii[t], r))
    # user step: per-user ridge vs Q0
    P1 = np.zeros((len(users), 2))
    for uidx in range(len(users)):
        mine = [(i, r) for (u, i, r) in obs if u == uidx]
        A = sum(np.outer(Q0[i], Q0[i]) for i, _ in mine) + lam * np.eye(2)
        b = sum(r * Q0[i] for i, r in mine)
        P1[uidx] = np.linalg.solve(A, b)
    se_u = sum((r - P1[u] @ Q0[i]) ** 2 for u, i, r in obs)
    # item step: per-item ridge vs P1
    Q1 = np.zeros_like(Q0)
    for iidx in range(len(items)):
        mine = [(u, r) for (u, i, r) in obs if i == iidx]
        A = sum(np.outer(P1[u], P1[u]) for u, _ in mine) + lam * np.eye(2)
        b = sum(r * P1[u] for u, r in mine)
        Q1[iidx] = np.linalg.solve(A, b)
    se_i = sum((r - P1[u] @ Q1[i]) ** 2 for u, i, r in obs)
    n = len(obs)
    assert row.n_ratings == n
    assert abs(row.rmse_user_step - np.sqrt(se_u / n)) < 1e-5, row
    assert abs(row.rmse_item_step - np.sqrt(se_i / n)) < 1e-5, row


def test_ece_after_platt_matches_numpy(spark):
    """eval_ece_after_platt: the numpy IRLS twin of the Platt fit,
    extended with the 10-bin ECE device on both the raw and recalibrated
    grain probabilities — and the headline claim itself: Platt must
    strictly reduce ECE on the fixture."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["eval_ece_after_platt"].build(spark, SF_SMOKE).collect()[0]
    assert got.ece_after < got.ece_before, got
    con = duckdb.connect()
    g = con.execute(
        f"""
        SELECT ROUND(1.0/(1.0+exp(-(value-50.0)/20.0)), 3) x,
               COUNT(*) n,
               SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) k
        FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY 1
        """
    ).fetchnumpy()
    x = g["x"].astype(float)
    n = g["n"].astype(float)
    k = g["k"].astype(float)
    X = np.stack([np.ones_like(x), x], 1)
    beta = np.zeros(2)
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = n * p * (1 - p)
        beta = beta + np.linalg.solve(
            (X * w[:, None]).T @ X, X.T @ (k - n * p)
        )
    pc = 1.0 / (1.0 + np.exp(-(X @ beta)))

    def ece(p):
        bins = np.minimum((p * 10).astype(int), 9)
        tot, s = 0.0, 0.0
        worst = 0.0
        for b in np.unique(bins):
            m = bins == b
            nb = n[m].sum()
            gap = abs(k[m].sum() / nb - (n[m] * p[m]).sum() / nb)
            s += nb * gap
            tot += nb
            worst = max(worst, gap)
        return s / tot, worst

    eb, mb = ece(x)
    ea, ma = ece(pc)
    assert abs(got.intercept - beta[0]) < 1e-5
    assert abs(got.slope - beta[1]) < 1e-5
    assert abs(got.ece_before - eb) < 1e-5
    assert abs(got.mce_before - mb) < 1e-5
    assert abs(got.ece_after - ea) < 1e-5
    assert abs(got.mce_after - ma) < 1e-5


def test_krippendorff_nominal_matches_bruteforce_coincidence(spark):
    """eval_krippendorff_nominal's two-reduction closed form must equal
    the TEXTBOOK coincidence-matrix construction (build o_ck = sum_u
    n_uc(n_uk - delta_ck)/(m_u - 1), then alpha = 1 - D_o/D_e with
    D_e = sum_{c!=k} n_c n_k/(n-1)) computed per language in plain
    python over the same deterministic rater labels — and the fixture
    must actually exercise >= 3 observed categories somewhere, or the
    generalization claim is vacuous."""
    import duckdb

    from auron_spark.registry import load_all

    got = {
        r.lang: r
        for r in load_all()["eval_krippendorff_nominal"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT lang,
               CASE WHEN n_chars < 150 THEN 'S' WHEN n_chars < 300 THEN 'M'
                    WHEN n_chars < 450 THEN 'L' ELSE 'XL' END,
               CASE WHEN len(string_split(text, ' ')) < 27 THEN 'S'
                    WHEN len(string_split(text, ' ')) < 54 THEN 'M'
                    WHEN len(string_split(text, ' ')) < 81 THEN 'L'
                    ELSE 'XL' END,
               CASE WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 14 THEN 'S'
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 22 THEN 'M'
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 28 THEN 'L'
                    ELSE 'XL' END
        FROM read_parquet('{SF_SMOKE}/documents.parquet')
        """
    ).fetchall()
    by_lang: dict[str, list[tuple[str, str, str]]] = {}
    for lang, a, b, c in rows:
        by_lang.setdefault(lang, []).append((a, b, c))
    saw_3plus = False
    for lang, units in by_lang.items():
        cats = sorted({c for u in units for c in u})
        saw_3plus = saw_3plus or len(cats) >= 3
        m = 3
        # coincidence matrix
        o = {(c, k): 0.0 for c in cats for k in cats}
        for u in units:
            counts = {c: u.count(c) for c in set(u)}
            for c in counts:
                for k in counts:
                    pairs = counts[c] * (counts[k] - (1 if c == k else 0))
                    o[(c, k)] += pairs / (m - 1)
        n_c = {c: sum(o[(c, k)] for k in cats) for c in cats}
        n = sum(n_c.values())
        d_o = sum(o[(c, k)] for c in cats for k in cats if c != k)
        d_e = sum(
            n_c[c] * n_c[k] for c in cats for k in cats if c != k
        ) / (n - 1)
        alpha = 1.0 - d_o / d_e
        assert got[lang].n_units == len(units)
        assert got[lang].n_ratings == int(n)
        assert got[lang].n_categories == len(cats)
        assert abs(got[lang].alpha - alpha) < 1e-6, (lang, got[lang], alpha)
    assert saw_3plus, "fixture never exercised >= 3 categories"


def test_als_implicit_step_matches_numpy_hkv(spark):
    """rec_als_implicit_step must equal the DENSE Hu-Koren-Volinsky
    formulation computed in numpy: for each user solve
    (Q^T C_u Q + lambda I) p = Q^T C_u pref with the FULL catalog (p=0 /
    c=1 for unobserved items) — the query's Gram-correction shortcut and
    the dense solve are algebraically identical, which is the whole
    point of the trick."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["rec_als_implicit_step"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH r AS (
            SELECT user_id, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) / 100.0 AS r
            FROM read_parquet('{SF_SMOKE}/events.parquet')
            GROUP BY user_id, event_type
        )
        SELECT user_id, event_type, r,
               (CAST(('0x' || substr(md5(event_type), 1, 4)) AS BIGINT)
                % 1000) / 1000.0 AS q1,
               (CAST(('0x' || substr(md5(event_type), 5, 4)) AS BIGINT)
                % 1000) / 1000.0 AS q2
        FROM r
        """
    ).fetchall()
    users = sorted({r[0] for r in rows})
    items = sorted({r[1] for r in rows})
    ui = {u: i for i, u in enumerate(users)}
    ii = {t: i for i, t in enumerate(items)}
    alpha, lam = 10.0, 0.1
    Q = np.zeros((len(items), 2))
    R = np.zeros((len(users), len(items)))
    obs = np.zeros_like(R, dtype=bool)
    for u, t, r, q1, q2 in rows:
        Q[ii[t]] = (q1, q2)
        R[ui[u], ii[t]] = r
        obs[ui[u], ii[t]] = True
    P = np.zeros((len(users), 2))
    for u in range(len(users)):
        C = np.diag(1.0 + alpha * R[u])          # c=1 where unobserved
        pref = obs[u].astype(float)              # p=1 observed, 0 else
        A = Q.T @ C @ Q + lam * np.eye(2)
        b = Q.T @ (np.diag(C) * pref)
        P[u] = np.linalg.solve(A, b)
    # rating-weighted means over observed pairs, like the query
    us, its = np.where(obs)
    prefs = np.einsum("ij,ij->i", P[us], Q[its])
    assert got.n_users == len(users)
    assert got.n_obs_pairs == len(us)
    assert abs(got.mean_p1 - P[us, 0].mean()) < 1e-5, got
    assert abs(got.mean_p2 - P[us, 1].mean()) < 1e-5, got
    assert abs(got.mean_pref_obs - prefs.mean()) < 1e-5, got


def test_fleiss_kappa_matches_bruteforce(spark):
    """eval_fleiss_kappa's reduction identities (sum_c n_uc^2 = 9 - 2 d_u;
    P_e from squared marginals) must equal the TEXTBOOK per-unit
    construction: P_u = (sum_c n_uc^2 - m)/(m(m-1)) averaged over units,
    P_e = sum_c p_c^2, kappa = (P_bar - P_e)/(1 - P_e)."""
    import duckdb

    from auron_spark.registry import load_all

    got = {
        r.lang: r
        for r in load_all()["eval_fleiss_kappa"].build(spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT lang,
               CASE WHEN n_chars < 150 THEN 'S' WHEN n_chars < 300 THEN 'M'
                    WHEN n_chars < 450 THEN 'L' ELSE 'XL' END,
               CASE WHEN len(string_split(text, ' ')) < 27 THEN 'S'
                    WHEN len(string_split(text, ' ')) < 54 THEN 'M'
                    WHEN len(string_split(text, ' ')) < 81 THEN 'L'
                    ELSE 'XL' END,
               CASE WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 14 THEN 'S'
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 22 THEN 'M'
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 28 THEN 'L'
                    ELSE 'XL' END
        FROM read_parquet('{SF_SMOKE}/documents.parquet')
        """
    ).fetchall()
    by_lang: dict[str, list[tuple[str, str, str]]] = {}
    for lang, a, b, c in rows:
        by_lang.setdefault(lang, []).append((a, b, c))
    m = 3
    for lang, units in by_lang.items():
        n_units = len(units)
        p_us = []
        marg: dict[str, int] = {}
        for labels in units:
            counts: dict[str, int] = {}
            for c in labels:
                counts[c] = counts.get(c, 0) + 1
                marg[c] = marg.get(c, 0) + 1
            p_us.append(
                (sum(v * v for v in counts.values()) - m) / (m * (m - 1))
            )
        p_bar = sum(p_us) / n_units
        total = sum(marg.values())
        p_e = sum((v / total) ** 2 for v in marg.values())
        kappa = (p_bar - p_e) / (1.0 - p_e)
        assert got[lang].n_units == n_units
        assert abs(got[lang].p_bar - p_bar) < 1e-6, (lang, got[lang], p_bar)
        assert abs(got[lang].p_e - p_e) < 1e-6
        assert abs(got[lang].kappa - kappa) < 1e-6, (lang, got[lang], kappa)


def test_kendall_tau_b_matches_numpy_pairs(spark):
    """stats_kendall_tau_b's cell-grain pair counting must equal direct
    O(n^2) pair enumeration over the per-user values in numpy (the
    definitionally-obvious third code path)."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["stats_kendall_tau_b"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT CAST(COUNT(*) AS BIGINT),
               CAST(floor(SUM(CAST(value AS DECIMAL(12,2))) / 10) AS BIGINT)
        FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY user_id
        """
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.int64)
    y = np.array([r[1] for r in rows], dtype=np.int64)
    n = len(x)
    dx = np.sign(x[:, None] - x[None, :])
    dy = np.sign(y[:, None] - y[None, :])
    prod = dx * dy
    iu = np.triu_indices(n, 1)
    conc = int((prod[iu] > 0).sum())
    disc = int((prod[iu] < 0).sum())
    n0 = n * (n - 1) // 2
    n1 = sum(
        t * (t - 1) // 2 for t in np.unique(x, return_counts=True)[1]
    )
    n2 = sum(
        t * (t - 1) // 2 for t in np.unique(y, return_counts=True)[1]
    )
    tau = (conc - disc) / np.sqrt(float(n0 - n1) * (n0 - n2))
    assert got.n_users == n
    assert got.conc == conc and got.disc == disc
    assert got.ties_x == n1 and got.ties_y == n2
    assert abs(got.tau_b - tau) < 1e-6, (got, tau)


def test_logreg_fit_quality_matches_numpy(spark):
    """feature_logreg_fit_quality: numpy IRLS on the same contingency
    grain must reproduce ll_model, the closed-form ll_null, the LR
    statistic and McFadden's R^2 — and the fitted model must beat the
    base rate (lr_stat > 0) or the whole readout is vacuous."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = (
        load_all()["feature_logreg_fit_quality"]
        .build(spark, SF_SMOKE)
        .collect()[0]
    )
    con = duckdb.connect()
    g = con.execute(
        f"""
        SELECT CAST(l_quantity AS INT) x1,
               CAST(CAST(l_discount AS DECIMAL(4,2)) AS DOUBLE) x2,
               COUNT(*) n,
               COUNT(*) FILTER (WHERE l_returnflag = 'R') k
        FROM read_parquet('{SF_SMOKE}/lineitem.parquet') GROUP BY 1, 2
        """
    ).fetchnumpy()
    x1 = g["x1"].astype(float)
    x2 = g["x2"].astype(float)
    n = g["n"].astype(float)
    k = g["k"].astype(float)
    X = np.stack([np.ones_like(x1), x1, x2], 1)
    beta = np.zeros(3)
    for _ in range(2):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = n * p * (1 - p)
        beta = beta + np.linalg.solve(
            (X * w[:, None]).T @ X, X.T @ (k - n * p)
        )
    p = 1.0 / (1.0 + np.exp(-(X @ beta)))
    ll_m = float(np.sum(k * np.log(p) + (n - k) * np.log(1 - p)))
    p0 = k.sum() / n.sum()
    ll_0 = float(k.sum() * np.log(p0) + (n.sum() - k.sum()) * np.log(1 - p0))
    assert got.n_rows == int(n.sum())
    assert abs(got.ll_model - ll_m) < 1e-4, (got, ll_m)
    assert abs(got.ll_null - ll_0) < 1e-4
    assert abs(got.lr_stat - 2 * (ll_m - ll_0)) < 1e-3
    assert abs(got.mcfadden_r2 - (1 - ll_m / ll_0)) < 1e-6
    assert got.lr_stat > 0, got


def test_krippendorff_interval_matches_bruteforce(spark):
    """eval_krippendorff_interval must equal the textbook WEIGHTED
    coincidence-matrix alpha (metric delta^2 = squared rank distance)
    built in plain python — and reduce to the nominal construction when
    the metric is replaced by 0/1 (sanity identity on the same data)."""
    import duckdb

    from auron_spark.registry import load_all

    got = {
        r.lang: r
        for r in load_all()["eval_krippendorff_interval"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT lang,
               CASE WHEN n_chars < 150 THEN 1 WHEN n_chars < 300 THEN 2
                    WHEN n_chars < 450 THEN 3 ELSE 4 END,
               CASE WHEN len(string_split(text, ' ')) < 27 THEN 1
                    WHEN len(string_split(text, ' ')) < 54 THEN 2
                    WHEN len(string_split(text, ' ')) < 81 THEN 3
                    ELSE 4 END,
               CASE WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 14 THEN 1
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 22 THEN 2
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 28 THEN 3
                    ELSE 4 END
        FROM read_parquet('{SF_SMOKE}/documents.parquet')
        """
    ).fetchall()
    by_lang: dict[str, list[tuple[int, int, int]]] = {}
    for lang, a, b, c in rows:
        by_lang.setdefault(lang, []).append((a, b, c))
    m = 3
    for lang, units in by_lang.items():
        cats = sorted({c for u in units for c in u})
        o = {(c, k): 0.0 for c in cats for k in cats}
        for u in units:
            counts = {c: u.count(c) for c in set(u)}
            for c in counts:
                for k in counts:
                    o[(c, k)] += (
                        counts[c] * (counts[k] - (1 if c == k else 0))
                    ) / (m - 1)
        n_c = {c: sum(o[(c, k)] for k in cats) for c in cats}
        n = sum(n_c.values())
        d_o = sum(
            o[(c, k)] * (c - k) ** 2 for c in cats for k in cats if c != k
        )
        d_e = sum(
            n_c[c] * n_c[k] * (c - k) ** 2
            for c in cats
            for k in cats
            if c != k
        ) / (n - 1)
        alpha = 1.0 - d_o / d_e
        assert got[lang].n_units == len(units)
        assert abs(got[lang].alpha - alpha) < 1e-6, (lang, got[lang], alpha)


@given(
    st.lists(
        st.tuples(
            st.integers(1, 4), st.integers(1, 4), st.integers(1, 4)
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_agreement_closed_forms_identity(units):
    """The algebra behind eval_krippendorff_nominal/_interval and
    eval_fleiss_kappa, fuzzed over RANDOM rating tables including
    degenerate ones (unanimous strata, single-category marginals):
    each query's two-reduction closed form must equal the textbook
    coincidence/per-unit construction, and exactly when the textbook
    denominator is zero the closed form must be undefined too (the
    NULLIF guard's contract)."""
    m = 3
    cats = sorted({c for u in units for c in u})
    n_units = len(units)
    n = m * n_units
    disg = sum(
        (a != b) + (a != c) + (b != c) for a, b, c in units
    )
    d2 = sum(
        (a - b) ** 2 + (a - c) ** 2 + (b - c) ** 2 for a, b, c in units
    )
    marg = {c: 0 for c in cats}
    for u in units:
        for c in u:
            marg[c] += 1
    sum_sq = sum(v * v for v in marg.values())
    # textbook coincidence matrix
    o = {(c, k): 0.0 for c in cats for k in cats}
    for u in units:
        counts = {c: u.count(c) for c in set(u)}
        for c in counts:
            for k in counts:
                o[(c, k)] += (
                    counts[c] * (counts[k] - (1 if c == k else 0))
                ) / (m - 1)
    n_c = {c: sum(o[(c, k)] for k in cats) for c in cats}
    nn = sum(n_c.values())

    def textbook_alpha(metric):
        d_o = sum(
            o[(c, k)] * metric(c, k) for c in cats for k in cats if c != k
        )
        d_e = sum(
            n_c[c] * n_c[k] * metric(c, k)
            for c in cats
            for k in cats
            if c != k
        ) / (nn - 1)
        return None if d_e == 0 else 1.0 - d_o / d_e

    # nominal: closed form 1 - (n-1) disg / (n^2 - sum_sq)
    denom_nom = n * n - sum_sq
    closed_nom = (
        None if denom_nom == 0 else 1.0 - (n - 1) * disg / denom_nom
    )
    want_nom = textbook_alpha(lambda c, k: 1.0)
    assert (closed_nom is None) == (want_nom is None)
    if want_nom is not None:
        assert abs(closed_nom - want_nom) < 1e-9
    # interval: closed form 1 - (n-1) d2 / (2 * sum_{c<k} n_c n_k (c-k)^2)
    de_pairs = sum(
        marg[c] * marg[k] * (c - k) ** 2
        for i, c in enumerate(cats)
        for k in cats[i + 1:]
    )
    closed_int = (
        None if de_pairs == 0 else 1.0 - (n - 1) * d2 / (2.0 * de_pairs)
    )
    want_int = textbook_alpha(lambda c, k: (c - k) ** 2)
    assert (closed_int is None) == (want_int is None)
    if want_int is not None:
        assert abs(closed_int - want_int) < 1e-9
    # fleiss: P_bar from disg identity, P_e from squared marginals
    p_bar = 1.0 - disg / (3.0 * n_units)
    p_bar_direct = sum(
        (sum(v * v for v in {c: u.count(c) for c in set(u)}.values()) - m)
        / (m * (m - 1))
        for u in units
    ) / n_units
    assert abs(p_bar - p_bar_direct) < 1e-9
    p_e = sum_sq / (n * n)
    kappa = None if p_e == 1.0 else (p_bar - p_e) / (1.0 - p_e)
    if kappa is not None and all(v == 0 or v == n for v in marg.values()):
        # single-category marginals must have been caught by p_e == 1
        raise AssertionError("degenerate marginals not caught")


def test_agreement_degenerate_stratum_nulls(spark, tmp_path):
    """End-to-end NULLIF-guard proof: a degenerate corpus where every
    rater puts every document in the same single category (unanimous,
    single-category marginals) must yield NULL alpha/kappa in BOTH
    engines — not a division error and not an engine-divergent inf."""
    import duckdb

    from auron_spark.registry import load_all

    docs = spark.createDataFrame(
        [(i, "tiny text", "xx", "s", 9) for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "degenerate")
    docs.coalesce(1).write.parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    specs = load_all()
    for name, col in [
        ("eval_krippendorff_nominal", "alpha"),
        ("eval_krippendorff_interval", "alpha"),
        ("eval_fleiss_kappa", "kappa"),
    ]:
        got = specs[name].build(spark, d).collect()
        want = con.execute(specs[name].oracle).fetchall()
        assert len(got) == len(want) == 1, (name, got, want)
        assert got[0][col] is None, (name, got)
        # oracle row: last column is the statistic in every one of these
        assert want[0][-1] is None, (name, want)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, "/root/testdata/sf0.01"])
def test_als_convergence_trajectory_monotone(spark, sf_dir):
    """rec_als_convergence: the SIX-value objective sequence (user/item
    half-steps x 3 rounds) must be non-increasing — each half-step
    exactly minimizes J over its block, so any increase is an
    implementation bug, not data; and a numpy replay of the full
    three-round alternation must reproduce every RMSE."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    rows = (
        load_all()["rec_als_convergence"]
        .build(spark, sf_dir)
        .orderBy("round")
        .collect()
    )
    assert [r.round for r in rows] == [1, 2, 3]
    seq = []
    for r in rows:
        seq += [r.obj_user_step, r.obj_item_step]
    for a, b in zip(seq, seq[1:]):
        assert b <= a + 1e-9, seq
    # numpy replay
    con = duckdb.connect()
    raw = con.execute(
        f"""
        WITH r AS (
            SELECT user_id, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) / 100.0 AS r
            FROM read_parquet('{sf_dir}/events.parquet')
            GROUP BY user_id, event_type
        )
        SELECT user_id, event_type, r,
               (CAST(('0x' || substr(md5(event_type), 1, 4)) AS BIGINT)
                % 1000) / 1000.0 AS q1,
               (CAST(('0x' || substr(md5(event_type), 5, 4)) AS BIGINT)
                % 1000) / 1000.0 AS q2
        FROM r
        """
    ).fetchall()
    users = sorted({x[0] for x in raw})
    items = sorted({x[1] for x in raw})
    ui = {u: i for i, u in enumerate(users)}
    ii = {t: i for i, t in enumerate(items)}
    lam = 0.1
    Q = np.zeros((len(items), 2))
    obs = []
    for u, t, r, q1, q2 in raw:
        Q[ii[t]] = (q1, q2)
        obs.append((ui[u], ii[t], r))
    n = len(obs)
    for k, row in enumerate(rows, start=1):
        P = np.zeros((len(users), 2))
        for uidx in range(len(users)):
            mine = [(i, r) for (u, i, r) in obs if u == uidx]
            A = sum(np.outer(Q[i], Q[i]) for i, _ in mine) + lam * np.eye(2)
            b = sum(r * Q[i] for i, r in mine)
            P[uidx] = np.linalg.solve(A, b)
        se_u = sum((r - P[u] @ Q[i]) ** 2 for u, i, r in obs)
        Qn = np.zeros_like(Q)
        for iidx in range(len(items)):
            mine = [(u, r) for (u, i, r) in obs if i == iidx]
            A = sum(np.outer(P[u], P[u]) for u, _ in mine) + lam * np.eye(2)
            b = sum(r * P[u] for u, r in mine)
            Qn[iidx] = np.linalg.solve(A, b)
        se_i = sum((r - P[u] @ Qn[i]) ** 2 for u, i, r in obs)
        assert abs(row.rmse_user_step - np.sqrt(se_u / n)) < 1e-4, (k, row)
        assert abs(row.rmse_item_step - np.sqrt(se_i / n)) < 1e-4, (k, row)
        Q = Qn


def test_sequence_gaps_seam_handoff_equals_global_lag(spark):
    """dq_sequence_gaps_scale's boundary handoff must reproduce the
    naive global-lag gap set EXACTLY (every adjacent pair seen once:
    interior pairs by the partitioned lag, seam pairs by the collected
    extrema) — checked on the FULL gap relation, not just the top-5
    head, at both fixtures."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from auron_spark.tables import table

    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        keys = (
            table(spark, sf, "orders")
            .where("o_orderpriority = '1-URGENT'")
            .selectExpr("o_orderkey AS k")
            .distinct()
        )
        naive = (
            keys.select(
                F.lag("k").over(Window.orderBy("k")).alias("k_prev"), "k"
            )
            .where("k_prev IS NOT NULL AND k - k_prev > 1")
            .selectExpr("k_prev + 1 AS s", "k - 1 AS e")
        )
        want = sorted((r.s, r.e) for r in naive.collect())
        # drive the PRODUCTION operator (review r13 #4: the pre-review
        # draft tested a hand-copied reimplementation), on the full gap
        # relation — the query's registered head is only the top-5
        from auron_spark.operators.window import distributed_adjacent_pairs

        adj = distributed_adjacent_pairs(keys, "k")
        got = sorted(
            (r.s, r.e)
            for r in adj.where("k - k_prev > 1")
            .selectExpr("k_prev + 1 AS s", "k - 1 AS e")
            .collect()
        )
        assert got == want, (sf, len(got), len(want))


def test_adjacent_pairs_non_integral_key_types(spark):
    """distributed_adjacent_pairs derives the seam-row schema from the
    key dtype (ADVICE r13 #4) — the device must produce the exact global
    adjacent-pair set for DOUBLE, DECIMAL, and TIMESTAMP keys, not just
    the long keys its first caller used (the hardcoded `k_prev long`
    schema crashed doubles and silently widened ints)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from auron_spark.operators.window import distributed_adjacent_pairs
    from auron_spark.tables import table

    li = table(spark, SF_SMOKE, "lineitem")
    for expr in (
        "CAST(l_extendedprice AS DOUBLE) AS k",
        "l_extendedprice AS k",  # decimal
        "CAST(l_shipdate AS TIMESTAMP) AS k",
    ):
        keys = li.selectExpr(expr).distinct()
        naive = sorted(
            (r.k_prev, r.k)
            for r in keys.select(
                F.lag("k").over(Window.orderBy("k")).alias("k_prev"), "k"
            )
            .where("k_prev IS NOT NULL")
            .collect()
        )
        adj = distributed_adjacent_pairs(keys, "k")
        assert dict(adj.dtypes)["k_prev"] == dict(keys.dtypes)["k"], expr
        got = sorted((r.k_prev, r.k) for r in adj.collect())
        assert got == naive, (expr, len(got), len(naive))


def test_brier_decomposition_identity_and_numpy(spark):
    """eval_brier_decomposition: at the forecast grain the Murphy
    identity is exact — brier == reliability - resolution + uncertainty
    (to rounding) — and a direct numpy computation of all four terms
    must agree."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = (
        load_all()["eval_brier_decomposition"]
        .build(spark, SF_SMOKE)
        .collect()[0]
    )
    assert abs(
        got.brier - (got.reliability - got.resolution + got.uncertainty)
    ) < 3e-6, got
    con = duckdb.connect()
    g = con.execute(
        f"""
        SELECT ROUND(1.0/(1.0+exp(-(value-50.0)/20.0)), 3) x,
               COUNT(*) n,
               SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) k
        FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY 1
        """
    ).fetchnumpy()
    x = g["x"].astype(float)
    n = g["n"].astype(float)
    k = g["k"].astype(float)
    N, K = n.sum(), k.sum()
    brier = float(np.sum(n * x * x - 2 * x * k + k) / N)
    rel = float(np.sum(n * (x - k / n) ** 2) / N)
    res = float(np.sum(n * (k / n - K / N) ** 2) / N)
    unc = K / N * (1 - K / N)
    assert got.n_rows == int(N)
    assert abs(got.brier - brier) < 1e-6
    assert abs(got.reliability - rel) < 1e-6
    assert abs(got.resolution - res) < 1e-6
    assert abs(got.uncertainty - unc) < 1e-6
    assert abs(brier - (rel - res + unc)) < 1e-12


def test_holt_linear_matches_numpy_recurrence(spark):
    """timeseries_holt_linear: the recursive-CTE fold must equal a plain
    sequential numpy implementation of Holt's recurrence, including the
    one-step RMSE and the 7-day forecast."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["timeseries_holt_linear"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    y = np.array(
        [
            r[0]
            for r in con.execute(
                f"""
                SELECT CAST(COUNT(*) AS DOUBLE)
                FROM read_parquet('{SF_SMOKE}/events.parquet')
                GROUP BY CAST(ts AS DATE) ORDER BY CAST(ts AS DATE)
                """
            ).fetchall()
        ]
    )
    a, b = 0.3, 0.2
    level, trend = y[0], y[1] - y[0]
    level = a * y[1] + (1 - a) * (level + trend)  # the anchor row (i=2)
    sse = 0.0
    for t in range(2, len(y)):
        pred = level + trend
        sse += (y[t] - pred) ** 2
        new_level = a * y[t] + (1 - a) * pred
        trend = b * (new_level - level) + (1 - b) * trend
        level = new_level
    assert got.n_days == len(y)
    assert abs(got.level - level) < 1e-6, (got, level)
    assert abs(got.trend - trend) < 1e-6
    assert abs(got.rmse_onestep - np.sqrt(sse / (len(y) - 2))) < 1e-6
    assert abs(got.forecast_day7 - (level + 7 * trend)) < 1e-5


def test_holt_linear_survives_120_day_calendar(spark):
    """The Holt recursion must run past Spark's 100-level default cap
    (VERDICT r13 wrong #4: the old 'chunk by year' prose was wrong and
    fixtures span only 30 days, masking the throw).  `run_holt` sizes
    `spark.sql.cteRecursionLevelLimit` from the observed span; drive the
    identical parametric text over a 120-day synthetic calendar in BOTH
    engines and against the sequential numpy recurrence."""
    import datetime

    import duckdb
    import numpy as np

    from auron_spark.operators.timeseries import _holt_sql, run_holt

    base = datetime.datetime(2024, 1, 1)
    y = [float(30 + (d * 13) % 17 + (d % 5) * 3) for d in range(120)]
    rows = [
        (base + datetime.timedelta(days=d),)
        for d, cnt in enumerate(y)
        for _ in range(int(cnt))
    ]
    spark.createDataFrame(rows, "ts timestamp").createOrReplaceTempView(
        "holt_days_120"
    )
    key = "spark.sql.cteRecursionLevelLimit"
    before = spark.conf.get(key)
    got = run_holt(spark, "holt_days_120").collect()[0]
    # the raised limit is scoped to the call (materialize-then-restore) —
    # the shared session keeps its runaway-recursion guard
    assert spark.conf.get(key) == before
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE holt_days_120 AS SELECT "
        "TIMESTAMP '2024-01-01' + INTERVAL (d) DAY AS ts "
        "FROM range(120) t(d), range(60) r(i) "
        "WHERE i < 30 + (d * 13) % 17 + (d % 5) * 3"
    )
    want = con.execute(_holt_sql("holt_days_120")).fetchone()
    assert tuple(got) == want, (tuple(got), want)
    a, b = 0.3, 0.2
    level, trend = y[0], y[1] - y[0]
    level = a * y[1] + (1 - a) * (y[0] + trend)
    sse = 0.0
    for t in range(2, len(y)):
        pred = level + trend
        sse += (y[t] - pred) ** 2
        new_level = a * y[t] + (1 - a) * pred
        trend = b * (new_level - level) + (1 - b) * trend
        level = new_level
    assert got.n_days == 120
    assert abs(got.level - level) < 1e-6
    assert abs(got.trend - trend) < 1e-6
    assert abs(got.rmse_onestep - np.sqrt(sse / 118)) < 1e-6


def test_wilcoxon_signed_rank_matches_scipy_free_numpy(spark):
    """eval_wilcoxon_signed_rank must equal a direct numpy midrank
    implementation of the signed-rank statistic (W+, mu, tie-corrected
    z) on the same per-user half-month pairs."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = (
        load_all()["eval_wilcoxon_signed_rank"]
        .build(spark, SF_SMOKE)
        .collect()[0]
    )
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT CAST(SUM(CASE WHEN day(ts) <= 15
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) <= 15 THEN 1 END), 0),
               CAST(SUM(CASE WHEN day(ts) > 15
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) > 15 THEN 1 END), 0)
        FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY user_id
        """
    ).fetchall()
    d = np.array(
        [a - b for b, a in rows if b is not None and a is not None and a != b]
    )
    absd = np.abs(d)
    order = np.argsort(absd, kind="stable")
    ranks = np.empty(len(d))
    i = 0
    s = absd[order]
    while i < len(d):
        j = i
        while j < len(d) and s[j] == s[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    w_plus = float(ranks[d > 0].sum())
    n = len(d)
    mu = n * (n + 1) / 4.0
    _, t = np.unique(absd, return_counts=True)
    sigma = np.sqrt(
        n * (n + 1) * (2 * n + 1) / 24.0 - float((t**3 - t).sum()) / 48.0
    )
    assert got.n == n
    assert abs(got.w_plus - w_plus) < 1e-6, (got, w_plus)
    assert abs(got.mu - mu) < 1e-6
    assert abs(got.z - (w_plus - mu) / sigma) < 1e-6


def test_friedman_matches_numpy_midranks(spark):
    """eval_friedman_test: the CASE-arithmetic midranks and the
    tie-corrected statistic must equal a direct numpy construction
    (per-user scipy-style rankdata over the three condition means)."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["eval_friedman_test"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT CAST(SUM(CASE WHEN day(ts) <= 10
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) <= 10 THEN 1 END), 0),
               CAST(SUM(CASE WHEN day(ts) BETWEEN 11 AND 20
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) BETWEEN 11 AND 20
                                     THEN 1 END), 0),
               CAST(SUM(CASE WHEN day(ts) > 20
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) > 20 THEN 1 END), 0)
        FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY user_id
        """
    ).fetchall()
    vals = np.array([r for r in rows if all(v is not None for v in r)])
    n, k = vals.shape

    def rankrow(v):
        order = np.argsort(v, kind="stable")
        r = np.empty(k)
        i = 0
        s = v[order]
        while i < k:
            j = i
            while j < k and s[j] == s[i]:
                j += 1
            r[order[i:j]] = (i + j + 1) / 2.0
            i = j
        return r

    R = np.apply_along_axis(rankrow, 1, vals)
    rs = R.sum(0)
    A = float((R**2).sum())
    C = n * k * (k + 1) ** 2 / 4.0
    chi2 = (
        (k - 1) * (float((rs**2).sum()) - n * n * k * (k + 1) ** 2 / 4.0)
        / (A - C)
    )
    assert got.n == n
    assert abs(got.rank_sum_1 - rs[0]) < 1e-6
    assert abs(got.rank_sum_2 - rs[1]) < 1e-6
    assert abs(got.rank_sum_3 - rs[2]) < 1e-6
    assert abs(got.chi2 - chi2) < 1e-5, (got.chi2, chi2)


def test_cochran_q_matches_bruteforce(spark):
    """eval_cochran_q: the six-integer reduction must equal the textbook
    Q computed directly over the per-document rating matrix, and the
    k=2 restriction of the same formula must reproduce McNemar's
    (b-c)^2/(b+c) on the first two raters (the documented special
    case)."""
    import duckdb

    from auron_spark.registry import load_all

    got = {
        r.lang: r
        for r in load_all()["eval_cochran_q"].build(spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT lang,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END,
               CASE WHEN len(string_split(text, ' ')) >= 55
                    THEN 1 ELSE 0 END,
               CASE WHEN len(list_distinct(string_split(lower(text), ' ')))
                         >= 25 THEN 1 ELSE 0 END
        FROM read_parquet('{SF_SMOKE}/documents.parquet')
        """
    ).fetchall()
    by_lang: dict[str, list[tuple[int, int, int]]] = {}
    for lang, a, b, c in rows:
        by_lang.setdefault(lang, []).append((a, b, c))
    k = 3
    for lang, units in by_lang.items():
        cols = [sum(u[j] for u in units) for j in range(k)]
        r_tot = sum(sum(u) for u in units)
        r_sq = sum(sum(u) ** 2 for u in units)
        denom = k * r_tot - r_sq
        q = (
            k * (k - 1) * sum((c - r_tot / k) ** 2 for c in cols) / denom
            if denom
            else None
        )
        assert got[lang].n_units == len(units)
        assert [got[lang].c1, got[lang].c2, got[lang].c3] == cols
        if q is None:
            assert got[lang].q_stat is None
        else:
            assert abs(got[lang].q_stat - q) < 1e-6, (lang, got[lang], q)
        # k=2 restriction == McNemar on raters (a, b): Q2 = (b-c)^2/(b+c)
        b10 = sum(1 for u in units if u[0] == 1 and u[1] == 0)
        b01 = sum(1 for u in units if u[0] == 0 and u[1] == 1)
        if b10 + b01:
            c2 = [cols[0], cols[1]]
            rt2 = sum(u[0] + u[1] for u in units)
            rs2 = sum((u[0] + u[1]) ** 2 for u in units)
            q2 = 2 * 1 * sum((c - rt2 / 2) ** 2 for c in c2) / (
                2 * rt2 - rs2
            )
            assert abs(q2 - (b10 - b01) ** 2 / (b10 + b01)) < 1e-9


def test_page_trend_matches_numpy(spark):
    """eval_page_trend_test: L, mu and z must match a direct numpy
    computation over the same per-user month-third midranks (reusing the
    Friedman rank construction)."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    got = load_all()["eval_page_trend_test"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT CAST(SUM(CASE WHEN day(ts) <= 10
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) <= 10 THEN 1 END), 0),
               CAST(SUM(CASE WHEN day(ts) BETWEEN 11 AND 20
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) BETWEEN 11 AND 20
                                     THEN 1 END), 0),
               CAST(SUM(CASE WHEN day(ts) > 20
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN day(ts) > 20 THEN 1 END), 0)
        FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY user_id
        """
    ).fetchall()
    vals = np.array([r for r in rows if all(v is not None for v in r)])
    n, k = vals.shape

    def rankrow(v):
        order = np.argsort(v, kind="stable")
        r = np.empty(k)
        i = 0
        s = v[order]
        while i < k:
            j = i
            while j < k and s[j] == s[i]:
                j += 1
            r[order[i:j]] = (i + j + 1) / 2.0
            i = j
        return r

    R = np.apply_along_axis(rankrow, 1, vals)
    L = float((R * np.array([1.0, 2.0, 3.0])).sum())
    mu = n * k * (k + 1) ** 2 / 4.0
    sigma = np.sqrt(n * k**2 * (k + 1) * (k**2 - 1) / 144.0)
    assert got.n == n
    assert abs(got.l_stat - L) < 1e-6
    assert abs(got.mu - mu) < 1e-6
    assert abs(got.z - (L - mu) / sigma) < 1e-6


def test_als_rank_k_k2_matches_adjugate_and_numpy(spark):
    """rec_als_rank_k: (a) the k=2 specialization of the LDL^T device
    must reproduce the PROVEN 2x2-adjugate `rec_als_user_step` outputs
    (same md5 nibble layout, same lambda, different but exact solve
    algebra); (b) at the registered k=8 the per-user solves must match
    numpy's LAPACK on the same Gram/gradient statistics."""
    import duckdb
    import numpy as np

    from auron_spark.pipeline.recommend import (
        _ALS_K,
        _ALS_LAMBDA,
        _rank_k_user_step,
    )
    from auron_spark.registry import load_all

    got2 = _rank_k_user_step(spark, SF_SMOKE, 2).collect()[0]
    ref = load_all()["rec_als_user_step"].build(spark, SF_SMOKE).collect()[0]
    assert got2.n_users == ref.n_users
    assert got2.n_ratings == ref.n_ratings
    assert abs(got2.rmse_after - ref.rmse_after) <= 1e-6
    assert abs(got2.mean_p0 - ref.mean_p1) <= 1e-6
    assert abs(got2.mean_p1 - ref.mean_p2) <= 1e-6

    k = _ALS_K
    got = load_all()["rec_als_rank_k"].build(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    )
    rows = con.execute(
        """
        WITH r AS (
            SELECT user_id, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) / 100.0 AS r
            FROM events GROUP BY user_id, event_type
        )
        SELECT user_id, md5(event_type), r FROM r
        """
    ).fetchall()
    by_user: dict = {}
    for uid, h, r in rows:
        q = np.array(
            [(int(h[4 * f : 4 * f + 4], 16) % 1000) / 1000.0
             for f in range(k)]
        )
        by_user.setdefault(uid, []).append((q, r))
    preds, facs = [], []
    for uid, obs in by_user.items():
        Q = np.array([q for q, _ in obs])
        rv = np.array([r for _, r in obs])
        p = np.linalg.solve(
            Q.T @ Q + _ALS_LAMBDA * np.eye(k), Q.T @ rv
        )
        facs.append((p, len(obs)))
        preds.extend(rv - Q @ p)
    n = len(preds)
    assert got.n_ratings == n
    assert abs(got.rmse_after - np.sqrt(np.mean(np.array(preds) ** 2))) < 1e-5
    for f in range(k):
        mean_f = sum(p[f] * cnt for p, cnt in facs) / n
        assert abs(got[3 + f] - mean_f) < 1e-5, (f, got[3 + f], mean_f)


def test_krippendorff_ratio_matches_bruteforce(spark):
    """eval_krippendorff_ratio must equal the textbook WEIGHTED
    coincidence-matrix alpha with the ratio metric delta(c,k) =
    ((c-k)/(c+k))^2 built in plain python, confirming the 176400
    integer-scaling device cancels exactly."""
    import duckdb

    from auron_spark.registry import load_all

    got = {
        r.lang: r
        for r in load_all()["eval_krippendorff_ratio"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT lang,
               CASE WHEN n_chars < 150 THEN 1 WHEN n_chars < 300 THEN 2
                    WHEN n_chars < 450 THEN 3 ELSE 4 END,
               CASE WHEN len(string_split(text, ' ')) < 27 THEN 1
                    WHEN len(string_split(text, ' ')) < 54 THEN 2
                    WHEN len(string_split(text, ' ')) < 81 THEN 3
                    ELSE 4 END,
               CASE WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 14 THEN 1
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 22 THEN 2
                    WHEN len(list_distinct(string_split(lower(text), ' ')))
                         < 28 THEN 3
                    ELSE 4 END
        FROM read_parquet('{SF_SMOKE}/documents.parquet')
        """
    ).fetchall()
    by_lang: dict[str, list[tuple[int, int, int]]] = {}
    for lang, a, b, c in rows:
        by_lang.setdefault(lang, []).append((a, b, c))
    m = 3

    def delta(c, k):
        return ((c - k) / (c + k)) ** 2

    for lang, units in by_lang.items():
        cats = sorted({c for u in units for c in u})
        o = {(c, k): 0.0 for c in cats for k in cats}
        for u in units:
            counts = {c: u.count(c) for c in set(u)}
            for c in counts:
                for k in counts:
                    o[(c, k)] += (
                        counts[c] * (counts[k] - (1 if c == k else 0))
                    ) / (m - 1)
        n_c = {c: sum(o[(c, k)] for k in cats) for c in cats}
        n = sum(n_c.values())
        d_o = sum(
            o[(c, k)] * delta(c, k) for c in cats for k in cats if c != k
        )
        d_e = sum(
            n_c[c] * n_c[k] * delta(c, k)
            for c in cats
            for k in cats
            if c != k
        ) / (n - 1)
        alpha = 1.0 - d_o / d_e
        assert got[lang].n_units == len(units)
        assert abs(got[lang].alpha - alpha) < 1e-6, (lang, got[lang], alpha)


def test_als_rank_k_round_monotone_and_k2_pin(spark):
    """rec_als_rank_k_round: (a) the objective must be non-increasing
    across the item half-step at k=8 (exact-minimizer THEOREM, rank-
    independent); (b) the k=2 specialization must reproduce the PROVEN
    `rec_als_alternating_round` report (adjugate vs LDL^T — same math,
    different exact algebra)."""
    from auron_spark.pipeline.recommend import _rank_k_round
    from auron_spark.registry import load_all

    got8 = (
        load_all()["rec_als_rank_k_round"].build(spark, SF_SMOKE).collect()[0]
    )
    assert got8.obj_item_step <= got8.obj_user_step + 1e-6, got8
    assert got8.rmse_item_step <= got8.rmse_user_step + 1e-6, got8

    got2 = _rank_k_round(spark, SF_SMOKE, 2).collect()[0]
    ref = (
        load_all()["rec_als_alternating_round"]
        .build(spark, SF_SMOKE)
        .collect()[0]
    )
    assert (got2.n_users, got2.n_items, got2.n_ratings) == (
        ref.n_users, ref.n_items, ref.n_ratings,
    )
    for col in ("rmse_user_step", "rmse_item_step",
                "obj_user_step", "obj_item_step"):
        assert abs(got2[col] - ref[col]) <= 2e-5, (col, got2[col], ref[col])


def test_als_rank_k_implicit_k2_pin_and_numpy(spark):
    """rec_als_rank_k_implicit: (a) the k=2 specialization must
    reproduce the PROVEN `rec_als_implicit_step` report (adjugate vs
    layered LDL^T on the same HKV system); (b) at k=8 the per-user HKV
    solves must match numpy LAPACK on A_u = Q^T Q + Q_u^T C Q_u + lam I."""
    import duckdb
    import numpy as np

    from auron_spark.pipeline.recommend import (
        _ALS_IMPL_ALPHA,
        _ALS_K,
        _ALS_LAMBDA,
        _rank_k_implicit_step,
    )
    from auron_spark.registry import load_all

    got2 = _rank_k_implicit_step(spark, SF_SMOKE, 2).collect()[0]
    ref = (
        load_all()["rec_als_implicit_step"].build(spark, SF_SMOKE).collect()[0]
    )
    assert got2.n_users == ref.n_users
    assert got2.n_obs_pairs == ref.n_obs_pairs
    assert abs(got2.mean_pref_obs - ref.mean_pref_obs) <= 1e-6
    assert abs(got2.mean_p0 - ref.mean_p1) <= 1e-6
    assert abs(got2.mean_p1 - ref.mean_p2) <= 1e-6

    k = _ALS_K
    got = (
        load_all()["rec_als_rank_k_implicit"].build(spark, SF_SMOKE)
        .collect()[0]
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    )
    rows = con.execute(
        """
        WITH r AS (
            SELECT user_id, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) / 100.0 AS r
            FROM events GROUP BY user_id, event_type
        )
        SELECT user_id, md5(event_type), r FROM r
        """
    ).fetchall()
    items = {}
    by_user: dict = {}
    for uid, h, r in rows:
        q = np.array(
            [(int(h[4 * f: 4 * f + 4], 16) % 1000) / 1000.0
             for f in range(k)]
        )
        items[h] = q
        by_user.setdefault(uid, []).append((q, r))
    Q = np.array(list(items.values()))
    G = Q.T @ Q
    prefs, facs, n = [], [], 0
    for uid, obs in by_user.items():
        Qu = np.array([q for q, _ in obs])
        rv = np.array([r for _, r in obs])
        A = G + Qu.T @ np.diag(_ALS_IMPL_ALPHA * rv) @ Qu \
            + _ALS_LAMBDA * np.eye(k)
        b = Qu.T @ (1 + _ALS_IMPL_ALPHA * rv)
        p = np.linalg.solve(A, b)
        facs.append((p, len(obs)))
        prefs.extend(Qu @ p)
        n += len(obs)
    assert got.n_obs_pairs == n
    assert abs(got.mean_pref_obs - np.mean(prefs)) < 1e-5
    for f in range(k):
        mean_f = sum(p[f] * cnt for p, cnt in facs) / n
        assert abs(got[3 + f] - mean_f) < 1e-5, (f, got[3 + f], mean_f)


def test_rk_ldlt_solver_random_spd_systems(spark):
    """The layered LDL^T device (`_rk_ldlt_layers`) is the round-14 ALS
    family's load-bearing solver — fuzz it directly: 40 random SPD ridge
    systems per rank k in {1,2,3,5,8} plus 10 at the r15 chained-digest
    production rank k=16 (seeded numpy Grams from random Q matrices, so
    S = Q^T Q is PSD and S + lam I is PD), solved in ONE Spark frame
    through the layered selectExpr text, must match numpy.linalg.solve
    row for row."""
    import numpy as np

    from auron_spark.pipeline.recommend import (
        _ALS_LAMBDA,
        _rk_ldlt_layers,
        _rk_pairs,
    )

    rng = np.random.default_rng(20260816)
    for k in (1, 2, 3, 5, 8, 16):
        rows, want = [], []
        for i in range(40 if k <= 8 else 10):
            Q = rng.normal(size=(rng.integers(k, 3 * k + 2), k))
            S = Q.T @ Q
            b = rng.normal(size=k)
            want.append(
                np.linalg.solve(S + _ALS_LAMBDA * np.eye(k), b)
            )
            row = {"sys_id": i}
            row.update({
                f"s_{a}_{c}": float(S[a, c]) for a, c in _rk_pairs(k)
            })
            row.update({f"b_{f}": float(b[f]) for f in range(k)})
            rows.append(row)
        df = spark.createDataFrame(rows)
        for lay in _rk_ldlt_layers(k, _ALS_LAMBDA, "x_"):
            df = df.selectExpr("*", *lay)
        got = {
            r["sys_id"]: [r[f"x_{f}"] for f in range(k)]
            for r in df.select(
                "sys_id", *[f"x_{f}" for f in range(k)]
            ).collect()
        }
        for i, w in enumerate(want):
            g = np.array(got[i])
            assert np.allclose(g, w, rtol=1e-8, atol=1e-9), (k, i, g, w)


def test_pca_power_iteration_matches_numpy_eigh(spark):
    """feature_pca_power_iteration: the 8-iteration Spark/SQL power
    method must land on numpy's leading eigenpair of the SAME covariance
    (eigh ground truth): the Rayleigh eigenvalue, the variance share,
    and the reported top-|loading| dimensions, with loadings matching up
    to the eigh sign convention within power-iteration tolerance."""
    import duckdb
    import numpy as np

    from auron_spark.registry import load_all

    rows = (
        load_all()["feature_pca_power_iteration"]
        .build(spark, SF_SMOKE)
        .collect()
    )
    got = {r.dim: r.loading for r in rows}
    lam1, var_exp = rows[0].lambda1, rows[0].var_explained
    con = duckdb.connect()
    X = np.array(
        con.execute(
            f"SELECT embedding FROM "
            f"read_parquet('{SF_SMOKE}/embeddings.parquet') ORDER BY vec_id"
        ).fetchnumpy()["embedding"].tolist(),
        dtype=np.float64,
    )
    C = np.cov(X, rowvar=False, bias=True)
    # exact ALGORITHM twin: the same 8 power iterations from the same
    # uniform unit seed (64 * 0.125^2 = 1) — the Spark/SQL chain must
    # reproduce it to rounding
    v = np.full(64, 0.125)
    for _ in range(8):
        w = C @ v
        v = w / np.sqrt(w @ w)
    lam_pi = float(v @ C @ v)
    assert abs(lam1 - lam_pi) < 1e-5, (lam1, lam_pi)
    assert abs(var_exp - lam_pi / np.trace(C)) < 1e-5
    for dim, loading in got.items():
        assert abs(loading - v[int(dim) - 1]) < 1e-5, (
            dim, loading, v[int(dim) - 1],
        )
    # sanity vs the true spectrum: the Rayleigh quotient of a unit
    # vector can never exceed lambda_max, and on the fixture's
    # near-isotropic spectrum (128 planted clusters) 8 iterations land
    # within a loose band of it
    vals = np.linalg.eigvalsh(C)
    assert lam1 <= vals[-1] + 1e-9
    assert lam1 > 0.5 * vals[-1], (lam1, vals[-1])


def test_gini_prefix_device_scale_10x(spark):
    """VERDICT r15 ask #5: the distributed prefix-device stats have only
    ever run at fixture SF, where the 32 range partitions are nearly
    empty — this proves the 32-offset stitch on a 10x derived corpus
    where partitions are genuinely full.  A deterministic 10x expansion
    of orders (replica-shifted customers AND replica-perturbed prices,
    so the value grain grows ~10x too) goes through the EXACT registered
    code path (`gini_report`, shared with
    stats_gini_concentration_scale), and the result must equal the naive
    global twin computed with exact integer algebra over the collected
    spends — same doubled-rank formula, one sorted pass in Python."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from auron_spark.operators.timeseries import gini_report
    from tests.conftest import SF_DIR

    o = table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")
    rep = spark.range(10).select(F.col("id").alias("rep"))
    per_cust = (
        o.crossJoin(F.broadcast(rep))
        .groupBy(
            (F.col("o_custkey") * 10 + F.col("rep")).alias("cust")
        )
        .agg(
            F.sum(
                (
                    F.col("o_totalprice").cast("decimal(18,2)")
                    + F.col("rep") * F.lit(Decimal("7.25"))
                ).cast("decimal(18,2)")
            ).alias("spend")
        )
    )
    got = gini_report(per_cust).collect()[0]

    spends = [r.spend for r in per_cust.select("spend").collect()]
    n = len(spends)
    # the stitch only matters when the range partitions actually fill:
    # ~10x the fixture's customer count, thousands of distinct values
    assert n >= 9000, n
    assert len(set(spends)) > 5000, len(set(spends))
    cents = sorted(int(s * 100) for s in spends)  # Decimal -> exact int
    t2 = 2 * sum(i * v for i, v in enumerate(cents, start=1))
    s_cents = sum(cents)
    expected = float(t2) / (float(n) * float(s_cents)) - (n + 1.0) / n

    assert got["n_customers"] == n
    assert abs(got["total_spend"] - s_cents / 100.0) < 1e-6, got
    # got.gini is rounded to 6 dp; allow exactly the rounding quantum
    assert abs(got["gini"] - expected) <= 5e-7, (got["gini"], expected)
