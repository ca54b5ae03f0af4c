"""Advisor + workload-generator surface as oracle-paired registry entries.

The layout advisor (``advisor/sql_analyze.py`` + ``advisor/recommend.py``,
reference parity: notebooks/sql_layout_toolkit.py) and the workload
generator (``wlgen/fill.py``, reference parity: wlg/cli/main.py) were the
one family verified only by pytest.  These entries expose them to the
driver's cross-engine gate:

- ``advisor_table_ranking`` / ``advisor_column_sets`` run the REAL SQL
  analyzer over a fixed 10-query workload on the Spark side, then compute
  the scoring relationally; the oracle recomputes the identical scoring
  from a hard-coded golden of the expected predicate events — so a drift
  in the extractor (a regression in flatten_bool, alias resolution, or
  classification) breaks the hash even though both sides share the
  arithmetic.  All weighted scores are exact scaled-integer ladders
  (weights x10, OR-halving x5/10, role x12/10, kind x100/105/115,
  distinctness x55..100) reduced with ONE final double division, so the
  doubles are bit-identical across engines AND the ranking compares
  integers, never floats.
- ``wlgen_fill_golden`` pins the seeded fill pipeline (random / grid /
  LHS modes, interval rules, constraints, literal substitution) against a
  hard-coded golden parameter table — the same golden-fixture discipline
  the codecs use for their wire formats.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from lakehouse_sfc_spark.queries.registry import register
from lakehouse_sfc_spark.sources.loader import load_table, materialize_once

#: fixed advisory workload: 10 queries exercising every predicate class
#: (eq/in/range/like/null), OR-halving, joins, and 5 tables — the
#: deterministic input both advisor entries analyze
_ADV_WORKLOAD = {
    "w01": (
        "SELECT l_orderkey FROM lineitem WHERE l_shipdate BETWEEN "
        "DATE '1996-01-01' AND DATE '1996-12-31' AND l_quantity > 25"
    ),
    "w02": (
        "SELECT o_orderkey FROM orders WHERE o_orderpriority IN "
        "('1-URGENT','2-HIGH') AND o_orderdate >= DATE '1995-06-01'"
    ),
    "w03": (
        "SELECT l.l_orderkey FROM lineitem l JOIN orders o ON "
        "l.l_orderkey = o.o_orderkey WHERE o.o_totalprice > 100000 "
        "AND l.l_discount BETWEEN 0.02 AND 0.05"
    ),
    "w04": (
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
        "OR c_acctbal > 5000"
    ),
    "w05": (
        "SELECT p_partkey FROM part WHERE p_name LIKE '%green%' "
        "AND p_size IN (5, 10, 15)"
    ),
    "w06": (
        "SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R' "
        "AND l_shipdate > DATE '1997-01-01'"
    ),
    "w07": (
        "SELECT s_suppkey FROM supplier WHERE s_acctbal IS NULL "
        "OR s_nationkey = 7"
    ),
    "w08": (
        "SELECT l.l_partkey FROM lineitem l JOIN part p ON "
        "l.l_partkey = p.p_partkey WHERE p.p_brand = 'Brand#23' "
        "AND l.l_quantity < 11"
    ),
    "w09": (
        "SELECT o_custkey FROM orders WHERE o_orderdate BETWEEN "
        "DATE '1994-01-01' AND DATE '1994-12-31' AND o_orderstatus = 'F'"
    ),
    "w10": (
        "SELECT l_suppkey FROM lineitem WHERE l_extendedprice > 900 "
        "AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-06-30' "
        "AND l_returnflag IN ('A','R')"
    ),
}

#: GOLDEN predicate events for _ADV_WORKLOAD (the oracle's event source).
#: Regenerate ONLY on a deliberate extractor-behavior change:
#:   python -c "from lakehouse_sfc_spark.advisor.sql_analyze import
#:              analyze_workload; ..."
_ADV_EVENTS_GOLDEN = """
('w01','lineitem','l_shipdate','range',false,false),
('w01','lineitem','l_quantity','range',false,false),
('w02','orders','o_orderpriority','in',false,false),
('w02','orders','o_orderdate','range',false,false),
('w03','orders','o_totalprice','range',false,false),
('w03','lineitem','l_discount','range',false,false),
('w03','lineitem','l_orderkey','eq',false,true),
('w04','customer','c_mktsegment','eq',true,false),
('w04','customer','c_acctbal','range',true,false),
('w05','part','p_name','like',false,false),
('w05','part','p_size','in',false,false),
('w06','lineitem','l_returnflag','eq',false,false),
('w06','lineitem','l_shipdate','range',false,false),
('w07','supplier','s_acctbal','null',true,false),
('w07','supplier','s_nationkey','eq',true,false),
('w08','part','p_brand','eq',false,false),
('w08','lineitem','l_quantity','range',false,false),
('w08','lineitem','l_partkey','eq',false,true),
('w09','orders','o_orderdate','range',false,false),
('w09','orders','o_orderstatus','eq',false,false),
('w10','lineitem','l_extendedprice','range',false,false),
('w10','lineitem','l_shipdate','range',false,false),
('w10','lineitem','l_returnflag','in',false,false)
"""

_ADV_EV_ORACLE = (
    "SELECT * FROM (VALUES"
    + _ADV_EVENTS_GOLDEN
    + ") AS t(qid, tname, cname, ptype, in_or, is_join)"
)

#: table ranking — rank_tables() parity (advisor/recommend.py:109), all
#: weights as x1000 integer ladders.  Dialect-shared: the SAME text runs
#: on Spark (events view) and DuckDB (golden VALUES).
_RANK_SQL = """
WITH ev AS ({EV}),
colscore AS (
  SELECT tname, cname,
         CAST(SUM(CASE WHEN NOT is_join THEN 1 ELSE 0 END) AS BIGINT)
             AS filters,
         CAST(SUM(CASE WHEN is_join THEN 1 ELSE 0 END) AS BIGINT) AS joins,
         CAST(SUM(
           (CASE ptype WHEN 'eq' THEN 50 WHEN 'in' THEN 40
                       WHEN 'range' THEN 30 WHEN 'like' THEN 20
                       ELSE 10 END)
           * (CASE WHEN in_or THEN 5 ELSE 10 END)
           * (CASE WHEN tname = 'lineitem' THEN 12 ELSE 10 END)
         ) AS BIGINT) AS score1000
  FROM ev GROUP BY tname, cname
),
fcols AS (SELECT DISTINCT qid, tname, cname FROM ev WHERE NOT is_join),
cpair AS (
  SELECT a.tname, a.cname AS col_a, b.cname AS col_b,
         CAST(COUNT(DISTINCT a.qid) AS BIGINT) AS cnt
  FROM fcols a JOIN fcols b
    ON a.qid = b.qid AND a.tname = b.tname AND a.cname < b.cname
  GROUP BY a.tname, a.cname, b.cname
),
pagg AS (
  SELECT tname, CAST(SUM(cnt) AS BIGINT) AS pair_sum,
         CAST(MAX(cnt) AS BIGINT) AS pair_max
  FROM cpair GROUP BY tname
),
tagg AS (
  SELECT tname,
         CAST(SUM(score1000) AS BIGINT) AS total1000,
         CAST(SUM(filters) AS BIGINT) AS filter_events,
         CAST(SUM(joins) AS BIGINT) AS join_events,
         CAST(SUM(CASE WHEN filters > 0 OR joins > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS candidate_columns
  FROM colscore GROUP BY tname
)
SELECT t.tname AS table_name,
       CAST(t.total1000 + 250 * t.filter_events + 100 * t.join_events
            + 750 * COALESCE(p.pair_sum, 0)
            + 1500 * COALESCE(p.pair_max, 0) AS DOUBLE) / 1000.0
           AS layout_opportunity_score,
       CAST(t.total1000 AS DOUBLE) / 1000.0 AS total_score,
       t.filter_events, t.join_events, t.candidate_columns,
       COALESCE(p.pair_sum, CAST(0 AS BIGINT)) AS cooccur_sum,
       COALESCE(p.pair_max, CAST(0 AS BIGINT)) AS cooccur_max,
       (t.candidate_columns >= 2) AS eligible_multicol
FROM tagg t LEFT JOIN pagg p ON p.tname = t.tname
ORDER BY eligible_multicol DESC,
         (t.total1000 + 250 * t.filter_events + 100 * t.join_events
          + 750 * COALESCE(p.pair_sum, 0)
          + 1500 * COALESCE(p.pair_max, 0)) DESC,
         t.candidate_columns DESC, table_name
"""

#: column-set recommendation — recommend_column_sets() parity
#: (advisor/recommend.py:156): anchor = (score + 0.5f + 0.25j + 0.4r
#: + 0.2e + 0.2i) x kind x distinctness as a x1e7 integer; combo =
#: singleton + 1.25·pair + 0.75·coverage + 0.15·(a1 + 0.6·a2) as x1e9.
#: Distinctness ratios come from the LIVE lineitem relation (both engines
#: divide the same exact integers, so the bucket comparisons agree).
_COMBO_SQL = """
WITH ev AS ({EV}),
colscore AS (
  SELECT cname,
         CAST(SUM(CASE WHEN NOT is_join THEN 1 ELSE 0 END) AS BIGINT)
             AS filters,
         CAST(SUM(CASE WHEN is_join THEN 1 ELSE 0 END) AS BIGINT) AS joins,
         CAST(SUM(CASE WHEN ptype = 'range' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_range,
         CAST(SUM(CASE WHEN ptype = 'eq' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_eq,
         CAST(SUM(CASE WHEN ptype = 'in' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in,
         CAST(SUM(
           (CASE ptype WHEN 'eq' THEN 50 WHEN 'in' THEN 40
                       WHEN 'range' THEN 30 WHEN 'like' THEN 20
                       ELSE 10 END)
           * (CASE WHEN in_or THEN 5 ELSE 10 END) * 12
         ) AS BIGINT) AS score1000
  FROM ev WHERE tname = 'lineitem' GROUP BY cname
),
listats AS (
  SELECT CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) AS nd_shipdate,
         CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS nd_quantity,
         CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS nd_discount,
         CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS nd_extprice,
         CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd_returnflag,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd_orderkey,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_partkey,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {LI}
),
urs AS (
  SELECT 'l_shipdate' AS cname, nd_shipdate AS nd, n FROM listats
  UNION ALL SELECT 'l_quantity', nd_quantity, n FROM listats
  UNION ALL SELECT 'l_discount', nd_discount, n FROM listats
  UNION ALL SELECT 'l_extendedprice', nd_extprice, n FROM listats
  UNION ALL SELECT 'l_returnflag', nd_returnflag, n FROM listats
  UNION ALL SELECT 'l_orderkey', nd_orderkey, n FROM listats
  UNION ALL SELECT 'l_partkey', nd_partkey, n FROM listats
),
cand AS (
  SELECT c.cname, c.score1000, c.filters,
         (c.score1000 + 500 * c.filters + 250 * c.joins
          + 400 * c.n_range + 200 * c.n_eq + 200 * c.n_in)
         * (CASE WHEN c.cname = 'l_shipdate' THEN 115
                 WHEN c.cname = 'l_returnflag' THEN 100
                 ELSE 105 END)
         * (CASE WHEN CAST(u.nd AS DOUBLE) / u.n < 0.0001 THEN 55
                 WHEN CAST(u.nd AS DOUBLE) / u.n < 0.001 THEN 70
                 WHEN CAST(u.nd AS DOUBLE) / u.n < 0.01 THEN 85
                 WHEN CAST(u.nd AS DOUBLE) / u.n > 0.95 AND c.joins <= 0
                      THEN 75
                 ELSE 100 END) AS a
  FROM colscore c JOIN urs u ON u.cname = c.cname
  WHERE c.filters > 0 OR c.joins > 0
),
pool AS (
  SELECT * FROM (
    SELECT cand.*, ROW_NUMBER() OVER (
      ORDER BY a DESC, score1000 DESC, filters DESC, cname) AS rk
    FROM cand
  ) rkd WHERE rk <= 12
),
combos AS (
  SELECT p1.cname AS c1, p2.cname AS c2, CAST(NULL AS STRING) AS c3,
         2 AS k
  FROM pool p1 JOIN pool p2 ON p1.cname < p2.cname
  UNION ALL
  SELECT p1.cname, p2.cname, p3.cname, 3
  FROM pool p1 JOIN pool p2 ON p1.cname < p2.cname
       JOIN pool p3 ON p2.cname < p3.cname
),
combos2 AS (
  SELECT c1 || ',' || c2 ||
         CASE WHEN c3 IS NULL THEN '' ELSE ',' || c3 END AS cid, *
  FROM combos
),
members AS (
  SELECT cid, k, c1 AS cname FROM combos2
  UNION ALL SELECT cid, k, c2 FROM combos2
  UNION ALL SELECT cid, k, c3 FROM combos2 WHERE c3 IS NOT NULL
),
m2 AS (
  SELECT m.cid, m.k, m.cname, p.a,
         ROW_NUMBER() OVER (
           PARTITION BY m.cid ORDER BY p.a DESC, m.cname) AS rn
  FROM members m JOIN pool p ON p.cname = m.cname
),
magg AS (
  SELECT cid, k,
         CAST(SUM(a) AS BIGINT) AS singleton1e7,
         CAST(MAX(CASE WHEN rn = 1 THEN a END) AS BIGINT) AS a1,
         CAST(MAX(CASE WHEN rn = 2 THEN a END) AS BIGINT) AS a2,
         MAX(CASE WHEN rn = 1 THEN cname END) AS oc1,
         MAX(CASE WHEN rn = 2 THEN cname END) AS oc2,
         MAX(CASE WHEN rn = 3 THEN cname END) AS oc3
  FROM m2 GROUP BY cid, k
),
fcols AS (
  SELECT DISTINCT qid, cname FROM ev
  WHERE NOT is_join AND tname = 'lineitem'
),
cpair AS (
  SELECT a.cname AS col_a, b.cname AS col_b,
         CAST(COUNT(DISTINCT a.qid) AS BIGINT) AS cnt
  FROM fcols a JOIN fcols b ON a.qid = b.qid AND a.cname < b.cname
  GROUP BY a.cname, b.cname
),
cps AS (
  SELECT cid, c1 AS pa, c2 AS pb FROM combos2
  UNION ALL SELECT cid, c1, c3 FROM combos2 WHERE c3 IS NOT NULL
  UNION ALL SELECT cid, c2, c3 FROM combos2 WHERE c3 IS NOT NULL
),
pb AS (
  SELECT cps.cid, CAST(SUM(COALESCE(cp.cnt, 0)) AS BIGINT) AS pcnt
  FROM cps LEFT JOIN cpair cp ON cp.col_a = cps.pa AND cp.col_b = cps.pb
  GROUP BY cps.cid
),
cov AS (
  SELECT m.cid, CAST(COUNT(DISTINCT f.qid) AS BIGINT) AS coverage
  FROM members m JOIN fcols f ON f.cname = m.cname
  GROUP BY m.cid
),
scored AS (
  SELECT g.cid, g.k, g.oc1, g.oc2, g.oc3,
         100 * g.singleton1e7
         + 1250000000 * pb.pcnt
         + 750000000 * COALESCE(cov.coverage, 0)
         + 15 * g.a1 + 9 * g.a2 AS combo1e9,
         g.singleton1e7, pb.pcnt, COALESCE(cov.coverage, 0) AS coverage
  FROM magg g JOIN pb ON pb.cid = g.cid LEFT JOIN cov ON cov.cid = g.cid
)
SELECT cid AS columns, CAST(k AS INT) AS k,
       oc1 || ',' || oc2 ||
       CASE WHEN oc3 IS NULL THEN '' ELSE ',' || oc3 END
           AS suggested_order,
       CAST(combo1e9 AS DOUBLE) / 1000000000.0 AS combo_score,
       CAST(100 * singleton1e7 AS DOUBLE) / 1000000000.0 AS singleton_score,
       CAST(1250000000 * pcnt AS DOUBLE) / 1000000000.0 AS pair_bonus,
       coverage AS query_coverage
FROM scored
ORDER BY combo1e9 DESC, pcnt DESC, coverage DESC, k, columns
LIMIT 12
"""


def _events_view(spark: SparkSession) -> str:
    """Run the REAL extractor over the fixed workload; register as a view."""
    from lakehouse_sfc_spark.advisor.sql_analyze import analyze_workload

    evs = analyze_workload(_ADV_WORKLOAD)
    df = spark.createDataFrame(
        [(e.query, e.table, e.column, e.ptype, e.in_or, e.is_join)
         for e in evs],
        "qid string, tname string, cname string, ptype string, "
        "in_or boolean, is_join boolean",
    )
    df.createOrReplaceTempView("_adv_ev")
    return "SELECT * FROM _adv_ev"


@register("advisor_table_ranking", oracle=_RANK_SQL.format(EV=_ADV_EV_ORACLE))
def advisor_table_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-advisor TABLE ranking over a fixed 10-query workload — which
    table most rewards a multi-column clustered layout (reference parity:
    sql_layout_toolkit's layout_opportunity_score, VERDICT L2/L5).  The
    Spark side runs the real SQL predicate extractor; the oracle replays
    the scoring over a pinned golden of the expected events, so extractor
    drift breaks the hash.  All weights are exact x1000 integer ladders
    with ONE final division — ranking compares integers, never floats.

    Scale shape: the workload relation is tiny metadata (queries, not
    data); at 100 TB this runs on a query-log table with the identical
    plan — two hash aggregations and a filter-column self-join keyed by
    (query, table)."""
    return spark.sql(_RANK_SQL.format(EV=_events_view(spark)))


#: oracle twin of _COMBO_SQL: DuckDB inlines multi-referenced CTEs, so
#: without MATERIALIZED the 6M-row lineitem scan in `listats` and the
#: whole pool derivation re-run once per combos/members/cps reference —
#: measured 514 s at sf1 vs seconds with the hints.  Spark never parses
#: this text (it has no MATERIALIZED syntax); its two-step path
#: materializes the pool once instead.
_COMBO_SQL_ORACLE = (
    _COMBO_SQL
    .replace("listats AS (", "listats AS MATERIALIZED (")
    .replace("colscore AS (", "colscore AS MATERIALIZED (")
    .replace("pool AS (", "pool AS MATERIALIZED (")
    .replace("combos2 AS (", "combos2 AS MATERIALIZED (")
    .replace("members AS (", "members AS MATERIALIZED (")
    .replace("fcols AS (", "fcols AS MATERIALIZED (")
)


@register(
    "advisor_column_sets",
    oracle=_COMBO_SQL_ORACLE.format(EV=_ADV_EV_ORACLE, LI="lineitem"),
)
def advisor_column_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-advisor COLUMN-SET recommendation for the top table — ranked
    2/3-column clustering-key candidates with a suggested order (strongest
    anchor first), reference parity: sql_layout_toolkit's combo scoring
    (VERDICT L6/L7).  Anchor scores fold predicate mix, column kind
    (date x1.15 / numeric x1.05), and LIVE distinctness ratios measured
    from the lineitem relation itself (near-unique non-join columns
    penalized x0.75, ultra-low-cardinality x0.55) — the distinctness
    buckets are data-dependent, so the entry genuinely reads sf_dir on
    both engines.  tests/test_advisorq.py pins this relational twin
    against the Python library (recommend_column_sets) row for row.

    Scale shape: candidate pool is capped at 12, so combos are O(12^3)
    header rows; the only data-sized work is one COUNT(DISTINCT) pass
    over the clustered candidates' columns — a single scan + partial
    aggregates at 100 TB."""
    ev = _events_view(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_adv_li")
    # Spark inlines deterministic multi-referenced CTEs, so running the
    # monolithic oracle text would re-derive the pool (and re-scan
    # lineitem) once per combos/members/cps reference.  Materialize the
    # <=12-row pool ONCE and let the combo body read it as a view; the
    # oracle keeps the monolith (DuckDB reuses CTEs).
    pool_sql = (
        _COMBO_SQL.split("combos AS (", 1)[0].rstrip().rstrip(",")
        + "\nSELECT * FROM pool"
    )
    pool = materialize_once(spark.sql(pool_sql.format(EV=ev, LI="_adv_li")))
    pool.createOrReplaceTempView("_adv_pool")
    body = (
        "WITH ev AS (SELECT * FROM _adv_ev),\n"
        "pool AS (SELECT * FROM _adv_pool),\n"
        "combos AS (" + _COMBO_SQL.split("combos AS (", 1)[1]
    )
    return spark.sql(body)


# --------------------------------------------------------------- wlgen golden

_WLG_STATS = {
    "columns": {
        "l_shipdate": {
            "min": "1992-01-02", "max": "1998-12-01", "kind": "datetime",
        },
        "l_quantity": {"min": 1.0, "max": 50.0, "kind": "numeric"},
        "l_returnflag": {
            "kind": "categorical",
            "topk": [["N", 30], ["A", 20], ["R", 10]],
        },
    },
    "metadata": {"schema": {"l_quantity": "double"}},
}


def _wlg_spec(mode: str) -> dict:
    return {
        "generation": {"n": 6, "mode": mode, "seed": 42},
        "templates": [
            {
                "id": "G1",
                "sql": (
                    "SELECT COUNT(*) FROM {{tbl}} WHERE l_shipdate BETWEEN "
                    "DATE ':sd_lo' AND DATE ':sd_hi' AND l_quantity BETWEEN "
                    ":q_lo AND :q_hi AND l_returnflag = ':l_returnflag'"
                ),
                "params": {
                    "sd_lo": {"type": "date"},
                    "sd_hi": {"type": "date", "constraint": "sd_hi >= sd_lo"},
                    "q_lo": {"type": "float"},
                    "q_hi": {"type": "float", "constraint": "q_hi >= q_lo"},
                    "l_returnflag": {"type": "categorical"},
                },
                "interval_rules": [
                    {
                        "column": "l_shipdate", "lo": "sd_lo", "hi": "sd_hi",
                        "type": "date", "ratio_range": [0.05, 0.12],
                    },
                    {
                        "column": "l_quantity", "lo": "q_lo", "hi": "q_hi",
                        "type": "float", "ratio": 0.2,
                    },
                ],
            }
        ],
    }


#: GOLDEN seed-42 fill output (mode, idx, param, value, sql_md5_prefix).
#: Pins the seeded sampler wire format — random/grid/LHS draws, date
#: interval alignment, float rounding, constraint filtering, and literal
#: substitution (the md5 covers the rendered SQL).  Regenerate ONLY on a
#: deliberate generator-behavior change.
_WLG_GOLDEN = """
('random',0,'l_returnflag','R','759405bc05aea8c0'),
('random',0,'q_hi','20.399760669096267','759405bc05aea8c0'),
('random',0,'q_lo','10.599760669096268','759405bc05aea8c0'),
('random',0,'sd_hi','1995-06-27','759405bc05aea8c0'),
('random',0,'sd_lo','1995-02-01','759405bc05aea8c0'),
('random',1,'l_returnflag','N','71ecb3971b28ed24'),
('random',1,'q_hi','14.208002239073114','71ecb3971b28ed24'),
('random',1,'q_lo','4.408002239073113','71ecb3971b28ed24'),
('random',1,'sd_hi','1998-10-26','71ecb3971b28ed24'),
('random',1,'sd_lo','1998-02-12','71ecb3971b28ed24'),
('random',2,'l_returnflag','A','01d7124ba96755d3'),
('random',2,'q_hi','19.370608612301254','01d7124ba96755d3'),
('random',2,'q_lo','9.570608612301253','01d7124ba96755d3'),
('random',2,'sd_hi','1993-05-31','01d7124ba96755d3'),
('random',2,'sd_lo','1993-01-19','01d7124ba96755d3'),
('random',3,'l_returnflag','R','ffc9498046d0a87b'),
('random',3,'q_hi','38.86796882655822','ffc9498046d0a87b'),
('random',3,'q_lo','29.067968826558218','ffc9498046d0a87b'),
('random',3,'sd_hi','1994-11-14','ffc9498046d0a87b'),
('random',3,'sd_lo','1994-03-26','ffc9498046d0a87b'),
('random',4,'l_returnflag','R','04c38a1d5093352b'),
('random',4,'q_hi','28.408994614327064','04c38a1d5093352b'),
('random',4,'q_lo','18.608994614327063','04c38a1d5093352b'),
('random',4,'sd_hi','1995-01-31','04c38a1d5093352b'),
('random',4,'sd_lo','1994-06-22','04c38a1d5093352b'),
('random',5,'l_returnflag','A','6c7a7694101e9ec0'),
('random',5,'q_hi','40.545248791486884','6c7a7694101e9ec0'),
('random',5,'q_lo','30.74524879148688','6c7a7694101e9ec0'),
('random',5,'sd_hi','1992-10-23','6c7a7694101e9ec0'),
('random',5,'sd_lo','1992-01-28','6c7a7694101e9ec0'),
('grid',0,'l_returnflag','N','e066dca13466a36d'),
('grid',0,'q_hi','39.86877959058545','e066dca13466a36d'),
('grid',0,'q_lo','30.06877959058545','e066dca13466a36d'),
('grid',0,'sd_hi','1992-12-08','e066dca13466a36d'),
('grid',0,'sd_lo','1992-04-13','e066dca13466a36d'),
('grid',1,'l_returnflag','A','a9428838c6f1ad20'),
('grid',1,'q_hi','39.66967159522929','a9428838c6f1ad20'),
('grid',1,'q_lo','29.86967159522929','a9428838c6f1ad20'),
('grid',1,'sd_hi','1994-01-12','a9428838c6f1ad20'),
('grid',1,'sd_lo','1993-07-26','a9428838c6f1ad20'),
('grid',2,'l_returnflag','R','7d18e6b5cea998bb'),
('grid',2,'q_hi','14.208002239073114','7d18e6b5cea998bb'),
('grid',2,'q_lo','4.408002239073113','7d18e6b5cea998bb'),
('grid',2,'sd_hi','1998-10-16','7d18e6b5cea998bb'),
('grid',2,'sd_lo','1998-02-12','7d18e6b5cea998bb'),
('grid',3,'l_returnflag','N','2d325ee1cdfc2011'),
('grid',3,'q_hi','14.472853402574426','2d325ee1cdfc2011'),
('grid',3,'q_lo','4.672853402574424','2d325ee1cdfc2011'),
('grid',3,'sd_hi','1992-11-20','2d325ee1cdfc2011'),
('grid',3,'sd_lo','1992-05-03','2d325ee1cdfc2011'),
('grid',4,'l_returnflag','A','eebed8e48ff843d9'),
('grid',4,'q_hi','32.80080646719363','eebed8e48ff843d9'),
('grid',4,'q_lo','23.00080646719363','eebed8e48ff843d9'),
('grid',4,'sd_hi','1992-10-03','eebed8e48ff843d9'),
('grid',4,'sd_lo','1992-04-19','eebed8e48ff843d9'),
('grid',5,'l_returnflag','R','ca3c333833e33453'),
('grid',5,'q_hi','27.245176981697025','ca3c333833e33453'),
('grid',5,'q_lo','17.445176981697024','ca3c333833e33453'),
('grid',5,'sd_hi','1998-10-22','ca3c333833e33453'),
('grid',5,'sd_lo','1998-02-11','ca3c333833e33453'),
('lhs',0,'l_returnflag','R','7ea6e94623e2cc46'),
('lhs',0,'q_hi','37.326619906978124','7ea6e94623e2cc46'),
('lhs',0,'q_lo','27.526619906978127','7ea6e94623e2cc46'),
('lhs',0,'sd_hi','1993-08-09','7ea6e94623e2cc46'),
('lhs',0,'sd_lo','1993-02-24','7ea6e94623e2cc46'),
('lhs',1,'l_returnflag','N','f564295d02a97945'),
('lhs',1,'q_hi','33.947306488002354','f564295d02a97945'),
('lhs',1,'q_lo','24.147306488002357','f564295d02a97945'),
('lhs',1,'sd_hi','1993-10-03','f564295d02a97945'),
('lhs',1,'sd_lo','1992-12-23','f564295d02a97945'),
('lhs',2,'l_returnflag','N','89ad8d30df29cda3'),
('lhs',2,'q_hi','19.370608612301254','89ad8d30df29cda3'),
('lhs',2,'q_lo','9.570608612301253','89ad8d30df29cda3'),
('lhs',2,'sd_hi','1993-05-31','89ad8d30df29cda3'),
('lhs',2,'sd_lo','1993-01-19','89ad8d30df29cda3'),
('lhs',3,'l_returnflag','R','672ce72f7ca5ca30'),
('lhs',3,'q_hi','32.80080646719363','672ce72f7ca5ca30'),
('lhs',3,'q_lo','23.00080646719363','672ce72f7ca5ca30'),
('lhs',3,'sd_hi','1992-11-21','672ce72f7ca5ca30'),
('lhs',3,'sd_lo','1992-04-19','672ce72f7ca5ca30'),
('lhs',4,'l_returnflag','A','9816c5d527a6bcb0'),
('lhs',4,'q_hi','27.245176981697025','9816c5d527a6bcb0'),
('lhs',4,'q_lo','17.445176981697024','9816c5d527a6bcb0'),
('lhs',4,'sd_hi','1998-10-22','9816c5d527a6bcb0'),
('lhs',4,'sd_lo','1998-02-11','9816c5d527a6bcb0'),
('lhs',5,'l_returnflag','N','23e0985a4c2ce9f1'),
('lhs',5,'q_hi','42.529673901770806','23e0985a4c2ce9f1'),
('lhs',5,'q_lo','32.72967390177081','23e0985a4c2ce9f1'),
('lhs',5,'sd_hi','1995-09-08','23e0985a4c2ce9f1'),
('lhs',5,'sd_lo','1995-02-14','23e0985a4c2ce9f1')
"""


@register(
    "wlgen_fill_golden",
    oracle=(
        "SELECT mode, CAST(idx AS INT) AS idx, param, val, sql_md5 FROM "
        "(VALUES" + _WLG_GOLDEN + ") AS t(mode, idx, param, val, sql_md5) "
        "ORDER BY mode, idx, param"
    ),
)
def wlgen_fill_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-42 workload-generator GOLDEN (reference parity: wlg/cli/main.py
    fill; VERDICT G2-G8): one fixed template with date + float interval
    rules, a cross-param constraint, and a categorical topk param, filled
    in all three modes (random / grid / LHS).  The emitted parameter table
    — and the md5 of every rendered SQL text — must equal the pinned
    golden, exactly like the codec wire fixtures: any drift in the seeded
    sampler, date alignment, constraint filtering, or literal substitution
    shows up as a hash mismatch.  Deliberately data-independent (the spec
    carries its own stats payload), so it also pins behavior on the
    adversarial fixture sweep."""
    from lakehouse_sfc_spark.wlgen.fill import fill_spec

    rows = []
    for mode in ("random", "grid", "lhs"):
        outs = fill_spec(_wlg_spec(mode), _WLG_STATS, table="lineitem")
        for i, o in enumerate(outs):
            h = hashlib.md5(o["sql"].encode()).hexdigest()[:16]
            for pname in sorted(o["params"]):
                rows.append((mode, i, pname, str(o["params"][pname]), h))
    df = spark.createDataFrame(
        rows, "mode string, idx int, param string, val string, sql_md5 string"
    )
    return df.orderBy("mode", "idx", "param")


_COVERAGE_SQL = """
WITH ev AS ({EV}),
per AS (
  SELECT tname, ptype,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
         CAST(SUM(CASE WHEN is_join THEN 1 ELSE 0 END) AS BIGINT)
             AS n_joins,
         CAST(SUM(CASE WHEN in_or THEN 1 ELSE 0 END) AS BIGINT)
             AS n_under_or
  FROM ev GROUP BY tname, ptype
),
tot AS (SELECT tname, CAST(SUM(n_events) AS BIGINT) AS t_events FROM per
        GROUP BY tname)
SELECT p.tname AS table_name, p.ptype,
       p.n_events, p.n_queries, p.n_joins, p.n_under_or,
       CAST(p.n_events AS DOUBLE) / t.t_events AS table_share
FROM per p JOIN tot t ON t.tname = p.tname
ORDER BY p.tname, p.ptype
"""


@register(
    "advisor_workload_coverage",
    oracle=_COVERAGE_SQL.format(EV=_ADV_EV_ORACLE),
)
def advisor_workload_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload COVERAGE matrix (reference parity: viz's per-table
    predicate-mix coverage, VERDICT G10, previously pytest-only): per
    (table, predicate type), how many events and distinct queries hit
    it, how many were join predicates or OR-discounted, and the type's
    share of the table's predicate mass — the sanity view that a
    generated or recorded workload actually exercises the predicate
    classes the layout advisor scores.  Spark runs the real extractor;
    the oracle replays from the pinned event golden (extractor drift
    breaks the hash).  Integer counts, one division per row.

    Scale shape: pure metadata — two key-equality aggregations over the
    event relation; identical plan against a 100-TB query-log table."""
    return spark.sql(_COVERAGE_SQL.format(EV=_events_view(spark)))
