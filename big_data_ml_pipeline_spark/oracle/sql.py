"""Oracle SQL twins for the driver contract (DuckDB dialect).

One ANSI-SQL string per oracle-checked ``queries()`` entry in
``__spark_entry__.py`` — pure data plus the literal-sharing builders
(hyperplanes, IVF centroids, minhash hash family, PII patterns) that
keep the SQL bit-identical to the Spark operators. No Spark session
use, no behavior: moving this out of the entry file (VERDICT r5
item 8) changes nothing the driver sees.

Determinism policy for hash-checked queries (see
big_data_ml_pipeline_spark/functions/exact.py): float aggregates over
money-like 2-decimal columns are computed EXACTLY by scaling to integer
cents and summing as BIGINT, so results are bit-identical across
partitionings and engines. Window/top-k queries always order by a total
order (timestamp + unique id).
"""

from __future__ import annotations

from ..operators import dedup as dedup_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops

def _dsum(x: str, scale: int = 2) -> str:
    m = 10**scale
    return f"CAST(SUM(CAST(ROUND(({x}) * {m}) AS BIGINT)) AS BIGINT) / CAST({m} AS DOUBLE)"

def _davg(x: str, scale: int = 2) -> str:
    return f"{_dsum(x, scale)} / COUNT({x})"

def _dstd(x: str, scale: int = 2) -> str:
    m = 10**scale
    c = f"CAST(ROUND(({x}) * {m}) AS BIGINT)"
    return (
        f"sqrt(CAST(SUM({c} * {c}) * COUNT({x}) - SUM({c}) * SUM({c}) AS DOUBLE)"
        f" / CAST(COUNT({x}) * (COUNT({x}) - 1) AS DOUBLE)) / CAST({m} AS DOUBLE)"
    )

_EPOCH = "CAST(floor(epoch(ts)) AS BIGINT)"

_DUCK_TOKENS = "list_filter(regexp_split_to_array({col}, '\\s+'), t -> t <> '')"

_DUCK_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

_Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_dsum('l_quantity')} AS sum_qty,
  {_dsum('l_extendedprice')} AS sum_base_price,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
  {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
  {_davg('l_quantity')} AS avg_qty,
  {_davg('l_extendedprice')} AS avg_price,
  {_davg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

_Q02_SQL = f"""
SELECT l_orderkey,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""

_Q03_SQL = f"""
SELECT c_mktsegment,
  COUNT(*) AS order_count,
  COUNT(DISTINCT c_custkey) AS n_customers,
  {_davg('o_totalprice')} AS avg_totalprice,
  MIN(o_totalprice) AS min_totalprice,
  MAX(o_totalprice) AS max_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

_Q04_SQL = f"""
SELECT r_name,
  COUNT(*) AS n_customers,
  {_dsum('c_acctbal')} AS total_acctbal,
  {_davg('c_acctbal')} AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

_Q05_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00')
GROUP BY o_orderpriority
"""

_Q06_SQL = """
SELECT n_name, COUNT(*) AS idle_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
"""

_Q07_SQL = """
SELECT l_orderkey, l_linenumber,
  CASE WHEN l_quantity <> 0 THEN l_extendedprice / l_quantity ELSE 0.0 END
    AS l_extendedprice_to_l_quantity_ratio,
  CASE WHEN l_tax <> 0 THEN l_extendedprice / l_tax ELSE 0.0 END
    AS l_extendedprice_to_l_tax_ratio
FROM lineitem
"""

_Q08_SQL = f"""
SELECT event_id,
  ({_EPOCH} % 86400) / 3600.0 AS hour,
  ({_EPOCH} / 86400.0) % 7 AS day_of_week,
  ({_EPOCH} / 86400.0) % 31 + 1 AS day_of_month,
  CASE WHEN ({_EPOCH} / 86400.0) % 7 IN (5.0, 6.0) THEN 1 ELSE 0 END AS is_weekend
FROM events
"""

_Q09_SQL = """
SELECT l_orderkey, l_linenumber,
  l_quantity * l_discount AS l_quantity_x_l_discount,
  l_quantity * l_tax AS l_quantity_x_l_tax,
  l_discount * l_tax AS l_discount_x_l_tax
FROM lineitem
"""

_Q10_SQL = """
SELECT event_id, value,
  LAG(value, 1) OVER w AS value_lag_1,
  LAG(value, 7) OVER w AS value_lag_7
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

_Q11_SQL = """
SELECT event_id,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) / CAST(100 AS DOUBLE)
    AS value_rolling_sum_7,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) / CAST(100 AS DOUBLE)
    / COUNT(value) OVER w AS value_rolling_mean_7
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
"""

_Q12_SQL = f"""
SELECT event_id, event_type, value, value_mean, value_min, value_max, value_count
FROM events LEFT JOIN (
  SELECT event_type AS et,
    {_davg('value')} AS value_mean,
    MIN(value) AS value_min,
    MAX(value) AS value_max,
    COUNT(value) AS value_count
  FROM events GROUP BY event_type) s ON events.event_type = s.et
"""

_Q13_SQL = """
SELECT c_custkey, c_mktsegment, c_mktsegment_freq
FROM customer LEFT JOIN (
  SELECT c_mktsegment AS seg, COUNT(*) AS c_mktsegment_freq
  FROM customer GROUP BY c_mktsegment) f ON customer.c_mktsegment = f.seg
"""

_Q14_SQL = f"""
SELECT c_custkey, c_mktsegment, c_mktsegment_target_mean
FROM customer LEFT JOIN (
  SELECT c_mktsegment AS seg, {_davg('c_acctbal')} AS c_mktsegment_target_mean
  FROM customer GROUP BY c_mktsegment) t ON customer.c_mktsegment = t.seg
"""

_Q15_SQL = f"""
WITH s AS (SELECT {_davg('value')} AS mu, {_dstd('value')} AS sigma FROM events)
SELECT event_type,
  CAST(SUM(CASE WHEN abs(value - mu) > 2 * sigma THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  COUNT(*) AS n_total
FROM events CROSS JOIN s
GROUP BY event_type
"""

_Q16_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
  {_dsum('o_totalprice')} AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

_Q17_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items, {_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""

_Q18_SQL = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
  COUNT(*) AS n_orders, {_dsum('o_totalprice')} AS total_price
FROM orders GROUP BY 1, 2
"""

_Q19_SQL = """
SELECT COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_event_types,
       COUNT(*) AS n_events
FROM events
"""

_Q20_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""

_Q21_SQL = """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
"""

_Q22_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""

_Q23_SQL = """
SELECT event_type, event_id, value, rn FROM (
  SELECT event_type, event_id, value,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events) WHERE rn <= 3
"""

_TOKS = _DUCK_TOKENS.format(col="text")

_TOKS_LOWER = _DUCK_TOKENS.format(col="lower(text)")

_Q24_SQL = f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_computed,
  CASE WHEN len({_TOKS}) > 0
       THEN CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE) / len({_TOKS})
       ELSE 0.0 END AS avg_token_len,
  CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %'
         OR ' ' || lower(text) || ' ' LIKE '% and %'
         OR ' ' || lower(text) || ' ' LIKE '% a %' THEN 'en'
       WHEN ' ' || lower(text) || ' ' LIKE '% der %'
         OR ' ' || lower(text) || ' ' LIKE '% und %'
         OR ' ' || lower(text) || ' ' LIKE '% die %' THEN 'de'
       WHEN ' ' || lower(text) || ' ' LIKE '% le %'
         OR ' ' || lower(text) || ' ' LIKE '% et %'
         OR ' ' || lower(text) || ' ' LIKE '% la %' THEN 'fr'
       WHEN ' ' || lower(text) || ' ' LIKE '% el %'
         OR ' ' || lower(text) || ' ' LIKE '% y %'
         OR ' ' || lower(text) || ' ' LIKE '% de %' THEN 'es'
       ELSE 'und' END AS lang_pred,
  md5({_DUCK_NORM}) AS fp
FROM documents
"""

_Q25_SQL = f"""
SELECT md5({_DUCK_NORM}) AS fp, COUNT(*) AS n_dups, MIN(doc_id) AS first_id
FROM documents GROUP BY 1
"""

_Q26_SQL = f"""
SELECT (SELECT COUNT(*) FROM documents) AS total_docs,
       (SELECT COUNT(DISTINCT md5({_DUCK_NORM})) FROM documents) AS distinct_docs
"""

_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len({t}) - 2),"
    " i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
).format(t=_TOKS_LOWER)

_Q27_SQL = f"""
WITH sh AS (
  SELECT doc_id AS id, source AS blk, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, COUNT(*) AS setsize FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
  ROUND(CAST(n_inter AS DOUBLE) / (sa.setsize + sb.setsize - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.setsize + sb.setsize - n_inter) >= 0.2
"""

_Q28_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
  ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
         sqrt(list_dot_product(qe, qe))), 6) AS sim
FROM embeddings, q
ORDER BY sim DESC, vec_id LIMIT 10
"""

_Q29_SQL = f"""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_bucket, event_type,
  COUNT(*) AS n, {_dsum('value')} AS total_value
FROM events GROUP BY 1, 2
"""

_Q30_SQL = f"""
WITH g AS (
  SELECT user_id,
    CASE WHEN {_EPOCH} - LAG({_EPOCH}, 1)
         OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM g GROUP BY user_id
"""

_Q31_SQL = """
SELECT e.event_id,
       (SELECT s.value
        FROM events s
        WHERE s.event_type = 'signup'
          AND s.user_id = e.user_id
          AND s.ts <= e.ts
        ORDER BY s.ts DESC, s.event_id DESC
        LIMIT 1) AS signup_value_asof
FROM events e
"""

_Q32_SQL = f"""
SELECT tier, COUNT(*) AS n_items, {_dsum('l_extendedprice')} AS total_price
FROM lineitem JOIN (VALUES ('small', 0.0, 9.0), ('medium', 10.0, 24.0),
                           ('large', 25.0, 100.0)) AS t(tier, lo, hi)
  ON l_quantity BETWEEN lo AND hi
GROUP BY tier
"""

_Q33_SQL = f"""
SELECT n_name,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""

_Q34_SQL = f"""
SELECT c_custkey, c_name, n_name,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""

_Q35_SQL = f"""
SELECT p_brand,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
  {_dsum('l_quantity')} AS sum_qty,
  COUNT(DISTINCT p_partkey) AS n_parts
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""

_Q39_SQL = f"""
WITH p AS (
  SELECT l_partkey AS pk, {_davg('l_quantity')} AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT {_dsum('l_extendedprice')} AS total_price, COUNT(*) AS n_items
FROM lineitem JOIN p ON l_partkey = pk
WHERE l_quantity < 0.5 * avg_qty
"""

_Q53_SQL = f"""
SELECT event_id,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) / 100.0 AS value_1h_sum,
  COUNT(value) OVER w AS n_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY {_EPOCH}
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

_Q37_SQL = """
SELECT COUNT(DISTINCT user_id) AS n_users_exact FROM events
"""

_Q38_SQL = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT qid, vec_id,
    ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
          (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
           sqrt(list_dot_product(qe, qe))), 6) AS sim
  FROM embeddings, q)
SELECT qid, vec_id, sim, rn FROM (
  SELECT qid, vec_id, sim,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored) WHERE rn <= 3
"""

_Q36_SQL = f"""
SELECT n_name AS supp_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""

def _q42_sql() -> str:
    planes = sim_ops.random_hyperplanes(dim=64, n_planes=8, seed=42)
    bucket = "\n      + ".join(
        f"CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]) >= 0"
        f" THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), tagged AS (
  SELECT id, v,
    ({bucket}) AS bucket
  FROM e
)
SELECT id_a, id_b, sim FROM (
  SELECT a.id AS id_a, b.id AS id_b,
    ROUND(list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM tagged a JOIN tagged b ON a.bucket = b.bucket AND a.id < b.id)
WHERE sim >= 0.3
"""

_Q42_SQL = _q42_sql()

def _q43_sql() -> str:
    """Oracle twin of q43: identical IVF from the same centroid
    literals (cells by rounded argmax cosine with ASC index ties, 4
    probe cells, exact cosine top-10 within them)."""
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
    )

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qcells AS (
  SELECT cell FROM sims WHERE vec_id = 0 ORDER BY csim DESC, cell ASC LIMIT 4
)
SELECT a.vec_id,
       ROUND(list_dot_product(a.v, q.qv) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
FROM assigned a CROSS JOIN q
WHERE a.cell IN (SELECT cell FROM qcells)
ORDER BY sim DESC, a.vec_id LIMIT 10
"""

_Q43_SQL = _q43_sql()


def _q110_sql() -> str:
    """Twin of q110: the q43 IVF machinery generalized to a query
    BATCH (vec_id % 100 = 0) — per-query probed cells, exact cosine
    rank within them, ties by (sim DESC, vec_id ASC)."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims WHERE vec_id % 100 = 0) t WHERE rn <= 4
),
cand AS (
  SELECT q.qid, a.vec_id,
         ROUND(list_dot_product(a.v, q.qv) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
  FROM assigned a
  JOIN qcells qc ON a.cell = qc.cell
  JOIN q ON q.qid = qc.qid
)
SELECT qid, vec_id, sim, rn FROM (
  SELECT qid, vec_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rn
  FROM cand) t
WHERE rn <= 5
"""


_Q110_SQL = _q110_sql()


def _q111_sql() -> str:
    """Twin of q111: two hyperplane tables (seeds 42 and 1042 — the
    n_tables derived-seed rule), pairs colliding in either table,
    deduped."""

    def bucket_expr(seed: int) -> str:
        planes = sim_ops.random_hyperplanes(dim=64, n_planes=8, seed=seed)
        return "\n      + ".join(
            f"CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]) >= 0"
            f" THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes)
        )

    tables = " UNION ALL ".join(
        f"""
  SELECT a.id AS id_a, b.id AS id_b,
    ROUND(list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM t{t} a JOIN t{t} b ON a.bucket = b.bucket AND a.id < b.id"""
        for t in range(2)
    )
    withs = ",\n".join(
        f"""t{t} AS (
  SELECT id, v, ({bucket_expr(42 + 1000 * t)}) AS bucket FROM e
)"""
        for t in range(2)
    )
    return f"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{withs}
SELECT DISTINCT id_a, id_b, sim FROM ({tables})
WHERE sim >= 0.3
"""


_Q111_SQL = _q111_sql()

_DUCK_PUNCT = (
    "CASE WHEN length(text) > 0 THEN"
    " CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)"
    " / length(text) ELSE 0.0 END"
)

_Q45_SQL = f"""
SELECT doc_id,
  {_DUCK_PUNCT} AS punct_ratio,
  CASE WHEN len({_DUCK_TOKENS.format(col='lower(text)')}) > 0
       THEN CAST(len(list_filter({_DUCK_TOKENS.format(col='lower(text)')},
                    t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
            / len({_DUCK_TOKENS.format(col='lower(text)')})
       ELSE 0.0 END AS stopword_ratio,
  ROUND(0.5 * least(CAST(len({_DUCK_TOKENS.format(col='text')}) AS DOUBLE) / 100.0, 1.0)
      + 0.5 * (1.0 - least(({_DUCK_PUNCT}) * 5.0, 1.0)), 6) AS quality
FROM documents
"""

_Q46_SQL = """
WITH b AS (
  SELECT CAST(concat('0x', substr(md5(
           COALESCE('v' || CAST(l_orderkey AS VARCHAR), '~') || '|' ||
           COALESCE('v' || CAST(l_linenumber AS VARCHAR), '~') || '|' || 'split-42'), 1, 8)) AS BIGINT)
         % 100 AS bucket
  FROM lineitem
)
SELECT 'train' AS split, COUNT(*) AS n FROM b WHERE bucket < 80
UNION ALL
SELECT 'test' AS split, COUNT(*) AS n FROM b WHERE bucket >= 80
"""

_Q49_SQL = """
WITH f AS (
  SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment),
idx AS (
  SELECT c_mktsegment,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, c_mktsegment ASC) - 1 AS i
  FROM f)
SELECT c_custkey, CAST(i AS DOUBLE) AS c_mktsegment_indexed
FROM customer JOIN idx USING (c_mktsegment)
"""

_Q54_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""

_Q55_SQL = f"""
SELECT year(o_orderdate) AS yr,
  ({_dsum("CASE WHEN sn.n_name = 'NATION_0' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)})
    / ({_dsum('l_extendedprice * (1 - l_discount)', 4)}) AS mkt_share,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
GROUP BY year(o_orderdate)
"""

_Q56_SQL = """
SELECT o_orderpriority,
  COUNT(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 END) AS n_late,
  COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

_Q57_SQL = """
WITH e AS (
  SELECT d.doc_id, d.lang, CAST(em.embedding AS DOUBLE[]) AS v
  FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id)
SELECT id_a, id_b, sim FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    ROUND(list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM e a JOIN e b ON a.lang = b.lang AND a.doc_id < b.doc_id)
WHERE sim >= 0.42
"""

_Q60_SQL = """
SELECT event_type,
  quantile_cont(value, 0.5) AS p50,
  quantile_cont(value, 0.9) AS p90,
  quantile_cont(value, 0.99) AS p99
FROM events
GROUP BY event_type
"""

_Q58_SQL = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{text_ops.BPE_ISH_PATTERN.replace("'", "''")}')) AS n_bpe_tokens,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform({_DUCK_TOKENS.format(col='lower(text)')},
        t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {text_ops.ROLLING_HASH_MOD})),
    (acc, h) -> (acc * {text_ops.ROLLING_HASH_BASE} + h) % {text_ops.ROLLING_HASH_MOD}) AS roll_fp
FROM documents
"""

_MINHASH_MINS = ",\n    ".join(
    f"MIN(({a} * h + {b}) % {dedup_ops.MINHASH_PRIME})"
    for a, b in dedup_ops.minhash_params(64)
)

_Q70_SQL = f"""
WITH sh AS (
  SELECT id, CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
             % {dedup_ops.MINHASH_PRIME} AS h
  FROM (SELECT doc_id AS id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents)
), sig AS (
  SELECT id, [{_MINHASH_MINS}] AS sig
  FROM sh GROUP BY id
), banded AS (
  SELECT id, sig, bd, array_to_string(sig[(bd*4+1):(bd*4+4)], ',') AS bkey
  FROM sig, range(16) t(bd)
)
SELECT DISTINCT id_a, id_b, est_jaccard FROM (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 64.0
      AS est_jaccard
  FROM banded a JOIN banded b
    ON a.bd = b.bd AND a.bkey = b.bkey AND a.id < b.id)
WHERE est_jaccard >= 0.4
"""

def _q71_sql() -> str:
    votes = ",\n    ".join(
        f"SUM(CASE WHEN ({'h1' if i < 32 else 'h2'} >> {i % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    weights = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {(1 << i) if i < 63 else '(-9223372036854775807 - 1)'}"
        f" ELSE 0 END"
        for i in range(64)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS id,
    CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h1,
    CAST(concat('0x', substr(md5(t), 9, 8)) AS BIGINT) AS h2
  FROM (SELECT doc_id,
          unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS t
        FROM documents)
), votes AS (
  SELECT id,
    {votes}
  FROM tok GROUP BY id
), sig AS (
  SELECT id, CAST({weights} AS BIGINT) AS sh FROM votes
), banded AS (
  SELECT id, sh, bd, (sh >> (bd * 16)) & 65535 AS key
  FROM sig, range(4) t(bd)
)
SELECT DISTINCT id_a, id_b, hamming FROM (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
  FROM banded a JOIN banded b
    ON a.bd = b.bd AND a.key = b.key AND a.id < b.id)
WHERE hamming <= 8
"""

_Q71_SQL = _q71_sql()

_Q61_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""

_Q62_SQL = f"""
SELECT CAST(s_nationkey AS INTEGER) AS supp_nation,
  CAST(c_nationkey AS INTEGER) AS cust_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
  {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                     AND TIMESTAMP '1997-12-31 00:00:00'
  AND ((s_nationkey = 1 AND c_nationkey = 2)
    OR (s_nationkey = 2 AND c_nationkey = 1))
GROUP BY 1, 2, 3
"""

_Q63_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
"""

_Q64_SQL = f"""
SELECT
  100.0 * ({_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)})
    / ({_dsum('l_extendedprice * (1 - l_discount)', 4)}) AS promo_revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
"""

_Q65_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, {_dsum('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING {_dsum('l_quantity')} > 300)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""

_Q66_SQL = f"""
SELECT {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'SMALL' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_type = 'MEDIUM' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'LARGE' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""

_Q67_SQL = """
WITH per_order AS (
  SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
         COUNT(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2
), sole AS (
  SELECT l.l_orderkey, MIN(l.l_suppkey) AS sole_supp
  FROM lineitem l JOIN per_order p
    ON l.l_orderkey = p.l_orderkey AND l.l_shipdate = p.max_ship
  GROUP BY l.l_orderkey HAVING COUNT(DISTINCT l.l_suppkey) = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM sole JOIN supplier ON sole_supp = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 10
"""

_Q68_SQL = f"""
SELECT c_nationkey, COUNT(*) AS numcust, {_dsum('c_acctbal')} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT {_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""

_Q74_SQL = f"""
SELECT {_dsum('l_extendedprice * l_discount', 4)} AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

_Q75_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""

_Q76_SQL = """
SELECT c_mktsegment, c_custkey, c_acctbal, rnk, drnk, quartile, pct_rank, cume
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
    RANK() OVER w AS rnk,
    DENSE_RANK() OVER w AS drnk,
    NTILE(4) OVER w AS quartile,
    ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
    ROUND(CUME_DIST() OVER w, 6) AS cume
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
WHERE rnk <= 50
"""

_Q77_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
  COUNT(*) AS n,
  {_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""

_Q78_SQL = """
SELECT vec_id,
  CAST(len(v) AS BIGINT) AS dim,
  ROUND(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')), 6) AS l2_norm,
  ROUND(list_aggregate(v, 'sum') / len(v), 6) AS mean_val,
  ROUND(list_aggregate(v, 'max'), 6) AS max_val,
  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_positive
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""

_Q79_SQL = """
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         CAST(MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS offer
  FROM lineitem GROUP BY l_partkey, l_suppkey),
eu AS (
  SELECT o.*, s_name, s_acctbal, n_name,
         ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY offer ASC, l_suppkey ASC) AS rn
  FROM offers o
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
SELECT p_partkey, p_brand, n_name, s_name, s_acctbal, offer
FROM eu JOIN part ON l_partkey = p_partkey
WHERE rn = 1 AND p_size = 15
ORDER BY s_acctbal DESC, p_partkey ASC LIMIT 30
"""

_Q80_SQL = f"""
WITH asia AS (
  SELECT l_partkey, l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'),
per_part AS (
  SELECT l_partkey, {_dsum('l_extendedprice * (1 - l_discount)', 4)} AS part_value
  FROM asia GROUP BY l_partkey)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > 0.002 * (SELECT SUM(part_value) FROM per_part)
ORDER BY part_value DESC, l_partkey ASC
"""

_Q81_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'ECONOMY' AND p_size BETWEEN 5 AND 20
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC LIMIT 40
"""

_Q82_SQL = """
WITH y AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                       THEN l_quantity ELSE 0 END) AS BIGINT) AS qty96,
         CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                       THEN l_quantity ELSE 0 END) AS BIGINT) AS qty97
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
  AND s_suppkey IN (SELECT l_suppkey FROM y WHERE qty96 > 0 AND qty97 > 2 * qty96)
ORDER BY s_suppkey
"""

_Q83_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id, source AS blk, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, COUNT(*) AS setsize FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
), jac AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.setsize + sb.setsize - n_inter) >= 0.2
), fp AS (
  SELECT doc_id, md5({_DUCK_NORM}) AS fp FROM documents
), grp AS (
  SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS first_id FROM fp GROUP BY fp
), exact_edges AS (
  SELECT g.first_id AS id_a, f.doc_id AS id_b
  FROM fp f JOIN grp g USING (fp)
  WHERE g.n_dups > 1 AND f.doc_id <> g.first_id
), edges0 AS (
  SELECT id_a, id_b FROM exact_edges UNION SELECT id_a, id_b FROM jac
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION SELECT id_b, id_a FROM edges0
), verts AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
)
SELECT comp, COUNT(*) AS n_members
FROM (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
GROUP BY comp ORDER BY comp
"""

_Q158_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id, source AS blk, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, COUNT(*) AS setsize FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
), jac AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.setsize + sb.setsize - n_inter) >= 0.2
), fp AS (
  SELECT doc_id, md5({_DUCK_NORM}) AS fp FROM documents
), grp AS (
  SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS first_id FROM fp GROUP BY fp
), exact_edges AS (
  SELECT g.first_id AS id_a, f.doc_id AS id_b
  FROM fp f JOIN grp g USING (fp)
  WHERE g.n_dups > 1 AND f.doc_id <> g.first_id
), edges0 AS (
  SELECT id_a, id_b FROM exact_edges UNION SELECT id_a, id_b FROM jac
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION SELECT id_b, id_a FROM edges0
), verts AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(comp) AS BIGINT) AS comp
FROM reach GROUP BY id
"""

# q161: the q83 recursive-CTE component labels + the q46 md5-bucket
# split pattern applied to the GROUP key (docs without a label are
# singletons bucketing on their own id) — the leakage-safe split's
# per-split doc/group accounting.
_Q161_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id, source AS blk, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, COUNT(*) AS setsize FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
), jac AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.setsize + sb.setsize - n_inter) >= 0.2
), fp AS (
  SELECT doc_id, md5({_DUCK_NORM}) AS fp FROM documents
), grp AS (
  SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS first_id FROM fp GROUP BY fp
), exact_edges AS (
  SELECT g.first_id AS id_a, f.doc_id AS id_b
  FROM fp f JOIN grp g USING (fp)
  WHERE g.n_dups > 1 AND f.doc_id <> g.first_id
), edges0 AS (
  SELECT id_a, id_b FROM exact_edges UNION SELECT id_a, id_b FROM jac
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION SELECT id_b, id_a FROM edges0
), verts AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
), labels AS (
  SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
), keyed AS (
  SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS grp
  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
), b AS (
  SELECT grp,
         CAST(concat('0x', substr(md5(
           COALESCE('v' || CAST(grp AS VARCHAR), '~') || '|' || 'split-42'
         ), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM keyed
)
SELECT 'train' AS split, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_groups
FROM b WHERE bucket < 80
UNION ALL
SELECT 'test' AS split, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_groups
FROM b WHERE bucket >= 80
"""

_Q84_SQL = """
SELECT p_partkey,
  CAST(levenshtein(p_name, 'red widget') AS BIGINT) AS lev,
  lpad(p_brand, 12, '_') AS padded,
  translate(p_name, 'aeiou', 'AEIOU') AS xlated,
  repeat(substr(p_type, 1, 2), 2) AS rep2,
  reverse(p_name) AS rname,
  CAST(ascii(p_brand) AS BIGINT) AS first_byte,
  CAST(instr(p_name, 'e') AS BIGINT) AS e_pos,
  concat_ws('|', p_brand, p_type) AS brand_type,
  CAST(length(trim(p_name)) AS BIGINT) AS nchars
FROM part
"""

_Q85_SQL = """
SELECT o_orderkey,
  CAST(year(o_orderdate) AS BIGINT) AS yr,
  CAST(month(o_orderdate) AS BIGINT) AS mo,
  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
  CAST(weekofyear(o_orderdate) AS BIGINT) AS isoweek,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
  CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start
FROM orders
"""

_Q86_SQL = """
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|' || 'cap-42'), 1, 8)) AS BIGINT) ASC,
                    doc_id ASC
         ) AS rn
  FROM documents)
SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM ranked WHERE rn <= 100
GROUP BY source ORDER BY source
"""

_Q87_SQL = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
  CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'A'
    THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) END), 0) AS BIGINT) / 10000.0 AS rev_A,
  CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'N'
    THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) END), 0) AS BIGINT) / 10000.0 AS rev_N,
  CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R'
    THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) END), 0) AS BIGINT) / 10000.0 AS rev_R
FROM lineitem
GROUP BY year(l_shipdate) ORDER BY yr
"""

_Q88_SQL = """
SELECT p_partkey, 'retailprice' AS variable, CAST(p_retailprice AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
"""

_Q89_SQL = """
SELECT user_id, event_id,
  FIRST_VALUE(event_type) OVER w_run AS first_type,
  LAST_VALUE(event_type) OVER w_run AS latest_type,
  NTH_VALUE(event_type, 2) OVER w_run AS second_type,
  LEAD(event_type, 1, 'END') OVER w_ord AS next_type
FROM events
WINDOW
  w_run AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_ord AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""

_Q90_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
  COUNT(*) AS n,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM events
GROUP BY 1 ORDER BY k_bucket
"""

_Q91_SQL = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_DUCK_TOKENS.format(col='lower(text)')}) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term),
sized AS (
  SELECT doc_id, term, cnt,
         SUM(cnt) OVER (PARTITION BY doc_id) AS doc_len,
         COUNT(*) OVER (PARTITION BY term) AS df
  FROM tf),
scored AS (
  SELECT doc_id, term,
         ROUND((CAST(cnt AS DOUBLE) / doc_len)
               * ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM sized)
SELECT doc_id, term, tfidf, rn FROM (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored)
WHERE rn <= 3
"""

_Q92_SQL = """
WITH e AS (
  SELECT d.lang, CAST(em.embedding AS DOUBLE[]) AS v
  FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id)
SELECT lang, CAST(g.pos AS BIGINT) AS pos,
       CAST(SUM(CAST(ROUND(v[g.pos] * 1000000) AS BIGINT)) AS BIGINT)
         / (COUNT(*) * 1000000.0) AS centroid_val
FROM e CROSS JOIN generate_series(1, 64) AS g(pos)
GROUP BY lang, g.pos
"""

_Q93_SQL = f"""
SELECT LEAST(GREATEST(CAST(FLOOR(value / 50) AS BIGINT), 0), 19) AS bucket,
  COUNT(*) AS n, {_dsum('value')} AS total_value
FROM events
GROUP BY 1
"""

_Q94_SQL = """
SELECT l_returnflag,
  ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
  ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""

_Q95_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id, source AS blk, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, COUNT(*) AS setsize FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
), jac AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.setsize + sb.setsize - n_inter) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM jac
  UNION SELECT id_b, id_a FROM jac
), verts AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
)
SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
"""

_Q96_SQL = """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM s1),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM s2),
pu AS (
  SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
         MAX(t_purchase) AS t_purchase
  FROM s3 GROUP BY user_id)
SELECT CASE WHEN t_purchase IS NOT NULL THEN 3
            WHEN t_click IS NOT NULL THEN 2
            WHEN t_view IS NOT NULL THEN 1
            ELSE 0 END AS funnel_stage,
       COUNT(*) AS n_users
FROM pu GROUP BY 1
"""

_Q97_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
s AS (
  SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS cohort_d
  FROM days)
SELECT strftime(CAST(cohort_d AS DATE), '%Y-%m-%d') AS cohort_day,
       CAST(FLOOR(date_diff('day', CAST(cohort_d AS DATE), d) / 7.0) AS BIGINT)
         AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM s GROUP BY 1, 2
"""

_Q98_SQL = """
WITH d AS (SELECT doc_id FROM documents WHERE lang = 'en'),
j AS (
  SELECT d.doc_id, e.vec_id
  FROM d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
SELECT CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 'both'
            WHEN doc_id IS NULL THEN 'embedding_only'
            ELSE 'doc_only' END AS status,
       COUNT(*) AS n
FROM j GROUP BY 1
"""

_Q99_SQL = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       '{' || string_agg(format('"{}":{}', event_type, cnt), ','
                         ORDER BY event_type) || '}' AS type_counts
FROM c GROUP BY user_id
"""

def _q100_sql() -> str:
    email, phone, ip = (p for p, _ in text_ops.PII_PATTERNS)
    aug = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or call 555-867-530' || CAST(doc_id % 10 AS VARCHAR) || "
        "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    )
    return f"""
WITH a AS (SELECT doc_id, {aug} AS aug FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(aug, '{email}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(aug, '{phone}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(aug, '{ip}')) AS BIGINT) AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(aug,
      '{email}', '<EMAIL>', 'g'),
      '{phone}', '<PHONE>', 'g'),
      '{ip}', '<IP>', 'g')) AS scrubbed_fp
FROM a
"""

_Q100_SQL = _q100_sql()

_Q101_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - 16, 1), 48)) AS start
  FROM t)
SELECT doc_id,
  CAST((start - 1) / 48 AS BIGINT) AS chunk_id,
  CAST(len(list_slice(toks, start, start + 63)) AS BIGINT) AS n_chunk_tokens,
  md5(array_to_string(list_slice(toks, start, start + 63), ' ')) AS chunk_fp
FROM s
WHERE len(list_slice(toks, start, start + 63)) > 0
"""

_Q102_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({_DUCK_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents)
SELECT * FROM (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS running_total
  FROM t)
WHERE running_total - n_tokens < 5000
"""

_DUCK_LTOKS = _DUCK_TOKENS.format(col="lower(text)")

_Q103_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {_DUCK_TOKENS.format(col='text')} AS toks,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_filter(ltoks, t -> t IN ('the', 'a', 'and', 'of', 'to')))
           AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS stopword_frac,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS distinct_ratio,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(list_max(list_transform(list_distinct(ltoks),
             u -> len(list_filter(ltoks, x -> x = u)))) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS top_token_frac
  FROM t)
SELECT doc_id, n_tokens, mean_token_len, stopword_frac, distinct_ratio,
  top_token_frac,
  CAST(n_tokens BETWEEN 30 AND 50000
    AND mean_token_len BETWEEN 2.0 AND 10.0
    AND stopword_frac >= 0.01
    AND distinct_ratio >= 0.30
    AND top_token_frac <= 0.20 AS BIGINT) AS keep
FROM s
"""

# q163: the streamed ingest outcome must equal the one-shot batch
# reduction — q103's gate (identical thresholds) + q26's fingerprint
# dedup — because the probe replays contiguous id-range batches in id
# order (first-landed-wins == global min-id per fingerprint).
_Q163_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         {_DUCK_TOKENS.format(col='text')} AS toks,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
s AS (
  SELECT doc_id, text,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_filter(ltoks, t -> t IN ('the', 'a', 'and', 'of', 'to')))
           AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS stopword_frac,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS distinct_ratio,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(list_max(list_transform(list_distinct(ltoks),
             u -> len(list_filter(ltoks, x -> x = u)))) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS top_token_frac
  FROM t),
f AS (
  SELECT doc_id, md5({_DUCK_NORM}) AS fp
  FROM s
  WHERE n_tokens BETWEEN 30 AND 50000
    AND mean_token_len BETWEEN 2.0 AND 10.0
    AND stopword_frac >= 0.01
    AND distinct_ratio >= 0.30
    AND top_token_frac <= 0.20)
SELECT CAST(4 AS BIGINT) AS n_batches,
  (SELECT COUNT(*) FROM documents) AS n_input,
  (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM f)
    AS dropped_quality,
  (SELECT COUNT(*) FROM f) - (SELECT COUNT(DISTINCT fp) FROM f)
    AS dropped_exact_dup,
  (SELECT COUNT(DISTINCT fp) FROM f) AS docs_landed
"""

_Q104_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS grams
  FROM t)
SELECT doc_id,
  CAST(len(grams) AS BIGINT) AS n_ngrams,
  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
  CASE WHEN len(grams) > 0 THEN
    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
  ELSE 0.0 END AS dup_frac
FROM g
"""

_DUCK_5GRAMS = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(ltoks) - 4, 0)),"
    " i -> ltoks[i] || ' ' || ltoks[i + 1] || ' ' || ltoks[i + 2]"
    " || ' ' || ltoks[i + 3] || ' ' || ltoks[i + 4]))"
)

_Q105_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS ltoks FROM documents),
g AS (
  SELECT doc_id, {_DUCK_5GRAMS} AS grams FROM t),
ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0),
tg AS (
  SELECT doc_id, unnest(grams) AS gram FROM g),
hits AS (
  SELECT doc_id, COUNT(*) AS hit_grams FROM tg JOIN ev USING (gram)
  GROUP BY doc_id)
SELECT g.doc_id,
  CAST(len(grams) AS BIGINT) AS n_grams,
  CAST(COALESCE(hit_grams, 0) AS BIGINT) AS hit_grams,
  CASE WHEN len(grams) > 0 THEN
    CAST(COALESCE(hit_grams, 0) AS DOUBLE) / len(grams)
  ELSE 0.0 END AS hit_frac,
  CAST(COALESCE(hit_grams, 0) >= 1 AS BIGINT) AS contaminated
FROM g LEFT JOIN hits USING (doc_id)
"""

_Q106_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS ltoks FROM documents),
tok AS (
  SELECT doc_id, unnest(ltoks) AS token FROM t),
v AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (
  SELECT SUM(cnt) AS n_total FROM v),
vq AS (
  SELECT token,
         CAST(ROUND(log10(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT)
           AS logp_q
  FROM v, tot),
pd AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(logp_q) AS sum_q
  FROM tok JOIN vq USING (token) GROUP BY doc_id)
SELECT t.doc_id,
  CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
  CASE WHEN COALESCE(n_tokens, 0) > 0 THEN
    CAST(sum_q AS DOUBLE) / 1000000.0 / n_tokens
  ELSE 0.0 END AS mean_logp
FROM t LEFT JOIN pd USING (doc_id)
"""

_Q159_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_LTOKS} AS ltoks FROM documents),
tok AS (
  SELECT doc_id, unnest(ltoks) AS token FROM t),
v AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (
  SELECT SUM(cnt) AS n_total FROM v),
vq AS (
  SELECT token,
         CAST(ROUND(log10(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT)
           AS logp_q
  FROM v, tot),
pd AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(logp_q) AS sum_q
  FROM tok JOIN vq USING (token) GROUP BY doc_id),
scored AS (
  SELECT t.doc_id, t.lang,
    CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
    CASE WHEN COALESCE(n_tokens, 0) > 0 THEN
      CAST(sum_q AS DOUBLE) / 1000000.0 / n_tokens
    ELSE 0.0 END AS mean_logp
  FROM t LEFT JOIN pd USING (doc_id)),
tiered AS (
  SELECT lang, n_tokens, mean_logp,
         CAST(NTILE(3) OVER (PARTITION BY lang
                             ORDER BY (n_tokens > 0) DESC,
                                      mean_logp DESC, doc_id ASC)
              AS BIGINT) AS bucket
  FROM scored)
SELECT lang, bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
  MIN(mean_logp) AS min_logp,
  MAX(mean_logp) AS max_logp
FROM tiered GROUP BY lang, bucket
"""

_Q107_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         {_DUCK_TOKENS.format(col='text')} AS toks,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
s AS (
  SELECT lang, source,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_filter(ltoks, t -> t IN ('the', 'a', 'and', 'of', 'to')))
           AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS stopword_frac,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS distinct_ratio,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(list_max(list_transform(list_distinct(ltoks),
             u -> len(list_filter(ltoks, x -> x = u)))) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS top_token_frac
  FROM t),
k AS (
  SELECT lang, source, n_tokens,
    CAST(n_tokens BETWEEN 30 AND 50000
      AND mean_token_len BETWEEN 2.0 AND 10.0
      AND stopword_frac >= 0.01
      AND distinct_ratio >= 0.30
      AND top_token_frac <= 0.20 AS BIGINT) AS keep
  FROM s)
SELECT lang, source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(keep) AS BIGINT) AS n_keep,
  CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS keep_rate,
  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM k GROUP BY lang, source ORDER BY lang, source
"""

_Q108_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         {_DUCK_TOKENS.format(col='text')} AS toks,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
s AS (
  SELECT doc_id, text, ltoks,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_filter(ltoks, t -> t IN ('the', 'a', 'and', 'of', 'to')))
           AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS stopword_frac,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS distinct_ratio,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(list_max(list_transform(list_distinct(ltoks),
             u -> len(list_filter(ltoks, x -> x = u)))) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS top_token_frac
  FROM t),
q AS (
  SELECT doc_id, text, ltoks, n_tokens FROM s
  WHERE n_tokens BETWEEN 30 AND 50000
    AND mean_token_len BETWEEN 2.0 AND 10.0
    AND stopword_frac >= 0.01
    AND distinct_ratio >= 0.30
    AND top_token_frac <= 0.20),
tg AS (
  SELECT doc_id, {_DUCK_5GRAMS} AS grams FROM t),
ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM tg WHERE doc_id % 20 = 0),
hits AS (
  SELECT x.doc_id, COUNT(*) AS h
  FROM (SELECT doc_id, unnest(grams) AS gram FROM tg
        WHERE doc_id IN (SELECT doc_id FROM q)) x
  JOIN ev USING (gram) GROUP BY x.doc_id),
clean AS (
  SELECT q.doc_id, q.text, q.n_tokens FROM q LEFT JOIN hits USING (doc_id)
  WHERE COALESCE(h, 0) = 0),
fp AS (
  SELECT doc_id, md5({_DUCK_NORM}) AS f, n_tokens FROM clean),
keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f)
SELECT doc_id, n_tokens FROM fp
WHERE doc_id IN (SELECT doc_id FROM keepers)
"""

_Q109_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS ltoks FROM documents),
tok AS (
  SELECT doc_id, unnest(ltoks) AS token FROM t),
pd AS (
  SELECT token, doc_id, COUNT(*) AS n FROM tok GROUP BY token, doc_id),
v AS (
  SELECT token,
         CAST(SUM(n) AS BIGINT) AS n_occurrences,
         CAST(COUNT(*) AS BIGINT) AS doc_freq
  FROM pd GROUP BY token)
SELECT token, n_occurrences, doc_freq, CAST(rank AS BIGINT) AS rank FROM (
  SELECT token, n_occurrences, doc_freq,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
  FROM v)
WHERE rank <= 100
"""

def _q112_sql() -> str:
    """Twin of q112 SemDeDup: q43's centroid-literal IVF assignment
    (rounded csim, ASC cell ties), within-cell pairs at rounded cosine
    >= 0.3, removed = distinct higher id of any qualifying pair."""
    cents = sim_ops.deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1
),
removed AS (
  SELECT DISTINCT b.vec_id AS id_b
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
)
SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       CAST(CASE WHEN r.id_b IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept
FROM assigned a LEFT JOIN removed r ON a.vec_id = r.id_b
"""


_Q112_SQL = _q112_sql()

_Q113_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({_DUCK_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, lang, n_tokens, running_total,
       CAST(floor((running_total - n_tokens) / 256.0) AS BIGINT) AS pack_id
FROM (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS running_total
  FROM t)
"""

# q152: the two-level prefix-sum packing path. The SQL is the q113
# window shape (running cumsum IS the spec — bucketing is a physical
# rewrite with pytest-pinned identical output), over source/192 so the
# twin grades a distinct query.
_Q152_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len({_DUCK_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, source, n_tokens, running_total,
       CAST(floor((running_total - n_tokens) / 192.0) AS BIGINT) AS pack_id
FROM (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS running_total
  FROM t)
"""

_Q114_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks), 1), 3)) AS start
  FROM t),
c AS (
  SELECT doc_id, CAST((start - 1) / 3 AS BIGINT) AS chunk_id,
         array_to_string(list_slice(toks, start, start + 2), ' ') AS chunk_text
  FROM s WHERE len(list_slice(toks, start, start + 2)) > 0),
f AS (
  SELECT doc_id, chunk_id, chunk_text,
         ROW_NUMBER() OVER (PARTITION BY chunk_text
                            ORDER BY doc_id, chunk_id) AS rn
  FROM c)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                           ORDER BY chunk_id), '') AS text_deduped
FROM f GROUP BY doc_id
"""

#: q115 target mixture — sources 0-4 at ratio 3, 5-9 at 2, 10-14 at 1;
#: src15-19 deliberately absent (the mixture drops them). Shared
#: between __spark_entry__.q115_source_mix and the SQL twin below.
Q115_MIX_WEIGHTS: dict[str, int] = {
    **{f"src{i}": 3 for i in range(5)},
    **{f"src{i}": 2 for i in range(5, 10)},
    **{f"src{i}": 1 for i in range(10, 15)},
}


def _q115_sql() -> str:
    """Twin of q115 proportional mix: scale = min over in-mixture
    sources of floor(count / weight); each source keeps weight*scale
    rows by md5_hash32 rank (the hash_split/deterministic_class_cap
    hash: first 8 md5 hex chars as BIGINT, key 'doc_id|mix-42')."""
    values = ", ".join(
        f"('{s}', {w})" for s, w in sorted(Q115_MIX_WEIGHTS.items())
    )
    return f"""
WITH w(src, wgt) AS (VALUES {values}),
d AS (
  SELECT doc_id, source, wgt
  FROM documents JOIN w ON source = w.src),
sc AS (
  SELECT MIN(CAST(floor(CAST(n AS DOUBLE) / wgt) AS BIGINT)) AS scale
  FROM (SELECT source, wgt, COUNT(*) AS n FROM d GROUP BY source, wgt) t),
r AS (
  SELECT doc_id, source, wgt,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(
                      concat(CAST(doc_id AS VARCHAR), '|mix-42')), 1, 8))
                    AS BIGINT) ASC, doc_id ASC) AS rn
  FROM d)
SELECT doc_id, source FROM r CROSS JOIN sc WHERE rn <= wgt * scale
"""


_Q115_SQL = _q115_sql()


def _q116_sql() -> str:
    """Twin of q116: the q103 quality predicate, the q115 mix, and the
    q113 pack window composed over the same literals."""
    values = ", ".join(
        f"('{s}', {w})" for s, w in sorted(Q115_MIX_WEIGHTS.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, source,
         {_DUCK_TOKENS.format(col='text')} AS toks,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
s AS (
  SELECT doc_id, lang, source,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_filter(ltoks, t -> t IN ('the', 'a', 'and', 'of', 'to')))
           AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS stopword_frac,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS distinct_ratio,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(list_max(list_transform(list_distinct(ltoks),
             u -> len(list_filter(ltoks, x -> x = u)))) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS top_token_frac
  FROM t),
q AS (
  SELECT doc_id, lang, source, n_tokens FROM s
  WHERE n_tokens BETWEEN 30 AND 50000
    AND mean_token_len BETWEEN 2.0 AND 10.0
    AND stopword_frac >= 0.01
    AND distinct_ratio >= 0.30
    AND top_token_frac <= 0.20),
w(src, wgt) AS (VALUES {values}),
d AS (
  SELECT doc_id, lang, source, n_tokens, wgt
  FROM q JOIN w ON source = w.src),
sc AS (
  SELECT MIN(CAST(floor(CAST(n AS DOUBLE) / wgt) AS BIGINT)) AS scale
  FROM (SELECT source, wgt, COUNT(*) AS n FROM d GROUP BY source, wgt) x),
r AS (
  SELECT doc_id, lang, n_tokens, wgt,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(
                      concat(CAST(doc_id AS VARCHAR), '|mix-42')), 1, 8))
                    AS BIGINT) ASC, doc_id ASC) AS rn
  FROM d),
m AS (
  SELECT doc_id, lang, n_tokens FROM r CROSS JOIN sc
  WHERE rn <= wgt * scale)
SELECT doc_id, lang, n_tokens, running_total,
       CAST(floor((running_total - n_tokens) / 256.0) AS BIGINT) AS pack_id
FROM (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS running_total
  FROM m)
"""


_Q116_SQL = _q116_sql()


def _q117_sql() -> str:
    """Twin of q117: the q83 recursive-CTE component resolution joined
    to the q45 quality expression; per-component election by
    ROW_NUMBER (quality DESC, doc_id ASC)."""
    quality = (
        f"ROUND(0.5 * least(CAST(len({_DUCK_TOKENS.format(col='text')}) AS DOUBLE)"
        f" / 100.0, 1.0)"
        f" + 0.5 * (1.0 - least(({_DUCK_PUNCT}) * 5.0, 1.0)), 6)"
    )
    return f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id, source AS blk, unnest({_DUCK_SHINGLES}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, COUNT(*) AS setsize FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.blk = b.blk AND a.id < b.id
  GROUP BY a.id, b.id
), jac AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.setsize + sb.setsize - n_inter) >= 0.2
), fp AS (
  SELECT doc_id, md5({_DUCK_NORM}) AS fp FROM documents
), grp AS (
  SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS first_id FROM fp GROUP BY fp
), exact_edges AS (
  SELECT g.first_id AS id_a, f.doc_id AS id_b
  FROM fp f JOIN grp g USING (fp)
  WHERE g.n_dups > 1 AND f.doc_id <> g.first_id
), edges0 AS (
  SELECT id_a, id_b FROM exact_edges UNION SELECT id_a, id_b FROM jac
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION SELECT id_b, id_a FROM edges0
), verts AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
), lab AS (
  SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
), qual AS (
  SELECT doc_id, {quality} AS quality FROM documents
), m AS (
  SELECT comp, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY comp
                            ORDER BY quality DESC, doc_id ASC) AS rn
  FROM lab JOIN qual ON lab.id = qual.doc_id
)
SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
       MAX(CASE WHEN rn = 1 THEN quality END) AS canonical_quality
FROM m GROUP BY comp ORDER BY comp
"""


_Q117_SQL = _q117_sql()

_Q118_SQL = """
WITH h AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|' || 'shard-42'), 1, 8)) AS BIGINT) % 8 AS shard,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|' || 'shard-42' || '|' || 'order'), 1, 8)) AS BIGINT) AS ok
  FROM documents)
SELECT doc_id, shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ok ASC, doc_id ASC) AS BIGINT) AS pos
FROM h
"""

_Q119_SQL = f"""
WITH t AS (
  SELECT doc_id, source IN ('src0', 'src1', 'src2') AS is_t,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
tok AS (
  SELECT doc_id, is_t, unnest(ltoks) AS token FROM t),
v AS (
  SELECT token, COUNT(*) AS c_cnt,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt
  FROM tok GROUP BY token),
tot AS (
  SELECT SUM(c_cnt) AS c_total, SUM(t_cnt) AS t_total, COUNT(*) AS v_size
  FROM v),
vq AS (
  SELECT token,
         CAST(ROUND((log10(CAST(t_cnt + 1 AS DOUBLE) / CAST(t_total + v_size AS DOUBLE))
                   - log10(CAST(c_cnt + 1 AS DOUBLE) / CAST(c_total + v_size AS DOUBLE)))
                   * 1000000) AS BIGINT) AS w_q
  FROM v, tot),
pd AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(w_q) AS sum_q
  FROM tok JOIN vq USING (token) GROUP BY doc_id),
scored AS (
  SELECT t.doc_id,
    CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
    CASE WHEN COALESCE(n_tokens, 0) > 0 THEN
      CAST(sum_q AS DOUBLE) / 1000000.0 / n_tokens
    ELSE 0.0 END AS importance
  FROM t LEFT JOIN pd USING (doc_id))
SELECT doc_id, n_tokens, importance
FROM scored ORDER BY importance DESC, doc_id ASC LIMIT 100
"""

_Q120_SQL = """
WITH e AS (
  SELECT vec_id, g.pos AS pos, v[g.pos] AS val
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  CROSS JOIN generate_series(1, 64) AS g(pos)),
s AS (
  SELECT pos, MAX(abs(val)) AS scale FROM e GROUP BY pos),
err AS (
  SELECT e.pos, s.scale,
    abs(val - CASE WHEN s.scale > 0
                   THEN ROUND(val / s.scale * 127.0) * s.scale / 127.0
                   ELSE 0.0 END) AS abs_err
  FROM e JOIN s ON e.pos = s.pos)
SELECT CAST(pos AS BIGINT) AS pos,
  ROUND(MAX(scale), 6) AS scale,
  CAST(SUM(CAST(ROUND(abs_err * 1e9) AS BIGINT)) AS DOUBLE)
    / (COUNT(*) * 1e9) AS mean_abs_err,
  ROUND(MAX(abs_err), 6) AS max_abs_err,
  COUNT(*) AS n_vals
FROM err GROUP BY pos
"""

_Q121_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
    ROUND(0.5 * least(CAST(len({_DUCK_TOKENS.format(col='text')}) AS DOUBLE) / 100.0, 1.0)
        + 0.5 * (1.0 - least(({_DUCK_PUNCT}) * 5.0, 1.0)), 6) AS q
  FROM documents),
tiered AS (
  SELECT lang, q,
         CAST(NTILE(4) OVER (PARTITION BY lang ORDER BY q ASC, doc_id ASC) AS BIGINT) AS tier
  FROM scored)
SELECT lang, tier, COUNT(*) AS n_docs,
  MIN(q) AS min_quality, MAX(q) AS max_quality,
  CAST(SUM(CAST(ROUND(q * 1e6) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1e6) AS avg_quality
FROM tiered GROUP BY lang, tier
"""

_Q122_SQL = """
WITH e AS (
  SELECT vec_id, g.pos AS pos, v[g.pos] AS val
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  CROSS JOIN generate_series(1, 64) AS g(pos)),
s AS (
  SELECT pos, MAX(abs(val)) AS scale FROM e GROUP BY pos),
dq AS (
  SELECT vec_id, e.pos,
    CASE WHEN s.scale > 0
         THEN ROUND(val / s.scale * 127.0) * s.scale / 127.0
         ELSE 0.0 END AS dq
  FROM e JOIN s ON e.pos = s.pos),
q AS (
  SELECT pos, dq AS qdq FROM dq WHERE vec_id = 0),
nb AS (
  SELECT SUM(CAST(ROUND(qdq * qdq * 1e12) AS BIGINT)) AS nb_q FROM q),
pv AS (
  SELECT d.vec_id,
    SUM(CAST(ROUND(d.dq * q.qdq * 1e12) AS BIGINT)) AS dot_q,
    SUM(CAST(ROUND(d.dq * d.dq * 1e12) AS BIGINT)) AS na_q
  FROM dq d JOIN q ON d.pos = q.pos GROUP BY d.vec_id)
SELECT vec_id,
  ROUND(CASE WHEN na_q > 0 AND nb_q > 0 THEN
    (CAST(dot_q AS DOUBLE) / 1e12)
      / (sqrt(CAST(na_q AS DOUBLE) / 1e12) * sqrt(CAST(nb_q AS DOUBLE) / 1e12))
  ELSE 0.0 END, 6) AS qsim
FROM pv, nb ORDER BY qsim DESC, vec_id ASC LIMIT 10
"""

_Q123_SQL = f"""
WITH tok AS (
  SELECT unnest({_DUCK_LTOKS}) AS token FROM documents),
v AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
p AS (
  SELECT token, cnt, unnest(list_transform(generate_series(1, len(token) - 1),
                                           i -> substr(token, i, 2))) AS pair
  FROM v WHERE len(token) >= 2)
SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count,
  COUNT(DISTINCT token) AS n_token_types
FROM p GROUP BY pair ORDER BY pair_count DESC, pair ASC LIMIT 50
"""

def _q162_sql(n_merges: int = 8) -> str:
    """Twin of q162: the iterative BPE trainer as a generated chain of
    per-iteration CTEs — pair counts over the unit arrays, argmax with
    (count DESC, a ASC, b ASC) ties, re-segmentation via the SAME
    separator-wrapped literal replace() the Spark side uses (literal
    string replace is left-to-right non-overlapping in both engines,
    which IS the BPE merge rule). chr(31) mirrors text._BPE_SEP."""
    ctes = [
        f"tok AS (SELECT unnest({_DUCK_LTOKS}) AS token FROM documents)",
        # separator-bearing tokens excluded — mirrors the Spark guard
        "v AS (SELECT token, COUNT(*) AS cnt FROM tok "
        "WHERE NOT contains(token, chr(31)) GROUP BY token)",
        "seg0 AS (SELECT cnt, chr(31) || array_to_string("
        "list_transform(generate_series(1, len(token)), i -> "
        "substr(token, i, 1)), chr(31) || chr(31)) || chr(31) AS seg "
        "FROM v)",
    ]
    selects = []
    for k in range(n_merges):
        ctes.append(
            f"u{k} AS (SELECT cnt, seg, string_split(substr(seg, 2, "
            f"length(seg) - 2), chr(31) || chr(31)) AS units FROM seg{k})"
        )
        ctes.append(
            f"p{k} AS (SELECT cnt, unnest(list_transform("
            "generate_series(1, len(units) - 1), "
            "i -> {'a': units[i], 'b': units[i + 1]})) AS pr "
            f"FROM u{k} WHERE len(units) >= 2)"
        )
        ctes.append(
            f"m{k} AS (SELECT pr.a AS a, pr.b AS b, "
            "CAST(SUM(cnt) AS BIGINT) AS pair_count "
            f"FROM p{k} GROUP BY pr.a, pr.b "
            "ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1)"
        )
        ctes.append(
            f"seg{k + 1} AS (SELECT cnt, replace(seg, "
            "chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31), "
            f"chr(31) || m.a || m.b || chr(31)) AS seg FROM u{k}, m{k} m)"
        )
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS merge_rank, a, b, pair_count "
            f"FROM m{k}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


_Q162_SQL = _q162_sql()


def _q164_sql(threshold: float = 0.42) -> str:
    """Twin of q164: the embedding ingest's one-shot reduction — min-id
    per distinct vector (the exact-fp screen), then drop any rep with
    a lower-id same-cell twin at rounded cosine >= threshold (the
    SemDeDup rule the within/cross-batch screens compose to, given
    id-ordered batches and the group-tracking extras). Assignment is
    the q124 machinery: deterministic centroid VALUES + rounded argmax
    with (csim DESC, cell ASC) ties."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
reps AS (SELECT MIN(vec_id) AS vec_id, v FROM e GROUP BY v),
sims AS (
  SELECT r.vec_id, r.v, cents.cell,
         ROUND(list_dot_product(r.v, cents.c) /
               (sqrt(list_dot_product(r.v, r.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM reps r CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1
),
d AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
)
SELECT CAST(4 AS BIGINT) AS n_batches,
  (SELECT COUNT(*) FROM e) AS n_input,
  (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM reps) AS dropped_exact,
  (SELECT COUNT(*) FROM d) AS dropped_semantic,
  (SELECT COUNT(*) FROM reps) - (SELECT COUNT(*) FROM d) AS vecs_landed
"""


_Q164_SQL = _q164_sql()


def _cbs_values_from(cbs: list[list[list[float]]]) -> str:
    """(j, c, cb, cb2) VALUES rows for ANY codebook literal kit — cb2
    emitted as the SAME Python float Spark folds in, so both engines
    use the identical double constant."""
    rows = []
    for j, cb_j in enumerate(cbs):
        for c, cb in enumerate(cb_j):
            arr = ", ".join(repr(x) for x in cb)
            cb2 = repr(float(sum(x * x for x in cb)))
            rows.append(f"({j}, {c}, CAST([{arr}] AS DOUBLE[]), {cb2})")
    return ", ".join(rows)


def _pq_cbs_values(m: int = 8, k: int = 16, dim: int = 64) -> str:
    """:func:`_cbs_values_from` over the deterministic PQ codebook
    kit."""
    from ..operators.similarity import pq_codebooks

    return _cbs_values_from(pq_codebooks(dim=dim, m=m, k=k))


#: Shared encode CTEs for q165/q166: per-(vector, subspace) argmin code
#: over ROUND(|s|^2 - 2 s.c + |c|^2, 9) with lowest-code ties — the
#: 1:1 mirror of similarity._pq_exprs (d = 8 per subspace).
_PQ_ENCODE_CTES = f"""cbs(j, c, cb, cb2) AS (VALUES {_pq_cbs_values()}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dists AS (
  SELECT e.vec_id, cbs.j, cbs.c,
         ROUND(list_dot_product(e.v[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                                e.v[cbs.j * 8 + 1 : cbs.j * 8 + 8])
               - 2 * list_dot_product(e.v[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                                      cbs.cb)
               + cbs.cb2, 9) AS dist
  FROM e CROSS JOIN cbs
),
enc AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY dist ASC, c ASC) AS rn
    FROM dists) t WHERE rn = 1
)"""

_Q165_SQL = f"""
WITH {_PQ_ENCODE_CTES}
SELECT vec_id, CAST(j AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
FROM enc
"""


def _q166_sql(
    k_top: int = 10,
    nprobe: int = 4,
    rerank_from: int | None = None,
    rerank_round_digits: int = 6,
    recall_budgets: tuple[int, ...] | None = None,
) -> str:
    """Twin of q166: the q124 rounded-argmax cell machinery + the PQ
    encode CTEs + nano-unit-quantized ADC lookup tables joined on
    (query, subspace, code), summed as exact integers.

    With ``rerank_from`` (q171, IVFADC+R): the ADC top-R candidate
    list joins back to the raw corpus vectors and re-ranks by rounded
    exact cosine (sim DESC, id ASC ties) — mirroring
    similarity.ivf_pq_knn_join's rerank path expression-for-
    expression (query norm × candidate norm, one division, one
    ROUND)."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    if recall_budgets is not None:
        tail = _q173_tail(k_top, recall_budgets)
    elif rerank_from is not None:
        tail = _q171_tail(k_top, rerank_from, rerank_round_digits)
    else:
        tail = _q166_tail(k_top)
    return f"""
WITH {_PQ_ENCODE_CTES},
cents(cell, cv) AS (VALUES {values}),
csims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.cv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.cv, cents.cv))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims) t WHERE rn = 1
),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims WHERE vec_id % 100 = 0) t WHERE rn <= {nprobe}
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
lut AS (
  SELECT q.qid, cbs.j, cbs.c,
         CAST(ROUND((list_dot_product(q.qv[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                                      q.qv[cbs.j * 8 + 1 : cbs.j * 8 + 8])
                     - 2 * list_dot_product(
                         q.qv[cbs.j * 8 + 1 : cbs.j * 8 + 8], cbs.cb)
                     + cbs.cb2) * 1e9) AS BIGINT) AS term
  FROM q CROSS JOIN cbs
),
cand AS (
  SELECT qc.qid, a.vec_id
  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
),
scored AS (
  SELECT cand.qid, cand.vec_id, SUM(lut.term) AS adist
  FROM cand
  JOIN enc ON enc.vec_id = cand.vec_id
  JOIN lut ON lut.qid = cand.qid AND lut.j = enc.j AND lut.c = enc.code
  GROUP BY cand.qid, cand.vec_id
){tail}
"""


def _q166_tail(k_top: int) -> str:
    return f"""
SELECT qid, vec_id, CAST(adist AS BIGINT) AS adist_q, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT qid, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY adist ASC, vec_id ASC) AS rn
  FROM scored) t
WHERE rn <= {k_top}"""


def _q171_tail(k_top: int, rerank_from: int, rerank_round_digits: int) -> str:
    return f""",
ranked AS (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY adist ASC, vec_id ASC) AS rn
  FROM scored
),
rr AS (
  SELECT t.qid, t.vec_id,
         CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) *
                   sqrt(list_dot_product(c.v, c.v)) = 0 THEN 0.0
              ELSE ROUND(list_dot_product(q.qv, c.v) /
                         (sqrt(list_dot_product(q.qv, q.qv)) *
                          sqrt(list_dot_product(c.v, c.v))),
                         {rerank_round_digits}) END AS sim
  FROM ranked t
  JOIN e c ON c.vec_id = t.vec_id
  JOIN q ON q.qid = t.qid
  WHERE t.rn <= {rerank_from}
)
SELECT qid, vec_id, sim, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT qid, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim DESC, vec_id ASC) AS rn
  FROM rr) t
WHERE rn <= {k_top}"""


def _q173_tail(k_top: int, budgets: tuple[int, ...]) -> str:
    """q173: the rerank_from ↔ recall sweep — ADC top-R (literal
    (rb, rn) budget fan-out, equi-join), exact-cosine rerank to top-k
    per budget, graded against the q157-style brute-force baseline."""
    bud_rows = ", ".join(
        f"({R}, {r})" for R in budgets for r in range(1, R + 1)
    )
    return f""",
ranked AS (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY adist ASC, vec_id ASC) AS rn
  FROM scored
),
buds(rb, rn) AS (VALUES {bud_rows}),
rr AS (
  SELECT b.rb, t.qid, t.vec_id,
         CASE WHEN sqrt(list_dot_product(c.v, c.v)) *
                   sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0.0
              ELSE ROUND(list_dot_product(c.v, q.qv) /
                         (sqrt(list_dot_product(c.v, c.v)) *
                          sqrt(list_dot_product(q.qv, q.qv))), 6)
         END AS sim
  FROM ranked t
  JOIN buds b ON b.rn = t.rn
  JOIN e c ON c.vec_id = t.vec_id
  JOIN q ON q.qid = t.qid
),
topk AS (
  SELECT rb, qid, vec_id FROM (
    SELECT rb, qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY rb, qid
                              ORDER BY sim DESC, vec_id ASC) AS rn
    FROM rr) t WHERE rn <= {k_top}
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             CASE WHEN sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0.0
                  ELSE ROUND(list_dot_product(e.v, q.qv) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(q.qv, q.qv))), 6)
             END DESC,
             e.vec_id ASC) AS rn
    FROM e CROSS JOIN q) t WHERE rn <= {k_top}
),
perq AS (
  SELECT t.rb, t.qid, COUNT(x.qid) AS h
  FROM topk t
  LEFT JOIN exact x ON t.qid = x.qid AND t.vec_id = x.vec_id
  GROUP BY t.rb, t.qid
),
spine AS (SELECT DISTINCT b.rb, q.qid FROM buds b CROSS JOIN q)
SELECT CAST(s.rb AS BIGINT) AS rerank_from,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(COALESCE(p.h, 0)) AS BIGINT) AS n_hits,
       CAST(SUM(COALESCE(p.h, 0)) AS BIGINT) /
         (CAST(COUNT(*) AS BIGINT) * {k_top}) AS recall
FROM spine s
LEFT JOIN perq p ON p.rb = s.rb AND p.qid = s.qid
GROUP BY s.rb
"""


_Q166_SQL = _q166_sql()
_Q171_SQL = _q166_sql(rerank_from=40)
_Q173_SQL = _q166_sql(recall_budgets=(10, 20, 40))

# q167: per-subspace PQ distortion — the dists CTE's per-(vector,
# subspace) MIN is the assigned entry's rounded distance; nano-unit
# integer sum + one exact IEEE division, mirroring
# similarity.pq_reconstruction_report 1:1.
_Q167_SQL = f"""
WITH {_PQ_ENCODE_CTES},
md AS (
  SELECT vec_id, j, MIN(dist) AS dist FROM dists GROUP BY vec_id, j
)
SELECT CAST(j AS BIGINT) AS subspace,
  COUNT(*) AS n_vectors,
  CAST(SUM(CAST(ROUND(dist * 1e9) AS BIGINT)) AS BIGINT) AS sum_dist_q,
  CAST(SUM(CAST(ROUND(dist * 1e9) AS BIGINT)) AS DOUBLE)
    / COUNT(*) / 1e9 AS mean_sq_dist
FROM md GROUP BY j
"""


def _pq_residual_ctes(nprobe_assign_digits: int = 6) -> str:
    """Shared CTEs for the RESIDUAL (true-IVFADC) PQ family
    (q174-q177): assign every vector to its rounded-argmax cell (the
    q124 machinery), subtract the cell centroid ELEMENTWISE over the
    full vector (list_transform over a scalar range — bit-identical
    to Spark's zip_with, and slicing commutes with elementwise
    subtraction), then run the exact q165 argmin/ROUND-9/lowest-code
    encode over the residual subvectors. Mirrors
    similarity._residual_expr + _pq_exprs 1:1."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""cbs(j, c, cb, cb2) AS (VALUES {_pq_cbs_values()}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(cell, cv) AS (VALUES {values}),
csims AS (
  SELECT e.vec_id, e.v, cents.cell,
         CASE WHEN sqrt(list_dot_product(e.v, e.v)) *
                   sqrt(list_dot_product(cents.cv, cents.cv)) = 0 THEN 0.0
              ELSE ROUND(list_dot_product(e.v, cents.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) *
                          sqrt(list_dot_product(cents.cv, cents.cv))),
                         {nprobe_assign_digits}) END AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims) t WHERE rn = 1
),
r AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS rv
  FROM assigned a JOIN cents c ON c.cell = a.cell
),
rdists AS (
  SELECT r.vec_id, r.cell, cbs.j, cbs.c,
         ROUND(list_dot_product(r.rv[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                                r.rv[cbs.j * 8 + 1 : cbs.j * 8 + 8])
               - 2 * list_dot_product(r.rv[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                                      cbs.cb)
               + cbs.cb2, 9) AS dist
  FROM r CROSS JOIN cbs
),
renc AS (
  SELECT vec_id, cell, j, c AS code FROM (
    SELECT vec_id, cell, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY dist ASC, c ASC) AS rn
    FROM rdists) t WHERE rn = 1
)"""


_Q174_SQL = f"""
WITH {_pq_residual_ctes()}
SELECT vec_id, CAST(cell AS BIGINT) AS cell,
       CAST(j AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
FROM renc
"""


def _q175_sql(
    k_top: int = 10,
    nprobe: int = 4,
    recall_budgets: tuple[int, ...] | None = None,
    rerank_from: int | None = None,
    rerank_round_digits: int = 6,
) -> str:
    """Twin of q175 (residual IVFADC probe), with ``recall_budgets``
    q176 (its rerank↔recall curve), and with ``rerank_from`` q182
    (residual IVFADC+R single-budget rerank): the residual encode
    CTEs + per-(query, probed-cell) lookup tables built from the
    QUERY'S residual in that cell — Σ_j lut[j][code_j] is then the
    exact quantized ‖(q−c) − recon‖² = ‖q − (c + recon)‖², comparable
    across cells. Same nano-unit integer quantization, same tails as
    the raw-code family (the q166/q171/q173 machinery reused
    verbatim)."""
    if recall_budgets is not None:
        tail = _q173_tail(k_top, recall_budgets)
    elif rerank_from is not None:
        tail = _q171_tail(k_top, rerank_from, rerank_round_digits)
    else:
        tail = _q166_tail(k_top)
    return f"""
WITH {_pq_residual_ctes()},
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims WHERE vec_id % 100 = 0) t WHERE rn <= {nprobe}
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
qres AS (
  SELECT qc.qid, qc.cell,
         list_transform(range(1, 65), i -> q.qv[i] - c.cv[i]) AS rqv
  FROM qcells qc JOIN q ON q.qid = qc.qid JOIN cents c ON c.cell = qc.cell
),
lut AS (
  SELECT qres.qid, qres.cell, cbs.j, cbs.c,
         CAST(ROUND((list_dot_product(
                         qres.rqv[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                         qres.rqv[cbs.j * 8 + 1 : cbs.j * 8 + 8])
                     - 2 * list_dot_product(
                         qres.rqv[cbs.j * 8 + 1 : cbs.j * 8 + 8], cbs.cb)
                     + cbs.cb2) * 1e9) AS BIGINT) AS term
  FROM qres CROSS JOIN cbs
),
cand AS (
  SELECT qc.qid, a.vec_id, a.cell
  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
),
scored AS (
  SELECT cand.qid, cand.vec_id, SUM(lut.term) AS adist
  FROM cand
  JOIN renc ON renc.vec_id = cand.vec_id
  JOIN lut ON lut.qid = cand.qid AND lut.cell = cand.cell
          AND lut.j = renc.j AND lut.c = renc.code
  GROUP BY cand.qid, cand.vec_id
){tail}
"""


_Q175_SQL = _q175_sql()
_Q176_SQL = _q175_sql(recall_budgets=(10, 20, 40))
_Q182_SQL = _q175_sql(rerank_from=40)

# q177: raw-codes vs residual-codes distortion, side by side — the
# per-subspace MIN assigned distance aggregated as nano-unit integers
# for BOTH encodings of the same corpus under the same kit codebooks;
# resid_wins compares the integer sums (same n, so it is the mean
# comparison, integer-exact). Mirrors two pq_reconstruction_report
# calls joined on subspace.
_Q177_SQL = f"""
WITH {_pq_residual_ctes()},
rawdists AS (
  SELECT e.vec_id, cbs.j, cbs.c,
         ROUND(list_dot_product(e.v[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                                e.v[cbs.j * 8 + 1 : cbs.j * 8 + 8])
               - 2 * list_dot_product(e.v[cbs.j * 8 + 1 : cbs.j * 8 + 8],
                                      cbs.cb)
               + cbs.cb2, 9) AS dist
  FROM e CROSS JOIN cbs
),
mdr AS (SELECT vec_id, j, MIN(dist) AS dist FROM rawdists GROUP BY vec_id, j),
mds AS (SELECT vec_id, j, MIN(dist) AS dist FROM rdists GROUP BY vec_id, j),
rawagg AS (
  SELECT j, COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(dist * 1e9) AS BIGINT)) AS BIGINT) AS s
  FROM mdr GROUP BY j
),
resagg AS (
  SELECT j, COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(dist * 1e9) AS BIGINT)) AS BIGINT) AS s
  FROM mds GROUP BY j
)
SELECT CAST(rawagg.j AS BIGINT) AS subspace,
       CAST(rawagg.n AS BIGINT) AS n_vectors,
       rawagg.s AS raw_sum_dist_q,
       resagg.s AS resid_sum_dist_q,
       CAST(rawagg.s AS DOUBLE) / rawagg.n / 1e9 AS raw_mean_sq_dist,
       CAST(resagg.s AS DOUBLE) / resagg.n / 1e9 AS resid_mean_sq_dist,
       CAST(CASE WHEN resagg.s <= rawagg.s THEN 1 ELSE 0 END AS BIGINT)
         AS resid_wins
FROM rawagg JOIN resagg ON rawagg.j = resagg.j
"""


def _adc_sql_parts(
    vec_expr: str, codes_expr: str, m: int = 8, k: int = 16, dim: int = 64
) -> tuple[str, str, str, str]:
    """Shared DuckDB pieces of the ADC cosine, mirroring
    pq_adc_screen_kit's fold order exactly: (cb3 literal, cb23
    literal, dot_terms, r2_terms) with the per-subspace
    list_dot_product partials summed left-to-right in j order and the
    reconstruction norm² read from the SAME Python cb2 float literals
    Spark folds in. Used by the q168 ingest twin and the q172
    decontamination twin."""
    from ..operators.similarity import pq_codebooks

    cbs = pq_codebooks(dim=dim, m=m, k=k)
    d = dim // m
    cb3 = "[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(repr(x) for x in cb) + "]" for cb in cbs[j]
        ) + "]" for j in range(m)
    ) + "]"
    cb23 = "[" + ", ".join(
        "[" + ", ".join(
            repr(float(sum(x * x for x in cb))) for cb in cbs[j]
        ) + "]" for j in range(m)
    ) + "]"
    dot_terms = "\n      + ".join(
        f"list_dot_product({vec_expr}[{j * d + 1}:{j * d + d}], "
        f"cb3[{j + 1}][{codes_expr}[{j + 1}] + 1])"
        for j in range(m)
    )
    r2_terms = " + ".join(
        f"cb23[{j + 1}][{codes_expr}[{j + 1}] + 1]" for j in range(m)
    )
    return cb3, cb23, dot_terms, r2_terms


def _q168_sql(threshold: float = 0.30, m: int = 8, k: int = 16,
              dim: int = 64) -> str:
    """Twin of q168 — the codes-only (PQ) embedding ingest's one-shot
    reduction: min-id rep per distinct vector, then drop any rep with
    a lower-id same-cell twin whose CODES the rep's raw vector
    ADC-matches at rounded cosine >= threshold. The ADC cosine is
    mirrored term-for-term in Spark's fold order (the bit-for-bit pin
    in tests/test_pq_streaming_state.py): per-subspace
    list_dot_product partials summed left-to-right in j order, the
    reconstruction norm² as the SAME Python cb2 float literals summed
    in j order — never a SUM() over rows, whose addition order the
    engine doesn't guarantee."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=dim, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    cb3, cb23, dot_terms, r2_terms = _adc_sql_parts(
        "b.v", "ac.codes", m=m, k=k, dim=dim
    )
    return f"""
WITH {_PQ_ENCODE_CTES},
cents(cell, cv) AS (VALUES {values}),
cbl AS (SELECT CAST({cb3} AS DOUBLE[][][]) AS cb3,
               CAST({cb23} AS DOUBLE[][]) AS cb23),
reps AS (SELECT MIN(vec_id) AS vec_id, v FROM e GROUP BY v),
acodes AS (
  SELECT vec_id, LIST(code ORDER BY j) AS codes FROM enc GROUP BY vec_id
),
sims AS (
  SELECT r.vec_id, r.v, cents.cell,
         ROUND(list_dot_product(r.v, cents.cv) /
               (sqrt(list_dot_product(r.v, r.v)) *
                sqrt(list_dot_product(cents.cv, cents.cv))), 6) AS csim
  FROM reps r CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1
),
dsem AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN acodes ac ON ac.vec_id = a.vec_id
  CROSS JOIN cbl
  WHERE (CASE WHEN sqrt(list_dot_product(b.v, b.v)) * sqrt({r2_terms}) = 0
              THEN 0.0
              ELSE ROUND((
        {dot_terms}
      ) / (sqrt(list_dot_product(b.v, b.v)) * sqrt({r2_terms})), 6) END)
      >= {threshold}
)
SELECT CAST(4 AS BIGINT) AS n_batches,
  (SELECT COUNT(*) FROM e) AS n_input,
  (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM reps) AS dropped_exact,
  (SELECT COUNT(*) FROM dsem) AS dropped_semantic,
  (SELECT COUNT(*) FROM reps) - (SELECT COUNT(*) FROM dsem) AS vecs_landed
"""


_Q168_SQL = _q168_sql()


def _q172_sql(threshold: float = 0.30, nprobe: int = 4, m: int = 8,
              k: int = 16, dim: int = 64) -> str:
    """Twin of q172 — ADC decontamination over a codes-only train
    side: the q124 shape (per-train MAX eval similarity + clean flag)
    with the similarity swapped for the ADC cosine of the raw EVAL
    vector against the TRAIN vector's codes. MAX of rounded doubles
    is order-independent, so no quantized-sum machinery is needed;
    the ADC expression itself reuses q168's exact mirror."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=dim, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    cb3, cb23, dot_terms, r2_terms = _adc_sql_parts(
        "q.qv", "ac.codes", m=m, k=k, dim=dim
    )
    return f"""
WITH {_PQ_ENCODE_CTES},
cents(cell, cv) AS (VALUES {values}),
cbl AS (SELECT CAST({cb3} AS DOUBLE[][][]) AS cb3,
               CAST({cb23} AS DOUBLE[][]) AS cb23),
acodes AS (
  SELECT vec_id, LIST(code ORDER BY j) AS codes FROM enc GROUP BY vec_id
),
csims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.cv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.cv, cents.cv))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims) t WHERE rn = 1 AND vec_id % 100 <> 0
),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims WHERE vec_id % 100 = 0) t WHERE rn <= {nprobe}
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
pairs AS (
  SELECT a.vec_id,
         CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) *
                   sqrt({r2_terms}) = 0 THEN 0.0
              ELSE ROUND((
        {dot_terms}
      ) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt({r2_terms})), 6)
         END AS sim
  FROM assigned a
  JOIN acodes ac ON ac.vec_id = a.vec_id
  JOIN qcells qc ON qc.cell = a.cell
  JOIN q ON q.qid = qc.qid
  CROSS JOIN cbl
),
worst AS (SELECT vec_id, MAX(sim) AS max_sim FROM pairs GROUP BY vec_id)
SELECT t.vec_id,
       COALESCE(w.max_sim, 0.0) AS max_eval_sim,
       CAST(CASE WHEN COALESCE(w.max_sim, 0.0) < {threshold}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_clean
FROM (SELECT vec_id FROM e WHERE vec_id % 100 <> 0) t
LEFT JOIN worst w ON w.vec_id = t.vec_id
"""


_Q172_SQL = _q172_sql()


def _q124_sql() -> str:
    """Twin of q124: the q110 IVF probe machinery, but aggregated to a
    per-training-vector MAX eval similarity with a clean/contaminated
    flag (threshold 0.35, nprobe 4)."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims WHERE vec_id % 100 <> 0) t WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims WHERE vec_id % 100 = 0) t WHERE rn <= 4
),
worst AS (
  SELECT a.vec_id,
         MAX(ROUND(list_dot_product(a.v, q.qv) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6)) AS max_sim
  FROM assigned a
  JOIN qcells qc ON a.cell = qc.cell
  JOIN q ON q.qid = qc.qid
  GROUP BY a.vec_id
)
SELECT a.vec_id,
  COALESCE(max_sim, 0.0) AS max_eval_sim,
  CAST(CASE WHEN COALESCE(max_sim, 0.0) < 0.35 THEN 1 ELSE 0 END AS BIGINT)
    AS is_clean
FROM assigned a LEFT JOIN worst ON a.vec_id = worst.vec_id
"""


_Q124_SQL = _q124_sql()

_Q125_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS ltoks FROM documents),
tok AS (SELECT unnest(ltoks) AS token FROM t),
uni AS (SELECT token, COUNT(*) AS u_cnt FROM tok GROUP BY token),
tot AS (SELECT SUM(u_cnt) AS n_total FROM uni),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ltoks) - 1),
                               i -> ltoks[i] || ' ' || ltoks[i + 1])) AS gram
  FROM t),
bi AS (SELECT gram, COUNT(*) AS b_cnt FROM g GROUP BY gram),
biq AS (
  SELECT gram,
         CAST(ROUND(log10(CAST(b_cnt AS DOUBLE) / u_cnt) * 1e6) AS BIGINT) AS bq
  FROM bi JOIN uni ON split_part(gram, ' ', 1) = token),
uq AS (
  SELECT token,
         CAST(ROUND(log10(CAST(u_cnt AS DOUBLE) / n_total) * 1e6) AS BIGINT)
           AS uq
  FROM uni, tot),
fq AS (
  SELECT f.doc_id, COALESCE(SUM(uq.uq), 0) AS fq
  FROM (SELECT doc_id, ltoks[1] AS token FROM t) f
  LEFT JOIN uq USING (token) GROUP BY f.doc_id),
gq AS (
  SELECT t.doc_id, COALESCE(SUM(biq.bq), 0) AS gq
  FROM t LEFT JOIN g USING (doc_id) LEFT JOIN biq USING (gram)
  GROUP BY t.doc_id)
SELECT t.doc_id, CAST(len(ltoks) AS BIGINT) AS n_tokens,
  CASE WHEN len(ltoks) > 0
       THEN CAST(fq.fq + gq.gq AS DOUBLE) / 1e6 / len(ltoks)
       ELSE 0.0 END AS mean_logp
FROM t JOIN fq USING (doc_id) JOIN gq USING (doc_id)
"""


#: q126 BM25 literals — shared between __spark_entry__.q126_bm25_topk
#: and the SQL twin so both engines score from identical constants.
Q126_BM25_TERMS: tuple[str, ...] = ("spark", "window", "vector", "customer")
Q126_BM25_K1 = 1.2
Q126_BM25_B = 0.75


def _q126_sql() -> str:
    """Twin of q126 BM25: identical integer tf/dl/N/Σdl assembly, idf
    and per-(doc, term) scores quantized to micro-units, k1/b-derived
    double constants embedded via repr() of the SAME Python floats the
    Spark literals use."""
    terms = ", ".join(f"'{t}'" for t in Q126_BM25_TERMS)
    k1p1 = repr(Q126_BM25_K1 + 1.0)
    k1_1mb = repr(Q126_BM25_K1 * (1.0 - Q126_BM25_B))
    k1b = repr(Q126_BM25_K1 * Q126_BM25_B)
    return f"""
WITH base AS (
  SELECT doc_id AS id, {_DUCK_LTOKS} AS toks FROM documents),
b2 AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS dl,
         list_filter(toks, t -> list_contains([{terms}], t)) AS hits
  FROM base),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM b2),
tf AS (
  SELECT id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT id, dl, unnest(hits) AS term FROM b2) t
  GROUP BY id, dl, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term, n_docs, sum_dl,
         CAST(ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000.0)
              AS BIGINT) AS idf_q
  FROM dfreq CROSS JOIN stats),
scored AS (
  SELECT id,
         CAST(ROUND((CAST(idf_q AS DOUBLE) / 1000000.0) * (tf * {k1p1})
              / (tf + {k1_1mb} + {k1b} * CAST(dl * n_docs AS DOUBLE) / sum_dl)
              * 1000000.0) AS BIGINT) AS score_q
  FROM tf JOIN idf USING (term)),
per_doc AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(score_q) AS BIGINT) AS sum_q
  FROM scored GROUP BY id)
SELECT id AS doc_id, n_terms, CAST(sum_q AS DOUBLE) / 1000000.0 AS score
FROM per_doc ORDER BY score DESC, doc_id ASC LIMIT 15
"""


_Q126_SQL = _q126_sql()

# q178: the q126 BM25 machinery over the STREAMED landed corpus (quality
# gate off -> min doc_id per md5-normalized-text fingerprint, the q163
# exact-dedup convention), top-12. The Spark side reads N/sum_dl/df from
# the incremental lexicon state and per-doc tf/dl from the postings
# state; those are integer partials of the identical one-shot
# quantities, so the SQL can aggregate one-shot.
def _q178_sql(
    limit: int = 12, terms_tuple: tuple[str, ...] | None = None
) -> str:
    terms = ", ".join(f"'{t}'" for t in (terms_tuple or Q126_BM25_TERMS))
    k1p1 = repr(Q126_BM25_K1 + 1.0)
    k1_1mb = repr(Q126_BM25_K1 * (1.0 - Q126_BM25_B))
    k1b = repr(Q126_BM25_K1 * Q126_BM25_B)
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents GROUP BY md5({_DUCK_NORM})),
corpus AS (
  SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)),
base AS (
  SELECT doc_id AS id, {_DUCK_LTOKS} AS toks FROM corpus),
b2 AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS dl,
         list_filter(toks, t -> list_contains([{terms}], t)) AS hits
  FROM base),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM b2),
tf AS (
  SELECT id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT id, dl, unnest(hits) AS term FROM b2) t
  GROUP BY id, dl, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term, n_docs, sum_dl,
         CAST(ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000.0)
              AS BIGINT) AS idf_q
  FROM dfreq CROSS JOIN stats),
scored AS (
  SELECT id,
         CAST(ROUND((CAST(idf_q AS DOUBLE) / 1000000.0) * (tf * {k1p1})
              / (tf + {k1_1mb} + {k1b} * CAST(dl * n_docs AS DOUBLE) / sum_dl)
              * 1000000.0) AS BIGINT) AS score_q
  FROM tf JOIN idf USING (term)),
per_doc AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(score_q) AS BIGINT) AS sum_q
  FROM scored GROUP BY id)
SELECT id AS doc_id, n_terms, CAST(sum_q AS DOUBLE) / 1000000.0 AS score
FROM per_doc ORDER BY score DESC, doc_id ASC LIMIT {limit}
"""


_Q178_SQL = _q178_sql()


def _q185_sql(m: int = 8, dim: int = 64) -> str:
    """Twin of q185 — OPQ vs plain-PQ distortion, side by side: the
    q167 per-subspace MIN/nano-sum algebra evaluated twice, once on
    the raw vectors against the anchor's plain-PQ codebooks and once
    on the ROTATED vectors (list_transform over the committed
    rotation-matrix literal; each component a list_dot_product —
    bit-identical to Spark's transform-over-Literal + sequential-fold
    dot) against the anchor's OPQ codebooks. All literals come from
    the committed opq_anchor.json, so both engines read the identical
    doubles at every SF."""
    from ..operators.similarity import load_opq_anchor

    a = load_opq_anchor()
    d = dim // m
    rot = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in r) + "]"
        for r in a["rotation"]
    )

    def _dists(src: str, cbs: str) -> str:
        return f"""
  SELECT {src}.vec_id, {cbs}.j,
         ROUND(list_dot_product({src}.v[{cbs}.j * {d} + 1 : {cbs}.j * {d} + {d}],
                                {src}.v[{cbs}.j * {d} + 1 : {cbs}.j * {d} + {d}])
               - 2 * list_dot_product({src}.v[{cbs}.j * {d} + 1 : {cbs}.j * {d} + {d}],
                                      {cbs}.cb)
               + {cbs}.cb2, 9) AS dist
  FROM {src} CROSS JOIN {cbs}"""

    return f"""
WITH pcbs(j, c, cb, cb2) AS (VALUES {_cbs_values_from(a["pq_codebooks"])}),
ocbs(j, c, cb, cb2) AS (VALUES {_cbs_values_from(a["opq_codebooks"])}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
rot(r3) AS (SELECT CAST([{rot}] AS DOUBLE[][])),
er AS (
  SELECT e.vec_id,
         list_transform(rot.r3, rr -> list_dot_product(rr, e.v)) AS v
  FROM e CROSS JOIN rot),
pd AS ({_dists("e", "pcbs")}),
od AS ({_dists("er", "ocbs")}),
pmd AS (SELECT vec_id, j, MIN(dist) AS dist FROM pd GROUP BY vec_id, j),
omd AS (SELECT vec_id, j, MIN(dist) AS dist FROM od GROUP BY vec_id, j),
pagg AS (
  SELECT j, COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(dist * 1e9) AS BIGINT)) AS BIGINT) AS s
  FROM pmd GROUP BY j),
oagg AS (
  SELECT j, COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(dist * 1e9) AS BIGINT)) AS BIGINT) AS s
  FROM omd GROUP BY j)
SELECT CAST(p.j AS BIGINT) AS subspace,
       CAST(p.n AS BIGINT) AS n_vectors,
       p.s AS pq_sum_dist_q,
       o.s AS opq_sum_dist_q,
       CAST(p.s AS DOUBLE) / p.n / 1e9 AS pq_mean_sq_dist,
       CAST(o.s AS DOUBLE) / o.n / 1e9 AS opq_mean_sq_dist,
       CAST(CASE WHEN o.s <= p.s THEN 1 ELSE 0 END AS BIGINT) AS opq_wins
FROM pagg p JOIN oagg o ON p.j = o.j
"""


_Q185_SQL = _q185_sql()


def _q186_sql(
    k_top: int = 10, nprobe: int = 4, m: int = 8, dim: int = 64
) -> str:
    """Twin of q186 — OPQ IVF-PQ ADC top-k: the q166 machinery with
    the FINE quantizer moved to the rotated space. Coarse cells stay
    raw (csims over e.v); the encode dists and the query LUTs both
    read the ROTATED vectors (er = list_transform over the committed
    rotation literal) against the anchor's OPQ codebooks. Integer ADC
    sums, same tie rules."""
    from ..operators.similarity import (
        deterministic_ivf_centroids,
        load_opq_anchor,
    )

    a = load_opq_anchor()
    d = dim // m
    rot = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in r) + "]"
        for r in a["rotation"]
    )
    cents = deterministic_ivf_centroids(dim=dim, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cbs(j, c, cb, cb2) AS (VALUES {_cbs_values_from(a["opq_codebooks"])}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
rot(r3) AS (SELECT CAST([{rot}] AS DOUBLE[][])),
er AS (
  SELECT e.vec_id,
         list_transform(rot.r3, rr -> list_dot_product(rr, e.v)) AS v
  FROM e CROSS JOIN rot),
dists AS (
  SELECT er.vec_id, cbs.j, cbs.c,
         ROUND(list_dot_product(er.v[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                                er.v[cbs.j * {d} + 1 : cbs.j * {d} + {d}])
               - 2 * list_dot_product(er.v[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                                      cbs.cb)
               + cbs.cb2, 9) AS dist
  FROM er CROSS JOIN cbs
),
enc AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY dist ASC, c ASC) AS rn
    FROM dists) t WHERE rn = 1
),
cents(cell, cv) AS (VALUES {values}),
csims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.cv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.cv, cents.cv))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims) t WHERE rn = 1
),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims WHERE vec_id % 100 = 0) t WHERE rn <= {nprobe}
),
q AS (SELECT vec_id AS qid, v AS qv FROM er WHERE vec_id % 100 = 0),
lut AS (
  SELECT q.qid, cbs.j, cbs.c,
         CAST(ROUND((list_dot_product(q.qv[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                                      q.qv[cbs.j * {d} + 1 : cbs.j * {d} + {d}])
                     - 2 * list_dot_product(
                         q.qv[cbs.j * {d} + 1 : cbs.j * {d} + {d}], cbs.cb)
                     + cbs.cb2) * 1e9) AS BIGINT) AS term
  FROM q CROSS JOIN cbs
),
cand AS (
  SELECT qc.qid, a.vec_id
  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
),
scored AS (
  SELECT cand.qid, cand.vec_id, SUM(lut.term) AS adist
  FROM cand
  JOIN enc ON enc.vec_id = cand.vec_id
  JOIN lut ON lut.qid = cand.qid AND lut.j = enc.j AND lut.c = enc.code
  GROUP BY cand.qid, cand.vec_id
)
SELECT qid, vec_id, CAST(adist AS BIGINT) AS adist_q, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT qid, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY adist ASC, vec_id ASC) AS rn
  FROM scored) t
WHERE rn <= {k_top}
"""


_Q186_SQL = _q186_sql()

Q187_BOOL_TERMS: tuple[str, ...] = ("spark", "window", "vector")


def _q187_sql(k: int = 12) -> str:
    """Twin of q187 — conjunctive boolean retrieval over the
    SQL-landed set (the q178/q184 convention: the Spark side reads
    inverted postings; postings rows are exact per-(doc, token) facts
    of the landed corpus, so the SQL can aggregate one-shot): docs
    containing EVERY query term, ranked by total matched tf, id
    ties."""
    terms = ", ".join(f"'{t}'" for t in Q187_BOOL_TERMS)
    n = len(set(Q187_BOOL_TERMS))
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents GROUP BY md5({_DUCK_NORM})),
corpus AS (
  SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)),
base AS (
  SELECT doc_id AS id, {_DUCK_LTOKS} AS toks FROM corpus),
tf AS (
  SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT id, unnest(list_filter(toks,
                t -> list_contains([{terms}], t))) AS term
        FROM base) t
  GROUP BY id, term),
hits AS (
  SELECT id, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
         CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY id
  HAVING COUNT(DISTINCT term) = {n})
SELECT id AS doc_id, n_terms, total_tf,
       CAST(total_tf AS DOUBLE) AS score
FROM hits ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


_Q187_SQL = _q187_sql()


# q184: the SAME one-shot BM25 over the SQL-landed set, top-15 — the
# Spark side reads BOTH the global stats (lexicon) AND the per-doc
# (tf, dl) side (inverted postings, bucketed on token) from ingest
# state, touching the corpus zero times at query time; every partial
# is an integer sum of the identical one-shot quantity.
_Q184_SQL = _q178_sql(limit=15)

#: q188 query mix: "dup" is the corpus's one genuinely RARE token
#: (df ≈ 5% of docs); the other three are "the"-class common (df ≈
#: 78%) — exactly the natural-language shape where MaxScore pruning
#: pays: the rare pass bounds the threshold, the three common posting
#: lists are semi-join filtered instead of doc-shuffled.
Q188_WAND_TERMS: tuple[str, ...] = ("dup", "spark", "window", "vector")

# q188: the twin is the q184/q178 one-shot BM25 SQL itself (same
# generator, the q188 term mix) — safe pruning means the pruned top-k
# must be EXACTLY the unpruned result, so the oracle is the unpruned
# query.
_Q188_SQL = _q178_sql(limit=15, terms_tuple=Q188_WAND_TERMS)

#: q189 phrase — a real consecutive bigram of the corpus (~50
#: occurrences at sf0.01), so the top-k is non-degenerate at every SF.
Q189_PHRASE_TERMS: tuple[str, ...] = ("table", "hash")


def _q189_sql(k: int = 10) -> str:
    """Twin of q189 — exact-phrase retrieval over the SQL-landed set
    (the q184/q187 convention): the Spark side intersects offset-
    shifted positions arrays from the POSITIONAL postings state;
    positions are exact integer facts of the landed corpus, so the
    oracle re-derives the occurrence count one-shot from the text — a
    token-window scan counting starts p with toks[p+i] = termᵢ ∀i."""
    n = len(Q189_PHRASE_TERMS)
    cond = " AND ".join(
        f"toks[p+{i}] = '{t}'" for i, t in enumerate(Q189_PHRASE_TERMS)
    )
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents GROUP BY md5({_DUCK_NORM})),
corpus AS (
  SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)),
base AS (
  SELECT doc_id AS id, {_DUCK_LTOKS} AS toks FROM corpus),
hits AS (
  SELECT id,
         CAST(len(list_filter(range(1, len(toks) - {n} + 2),
              p -> {cond})) AS BIGINT) AS n_occurrences
  FROM base)
SELECT id AS doc_id, n_occurrences,
       CAST(n_occurrences AS DOUBLE) AS score
FROM hits WHERE n_occurrences > 0
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


_Q189_SQL = _q189_sql()


def _q190_sql(
    k_top: int = 10, nprobe: int = 4, m: int = 8, dim: int = 64,
    rerank_from: int | None = None, rerank_round_digits: int = 6,
) -> str:
    """Twin of q190 — the FULL OPQ→IVF→PQ composition (residual +
    rotation together): coarse cells assigned in the RAW space (q175's
    rounded-argmax CTEs), residuals v − centroid(cell) rotated through
    the committed OPQ anchor rotation BEFORE the q165 argmin encode
    (mirroring pq_append_codes' rotate∘subtract order), and each
    query's nano-unit LUTs built from ITS rotated residual in every
    probed cell — Σ_j lut[j][code_j] is then the exact quantized
    ‖R(q−c) − recon‖² = ‖(q−c) − Rᵀrecon‖², comparable across cells.
    Codebooks come from the committed opq_residual_anchor.json
    (trained on rotated residuals), so both engines read identical
    double literals at every SF.

    With ``rerank_from`` this is q191 (OPQ-residual IVFADC+R): the
    q171 rerank tail — ADC top-R shortlist, exact RAW-space cosine
    rerank to top-k (the rotation never touches the rerank; q's qv
    CTE is the raw vector) — so the composition's recall lever is
    twin-exact too."""
    from ..operators.similarity import (
        deterministic_ivf_centroids,
        load_opq_anchor,
        load_opq_residual_anchor,
    )

    d = dim // m
    rot = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in r) + "]"
        for r in load_opq_anchor()["rotation"]
    )
    cents = deterministic_ivf_centroids(dim=dim, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    cbs = _cbs_values_from(load_opq_residual_anchor()["codebooks"])
    return f"""
WITH cbs(j, c, cb, cb2) AS (VALUES {cbs}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(cell, cv) AS (VALUES {values}),
rot(r3) AS (SELECT CAST([{rot}] AS DOUBLE[][])),
csims AS (
  SELECT e.vec_id, e.v, cents.cell,
         CASE WHEN sqrt(list_dot_product(e.v, e.v)) *
                   sqrt(list_dot_product(cents.cv, cents.cv)) = 0 THEN 0.0
              ELSE ROUND(list_dot_product(e.v, cents.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) *
                          sqrt(list_dot_product(cents.cv, cents.cv))),
                         6) END AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims) t WHERE rn = 1
),
r AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, {dim + 1}), i -> a.v[i] - c.cv[i]) AS rv0
  FROM assigned a JOIN cents c ON c.cell = a.cell
),
rotres AS (
  SELECT r.vec_id, r.cell,
         list_transform(rot.r3, rw -> list_dot_product(rw, r.rv0)) AS rv
  FROM r CROSS JOIN rot
),
rdists AS (
  SELECT rotres.vec_id, rotres.cell, cbs.j, cbs.c,
         ROUND(list_dot_product(
                 rotres.rv[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                 rotres.rv[cbs.j * {d} + 1 : cbs.j * {d} + {d}])
               - 2 * list_dot_product(
                   rotres.rv[cbs.j * {d} + 1 : cbs.j * {d} + {d}], cbs.cb)
               + cbs.cb2, 9) AS dist
  FROM rotres CROSS JOIN cbs
),
renc AS (
  SELECT vec_id, cell, j, c AS code FROM (
    SELECT vec_id, cell, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY dist ASC, c ASC) AS rn
    FROM rdists) t WHERE rn = 1
),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims WHERE vec_id % 100 = 0) t WHERE rn <= {nprobe}
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
qres AS (
  SELECT qc.qid, qc.cell,
         list_transform(range(1, {dim + 1}), i -> q.qv[i] - c.cv[i]) AS rqv0
  FROM qcells qc JOIN q ON q.qid = qc.qid JOIN cents c ON c.cell = qc.cell
),
qrr AS (
  SELECT qres.qid, qres.cell,
         list_transform(rot.r3, rw -> list_dot_product(rw, qres.rqv0)) AS rqv
  FROM qres CROSS JOIN rot
),
lut AS (
  SELECT qrr.qid, qrr.cell, cbs.j, cbs.c,
         CAST(ROUND((list_dot_product(
                         qrr.rqv[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                         qrr.rqv[cbs.j * {d} + 1 : cbs.j * {d} + {d}])
                     - 2 * list_dot_product(
                         qrr.rqv[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                         cbs.cb)
                     + cbs.cb2) * 1e9) AS BIGINT) AS term
  FROM qrr CROSS JOIN cbs
),
cand AS (
  SELECT qc.qid, a.vec_id, a.cell
  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
),
scored AS (
  SELECT cand.qid, cand.vec_id, SUM(lut.term) AS adist
  FROM cand
  JOIN renc ON renc.vec_id = cand.vec_id
  JOIN lut ON lut.qid = cand.qid AND lut.cell = cand.cell
          AND lut.j = renc.j AND lut.c = renc.code
  GROUP BY cand.qid, cand.vec_id
){_q166_tail(k_top) if rerank_from is None
  else _q171_tail(k_top, rerank_from, rerank_round_digits)}
"""


_Q190_SQL = _q190_sql()
_Q191_SQL = _q190_sql(rerank_from=40)

#: q192 proximity query: two common tokens — minimal-span ranking is
#: only interesting when many docs contain both.
Q192_PROX_TERMS: tuple[str, ...] = ("spark", "vector")
Q192_MAX_SPAN = 4


def _q192_sql(k: int = 10) -> str:
    """Twin of q192 — unordered minimal-span proximity over the
    SQL-landed set: tag every matched token occurrence with (pos,
    term_index), sort by position, and for each start take the nearest
    end whose slice covers all n distinct terms — min over starts of
    the offset difference, the exact algebra of
    text.proximity_topk_from_postings re-derived one-shot from the
    text (positions are exact integer facts; DuckDB's 1-based offsets
    cancel in the difference)."""
    n = len(set(Q192_PROX_TERMS))
    terms = ", ".join(f"'{t}'" for t in sorted(set(Q192_PROX_TERMS)))
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents GROUP BY md5({_DUCK_NORM})),
corpus AS (
  SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)),
base AS (
  SELECT doc_id AS id, {_DUCK_LTOKS} AS toks FROM corpus),
tg AS (
  SELECT id,
         list_sort(list_transform(
           list_filter(range(1, len(toks) + 1),
                       p -> list_contains([{terms}], toks[p])),
           p -> {{'pos': p, 't': list_position([{terms}], toks[p])}}))
           AS tagged
  FROM base),
cands AS (
  SELECT id, tagged, len(tagged) AS L
  FROM tg
  WHERE len(list_distinct(list_transform(tagged, x -> x.t))) = {n}),
spans AS (
  SELECT id,
         CAST(list_min(list_transform(range(1, L + 1), i ->
           tagged[list_filter(range(i, L + 1), j ->
               len(list_distinct(list_transform(tagged[i:j],
                                                x2 -> x2.t))) = {n})[1]].pos
           - tagged[i].pos)) AS BIGINT) AS min_span,
         CAST(L AS BIGINT) AS n_matched
  FROM cands)
SELECT id AS doc_id, min_span, n_matched
FROM spans WHERE min_span <= {Q192_MAX_SPAN}
ORDER BY min_span ASC, doc_id ASC LIMIT {k}
"""


_Q192_SQL = _q192_sql()


#: The shared BM25 CTE block (reps → per_doc) over a restricted term
#: set — q178's generator body, reused verbatim by the q193/q194
#: positional-BM25 compositions so their term-score side is
#: definitionally the established one-shot quantization.
def _bm25_ctes(terms_sql: str) -> str:
    k1p1 = repr(Q126_BM25_K1 + 1.0)
    k1_1mb = repr(Q126_BM25_K1 * (1.0 - Q126_BM25_B))
    k1b = repr(Q126_BM25_K1 * Q126_BM25_B)
    return f"""reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents GROUP BY md5({_DUCK_NORM})),
corpus AS (
  SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)),
base AS (
  SELECT doc_id AS id, {_DUCK_LTOKS} AS toks FROM corpus),
b2 AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS dl,
         list_filter(toks, t -> list_contains([{terms_sql}], t)) AS hits
  FROM base),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM b2),
tf AS (
  SELECT id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT id, dl, unnest(hits) AS term FROM b2) t
  GROUP BY id, dl, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term, n_docs, sum_dl,
         CAST(ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000.0)
              AS BIGINT) AS idf_q
  FROM dfreq CROSS JOIN stats),
scored AS (
  SELECT id,
         CAST(ROUND((CAST(idf_q AS DOUBLE) / 1000000.0) * (tf * {k1p1})
              / (tf + {k1_1mb} + {k1b} * CAST(dl * n_docs AS DOUBLE) / sum_dl)
              * 1000000.0) AS BIGINT) AS score_q
  FROM tf JOIN idf USING (term)),
per_doc AS (
  SELECT id, CAST(SUM(score_q) AS BIGINT) AS sum_q
  FROM scored GROUP BY id)"""


def _q193_sql(k: int = 10, w: int = 1) -> str:
    """Twin of q193 — BM25-weighted exact-phrase ranking: the q178
    BM25 CTEs over the phrase's distinct terms (quantized per-doc
    sum_q) + the q189 token-window occurrence count, composed with
    the phrase-as-pseudo-term score (tf = occurrences, df = matching
    docs, the same rounded-micro-unit curve) — integer facts and the
    shared rounding convention end to end, so cell-exact at every
    SF."""
    n = len(Q189_PHRASE_TERMS)
    cond = " AND ".join(
        f"toks[p+{i}] = '{t}'" for i, t in enumerate(Q189_PHRASE_TERMS)
    )
    terms = ", ".join(f"'{t}'" for t in sorted(set(Q189_PHRASE_TERMS)))
    k1p1 = repr(Q126_BM25_K1 + 1.0)
    k1_1mb = repr(Q126_BM25_K1 * (1.0 - Q126_BM25_B))
    k1b = repr(Q126_BM25_K1 * Q126_BM25_B)
    return f"""
WITH {_bm25_ctes(terms)},
ph AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS dl,
         CAST(len(list_filter(range(1, len(toks) - {n} + 2),
              p -> {cond})) AS BIGINT) AS n_occurrences
  FROM base),
ph2 AS (SELECT * FROM ph WHERE n_occurrences > 0),
dfp AS (SELECT CAST(COUNT(*) AS BIGINT) AS df_p FROM ph2),
phs AS (
  SELECT id, n_occurrences,
         CAST(ROUND((CAST(CAST(ROUND(ln(1.0 + (n_docs - df_p + 0.5)
                / (df_p + 0.5)) * 1000000.0) AS BIGINT) AS DOUBLE)
                / 1000000.0)
              * (n_occurrences * {k1p1})
              / (n_occurrences + {k1_1mb}
                 + {k1b} * CAST(dl * n_docs AS DOUBLE) / sum_dl)
              * 1000000.0) AS BIGINT) AS phrase_q
  FROM ph2 CROSS JOIN stats CROSS JOIN dfp)
SELECT phs.id AS doc_id, phs.n_occurrences,
       CAST(per_doc.sum_q + {w} * phs.phrase_q AS DOUBLE) / 1000000.0
         AS score
FROM phs JOIN per_doc ON phs.id = per_doc.id
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


_Q193_SQL = _q193_sql()


def _q194_sql(k: int = 10, w: int = 1) -> str:
    """Twin of q194 — BM25-weighted proximity ranking: the q178 BM25
    CTEs over the query terms + the q192 minimal-span derivation,
    composed with the integer inverse-span boost
    ``1000000 // (min_span + 1)`` (integer division in both engines),
    so the ranking is cell-exact at every SF."""
    n = len(set(Q192_PROX_TERMS))
    terms = ", ".join(f"'{t}'" for t in sorted(set(Q192_PROX_TERMS)))
    return f"""
WITH {_bm25_ctes(terms)},
tg AS (
  SELECT id,
         list_sort(list_transform(
           list_filter(range(1, len(toks) + 1),
                       p -> list_contains([{terms}], toks[p])),
           p -> {{'pos': p, 't': list_position([{terms}], toks[p])}}))
           AS tagged
  FROM base),
cands AS (
  SELECT id, tagged, len(tagged) AS L
  FROM tg
  WHERE len(list_distinct(list_transform(tagged, x -> x.t))) = {n}),
spans AS (
  SELECT id,
         CAST(list_min(list_transform(range(1, L + 1), i ->
           tagged[list_filter(range(i, L + 1), j ->
               len(list_distinct(list_transform(tagged[i:j],
                                                x2 -> x2.t))) = {n})[1]].pos
           - tagged[i].pos)) AS BIGINT) AS min_span,
         CAST(L AS BIGINT) AS n_matched
  FROM cands)
SELECT spans.id AS doc_id, spans.min_span, spans.n_matched,
       CAST(per_doc.sum_q
            + {w} * (1000000 // (spans.min_span + 1))
            AS DOUBLE) / 1000000.0 AS score
FROM spans JOIN per_doc ON spans.id = per_doc.id
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


_Q194_SQL = _q194_sql()


def _res_adc_sql_parts(
    vec_expr: str, codes_expr: str, cell_expr: str, cent_dot: str,
    m: int = 8, k: int = 16, dim: int = 64, n_cells: int = 16,
) -> tuple[str, str, str, str, str]:
    """DuckDB pieces of the RESIDUAL ADC cosine, mirroring
    pq_adc_screen_kit(centroids=...)'s fold order exactly: the
    reconstruction is centroid(cell) + Σ_j cb_j[code_j], so

      dot = <v, centroid(cell)> + Σ_j <v_slice_j, cb_j[code_j]>
      ‖recon‖² = c2[cell] + Σ_j (2·<c_slice_j, cb_j[code_j]> +
                                 ‖cb_j[code_j]‖²)

    with c2 and the [cell][j][code] cross-term table rt3 precomputed
    DRIVER-side as plain Python floats — the identical double
    constants Spark embeds via F.lit, so no engine fold to mirror.
    Returns (cb3, rt3, c2l, dot_terms, r2_terms); ``cent_dot`` is the
    SQL expression for <v, centroid(cell)> (engine-side, agrees with
    Spark's sequential fold after the screen's 6-digit rounding, the
    established list_dot_product precedent)."""
    from ..operators.similarity import (
        deterministic_ivf_centroids,
        pq_codebooks,
    )

    cbs = pq_codebooks(dim=dim, m=m, k=k)
    cents = deterministic_ivf_centroids(dim=dim, n_cells=n_cells)
    d = dim // m
    cb2 = [
        [float(sum(x * x for x in cb)) for cb in cbs[j]] for j in range(m)
    ]
    cb3 = "[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(repr(x) for x in cb) + "]" for cb in cbs[j]
        ) + "]" for j in range(m)
    ) + "]"
    rt3 = "[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(
                repr(float(
                    2.0 * sum(c[j * d + i] * cb[i] for i in range(d))
                    + cb2[j][ci]
                ))
                for ci, cb in enumerate(cbs[j])
            ) + "]" for j in range(m)
        ) + "]" for c in cents
    ) + "]"
    c2l = "[" + ", ".join(
        repr(float(sum(x * x for x in c))) for c in cents
    ) + "]"
    dot_terms = cent_dot + "\n      + " + "\n      + ".join(
        f"list_dot_product({vec_expr}[{j * d + 1}:{j * d + d}], "
        f"cb3[{j + 1}][{codes_expr}[{j + 1}] + 1])"
        for j in range(m)
    )
    r2_terms = f"c2l[{cell_expr} + 1] + " + " + ".join(
        f"rt3[{cell_expr} + 1][{j + 1}][{codes_expr}[{j + 1}] + 1]"
        for j in range(m)
    )
    return cb3, rt3, c2l, dot_terms, r2_terms


def _q179_sql(threshold: float = 0.40, m: int = 8, k: int = 16,
              dim: int = 64) -> str:
    """Twin of q179 — the RESIDUAL codes-only (PQ) embedding ingest's
    one-shot reduction: min-id rep per distinct vector, then drop any
    rep with a lower-id same-cell twin whose RESIDUAL codes the rep's
    raw vector ADC-matches at rounded cosine >= threshold. Reuses the
    q174 residual encode CTEs (rounded-argmax assignment + residual
    argmin codes) and mirrors pq_adc_screen_kit's residual algebra
    term-for-term (see _res_adc_sql_parts)."""
    cb3, rt3, c2l, dot_terms, r2_terms = _res_adc_sql_parts(
        "b.v", "ac.codes", "a.cell",
        "list_dot_product(b.v, c.cv)", m=m, k=k, dim=dim,
    )
    return f"""
WITH {_pq_residual_ctes()},
rl AS (SELECT CAST({cb3} AS DOUBLE[][][]) AS cb3,
              CAST({rt3} AS DOUBLE[][][]) AS rt3,
              CAST({c2l} AS DOUBLE[]) AS c2l),
reps AS (SELECT MIN(vec_id) AS vec_id FROM e GROUP BY v),
ar AS (SELECT a.* FROM assigned a JOIN reps USING (vec_id)),
racodes AS (
  SELECT vec_id, LIST(code ORDER BY j) AS codes FROM renc GROUP BY vec_id
),
dsem AS (
  SELECT DISTINCT b.vec_id
  FROM ar a
  JOIN ar b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN racodes ac ON ac.vec_id = a.vec_id
  JOIN cents c ON c.cell = a.cell
  CROSS JOIN rl
  WHERE (CASE WHEN sqrt(list_dot_product(b.v, b.v)) * sqrt({r2_terms}) = 0
              THEN 0.0
              ELSE ROUND((
        {dot_terms}
      ) / (sqrt(list_dot_product(b.v, b.v)) * sqrt({r2_terms})), 6) END)
      >= {threshold}
)
SELECT CAST(4 AS BIGINT) AS n_batches,
  (SELECT COUNT(*) FROM e) AS n_input,
  (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM reps) AS dropped_exact,
  (SELECT COUNT(*) FROM dsem) AS dropped_semantic,
  (SELECT COUNT(*) FROM reps) - (SELECT COUNT(*) FROM dsem) AS vecs_landed
"""


_Q179_SQL = _q179_sql()


def _q180_sql(threshold: float = 0.40, nprobe: int = 4, m: int = 8,
              k: int = 16, dim: int = 64) -> str:
    """Twin of q180 — residual-ADC decontamination: the q172 shape
    (per-train MAX eval similarity + clean flag over an nprobe cell
    fan-out) with the similarity swapped for the RESIDUAL ADC cosine
    of the raw EVAL vector against the train vector's residual codes
    at the train vector's assigned cell (_res_adc_sql_parts). MAX of
    rounded doubles is order-independent, so the twin is exact."""
    cb3, rt3, c2l, dot_terms, r2_terms = _res_adc_sql_parts(
        "q.qv", "ac.codes", "a.cell",
        "list_dot_product(q.qv, c.cv)", m=m, k=k, dim=dim,
    )
    return f"""
WITH {_pq_residual_ctes()},
rl AS (SELECT CAST({cb3} AS DOUBLE[][][]) AS cb3,
              CAST({rt3} AS DOUBLE[][][]) AS rt3,
              CAST({c2l} AS DOUBLE[]) AS c2l),
ar AS (SELECT vec_id, cell FROM assigned WHERE vec_id % 100 <> 0),
racodes AS (
  SELECT vec_id, LIST(code ORDER BY j) AS codes FROM renc GROUP BY vec_id
),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM csims WHERE vec_id % 100 = 0) t WHERE rn <= {nprobe}
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
pairs AS (
  SELECT a.vec_id,
         CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) *
                   sqrt({r2_terms}) = 0 THEN 0.0
              ELSE ROUND((
        {dot_terms}
      ) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt({r2_terms})), 6)
         END AS sim
  FROM ar a
  JOIN racodes ac ON ac.vec_id = a.vec_id
  JOIN cents c ON c.cell = a.cell
  JOIN qcells qc ON qc.cell = a.cell
  JOIN q ON q.qid = qc.qid
  CROSS JOIN rl
),
worst AS (SELECT vec_id, MAX(sim) AS max_sim FROM pairs GROUP BY vec_id)
SELECT t.vec_id,
       COALESCE(w.max_sim, 0.0) AS max_eval_sim,
       CAST(CASE WHEN COALESCE(w.max_sim, 0.0) < {threshold}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_clean
FROM (SELECT vec_id FROM e WHERE vec_id % 100 <> 0) t
LEFT JOIN worst w ON w.vec_id = t.vec_id
"""


_Q180_SQL = _q180_sql()


Q181_B_CELL_CAP = 16


def _q181_sql(m: int = 8, k: int = 16, dim: int = 64) -> str:
    """Twin of q181 — raw vs residual ADC screen agreement: the q177
    pattern (raw encode CTEs grafted onto the residual CTE set, no
    duplicate names) + BOTH ADC algebras evaluated on every same-cell
    ordered pair WHOSE PROBE SIDE SURVIVES THE PER-CELL BUDGET —
    b rows ranked by md5(vec_id) within cell, rank ≤ Q181_B_CELL_CAP
    (VERDICT r14 item 2: the landed×landed report must be linear, not
    quadratic, in cell load) — counted per literal threshold. The two
    code spaces share the cb3 LUT literal; raw reads cb23, residual
    rt3/c2l."""
    cb3, cb23, raw_dot, raw_r2 = _adc_sql_parts(
        "b.v", "ar.codes", m=m, k=k, dim=dim
    )
    _, rt3, c2l, res_dot, res_r2 = _res_adc_sql_parts(
        "b.v", "ac.codes", "a.cell",
        "list_dot_product(b.v, c.cv)", m=m, k=k, dim=dim,
    )
    thresholds = [0.30, 0.35, 0.40, 0.45]
    tvals = ", ".join(f"(CAST({t!r} AS DOUBLE))" for t in thresholds)
    d = dim // m  # subspace width — keep the m/k/dim params honest
    return f"""
WITH {_pq_residual_ctes()},
rl AS (SELECT CAST({cb3} AS DOUBLE[][][]) AS cb3,
              CAST({cb23} AS DOUBLE[][]) AS cb23,
              CAST({rt3} AS DOUBLE[][][]) AS rt3,
              CAST({c2l} AS DOUBLE[]) AS c2l),
rawdists AS (
  SELECT e.vec_id, cbs.j, cbs.c,
         ROUND(list_dot_product(e.v[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                                e.v[cbs.j * {d} + 1 : cbs.j * {d} + {d}])
               - 2 * list_dot_product(e.v[cbs.j * {d} + 1 : cbs.j * {d} + {d}],
                                      cbs.cb)
               + cbs.cb2, 9) AS dist
  FROM e CROSS JOIN cbs
),
rawenc AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY dist ASC, c ASC) AS rn
    FROM rawdists) t WHERE rn = 1
),
araw AS (
  SELECT vec_id, LIST(code ORDER BY j) AS codes FROM rawenc GROUP BY vec_id
),
ares AS (
  SELECT vec_id, LIST(code ORDER BY j) AS codes FROM renc GROUP BY vec_id
),
bcap AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY cell
                              ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                       vec_id) AS rn
    FROM assigned) t WHERE rn <= {Q181_B_CELL_CAP}
),
psims AS (
  SELECT
    CASE WHEN sqrt(list_dot_product(b.v, b.v)) * sqrt({raw_r2}) = 0
         THEN 0.0
         ELSE ROUND((
      {raw_dot}
    ) / (sqrt(list_dot_product(b.v, b.v)) * sqrt({raw_r2})), 6) END AS sraw,
    CASE WHEN sqrt(list_dot_product(b.v, b.v)) * sqrt({res_r2}) = 0
         THEN 0.0
         ELSE ROUND((
      {res_dot}
    ) / (sqrt(list_dot_product(b.v, b.v)) * sqrt({res_r2})), 6) END AS sres
  FROM assigned a
  JOIN bcap b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN araw ar ON ar.vec_id = a.vec_id
  JOIN ares ac ON ac.vec_id = a.vec_id
  JOIN cents c ON c.cell = a.cell
  CROSS JOIN rl
)
SELECT t.threshold,
       (SELECT COUNT(*) FROM psims) AS n_pairs,
       CAST(COALESCE(SUM(CASE WHEN sraw >= t.threshold THEN 1 ELSE 0 END),
                     0) AS BIGINT) AS n_raw_fire,
       CAST(COALESCE(SUM(CASE WHEN sres >= t.threshold THEN 1 ELSE 0 END),
                     0) AS BIGINT) AS n_res_fire,
       CAST(COALESCE(SUM(CASE WHEN sraw >= t.threshold
                              AND sres >= t.threshold
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both_fire
FROM (VALUES {tvals}) t(threshold)
LEFT JOIN psims ON TRUE
GROUP BY t.threshold
ORDER BY t.threshold
"""


_Q181_SQL = _q181_sql()

# q183: per-cell residual distortion — the q177 machinery re-keyed on
# the assigned CELL and summed over subspaces per vector, onto a
# static 16-row spine. Mirrors pq_cell_distortion_report: nano-unit
# integer sums, mean = CAST(s AS DOUBLE)/n/1e9, 0.0 for empty cells.
_Q183_SQL = f"""
WITH {_pq_residual_ctes()},
md AS (
  SELECT vec_id, cell, j, MIN(dist) AS dist
  FROM rdists GROUP BY vec_id, cell, j
),
pv AS (
  SELECT vec_id, cell,
         CAST(SUM(CAST(ROUND(dist * 1e9) AS BIGINT)) AS BIGINT) AS dq
  FROM md GROUP BY vec_id, cell
),
pc AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dq) AS BIGINT) AS s
  FROM pv GROUP BY cell
)
SELECT CAST(t.r AS BIGINT) AS cell,
       COALESCE(pc.n, 0) AS n_vectors,
       COALESCE(pc.s, 0) AS sum_dist_q,
       CASE WHEN COALESCE(pc.n, 0) > 0
            THEN CAST(COALESCE(pc.s, 0) AS DOUBLE) / pc.n / 1e9
            ELSE 0.0 END AS mean_sq_dist
FROM range(16) t(r) LEFT JOIN pc ON pc.cell = t.r
ORDER BY cell
"""

_Q127_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS i
  FROM t WHERE len(toks) >= 4),
h AS (
  SELECT doc_id, i - 1 AS pos,
         CAST(concat('0x', substr(md5(
           array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 8))
           AS BIGINT) AS hh,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM g),
wmin AS (
  SELECT doc_id, pos, n_grams,
         MIN(hh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fingerprint
  FROM h),
fps AS (
  SELECT DISTINCT doc_id, fingerprint FROM wmin
  WHERE pos <= greatest(n_grams - 5, 0))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def _q128_sql() -> str:
    """Twin of q128 cluster-balanced sampling: the q43 centroid-literal
    IVF assignment + a per-cell md5-rank cap (hash family of
    hash_split/proportional_mix, salt 'cbs-42')."""
    cents = sim_ops.deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1),
r AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
           CAST(concat('0x', substr(md5(
             concat(CAST(vec_id AS VARCHAR), '|cbs-42')), 1, 8)) AS BIGINT)
             ASC,
           vec_id ASC) AS rn
  FROM assigned)
SELECT vec_id, cell, rn <= 8 AS is_kept FROM r
"""


_Q128_SQL = _q128_sql()

_Q129_SQL = f"""
WITH tok AS (
  SELECT source AS g, unnest({_DUCK_LTOKS}) AS token FROM documents),
counts AS (
  SELECT g, token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY g, token),
totals AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS total FROM counts GROUP BY g),
c AS (SELECT counts.g, token, cnt, total FROM counts JOIN totals USING (g)),
shared AS (
  SELECT a.g AS source_a, b.g AS source_b,
         CAST(ROUND((
             0.5 * (CAST(a.cnt AS DOUBLE) / a.total)
                 * log2((CAST(a.cnt AS DOUBLE) / a.total)
                        / (((CAST(a.cnt AS DOUBLE) / a.total)
                            + (CAST(b.cnt AS DOUBLE) / b.total)) / 2.0))
           + 0.5 * (CAST(b.cnt AS DOUBLE) / b.total)
                 * log2((CAST(b.cnt AS DOUBLE) / b.total)
                        / (((CAST(a.cnt AS DOUBLE) / a.total)
                            + (CAST(b.cnt AS DOUBLE) / b.total)) / 2.0))
           ) * 1000000000.0) AS BIGINT) AS jsd_q,
         CAST(ROUND((CAST(a.cnt AS DOUBLE) / a.total) * 1000000000.0)
              AS BIGINT) AS pa_q,
         CAST(ROUND((CAST(b.cnt AS DOUBLE) / b.total) * 1000000000.0)
              AS BIGINT) AS pb_q
  FROM c a JOIN c b ON a.token = b.token AND a.g < b.g)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_shared_tokens,
       (CAST(SUM(jsd_q) AS DOUBLE)
        + 0.5 * (2000000000.0 - SUM(pa_q) - SUM(pb_q))) / 1000000000.0
         AS jsd_bits
FROM shared GROUP BY source_a, source_b
"""


_Q130_SQL = f"""
WITH shd AS (
  SELECT doc_id AS id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
), sh AS (
  SELECT id, CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
             % {dedup_ops.MINHASH_PRIME} AS h
  FROM shd
), sig AS (
  SELECT id, [{_MINHASH_MINS}] AS sig
  FROM sh GROUP BY id
), banded AS (
  SELECT id, sig, bd, array_to_string(sig[(bd*4+1):(bd*4+4)], ',') AS bkey
  FROM sig, range(16) t(bd)
), cand AS (
  SELECT DISTINCT id_a, id_b, est_jaccard FROM (
    SELECT a.id AS id_a, b.id AS id_b,
      CAST(len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
        / 64.0 AS est_jaccard
    FROM banded a JOIN banded b
      ON a.bd = b.bd AND a.bkey = b.bkey AND a.id < b.id)
  WHERE est_jaccard >= 0.2
), sizes AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM shd GROUP BY id
), inter AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN shd a ON a.id = c.id_a
  JOIN shd b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b)
SELECT c.id_a, c.id_b, c.est_jaccard,
  CAST(COALESCE(n_inter, 0) AS DOUBLE)
    / (na.n + nb.n - COALESCE(n_inter, 0)) AS exact_jaccard,
  abs(c.est_jaccard - CAST(COALESCE(n_inter, 0) AS DOUBLE)
      / (na.n + nb.n - COALESCE(n_inter, 0))) AS abs_err
FROM cand c
LEFT JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
JOIN sizes na ON na.id = c.id_a
JOIN sizes nb ON nb.id = c.id_b
"""


_Q131_SQL = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c),
w AS (
  SELECT source, n_docs, n_total,
         CAST(ROUND(pow(CAST(n_docs AS DOUBLE) / n_total, 0.3)
              * 1000000000.0) AS BIGINT) AS w_q
  FROM c CROSS JOIN t),
s AS (SELECT CAST(SUM(w_q) AS BIGINT) AS sum_w FROM w)
SELECT source, n_docs,
  CAST(n_docs AS DOUBLE) / n_total AS p,
  CAST(w_q AS DOUBLE) / sum_w AS q,
  least(n_docs, (10000 * w_q) // sum_w) AS quota
FROM w CROSS JOIN s
"""


_Q132_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS ltoks FROM documents),
g AS (
  SELECT doc_id, {_DUCK_5GRAMS} AS grams FROM t),
ev_docs AS (
  SELECT doc_id AS eid, CAST(len(grams) AS BIGINT) AS n_grams
  FROM g WHERE doc_id % 20 = 0),
ev_g AS (
  SELECT doc_id AS eid, unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0),
tr_g AS (
  SELECT doc_id AS tid, unnest(grams) AS gram FROM g),
hits AS (
  SELECT DISTINCT eid, gram, tid FROM tr_g JOIN ev_g USING (gram)),
agg AS (
  SELECT eid, CAST(COUNT(DISTINCT gram) AS BIGINT) AS hit_grams,
         CAST(COUNT(DISTINCT tid) AS BIGINT) AS n_train_docs
  FROM hits GROUP BY eid)
SELECT eid AS doc_id, n_grams,
  COALESCE(hit_grams, 0) AS hit_grams,
  CASE WHEN n_grams > 0
       THEN CAST(COALESCE(hit_grams, 0) AS DOUBLE) / n_grams
       ELSE 0.0 END AS hit_frac,
  COALESCE(n_train_docs, 0) AS n_train_docs,
  COALESCE(hit_grams, 0) >= 1 AS compromised
FROM ev_docs LEFT JOIN agg USING (eid)
"""


def _q133_sql() -> str:
    """Twin of q133 stupid backoff: train slice doc_id % 20 <> 0, the
    same CASE priority as the Spark when-chain, and the backoff
    constants embedded via repr() of the SAME Python floats
    (0.4² = 0.16000000000000003 — the literal must match bit-for-bit)."""
    b1, b2, b3 = 0.4, 0.4 * 0.4, 0.4 ** 3
    return f"""
WITH base AS (
  SELECT doc_id, {_DUCK_LTOKS} AS ltoks FROM documents),
trn AS (SELECT ltoks FROM base WHERE doc_id % 20 <> 0),
uni AS (
  SELECT t AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(ltoks) AS t FROM trn) GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM uni),
big AS (
  SELECT g AS key, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(ltoks) - 1),
           i -> ltoks[i] || ' ' || ltoks[i + 1])) AS g FROM trn) GROUP BY g),
trig AS (
  SELECT g AS key, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(ltoks) - 2),
           i -> ltoks[i] || ' ' || ltoks[i + 1] || ' ' || ltoks[i + 2])) AS g
    FROM trn) GROUP BY g),
tri_t AS (
  SELECT trig.key AS k3, trig.cnt AS tri_cnt, big.cnt AS tri_ctx
  FROM trig JOIN big ON regexp_replace(trig.key, ' [^ ]+$', '') = big.key),
bi_t AS (
  SELECT big.key AS k2, big.cnt AS bi_cnt, uni.cnt AS bi_ctx
  FROM big JOIN uni ON split_part(big.key, ' ', 1) = uni.key),
uni_t AS (SELECT key AS k1, cnt AS uni_cnt FROM uni),
pos AS (
  SELECT doc_id,
    CASE WHEN i >= 3
         THEN ltoks[i-2] || ' ' || ltoks[i-1] || ' ' || ltoks[i] END AS k3,
    CASE WHEN i >= 2 THEN ltoks[i-1] || ' ' || ltoks[i] END AS k2,
    ltoks[i] AS k1
  FROM base, unnest(generate_series(1, len(ltoks))) AS u(i)),
scored AS (
  SELECT p.doc_id,
    CAST(ROUND(log10(CASE
      WHEN p.k3 IS NOT NULL AND t.tri_cnt IS NOT NULL
        THEN CAST(t.tri_cnt AS DOUBLE) / t.tri_ctx
      WHEN p.k3 IS NOT NULL AND b.bi_cnt IS NOT NULL
        THEN {b1!r} * (CAST(b.bi_cnt AS DOUBLE) / b.bi_ctx)
      WHEN p.k3 IS NOT NULL AND u.uni_cnt IS NOT NULL
        THEN {b2!r} * (CAST(u.uni_cnt AS DOUBLE) / n_total)
      WHEN p.k3 IS NOT NULL THEN {b3!r} / n_total
      WHEN p.k2 IS NOT NULL AND b.bi_cnt IS NOT NULL
        THEN CAST(b.bi_cnt AS DOUBLE) / b.bi_ctx
      WHEN p.k2 IS NOT NULL AND u.uni_cnt IS NOT NULL
        THEN {b1!r} * (CAST(u.uni_cnt AS DOUBLE) / n_total)
      WHEN p.k2 IS NOT NULL THEN {b2!r} / n_total
      WHEN u.uni_cnt IS NOT NULL THEN CAST(u.uni_cnt AS DOUBLE) / n_total
      ELSE {b1!r} / n_total END) * 1000000.0) AS BIGINT) AS q
  FROM pos p
  LEFT JOIN tri_t t ON p.k3 = t.k3
  LEFT JOIN bi_t b ON p.k2 = b.k2
  LEFT JOIN uni_t u ON p.k1 = u.k1
  CROSS JOIN tot),
agg AS (
  SELECT doc_id, CAST(COUNT(q) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(q), 0) AS BIGINT) AS sum_q
  FROM scored GROUP BY doc_id)
SELECT base.doc_id,
  COALESCE(n_tokens, 0) AS n_tokens,
  CASE WHEN COALESCE(n_tokens, 0) > 0
       THEN CAST(sum_q AS DOUBLE) / 1000000.0 / n_tokens
       ELSE 0.0 END AS mean_logp
FROM base LEFT JOIN agg USING (doc_id)
"""


_Q133_SQL = _q133_sql()


def _q134_sql() -> str:
    """Twin of q134 RRF hybrid retrieval: the q126 BM25 chain at k=20,
    the q28 cosine top-20, integer ranks, 1/(60+rank) terms summed in
    the (lex, sem) order, full-outer fusion."""
    terms = ", ".join(f"'{t}'" for t in Q126_BM25_TERMS)
    k1p1 = repr(Q126_BM25_K1 + 1.0)
    k1_1mb = repr(Q126_BM25_K1 * (1.0 - Q126_BM25_B))
    k1b = repr(Q126_BM25_K1 * Q126_BM25_B)
    return f"""
WITH base AS (
  SELECT doc_id AS id, {_DUCK_LTOKS} AS toks FROM documents),
b2 AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS dl,
         list_filter(toks, t -> list_contains([{terms}], t)) AS hits
  FROM base),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM b2),
tf AS (
  SELECT id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT id, dl, unnest(hits) AS term FROM b2) t
  GROUP BY id, dl, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term, n_docs, sum_dl,
         CAST(ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000.0)
              AS BIGINT) AS idf_q
  FROM dfreq CROSS JOIN stats),
scored AS (
  SELECT id,
         CAST(ROUND((CAST(idf_q AS DOUBLE) / 1000000.0) * (tf * {k1p1})
              / (tf + {k1_1mb} + {k1b} * CAST(dl * n_docs AS DOUBLE) / sum_dl)
              * 1000000.0) AS BIGINT) AS score_q
  FROM tf JOIN idf USING (term)),
lex AS (
  SELECT id AS doc_id, CAST(SUM(score_q) AS BIGINT) AS sum_q
  FROM scored GROUP BY id
  ORDER BY CAST(SUM(score_q) AS DOUBLE) / 1000000.0 DESC, id ASC LIMIT 20),
lex_r AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(sum_q AS DOUBLE) / 1000000.0 DESC, doc_id ASC)
           AS BIGINT) AS lex_rank
  FROM lex),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
sem AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
  FROM e CROSS JOIN q
  ORDER BY sim DESC, e.vec_id ASC LIMIT 20),
sem_r AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS BIGINT)
           AS sem_rank
  FROM sem)
SELECT COALESCE(lex_r.doc_id, sem_r.doc_id) AS doc_id,
       lex_rank, sem_rank,
       COALESCE(1.0 / (60 + lex_rank), 0.0)
         + COALESCE(1.0 / (60 + sem_rank), 0.0) AS rrf_score
FROM lex_r FULL OUTER JOIN sem_r ON lex_r.doc_id = sem_r.doc_id
ORDER BY rrf_score DESC, COALESCE(lex_r.doc_id, sem_r.doc_id) ASC LIMIT 10
"""


_Q134_SQL = _q134_sql()


def _q135_sql() -> str:
    """Twin of q135 IVF cell stats: q43 assignment + a full cell list
    from generate_series so empty cells survive."""
    cents = sim_ops.deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1),
counts AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM assigned GROUP BY cell),
tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total FROM counts),
cells AS (SELECT unnest(generate_series(0, 15)) AS cell)
SELECT CAST(cells.cell AS INTEGER) AS cell,
  COALESCE(n_vectors, 0) AS n_vectors,
  CAST(COALESCE(n_vectors, 0) AS DOUBLE) / n_total AS frac,
  CAST(COALESCE(n_vectors, 0) AS DOUBLE) * 16 / n_total AS load_factor
FROM cells LEFT JOIN counts ON cells.cell = counts.cell CROSS JOIN tot
"""


_Q135_SQL = _q135_sql()

_Q136_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({_DUCK_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents),
p AS (
  SELECT doc_id, lang, n_tokens,
         CAST(floor((running_total - n_tokens) / 256.0) AS BIGINT) AS pack_id
  FROM (
    SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_total
    FROM t))
SELECT lang, pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(SUM(n_tokens) AS DOUBLE) / 256.0 AS fill
FROM p GROUP BY lang, pack_id
"""


def _q137_sql() -> str:
    """Twin of q137 hard negatives: the q110 probe at k=6, self-match
    dropped then re-ranked to 5 positives, negatives by md5 rank over
    the anti-joined query×corpus pool (salt 'neg-42')."""
    cents = sim_ops.deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
qcells AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims WHERE vec_id % 100 = 0) t WHERE rn <= 4),
cand AS (
  SELECT q.qid, a.vec_id,
         ROUND(list_dot_product(a.v, q.qv) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
  FROM assigned a
  JOIN qcells qc ON a.cell = qc.cell
  JOIN q ON q.qid = qc.qid),
p1 AS (
  SELECT qid, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim DESC, vec_id ASC) AS rn
  FROM cand),
p2 AS (SELECT qid, vec_id, sim FROM p1 WHERE rn <= 6 AND vec_id <> qid),
p3 AS (
  SELECT qid, vec_id AS cand_id, sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim DESC, vec_id ASC) AS rn2
  FROM p2),
pos AS (SELECT qid, cand_id, sim, 1 AS label FROM p3 WHERE rn2 <= 5),
qb AS (
  SELECT vec_id AS qid,
         CAST(concat('0x', substr(md5(concat(
           CAST(vec_id AS VARCHAR), '|neg-42-q')), 1, 8)) AS BIGINT) % 8
           AS bkt
  FROM e WHERE vec_id % 100 = 0),
cb AS (
  SELECT vec_id AS cand_id,
         CAST(concat('0x', substr(md5(concat(
           CAST(vec_id AS VARCHAR), '|neg-42-c')), 1, 8)) AS BIGINT) % 8
           AS bkt
  FROM e),
pool AS (
  SELECT a.qid, a.cand_id FROM (
    SELECT qb.qid, cb.cand_id
    FROM qb JOIN cb ON qb.bkt = cb.bkt WHERE qb.qid <> cb.cand_id) a
  LEFT JOIN pos p ON p.qid = a.qid AND p.cand_id = a.cand_id
  WHERE p.qid IS NULL),
neg AS (
  SELECT qid, cand_id, CAST(NULL AS DOUBLE) AS sim, 0 AS label FROM (
    SELECT qid, cand_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
             CAST(concat('0x', substr(md5(concat(
               CAST(qid AS VARCHAR), '|', CAST(cand_id AS VARCHAR),
               '|neg-42')), 1, 8)) AS BIGINT) ASC,
             cand_id ASC) AS rn
    FROM pool) t WHERE rn <= 5)
SELECT qid, cand_id, sim, label FROM pos
UNION ALL SELECT qid, cand_id, sim, label FROM neg
"""


_Q137_SQL = _q137_sql()


_Q138_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_LTOKS} AS ltoks FROM documents),
c AS (
  SELECT doc_id, CAST(len(ltoks) AS BIGINT) AS n_tokens,
         list_transform(list_distinct(ltoks),
           t -> CAST(len(list_filter(ltoks, x -> x = t)) AS BIGINT)) AS cnts
  FROM t),
e AS (
  SELECT doc_id, n_tokens, CAST(len(cnts) AS BIGINT) AS n_distinct,
         list_sum(list_transform(cnts,
           c -> CAST(ROUND(-(CAST(c AS DOUBLE) / n_tokens)
                * log2(CAST(c AS DOUBLE) / n_tokens)
                * 1000000000.0) AS BIGINT))) AS ent_q
  FROM c)
SELECT doc_id, n_tokens, n_distinct,
  CASE WHEN n_tokens > 0 THEN CAST(ent_q AS DOUBLE) / 1000000000.0
       ELSE 0.0 END AS entropy_bits,
  CASE WHEN n_tokens > 1 AND n_distinct > 1
       THEN ROUND((CAST(ent_q AS DOUBLE) / 1000000000.0)
            / log2(CAST(n_tokens AS DOUBLE)) * 1000000000.0) / 1000000000.0
       ELSE 0.0 END AS norm_entropy
FROM e
"""

_Q139_SQL = f"""
WITH sh AS (
  SELECT g, CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
            % {dedup_ops.MINHASH_PRIME} AS h
  FROM (SELECT source AS g, unnest({_DUCK_SHINGLES}) AS shingle
        FROM documents)),
sig AS (
  SELECT g, [{_MINHASH_MINS}] AS sig FROM sh GROUP BY g),
posed AS (
  SELECT g, i - 1 AS i, sig[i] AS m
  FROM sig, unnest(generate_series(1, 64)) AS t(i))
SELECT a.g AS source_a, b.g AS source_b,
  CAST(COUNT(*) AS BIGINT) AS n_matching,
  COUNT(*) / 64.0 AS est_jaccard
FROM posed a JOIN posed b
  ON a.i = b.i AND a.m = b.m AND a.g < b.g
GROUP BY 1, 2
"""


_Q140_SQL = f"""
WITH t AS (
  SELECT doc_id, source, {_DUCK_LTOKS} AS ltoks FROM documents),
model AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(ltoks) AS token FROM t
    WHERE source IN ('src0', 'src1', 'src2')) GROUP BY token),
stats AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS v_size FROM model),
mq AS (
  SELECT token,
         CAST(ROUND(log10(CAST(cnt + 1 AS DOUBLE) / (n_total + v_size + 1))
              * 1000000.0) AS BIGINT) AS logp_q
  FROM model CROSS JOIN stats),
tok AS (SELECT doc_id, unnest(ltoks) AS token FROM t),
scored AS (
  SELECT doc_id,
         COALESCE(mq.logp_q,
           CAST(ROUND(log10(1.0 / (stats.n_total + stats.v_size + 1))
                * 1000000.0) AS BIGINT)) AS q
  FROM tok LEFT JOIN mq USING (token) CROSS JOIN stats),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(q) AS BIGINT) AS sum_q
  FROM scored GROUP BY doc_id)
SELECT t.doc_id,
  COALESCE(n_tokens, 0) AS n_tokens,
  CASE WHEN COALESCE(n_tokens, 0) > 0
       THEN CAST(sum_q AS DOUBLE) / 1000000.0 / n_tokens
       ELSE 0.0 END AS mean_logp
FROM t LEFT JOIN agg USING (doc_id)
"""


# q144: language-conditional quality gate. Threshold CASEs are
# GENERATED from the same text_ops.GOPHER_LANG_PROFILES dict the Spark
# operator reads, so the two sides cannot drift.
_Q144_DEFAULTS = {
    "min_tokens": 30, "max_tokens": 50_000,
    "min_avg_token_len": 2.0, "max_avg_token_len": 10.0,
    "min_stopword_ratio": 0.01, "min_distinct_ratio": 0.30,
    "max_top_token_share": 0.20,
}


def _lang_thr_case(name: str) -> str:
    default = _Q144_DEFAULTS[name]
    branches = " ".join(
        f"WHEN lang_pred = '{lang}' THEN {prof.get(name, default)}"
        for lang, prof in sorted(text_ops.GOPHER_LANG_PROFILES.items())
    )
    return f"(CASE {branches} ELSE {default} END)"


_DUCK_LANG_CASE = """
  CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %'
         OR ' ' || lower(text) || ' ' LIKE '% and %'
         OR ' ' || lower(text) || ' ' LIKE '% a %' THEN 'en'
       WHEN ' ' || lower(text) || ' ' LIKE '% der %'
         OR ' ' || lower(text) || ' ' LIKE '% und %'
         OR ' ' || lower(text) || ' ' LIKE '% die %' THEN 'de'
       WHEN ' ' || lower(text) || ' ' LIKE '% le %'
         OR ' ' || lower(text) || ' ' LIKE '% et %'
         OR ' ' || lower(text) || ' ' LIKE '% la %' THEN 'fr'
       WHEN ' ' || lower(text) || ' ' LIKE '% el %'
         OR ' ' || lower(text) || ' ' LIKE '% y %'
         OR ' ' || lower(text) || ' ' LIKE '% de %' THEN 'es'
       ELSE 'und' END
"""

_Q144_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {_DUCK_LANG_CASE} AS lang_pred,
         {_DUCK_TOKENS.format(col='text')} AS toks,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
s AS (
  SELECT doc_id, lang_pred,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_filter(ltoks, t -> t IN ('the', 'a', 'and', 'of', 'to')))
           AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS stopword_frac,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS distinct_ratio,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(list_max(list_transform(list_distinct(ltoks),
             u -> len(list_filter(ltoks, x -> x = u)))) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS top_token_frac
  FROM t)
SELECT doc_id, lang_pred, n_tokens, mean_token_len, stopword_frac,
  distinct_ratio, top_token_frac,
  CAST(n_tokens >= {_lang_thr_case('min_tokens')}
    AND n_tokens <= {_lang_thr_case('max_tokens')}
    AND mean_token_len >= {_lang_thr_case('min_avg_token_len')}
    AND mean_token_len <= {_lang_thr_case('max_avg_token_len')}
    AND stopword_frac >= {_lang_thr_case('min_stopword_ratio')}
    AND distinct_ratio >= {_lang_thr_case('min_distinct_ratio')}
    AND top_token_frac <= {_lang_thr_case('max_top_token_share')}
    AS BIGINT) AS keep
FROM s
"""


# q141/q142/q146: substring-level duplicate-span detection + excision
# (Lee et al. 2021 exact-substring dedup as k-gram matches). The span
# CTE chain mirrors text.duplicate_spans step for step: positional
# k-grams -> duplicate-evidence positions (cross-doc: grams keep
# MIN(doc_id); within-doc: an earlier same-gram position exists) ->
# gaps-and-islands interval merge -> spans of >= min_len tokens.


def _duck_span_ctes(k: int, scope: str) -> str:
    if scope == "cross_doc":
        hits = """dup AS (
  SELECT gram, MIN(doc_id) AS keeper
  FROM g GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
  WHERE g.doc_id <> dup.keeper)"""
    else:
        hits = """hits AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           MIN(pos) OVER (PARTITION BY doc_id, gram) AS first_pos
    FROM g)
  WHERE pos > first_pos)"""
    return f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS toks FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {k - 1}), ' ') AS gram
  FROM t, unnest(generate_series(1, len(toks) - {k - 1})) AS s(i)),
{hits},
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {k}
              THEN 1 ELSE 0 END AS b
  FROM hits),
isl AS (
  SELECT doc_id, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM brk)
"""


def _duck_span_select(k: int, min_len: int) -> str:
    return f"""
SELECT doc_id,
  CAST(MIN(pos) AS BIGINT) AS span_start,
  CAST(MAX(pos) + {k - 1} AS BIGINT) AS span_end,
  CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, grp
HAVING MAX(pos) - MIN(pos) + {k} >= {min_len}
"""


def _duck_excision_tail(k: int, min_len: int) -> str:
    return f""",
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end
  FROM isl GROUP BY doc_id, grp
  HAVING MAX(pos) - MIN(pos) + {k} >= {min_len}),
tok AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS tok, len(toks) AS n
  FROM t, unnest(generate_series(1, len(toks))) AS s(i)),
removed AS (
  SELECT DISTINCT tk.doc_id, tk.pos
  FROM tok tk JOIN spans sp
    ON tk.doc_id = sp.doc_id AND tk.pos BETWEEN sp.span_start AND sp.span_end),
keptagg AS (
  SELECT tk.doc_id,
    COALESCE(array_to_string(
      list(tk.tok ORDER BY tk.pos) FILTER (WHERE rm.pos IS NULL), ' '),
      '') AS clean_text,
    CAST(any_value(tk.n) AS BIGINT) AS n_tokens,
    CAST(COUNT(rm.pos) AS BIGINT) AS n_removed
  FROM tok tk
  LEFT JOIN removed rm ON rm.doc_id = tk.doc_id AND rm.pos = tk.pos
  GROUP BY tk.doc_id)
SELECT d.doc_id, COALESCE(ka.clean_text, '') AS clean_text,
  CAST(COALESCE(ka.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(ka.n_removed, 0) AS BIGINT) AS n_removed
FROM t d LEFT JOIN keptagg ka USING (doc_id)
"""


_Q141_SQL = _duck_span_ctes(5, "cross_doc") + _duck_span_select(5, 10)
_Q142_SQL = _duck_span_ctes(5, "cross_doc") + _duck_excision_tail(5, 10)
_Q146_SQL = _duck_span_ctes(2, "within_doc") + _duck_excision_tail(2, 4)
# q154: the tokens_col (pre-tokenized array) span path. The SQL spec is
# tokenization-source-independent — the whitespace tokenization feeds
# the array column, so the twin is the q141 CTE chain at 3/6 geometry.
_Q154_SQL = _duck_span_ctes(3, "cross_doc") + _duck_span_select(3, 6)


def _span_excision_block(
    src: str, text_expr: str, k: int, min_len: int, scope: str, s: str
) -> str:
    """Suffixed CTE block (``t{s}`` … ``res{s}``) running one full
    span-excision stage over ``src``(doc_id, {text_expr}) — lets q151
    CHAIN two stages in a single statement without name clashes."""
    if scope == "cross_doc":
        hits = f"""dup{s} AS (
  SELECT gram, MIN(doc_id) AS keeper
  FROM g{s} GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
hits{s} AS (
  SELECT g{s}.doc_id, g{s}.pos FROM g{s} JOIN dup{s} USING (gram)
  WHERE g{s}.doc_id <> dup{s}.keeper)"""
    else:
        hits = f"""hits{s} AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           MIN(pos) OVER (PARTITION BY doc_id, gram) AS first_pos
    FROM g{s})
  WHERE pos > first_pos)"""
    return f"""t{s} AS (
  SELECT doc_id, {_DUCK_TOKENS.format(col=text_expr)} AS toks FROM {src}),
g{s} AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {k - 1}), ' ') AS gram
  FROM t{s}, unnest(generate_series(1, len(toks) - {k - 1})) AS q(i)),
{hits},
brk{s} AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {k}
              THEN 1 ELSE 0 END AS b
  FROM hits{s}),
isl{s} AS (
  SELECT doc_id, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM brk{s}),
spans{s} AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end
  FROM isl{s} GROUP BY doc_id, grp
  HAVING MAX(pos) - MIN(pos) + {k} >= {min_len}),
tok{s} AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS tok, len(toks) AS n
  FROM t{s}, unnest(generate_series(1, len(toks))) AS q(i)),
removed{s} AS (
  SELECT DISTINCT tk.doc_id, tk.pos
  FROM tok{s} tk JOIN spans{s} sp
    ON tk.doc_id = sp.doc_id AND tk.pos BETWEEN sp.span_start AND sp.span_end),
keptagg{s} AS (
  SELECT tk.doc_id,
    COALESCE(array_to_string(
      list(tk.tok ORDER BY tk.pos) FILTER (WHERE rm.pos IS NULL), ' '),
      '') AS clean_text,
    CAST(any_value(tk.n) AS BIGINT) AS n_tokens,
    CAST(COUNT(rm.pos) AS BIGINT) AS n_removed
  FROM tok{s} tk
  LEFT JOIN removed{s} rm ON rm.doc_id = tk.doc_id AND rm.pos = tk.pos
  GROUP BY tk.doc_id),
res{s} AS (
  SELECT d.doc_id, COALESCE(ka.clean_text, '') AS clean_text,
    CAST(COALESCE(ka.n_tokens, 0) AS BIGINT) AS n_tokens,
    CAST(COALESCE(ka.n_removed, 0) AS BIGINT) AS n_removed
  FROM t{s} d LEFT JOIN keptagg{s} ka USING (doc_id))"""


# q151: the two excision scopes CHAINED — cross-document span dedup
# first, then within-document repeat excision over the already-cleaned
# text; the full "clean corpus" token accounting as one statement.
_Q151_SQL = f"""
WITH
{_span_excision_block('documents', 'text', 5, 10, 'cross_doc', '_a')},
{_span_excision_block('res_a', 'clean_text', 2, 4, 'within_doc', '_b')}
SELECT a.doc_id,
  a.n_tokens AS n_tokens_orig,
  a.n_removed AS n_cross_removed,
  b.n_removed AS n_within_removed,
  CAST(b.n_tokens - b.n_removed AS BIGINT) AS n_tokens_final
FROM res_a a JOIN res_b b USING (doc_id)
"""


def _q156_sql() -> str:
    """Twin of q156 — the full production pipeline composed from the
    already-graded blocks: the q108 quality+decontam CTEs, the q141
    span-excision block (suffixed builder), the q112 SemDeDup
    assignment/removal, the q115 mix rank, the q113 pack window, and
    the q118 shard hashes, in one statement."""
    cents = sim_ops.deterministic_ivf_centroids(dim=64, n_cells=16)
    cvalues = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    wvalues = ", ".join(
        f"('{s}', {w})" for s, w in sorted(Q115_MIX_WEIGHTS.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, text, lang, source,
         {_DUCK_TOKENS.format(col='text')} AS toks,
         {_DUCK_LTOKS} AS ltoks
  FROM documents),
s AS (
  SELECT doc_id, text, lang, source, ltoks,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_filter(ltoks, t -> t IN ('the', 'a', 'and', 'of', 'to')))
           AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS stopword_frac,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(len(list_distinct(ltoks)) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS distinct_ratio,
    CASE WHEN len(ltoks) > 0 THEN
      CAST(list_max(list_transform(list_distinct(ltoks),
             u -> len(list_filter(ltoks, x -> x = u)))) AS DOUBLE) / len(ltoks)
    ELSE 0.0 END AS top_token_frac
  FROM t),
q AS (
  SELECT doc_id, text, lang, source FROM s
  WHERE n_tokens BETWEEN 30 AND 50000
    AND mean_token_len BETWEEN 2.0 AND 10.0
    AND stopword_frac >= 0.01
    AND distinct_ratio >= 0.30
    AND top_token_frac <= 0.20),
tg AS (
  SELECT doc_id, {_DUCK_5GRAMS} AS grams FROM t),
ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM tg WHERE doc_id % 20 = 0),
hits AS (
  SELECT x.doc_id, COUNT(*) AS h
  FROM (SELECT doc_id, unnest(grams) AS gram FROM tg
        WHERE doc_id IN (SELECT doc_id FROM q)) x
  JOIN ev USING (gram) GROUP BY x.doc_id),
clean AS (
  SELECT q.doc_id, q.text, q.lang, q.source
  FROM q LEFT JOIN hits USING (doc_id)
  WHERE COALESCE(h, 0) = 0),
{_span_excision_block('clean', 'text', 5, 10, 'cross_doc', '_x')},
cents(cell, c) AS (VALUES {cvalues}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) z WHERE rn = 1),
removed AS (
  SELECT DISTINCT b.vec_id AS id_b
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3),
pruned AS (
  SELECT c.doc_id, c.lang, c.source,
         CAST(r.n_tokens - r.n_removed AS BIGINT) AS n_tokens
  FROM clean c JOIN res_x r ON c.doc_id = r.doc_id
  WHERE c.doc_id NOT IN (SELECT id_b FROM removed)),
w(src, wgt) AS (VALUES {wvalues}),
d AS (
  SELECT doc_id, lang, source, n_tokens, wgt
  FROM pruned JOIN w ON source = w.src),
sc AS (
  SELECT MIN(CAST(floor(CAST(n AS DOUBLE) / wgt) AS BIGINT)) AS scale
  FROM (SELECT source, wgt, COUNT(*) AS n FROM d GROUP BY source, wgt) x),
rmix AS (
  SELECT doc_id, lang, n_tokens, wgt,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(
                      concat(CAST(doc_id AS VARCHAR), '|mix-42')), 1, 8))
                    AS BIGINT) ASC, doc_id ASC) AS rn
  FROM d),
mixed AS (
  SELECT doc_id, lang, n_tokens
  FROM rmix CROSS JOIN sc WHERE rn <= wgt * scale),
packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS running_total
  FROM mixed),
sh AS (
  SELECT doc_id, lang, n_tokens,
         CAST(floor((running_total - n_tokens) / 256.0) AS BIGINT) AS pack_id,
         CAST(concat('0x', substr(md5(
              CAST(doc_id AS VARCHAR) || '|' || 'shard-42'), 1, 8))
           AS BIGINT) % 8 AS shard,
         CAST(concat('0x', substr(md5(
              CAST(doc_id AS VARCHAR) || '|' || 'shard-42' || '|' || 'order'),
              1, 8)) AS BIGINT) AS ok
  FROM packed)
SELECT doc_id, lang, n_tokens, pack_id, CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY ok ASC, doc_id ASC) AS BIGINT) AS pos
FROM sh
"""


_Q156_SQL = _q156_sql()


def _q157_sql() -> str:
    """Twin of q157: the q110 IVF probe machinery swept over probe
    budgets nprobe ∈ {1,2,4} and graded against the exact brute-force
    top-10 — the measured recall↔nprobe curve. The budget fan-out is a
    literal (nprobe, cell_rank) table so each candidate row joins every
    budget whose probe depth reaches its cell's rank; recall is one
    BIGINT/BIGINT IEEE division, identical in both engines."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    budget_rows = ", ".join(
        f"({n}, {r})" for n in (1, 2, 4) for r in range(1, n + 1)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
qcells AS (
  SELECT qid, cell, CAST(rn AS INTEGER) AS cell_rank FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims WHERE vec_id % 100 = 0) t WHERE rn <= 4
),
cand AS (
  SELECT qc.qid, a.vec_id, qc.cell_rank,
         ROUND(list_dot_product(a.v, q.qv) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
  FROM assigned a
  JOIN qcells qc ON a.cell = qc.cell
  JOIN q ON q.qid = qc.qid
),
budgets(nprobe, cell_rank) AS (VALUES {budget_rows}),
ranked AS (
  SELECT nprobe, qid, vec_id FROM (
    SELECT b.nprobe, c.qid, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY b.nprobe, c.qid
                              ORDER BY c.sim DESC, c.vec_id ASC) AS rn
    FROM cand c JOIN budgets b ON c.cell_rank = b.cell_rank) t
  WHERE rn <= 10
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             ROUND(list_dot_product(e.v, q.qv) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
             e.vec_id ASC) AS rn
    FROM e CROSS JOIN q) t WHERE rn <= 10
)
SELECT CAST(r.nprobe AS BIGINT) AS nprobe,
       CAST(COUNT(DISTINCT r.qid) AS BIGINT) AS n_queries,
       CAST(COUNT(x.qid) AS BIGINT) AS n_hits,
       CAST(COUNT(x.qid) AS BIGINT) /
         (CAST(COUNT(DISTINCT r.qid) AS BIGINT) * 10) AS recall
FROM ranked r
LEFT JOIN exact x ON r.qid = x.qid AND r.vec_id = x.vec_id
GROUP BY r.nprobe
"""


_Q157_SQL = _q157_sql()


def _q147_sql() -> str:
    """Twin of q147: the q43 deterministic assignment (rounded argmax
    cosine, ASC cell ties) followed by the q92 quantized-integer mean
    per (cell, dimension)."""
    from ..operators.similarity import deterministic_ivf_centroids

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    values = ", ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, e.v, cents.cell,
         ROUND(list_dot_product(e.v, cents.c) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(cents.c, cents.c))), 6) AS csim
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sims) t WHERE rn = 1
)
SELECT CAST(cell AS BIGINT) AS cell, CAST(g.pos AS BIGINT) AS pos,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  CAST(SUM(CAST(ROUND(v[g.pos] * 1000000) AS BIGINT)) AS BIGINT)
    / (COUNT(*) * 1000000.0) AS centroid_val
FROM assigned CROSS JOIN generate_series(1, 64) AS g(pos)
GROUP BY cell, g.pos
"""


_Q147_SQL = _q147_sql()


def _q155_sql() -> str:
    """Twin of q155 (similarity.ivf_recenter_loop, 2 iterations):
    centroids as integer micro-unit tables, dot products and norms as
    sums of per-coordinate ROUND(x·c·10¹²) BIGINT terms (commutative —
    identical under any grouping order, which is what licenses the
    relational GROUP BY here vs Spark's fixed-order zip_with fold),
    6-digit cosine, argmax assignment with ASC cell ties, inertia
    Σ ROUND((1−csim)·10⁶), and mean-recentred integer centroids with
    empty cells keeping their previous coordinates."""
    from ..operators.similarity import deterministic_ivf_centroids

    dim, n_cells = 64, 16
    cents = deterministic_ivf_centroids(dim=dim, n_cells=n_cells)
    c1q = [[int(round(x * 1_000_000)) for x in c] for c in cents]
    values = ", ".join(
        f"({i}, CAST([{', '.join(str(q) for q in c)}] AS BIGINT[]))"
        for i, c in enumerate(c1q)
    )

    def iter_block(s: int, cent: str) -> str:
        return f"""nc{s} AS (
  SELECT cell,
         SUM(CAST(ROUND((cq/1000000.0)*(cq/1000000.0)*1000000000000)
             AS BIGINT)) AS nc_q
  FROM {cent} GROUP BY cell),
dot{s} AS (
  SELECT ex.id, c.cell,
         SUM(CAST(ROUND(ex.x * (c.cq/1000000.0) * 1000000000000)
             AS BIGINT)) AS dot_q
  FROM ex JOIN {cent} c ON ex.pos = c.pos
  GROUP BY ex.id, c.cell),
sim{s} AS (
  SELECT d.id, d.cell,
         ROUND((CAST(d.dot_q AS DOUBLE)/1000000000000) /
               (sqrt(CAST(nv.nv_q AS DOUBLE)/1000000000000) *
                sqrt(CAST(n.nc_q AS DOUBLE)/1000000000000)), 6) AS csim
  FROM dot{s} d JOIN nv ON d.id = nv.id JOIN nc{s} n ON d.cell = n.cell),
a{s} AS (
  SELECT id, cell, csim FROM (
    SELECT id, cell, csim,
           ROW_NUMBER() OVER (PARTITION BY id
                              ORDER BY csim DESC, cell ASC) AS rn
    FROM sim{s}) t WHERE rn = 1),
r{s} AS (
  SELECT CAST({s} AS BIGINT) AS iter, CAST(cell AS BIGINT) AS cell,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(CAST(ROUND((1 - csim) * 1000000) AS BIGINT)) AS BIGINT)
           AS inertia_q
  FROM a{s} GROUP BY cell)"""

    return f"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (
  SELECT id, g.pos AS pos, v[g.pos] AS x
  FROM e, generate_series(1, {dim}) AS g(pos)),
nv AS (
  SELECT id, SUM(CAST(ROUND(x*x*1000000000000) AS BIGINT)) AS nv_q
  FROM ex GROUP BY id),
c1r(cell, carr) AS (VALUES {values}),
c1 AS (
  SELECT cell, g.pos AS pos, carr[g.pos] AS cq
  FROM c1r, generate_series(1, {dim}) AS g(pos)),
{iter_block(1, 'c1')},
c2n AS (
  SELECT a1.cell, ex.pos,
         CAST(ROUND(CAST(SUM(CAST(ROUND(ex.x * 1000000) AS BIGINT))
                         AS DOUBLE)/COUNT(*)) AS BIGINT) AS cq
  FROM a1 JOIN ex ON a1.id = ex.id GROUP BY a1.cell, ex.pos),
c2 AS (
  SELECT c1.cell, c1.pos, COALESCE(c2n.cq, c1.cq) AS cq
  FROM c1 LEFT JOIN c2n ON c1.cell = c2n.cell AND c1.pos = c2n.pos),
{iter_block(2, 'c2')}
SELECT * FROM r1 UNION ALL SELECT * FROM r2
"""


_Q155_SQL = _q155_sql()

# q149: gap-filled forward-fill resampling. Events and hourly grid
# points merge into one per-user stream; last_value IGNORE NULLS over
# (ts, events-before-grid-at-ties, event_id) fills forward. The grid
# tiebreak (-1) mirrors the Spark operator exactly.
_Q149_SQL = """
WITH e AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS value, event_id
  FROM events WHERE user_id % 10 = 0),
b AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS lo,
         date_trunc('hour', MAX(ts)) AS hi
  FROM e GROUP BY user_id),
g AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ots
  FROM b),
u AS (
  SELECT user_id, ts AS ots, value, event_id AS tie, 1 AS is_evt FROM e
  UNION ALL
  SELECT user_id, ots, NULL, -1, 0 FROM g),
f AS (
  SELECT user_id, ots, is_evt,
    LAST_VALUE(value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ots ASC, is_evt DESC, tie ASC
      ROWS UNBOUNDED PRECEDING) AS value_ff
  FROM u)
SELECT user_id, CAST(floor(epoch(ots)) AS BIGINT) AS hour_ts, value_ff
FROM f WHERE is_evt = 0
"""


# q150: linear-interpolation resampling — the q149 union-stream with a
# second (current-row -> following) frame over the same ordering;
# neighbour instants are microsecond-exact BIGINTs, the interpolation
# is the identical IEEE expression on both engines.
_Q150_SQL = """
WITH e AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS value, event_id
  FROM events WHERE user_id % 10 = 0),
b AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS lo,
         date_trunc('hour', MAX(ts)) AS hi
  FROM e GROUP BY user_id),
g AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ots
  FROM b),
u AS (
  SELECT user_id, ts AS ots, value, event_id AS tie, 1 AS is_evt FROM e
  UNION ALL
  SELECT user_id, ots, NULL, -1, 0 FROM g),
f AS (
  SELECT user_id, ots, is_evt,
    LAST_VALUE(value IGNORE NULLS) OVER wback AS pv,
    LAST_VALUE(CASE WHEN is_evt = 1 THEN epoch_us(ots) END IGNORE NULLS)
      OVER wback AS pt,
    FIRST_VALUE(value IGNORE NULLS) OVER wfwd AS nv,
    FIRST_VALUE(CASE WHEN is_evt = 1 THEN epoch_us(ots) END IGNORE NULLS)
      OVER wfwd AS nt
  FROM u
  WINDOW
    wback AS (PARTITION BY user_id ORDER BY ots ASC, is_evt DESC, tie ASC
              ROWS UNBOUNDED PRECEDING),
    wfwd AS (PARTITION BY user_id ORDER BY ots ASC, is_evt DESC, tie ASC
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, CAST(floor(epoch(ots)) AS BIGINT) AS hour_ts,
  CASE WHEN pv IS NULL THEN NULL
       WHEN nv IS NULL THEN pv
       WHEN nt = pt THEN pv
       ELSE pv + (nv - pv) * (CAST(epoch_us(ots) - pt AS DOUBLE)
                              / CAST(nt - pt AS DOUBLE))
  END AS value_interp
FROM f WHERE is_evt = 0
"""


# q148: video frame-sampling plan. attach_binary_payload assigns
# modality round-robin (doc_id % 3 == 2 -> video); sample_frames emits
# one row per 1000ms step over the default 5000ms duration.
_Q148_SQL = """
SELECT doc_id AS media_id, CAST(ts AS BIGINT) AS frame_ts_ms
FROM documents, unnest(generate_series(0, 5000, 1000)) t(ts)
WHERE doc_id % 3 = 2
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": _Q01_SQL,
        "q02_top_revenue_orders": _Q02_SQL,
        "q03_segment_stats": _Q03_SQL,
        "q04_region_rollup": _Q04_SQL,
        "q05_priority_with_shipped": _Q05_SQL,
        "q06_customers_without_orders": _Q06_SQL,
        "q07_ratio_features": _Q07_SQL,
        "q08_time_features": _Q08_SQL,
        "q09_interactions": _Q09_SQL,
        "q10_lag_features": _Q10_SQL,
        "q11_rolling_features": _Q11_SQL,
        "q12_agg_join_back": _Q12_SQL,
        "q13_freq_encode": _Q13_SQL,
        "q14_target_encode": _Q14_SQL,
        "q15_zscore_outliers": _Q15_SQL,
        "q16_rollup_orders": _Q16_SQL,
        "q17_cube_lineitem": _Q17_SQL,
        "q18_monthly_orders": _Q18_SQL,
        "q19_distinct_counts": _Q19_SQL,
        "q20_setop_union": _Q20_SQL,
        "q21_setop_except": _Q21_SQL,
        "q22_json_extract": _Q22_SQL,
        "q23_top3_per_type": _Q23_SQL,
        "q24_text_stats": _Q24_SQL,
        "q25_duplicate_groups": _Q25_SQL,
        "q26_exact_dedup_count": _Q26_SQL,
        "q27_jaccard_pairs": _Q27_SQL,
        "q28_embedding_topk": _Q28_SQL,
        "q29_events_hourly": _Q29_SQL,
        "q30_sessionize": _Q30_SQL,
        "q31_asof_join": _Q31_SQL,
        "q32_range_join": _Q32_SQL,
        "q33_region_supplier_revenue": _Q33_SQL,
        "q34_returned_top_customers": _Q34_SQL,
        "q35_brand_revenue": _Q35_SQL,
        "q36_supplier_nation_yearly": _Q36_SQL,
        "q37_approx_distinct": _Q37_SQL,
        "q38_knn_join": _Q38_SQL,
        "q39_small_quantity_revenue": _Q39_SQL,
        "q53_time_range_rolling": _Q53_SQL,
        "q54_shipping_priority": _Q54_SQL,
        "q55_market_share": _Q55_SQL,
        "q56_late_shipments": _Q56_SQL,
        "q57_embedding_near_dup": _Q57_SQL,
        "q58_token_fingerprints": _Q58_SQL,
        "q60_event_percentiles": _Q60_SQL,
        "q61_order_priority_check": _Q61_SQL,
        "q62_volume_shipping": _Q62_SQL,
        "q63_customer_order_distribution": _Q63_SQL,
        "q64_promo_revenue": _Q64_SQL,
        "q65_large_volume_orders": _Q65_SQL,
        "q66_disjunctive_revenue": _Q66_SQL,
        "q67_sole_latest_shipper": _Q67_SQL,
        "q68_rich_quiet_customers": _Q68_SQL,
        "q70_minhash_oracle_pairs": _Q70_SQL,
        "q71_simhash_oracle_pairs": _Q71_SQL,
        "q42_lsh_embedding_pairs": _Q42_SQL,
        "q43_ivf_topk": _Q43_SQL,
        "q45_quality_scores": _Q45_SQL,
        "q46_random_split": _Q46_SQL,
        "q74_forecast_revenue_change": _Q74_SQL,
        "q75_top_supplier": _Q75_SQL,
        "q76_rank_suite": _Q76_SQL,
        "q77_grouping_sets": _Q77_SQL,
        "q78_vector_stats": _Q78_SQL,
        "q79_min_cost_supplier": _Q79_SQL,
        "q80_important_parts": _Q80_SQL,
        "q81_supplier_part_counts": _Q81_SQL,
        "q82_surging_suppliers": _Q82_SQL,
        "q83_dedup_components": _Q83_SQL,
        "q84_string_suite": _Q84_SQL,
        "q85_date_suite": _Q85_SQL,
        "q86_class_rebalance": _Q86_SQL,
        "q87_pivot_returnflag": _Q87_SQL,
        "q88_unpivot_part": _Q88_SQL,
        "q89_value_windows": _Q89_SQL,
        "q90_json_struct_agg": _Q90_SQL,
        "q91_tfidf_terms": _Q91_SQL,
        "q92_lang_centroids": _Q92_SQL,
        "q93_value_histogram": _Q93_SQL,
        "q94_quantity_price_stats": _Q94_SQL,
        "q95_components_alternating": _Q95_SQL,
        "q96_event_funnel": _Q96_SQL,
        "q97_cohort_retention": _Q97_SQL,
        "q98_embedding_coverage": _Q98_SQL,
        "q99_event_type_map": _Q99_SQL,
        "q100_pii_scrub": _Q100_SQL,
        "q101_token_chunks": _Q101_SQL,
        "q102_token_budget_sample": _Q102_SQL,
        "q103_quality_rules": _Q103_SQL,
        "q104_ngram_repetition": _Q104_SQL,
        "q105_decontamination": _Q105_SQL,
        "q106_unigram_loglik": _Q106_SQL,
        "q107_corpus_quality_report": _Q107_SQL,
        "q108_corpus_pipeline": _Q108_SQL,
        "q109_vocabulary": _Q109_SQL,
        "q110_ivf_knn_join": _Q110_SQL,
        "q111_lsh_multitable_pairs": _Q111_SQL,
        "q112_semdedup": _Q112_SQL,
        "q113_sequence_packing": _Q113_SQL,
        "q114_chunk_dedup": _Q114_SQL,
        "q115_source_mix": _Q115_SQL,
        "q116_training_mix": _Q116_SQL,
        "q117_canonical_docs": _Q117_SQL,
        "q118_shard_export": _Q118_SQL,
        "q119_dsir_importance": _Q119_SQL,
        "q120_quantization_report": _Q120_SQL,
        "q121_curriculum_tiers": _Q121_SQL,
        "q122_quantized_topk": _Q122_SQL,
        "q123_bpe_pair_counts": _Q123_SQL,
        "q124_semantic_decontamination": _Q124_SQL,
        "q125_bigram_loglik": _Q125_SQL,
        "q126_bm25_topk": _Q126_SQL,
        "q127_winnowing_pairs": _Q127_SQL,
        "q128_cluster_balanced_sample": _Q128_SQL,
        "q129_source_divergence": _Q129_SQL,
        "q130_sketch_calibration": _Q130_SQL,
        "q131_temperature_mix": _Q131_SQL,
        "q132_eval_contamination": _Q132_SQL,
        "q133_trigram_backoff": _Q133_SQL,
        "q134_hybrid_retrieval": _Q134_SQL,
        "q135_ivf_cell_stats": _Q135_SQL,
        "q136_pack_efficiency": _Q136_SQL,
        "q137_hard_negatives": _Q137_SQL,
        "q138_token_entropy": _Q138_SQL,
        "q139_source_overlap": _Q139_SQL,
        "q140_external_lm_score": _Q140_SQL,
        "q141_duplicate_spans": _Q141_SQL,
        "q142_span_excision": _Q142_SQL,
        "q144_lang_quality": _Q144_SQL,
        "q146_repeat_excision": _Q146_SQL,
        "q147_ivf_recenter": _Q147_SQL,
        "q148_frame_sample": _Q148_SQL,
        "q149_gap_fill": _Q149_SQL,
        "q150_interpolate": _Q150_SQL,
        "q151_clean_corpus": _Q151_SQL,
        "q152_pack_two_level": _Q152_SQL,
        "q154_span_dedup_pretokenized": _Q154_SQL,
        "q155_ivf_recenter_loop": _Q155_SQL,
        "q156_training_corpus": _Q156_SQL,
        "q157_ivf_nprobe_recall": _Q157_SQL,
        "q158_incremental_components": _Q158_SQL,
        "q159_ccnet_buckets": _Q159_SQL,
        "q161_component_split": _Q161_SQL,
        "q162_bpe_learn_merges": _Q162_SQL,
        "q163_streaming_ingest_probe": _Q163_SQL,
        "q164_embedding_ingest_probe": _Q164_SQL,
        "q165_pq_encode": _Q165_SQL,
        "q166_ivf_pq_topk": _Q166_SQL,
        "q167_pq_distortion": _Q167_SQL,
        "q168_pq_embedding_ingest_probe": _Q168_SQL,
        "q171_ivf_pq_rerank_topk": _Q171_SQL,
        "q172_semantic_decontamination_pq": _Q172_SQL,
        "q173_pq_rerank_recall": _Q173_SQL,
        "q174_pq_residual_encode": _Q174_SQL,
        "q175_ivf_pq_residual_topk": _Q175_SQL,
        "q176_pq_residual_rerank_recall": _Q176_SQL,
        "q177_pq_residual_distortion": _Q177_SQL,
        "q178_incremental_bm25_probe": _Q178_SQL,
        "q179_pq_residual_ingest_probe": _Q179_SQL,
        "q180_pq_residual_decontamination": _Q180_SQL,
        "q181_pq_screen_agreement": _Q181_SQL,
        "q182_ivf_pq_residual_rerank_topk": _Q182_SQL,
        "q183_pq_cell_distortion": _Q183_SQL,
        "q184_postings_bm25_probe": _Q184_SQL,
        "q185_opq_distortion": _Q185_SQL,
        "q186_opq_ivfpq_topk": _Q186_SQL,
        "q187_postings_boolean_topk": _Q187_SQL,
        "q188_wand_bm25_topk": _Q188_SQL,
        "q189_phrase_topk": _Q189_SQL,
        "q190_opq_residual_topk": _Q190_SQL,
        "q191_opq_residual_rerank_topk": _Q191_SQL,
        "q192_proximity_topk": _Q192_SQL,
        "q193_phrase_bm25_topk": _Q193_SQL,
        "q194_proximity_bm25_topk": _Q194_SQL,
        # q195: the merged two-source state must answer q184's probe
        # bit-identically to the one-shot SQL (contiguous id shards
        # make cross-source first-wins == min-id-per-fp) — the oracle
        # IS q184's.
        "q195_merged_state_bm25_probe": _Q184_SQL,
        "q49_feature_pipeline": _Q49_SQL,
    }
