"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented capability from
SURVEY.md §2; each is a PRQL query compiled by prql_spark (or a
DataFrame-API operator for the training-data ops). ``oracle_sql()``
gives the DuckDB-equivalent SQL the driver cross-checks at sf0.01.

Float note: aggregate outputs are rounded identically on both sides
(Spark and DuckDB sum doubles in different orders; exact fp equality
is not meaningful, the driver hashes values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from prql_spark import Catalog, compile_prql

SF0001 = "/root/testdata/sf0.001"


def _prql(text: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return compile_prql(text, Catalog(spark, sf_dir))

    return fn


# ----------------------------------------------------------- PRQL queries

Q1_PRICING_SUMMARY = """
from lineitem
filter l_shipdate <= @1998-09-02
derive [disc_price = l_extendedprice * (1 - l_discount)]
group [l_returnflag, l_linestatus] (
  aggregate [
    sum_qty = round (sum l_quantity) 2,
    sum_base_price = round (sum l_extendedprice) 2,
    sum_disc_price = round (sum disc_price) 2,
    avg_qty = round (avg l_quantity) 4,
    avg_price = round (avg l_extendedprice) 4,
    avg_disc = round (avg l_discount) 6,
    count_order = count,
  ]
)
sort [l_returnflag, l_linestatus]
"""

Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

Q3_SHIPPING_PRIORITY = """
from c=customer
join o=orders [o_custkey == c_custkey]
join l=lineitem [l_orderkey == o_orderkey]
filter c_mktsegment == "BUILDING" and o_orderdate < @1995-03-15 and l_shipdate > @1995-03-15
group [l_orderkey, o_orderdate, o_orderpriority] (
  aggregate [revenue = round (sum (l_extendedprice * (1 - l_discount))) 2]
)
sort [-revenue, l_orderkey]
take 10
select [l_orderkey, revenue, o_orderdate, o_orderpriority]
"""

Q3_SQL = """
SELECT l_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate, o_orderpriority
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

Q5_LOCAL_SUPPLIER = """
from c=customer
join o=orders [o_custkey == c_custkey]
join l=lineitem [l_orderkey == o_orderkey]
join s=supplier [s_suppkey == l_suppkey]
join n=nation [n_nationkey == s_nationkey]
join r=region [r_regionkey == n_regionkey]
filter r_name == "ASIA" and o_orderdate >= @1994-01-01
group [n_name] (
  aggregate [revenue = round (sum (l_extendedprice * (1 - l_discount))) 2]
)
sort [-revenue, n_name]
"""

Q5_SQL = """
SELECT n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1994-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

Q6_FORECAST_REVENUE = """
from lineitem
filter l_shipdate >= @1996-01-01 and l_shipdate < @1997-01-01
filter (l_discount | in 0.05..0.07) and l_quantity < 24
aggregate [revenue = round (sum (l_extendedprice * l_discount)) 2]
"""

Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""

Q4_ORDER_PRIORITY = """
table late_orders = (
  from lineitem
  filter l_shipdate > @1995-06-01
  select [l_orderkey]
  group [l_orderkey] (take 1)
)
from o=orders
join lo=late_orders [l_orderkey == o_orderkey]
filter o_orderdate >= @1995-01-01 and o_orderdate < @1995-10-01
group [o_orderpriority] (
  aggregate [order_count = count]
)
sort [o_orderpriority]
"""

Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
JOIN (SELECT DISTINCT l_orderkey FROM lineitem
      WHERE l_shipdate > TIMESTAMP '1995-06-01') lo
  ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-10-01'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

Q12_SHIPMODE = """
from l=lineitem
join o=orders [o_orderkey == l_orderkey]
filter l_shipdate >= @1996-01-01 and l_shipdate < @1997-01-01
derive [
  high = s"CASE WHEN {o.o_orderpriority} IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END",
  low = s"CASE WHEN {o.o_orderpriority} NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END",
]
group [l_linestatus] (
  aggregate [high_count = sum high, low_count = sum low]
)
sort [l_linestatus]
"""

Q12_SQL = """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS low_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""

Q14_PROMO_REVENUE = """
from l=lineitem
join p=part [p_partkey == l_partkey]
filter l_shipdate >= @1995-09-01 and l_shipdate < @1995-10-01
derive [
  net = l_extendedprice * (1 - l_discount),
  promo = s"CASE WHEN {p.p_type} LIKE 'PROMO%' THEN {net} ELSE 0.0 END",
]
aggregate [
  promo_revenue = round (s"100.0 * sum({promo}) / sum({net})") 4,
]
"""

Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01'
  AND l_shipdate < TIMESTAMP '1995-10-01'
"""

Q10_RETURNED_ITEMS = """
from c=customer
join o=orders [o_custkey == c_custkey]
join l=lineitem [l_orderkey == o_orderkey]
join n=nation [n_nationkey == c_nationkey]
filter l_returnflag == "R" and o_orderdate >= @1995-10-01 and o_orderdate < @1996-01-01
group [c_custkey, c_name, c_acctbal, n_name] (
  aggregate [revenue = round (sum (l_extendedprice * (1 - l_discount))) 2]
)
sort [-revenue, c_custkey]
take 20
select [c_custkey, c_name, revenue, c_acctbal, n_name]
"""

Q10_SQL = """
SELECT c_custkey, c_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  c_acctbal, n_name
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-10-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

Q18_LARGE_ORDERS = """
table big_orders = (
  from lineitem
  group [l_orderkey] (
    aggregate [total_qty = sum l_quantity]
  )
  filter total_qty > 150
)
from o=orders
join b=big_orders [l_orderkey == o_orderkey]
join c=customer [c_custkey == o_custkey]
select [c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty]
sort [-o_totalprice, o_orderkey]
take 100
"""

Q18_SQL = """
WITH big_orders AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       total_qty
FROM orders
JOIN big_orders ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

TOP_CUSTOMERS = """
from c=customer
join side:left o=orders [o_custkey == c_custkey]
group [c_custkey, c_name] (
  aggregate [
    n_orders = s"COUNT({o.o_orderkey})",
    total_spent = round (sum (o_totalprice ?? 0.0)) 2,
  ]
)
sort [-total_spent, c_custkey]
take 25
"""

TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
  round(sum(coalesce(o_totalprice, 0.0)), 2) AS total_spent
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey
LIMIT 25
"""

RUNNING_TOTAL = """
from orders
group [o_custkey] (
  sort [o_orderdate, o_orderkey]
  window expanding:true (
    derive [running_spend = round (sum o_totalprice) 2]
  )
)
select [o_orderkey, o_custkey, running_spend]
sort [o_orderkey]
"""

RUNNING_TOTAL_SQL = """
SELECT o_orderkey, o_custkey,
  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
    ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
    AS running_spend
FROM orders ORDER BY o_orderkey
"""

# moving average over an exact DECIMAL sum: engines' sliding-window
# double accumulators drift in the last ulp, which flips round(.,2)
# on boundary values; an exact decimal numerator makes the quotient
# bit-identical in Spark and DuckDB.
MOVING_AVERAGE = """
from orders
derive [dec_price = s"CAST({o_totalprice} AS DECIMAL(18,2))"]
sort [o_orderkey]
window rolling:7 (
  derive [s7 = sum dec_price, c7 = count]
)
derive [sma7 = round (s"CAST({s7} AS DOUBLE)" / c7) 2]
select [o_orderkey, sma7]
sort [o_orderkey]
"""

MOVING_AVERAGE_SQL = """
SELECT o_orderkey,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        / count(*) OVER w, 2) AS sma7
FROM orders
WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey
"""

GROUP_TOPK = """
from orders
group [o_orderstatus] (
  sort [-o_totalprice, o_orderkey]
  take 3
)
select [o_orderstatus, o_orderkey, o_totalprice]
sort [o_orderstatus, -o_totalprice]
"""

GROUP_TOPK_SQL = """
SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
    ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t
WHERE rn <= 3
ORDER BY o_orderstatus, o_totalprice DESC
"""

# round-9 consolidation (rotation pressure): the former
# window_lag_row_number + window_dense_rank_first_last entries merged
# into ONE suite exercising all 7 stdlib window functions (lag, lead,
# row_number, rank, dense_rank, first, last) over two different
# window specs — coverage preserved, one rotation slot freed.
WINDOW_SUITE = """
from orders
group [o_custkey] (
  sort [o_orderdate, o_orderkey]
  derive [
    prev_price = lag 1 o_totalprice,
    order_seq = row_number,
  ]
)
group [o_orderstatus] (
  sort [o_orderdate, o_orderkey]
  derive [
    dr = rank_dense,
    rnk = rank,
    nxt = lead 1 o_orderkey,
    first_key = first o_orderkey,
    last_key = last o_orderkey,
  ]
)
select [o_orderkey, o_custkey, prev_price, order_seq, o_orderstatus,
        dr, rnk, nxt, first_key, last_key]
sort [o_orderkey]
"""

WINDOW_SUITE_SQL = """
SELECT o_orderkey, o_custkey,
  lag(o_totalprice, 1) OVER wc AS prev_price,
  row_number() OVER wc AS order_seq,
  o_orderstatus,
  dense_rank() OVER ws AS dr,
  rank() OVER ws AS rnk,
  lead(o_orderkey, 1) OVER ws AS nxt,
  first_value(o_orderkey) OVER (PARTITION BY o_orderstatus
    ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS first_key,
  last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
    ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS last_key
FROM orders
WINDOW wc AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       ws AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)
ORDER BY o_orderkey
"""

# round-10 consolidation (rotation pressure, VERDICT r9 item 6): the
# former take_range + null_handling + fstring_cast + distinct_idiom
# single-feature entries merged into ONE suite exercising all four
# language features in one pipeline — the distinct idiom as a CTE
# (`group cols (take 1)` → dropDuplicates fast path) re-joined USING,
# null coalesce (`??`) and `== null`, the `as` cast and f-string
# interpolation, and a sorted `take a..b` range (offset+limit) — four
# rotation slots freed, coverage preserved (asserted by the value
# oracle over the same events frame).
LANG_FEATURES = """
table distinct_types = (
  from events
  select [event_type]
  group [event_type] (take 1)
)
from e=events
join t=distinct_types [event_type]
derive [
  v = value ?? -1.0,
  missing = value == null,
  uid_str = (user_id | as string),
]
derive [tag = f"{event_type}:{uid_str}"]
group [tag, missing] (
  aggregate [n = count, total_v = round (sum v) 2]
)
sort [-n, tag, missing]
take 11..40
"""

LANG_FEATURES_SQL = """
WITH distinct_types AS (SELECT DISTINCT event_type FROM events),
enriched AS (
  SELECT concat(e.event_type, ':', CAST(e.user_id AS VARCHAR)) AS tag,
         e.value IS NULL AS missing,
         coalesce(e.value, -1.0) AS v
  FROM events e JOIN distinct_types t USING (event_type))
SELECT tag, missing, count(*) AS n, round(sum(v), 2) AS total_v
FROM enriched
GROUP BY tag, missing
ORDER BY n DESC, tag, missing
LIMIT 30 OFFSET 10
"""

USER_FUNC_CTE = """
func discounted price disc -> price * (1 - disc)
table cheap_parts = (
  from part
  filter p_retailprice < 1200
)
from l=lineitem
join p=cheap_parts [p_partkey == l_partkey]
derive [net = (discounted l_extendedprice l_discount)]
group [p_brand] (
  aggregate [n = count, net_total = round (sum net) 2]
)
sort [p_brand]
"""

USER_FUNC_CTE_SQL = """
WITH cheap_parts AS (SELECT * FROM part WHERE p_retailprice < 1200)
SELECT p_brand, count(*) AS n,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS net_total
FROM lineitem JOIN cheap_parts ON p_partkey = l_partkey
GROUP BY p_brand ORDER BY p_brand
"""

RANK_STATS = """
from lineitem
group [l_returnflag] (
  aggregate [
    sd_price = round (stddev l_extendedprice) 4,
    mn = min l_quantity,
    mx = max l_quantity,
  ]
)
sort [l_returnflag]
"""

RANK_STATS_SQL = """
SELECT l_returnflag,
  round(stddev_samp(l_extendedprice), 4) AS sd_price,
  min(l_quantity) AS mn, max(l_quantity) AS mx
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


TRAILING_7D = """
from orders
group [o_custkey] (
  sort [o_orderdate]
  window range:-7days..0days (
    derive [trailing_7d = round (sum o_totalprice) 2]
  )
)
select [o_orderkey, trailing_7d]
sort [o_orderkey]
"""

TRAILING_7D_SQL = """
SELECT o_orderkey, round(sum(o_totalprice) OVER (
  PARTITION BY o_custkey ORDER BY o_orderdate
  RANGE BETWEEN INTERVAL '7 days' PRECEDING
  AND INTERVAL '0 days' FOLLOWING), 2) AS trailing_7d
FROM orders ORDER BY o_orderkey
"""

Q7_VOLUME_SHIPPING = """
from s=supplier
join l=lineitem [l_suppkey == s_suppkey]
join o=orders [o_orderkey == l_orderkey]
join c=customer [c_custkey == o_custkey]
join n1=nation [n1.n_nationkey == s_nationkey]
join n2=nation [n2.n_nationkey == c_nationkey]
derive [
  supp_nation = n1.n_name,
  cust_nation = n2.n_name,
  l_year = s"year({l_shipdate})",
  volume = l_extendedprice * (1 - l_discount),
]
filter (supp_nation == "NATION_9" and cust_nation == "NATION_10") or (supp_nation == "NATION_10" and cust_nation == "NATION_9")
filter l_shipdate >= @1995-01-01 and l_shipdate <= @1996-12-31
group [supp_nation, cust_nation, l_year] (
  aggregate [revenue = round (sum volume) 2]
)
sort [supp_nation, cust_nation, l_year]
"""

Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  year(l_shipdate) AS l_year,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM supplier
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

Q8_MARKET_SHARE = """
from p=part
join l=lineitem [l_partkey == p_partkey]
join s=supplier [s_suppkey == l_suppkey]
join o=orders [o_orderkey == l_orderkey]
join c=customer [c_custkey == o_custkey]
join n1=nation [n1.n_nationkey == c_nationkey]
join r=region [r_regionkey == n1.n_regionkey]
join n2=nation [n2.n_nationkey == s_nationkey]
filter r_name == "AMERICA" and p_type == "ECONOMY"
filter o_orderdate >= @1995-01-01 and o_orderdate <= @1996-12-31
derive [
  o_year = s"year({o_orderdate})",
  volume = l_extendedprice * (1 - l_discount),
  target_volume = s"CASE WHEN {n2.n_name} = 'NATION_3' THEN {volume} ELSE 0.0 END",
]
group [o_year] (
  aggregate [mkt_share = round ((sum target_volume) / (sum volume)) 6]
)
sort [o_year]
"""

Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
  round(sum(CASE WHEN n2.n_name = 'NATION_3'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
      / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM part
JOIN lineitem ON l_partkey = p_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY o_year ORDER BY o_year
"""

Q13_ORDER_DISTRIBUTION = """
table per_customer = (
  from c=customer
  join side:left o=orders [o_custkey == c_custkey]
  group [c_custkey] (
    aggregate [c_count = s"COUNT({o.o_orderkey})"]
  )
)
from per_customer
group [c_count] (
  aggregate [custdist = count]
)
sort [-custdist, -c_count]
"""

Q13_SQL = """
WITH per_customer AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM per_customer
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

Q15_TOP_SUPPLIER = """
table revenue0 = (
  from lineitem
  filter l_shipdate >= @1996-01-01 and l_shipdate < @1996-04-01
  group [l_suppkey] (
    aggregate [total_revenue = round (sum (l_extendedprice * (1 - l_discount))) 2]
  )
)
table max_rev = (
  from revenue0
  aggregate [max_revenue = max total_revenue]
)
from s=supplier
join r=revenue0 [l_suppkey == s_suppkey]
join m=max_rev [max_revenue == total_revenue]
select [s_suppkey, s_name, total_revenue]
sort [s_suppkey]
"""

Q15_SQL = """
WITH revenue0 AS (
  SELECT l_suppkey,
    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue0 ON l_suppkey = s_suppkey
JOIN (SELECT max(total_revenue) AS max_revenue FROM revenue0) m
  ON max_revenue = total_revenue
ORDER BY s_suppkey
"""

Q17_SMALL_QTY_REVENUE = """
table part_avg = (
  from lineitem
  group [l_partkey] (
    aggregate [avg_qty = avg l_quantity]
  )
)
from l=lineitem
join p=part [p_partkey == l_partkey]
join pa=part_avg [pa.l_partkey == l.l_partkey]
filter p_brand == "Brand#13" and l_quantity < 0.2 * avg_qty
aggregate [avg_yearly = round ((sum l_extendedprice) / 7.0) 2]
"""

Q17_SQL = """
WITH part_avg AS (
  SELECT l_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = lineitem.l_partkey
JOIN part_avg pa ON pa.l_partkey = lineitem.l_partkey
WHERE p_brand = 'Brand#13' AND l_quantity < 0.2 * avg_qty
"""

Q19_DISJUNCTIVE_FILTER = """
from l=lineitem
join p=part [p_partkey == l_partkey]
derive [
  m1 = p_brand == "Brand#1" and (p_size | in 1..5) and (l_quantity | in 1..11),
  m2 = p_brand == "Brand#2" and (p_size | in 1..10) and (l_quantity | in 10..20),
  m3 = p_brand == "Brand#3" and (p_size | in 1..15) and (l_quantity | in 20..30),
]
filter m1 or m2 or m3
aggregate [revenue = round (sum (l_extendedprice * (1 - l_discount))) 2]
"""

Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""

Q22_INACTIVE_BALANCE = """
table recent_orders = (
  from orders
  filter o_orderdate >= @2000-01-01
  select [o_custkey]
  group [o_custkey] (take 1)
)
table pos_avg = (
  from customer
  filter c_acctbal > 0.0
  aggregate [avg_bal = avg c_acctbal, tag = max 1]
)
from c=customer
derive [ctag = 1]
join a=pos_avg [tag == ctag]
filter c_acctbal > avg_bal
join side:left ro=recent_orders [o_custkey == c_custkey]
filter o_custkey == null
group [c_nationkey] (
  aggregate [numcust = count, totacctbal = round (sum c_acctbal) 2]
)
sort [c_nationkey]
"""

Q22_SQL = """
WITH pos_avg AS (
  SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0)
SELECT c_nationkey, count(*) AS numcust,
  round(sum(c_acctbal), 2) AS totacctbal
FROM customer, pos_avg
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey ORDER BY c_nationkey
"""

EVENTS_SESSIONS = """
from events
derive [day = s"CAST(CAST({ts} AS DATE) AS STRING)"]
group [user_id, day] (
  aggregate [
    n_events = count,
    n_types = count_distinct event_type,
    value_sum = round (sum (value ?? 0.0)) 2,
  ]
)
sort [user_id, day]
take 500
"""

EVENTS_SESSIONS_SQL = """
SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
  count(*) AS n_events, count(DISTINCT event_type) AS n_types,
  round(sum(coalesce(value, 0.0)), 2) AS value_sum
FROM events
GROUP BY user_id, day
ORDER BY user_id, day
LIMIT 500
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    return compile_prql(Q1_PRICING_SUMMARY, Catalog(spark, SF0001))


# --- round 5: the remaining TPC-H query SHAPES, adapted to the
# reduced synthetic schema (no partsupp table; lineitem carries the
# part↔supplier association; no commit/receipt dates — lateness is
# shipdate vs orderdate + 75 days). Each keeps the ORIGINAL query's
# decorrelation challenge: q2 per-group argmin, q9 multi-dim profit
# rollup, q11 global-scalar HAVING, q16 NOT-IN exclusion +
# count-distinct, q20 nested-IN chain, q21 double-EXISTS.

Q2_MIN_COST_SUPPLIER = """
table sup_price = (
  from l=lineitem
  join p=part [p_partkey == l_partkey]
  filter p_type == "ECONOMY"
  derive [unit = l_extendedprice / l_quantity]
  group [p_partkey, l_suppkey] (aggregate [sprice = min unit])
)
table best = (
  from sup_price
  group [p_partkey] (aggregate [min_price = min sprice])
)
from sp=sup_price
join b=best [p_partkey]
filter sprice == min_price
join s=supplier [s_suppkey == l_suppkey]
select [p_partkey, s_name, sprice]
sort [p_partkey, s_name]
"""

Q2_SQL = """
WITH sup_price AS (
  SELECT p_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS sprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'ECONOMY' GROUP BY p_partkey, l_suppkey),
best AS (SELECT p_partkey, min(sprice) AS min_price
         FROM sup_price GROUP BY p_partkey)
SELECT p_partkey, s_name, sprice
FROM sup_price JOIN best USING (p_partkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE sprice = min_price
ORDER BY p_partkey, s_name
"""

Q9_PRODUCT_PROFIT = """
from l=lineitem
join p=part [p_partkey == l_partkey]
filter s"{p.p_name} LIKE '%widget%'"
join s=supplier [s_suppkey == l_suppkey]
join n=nation [n_nationkey == s_nationkey]
join o=orders [o_orderkey == l_orderkey]
derive [
  o_year = s"year({o.o_orderdate})",
  amount = l_extendedprice * (1 - l_discount),
]
group [n_name, o_year] (
  aggregate [sum_profit = round (sum amount) 4]
)
sort [n_name, -o_year]
"""

Q9_SQL = """
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_profit
FROM lineitem JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, o_year ORDER BY n_name, o_year DESC
"""

Q11_IMPORTANT_SHARE = """
table part_value = (
  from l=lineitem
  group [l_partkey] (
    aggregate [value = round (sum (l_extendedprice * (1 - l_discount))) 4]
  )
)
table total = (
  from part_value
  aggregate [avg_value = avg value, tag = max 1]
)
from pv=part_value
derive [ptag = 1]
join t=total [tag == ptag]
filter value > avg_value * 1.2
select [l_partkey, value]
sort [-value, l_partkey]
"""

Q11_SQL = """
WITH part_value AS (
  SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS value
  FROM lineitem GROUP BY l_partkey),
total AS (SELECT avg(value) AS avg_value FROM part_value)
SELECT l_partkey, value FROM part_value, total
WHERE value > avg_value * 1.2
ORDER BY value DESC, l_partkey
"""

Q16_SUPPLIER_COUNTS = """
table bad_suppliers = (
  from supplier
  filter s_acctbal < 0.0
  select [s_suppkey]
)
from l=lineitem
join p=part [p_partkey == l_partkey]
filter p_size <= 20
join side:left b=bad_suppliers [s_suppkey == l_suppkey]
filter s_suppkey == null
group [p_brand, p_type] (
  aggregate [supplier_cnt = count_distinct l_suppkey]
)
sort [-supplier_cnt, p_brand, p_type]
"""

Q16_SQL = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 20
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
"""

Q20_EXCESS_SUPPLIERS = """
table widget_parts = (
  from part
  filter s"{p_name} LIKE '%widget%'"
  select [p_partkey]
)
table heavy = (
  from l=lineitem
  filter l_shipdate >= @1997-01-01 and l_shipdate < @1998-01-01
  join wp=widget_parts [p_partkey == l_partkey]
  group [l_suppkey] (aggregate [qty = sum l_quantity])
  filter qty > 100.0
)
from s=supplier
join h=heavy [l_suppkey == s_suppkey]
join n=nation [n_nationkey == s_nationkey]
select [s_name, n_name, qty]
sort [s_name]
"""

Q20_SQL = """
SELECT s_name, n_name, qty
FROM supplier
JOIN (SELECT l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%widget%')
      GROUP BY l_suppkey HAVING sum(l_quantity) > 100.0) h
  ON h.l_suppkey = s_suppkey
JOIN nation ON n_nationkey = s_nationkey
ORDER BY s_name
"""

Q21_WAITING_SUPPLIER = """
table order_supp = (
  from l=lineitem
  join o=orders [o_orderkey == l_orderkey]
  filter o_orderstatus == "F"
  derive [
    late = s"CASE WHEN {l.l_shipdate} > {o.o_orderdate} + INTERVAL 75 DAYS THEN 1 ELSE 0 END",
  ]
  group [l_orderkey, l_suppkey] (aggregate [late_any = max late])
)
table order_stats = (
  from order_supp
  group [l_orderkey] (aggregate [n_supp = count, n_late = sum late_any])
)
from os=order_supp
filter late_any == 1
join st=order_stats [l_orderkey]
filter n_supp >= 2 and n_late == 1
join s=supplier [s_suppkey == l_suppkey]
group [s_name] (aggregate [numwait = count])
sort [-numwait, +s_name]
take 20
"""

Q21_SQL = """
WITH order_supp AS (
  SELECT l_orderkey, l_suppkey,
    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 75 DAY
        THEN 1 ELSE 0 END) AS late_any
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F' GROUP BY l_orderkey, l_suppkey),
order_stats AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(late_any) AS n_late
  FROM order_supp GROUP BY l_orderkey)
SELECT s_name, count(*) AS numwait
FROM order_supp JOIN order_stats USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE late_any = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
"""

_PRQL_QUERIES: dict[str, tuple[str, str]] = {
    "q1_pricing_summary": (Q1_PRICING_SUMMARY, Q1_SQL),
    "q3_shipping_priority": (Q3_SHIPPING_PRIORITY, Q3_SQL),
    "q5_local_supplier": (Q5_LOCAL_SUPPLIER, Q5_SQL),
    "q6_forecast_revenue": (Q6_FORECAST_REVENUE, Q6_SQL),
    "q4_order_priority": (Q4_ORDER_PRIORITY, Q4_SQL),
    "q12_shipmode_priority": (Q12_SHIPMODE, Q12_SQL),
    "q14_promo_revenue": (Q14_PROMO_REVENUE, Q14_SQL),
    "q10_returned_items": (Q10_RETURNED_ITEMS, Q10_SQL),
    "q18_large_orders": (Q18_LARGE_ORDERS, Q18_SQL),
    "q7_volume_shipping": (Q7_VOLUME_SHIPPING, Q7_SQL),
    "q8_market_share": (Q8_MARKET_SHARE, Q8_SQL),
    "q13_order_distribution": (Q13_ORDER_DISTRIBUTION, Q13_SQL),
    "q15_top_supplier": (Q15_TOP_SUPPLIER, Q15_SQL),
    "q17_small_qty_revenue": (Q17_SMALL_QTY_REVENUE, Q17_SQL),
    "q19_disjunctive_filter": (Q19_DISJUNCTIVE_FILTER, Q19_SQL),
    "q22_inactive_balance": (Q22_INACTIVE_BALANCE, Q22_SQL),
    "q2_min_cost_supplier": (Q2_MIN_COST_SUPPLIER, Q2_SQL),
    "q9_product_profit": (Q9_PRODUCT_PROFIT, Q9_SQL),
    "q11_important_share": (Q11_IMPORTANT_SHARE, Q11_SQL),
    "q16_supplier_counts": (Q16_SUPPLIER_COUNTS, Q16_SQL),
    "q20_excess_suppliers": (Q20_EXCESS_SUPPLIERS, Q20_SQL),
    "q21_waiting_supplier": (Q21_WAITING_SUPPLIER, Q21_SQL),
    "top_customers_left_join": (TOP_CUSTOMERS, TOP_CUSTOMERS_SQL),
    "window_running_total": (RUNNING_TOTAL, RUNNING_TOTAL_SQL),
    "window_moving_average": (MOVING_AVERAGE, MOVING_AVERAGE_SQL),
    "group_topk": (GROUP_TOPK, GROUP_TOPK_SQL),
    "window_functions_suite": (WINDOW_SUITE, WINDOW_SUITE_SQL),
    "language_features_suite": (LANG_FEATURES, LANG_FEATURES_SQL),
    "user_func_cte": (USER_FUNC_CTE, USER_FUNC_CTE_SQL),
    "agg_stddev_minmax": (RANK_STATS, RANK_STATS_SQL),
    "window_interval_range": (TRAILING_7D, TRAILING_7D_SQL),
}


# The driver hard-checks (row count + schema + value hash vs DuckDB)
# only the FIRST 50 entries of queries(), in dict order. All entries
# are green locally (scripts/check_entry.py runs every one); the
# rotation policy below decides who gets a driver CORRECTNESS row
# this round, and the composition is DERIVED (sections concatenated,
# window membership asserted in tests/test_entry_contract.py) so the
# counts can never drift from the lists again:
#   1. entries NEVER driver-checked (new this round, or added late
#      last round behind a full window),
#   2. the entries whose most recent driver row is OLDEST — all of
#      them when they fit; any that don't are listed in
#      _STALE_SPILL immediately behind the window and MUST front
#      the next round's window,
#   3. the rest (driver-green last round, re-verified by the mimic
#      every session) behind the window.
#
# CORE policy (round 6 on): the ~10 most load-bearing entries —
# one per family: TPC-H aggregation/join shapes, the dedup family,
# decontamination, tokenization, WARC ingestion — are pinned inside
# the window EVERY round, so the flagship plans never carry driver
# evidence older than one round. Cost: with ~105 entries, 50 window
# slots and 10 pinned, non-core entries rotate through the remaining
# 40 slots, so their worst-case driver-evidence age rises from 1 to
# ~2 rounds (the session mimic still re-verifies every entry every
# round). Round 10: 2 new entries (the language-features
# consolidation suite; bloom-prefiltered decontamination) + the 31
# surviving r7-evidence spill entries + the core + 7 code-changed
# entries fill the window; consolidation retired 5 thin entries
# (122 total, down from 125), easing rotation pressure for the
# first time since round 4. The bloom-prefiltered decontamination
# entry is since retired with its operator (dedup_incremental checks
# the same md5 NOT EXISTS semantics through dedup_against, the one
# exact path); the head of the spill, sketch_top_items, took its
# window slot (121 total).
_DRIVER_WINDOW = 50

_CORE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "top_customers_left_join",
    "group_topk",
    "dedup_exact",
    "dedup_against_near",
    "text_token_count",
    "sources_warc_read",
]

# never driver-checked: round 10's consolidation suite (the former
# take_range + null_handling + fstring_cast + distinct_idiom entries
# merged — four rotation slots freed, coverage preserved; the
# events_daily_rollup twin also retired, its date-cast/count_distinct
# shapes live on in q1/q16 and events_hourly_rollup). The round's
# other work (conflict-validated compact/optimize, delete stats
# pruning, commit protocols, timestamp partitions) is pytest-verified
# and rides the fronted lakehouse entries' code paths.
_NEW_THIS_ROUND: list[str] = [
    "language_features_suite",
]

# reserved for new entries that outgrow the window (empty this round)
_NEW_BEHIND: list[str] = []

# Oldest driver evidence first: the 31 surviving r7-evidence entries
# round 9 spilled (test-asserted to open THIS window — honored here,
# minus the 5 retired by consolidation), then the pinned _CORE, then
# 7 slots for code-changed entries: the lakehouse entries whose code
# round 10 touched (merge broadcast guard + commit hygiene; partition
# timestamp normalization; the snapshot_scan overlap-check refactor;
# plus timetravel/changes riding the same manifest),
# dedup_minhash_clusters (DISK_ONLY checkpoints + fused first round —
# needs fresh driver evidence for the variance fix), and
# semdedup_prune (its r8 perf-watch partner).
_STALE_PREV = [
    # --- the r9 _STALE_SPILL survivors (driver evidence: round 7) ---
    "splits_near_leakage",
    "text_normalize",
    "text_url_blocklist",
    "window_running_total",
    "window_moving_average",
    "agg_stddev_minmax",
    "text_doc_frequency",
    "multimodal_metadata",
    "text_quantile_buckets",
    "text_html_to_text",
    "ann_assign_hier",
    "dedup_paragraphs",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_share",
    "q16_supplier_counts",
    "text_quality_score",
    "text_lang_id",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_near_dups",
    "multimodal_decode",
    "asof_join_attribution",
    "docs_clean_pipeline",
    "sketch_distinct_users",
    "sketch_value_median",
    # --- _CORE: pinned every round (see policy above) ---
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "top_customers_left_join",
    "group_topk",
    "dedup_exact",
    "dedup_against_near",
    "text_token_count",
    "sources_warc_read",
    # --- code-changed this round + oldest r8 fits ---
    "dedup_minhash_clusters",
    "semdedup_prune",
    "sources_snapshot_merge",
    "sources_snapshot_partitioned",
    "sources_snapshot_timetravel",
    "sources_snapshot_changes",
    "sources_snapshot_scan",
    # --- the head of the r8 spill, in the retired bloom entry's slot
    "sketch_top_items",
]

# r8-evidence entries the round-10 window cannot fit (33). All
# mimic-green every session; oldest driver evidence in the repo from
# here on: these MUST open round 11's window.
_STALE_SPILL = [
    "splits_shuffle_deterministic",
    "profile_orders",
    "sources_upsert_merge",
    "sources_zorder_roundtrip",
    "kafka_json_roundtrip",
    "text_bm25_rank",
    "text_contamination",
    "text_gopher_flags",
    "text_repetition_flags",
    "pack_sequences",
    "stratified_sample",
    "split_by_hash",
    "sample_by_hash",
    "text_redact_pii",
    "text_strip_boilerplate",
    "events_sessionize",
    "events_dedup_within_watermark",
    "events_interval_join",
    "skew_salted_aggregate",
    "multimodal_resize",
    "sources_csv_roundtrip",
    "text_unigram_logprob",
    "dedup_incremental",
    "sample_per_group",
    "text_collocations",
    "skew_salted_join",
    "sources_diff_snapshots",
    "dedup_lines",
    "text_url_features",
    "q20_excess_suppliers",
    "dedup_window_fraction",
    "dedup_remove_windows",
    "dedup_remove_sentences",
]

# checked in round 9 (freshest driver evidence; _CORE members sit in
# the window instead) — behind the spill
_FRESH_PREV = [
    "sources_bucketed_join",
    "splits_leakage_audit",
    "multimodal_image_ahash",
    "multimodal_video_framehash",
    "multimodal_audio_fingerprint",
    "q8_market_share",
    "multimodal_netpbm_decode",
    "text_tfidf_top_terms",
    "profile_rollup",
    "splits_rebalance_mix",
    "multimodal_wav_decode",
    "multimodal_y4m_decode",
    "text_chunk_documents",
    "text_script_profile",
    "user_func_cte",
    "window_interval_range",
    "text_fingerprint",
    "text_ngram_counts",
    "events_hourly_rollup",
    "q4_order_priority",
    "q12_shipmode_priority",
    "q14_promo_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "q7_volume_shipping",
    "q13_order_distribution",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_disjunctive_filter",
    "q22_inactive_balance",
    "window_functions_suite",
    "multimodal_video_neardups",
    "multimodal_frame_sample",
    "asof_forward_tolerance",
    "text_token_count_bpe",
    "multimodal_image_neardups",
    "multimodal_audio_neardups",
    "multimodal_image_phash",
]

_DRIVER_ORDER = (
    _NEW_THIS_ROUND
    + _STALE_PREV
    + _NEW_BEHIND
    + _STALE_SPILL
    + _FRESH_PREV
)


def _ordered(d: dict) -> dict:
    missing = set(d) - set(_DRIVER_ORDER)
    if missing:  # new entries land just inside the driver window
        raise AssertionError(f"entries missing from _DRIVER_ORDER: {missing}")
    return {name: d[name] for name in _DRIVER_ORDER if name in d}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from entries.operators import ENTRIES

    out = {name: _prql(prql) for name, (prql, _sql) in _PRQL_QUERIES.items()}
    out.update((name, build) for name, (build, _sql) in ENTRIES.items())
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    # PRQL entries: prefer the machine-generated oracle (emitted by
    # the SQL-text backend from the same PRQL the engine runs, with a
    # Spark-schema type wrapper — see scripts/gen_oracles.py). The
    # hand-written strings remain as documentation and fallback;
    # tests/test_to_sql.py asserts all three agree.
    from entries._gen_oracles import ORACLES as _gen
    from entries.operators import ENTRIES

    out = {
        name: _gen.get(name, sql)
        for name, (_p, sql) in _PRQL_QUERIES.items()
    }
    out.update((name, sql) for name, (_build, sql) in ENTRIES.items())
    return _ordered(out)
