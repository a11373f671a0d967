-- The olap_sql workload: the shared-dialect headline corpus entries, as SQL
-- text for Engine.sql. Frozen copies of the entries' oracle texts, so a
-- change to the program cannot change the benchmark's queries. Each
-- {NAME} is a literal perfbench/workloads.py draws from the seed, in the
-- manner of TPC-H qgen; the entry's own literal is noted beside it.

-- name: q01_pricing_summary
-- CUTOFF: 1998-12-01 minus 60..120 days (entry: 1998-09-02)
SELECT l_returnflag, l_linestatus,
  sum(l_quantity) AS sum_qty,
  sum(l_extendedprice) AS sum_base_price,
  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
  avg(l_quantity) AS avg_qty,
  avg(l_extendedprice) AS avg_price,
  avg(l_discount) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus;

-- name: q03_shipping_priority
-- SEGMENT: one of five (entry: BUILDING); DAY: 01..31 (entry: 15)
SELECT l_orderkey,
  sum(l_extendedprice * (1 - l_discount)) AS revenue,
  o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{SEGMENT}'
  AND o_orderdate < TIMESTAMP '1998-03-{DAY} 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-{DAY} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10;

-- name: q05_local_supplier_volume
-- REGION: one of five (entry: ASIA); YEAR: 1995..2000 (entry: 1996)
SELECT n_name,
  sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{REGION}'
  AND o_orderdate >= TIMESTAMP '{YEAR}-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '{NEXT_YEAR}-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name;

-- name: q06_forecast_revenue
-- YEAR: 1995..2000 (entry: 1996); DISCOUNT: 0.02..0.09 (entry: 0.06);
-- QUANTITY: 24..25 (entry: 24)
SELECT sum(l_extendedprice * l_discount) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{YEAR}-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '{NEXT_YEAR}-01-01 00:00:00'
  AND l_discount BETWEEN {DISCOUNT_LO} AND {DISCOUNT_HI}
  AND l_quantity < {QUANTITY};

-- name: q10_returned_items
-- START: first day of a month in 1995-02..2000-12 (entry: 1996-01-01);
-- END: three months later
SELECT c_custkey, c_name,
  sum(l_extendedprice * (1 - l_discount)) AS revenue,
  c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '{START} 00:00:00'
  AND o_orderdate < TIMESTAMP '{END} 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20;

-- name: q09_product_profit
SELECT nation, o_year, sum(amount) AS sum_profit
FROM (
  SELECT n_name AS nation, year(l_shipdate) AS o_year,
         l_extendedprice * (1 - l_discount)
           - p_retailprice * 0.8 * l_quantity AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC;

-- name: q13_customer_distribution
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'F'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC;

-- name: q18_large_orders
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum(l_quantity) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100;

-- name: q21_waiting_supplier
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100;

-- name: w08_topn_per_group
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey
      ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) ranked
WHERE rn <= 3 AND o_custkey < 200
ORDER BY o_custkey, rn;

-- name: a01_distinct_aggs
SELECT l_returnflag,
  count(DISTINCT l_suppkey) AS distinct_supp,
  count(DISTINCT l_partkey) AS distinct_part,
  sum(DISTINCT l_quantity)  AS sum_distinct_qty,
  count(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag;

-- name: ds03_cross_nation_brand
-- MONTH: 1..12 (entry: 11)
SELECT p_brand AS brand, p_type,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext_price
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN part ON l_partkey = p_partkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE month(o_orderdate) = {MONTH} AND p_size BETWEEN 1 AND 15
  AND substring(cn.n_name, 8, 1) <> substring(sn.n_name, 8, 1)
GROUP BY p_brand, p_type
ORDER BY brand, p_type;

-- name: ds07_cross_nation_orders
WITH dn AS (
  SELECT l_orderkey, s_nationkey AS bought_nk,
    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS amt,
    sum(CAST(l_extendedprice * l_tax AS DECIMAL(18,4))) AS tax_amt
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY l_orderkey, s_nationkey)
SELECT c_name, home.n_name AS home_nation,
  bought.n_name AS bought_nation, l_orderkey AS orderkey,
  CAST(amt AS DOUBLE) AS amt, CAST(tax_amt AS DOUBLE) AS tax_amt
FROM dn
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation home ON c_nationkey = home.n_nationkey
JOIN nation bought ON bought_nk = bought.n_nationkey
WHERE home.n_name <> bought.n_name AND o_totalprice > 400000
ORDER BY c_name, orderkey, bought_nation
LIMIT 100;

-- name: geo04_distance_join
SELECT s_suppkey, c_custkey,
  CAST(power((s_suppkey * 7) % 100 - (c_custkey * 3) % 101, 2)
     + power((s_suppkey * 13) % 100 - (c_custkey * 11) % 101, 2) AS BIGINT) AS dist2
FROM supplier, customer
WHERE power((s_suppkey * 7) % 100 - (c_custkey * 3) % 101, 2)
    + power((s_suppkey * 13) % 100 - (c_custkey * 11) % 101, 2) <= 25
ORDER BY s_suppkey, c_custkey;

-- name: ml01_learn_regressor
SELECT l_returnflag,
  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag;
