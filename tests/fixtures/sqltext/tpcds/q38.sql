-- q38 shape: unaliased count(*) (DuckDB count_star() renamed to
-- Spark's count(1)) over a backtick-quoted alias
select count(*) from (
  select distinct ss_customer_sk as `cust`
  from store_sales
  where ss_quantity > 40
) hot_cust
