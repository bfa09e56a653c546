-- q86a shape: rank() is INT on Spark, BIGINT on DuckDB
select sum(ws_net_paid) as total_sum, i_category, i_class, 0 as lochierarchy,
  rank() over (partition by i_category order by sum(ws_net_paid) desc) as rank_within_parent
from web_sales, item
where i_item_sk = ws_item_sk
group by i_category, i_class
