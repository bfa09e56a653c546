-- q5 shape: ROLLUP NULL rows straddle the LIMIT, so the oracle must
-- pin Spark's NULLS FIRST order
select channel, id, sum(sales) as sales
from (select 'store channel' as channel, 'store' || s_store_id as id,
        ss_ext_sales_price as sales
      from store_sales, store
      where ss_store_sk = s_store_sk) x
group by rollup (channel, id)
ORDER BY channel, id
LIMIT 5
