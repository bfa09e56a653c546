-- q97 shape: SUM(INT) is BIGINT on Spark, HUGEINT on DuckDB
select sum(case when ssci.customer_sk is not null and csci.customer_sk is null then 1 else 0 end) store_only,
  sum(case when ssci.customer_sk is null and csci.customer_sk is not null then 1 else 0 end) catalog_only,
  sum(case when ssci.customer_sk is not null and csci.customer_sk is not null then 1 else 0 end) store_and_catalog
from (select ss_customer_sk customer_sk, ss_item_sk item_sk
      from store_sales group by ss_customer_sk, ss_item_sk) ssci
full outer join (select cs_bill_customer_sk customer_sk, cs_item_sk item_sk
      from catalog_sales group by cs_bill_customer_sk, cs_item_sk) csci
  on ssci.customer_sk = csci.customer_sk and ssci.item_sk = csci.item_sk
