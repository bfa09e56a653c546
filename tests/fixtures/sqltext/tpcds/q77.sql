-- q77 shape: returns is a DuckDB reserved word (no implicit alias)
select s_store_sk as id, sum(sr_return_amt) returns
from store_returns, store
where sr_store_sk = s_store_sk
group by s_store_sk
order by id
limit 100
