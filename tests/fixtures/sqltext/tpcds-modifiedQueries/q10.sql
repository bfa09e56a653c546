-- q10 shape: LEFT SEMI JOIN (oracle spells it SEMI JOIN); fitted
-- county names map into the synthesized domain
select cd_gender, cd_marital_status, count(*) as cnt1
from customer c
  left semi join store_sales on c.c_customer_sk = ss_customer_sk
  join customer_address ca on c.c_current_addr_sk = ca.ca_address_sk
  join customer_demographics on cd_demo_sk = c.c_current_cdemo_sk
where ca_county in ('Walker County', 'Richland County', 'Gaines County',
                    'Douglas County', 'Dona Ana County')
group by cd_gender, cd_marital_status
order by cd_gender, cd_marital_status
