{% snapshot orders_snapshot %}
{{ config(unique_key='o_orderkey', strategy='timestamp', updated_at='o_orderdate') }}
SELECT o_orderkey, o_totalprice, o_orderdate FROM {{ source('tpch', 'orders') }}
{% endsnapshot %}
