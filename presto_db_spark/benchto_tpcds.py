"""TPC-DS benchto schema adapter — run the reference's OWN TPC-DS SQL
verbatim through ``Engine.sql``.

Companion to :mod:`presto_db_spark.benchto` (the TPC-H adapter): the
reference ships its TPC-DS corpus as raw Presto SQL
(``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/q01-q99``)
against the full TPC-DS star schema. This module mounts that schema over
the driver tables as a view layer — store_sales/catalog_sales/web_sales
from lineitem ⋈ orders, item from part, store from supplier, date_dim /
time_dim / demographics / promotion from generated series — and builds
the IDENTICAL views in DuckDB so every file value-checks against an
independent engine on the same inputs.

Synthesized columns are deterministic pure expressions of the key columns
(same text evaluated by both engines), with domains styled after the
TPC-DS spec (store names 'ought'/'able'/'ese'…, category list, buy
potential bands, 'Williamson County') so the reference predicates select
non-trivial subsets. The driver FACT data spans 1995-2001, which covers
the TPC-DS predicates' 1998-2001 windows without date shifting; since r11
a deterministic 25% slice of fact rows sells in 2001-11-01..2002-12-31
(see the `sold` expression) so the late gates q27 (d_year = 2002) and
q14_1 (2001-11) aggregate real rows too, and returns are PARTIAL
(quantity - 1) so year-over-year net-sales ratios (q75) never divide by
a fully-returned zero.

At 100 TB the fact views are one fused scan-join (lineitem ⋈ orders on
the order key — co-partitioned), every synthesized column is a JVM
expression, and the series dims are tiny generated relations.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .benchto import _case_mod

_CATEGORIES = ["Books", "Home", "Electronics", "Jewelry", "Music",
               "Men", "Shoes", "Sports", "Women", "Children"]
_CLASSES = ["personal", "portable", "reference", "self-help", "accessories",
            "classical", "fragrances", "pants", "birdal", "estate",
            "custom", "mens watch", "dresses", "infants", "pop", "maternity"]
_STORE_NAMES = ["ought", "able", "pri", "ese", "anti",
                "cally", "ation", "eing", "bar", "n st"]
_CITIES = ["Fairview", "Midway", "Pleasant Hill", "Centerville", "Oakland", "Riverside"]
_COUNTIES = ["Williamson County", "Franklin Parish", "Bronx County",
             "Orange County", "Salem County"]
# Chosen to intersect the corpus's state gates (q18 MS/IN/ND/OK/NM/VA,
# q16/q30 GA, q94 IL, q69 KY/GA/NM, q85 IN/OH/NJ/WI/CT/KY/LA, q27 TN).
_STATES = ["TN", "GA", "IN", "NM", "OH", "TX", "KY", "IL",
           "MS", "ND", "OK", "VA", "WI", "LA", "NJ", "SD"]
_EDUCATION = ["Primary", "Secondary", "College", "2 yr Degree",
              "4 yr Degree", "Advanced Degree", "Unknown"]
_MARITAL = ["M", "S", "D", "W", "U"]
_BUY_POTENTIAL = ["Unknown", ">10000", "1001-5000", "5001-10000", "0-500", "501-1000"]
_SALUTATIONS = ["Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir"]
_SM_TYPES = ["EXPRESS", "NEXT DAY", "OVERNIGHT", "REGULAR", "LIBRARY"]
_COLORS = ["slate", "blanched", "burnished", "pale", "powder", "khaki",
           "brown", "honeydew", "floral", "deep", "light", "cornflower",
           "midnight", "snow", "cyan", "papaya", "orange", "frosted",
           "forest", "ghost"]
_UNITS = ["Ounce", "Oz", "Bunch", "Ton", "N/A", "Dozen", "Box", "Pound",
          "Pallet", "Gross", "Cup", "Dram", "Each", "Tbl", "Lb", "Bundle"]
_DAY_NAMES = ["Thursday", "Friday", "Saturday", "Sunday",
              "Monday", "Tuesday", "Wednesday"]
_SIZES = ["medium", "extra large", "N/A", "small", "petite", "large", "economy"]


def view_definitions(raw, s, dd, idiv, ser, dser) -> dict[str, str]:
    """The adapter views as SELECT texts; the lambdas isolate the only
    spellings that differ between Spark and DuckDB:

    ``raw(t)`` raw-table ref · ``s(x)`` int→string cast · ``dd(x)`` days
    since 1900-01-01 of date-expr x · ``idiv(a, b)`` integer division ·
    ``ser(lo, hi)`` integer series relation with column ``i`` ·
    ``dser()`` date series 1995-01-01..2002-12-31 with column ``d``.
    """
    # Fact spine: lineitem ⋈ orders (the TPC-H-ish driver tables).
    fact = f"{raw('lineitem')} l JOIN {raw('orders')} o ON l.l_orderkey = o.o_orderkey"
    # r11 (VERDICT r10 directive #6): the driver orderdates end 2001-08-01,
    # which left q27 (d_year = 2002) and q14_1 (d_year = 2001, d_moy = 11)
    # aggregating over EMPTY input — an engine-semantics knife edge
    # (DuckDB emits the standard's all-NULL grand-total ROLLUP row over
    # empty input, Spark emits none), so both files sat excluded. A
    # deterministic 25% slice of fact rows now sells in the synthesized
    # late window 2001-11-01..2002-12-31 (sk 37194 + offset < 426 — never
    # past the date_dim series end): both gates select real rows at every
    # SF (measured sf0.001: q27 full-gate 2, Nov-2001 slice 115) and the
    # two files value-check like the other hundred. Pure integer
    # arithmetic at the sk level — the identical text evaluates in both
    # engines; the non-slice 75% keeps the original orderdate timeline.
    sold = (
        "CASE WHEN mod(l.l_orderkey * 31 + l.l_linenumber, 4) = 0 "
        "THEN 37194 + mod(l.l_orderkey * 53 + l.l_linenumber * 17, 426) "
        f"ELSE {dd('CAST(o.o_orderdate AS DATE)')} END"
    )
    # Two knife-edge guards the late window exposed (both engine-semantic,
    # both removed by making the DATA unambiguous rather than loosening
    # the comparator):
    # * returns are PARTIAL (quantity - 1): a fully-returned item-year
    #   made q75's prev_yr net sales_cnt exactly 0 — Spark/Presto throw
    #   on the decimal division, DuckDB yields NULL.
    # * catalog carries its own list markup (1.05 on cs_ext_list_price):
    #   a customer whose store/catalog row sets coincide (no 'R' rows)
    #   produced EXACTLY equal channel year-totals — q04's strict cs>ss
    #   ratio compare then sits on an exact tie that Spark's decimal
    #   division resolves per the standard (false, matching Presto)
    #   while DuckDB's order-dependent double summation flips either way.
    shipped = dd("CAST(l.l_shipdate AS DATE)")
    # Returns are quantity-1 PARTIAL returns and single-unit purchases are
    # never returned (l_quantity >= 2): every return row then has
    # return_quantity >= 1 (q17's avg(sr_return_quantity) can never be an
    # all-zero group → no divide-by-zero; q83's channel denominators stay
    # positive) and every matched sale keeps net quantity >= 1 (q75's
    # prev-year net sales_cnt can never be 0).
    rfact = fact + " AND l.l_returnflag = 'R' AND l.l_quantity >= 2"
    return {
        "date_dim": f"""
            SELECT {dd('d')} AS d_date_sk, d AS d_date,
                   year(d) AS d_year, month(d) AS d_moy, day(d) AS d_dom,
                   mod({dd('d')} + 4, 7) AS d_dow,
                   (year(d) - 1900) * 12 + month(d) - 1 AS d_month_seq,
                   (year(d) - 1900) * 54 + weekofyear(d) AS d_week_seq,
                   quarter(d) AS d_qoy,
                   {_case_mod(dd('d') + ' + 4', _DAY_NAMES)} AS d_day_name,
                   {s('year(d)')} || 'Q' || {s('quarter(d)')} AS d_quarter_name
            FROM {dser()}""",
        "time_dim": f"""
            SELECT i AS t_time_sk, i AS t_time, {idiv('i', 3600)} AS t_hour,
                   mod({idiv('i', 60)}, 60) AS t_minute,
                   mod(i, 60) AS t_second,
                   CASE WHEN {idiv('i', 3600)} BETWEEN 6 AND 8 THEN 'breakfast'
                        WHEN {idiv('i', 3600)} BETWEEN 17 AND 19 THEN 'dinner'
                        ELSE NULL END AS t_meal_time
            FROM {ser(0, 86399)}""",
        "reason": f"""
            SELECT i AS r_reason_sk, 'reason_' || {s('i')} AS r_reason_id,
                   'reason_description_' || {s('i')} AS r_reason_desc
            FROM {ser(0, 54)}""",
        "catalog_page": f"""
            SELECT i AS cp_catalog_page_sk,
                   'cp_id_' || {s('i')} AS cp_catalog_page_id
            FROM {ser(0, 59)}""",
        "web_page": f"""
            SELECT i AS wp_web_page_sk, 'page_' || {s('i')} AS wp_web_page_id,
                   CASE mod(i, 2) WHEN 0 THEN 'Y' ELSE 'N' END AS wp_autogen_flag,
                   4900 + mod(i * 7, 400) AS wp_char_count
            FROM {ser(0, 59)}""",
        "item": f"""
            SELECT p_partkey AS i_item_sk,
                   'item_' || {s('p_partkey')} AS i_item_id,
                   p_name AS i_item_desc, p_brand AS i_brand,
                   1 + mod(p_partkey, 25) AS i_brand_id,
                   {_case_mod('p_partkey', _CATEGORIES)} AS i_category,
                   1 + mod(p_partkey, {len(_CATEGORIES)}) AS i_category_id,
                   {_case_mod('p_partkey', _CLASSES)} AS i_class,
                   1 + mod(p_partkey, {len(_CLASSES)}) AS i_class_id,
                   mod(p_partkey, 200) AS i_manufact_id,
                   'manufact_' || {s('mod(p_partkey, 200)')} AS i_manufact,
                   mod(p_partkey, 100) AS i_manager_id,
                   p_retailprice / 10 AS i_current_price,
                   p_retailprice / 15 AS i_wholesale_cost,
                   'product_' || p_name AS i_product_name,
                   {_case_mod('p_partkey * 3 + 1', _COLORS)} AS i_color,
                   {_case_mod('p_partkey * 7 + 2', _UNITS)} AS i_units,
                   {_case_mod('p_partkey * 11 + 3', _SIZES)} AS i_size
            FROM {raw('part')}""",
        "store": f"""
            SELECT s_suppkey AS s_store_sk,
                   'store_' || {s('s_suppkey')} AS s_store_id,
                   {_case_mod('s_suppkey', _STORE_NAMES)} AS s_store_name,
                   {_case_mod('s_suppkey', _CITIES)} AS s_city,
                   {_case_mod('s_suppkey * 3 + 1', _COUNTIES)} AS s_county,
                   {_case_mod('s_suppkey * 7 + 2', _STATES)} AS s_state,
                   'zip_' || {s('mod(s_suppkey, 100)')} AS s_zip,
                   200 + mod(s_suppkey * 7, 100) AS s_number_employees,
                   -5.0 - mod(s_suppkey, 4) AS s_gmt_offset,
                   1 + mod(s_suppkey, 6) AS s_company_id,
                   'company_' || {s('1 + mod(s_suppkey, 6)')} AS s_company_name,
                   1 + mod(s_suppkey, 10) AS s_market_id,
                   {s('1 + mod(s_suppkey * 13, 999)')} AS s_street_number,
                   'Street_' || {s('mod(s_suppkey * 3, 40)')} AS s_street_name,
                   {_case_mod('s_suppkey', ['Ave', 'Blvd', 'Ct', 'Dr', 'Ln', 'St', 'Way'])} AS s_street_type,
                   'Suite ' || {s('mod(s_suppkey, 100)')} AS s_suite_number
            FROM {raw('supplier')}""",
        "customer": f"""
            SELECT c_custkey AS c_customer_sk,
                   'customer_id_' || {s('c_custkey')} AS c_customer_id,
                   'First' || {s('mod(c_custkey, 97)')} AS c_first_name,
                   c_name AS c_last_name,
                   {_case_mod('c_custkey', _SALUTATIONS)} AS c_salutation,
                   CASE mod(c_custkey, 2) WHEN 0 THEN 'Y' ELSE 'N' END
                       AS c_preferred_cust_flag,
                   c_custkey AS c_current_addr_sk,
                   mod(c_custkey * 13, 7200) AS c_current_cdemo_sk,
                   mod(c_custkey * 17, 7200) AS c_current_hdemo_sk,
                   'UNITED STATES' AS c_birth_country,
                   'c_login_' || {s('c_custkey')} AS c_login,
                   'c' || {s('c_custkey')} || '@example.com' AS c_email_address,
                   34698 + mod(c_custkey * 7, 2500) AS c_first_sales_date_sk,
                   34698 + mod(c_custkey * 11, 2500) AS c_first_shipto_date_sk,
                   34698 + mod(c_custkey * 13, 2500) AS c_last_review_date_sk,
                   1 + mod(c_custkey, 28) AS c_birth_day,
                   1 + mod(c_custkey * 5, 12) AS c_birth_month,
                   1924 + mod(c_custkey * 7, 70) AS c_birth_year
            FROM {raw('customer')}""",
        "customer_address": f"""
            SELECT c_custkey AS ca_address_sk,
                   {_case_mod('c_custkey', _CITIES)} AS ca_city,
                   {_case_mod('c_custkey * 3 + 1', _COUNTIES)} AS ca_county,
                   {_case_mod('c_custkey * 7 + 2', _STATES)} AS ca_state,
                   'zip_' || {s('mod(c_custkey, 100)')} AS ca_zip,
                   'United States' AS ca_country,
                   {s('1 + mod(c_custkey * 13, 999)')} AS ca_street_number,
                   'Street_' || {s('mod(c_custkey * 3, 40)')} AS ca_street_name,
                   {_case_mod('c_custkey', ['Ave', 'Blvd', 'Ct', 'Dr', 'Ln', 'St', 'Way'])} AS ca_street_type,
                   'Suite ' || {s('mod(c_custkey, 100)')} AS ca_suite_number,
                   {_case_mod('c_custkey * 5 + 1', ['apartment', 'condo', 'single family'])} AS ca_location_type,
                   -5.0 - mod(c_custkey, 4) AS ca_gmt_offset
            FROM {raw('customer')}""",
        # CRT domains (2·5·7 | 70, all coprime) so every (gender, marital,
        # education) combination exists in the 7200-row series.
        "customer_demographics": f"""
            SELECT i AS cd_demo_sk,
                   CASE mod(i, 2) WHEN 0 THEN 'M' ELSE 'F' END AS cd_gender,
                   {_case_mod('i', _MARITAL)} AS cd_marital_status,
                   {_case_mod('i', _EDUCATION)} AS cd_education_status,
                   500 + 500 * mod(i, 11) AS cd_purchase_estimate,
                   mod(i, 7) AS cd_dep_count,
                   {_case_mod('i', ['Good', 'Low Risk', 'High Risk', 'Unknown'])} AS cd_credit_rating,
                   mod(i, 6) AS cd_dep_employed_count,
                   mod(i, 4) AS cd_dep_college_count
            FROM {ser(0, 7199)}""",
        "household_demographics": f"""
            SELECT i AS hd_demo_sk,
                   mod(i, 10) AS hd_dep_count,
                   mod(i, 7) AS hd_vehicle_count,
                   {_case_mod('i', _BUY_POTENTIAL)} AS hd_buy_potential,
                   mod(i, 20) AS hd_income_band_sk
            FROM {ser(0, 7199)}""",
        "promotion": f"""
            SELECT i AS p_promo_sk, 'promo_' || {s('i')} AS p_promo_id,
                   'promo_name_' || {s('mod(i, 50)')} AS p_promo_name,
                   CASE mod(i, 2) WHEN 0 THEN 'N' ELSE 'Y' END AS p_channel_email,
                   CASE mod(i, 3) WHEN 0 THEN 'N' ELSE 'Y' END AS p_channel_event,
                   CASE mod(i, 5) WHEN 0 THEN 'N' ELSE 'Y' END AS p_channel_dmail,
                   CASE mod(i, 7) WHEN 0 THEN 'N' ELSE 'Y' END AS p_channel_tv
            FROM {ser(0, 299)}""",
        "warehouse": f"""
            SELECT i AS w_warehouse_sk,
                   'warehouse_number_' || {s('i')} AS w_warehouse_name,
                   {_case_mod('i * 7 + 2', _STATES)} AS w_state,
                   {_case_mod('i', _CITIES)} AS w_city,
                   {_case_mod('i * 3 + 1', _COUNTIES)} AS w_county,
                   'United States' AS w_country,
                   1000 + i * 500 AS w_warehouse_sq_ft
            FROM {ser(0, 4)}""",
        "ship_mode": f"""
            SELECT i AS sm_ship_mode_sk, {_case_mod('i', _SM_TYPES)} AS sm_type,
                   {_case_mod('i * 3 + 1', ['DHL', 'BARIAN', 'UPS', 'FEDEX', 'AIRBORNE', 'USPS'])} AS sm_carrier
            FROM {ser(0, 19)}""",
        "web_site": f"""
            SELECT i AS web_site_sk, 'site_' || {s('i')} AS web_name,
                   'site_id_' || {s('i')} AS web_site_id,
                   {_case_mod('i', _STORE_NAMES)} AS web_company_name
            FROM {ser(0, 29)}""",
        "call_center": f"""
            SELECT i AS cc_call_center_sk, 'call_center_' || {s('i')} AS cc_name,
                   'cc_id_' || {s('i')} AS cc_call_center_id,
                   'Manager_' || {s('mod(i * 7, 20)')} AS cc_manager,
                   {_case_mod('i * 3 + 1', _COUNTIES)} AS cc_county
            FROM {ser(0, 5)}""",
        "income_band": f"""
            SELECT i AS ib_income_band_sk, i * 10000 AS ib_lower_bound,
                   (i + 1) * 10000 - 1 AS ib_upper_bound
            FROM {ser(0, 19)}""",
        # Inventory: one on-hand row per (item, warehouse, ship-date) from
        # the fact — quantity plays on-hand stock.
        "inventory": f"""
            SELECT {shipped} AS inv_date_sk,
                   l.l_partkey AS inv_item_sk,
                   mod(l.l_suppkey, 5) AS inv_warehouse_sk,
                   l.l_quantity * 10 AS inv_quantity_on_hand
            FROM {fact}""",
        "store_sales": f"""
            SELECT {sold} AS ss_sold_date_sk,
                   mod(l.l_orderkey * 181 + l.l_linenumber * 7919, 86400)
                       AS ss_sold_time_sk,
                   l.l_partkey AS ss_item_sk, l.l_suppkey AS ss_store_sk,
                   o.o_custkey AS ss_customer_sk, o.o_custkey AS ss_addr_sk,
                   mod(l.l_orderkey * 13 + l.l_linenumber * 31, 7200) AS ss_cdemo_sk,
                   mod(l.l_orderkey * 17 + l.l_linenumber * 23, 7200) AS ss_hdemo_sk,
                   mod(l.l_orderkey * 7 + l.l_linenumber * 11, 300) AS ss_promo_sk,
                   l.l_orderkey AS ss_ticket_number,
                   l.l_quantity AS ss_quantity,
                   l.l_extendedprice / l.l_quantity AS ss_sales_price,
                   l.l_extendedprice * (1 + l.l_tax) / l.l_quantity AS ss_list_price,
                   l.l_extendedprice AS ss_ext_sales_price,
                   l.l_extendedprice * (1 + l.l_tax) AS ss_ext_list_price,
                   l.l_extendedprice * l.l_discount AS ss_ext_discount_amt,
                   l.l_extendedprice * l.l_tax AS ss_ext_tax,
                   l.l_extendedprice * l.l_discount AS ss_coupon_amt,
                   l.l_extendedprice * 0.8 AS ss_ext_wholesale_cost,
                   l.l_extendedprice * 0.8 / l.l_quantity AS ss_wholesale_cost,
                   l.l_extendedprice * (1 - l.l_discount) AS ss_net_paid,
                   l.l_extendedprice * (0.2 - l.l_discount) AS ss_net_profit
            FROM {fact}""",
        "catalog_sales": f"""
            SELECT {sold} AS cs_sold_date_sk,
                   {shipped} AS cs_ship_date_sk,
                   l.l_partkey AS cs_item_sk,
                   o.o_custkey AS cs_bill_customer_sk,
                   mod(l.l_orderkey * 13 + l.l_linenumber * 31, 7200) AS cs_bill_cdemo_sk,
                   mod(l.l_orderkey * 17 + l.l_linenumber * 23, 7200) AS cs_bill_hdemo_sk,
                   mod(l.l_suppkey, 6) AS cs_call_center_sk,
                   mod(l.l_suppkey, 5) AS cs_warehouse_sk,
                   mod(l.l_orderkey + l.l_linenumber, 20) AS cs_ship_mode_sk,
                   mod(l.l_orderkey * 7 + l.l_linenumber * 11, 300) AS cs_promo_sk,
                   o.o_custkey AS cs_bill_addr_sk,
                   o.o_custkey AS cs_ship_addr_sk,
                   o.o_custkey AS cs_ship_customer_sk,
                   mod(l.l_orderkey * 181 + l.l_linenumber * 7919, 86400)
                       AS cs_sold_time_sk,
                   l.l_extendedprice * l.l_discount AS cs_coupon_amt,
                   l.l_orderkey AS cs_order_number,
                   l.l_quantity AS cs_quantity,
                   l.l_extendedprice * l.l_tax AS cs_ext_ship_cost,
                   l.l_extendedprice / l.l_quantity AS cs_sales_price,
                   l.l_extendedprice * (1 + l.l_tax) / l.l_quantity AS cs_list_price,
                   l.l_extendedprice * 0.8 / l.l_quantity AS cs_wholesale_cost,
                   l.l_extendedprice * 0.8 AS cs_ext_wholesale_cost,
                   l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax)
                       AS cs_net_paid_inc_tax,
                   mod(l.l_orderkey * 3, 60) AS cs_catalog_page_sk,
                   l.l_extendedprice AS cs_ext_sales_price,
                   l.l_extendedprice * (1 + l.l_tax) * 1.05 AS cs_ext_list_price,
                   l.l_extendedprice * l.l_discount AS cs_ext_discount_amt,
                   l.l_extendedprice * (1 - l.l_discount) AS cs_net_paid,
                   l.l_extendedprice * (0.2 - l.l_discount) AS cs_net_profit
            FROM {fact}
            WHERE l.l_returnflag <> 'R'""",
        "store_returns": f"""
            SELECT {shipped} AS sr_returned_date_sk,
                   l.l_partkey AS sr_item_sk, l.l_orderkey AS sr_ticket_number,
                   o.o_custkey AS sr_customer_sk, l.l_suppkey AS sr_store_sk,
                   mod(l.l_orderkey * 13 + l.l_linenumber * 31, 7200) AS sr_cdemo_sk,
                   mod(l.l_linenumber * 11 + l.l_orderkey, 55) AS sr_reason_sk,
                   l.l_quantity - 1 AS sr_return_quantity,
                   l.l_extendedprice * l.l_discount AS sr_return_amt,
                   l.l_extendedprice * l.l_tax AS sr_net_loss,
                   l.l_extendedprice * 0.05 AS sr_fee
            FROM {rfact}""",
        "catalog_returns": f"""
            SELECT {shipped} AS cr_returned_date_sk,
                   l.l_partkey AS cr_item_sk, l.l_orderkey AS cr_order_number,
                   o.o_custkey AS cr_returning_customer_sk,
                   o.o_custkey AS cr_returning_addr_sk,
                   mod(l.l_suppkey, 6) AS cr_call_center_sk,
                   mod(l.l_orderkey * 3, 60) AS cr_catalog_page_sk,
                   l.l_quantity - 1 AS cr_return_quantity,
                   l.l_extendedprice * l.l_discount AS cr_return_amount,
                   l.l_extendedprice * (l.l_discount + l.l_tax) AS cr_return_amt_inc_tax,
                   l.l_extendedprice * l.l_tax AS cr_net_loss,
                   l.l_extendedprice * l.l_discount * 0.5 AS cr_refunded_cash,
                   l.l_extendedprice * l.l_discount * 0.3 AS cr_reversed_charge,
                   l.l_extendedprice * l.l_discount * 0.2 AS cr_store_credit
            FROM {rfact}""",
        "web_returns": f"""
            SELECT {shipped} AS wr_returned_date_sk,
                   l.l_partkey AS wr_item_sk, l.l_orderkey AS wr_order_number,
                   o.o_custkey AS wr_returning_customer_sk,
                   o.o_custkey AS wr_refunded_addr_sk,
                   o.o_custkey AS wr_returning_addr_sk,
                   mod(l.l_orderkey * 13 + l.l_linenumber * 31, 7200) AS wr_refunded_cdemo_sk,
                   mod(l.l_orderkey * 17 + l.l_linenumber * 23, 7200) AS wr_returning_cdemo_sk,
                   mod(l.l_orderkey * 3, 60) AS wr_web_page_sk,
                   mod(l.l_linenumber * 11 + l.l_orderkey, 55) AS wr_reason_sk,
                   l.l_quantity - 1 AS wr_return_quantity,
                   l.l_extendedprice * l.l_discount AS wr_return_amt,
                   l.l_extendedprice * l.l_tax AS wr_net_loss,
                   l.l_extendedprice * l.l_discount * 0.5 AS wr_refunded_cash,
                   l.l_extendedprice * 0.05 AS wr_fee
            FROM {rfact}""",
        "web_sales": f"""
            SELECT {sold} AS ws_sold_date_sk,
                   {shipped} AS ws_ship_date_sk,
                   l.l_partkey AS ws_item_sk,
                   o.o_custkey AS ws_bill_customer_sk,
                   mod(l.l_suppkey, 5) AS ws_warehouse_sk,
                   mod(l.l_orderkey + l.l_linenumber, 20) AS ws_ship_mode_sk,
                   mod(l.l_orderkey, 30) AS ws_web_site_sk,
                   mod(l.l_orderkey * 3, 60) AS ws_web_page_sk,
                   o.o_custkey AS ws_bill_addr_sk,
                   o.o_custkey AS ws_ship_addr_sk,
                   mod(l.l_orderkey * 181 + l.l_linenumber * 7919, 86400)
                       AS ws_sold_time_sk,
                   mod(l.l_orderkey * 17 + l.l_linenumber * 23, 7200) AS ws_ship_hdemo_sk,
                   l.l_orderkey AS ws_order_number,
                   l.l_quantity AS ws_quantity,
                   o.o_custkey AS ws_ship_customer_sk,
                   l.l_extendedprice / l.l_quantity AS ws_sales_price,
                   l.l_extendedprice * (1 + l.l_tax) / l.l_quantity AS ws_list_price,
                   l.l_extendedprice * (1 + l.l_tax) AS ws_ext_list_price,
                   l.l_extendedprice * 0.8 AS ws_ext_wholesale_cost,
                   l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax)
                       AS ws_net_paid_inc_tax,
                   mod(l.l_orderkey * 7 + l.l_linenumber * 11, 300) AS ws_promo_sk,
                   l.l_extendedprice * 0.8 / l.l_quantity AS ws_wholesale_cost,
                   l.l_extendedprice AS ws_ext_sales_price,
                   l.l_extendedprice * l.l_discount AS ws_ext_discount_amt,
                   l.l_extendedprice * l.l_tax AS ws_ext_ship_cost,
                   l.l_extendedprice * (1 - l.l_discount) AS ws_net_paid,
                   l.l_extendedprice * (0.2 - l.l_discount) AS ws_net_profit
            FROM {fact}
            WHERE l.l_linestatus = 'O'""",
    }


def _spark_lambdas():
    return dict(
        s=lambda x: f"CAST({x} AS STRING)",
        dd=lambda x: f"datediff({x}, DATE '1900-01-01')",
        idiv=lambda a, b: f"({a} DIV {b})",
        ser=lambda lo, hi: f"(SELECT explode(sequence({lo}, {hi})) AS i)",
        dser=lambda: ("(SELECT explode(sequence(DATE '1995-01-01', "
                      "DATE '2002-12-31', INTERVAL 1 DAY)) AS d)"),
    )


def register_tpcds_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Create the TPC-DS adapter as Spark temp views over the driver
    parquet at *sf_dir*. The reference files then run verbatim through
    ``Engine.sql`` (``tpcds`` is already a stripped catalog prefix)."""
    from .catalog import load_table

    # The adapter defines a view literally NAMED `customer` over the raw
    # `customer` table — register the raw tables under a __raw_ prefix so
    # the adapter views never shadow their own inputs.
    for t in ("lineitem", "orders", "part", "supplier", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__raw_{t}")
    defs = view_definitions(raw=lambda t: f"__raw_{t}", **_spark_lambdas())
    names = []
    for table, body in defs.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {table} AS {body}")
        names.append(table)
    return names


def register_tpcds_duckdb(con, sf_dir: str, database: str = "tpcds",
                          schema: str = "sf") -> None:
    """Build the IDENTICAL view layer in DuckDB under ``database.schema``
    so the same post-substitution SQL runs there as the oracle."""
    con.execute(f"ATTACH IF NOT EXISTS ':memory:' AS {database}")
    con.execute(f"CREATE SCHEMA IF NOT EXISTS {database}.{schema}")
    defs = view_definitions(
        raw=lambda t: f"read_parquet('{sf_dir}/{t}.parquet')",
        s=lambda x: f"CAST({x} AS VARCHAR)",
        dd=lambda x: f"datediff('day', DATE '1900-01-01', {x})",
        idiv=lambda a, b: f"({a} // {b})",
        ser=lambda lo, hi: f"(SELECT unnest(generate_series({lo}, {hi})) AS i)",
        dser=lambda: ("(SELECT CAST(unnest(generate_series(DATE '1995-01-01', "
                      "DATE '2002-12-31', INTERVAL 1 DAY)) AS DATE) AS d)"),
    )
    for table, body in defs.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {database}.{schema}.{table} AS {body}"
        )
