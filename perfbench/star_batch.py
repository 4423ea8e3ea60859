"""The star half of the ``batch`` workload: the reference's own batch job
plus warehouse queries.

Its share of a pass: read the raw CSVs, run ``plans.pipeline.run_reference_pipeline``,
write the fact day-partitioned and clustered with
``sources.writers.write_parquet_partitioned``, register the star over the
written fact with ``plans.star.register_star``, collect every
``plans.star`` EDA query, then collect the TPC-H-style warehouse queries
over generated TPC-H-schema parquet.

Checks (after the timed passes): the written fact equals a DuckDB
recomputation from the same raw CSVs using this file's SQL for the
reference cleaning rules; total ``tickets_sold`` equals the generator's
valid-ticket total times the number of markets; every EDA and warehouse
result equals this file's DuckDB SQL over the same inputs.
"""

from __future__ import annotations

import json
import os

import duckdb

import gen
from common import compare_rows, compare_tables, dir_bytes, drop_row, perturb_value, rows_of, swap_ids

# warehouse query -> the module whose operator shapes it (the module the
# materializing action is attributed to; None: plain DataFrame API)
WAREHOUSE = {
    "q_tpch_q1": None, "q_tpch_q3": "operators.relational", "q_tpch_q6": None,
    "q_tpch_q7": None, "q_tpch_q10": "operators.relational",
    "q_tpch_q18": "operators.relational", "q_tpch_q19": None, "q_flagship": None,
    "q_asof_join": "operators.asof", "q_daily_rollup": "operators.aggregates",
    "q_stats_kit": "operators.aggregates", "q_rank_kit": "operators.windows",
    "q_sessionization": None, "q_scd2_history": None,
}
EDA = ("coverage", "rainy_vs_dry", "temp_bands", "util_corr", "top_sections",
       "sellout_rate", "temp_bin_util")
# numeric tolerance per result: values rounded to 2 dp by either engine can
# land one step apart on a .005 boundary
EDA_TOL = {"abs_tol": 0.0101}
WAREHOUSE_TOL = {"q_stats_kit": {"abs_tol": 2e-3, "rel_tol": 1e-8}}

GRAIN = ["event_date", "market", "venue_id", "venue", "section"]
FACT_COLS = GRAIN + [
    "tickets_sold", "revenue", "avg_price", "section_capacity", "utilization",
    "avg_temp_c", "min_temp_c", "max_temp_c", "avg_rh_pct", "avg_wind_mps",
    "total_precip_mm", "windy_hours", "rainy_hours", "freezing_hours", "hours_observed",
]


def make_inputs(work: str, seed: int, scale: str) -> dict:
    return {"star": gen.ensure(work, "star", seed, scale), "tpch": gen.ensure(work, "tpch", seed, scale)}


class Part:
    def __init__(self, spark, tracer, run_dir: str):
        import __spark_entry__ as entry
        from pwhl_data_engineering_pipeline_spark import schemas
        from pwhl_data_engineering_pipeline_spark.plans import pipeline, star
        from pwhl_data_engineering_pipeline_spark.sources import readers, writers

        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.entry, self.schemas = entry, schemas
        self.pipeline, self.star, self.readers, self.writers = pipeline, star, readers, writers
        self.results: dict = {}
        self.fact_dir = None
        self.written = (0, 0)

    # -- one pass ------------------------------------------------------------

    def _ops(self, inp: dict, out_dir: str):
        spark, r, sch = self.spark, self.readers, self.schemas
        star_dir, tpch = inp["star"], inp["tpch"]
        state = {}

        def build():
            raw = {
                "wx": r.read_csv(spark, f"{star_dir}/weather_hourly.csv", sch.WEATHER_HOURLY_RAW),
                "sales": r.read_csv(spark, f"{star_dir}/ticket_sales.csv", sch.TICKET_SALES_RAW),
                "cap": r.read_csv(spark, f"{star_dir}/section_capacity.csv", sch.SECTION_CAPACITY_RAW),
                "markets": r.read_csv(spark, f"{star_dir}/markets.csv", sch.MARKETS),
            }
            state["markets"] = raw["markets"]
            state["fact"] = self.pipeline.run_reference_pipeline(
                spark, raw["wx"], raw["sales"], raw["cap"], raw["markets"]
            )

        def write():
            self.writers.write_parquet_partitioned(
                state["fact"], out_dir, ("event_date",), ("market", "venue_id", "section")
            )
            self.written = dir_bytes(out_dir)
            self.tracer.count("writers.files", self.written[0])
            self.tracer.count("writers.written_mb", self.written[1] / 1e6)

        def register():
            fact = r.read_parquet(spark, out_dir)
            self.star.register_star(spark, fact, state["markets"])

        ops = [
            ("build_fact", "plans.pipeline", build),
            ("write_fact", "sources.writers", write),
            ("register_star", "plans.star", register),
        ]
        for name in EDA:
            ops.append((f"eda.{name}", "plans.star", lambda n=name: self.star.run_eda(spark, n).toArrow()))
        for q, module in WAREHOUSE.items():
            fn = getattr(self.entry, q)
            ops.append((q, module or "warehouse", lambda fn=fn: fn(spark, tpch).toArrow()))
        return ops

    def pass_ops(self, inp: dict, i: int):
        """The operations of measured pass ``i``."""
        self.fact_dir = os.path.join(self.run_dir, "fact")
        return self._ops(inp, self.fact_dir)

    def finish(self, first: dict, op_times: dict, n_passes: int) -> dict:
        """Keep the first pass's results for the checks; returns this
        part's per-pass build time and the bytes it wrote."""
        self.results = first
        build = [sum(op_times[n][i] for n in ("build_fact", "write_fact", "register_star"))
                 for i in range(n_passes)]
        return {"build": build, "writes": op_times["write_fact"], "written": self.written[1]}

    # -- checks ----------------------------------------------------------------

    def check(self, inp: dict) -> list[str]:
        self.oracle = Oracle(inp)
        problems = []
        got_fact = self.oracle.con.sql(
            f"SELECT * FROM read_parquet('{self.fact_dir}/**/*.parquet', hive_partitioning = true)"
        ).arrow()
        self.got_fact = rows_of(got_fact, FACT_COLS)
        problems += self.check_fact(self.got_fact)
        problems += self.check_tickets(self.got_fact)
        for name in EDA:
            problems += self.check_eda(name, self.results.get(f"eda.{name}"))
        for q in WAREHOUSE:
            problems += self.check_warehouse(q, self.results.get(q))
        return problems

    def check_fact(self, got_rows) -> list[str]:
        return compare_rows("fact", got_rows, rows_of(self.oracle.fact(), FACT_COLS), abs_tol=0.0101)

    def check_tickets(self, got_rows) -> list[str]:
        i = FACT_COLS.index("tickets_sold")
        total = sum(r[i] or 0 for r in got_rows)
        want = self.oracle.truth["valid_tickets"] * self.oracle.truth["n_markets"]
        return [] if total == want else [f"tickets_sold total {total} != {want}"]

    def check_eda(self, name: str, got) -> list[str]:
        if got is None:
            return [f"eda.{name}: no result"]
        want = self.oracle.eda(name)
        if name == "top_sections":
            return self.oracle.check_top_sections(rows_of(got, want.column_names), rows_of(want))
        return compare_tables(f"eda.{name}", got, want, **EDA_TOL)

    def check_warehouse(self, q: str, got) -> list[str]:
        if got is None:
            return [f"{q}: no result"]
        return compare_tables(q, got, self.oracle.warehouse(q), **WAREHOUSE_TOL.get(q, {}))

    def selftest(self) -> list[str]:
        """Each check must fail on a corrupted result."""
        o, out = self.oracle, []
        cases = [
            ("fact: dropped row", self.check_fact(drop_row(self.got_fact))),
            ("fact: perturbed value", self.check_fact(perturb_value(self.got_fact))),
            ("tickets total: perturbed", self.check_tickets(
                [r[:5] + ((r[5] or 0) + 1,) + r[6:] for r in self.got_fact[:1]] + self.got_fact[1:])),
        ]
        q3 = o.warehouse("q_tpch_q3")
        rows = rows_of(q3)
        cases.append(("warehouse: swapped ids", compare_rows("q3", swap_ids(rows, 0), rows)))
        cases.append(("warehouse: dropped row", compare_rows("q3", drop_row(rows), rows)))
        top = o.eda("top_sections")
        trows = rows_of(top)
        cases.append(("top_sections: swapped ids", o.check_top_sections(swap_ids(trows, 1), trows)))
        cases.append(("top_sections: perturbed", o.check_top_sections(perturb_value(trows), trows)))
        for label, problems in cases:
            if not problems:
                out.append(f"self-test: check did not fail on {label}")
        return out


class Oracle:
    """The reference's cleaning rules, fact build, star views, EDA and
    warehouse queries in DuckDB SQL, over the same generated files."""

    def __init__(self, inp: dict):
        self.con = con = duckdb.connect()
        star, tpch = inp["star"], inp["tpch"]
        with open(f"{star}/truth.json") as fh:
            self.truth = json.load(fh)
        for name in ("ticket_sales", "section_capacity", "weather_hourly", "markets"):
            con.register(f"raw_{name}", _read_csv_strings(f"{star}/{name}.csv"))
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
            p = f"{tpch}/{t}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            cols = "* REPLACE (CAST(ts AS TIMESTAMP) AS ts)" if t == "events" else "*"
            con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM read_parquet('{src}')")
        con.execute(STAR_SQL)

    def fact(self):
        return self.con.sql("SELECT * FROM fact").arrow()

    def eda(self, name: str):
        return self.con.sql(EDA_SQL[name]).arrow()

    def warehouse(self, q: str):
        return self.con.sql(WAREHOUSE_SQL[q]).arrow()

    def check_top_sections(self, got: list[tuple], want: list[tuple]) -> list[str]:
        """Top-20 by utilization: every returned row matches the full
        ranking, and nothing left out ranks clearly above the cut."""
        full = {(r[0], r[1]): r for r in rows_of(self.con.sql(EDA_SQL["top_sections_all"]).arrow())}
        if len(got) != len(want):
            return [f"eda.top_sections: {len(got)} rows, expected {len(want)}"]
        for r in got:
            ref = full.get((r[0], r[1]))
            if ref is None or ref[2] != r[2] or abs(ref[3] - r[3]) > 0.0101:
                return [f"eda.top_sections: row {r} != {ref}"]
        cut = min(r[3] for r in got)
        chosen = {(r[0], r[1]) for r in got}
        for k, r in full.items():
            if k not in chosen and r[3] > cut + 0.0101:
                return [f"eda.top_sections: {k} ({r[3]}) ranks above the cut {cut}"]
        return []


def _read_csv_strings(path: str):
    """A generated CSV as an all-string Arrow table ('' is NULL), read with
    plain Python so no CSV dialect guessing is involved."""
    import pyarrow as pa

    with open(path, encoding="utf-8") as fh:
        header = fh.readline().rstrip("\n").split(",")
        cols = [[] for _ in header]
        for line in fh:
            for c, v in zip(cols, line.rstrip("\n").split(",")):
                c.append(v if v != "" else None)
    return pa.table(dict(zip(header, cols)))


STAR_SQL = r"""
CREATE MACRO ws(s) AS regexp_replace(trim(s), '\s+', ' ', 'g');
CREATE MACRO title(s) AS array_to_string(
    list_transform(string_split(ws(s), ' '), w -> upper(w[1]) || lower(w[2:])), ' ');
CREATE MACRO any_date(s) AS coalesce(
    try_strptime(trim(s), '%m/%d/%Y'), try_strptime(trim(s), '%Y-%m-%d'))::DATE;

CREATE TABLE markets AS
SELECT venue_id, market, venue, country FROM raw_markets;

CREATE TABLE sales AS
SELECT any_date(event_date) AS event_date, title(section) AS section,
       TRY_CAST(ticket_price AS DOUBLE) AS ticket_price,
       TRY_CAST(TRY_CAST(num_tickets AS DOUBLE) AS BIGINT) AS num_tickets,
       TRY_CAST(total_spend AS DOUBLE) AS total_spend
FROM raw_ticket_sales;

CREATE TABLE capacity AS
SELECT any_date(c.event_date) AS event_date, m.market, m.venue_id, m.venue,
       title(c.section) AS section,
       TRY_CAST(TRY_CAST(c.section_capacity AS DOUBLE) AS BIGINT) AS section_capacity
FROM raw_section_capacity c CROSS JOIN markets m;

CREATE TABLE weather_daily AS
SELECT CAST(strptime(w.time, '%Y-%m-%dT%H:%M') AS DATE) AS event_date, w.market, m.venue_id, w.venue,
       round(avg(CAST(temperature_2m AS DOUBLE)), 2) AS avg_temp_c,
       round(min(CAST(temperature_2m AS DOUBLE)), 2) AS min_temp_c,
       round(max(CAST(temperature_2m AS DOUBLE)), 2) AS max_temp_c,
       round(avg(CAST(relative_humidity_2m AS DOUBLE)), 2) AS avg_rh_pct,
       round(avg(CAST(wind_speed_10m AS DOUBLE)), 2) AS avg_wind_mps,
       round(sum(CAST(precipitation AS DOUBLE)), 2) AS total_precip_mm,
       count(*) FILTER (WHERE CAST(wind_speed_10m AS DOUBLE) >= 8.0) AS windy_hours,
       count(*) FILTER (WHERE CAST(precipitation AS DOUBLE) > 0.0) AS rainy_hours,
       count(*) FILTER (WHERE CAST(temperature_2m AS DOUBLE) <= 0.0) AS freezing_hours,
       count(*) AS hours_observed
FROM raw_weather_hourly w JOIN markets m ON m.market = w.market AND m.venue = w.venue
GROUP BY ALL;

CREATE TABLE fact AS
WITH agg AS (
  SELECT s.event_date, m.market, m.venue_id, m.venue, s.section,
         sum(s.num_tickets) AS tickets_sold, sum(s.total_spend) AS revenue,
         avg(s.ticket_price) AS avg_price
  FROM sales s CROSS JOIN markets m
  GROUP BY ALL
)
SELECT a.event_date, a.market, a.venue_id, a.venue, a.section,
       a.tickets_sold, a.revenue, a.avg_price, c.section_capacity,
       a.tickets_sold / nullif(c.section_capacity, 0) AS utilization,
       w.avg_temp_c, w.min_temp_c, w.max_temp_c, w.avg_rh_pct, w.avg_wind_mps,
       w.total_precip_mm, w.windy_hours, w.rainy_hours, w.freezing_hours, w.hours_observed
FROM agg a
LEFT JOIN capacity c USING (event_date, market, venue_id, venue, section)
LEFT JOIN weather_daily w USING (event_date, market, venue_id, venue);

CREATE VIEW vw_sales_weather AS
SELECT * FROM fact;

CREATE VIEW vw_market_daily AS
SELECT event_date, market,
       sum(tickets_sold) / sum(section_capacity) AS utilization,
       any_value(avg_temp_c) AS avg_temp_c,
       any_value(total_precip_mm) AS total_precip_mm
FROM fact GROUP BY event_date, market;

CREATE VIEW vw_venue_section_daily AS
SELECT event_date, venue_id, venue, section,
       sum(tickets_sold) / nullif(sum(section_capacity), 0) AS utilization
FROM fact GROUP BY event_date, venue_id, venue, section;
"""

EDA_SQL = {
    "coverage": """
        SELECT market, venue, count(DISTINCT event_date) AS event_days,
               sum(tickets_sold) AS tickets_sold, round(sum(revenue), 2) AS revenue
        FROM vw_sales_weather GROUP BY market, venue""",
    "rainy_vs_dry": """
        SELECT market, CASE WHEN total_precip_mm > 0 THEN 'Rainy' ELSE 'Dry' END AS day_type,
               count(*) AS day_rows, round(avg(utilization) * 100, 2) AS avg_utilization_pct
        FROM vw_market_daily GROUP BY ALL""",
    "temp_bands": """
        SELECT CASE WHEN avg_temp_c IS NULL THEN 'Unknown'
                    WHEN avg_temp_c < -10 THEN 'Very Cold (< -10C)'
                    WHEN avg_temp_c <= 0 THEN 'Cold (-10 to 0C)'
                    WHEN avg_temp_c <= 5 THEN 'Cool (0 to 5C)'
                    WHEN avg_temp_c <= 15 THEN 'Mild (5 to 15C)'
                    ELSE 'Warm (> 15C)' END AS temp_band,
               count(*) AS day_rows, round(avg(utilization) * 100, 2) AS avg_utilization_pct
        FROM vw_market_daily GROUP BY ALL""",
    "util_corr": "SELECT corr(utilization, avg_temp_c) AS corr_util_temp FROM vw_market_daily",
    "top_sections": """
        SELECT venue_id, section, count(DISTINCT event_date) AS num_events,
               round(avg(utilization) * 100, 2) AS avg_utilization_pct
        FROM vw_venue_section_daily GROUP BY ALL HAVING num_events >= 3
        ORDER BY avg_utilization_pct DESC, venue_id, section LIMIT 20""",
    "top_sections_all": """
        SELECT venue_id, section, count(DISTINCT event_date) AS num_events,
               round(avg(utilization) * 100, 2) AS avg_utilization_pct
        FROM vw_venue_section_daily GROUP BY ALL HAVING num_events >= 3""",
    "sellout_rate": """
        SELECT market, count(*) FILTER (WHERE utilization >= 0.95) AS sellout_days,
               count(*) AS total_days,
               round((count(*) FILTER (WHERE utilization >= 0.95)) / count(*), 4) AS sellout_rate
        FROM vw_market_daily GROUP BY market""",
    "temp_bin_util": """
        SELECT round(avg_temp_c / 5) * 5 AS temp_bin,
               round(avg(utilization) * 100, 2) AS avg_utilization_pct, count(*) AS day_rows
        FROM vw_market_daily WHERE avg_temp_c IS NOT NULL GROUP BY ALL""",
}


def _r(expr: str, dp: int) -> str:
    """floor-based rounding, the same formula on both engines."""
    return f"floor(({expr}) * 1e{dp} + 0.5) / 1e{dp}"


def _money(expr: str, scale: str) -> str:
    """Exact money sum: per-row integer scaling."""
    return f"(sum(floor(({expr}) * {scale} + 0.5)) / {scale})"


_REV = _money("l_extendedprice * (1 - l_discount)", "10000.0")

WAREHOUSE_SQL = {
    "q_tpch_q1": f"""
        SELECT l_returnflag, l_linestatus,
               sum(floor(l_quantity + 0.5)) AS sum_qty,
               {_r(_money('l_extendedprice', '100.0'), 2)} AS sum_base_price,
               {_r(_REV, 2)} AS sum_disc_price,
               {_r(_money('l_extendedprice * (1 - l_discount) * (1 + l_tax)', '1000000.0'), 2)} AS sum_charge,
               {_r('sum(floor(l_quantity + 0.5)) / count(*)', 2)} AS avg_qty,
               {_r(_money('l_extendedprice', '100.0') + ' / count(*)', 2)} AS avg_price,
               {_r(_money('l_discount', '100.0') + ' / count(*)', 4)} AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus""",
    "q_tpch_q3": f"""
        SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, {_r(_REV, 2)} AS revenue
        FROM customer, orders, lineitem
        WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
          AND c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY ALL ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_tpch_q6": f"""
        SELECT {_r(_money('l_extendedprice * l_discount', '10000.0'), 2)} AS revenue, count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""",
    "q_tpch_q7": f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, year(l_shipdate) AS l_year,
               {_r(_REV, 2)} AS revenue
        FROM lineitem, orders, customer, supplier, nation sn, nation cn
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
          AND s_nationkey = sn.n_nationkey AND c_nationkey = cn.n_nationkey
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        GROUP BY ALL""",
    "q_tpch_q10": f"""
        SELECT c_custkey, c_name, c_acctbal, n_name, {_r(_REV, 2)} AS revenue
        FROM lineitem, orders, customer, nation
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
          AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
          AND l_returnflag = 'R'
        GROUP BY ALL ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_tpch_q18": """
        WITH big AS (
          SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING sum(floor(l_quantity + 0.5)) > 250)
        SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
               o_totalprice, sum(floor(l_quantity + 0.5)) AS sum_qty
        FROM lineitem, orders, customer
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY ALL ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_tpch_q19": f"""
        SELECT {_r(_REV, 2)} AS revenue, count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""",
    "q_flagship": f"""
        WITH per_order AS (
          SELECT l_orderkey,
                 sum(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)) AS gross_sc,
                 sum(floor(l_extendedprice * 100.0 + 0.5)) AS price_sc,
                 sum(floor(l_quantity + 0.5)) AS qty
          FROM lineitem GROUP BY l_orderkey)
        SELECT o_orderpriority, count(*) AS order_count,
               {_r('sum(gross_sc) / 10000.0', 2)} AS gross_revenue,
               {_r('sum(price_sc) / 100.0 / nullif(sum(qty), 0)', 2)} AS avg_item_price
        FROM orders JOIN per_order ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority""",
    "q_asof_join": """
        WITH timeline AS (
          SELECT event_id, user_id, ts, 1 AS is_event, NULL::DOUBLE AS pv FROM events
          UNION ALL
          SELECT NULL, user_id, ts, 0, value FROM events WHERE event_type = 'purchase')
        SELECT event_id, user_id, purchase_value FROM (
          SELECT event_id, user_id, is_event, last_value(pv IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, is_event ROWS UNBOUNDED PRECEDING) AS purchase_value
          FROM timeline) WHERE is_event = 1""",
    "q_daily_rollup": f"""
        SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n_events,
               {_r(_money('value', '100.0'), 2)} AS total_value,
               {_r(_money('value', '100.0') + ' / count(*)', 2)} AS avg_value,
               {_r('min(value)', 2)} AS min_value, {_r('max(value)', 2)} AS max_value,
               count(DISTINCT user_id) AS n_users,
               count(*) FILTER (WHERE value >= 100.0) AS high_value_events,
               count(DISTINCT date_trunc('hour', ts)) AS n_hours
        FROM events GROUP BY ALL""",
    "q_stats_kit": f"""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_discount >= 0.05) AS disc_lines, count(*) AS lines,
               {_r('(count(*) FILTER (WHERE l_discount >= 0.05)) / count(*)', 4)} AS disc_ratio,
               {_r('corr(l_extendedprice, l_quantity)', 6)} AS corr_price_qty,
               {_r('corr(l_extendedprice, l_discount)', 6)} AS corr_price_disc,
               {_r('stddev_samp(l_extendedprice)', 4)} AS stddev_price,
               {_r('covar_samp(l_extendedprice, l_quantity)', 4)} AS covar_price_qty,
               {_r('quantile_cont(l_extendedprice, 0.5)', 4)} AS p50_price,
               {_r('quantile_cont(l_extendedprice, 0.95)', 4)} AS p95_price
        FROM lineitem GROUP BY l_returnflag""",
    "q_rank_kit": """
        SELECT 'topk_per_priority' AS kind, o_orderpriority AS grp, o_orderkey, rn FROM (
          SELECT o_orderpriority, o_orderkey, row_number() OVER (
            PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
        UNION ALL
        SELECT 'latest_per_customer', CAST(o_custkey AS VARCHAR), max(o_orderkey), 1
        FROM orders o
        WHERE o_orderdate = (SELECT max(o2.o_orderdate) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey""",
    "q_sessionization": """
        WITH gaps AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                      THEN 1 ELSE 0 END AS starts
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts, sum(starts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
          FROM gaps)
        SELECT user_id, session_id, count(*) AS n_events,
               floor(epoch(max(ts))) - floor(epoch(min(ts))) AS duration_sec,
               CAST(min(ts) AS DATE) AS session_day
        FROM numbered GROUP BY user_id, session_id""",
    "q_scd2_history": """
        WITH runs AS (
          SELECT user_id, event_type, ts, sum(chg) OVER (
            PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
          FROM (SELECT *, CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                    = event_type THEN 0 ELSE 1 END AS chg FROM events)),
        per_run AS (
          SELECT user_id, run, any_value(event_type) AS event_type, min(ts) AS valid_from,
                 count(*) AS n_observations
          FROM runs GROUP BY user_id, run)
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
               n_observations,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL AS is_current
        FROM per_run""",
}
