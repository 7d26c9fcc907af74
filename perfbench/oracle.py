"""DuckDB replay of the dashboard over the warehouse's parquet files.

Every measure the benchmark collects from the engine is recomputed here
from the same files. Counts must match exactly; floating-point results
must agree within ``REL_TOL`` relative; timestamps and labels exactly.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os

from feeds import COUNTED_TYPES

REL_TOL = 1e-9

# measure -> (DuckDB aggregate, earthquake-only filter)
MEASURES = {
    "Q1_latest_daily_update": ("max(_DT_insertion_date)", False),
    "Q2_avg_earthquake_magnitude": ("avg(VL_n_mag)", True),
    "Q3_max_earthquake_depth": ("max(VL_n_depth)", True),
    "Q4_max_earthquake_magnitude": ("max(VL_n_mag)", True),
    "Q12_total_seismic_events": ("count(*)", False),
}


def dashboard_queries() -> list[tuple[str, str, bool]]:
    """The dashboard as (label, measure, sliced by ID_date_ID): Q1-Q4
    and Q12 unsliced and sliced, then Q5-Q11 as one totals_by_type."""
    qs = [(n + ("_by_date" if sliced else ""), n, sliced) for sliced in (False, True) for n in MEASURES]
    return qs + [("Q5_Q11_totals_by_type", "Q5_Q11_totals_by_type", False)]


class Oracle:
    """One in-memory DuckDB connection reading a warehouse root."""

    def __init__(self, warehouse_root: str):
        import duckdb

        self.root = warehouse_root
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")

    def close(self) -> None:
        self.con.close()

    def _star(self) -> str:
        fact = os.path.join(self.root, "T_FACT_Events", "*", "*.parquet")
        dim = os.path.join(self.root, "T_DIM_Seismic_Activity_Type", "*.parquet")
        return (
            f"(select f.*, d.LB_type from read_parquet('{fact}', hive_partitioning=true) f "
            f"left join (select ID_type_ID, LB_type from read_parquet('{dim}')) d "
            f"using (ID_type_ID))"
        )

    def count(self, table: str, partitioned: bool = False) -> int:
        """Rows in a table; a table never written reads 0."""
        pattern = os.path.join(self.root, table, *(["*"] if partitioned else []), "*.parquet")
        if not glob.glob(pattern):
            return 0
        hive = "true" if partitioned else "false"
        return self.con.execute(
            f"select count(*) from read_parquet('{pattern}', hive_partitioning={hive})"
        ).fetchone()[0]

    def measure(self, name: str, sliced: bool) -> list[tuple]:
        agg, quake_only = MEASURES[name]
        where = "where LB_type = 'earthquake'" if quake_only else ""
        if sliced:
            sql = f"select ID_date_ID, {agg} from {self._star()} {where} group by ID_date_ID"
        else:
            sql = f"select {agg} from {self._star()} {where}"
        return self.con.execute(sql).fetchall()

    def dashboard(self) -> dict[str, list[tuple]]:
        return {
            label: self.totals_by_type() if name.startswith("Q5") else self.measure(name, sliced)
            for label, name, sliced in dashboard_queries()
        }

    def totals_by_type(self) -> list[tuple]:
        types = ", ".join(f"'{t}'" for t in COUNTED_TYPES)
        return self.con.execute(
            f"select LB_type, count(*) from {self._star()} where LB_type in ({types}) group by LB_type"
        ).fetchall()


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= REL_TOL * max(abs(a), abs(b))
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row comparison under the tolerances above."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((x is None, str(x)) for x in r[:-1])  # noqa: E731
    return all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(sorted(got, key=key), sorted(want, key=key))
    )
