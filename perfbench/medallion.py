"""medallion_etl: the paper's own loop.

A full load of a seeded car-sales CSV, then one incremental batch:
``run_pipeline`` (CSV landing -> bronze -> silver -> gold SCD1 merges)
-> ``register_gold`` -> three gold reports. After the load and after the
batch, outside the timed region, the gold dims, the fact and the report
rows are compared with a pure-Python model of the same inputs.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict

import duckdb

from perfbench import gen
from perfbench.common import Ctx, tree_bytes
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans import (
    medallion as M,
)

#: a 50k-row base load and a 1 % batch: large enough that the merges
#: rewrite data, not only file metadata, while a run stays near 50 s on
#: 4 cores
SIZES = {
    False: {"base_rows": 50_000, "batch_rows": 500},
    True: {"base_rows": 200, "batch_rows": 20},
}

#: (gold dim, business key, attribute or None)
DIMS = [
    ("dim_branch", "Branch_ID", "BranchName"),
    ("dim_dealer", "Dealer_ID", "DealerName"),
    ("dim_model", "Model_ID", "model_category"),
    ("dim_date", "Date_ID", None),
]
REPORT_YEAR = 2019
REPORTS = {
    "revenue_by_category_year": """
        select m.model_category, f.Year, sum(f.Revenue) as revenue, count(*) as n
        from gold.factsales f join gold.dim_model m on f.dim_model_key = m.dim_model_key
        group by m.model_category, f.Year""",
    "top_dealers_in_year": f"""
        select d.Dealer_ID, d.DealerName, sum(f.Revenue) as revenue
        from gold.factsales f join gold.dim_dealer d on f.dim_dealer_key = d.dim_dealer_key
        where f.Year = {REPORT_YEAR}
        group by d.Dealer_ID, d.DealerName order by revenue desc, d.Dealer_ID limit 10""",
    "top_branches": """
        select b.Branch_ID, b.BranchName, sum(f.Revenue) as revenue
        from gold.factsales f join gold.dim_branch b on f.dim_branch_key = b.dim_branch_key
        group by b.Branch_ID, b.BranchName order by revenue desc, b.Branch_ID limit 10""",
}


class StarModel:
    """Pure-Python SCD1 star schema: dims map business key -> [surrogate
    key, attribute]; the fact maps a surrogate-key combination to the rows
    of the batch that last sent it."""

    def __init__(self) -> None:
        self.dims: dict[str, dict[str, list]] = {d: {} for d, _, _ in DIMS}
        self.fact: dict[tuple, list[tuple]] = {}

    @staticmethod
    def _attr(row: dict, attr: str | None):
        if attr is None:
            return None
        if attr == "model_category":
            return row["Model_ID"].split("-")[0]
        return row[attr] or None  # empty CSV fields load as null

    def apply(self, rows: list[dict]) -> int:
        """Merge one batch; returns the rows it sends into the merges
        (distinct dim keys plus fact rows)."""
        merged = 0
        for name, bk, attr in DIMS:
            dim = self.dims[name]
            batch = {r[bk]: self._attr(r, attr) for r in rows}
            merged += len(batch)
            hwm = len(dim)
            for k in sorted(k for k in batch if k not in dim):
                hwm += 1
                dim[k] = [hwm, None]
            for k, v in batch.items():
                dim[k][1] = v
        groups = defaultdict(list)
        for r in rows:
            combo = tuple(self.dims[name][r[bk]][0] for name, bk, _ in DIMS)
            groups[combo].append(
                (r["Revenue"], r["Units_Sold"], r["Revenue"] / r["Units_Sold"], r["Year"])
            )
        self.fact.update(groups)
        return merged + len(rows)

    def reports(self) -> dict[str, list[tuple]]:
        inv = {
            name: {v[0]: (k, v[1]) for k, v in self.dims[name].items()}
            for name, _, _ in DIMS
        }
        by_cat, dealers, branches = Counter(), Counter(), Counter()
        n_cat = Counter()
        for (kb, kd, km, _), rows in self.fact.items():
            for rev, _, _, year in rows:
                cat = inv["dim_model"][km][1]
                by_cat[(cat, year)] += rev
                n_cat[(cat, year)] += 1
                branches[inv["dim_branch"][kb]] += rev
                if year == REPORT_YEAR:
                    dealers[inv["dim_dealer"][kd]] += rev

        def top(c: Counter) -> list[tuple]:
            return sorted(((k[0], k[1], v) for k, v in c.items()), key=lambda t: (-t[2], t[0]))[:10]

        return {
            "revenue_by_category_year": sorted(
                ((c, y, v, n_cat[(c, y)]) for (c, y), v in by_cat.items()), key=repr
            ),
            "top_dealers_in_year": top(dealers),
            "top_branches": top(branches),
        }


def check_gold(con, lake: str, model: StarModel) -> list[str]:
    """Compare the committed gold snapshot with the model: dim rows (so
    cardinality, dense surrogate keys and SCD1 attribute values) and the
    fact as a multiset."""
    problems = []
    for name, bk, attr in DIMS:
        path = M.gold_data_dir(lake, name)
        key = f"{name}_key"
        cols = f"{key}, {bk}" + (f", {attr}" if attr else "")
        got = con.sql(f"select {cols} from read_parquet('{path}/*.parquet')").fetchall()
        want = [(v[0], k, v[1]) if attr else (v[0], k) for k, v in model.dims[name].items()]
        if Counter(got) != Counter(want):
            problems.append(f"{name}: {len(got)} rows, model has {len(want)}")
        elif sorted(r[0] for r in got) != list(range(1, len(got) + 1)):
            problems.append(f"{name}: surrogate keys not dense")
    path = M.gold_data_dir(lake, "factsales")
    keys = ", ".join(f"{d}_key" for d, _, _ in DIMS)
    got = con.sql(
        f"select {keys}, Revenue, Units_Sold, RevPerUnit, Year "
        f"from read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    ).fetchall()
    want = [combo + row for combo, rows in model.fact.items() for row in rows]
    if Counter(got) != Counter(want):
        problems.append(f"factsales: {len(got)} rows differ from the model's {len(want)}")
    return problems


def _refresh_reports(ctx: Ctx, lake: str) -> dict[str, list[tuple]]:
    spark = ctx.spark
    M.register_gold(spark, lake)
    out = {}
    for name, sql in REPORTS.items():
        with ctx.rec.span(f"report.{name}"):
            out[name] = [tuple(r) for r in spark.sql(sql).collect()]
    return out


def _check_reports(got: dict, model: StarModel) -> list[str]:
    want = model.reports()
    problems = []
    for name in REPORTS:
        g = got[name] if name != "revenue_by_category_year" else sorted(got[name], key=repr)
        if g != want[name]:
            problems.append(f"report {name} differs from the model")
    return problems


def prepare(ctx: Ctx) -> dict:
    size = SIZES[ctx.smoke]
    data = gen.carsales(ctx.seed, size["base_rows"], size["batch_rows"], 1)
    landing = os.path.join(ctx.work, "landing")
    os.makedirs(landing)
    files = []
    for name, rows in [("base", data.base), ("batch", data.batches[0])]:
        path = os.path.join(landing, f"{name}.csv")
        files.append((path, gen.write_carsales_csv(rows, path), rows))
    return {"files": files}


def run(ctx: Ctx, inputs: dict) -> dict[str, float]:
    """The full load, then one incremental batch and the report refresh."""
    spark = ctx.spark
    lake = os.path.join(ctx.work, "lake")
    gold = os.path.join(lake, "gold")
    con = duckdb.connect()
    model = StarModel()
    (base_path, _, base_rows), (batch_path, csv_bytes, batch_rows) = inputs["files"]

    with ctx.op("full_load") as load:
        M.run_pipeline(spark, base_path, lake)
    source_rows = model.apply(base_rows)
    problems = check_gold(con, lake, model)
    ctx.check(not problems, "; ".join(problems))

    before = tree_bytes(gold)
    with ctx.op("batch") as batch:
        t0 = time.perf_counter()
        M.run_pipeline(spark, batch_path, lake)
        incr_s = time.perf_counter() - t0
        got = _refresh_reports(ctx, lake)
    gold_bytes = tree_bytes(gold) - before
    source_rows += model.apply(batch_rows)
    problems = check_gold(con, lake, model) + _check_reports(got, model)
    ctx.check(not problems, "batch: " + "; ".join(problems))
    con.close()

    ctx.figures.update({
        "full_load_s": load.elapsed,
        "incr_load_s": incr_s,
        "report_s": batch.elapsed - incr_s,
        "write_amp": gold_bytes / csv_bytes,
    })
    ctx.extras["source_rows"] = source_rows
    return {"work_s": load.elapsed + batch.elapsed, "work_cpu_s": load.cpu + batch.cpu}
