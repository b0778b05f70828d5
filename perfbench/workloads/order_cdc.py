"""order_cdc: the write path beside the reads — order CDC into bronze
``ManifestTable``s, propagated into the OrderWide silver fact by a
``DeltaJoinPropagator`` (configured as the ``order_wide_dedup_propagate``
registry query does) and rolled up per day by a ``ContinuousAggregate``.

Closed loop, one client.  Each cycle appends the next order + lineitem
slice, upserts a status change on earlier orders, every 4th cycle (the
untimed warm-up cycle first) runs a retention ``delete_where``, then calls
``run_once`` and ``refresh``; the cycle time is commit-to-gold-reflects.
The window holds as many whole cycles as fit, and at least one.  At the
end the silver and gold tables must equal a DuckDB recomputation over the
net bronze state.

:class:`CdcPipeline` is also the writer client of ``dashboard_reads``.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

SCALE = 0.01
SLICE_ORDERS = 150  # orders appended per cycle (with their lineitems)
UPSERTS = 40  # earlier orders whose status changes per cycle
DELETE_EVERY = 4
RETAIN_STEP = 150  # retention cut advance per delete cycle, in order keys

SILVER_SQL = """
SELECT order_id, detail_seq, sku_id, sku_price, sku_num, user_id,
       order_status, final_total_amount, dt, final_detail_amount,
       CAST(detail_amount AS VARCHAR) AS detail_amount
FROM (
    SELECT l_orderkey AS order_id, l_linenumber AS detail_seq,
           l_partkey AS sku_id, l_extendedprice AS sku_price,
           l_quantity AS sku_num, o_custkey AS user_id,
           o_orderstatus AS order_status, o_totalprice AS final_total_amount,
           strftime(o_orderdate, '%Y-%m-%d') AS dt,
           CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS DOUBLE)
               AS final_detail_amount,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS detail_amount,
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_partkey, l_extendedprice, l_quantity,
                        CAST(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6)) AS DOUBLE)
           ) AS rn
    FROM lineitem_net JOIN orders_net ON l_orderkey = o_orderkey
) WHERE rn = 1
"""
GOLD_SQL = """
SELECT dt, count(*) AS n,
       CAST(sum(CAST(detail_amount AS DECIMAL(18,6))) AS VARCHAR) AS revenue
FROM silver_expected GROUP BY dt
"""


def combine(o, li):
    """The raw bilinear join (the propagator owns the keep-best dedup),
    as ``order_wide_dedup_propagate`` defines it, plus the exact decimal
    detail amount the gold rollup sums."""
    from pyspark.sql import functions as F

    j = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return j.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("detail_seq"),
        F.col("l_partkey").alias("sku_id"),
        F.col("l_extendedprice").alias("sku_price"),
        F.col("l_quantity").alias("sku_num"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("final_total_amount"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"),
        amount.cast("double").alias("final_detail_amount"),
        amount.alias("detail_amount"),
    )


class NetState:
    """The bronze tables' expected contents, kept in pandas alongside."""

    def __init__(self, orders: pd.DataFrame, lineitem: pd.DataFrame) -> None:
        self.orders = orders.iloc[0:0].copy()
        self.lineitem = lineitem.iloc[0:0].copy()

    def append(self, o: pd.DataFrame, li: pd.DataFrame) -> None:
        self.orders = pd.concat([self.orders, o], ignore_index=True)
        self.lineitem = pd.concat([self.lineitem, li], ignore_index=True)

    def upsert_status(self, keys, statuses) -> None:
        m = dict(zip(keys, statuses))
        hit = self.orders["o_orderkey"].isin(m)
        self.orders.loc[hit, "o_orderstatus"] = self.orders.loc[hit, "o_orderkey"].map(m)

    def delete_below(self, cut: int) -> None:
        self.orders = self.orders[self.orders["o_orderkey"] >= cut].reset_index(drop=True)


def cycle_plan(seed: int, cycle: int, landed_hi: int, cut: int, delete: bool) -> dict:
    """What cycle ``cycle`` does, from the seed: the order-key slice to
    append, the earlier orders to re-status and their new status, and
    the retention cut if this is a delete cycle."""
    rng = np.random.default_rng([seed, cycle])
    lo = landed_hi
    keys = rng.choice(np.arange(cut, landed_hi), size=UPSERTS, replace=False)
    statuses = [["F", "O", "P"][int(x)] for x in rng.integers(0, 3, UPSERTS)]
    plan = {"slice": (lo, lo + SLICE_ORDERS), "upsert_keys": sorted(int(k) for k in keys),
            "statuses": statuses}
    if delete:
        plan["delete_below"] = cut + RETAIN_STEP
    return plan


def prepare(seed: int, run_dir: str) -> dict:
    """Spark-free set-up: orders and lineitem as parquet and as pandas."""
    import os

    from perfbench import datagen

    tables = datagen.make_tables(seed, SCALE)
    src = datagen.write_tables(
        {k: tables[k] for k in ("orders", "lineitem")}, os.path.join(run_dir, "cdc-src")
    )
    return {"src": src, "orders": tables["orders"].to_pandas(),
            "lineitem": tables["lineitem"].to_pandas()}


class CdcPipeline:
    """Bronze orders + lineitem ``ManifestTable``s, the OrderWide silver
    table a ``DeltaJoinPropagator`` keeps, and the gold per-day rollup a
    ``ContinuousAggregate`` keeps over it; the bronze tables' net state is
    kept alongside in pandas for the correctness check."""

    def __init__(self, spark, tracer, inputs: dict, root: str, seed: int) -> None:
        from gmallrealtime02_spark.streaming.manifest import ManifestTable
        from gmallrealtime02_spark.streaming.propagate import DeltaJoinPropagator
        from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

        self.spark, self.tr, self.seed = spark, tracer, seed
        self.orders_pd, self.line_pd = inputs["orders"], inputs["lineitem"]
        self.orders = spark.read.parquet(f"{inputs['src']}/orders.parquet")
        self.lineitem = spark.read.parquet(f"{inputs['src']}/lineitem.parquet")
        self.bronze_o = ManifestTable(f"{root}/orders", stats_cols=["o_orderkey"])
        self.bronze_l = ManifestTable(f"{root}/lineitem")
        self.silver = ManifestTable(f"{root}/order_wide", stats_cols=["order_id"])
        self.prop = DeltaJoinPropagator(
            self.bronze_o, self.bronze_l, self.silver, combine,
            left_keys={"o_orderkey": "order_id"},
            right_keys={"l_orderkey": "order_id", "l_linenumber": "detail_seq"},
            dedup_keys={"l_orderkey": "order_id", "l_linenumber": "detail_seq"},
            dedup_order=["sku_id", "sku_price", "sku_num", "final_detail_amount"],
        )
        self.gold = ContinuousAggregate(
            self.silver, f"{root}/gold", ["dt"],
            {"n": ("count", "*"), "revenue": ("sum", "detail_amount")},
        )
        self.net = NetState(self.orders_pd, self.line_pd)
        self.n = len(self.orders_pd)
        self.landed_hi = self.cut = 0
        self.next_cycle = 0
        #: what each ``run_once`` and ``refresh`` returned, since set-up
        self.propagate_modes: list = []
        self.refreshes: list = []

    def _land(self, lo: int, hi: int, label: str) -> None:
        from pyspark.sql import functions as F

        o, li = self.orders_pd, self.line_pd
        with self.tr.span(f"manifest.append.{label}", "streaming.manifest", op="append"):
            self.bronze_o.append(
                self.orders.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)))
        with self.tr.span(f"manifest.append.{label}", "streaming.manifest", op="append"):
            self.bronze_l.append(
                self.lineitem.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)))
        self.net.append(
            o[(o.o_orderkey >= lo) & (o.o_orderkey < hi)],
            li[(li.l_orderkey >= lo) & (li.l_orderkey < hi)],
        )
        self.landed_hi = hi

    def prime(self) -> None:
        """Half the orders landed, then the initial full propagate and
        rollup."""
        with self.tr.span("cdc prime", "bench"):
            self._land(0, self.n // 2, "initial")
            self.prop.run_once(self.spark)
            self.gold.refresh(self.spark)

    def set_up(self) -> None:
        """:meth:`prime`, then cycle 0, a delete cycle, so the incremental
        plans of every operation are compiled."""
        self.prime()
        with self.tr.span("cdc warm-up", "bench"):
            self.cycle()
        self.propagate_modes.clear()
        self.refreshes.clear()

    def cycle(self) -> tuple[float, bool]:
        """Run the next cycle; its wall time and whether it deleted."""
        from pyspark.sql import functions as F

        i = self.next_cycle
        self.next_cycle += 1
        delete = i % DELETE_EVERY == 0
        plan = cycle_plan(self.seed, i, self.landed_hi, self.cut, delete)
        t0 = time.perf_counter()
        with self.tr.span(f"cycle {i}", "bench", request=f"cycle-{i}"):
            self._land(*plan["slice"], "slice")
            keys, statuses = plan["upsert_keys"], plan["statuses"]
            changed = self.spark.createDataFrame(
                pd.DataFrame({"o_orderkey": keys, "new_status": statuses})
            )
            upd = (
                self.orders.join(changed, "o_orderkey")
                .withColumn("o_orderstatus", F.col("new_status"))
                .drop("new_status")
                .select(*self.orders.columns)
            )
            with self.tr.span("manifest.upsert", "streaming.manifest", op="upsert"):
                self.bronze_o.upsert(self.spark, upd, ["o_orderkey"])
            self.net.upsert_status(keys, statuses)
            if delete:
                self.cut = plan["delete_below"]
                with self.tr.span("manifest.delete_where", "streaming.manifest",
                                  op="delete_where"):
                    self.bronze_o.delete_where(self.spark, f"o_orderkey < {self.cut}")
                self.net.delete_below(self.cut)
            with self.tr.span("propagate.run_once", "streaming.propagate"):
                self.propagate_modes.append(self.prop.run_once(self.spark)["mode"])
            with self.tr.span("rollup.refresh", "streaming.rollup"):
                self.refreshes.append(self.gold.refresh(self.spark))
        return time.perf_counter() - t0, delete

    def run_window(self, seconds: float) -> tuple[list, list]:
        """Cycles for the window: a cycle starts only if one as long as the
        last still fits, and at least one runs.  Returns the plain and the
        delete cycles' wall times."""
        plain, deletes = [], []
        t_start = time.monotonic()
        while self.landed_hi + SLICE_ORDERS <= self.n:
            took, delete = self.cycle()
            (deletes if delete else plain).append(took)
            if time.monotonic() - t_start + took > seconds:
                break
        return plain, deletes

    def check(self) -> list[str]:
        """Silver and gold against DuckDB over the net bronze state;
        decimals compare as their exact string render."""
        import duckdb
        from pyspark.sql import functions as F

        from perfbench.oracle import normalize

        con = duckdb.connect()
        con.register("orders_net", self.net.orders)
        con.register("lineitem_net", self.net.lineitem)
        want_silver = con.execute(SILVER_SQL).fetchdf()
        con.register("silver_expected", want_silver)
        want_gold = con.execute(GOLD_SQL).fetchdf()
        got_silver = self.silver.read(self.spark).withColumn(
            "detail_amount", F.col("detail_amount").cast("string")
        ).toPandas()
        got_gold = self.gold.read(self.spark).withColumn(
            "revenue", F.col("revenue").cast("string")).toPandas()
        out = []
        for name, got, want in (("silver", got_silver, want_silver),
                                ("gold", got_gold, want_gold)):
            got = normalize(got[sorted(want.columns)])
            want = normalize(want)
            if len(got) != len(want) or not got.astype(str).equals(want.astype(str)):
                out.append(f"{name}: {len(got)} rows vs {len(want)} expected")
        return out


def record_cycles(res, plain: list, deletes: list) -> None:
    """``cdc_cycle_s`` (and ``cdc_delete_cycle_s`` when a delete cycle ran)."""
    if plain:
        res.e2e["cdc_cycle_s"] = (float(np.median(plain)), "s", len(plain))
    if deletes:
        res.e2e["cdc_delete_cycle_s"] = (float(np.median(deletes)), "s", len(deletes))


def run(ctx):
    from perfbench.report import Result

    res = Result()
    cdc = CdcPipeline(ctx.spark, ctx.tracer, ctx.inputs, ctx.path("tables"), ctx.seed)
    cdc.set_up()
    res.stash["cdc"] = cdc
    ctx.begin_measure()
    with ctx.tracer.span("measure", "bench"):
        plain, deletes = cdc.run_window(ctx.seconds)
    res.mismatches = cdc.check()
    all_s = plain + deletes
    res.attempted = len(all_s) + 2  # the cycles and the two table checks
    res.failed = len(res.mismatches)
    record_cycles(res, plain, deletes)
    res.e2e["latency_p50_ms"] = (float(np.median(all_s)) * 1e3, "ms", len(all_s))
    res.e2e["throughput_per_s"] = (len(all_s) / sum(all_s), "cycles/s", len(all_s))
    return res


def layer_metrics(res, spans, fold) -> None:
    cdc_layer_metrics(res.layers, res.stash["cdc"], spans, fold)


def cdc_layer_metrics(L: dict, cdc: CdcPipeline, spans, fold) -> None:
    """streaming.manifest, .propagate and .rollup from the measured cycle
    spans."""
    from perfbench.report import measured_spans
    from perfbench.stats import summarize

    ms = measured_spans(spans)

    def p50(vals) -> float:
        return summarize(vals).get("p50", 0.0)

    def jobs_of(s):
        return fold.get(s.id)

    for op in ("append", "upsert", "delete_where"):
        sp = [s for s in ms if s.attrs.get("op") == op]
        if sp:
            L[f"manifest.{op}_s.p50"] = (p50([s.end - s.start for s in sp]), "s", len(sp))
    mops = [s for s in ms if s.layer == "streaming.manifest"]
    L["manifest.jobs_per_op.p50"] = (
        p50([jobs_of(s).jobs if jobs_of(s) else 0 for s in mops]), "count", len(mops))
    # each operation is one commit; the table the CDC path maintains is silver
    L["manifest.jobs_per_commit.p50"] = L["manifest.jobs_per_op.p50"]
    L["manifest.versions"] = (cdc.silver.current_version(), "count")
    L["manifest.live_files"] = (len(cdc.silver.files()), "count")
    for layer, name in (("streaming.propagate", "propagate"), ("streaming.rollup", "rollup")):
        sp = [s for s in ms if s.layer == layer]
        aggs = [jobs_of(s) for s in sp]
        verb = "run_once" if name == "propagate" else "refresh"
        L[f"{name}.{verb}_s.p50"] = (p50([s.end - s.start for s in sp]), "s", len(sp))
        L[f"{name}.jobs.p50"] = (p50([a.jobs if a else 0 for a in aggs]), "count", len(sp))
        if name == "propagate":
            L["propagate.tasks.p50"] = (p50([a.tasks if a else 0 for a in aggs]), "count", len(sp))
            L["propagate.shuffle_bytes.p50"] = (
                p50([a.shuffle_write_bytes if a else 0 for a in aggs]), "bytes", len(sp))
    L["propagate.full_runs"] = (sum(m == "full" for m in cdc.propagate_modes), "count")
    L["rollup.files_scanned.p50"] = (
        p50([r["files_scanned"] for r in cdc.refreshes]), "count", len(cdc.refreshes))
    L["rollup.full_refreshes"] = (sum(r["mode"] == "full" for r in cdc.refreshes), "count")
