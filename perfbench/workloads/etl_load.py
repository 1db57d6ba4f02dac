"""The batch ETL workloads: ``pipeline.run_pipeline`` on CSV batches
made by ``generator.generate_tables`` at set-up.

- etl_load: one bulk batch, then small delta batches of disjoint new
  orders and their items, then a replay of the last delta, all into one
  warehouse.
- etl_bulk: the bulk batch again and again, each load into a fresh
  warehouse.

Every warehouse is checked after its load, outside the timed call:
every order loaded so far is present, no ``order_items`` row is an
orphan, ``daily_sales_aggregation`` totals equal a recompute over all
loaded items, and a replay appends no rows.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

from ..harness import Op, du
from ..trace import median_span_ms

N_BULK = 20_000
# orders in each etl_bulk load: enough that the application's first
# load (13-19 s on a 4-core VM) outlasts a 10 s window, so the window
# never mixes it with a warm one
BULK_LOAD = N_BULK
DELTA = 1_000
N_DELTAS = 3
DIMS = {"product_categories": 20, "products": 500, "customers": 2_000}
IDEMPOTENT = ("product_categories", "products", "customers", "order_items")


class EtlLoad:
    def __init__(self, h, seed: int) -> None:
        self.h, self.seed = h, seed
        self.failures: list[str] = []

    def setup(self, rep: int) -> None:
        self.root = self.h.path(f"etl-{rep}")
        ranges = [(0, N_BULK)] + [(N_BULK + i * DELTA, N_BULK + (i + 1) * DELTA)
                                  for i in range(N_DELTAS)]
        self.batches, self.batch_items = self._write_batches(
            os.path.join(self.root, "in"), N_BULK + N_DELTAS * DELTA, ranges)
        self.failures, self.windows = [], 0

    def _write_batches(self, out: str, n_orders: int, ranges) -> tuple[list[str], list[int]]:
        """One CSV batch per order-id range [lo, hi) (1-based ids), each
        with full copies of the dimension tables; returns the batch dirs
        and each batch's ``order_items`` row count."""
        from pyspark.sql import functions as F
        from etl_workflow_spark.generator import generate_tables
        from etl_workflow_spark.sources.writers import write_csv

        tables = generate_tables(self.h.spark, n_categories=DIMS["product_categories"],
                                 n_products=DIMS["products"], n_customers=DIMS["customers"],
                                 n_orders=n_orders, seed=self.seed)
        dirs, item_counts = [], []
        for i, (lo, hi) in enumerate(ranges):
            d = os.path.join(out, f"batch{i}")
            in_range = F.col("order_id").between(lo + 1, hi)
            for name, df in tables.items():
                if name in ("orders", "order_items"):
                    df = df.where(in_range)
                write_csv(df, os.path.join(d, f"{name}.csv"))
            item_counts.append(_csv_rows(os.path.join(d, "order_items.csv")))
            dirs.append(d)
        return dirs, item_counts

    def warmup(self) -> None:
        """The pipeline once on a small batch into its own warehouse."""
        from etl_workflow_spark.pipeline import run_pipeline

        [batch], _ = self._write_batches(os.path.join(self.root, "warm-in"), 200, [(0, 200)])
        run_pipeline(self.h.spark, batch, os.path.join(self.root, "warm-warehouse"))

    def run(self, deadline: float, tracer=None) -> list[Op]:
        """The fixed batch sequence: bulk, every delta, then the replay
        of the last delta, into a fresh warehouse each window. It runs to
        the end whatever the deadline."""
        self.windows += 1
        self.warehouse = os.path.join(self.root, f"warehouse-{self.windows}")
        ops, want = [], N_BULK
        for kind, i in [("bulk", 0), *(("delta", i) for i in range(1, N_DELTAS + 1)),
                        ("replay", N_DELTAS)]:
            ops.append(self._load(kind, i))
            want += DELTA if kind == "delta" else 0
            if ops[-1].ok:
                self._verify(ops[-1], want)
        return ops

    def _load(self, kind: str, i: int) -> Op:
        """Load batch ``i`` into ``self.warehouse``; timed, unchecked."""
        from etl_workflow_spark.pipeline import run_pipeline

        bytes0, files0 = du(self.warehouse), _part_files(self.warehouse)
        t0 = time.perf_counter()
        try:
            res = run_pipeline(self.h.spark, self.batches[i], self.warehouse)
        except Exception as e:
            return Op(kind, t0, time.perf_counter(), ok=False, error=repr(e))
        op = Op(kind, t0, time.perf_counter(), info={
            "rows": res.rows_loaded, "batch": i, "warehouse": self.warehouse,
            "in_bytes": du(self.batches[i]),
            "out_bytes": du(self.warehouse) - bytes0,
            "files": len(_part_files(self.warehouse) - files0),
        })
        return op

    def _verify(self, op: Op, want_ids: int) -> None:
        """Check op's warehouse after its load (not part of op's time):
        ``want_ids`` orders in all."""
        from pyspark.sql import functions as F

        spark = self.h.spark
        wh = op.info["warehouse"]
        orders = spark.read.parquet(os.path.join(wh, "orders")).select("order_id").distinct()
        items = spark.read.parquet(os.path.join(wh, "order_items"))
        n_orders = orders.count()
        problems = []
        if n_orders != want_ids:
            problems.append(f"warehouse has {n_orders} orders, {want_ids} were loaded")
        orphans = items.join(orders, "order_id", "left_anti").count()
        if orphans:
            problems.append(f"{orphans} order_items rows have no order")
        agg = spark.read.parquet(os.path.join(wh, "daily_sales_aggregation"))
        got = agg.agg(F.sum("revenue")).first()[0] or Decimal(0)
        want = items.agg(F.sum(F.col("total").cast("decimal(18,2)"))).first()[0] or Decimal(0)
        if got != want:
            problems.append(f"daily_sales_aggregation revenue {got} != {want} "
                            "recomputed over all loaded items")
        if op.kind == "replay":
            appended = {t: op.info["rows"].get(t, 0) for t in IDEMPOTENT}
            if any(appended.values()):
                problems.append(f"replay appended rows {appended}")
        if problems:
            self.failures.append(
                f"{op.kind} batch {op.info['batch']}: " + "; ".join(problems))

    def check(self) -> list[str]:
        """One message per batch whose warehouse check failed."""
        return list(self.failures)

    def named(self, ops: list[Op], elapsed: float) -> dict:
        from ..stats import median

        bulk = [o for o in ops if o.ok and o.kind == "bulk"]
        deltas = [o.end - o.start for o in ops if o.ok and o.kind == "delta"]
        replay = [o.end - o.start for o in ops if o.ok and o.kind == "replay"]
        rows = sum(bulk[0].info["rows"].values()) if bulk else 0
        return {
            "etl_bulk_rows_per_s": (rows / (bulk[0].end - bulk[0].start) if bulk else None, "1/s"),
            "etl_increment_p50_s": (median(deltas) if deltas else None, "s"),
            "etl_replay_s": (replay[0] if replay else None, "s"),
        }

    def layer(self, ops: list[Op], tracer, ev: dict) -> dict:
        def span_ms(name: str) -> float:
            return median_span_ms(tracer.spans, name)

        done = [o for o in ops if o.ok]
        offered = appended = 0
        for o in done:
            offered += sum(DIMS.values()) + self.batch_items[o.info["batch"]]
            appended += sum(o.info["rows"].get(t, 0) for t in IDEMPOTENT)
        return {
            "writers.idempotent_append_ms": span_ms("writers.idempotent_append"),
            "writers.write_partitioned_ms": span_ms("writers.write_partitioned"),
            "writers.overwrite_partitions_ms": span_ms("writers.overwrite_partitions"),
            "writers.overwrite_ms": span_ms("writers.overwrite"),
            "writers.rows_appended_per_row_offered": appended / max(offered, 1),
            "writers.bytes_written_per_input_byte": (
                sum(o.info["out_bytes"] for o in done) / max(sum(o.info["in_bytes"] for o in done), 1)),
            "writers.files_written": sum(o.info["files"] for o in done) / max(len(done), 1),
            "pipeline.run_pipeline_ms": span_ms("pipeline.run_pipeline"),
        }


class EtlBulk(EtlLoad):
    """Each operation loads the same seeded bulk batch of ``BULK_LOAD``
    orders into a fresh warehouse, closed loop until the deadline; the
    warehouses are checked after the window."""

    def setup(self, rep: int) -> None:
        self.root = self.h.path(f"etl-{rep}")
        self.batches, self.batch_items = self._write_batches(
            os.path.join(self.root, "in"), BULK_LOAD, [(0, BULK_LOAD)])
        self.failures, self.windows, self.done = [], 0, []

    def warmup(self) -> None:
        """None: the application's first load takes 13-19 s, later ones
        7-9 s. A warm-up load would add a first load to every run, which
        the run budget cannot carry, so the window's one operation is the
        first load, as a scheduled batch job runs it."""

    def run(self, deadline: float, tracer=None) -> list[Op]:
        ops: list[Op] = []
        while time.perf_counter() < deadline:
            self.windows += 1
            self.warehouse = os.path.join(self.root, f"warehouse-{self.windows}")
            ops.append(self._load("bulk", 0))
            if not ops[-1].ok:
                break
        self.done += [o for o in ops if o.ok]
        return ops

    def check(self) -> list[str]:
        for op in self.done:
            self._verify(op, BULK_LOAD)
        return list(self.failures)

    def named(self, ops: list[Op], elapsed: float) -> dict:
        from ..stats import median

        rates = [sum(o.info["rows"].values()) / (o.end - o.start) for o in ops if o.ok]
        return {"etl_bulk_rows_per_s": (median(rates) if rates else None, "1/s")}


def _part_files(path: str) -> set[str]:
    return {os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if f.startswith("part-")}


def _csv_rows(path: str) -> int:
    """Data rows of a headered CSV dir (no field holds a newline)."""
    n = 0
    for f in _part_files(path):
        with open(f, "rb") as fh:
            n += max(sum(1 for _ in fh) - 1, 0)
    return n
