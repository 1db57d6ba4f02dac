"""txn_rw: one client replays a seeded stream of commits (appends,
merges and deletes, each followed by ``txn_maintain``) to a
month-partitioned ``sources.txn`` table and, after every commit,
snapshot-reads the table and aggregates revenue by status and month.
One operation is one round: the commit, then the read."""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

from .. import data
from ..harness import Op, du
from ..trace import median_span_ms

BASE_ROWS = 5_000
BATCH = 100
N_OPS = 200  # more than three windows consume
MAX_ENTRIES = 8  # the writer's compaction policy (txn_maintain)
WARM_OPS = 3  # the stream's first three commits: one of each kind
COLUMNS = ("order_id", "customer_id", "status", "amount_cents", "month")


def _frame(spark, rows: list[tuple]):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=COLUMNS))


def _revenue(df) -> tuple:
    from pyspark.sql import functions as F

    rows = (df.groupBy("status", "month")
            .agg(F.sum("amount_cents").alias("cents"), F.count("*").alias("n"))
            .collect())
    return tuple(sorted(tuple(r) for r in rows))


def _model_revenue(state: dict[int, tuple]) -> tuple:
    agg: dict[tuple, list[int]] = {}
    for _, _, status, cents, month in state.values():
        a = agg.setdefault((status, month), [0, 0])
        a[0] += cents
        a[1] += 1
    return tuple(sorted((s, m, c, n) for (s, m), (c, n) in agg.items()))


class TxnRw:
    MIX = {k: data.TXN_BLOCK.count(k) for k in set(data.TXN_BLOCK)}

    def __init__(self, h, seed: int) -> None:
        self.h, self.seed = h, seed
        self.done = 0  # commits applied, in stream order
        self.reads: list[tuple[int, tuple]] = []  # (commits before it, result)
        self.retries = 0

    def setup(self, rep: int) -> None:
        from etl_workflow_spark.sources.txn import txn_create

        spark = self.h.spark
        self.base = data.txn_base_rows(self.seed, BASE_ROWS)
        self.ops = data.txn_operations(self.seed, self.base, N_OPS, BATCH)
        self.path = os.path.join(self.h.path(f"txn-{rep}"), "orders")
        txn_create(spark, self.path, _frame(spark, self.base),
                   partition_col="month", stats_cols=["order_id"])
        self.done = 0
        self.reads = []

    def warmup(self) -> None:
        """The stream's first rounds, one of each commit kind; the model
        counts them as committed."""
        for _ in range(WARM_OPS):
            self._round(None)

    def _commit(self, op: dict) -> dict:
        from pyspark.sql import functions as F
        from etl_workflow_spark.sources import txn

        spark, path = self.h.spark, self.path
        attempts = 0

        def mutate():
            nonlocal attempts
            attempts += 1
            if op["op"] == "append":
                return txn.txn_append(spark, path, _frame(spark, op["rows"]),
                                      keys=["order_id"])
            if op["op"] == "merge":
                return txn.txn_merge_into(spark, path, _frame(spark, op["rows"]),
                                          keys=["order_id"])
            return txn.txn_delete(spark, path, F.col("order_id").isin(op["keys"]))

        changed = txn.txn_retry(mutate)
        compacted = txn.txn_maintain(spark, path, max_entries=MAX_ENTRIES)
        self.retries += attempts - 1
        return {"changed": changed, "compacted": compacted is not None}

    def _round(self, tracer) -> Op:
        """Commit the next operation of the stream, then read."""
        from etl_workflow_spark.sources.txn import txn_read

        n = self.done
        op = self.ops[n]

        def span(name: str, layer: str):
            return tracer.span(name, layer) if tracer is not None else nullcontext()

        t0 = time.perf_counter()
        try:
            with span(f"round.{op['op']}", "client"):
                info = self._commit(op)
                self.done += 1
                t1 = time.perf_counter()
                df = txn_read(self.h.spark, self.path)
                with span("round.aggregate", "spark"):
                    result = _revenue(df)
            t2 = time.perf_counter()
        except Exception as e:
            if self.done == n:  # the model cannot know what half-happened
                self.done += 1
            return Op(op["op"], t0, time.perf_counter(), ok=False, error=repr(e))
        self.reads.append((self.done, result))
        info.update(commit_ms=(t1 - t0) * 1e3, read_ms=(t2 - t1) * 1e3)
        return Op(op["op"], t0, t2, info=info)

    def run(self, deadline: float, tracer=None) -> list[Op]:
        ops: list[Op] = []
        bytes0 = du(self.path)
        while time.perf_counter() < deadline and self.done < len(self.ops):
            ops.append(self._round(tracer))
            if not ops[-1].ok:
                break
        if tracer is not None:  # the per-layer metrics describe the traced window
            self._traced_bytes = du(self.path) - bytes0
        return ops

    def check(self) -> list[str]:
        """The final snapshot equals the model after the committed
        operations, and every read equals the model after exactly the
        commits that preceded it."""
        from etl_workflow_spark.sources.txn import txn_read

        state = {r[0]: r for r in self.base}
        after = [_model_revenue(state)]  # after[i]: revenue after i commits
        for op in self.ops[: self.done]:
            data.apply_txn_op(state, op)
            after.append(_model_revenue(state))
        failures = []
        got = sorted(tuple(r) for r in txn_read(self.h.spark, self.path).collect())
        if got != sorted(state.values()):
            failures.append(f"final snapshot has {len(got)} rows, model {len(state)}; "
                            "contents differ")
        for n, result in self.reads:
            if result != after[n]:
                failures.append(f"read after commit {n} differs from the model")
        return failures

    def named(self, ops: list[Op], elapsed: float) -> dict:
        from ..stats import median, tail_metric

        commits = [o.info["commit_ms"] for o in ops if o.ok]
        reads = [o.info["read_ms"] for o in ops if o.ok]
        return {
            "commit_p50_ms": (median(commits) if commits else None, "ms"),
            **tail_metric("commit_tail_ms", commits),
            "read_p50_ms": (median(reads) if reads else None, "ms"),
            **tail_metric("read_tail_ms", reads),
            "rounds": (len(commits), "count"),
        }

    def layer(self, ops: list[Op], tracer, ev: dict) -> dict:
        def span_ms(name: str) -> float:
            return median_span_ms(tracer.spans, name)

        writes = [o for o in ops if o.ok]
        changed = sum(_rows_changed(o.info["changed"]) for o in writes)
        manifest = _latest_manifest(self.path)
        live = sum(_entry_bytes(self.path, e) for e in manifest["entries"])
        return {
            "txn.append_ms": span_ms("txn.txn_append"),
            "txn.merge_ms": span_ms("txn.txn_merge_into"),
            "txn.delete_ms": span_ms("txn.txn_delete"),
            "txn.maintain_ms": span_ms("txn.txn_maintain"),
            "txn.read_ms": span_ms("txn.txn_read"),
            "txn.compactions": sum(o.info["compacted"] for o in writes),
            "txn.manifest_entries_end": len(manifest["entries"]),
            "txn.bytes_on_disk_per_live_byte": du(os.path.join(self.path, "_data")) / max(live, 1),
            "txn.bytes_written_per_row_changed": self._traced_bytes / max(changed, 1),
            "txn.conflict_retries": self.retries,
        }


def _rows_changed(changed) -> int:
    return sum(changed) if isinstance(changed, tuple) else int(changed)


def _latest_manifest(path: str) -> dict:
    log_dir = os.path.join(path, "_txnlog")
    latest = max(f for f in os.listdir(log_dir)
                 if f.endswith(".json") and f[:-5].isdigit())
    with open(os.path.join(log_dir, latest)) as f:
        return json.load(f)


def _entry_bytes(path: str, entry: dict) -> int:
    d = os.path.join(path, "_data", entry["dir"])
    if entry.get("partitions") is None:
        return du(d)
    return sum(du(os.path.join(d, f"month={v}")) for v in entry["partitions"])

