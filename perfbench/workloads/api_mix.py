"""api_mix: two closed-loop clients share one session and issue a
seeded request stream of the four analytics queries."""

from __future__ import annotations

import math
import random
import threading
import time

from .. import data
from ..harness import Op, run_clients

N_ORDERS = 30_000  # sf0.02: ~120k lineitem rows
CLIENTS = 2
N_REQUESTS = 2_000  # more than three windows consume
WARM_REQUESTS = 24
CHECK_SHARE = 0.25  # share of requests compared with the DuckDB oracle
QUERIES = tuple(q for q, _ in data.API_MIX)


class ApiMix:
    MIX = dict(data.API_MIX)  # share of each query type in the stream
    CLIENTS = CLIENTS

    def __init__(self, h, seed: int) -> None:
        self.h, self.seed = h, seed
        self.issued: list[dict] = []
        self.results: dict[int, list] = {}
        self._cursor = 0
        self._lock = threading.Lock()

    def setup(self, rep: int) -> None:
        self.sf_dir = self.h.path(f"api-{rep}")
        self.counts = data.write_star_schema(self.sf_dir, self.seed, N_ORDERS)
        self.requests = data.api_requests(self.seed, N_REQUESTS, self.counts["customer"])

    def warmup(self) -> None:
        """The first WARM_REQUESTS requests of the seed + 1 stream, over
        the same two clients. Latency keeps falling for the first ~20 s
        of load as the JVM compiles the hot paths (median 890 ms in the
        first 10 s after one request of each type, 640 ms in the next
        10 s, 590 ms in the 10 s after that, on a 4-core VM), and a window
        on that slope measures the compiler, not the queries."""
        from etl_workflow_spark import queries

        warm = data.api_requests(self.seed + 1, WARM_REQUESTS, self.counts["customer"])
        lock = threading.Lock()

        def client() -> None:
            while True:
                with lock:
                    if not warm:
                        return
                    r = warm.pop(0)
                getattr(queries, r["q"])(self.h.spark, self.sf_dir, **r["args"]).collect()

        run_clients({f"warm{c}": client for c in range(CLIENTS)}, timeout=300)

    def _sampled(self, i: int) -> bool:
        return random.Random(self.seed * 1_000_003 + i).random() < CHECK_SHARE

    def run(self, deadline: float, tracer=None) -> list[Op]:
        from etl_workflow_spark import queries

        spark = self.h.spark
        ops: list[Op] = []

        def client() -> None:
            sc = spark.sparkContext
            while time.perf_counter() < deadline:
                with self._lock:
                    i = self._cursor
                    self._cursor += 1
                req = self.requests[i]
                info = {"i": i, "q": req["q"]}
                t0 = time.perf_counter()
                try:
                    if tracer is not None:
                        sc.setJobGroup(f"{req['q']}#{i}", req["q"])
                        with tracer.span(f"request.{req['q']}", "client", i=i):
                            df = getattr(queries, req["q"])(spark, self.sf_dir, **req["args"])
                            t1 = time.perf_counter()
                            with tracer.span(f"queries.{req['q']}.exec", "spark"):
                                rows = df.collect()
                        t2 = time.perf_counter()
                        # read after t2: the JVM round trips are bookkeeping
                        phases = df._jdf.queryExecution().tracker().phases()
                        info["catalyst_ms"] = sum(
                            phases.apply(p).durationMs() for p in ("optimization", "planning"))
                    else:
                        df = getattr(queries, req["q"])(spark, self.sf_dir, **req["args"])
                        t1 = time.perf_counter()
                        rows = df.collect()
                        t2 = time.perf_counter()
                    info.update(build_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3, rows=len(rows))
                    op = Op(req["q"], t0, t2, info=info)
                    if self._sampled(i):
                        self.results[i] = [tuple(r) for r in rows]
                except Exception as e:  # a failed request counts, the loop goes on
                    op = Op(req["q"], t0, time.perf_counter(), ok=False, error=repr(e), info=info)
                with self._lock:
                    ops.append(op)
                    self.issued.append(req)

        run_clients({f"client{c}": client for c in range(CLIENTS)},
                    timeout=max(deadline - time.perf_counter(), 0) + 120)
        return ops

    def check(self) -> list[str]:
        """Compare every sampled request with the DuckDB SQL of
        ``queries.*_oracle``; returns one message per mismatch."""
        import duckdb
        from etl_workflow_spark import queries

        con = duckdb.connect()
        for t in ("orders", "lineitem", "part"):
            con.execute(f"CREATE VIEW {t}_all AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        failures = []
        for i, got in sorted(self.results.items()):
            req = self.requests[i]
            args = dict(req["args"])
            # The oracles take no category / history-window arguments:
            # those filters are applied to the oracle's input views.
            part_pred = orders_pred = "TRUE"
            if req["q"] == "top_selling_by_category":
                part_pred = f"p_brand = '{args.pop('category')}'"
            if req["q"] == "customer_purchase_history" and "start_date" in args:
                orders_pred = (f"o_orderdate >= TIMESTAMP '{args.pop('start_date')}' AND "
                               f"o_orderdate <= TIMESTAMP '{args.pop('end_date')}'")
            con.execute(f"CREATE OR REPLACE VIEW orders AS SELECT * FROM orders_all WHERE {orders_pred}")
            con.execute("CREATE OR REPLACE VIEW lineitem AS SELECT * FROM lineitem_all")
            con.execute(f"CREATE OR REPLACE VIEW part AS SELECT * FROM part_all WHERE {part_pred}")
            want = con.execute(getattr(queries, req["q"] + "_oracle")(**args)).fetchall()
            if not _same_rows(got, want):
                failures.append(f"request {i} {req['q']} {req['args']}: "
                                f"{len(got)} rows differ from the oracle's {len(want)}")
        con.close()
        return failures

    def named(self, ops: list[Op], elapsed: float) -> dict:
        from ..stats import median, tail_metric

        ms = [o.ms for o in ops if o.ok]
        return {
            "api_p50_ms": (median(ms), "ms"),
            **tail_metric("api_tail_ms", ms),
            "api_qps": (len(ms) / elapsed, "1/s"),
            "api_repeat_share": (data.repeat_share(self.issued), "frac"),
        }

    def layer(self, ops: list[Op], tracer, ev: dict) -> dict:
        from ..stats import median

        out = {}
        by_group = ev.get("input_records_by_group", {})
        for q in QUERIES:
            mine = [o for o in ops if o.ok and o.kind == q]
            rows = sum(o.info["rows"] for o in mine)
            scanned = sum(by_group.get(f"{q}#{o.info['i']}", 0) for o in mine)
            out[f"queries.{q}.build_ms"] = median([o.info["build_ms"] for o in mine]) if mine else 0.0
            out[f"queries.{q}.exec_ms"] = median([o.info["exec_ms"] for o in mine]) if mine else 0.0
            out[f"queries.{q}.catalyst_ms"] = (
                median([o.info["catalyst_ms"] for o in mine]) if mine else 0.0)
            out[f"queries.{q}.rows_scanned_per_row"] = scanned / max(rows, 1)
        calls = [s for s in tracer.spans if s["name"] == "catalog.table"]
        out["catalog.table_calls"] = len(calls) / max(len(ops), 1)
        out["catalog.table_ms"] = (
            sum(s["end"] - s["start"] for s in calls) * 1e3 / len(calls) if calls else 0.0)
        return out


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True

