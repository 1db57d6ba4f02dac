"""corpus_curate: one client runs the curation chain over the seeded
corpus, pass after pass: normalize, quality + Gopher flags, exact
dedup, MinHash-LSH probe of a 2% slice against the rest, BM25 top-k.
One operation is one step of a pass; every pass issues each step once,
so each step is an equal share of the stream."""

from __future__ import annotations

import time
from collections import Counter
from contextlib import nullcontext

from .. import data
from ..harness import Op

N_DOCS = 3_000  # enough that a warm pass (11-13 s) outlasts a 10 s window
WARM_DOCS = 100  # the warm-up corpus: a pass costs the same at any size
N_QUERIES = 20
TOP_K = 10
STEPS = ("normalize_text", "text_quality", "gopher_quality_flags",
         "exact_dedup", "minhash_lsh_probe", "bm25_topk")


class CorpusCurate:
    def __init__(self, h, seed: int) -> None:
        self.h, self.seed = h, seed
        self.passes: list[dict] = []

    def setup(self, rep: int) -> None:
        self.docs, self.queries, self.slice = self._corpus(f"corpus-{rep}", self.seed, N_DOCS)

    def _corpus(self, name: str, seed: int, n_docs: int):
        path = self.h.path(name) + "/documents.parquet"
        data.write_documents(path, seed, n_docs)
        return (self.h.spark.read.parquet(path), data.bm25_queries(seed, N_QUERIES),
                data.probe_slice(seed, n_docs))

    def warmup(self) -> None:
        """One pass over a small corpus of the seed + 1. The
        application's first pass costs 20-40 s at any corpus size (Python
        workers, imports, code generation), later ones 7-14 s."""
        docs, queries, probe = self._corpus("corpus-warm", self.seed + 1, WARM_DOCS)
        for _ in self._pass(docs, queries, probe):
            pass

    def _pass(self, docs, queries, probe_ids, tracer=None):
        """One pass of the chain: yields ``(step, start, end, output)``
        per step. Each step ends with an action that consumes its whole
        output."""
        from pyspark.sql import functions as F
        from etl_workflow_spark.operators import dedup, text

        def step(name: str, fn):
            t0 = time.perf_counter()
            with tracer.span(f"step.{name}", "client") if tracer is not None else nullcontext():
                res = fn()
            return name, t0, time.perf_counter(), res

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        name, t0, t1, norm = step("normalize_text", lambda: text.normalize_text(docs)
                                  .select("doc_id", F.col("text_norm").alias("text"))
                                  .localCheckpoint(eager=True))
        yield name, t0, t1, None
        yield step("text_quality", lambda: noop(text.text_quality(norm)))
        yield step("gopher_quality_flags", lambda: noop(text.gopher_quality_flags(norm)))
        yield step("exact_dedup", lambda: sorted(
            (r["keeper_id"], r["n_copies"]) for r in dedup.exact_dedup(norm).collect()))
        probe = F.col("doc_id").isin(probe_ids)
        yield step("minhash_lsh_probe", lambda: sorted(
            tuple(r) for r in dedup.minhash_lsh_probe(norm.where(probe), norm.where(~probe))
            .collect()))
        yield step("bm25_topk", lambda: sorted(
            tuple(r) for r in text.bm25_topk(norm, queries, k=TOP_K).collect()))
        norm.unpersist()

    def run(self, deadline: float, tracer=None) -> list[Op]:
        """Closed loop of passes until the deadline; the pass in flight
        at the deadline runs to its end, so every pass issues all six
        steps (a pass cut short would drop its costliest, last step)."""
        ops: list[Op] = []
        while time.perf_counter() < deadline:
            out: dict = {}
            t0 = time.perf_counter()
            try:
                for name, t0, t1, res in self._pass(self.docs, self.queries, self.slice, tracer):
                    ops.append(Op(name, t0, t1))
                    out[name] = res
            except Exception as e:
                ops.append(Op("step", t0, time.perf_counter(), ok=False, error=repr(e)))
                break
            self.passes.append({"keepers": out["exact_dedup"], "pairs": out["minhash_lsh_probe"],
                                "bm25": out["bm25_topk"]})
        return ops

    def check(self) -> list[str]:
        """Dedup keepers are a subset of the input covering every doc
        once; every pass returns the same keepers, pairs and rankings
        (one seed, one answer); BM25 returns at most k docs a query."""
        failures = []
        for i, p in enumerate(self.passes):
            ids = [k for k, _ in p["keepers"]]
            if not set(ids) <= set(range(N_DOCS)) or sum(n for _, n in p["keepers"]) != N_DOCS:
                failures.append(f"pass {i}: dedup keepers are not a partition of the input")
            if any(a not in range(N_DOCS) or b not in range(N_DOCS) for a, b, *_ in p["pairs"]):
                failures.append(f"pass {i}: LSH pair names a doc outside the corpus")
            per_query = Counter(q for q, *_ in p["bm25"])
            if any(n > TOP_K for n in per_query.values()) or any(
                    d not in range(N_DOCS) for _, d, *_ in p["bm25"]):
                failures.append(f"pass {i}: BM25 returned more than k docs or an unknown doc")
            if p != self.passes[0]:
                failures.append(f"pass {i}: output differs from pass 0 of the same seed")
        return failures

    def named(self, ops: list[Op], elapsed: float) -> dict:
        from ..stats import median

        per_step = [median([o.ms for o in ops if o.ok and o.kind == k]) for k in STEPS
                    if any(o.ok and o.kind == k for o in ops)]
        return {
            # a whole pass at the median time of each step
            "corpus_docs_per_s": (N_DOCS * 1e3 / sum(per_step)
                                  if len(per_step) == len(STEPS) else None, "1/s"),
            "corpus_passes": (len(self.passes), "count"),
            "dedup_pairs_digest": (data.stream_digest(self.passes[0]["pairs"])[:16]
                                   if self.passes else None, "sha256"),
        }

    def layer(self, ops: list[Op], tracer, ev: dict) -> dict:
        from ..stats import median

        out = {}
        for name in STEPS:
            xs = [o.ms for o in ops if o.ok and o.kind == name]
            mod = "dedup" if name in ("exact_dedup", "minhash_lsh_probe") else "text"
            out[f"{mod}.{name}_ms"] = median(xs) if xs else 0.0
        if self.passes:
            p = self.passes[-1]
            out["dedup.dup_frac"] = 1.0 - len(p["keepers"]) / N_DOCS
            out["dedup.lsh_pairs_out"] = len(p["pairs"])
        return out
