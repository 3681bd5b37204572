"""Workload index_lifecycle: the persisted-index lifecycle of the IVF-PQ,
NSW and MinHash band indexes on a seeded vector corpus and a seeded
document corpus with planted near-duplicates.

One cycle, for each of the three indexes, into fresh paths:
  build from scratch (build_s: the three builds), append a batch
  (update_s: the three appends; appended rows are probe-visible when
  they return), delete a batch, probe the fixed query set, compact,
  probe again (maintain_s: the deletes and compactions; read_s: one
  probe round, the query set against all three indexes).
Checks: every vector query gets K rows, no probe returns a deleted id,
the MinHash probe pairs every planted near-duplicate with its live
source, and the probes answer the same before and after compaction.

Set-up generates and lands the inputs and builds the three indexes once
on a small slice of them as warm-up (discarded).

Build parameters are fixed here: one k-means iteration for both vector
indexes and a 4-cell NSW quantizer, so a cycle fits the run budget on
a four-core box while per-row work still shows (the NSW build is ~4x slower
at 4x the corpus).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen

N_VEC, N_VEC_APPEND, N_QUERIES = 1000, 100, 24
N_DOCS, N_DOC_APPEND, N_PLANTED = 400, 40, 16
K = 5
INDEXES = ("ivfpq", "nsw", "minhash")


class IndexLifecycle:
    def __init__(self, run):
        from mining_data_integration_spark.operators import dedup, similarity

        self.run = run
        self.S, self.D = similarity, dedup
        self.n_cycle = 0

    def setup(self) -> None:
        run = self.run
        self.full = self._land("full", gen.index_inputs(
            run.seed, N_VEC, N_VEC_APPEND, N_QUERIES, N_DOCS, N_DOC_APPEND,
            N_PLANTED))
        tiny = self._land("tiny", gen.index_inputs(
            run.seed + 1, 120, 20, 8, 60, 12, 8))
        run.info["input"] = self.full["size"]
        # warm-up: the three builds on a small slice. A fresh JVM's
        # first index build pays ~8 s of one-off code generation and
        # JIT; the first append, delete, probe and compaction cost no
        # more than later ones, so they are not warmed (a whole warm-up
        # lifecycle would add ~20 s to every run).
        run.warming = True
        self._cycle(tiny, builds_only=True)
        run.warming = False

    def _land(self, tag: str, raw: dict) -> dict:
        """Write the generated tables as parquet and open them."""
        spark = self.run.spark
        d = os.path.join(self.run.root, f"input_{tag}")
        os.makedirs(d)
        dfs, size = {}, {}
        for name in ("vecs", "queries", "docs", "qdocs", "dead_vecs",
                     "dead_docs"):
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(raw[name], p)
            dfs[name] = spark.read.parquet(p)
            size[name] = {"rows": raw[name].num_rows,
                          "bytes": os.path.getsize(p)}
        vid, did = F.col("vec_id"), F.col("doc_id")
        dfs["vec_base"] = dfs["vecs"].filter(vid < raw["n_vec"])
        dfs["vec_append"] = dfs["vecs"].filter(vid >= raw["n_vec"])
        dfs["vec_live"] = dfs["vecs"].join(dfs["dead_vecs"], "vec_id",
                                           "left_anti")
        dfs["doc_base"] = dfs["docs"].filter(did < raw["n_docs"])
        dfs["doc_append"] = dfs["docs"].filter(did >= raw["n_docs"])
        dfs["dead_vec_ids"] = set(raw["dead_vecs"].column("vec_id")
                                  .to_pylist())
        dfs["dead_doc_ids"] = set(raw["dead_docs"].column("doc_id")
                                  .to_pylist())
        dfs["n_queries"] = raw["queries"].num_rows
        dfs["planted"] = raw["planted"]
        dfs["size"] = size
        return dfs

    def cycle(self) -> None:
        self._cycle(self.full)

    def _cycle(self, inp: dict, builds_only: bool = False) -> None:
        run, S, D, spark = self.run, self.S, self.D, self.run.spark
        self.n_cycle += 1
        base = os.path.join(run.root, f"idx{self.n_cycle}")
        p = {ix: os.path.join(base, ix) for ix in INDEXES}

        ops = {
            "build": (
                lambda: S.save_ivfpq_index(inp["vec_base"], p["ivfpq"],
                                           iters=1),
                lambda: S.save_nsw_index(inp["vec_base"], p["nsw"],
                                         n_centroids=4, n_probe=1, iters=1),
                lambda: D.save_minhash_index(inp["doc_base"], p["minhash"])),
            "append": (
                lambda: S.append_to_ivfpq_index(inp["vec_append"],
                                                p["ivfpq"]),
                lambda: S.append_to_nsw_index(inp["vec_append"],
                                              inp["vec_base"], p["nsw"]),
                lambda: D.append_to_minhash_index(inp["doc_append"],
                                                  p["minhash"])),
            "delete": (
                lambda: S.delete_from_ivfpq_index(inp["dead_vecs"],
                                                  p["ivfpq"]),
                lambda: S.delete_from_nsw_index(inp["dead_vecs"], p["nsw"]),
                lambda: D.delete_from_minhash_index(inp["dead_docs"],
                                                    p["minhash"])),
            "compact": (
                lambda: S.compact_ivfpq_index(spark, p["ivfpq"]),
                lambda: S.compact_nsw_index(spark, p["nsw"]),
                lambda: D.compact_minhash_index(spark, p["minhash"])),
        }

        def phase(name: str) -> float:
            return sum(run.op(None, f"{ix}.{name}", fn)[1]
                       for ix, fn in zip(INDEXES, ops[name]))

        run.sample("build_s", phase("build"))
        if builds_only:
            return
        run.sample("update_s", phase("append"))
        maintain = phase("delete")
        before = self._probe_round(inp, p)
        maintain += phase("compact")
        run.sample("maintain_s", maintain)
        after = self._probe_round(inp, p)
        for ix in INDEXES:
            run.check(after[ix] == before[ix],
                      f"{ix} probe changed across compaction")
        live_vecs = N_VEC + N_VEC_APPEND - len(inp["dead_vec_ids"])
        live = (live_vecs, live_vecs,
                N_DOCS + N_DOC_APPEND - len(inp["dead_doc_ids"]))
        for ix, n in zip(INDEXES, live):
            run.info.setdefault("bytes_per_live_row", {}).setdefault(
                ix, []).append(gen.dir_bytes(p[ix]) / n)

    def _probe_round(self, inp: dict, p: dict) -> dict:
        """The query set against the three indexes; returns each index's
        answer as a sorted row list."""
        run, S, D, spark = self.run, self.S, self.D, self.run.spark
        t0 = time.perf_counter()
        probes = (
            lambda: S.ivfpq_probe_topk(S.load_ivfpq_index(spark, p["ivfpq"]),
                                       inp["queries"], k=K).collect(),
            lambda: S.nsw_beam_search(S.load_nsw_index(spark, p["nsw"])["adj"],
                                      inp["vec_live"], inp["queries"],
                                      k=K).collect(),
            lambda: D.probe_minhash_index(inp["qdocs"],
                                          p["minhash"]).collect(),
        )
        got = {}
        for ix, fn in zip(INDEXES, probes):
            rows, dt = run.op(None, f"{ix}.probe", fn)
            got[ix] = sorted(tuple(r) for r in rows)
            run.sample("request_s", dt)
            if ix == "minhash":
                pairs = {(r["new_id"], r["corpus_id"]) for r in rows}
                run.check(inp["planted"] <= pairs,
                          "minhash probe missed a planted near-duplicate")
                run.check(not {c for _, c in pairs} & inp["dead_doc_ids"],
                          "minhash probe returned a deleted document")
            else:
                per_q = {}
                for r in rows:
                    per_q[r["q_id"]] = per_q.get(r["q_id"], 0) + 1
                run.check(len(per_q) == inp["n_queries"]
                          and set(per_q.values()) == {K},
                          f"{ix} probe did not return {K} rows per query")
                run.check(not {r["vec_id"] for r in rows}
                          & inp["dead_vec_ids"],
                          f"{ix} probe returned a deleted vector")
        run.sample("read_s", time.perf_counter() - t0)
        return got
