"""Time the NSW driver search against its all-Spark rounds as the query
set grows — the measurement that sets similarity.DRIVER_PROBE_MAX_Q.

Builds a persisted NSW index over N seeded vectors of dimension DIM
(16 cluster centres, as perfbench's index corpus), then for each query
count runs load + search + collect with both engines, alternating
their order, and prints the best time, every time and the Spark job
count of each, plus whether the answers are equal. The cap is lifted
for the run so the driver search serves every size.

Usage: python tools/time_probe_cap.py DIM N Q1,Q2,... [REPS]
e.g.   python tools/time_probe_cap.py 768 1100 100,256,512,1024 2
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mining_data_integration_spark import spans  # noqa: E402
from mining_data_integration_spark.operators import similarity as S  # noqa: E402
from mining_data_integration_spark.session import get_spark  # noqa: E402


def main() -> None:
    dim, n = int(sys.argv[1]), int(sys.argv[2])
    sizes = [int(x) for x in sys.argv[3].split(",")]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    spark = get_spark("time_probe_cap", shuffle_partitions=4)
    rng = np.random.default_rng(5)
    centres = rng.normal(0.0, 40.0, size=(16, dim))

    def frame(id_col, vec_col, m):
        vecs = np.round(centres[rng.integers(0, 16, size=m)]
                        + rng.normal(0.0, 12.0, size=(m, dim)), 3)
        return spark.createDataFrame(pa.table({
            id_col: np.arange(m, dtype=np.int64),
            vec_col: pa.array(vecs.tolist(), pa.list_(pa.float64()))}))

    def bsp(adj, emb, q, k):
        return S._nsw_beam_search_bsp(adj, emb, q, k, 4, 3, 2, "vec_id",
                                      "embedding", "q_id", "q_emb")

    engines = {"driver": S.nsw_beam_search, "spark": bsp}
    root = tempfile.mkdtemp(prefix="time_probe_cap-")
    path = os.path.join(root, "nsw")
    emb = frame("vec_id", "embedding", n)
    S.save_nsw_index(emb, path, n_centroids=4 if n <= 1100 else None,
                     n_probe=1, iters=1)
    S.DRIVER_PROBE_MAX_Q = max(sizes)

    def run(name, q):
        with spans.span(name) as s:
            rows = engines[name](S.load_nsw_index(spark, path)["adj"],
                                 emb, q, k=5).collect()
        rec = s.record["spans"]
        return sorted(tuple(r) for r in rows), rec["wall_s"], len(rec["jobs"])

    try:
        warm = frame("q_id", "q_emb", 24)
        for name in engines:
            run(name, warm)
        for m in sizes:
            q = frame("q_id", "q_emb", m).localCheckpoint()
            times = {name: [] for name in engines}
            answers, jobs = {}, {}
            for r in range(reps):
                order = list(engines) if r % 2 == 0 else list(engines)[::-1]
                for name in order:
                    answers[name], dt, jobs[name] = run(name, q)
                    times[name].append(dt)
            cols = " ".join(
                f"{name}={min(ts):.2f}s/{jobs[name]}j"
                f"({','.join(f'{t:.2f}' for t in ts)})"
                for name, ts in times.items())
            print(f"dim={dim} n={n} Q={m}: {cols} "
                  f"same={answers['driver'] == answers['spark']}",
                  flush=True)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
