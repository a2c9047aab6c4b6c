"""Round-7: ANN IVF build-side scaling evidence (VERDICT r6 order #6).

The probe side of the IVF story has 1M-vector recall/latency evidence
(BENCH_ann_r6.json); the "build once, probe many" amortization claim
rested on a single 152s build measurement. This records the build's
scaling shape — rows/sec at two corpus sizes, interleaved in ONE
session so the ratio is immune to this box's whole-process drift.

Build = ivf_centroids (label means) + ivf_assign (nearest-centroid
inverted file) + parquet write of the inverted file, exactly the
harness's build step.

  python scripts/r7_ann_build_scaling.py [reps] [n_small] [n_big]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ann_scale_evidence import synth_corpus  # noqa: E402

from guac_spark.session import get_spark  # noqa: E402
from guac_spark.textops import similarity as S  # noqa: E402

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 2
N_SMALL = int(sys.argv[2]) if len(sys.argv) > 2 else 262_144
N_BIG = int(sys.argv[3]) if len(sys.argv) > 3 else 1_048_576
NLIST = 128


def main() -> None:
    spark = get_spark(app_name="r7_ann_build_scaling")
    spark.sparkContext.setLogLevel("ERROR")
    corpora = {}
    for tag, n in (("small", N_SMALL), ("big", N_BIG)):
        # n in the name: a work dir left by a crashed run is only reused
        # at the size it was built for
        work = f"/dev/shm/r7_ann_build_{tag}_n{n}"
        cp = os.path.join(work, "embeddings.parquet")
        if not os.path.exists(os.path.join(work, "_READY")):
            synth_corpus(cp, n, NLIST)
            open(os.path.join(work, "_READY"), "w").close()
        corpora[tag] = (n, spark.read.parquet(cp), work)

    out: dict = {"nlist": NLIST, "reps": REPS,
                 "n_small": N_SMALL, "n_big": N_BIG}
    for tag in ("small", "big"):
        out[tag] = {"build_sec": []}
    for i in range(REPS):
        for tag in ("small", "big"):
            n, emb, work = corpora[tag]
            idx = os.path.join(work, f"ivf_rep{i}.parquet")
            spark.sparkContext.setJobDescription(f"ivf build {tag} rep{i}")
            t0 = time.time()
            cent = S.ivf_centroids(emb)
            cent.cache().count()
            S.ivf_assign(emb, cent).write.mode("overwrite").parquet(idx)
            out[tag]["build_sec"].append(round(time.time() - t0, 2))
            cent.unpersist()
            shutil.rmtree(idx, ignore_errors=True)
    for tag, n in (("small", N_SMALL), ("big", N_BIG)):
        m = statistics.median(out[tag]["build_sec"])
        out[tag]["build_median_sec"] = m
        out[tag]["rows_per_sec"] = round(n / m, 1)
    out["time_ratio"] = round(
        out["big"]["build_median_sec"] / out["small"]["build_median_sec"], 2
    )
    out["size_ratio"] = round(N_BIG / N_SMALL, 2)
    print(json.dumps(out))
    spark.stop()
    for tag in ("small", "big"):
        shutil.rmtree(corpora[tag][2], ignore_errors=True)


if __name__ == "__main__":
    main()
