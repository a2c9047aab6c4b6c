"""Round-7 probe: equivalences-stage scaling shape, drift-immune.

Two cold REPL legs this session showed equivalences 9.8s at 800k turns
vs 67.8s at 3.2M — 6.9x for 4x turns (and 4x universe). Whole-process
host drift on this box is ~3x between consecutive runs, so the cold
ratio cannot distinguish "stage is super-linear" from "the second
process drew a slow slot". This probe builds BOTH corpora, runs the
pipeline through mentions_linked for each, then interleaves the
equivalences-stage noop (same session, alternating scales) so every
rep pair shares the host state.

  python scripts/r7_equiv_scaling_probe.py [reps] [repl_small] [repl_big]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from guac_spark import assemble, link, pipeline  # noqa: E402
from guac_spark.session import get_spark  # noqa: E402

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
REPL_SMALL = int(sys.argv[2]) if len(sys.argv) > 2 else 8
REPL_BIG = int(sys.argv[3]) if len(sys.argv) > 3 else 32
BASE_SF = "/root/testdata/sf0.1"


def replicate(spark, repl: int, out_dir: str) -> str:
    ev = spark.read.parquet(f"{BASE_SF}/events.parquet")
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
            "event_type", "value", "props",
        )
        for i in range(repl)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    return out_dir


def build_links(linked, adict):
    tail = link.link_tail(link.unmatched_surfaces(linked), adict)
    aka = (
        linked.filter(F.col("kind") == "aka")
        .select(F.col("surface").alias("surface_a"), F.col("surface_b"))
        .distinct()
    )
    aka_res = assemble.resolve_surfaces(
        aka, adict, ["surface_a", "surface_b"]
    ).select(
        F.col("surface_a").alias("src"), F.col("surface_b").alias("dst")
    )
    return (
        tail.unionByName(aka_res)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t, 3)


def main() -> None:
    spark = get_spark(app_name="r7_equiv_scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="r7sc_", dir="/dev/shm")
    try:
        legs = {}
        for tag, repl in (("small", REPL_SMALL), ("big", REPL_BIG)):
            sf_dir = replicate(spark, repl, os.path.join(root, tag))
            wh = os.path.join(root, f"wh_{tag}")
            res = pipeline.run_pipeline(spark, sf_dir, warehouse_root=wh)
            linked = res.tables["mentions_linked"]
            adict = res.tables["alias_dict"]
            unmatched = link.unmatched_surfaces(linked)
            persons = adict.filter(F.col("kind") == "person")
            legs[tag] = {
                "repl": repl,
                "turns": res.turns,
                "linked": linked,
                "adict": adict,
                "n_unmatched": unmatched.count(),
                "n_aliases": persons.count(),
                "n_candidates": link.lsh_candidate_pairs(
                    unmatched.select("surface").distinct(),
                    persons.select("alias").distinct(),
                ).count(),
            }
        out = {
            t: {k: v for k, v in leg.items() if k not in ("linked", "adict")}
            for t, leg in legs.items()
        }
        for t in ("small", "big"):
            out[t]["stage"] = []
        for i in range(REPS):
            for t in ("small", "big"):
                spark.sparkContext.setJobDescription(f"equiv {t} rep{i}")
                out[t]["stage"].append(
                    noop(build_links(legs[t]["linked"], legs[t]["adict"]))
                )
        for t in ("small", "big"):
            out[t]["stage_median"] = statistics.median(out[t]["stage"])
        out["time_ratio"] = round(
            out["big"]["stage_median"] / out["small"]["stage_median"], 2
        )
        out["cand_ratio"] = round(
            out["big"]["n_candidates"]
            / max(1, out["small"]["n_candidates"]),
            2,
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
