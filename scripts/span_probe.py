"""Isolate the span-computation cost inside the fused sql extraction scan
(VERDICT r5 order #6 / NOTES_r5 #3: ~18-20s of instr calls at 25.6M/c4).

Times the shipped fused_sql scan against a copy whose span expression is
replaced by a constant (everything else identical), interleaved, medians
of N — the delta IS the span cost.

    python scripts/span_probe.py [--repl 64] [--cpus 4] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from run_scaling import prepare_replica  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repl", type=int, default=64)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from guac_spark import corpus, extract
    from guac_spark.session import get_spark

    sf_dir = prepare_replica(args.repl)
    spark = get_spark(app_name="span_probe", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t = corpus.transcripts(spark, sf_dir)

    def arm(pat, prefix, span_expr_fn):
        # single-param lambda: a 2-param transform lambda would receive
        # the element INDEX as its second argument
        return F.transform(
            F.regexp_extract_all("text", F.lit(pat), F.lit(1)),
            lambda s: F.struct(
                s.alias("s"), span_expr_fn(s, prefix).alias("sp")
            ),
        )

    def fused_sql_span(span_expr_fn):
        kv = []
        for kind, pat in extract.MENTION_PATTERNS:
            kv.append(F.lit(kind))
            kv.append(arm(pat, extract.MARKER_PREFIX[kind], span_expr_fn))
        return (
            t.select(
                "conv_id", "turn_idx",
                F.explode(F.create_map(*kv)).alias("kind", "arr"),
            )
            .select("conv_id", "turn_idx", "kind", F.explode("arr").alias("e"))
            .select("conv_id", "turn_idx", "kind",
                    F.col("e.s").alias("surface"),
                    F.col("e.sp").alias("span"))
        )

    shapes = {
        # shipped: instr(text, prefix || surface)
        "span_instr": lambda: fused_sql_span(
            lambda s, p: F.instr(
                "text", F.concat(F.lit(p), s)).cast("int")
        ),
        # no-op span: isolates the instr cost
        "span_const": lambda: fused_sql_span(
            lambda s, p: F.lit(1).cast("int")
        ),
        # instr on the bare surface minus prefix length (saves the concat;
        # equal to span_instr iff the first occurrence of every surface is
        # prefix-preceded — candidate cheap variant)
        "span_instr_noconcat": lambda: fused_sql_span(
            lambda s, p: (
                F.call_function("instr", F.col("text"), s)
                - F.lit(len(p)) + F.lit(1) - F.lit(1)
            ).cast("int")
        ),
        # the SHIPPED guarded form (extract.surface_span_arr): concat-free
        # common path, prefix-check guard, exact-semantics fallback
        "span_guarded": lambda: extract.extract_mentions(t),
    }
    legs: dict[str, list[float]] = {k: [] for k in shapes}
    for i in range(args.runs):
        for name, fn in shapes.items():
            t0 = time.time()
            fn().select(F.lit(1)).count()
            legs[name].append(round(time.time() - t0, 2))
            print(f"run {i+1} {name}: {legs[name][-1]}s",
                  file=sys.stderr, flush=True)
    meds = {k: statistics.median(v) for k, v in legs.items()}
    print(json.dumps({
        "repl": args.repl, "cpus": args.cpus, "runs": legs,
        "medians": meds,
        "span_cost_sec": round(
            meds["span_instr"] - meds["span_const"], 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
