"""Round-7 probe: token-side minhash banding kernel.

Hypothesis (OPTIMIZATION_r07 follow-up #2, guide §4.3 "pass only the
columns the function needs"): the banding stage builds 3.2M bigram
STRINGS JVM-side (transform+concat) and ships them through Arrow — each
word crosses the boundary twice plus a separator. Shipping the token
array instead and forming bigrams as int64 codes in the kernel (strings
materialized only for the DISTINCT bigram vocabulary, which is what md5
needs anyway) halves the Arrow bytes and deletes the JVM concat pass.

Gate: band rows byte-identical at sf0.01/sf0.1 (banding feeds the
oracle-mirrored candidate chain, so identity is non-negotiable).

  python scripts/r7_token_kernel_probe.py [reps] [docs_repl]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from guac_spark.session import get_spark  # noqa: E402
from guac_spark.textops import dedup  # noqa: E402
from guac_spark.textops import minhash as mh  # noqa: E402

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 6
DOCS_REPL = int(sys.argv[2]) if len(sys.argv) > 2 else 10


def signatures_batch_tokens(
    token_lists: list[list[str]], a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """[n_docs, n_hashes] — same contract as mh.signatures_batch applied
    to word_bigram shingles of each token list, without materializing
    per-occurrence bigram strings: tokens factorize once, bigrams become
    int64 codes (i*V + j), and only DISTINCT codes get their string built
    + md5'd."""
    counts = np.fromiter(
        (len(t) for t in token_lists), dtype=np.int64, count=len(token_lists)
    )
    total = int(counts.sum())
    from itertools import chain

    flat_tok = np.fromiter(
        chain.from_iterable(token_lists), dtype=object, count=total
    )
    tok_codes, tok_vocab = pd.factorize(flat_tok, sort=False)
    tok_codes = tok_codes.astype(np.int64)
    V = np.int64(len(tok_vocab))
    ends = np.cumsum(counts)
    starts = ends - counts
    # shingle counts per doc: n-1 bigrams (n>=2), the token itself (n==1),
    # or the '' sentinel (n==0) — exactly `shingled`'s CASE + the batch
    # kernel's empty-list sentinel
    sc = np.where(counts >= 2, counts - 1, 1)
    out = np.empty(int(sc.sum()), dtype=np.int64)
    if total >= 2:
        m = np.ones(total, dtype=bool)
        m[ends - 1] = False
        pair_codes = (tok_codes[:-1] * V + tok_codes[1:])[m[:-1]]
    else:
        pair_codes = np.empty(0, dtype=np.int64)
    idx_pair = np.flatnonzero(np.repeat(counts >= 2, sc))
    out[idx_pair] = pair_codes
    out_starts = np.cumsum(sc) - sc
    one = counts == 1
    out[out_starts[one]] = V * V + tok_codes[starts[one]]
    empty = counts == 0
    out[out_starts[empty]] = V * V + V
    sh_codes, code_vocab = pd.factorize(out, sort=False)
    VV = int(V) * int(V)

    def _code_str(c: int) -> str:
        if c < VV:
            return tok_vocab[c // V] + " " + tok_vocab[c % V]
        if c < VV + int(V):
            return tok_vocab[c - VV]
        return ""

    uniq = np.fromiter(
        (mh.shingle_hash(_code_str(int(c))) for c in code_vocab),
        dtype=np.int64, count=len(code_vocab),
    )
    H = ((a[:, None] * uniq[None, :] + b[:, None]) % mh._PRIME).astype(
        np.int32
    )
    gathered = np.ascontiguousarray(H.T)[sh_codes]
    return np.minimum.reduceat(gathered, out_starts, axis=0).astype(np.int64)


def band_rows_df_tokens(df, id_col: str, text_col: str):
    a, b = mh.hash_family(mh.N_HASHES, 7)
    schema = f"{id_col} long, band int, band_key long"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            toks = [list(t) for t in pdf["w"]]
            sigs = signatures_batch_tokens(toks, a, b)
            keys = mh.band_keys(sigs, mh.N_BANDS)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), mh.N_BANDS),
                    "band": np.tile(
                        np.arange(mh.N_BANDS, dtype=np.int32), n_docs
                    ),
                    "band_key": keys.ravel(),
                }
            )

    toks = F.regexp_extract_all(F.col(text_col), F.lit("[a-z]+"), F.lit(0))
    return df.select(F.col(id_col), toks.alias("w")).mapInPandas(gen, schema)


def noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t, 3)


def main() -> None:
    spark = get_spark(app_name="r7_token_kernel_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # --- parity gate: band rows byte-identical at the correctness SFs ---
    for psf in ("sf0.001", "sf0.01", "sf0.1"):
        pdocs = dedup.staged_documents(
            dedup.load_documents(spark, f"/root/testdata/{psf}")
        )
        old = sorted(
            map(tuple, mh.band_rows_df(pdocs, "doc_id", "text").collect())
        )
        new = sorted(
            map(tuple, band_rows_df_tokens(pdocs, "doc_id", "text").collect())
        )
        assert old == new, f"MISMATCH {psf}: {len(old)} vs {len(new)}"
        print(f"parity ok {psf}: {len(old)} band rows identical",
              file=sys.stderr)

    # --- replicated corpus for timing (sf1.0-ish doc count) -------------
    base = dedup.load_documents(spark, "/root/testdata/sf0.1")
    parts = [
        base.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"), "text"
        )
        for i in range(DOCS_REPL)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    path = "/dev/shm/r7_docs_repl.parquet"
    try:
        big.repartition(64).write.mode("overwrite").parquet(path)
        docs = dedup.staged_documents(spark.read.parquet(path))
        n = docs.count()

        out = {"docs": n, "old": [], "new": []}
        for i in range(REPS):
            spark.sparkContext.setJobDescription(f"old band rep{i}")
            out["old"].append(noop(mh.band_rows_df(docs, "doc_id", "text")))
            spark.sparkContext.setJobDescription(f"new band rep{i}")
            out["new"].append(
                noop(band_rows_df_tokens(docs, "doc_id", "text"))
            )
        out["old_median"] = statistics.median(out["old"])
        out["new_median"] = statistics.median(out["new"])
        print(json.dumps(out))
    finally:
        shutil.rmtree(path, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
