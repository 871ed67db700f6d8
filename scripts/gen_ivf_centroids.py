"""Regenerate the pretrained IVF coarse-quantizer centroids.

Real IVF indexes ship a PRETRAINED coarse quantizer (trained once,
then reused for every search); this script is that training step. It
runs the deterministic Lloyd's trainer (seeded with the n_lists
smallest vec_ids, fixed iterations) on the sf0.01 embeddings and
writes the centroids into ``entries/_ivf_centroids.py``
as literals, so BOTH the engine entry and the DuckDB oracle search
with the exact same quantizer. Training itself stays covered by the
recall-vs-bruteforce tests in tests/test_operators.py.

Usage: python scripts/gen_ivf_centroids.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from prql_spark import Catalog, build_spark  # noqa: E402
from prql_spark.operators import similarity  # noqa: E402

N_LISTS = 8
DIM = 64
ITERS = 3
# SemDeDup wants many more, smaller clusters than IVF's probe lists:
# pair volume is ~n^2/n_lists, so the cluster count is the lever that
# keeps per-reducer cosine work bounded (8 lists at sf0.1 meant 1.5M
# in-cluster pairs and a 13s entry; 64 lists cut it ~8x).
SEMDEDUP_LISTS = 64


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_spark("gen-ivf-centroids")
    spark.sparkContext.setLogLevel("ERROR")
    embs = Catalog(spark, sf_dir).load("embeddings")
    cents = similarity.ivf_train_centroids(
        embs, dim=DIM, n_lists=N_LISTS, iters=ITERS
    )
    sd_cents = similarity.ivf_train_centroids(
        embs, dim=DIM, n_lists=SEMDEDUP_LISTS, iters=ITERS
    )
    lines = [
        '"""Pretrained IVF coarse-quantizer centroids.',
        "",
        "Generated by scripts/gen_ivf_centroids.py from the "
        f"{os.path.basename(sf_dir.rstrip('/'))} testdata",
        f"(n_lists={N_LISTS}, dim={DIM}, iters={ITERS}, deterministic",
        "seed = smallest vec_ids). Do not edit by hand — regenerate.",
        '"""',
        "",
    ]
    def emit(name, cs):
        lines.append(f"{name}: list[list[float]] = [")
        for c in cs:
            lines.append("    [")
            row = []
            for x in c:
                row.append(repr(float(x)))
                if len(", ".join(row)) > 60:
                    lines.append("        " + ", ".join(row) + ",")
                    row = []
            if row:
                lines.append("        " + ", ".join(row) + ",")
            lines.append("    ],")
        lines.append("]")
    emit("CENTROIDS", cents)
    lines.append("")
    lines.append(f"# semdedup quantizer: {SEMDEDUP_LISTS} lists (see header)")
    emit("SEMDEDUP_CENTROIDS", sd_cents)
    out = "entries/_ivf_centroids.py"
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(cents)}+{len(sd_cents)} centroids to {out}")


if __name__ == "__main__":
    main()
