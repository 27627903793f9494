"""One-time fixture build: train the IVF coarse quantizer and persist
it as a centroid TABLE both engines read (VERDICT r9 ask #5).

``train_ivf_centroids`` (operators/similarity.py) runs spherical
k-means over the sf0.01 embeddings -- the driver's correctness SF --
and the result is written to ``fixtures/ivf_centroids.parquet`` as
(cell_id INT, cv DOUBLE[]) via pyarrow (one file, no Spark directory
layout, so DuckDB ``read_parquet`` and ``spark.read.parquet`` both
read it directly). The artifact is COMMITTED: training involves
distributed float sums whose task order is not deterministic, so the
fixture is trained once and pinned -- q_ann_ivf_trained and its
DuckDB oracle thereafter read identical bytes forever.

``pq`` mode trains the PRODUCT-QUANTIZATION codebook the same way:
per-subspace Lloyd's k-means (numpy, float64, deterministic first-K
-distinct init, fixed iteration count) over the sf0.01 embeddings --
training is sample-sized by design (a 100 TB deployment trains on a
uniform sample; encoding stays full-scale and narrow) -- written to
``fixtures/pq_codebook.parquet`` as (m INT, code_id INT, cv DOUBLE[])
and COMMITTED so q_pq_encode and its oracle read identical bytes.

Usage: python tools/train_quantizer.py [sf_dir] [out_path]
       python tools/train_quantizer.py pq [sf_dir] [out_path]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
#: Where the trained quantizers are committed.
FIXTURES = os.path.join(REPO, "fixtures")


def _load_embeddings(sf_dir: str):
    import numpy as np

    from dump1090_stream_parser_spark.session import get_spark
    from dump1090_stream_parser_spark.tables import load_table

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    rows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    spark.stop()
    return X


def _subspace_kmeans(S, ksub: int, iters: int = 10):
    """Deterministic Lloyd's over one subspace: first-K-distinct init
    in vec_id order (duplicates would seed dead twin cells), argmin
    ties to the lowest code id, fixed iteration count."""
    import numpy as np

    seen: list[tuple] = []
    for row in S:
        t = tuple(row)
        if t not in seen:
            seen.append(t)
        if len(seen) == ksub:
            break
    C = np.array(seen, dtype=np.float64)
    for _ in range(iters):
        d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for k in range(ksub):
            mask = assign == k
            if mask.any():
                C[k] = S[mask].mean(axis=0)
    d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return C, d2.argmin(axis=1), d2.min(axis=1)


def _train_codebook(X, pq_m: int, dsub: int, ksub: int, verbose=True):
    """Per-subspace codebooks over X; returns (codebook rows, per-row
    total sq reconstruction error, assignments per subspace)."""
    import numpy as np

    ms, codes, cvs = [], [], []
    books, assigns = [], []
    total_err = np.zeros(len(X), dtype=np.float64)
    for m in range(pq_m):
        S = X[:, m * dsub : (m + 1) * dsub]
        C, assign, err = _subspace_kmeans(S, ksub)
        books.append(C)
        assigns.append(assign)
        total_err += err
        if verbose:
            base = ((S - S.mean(axis=0)) ** 2).sum(axis=1).mean()
            print(
                f"subspace {m}: mean sq_err {err.mean():.6f}"
                f" vs 1-centroid baseline {base:.6f}"
            )
        for k in range(ksub):
            ms.append(m)
            codes.append(k)
            cvs.append([float(v) for v in C[k]])
    return (ms, codes, cvs), total_err, (books, assigns)


def _write_codebook(rows, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ms, codes, cvs = rows
    table = pa.table(
        {
            "m": pa.array(ms, type=pa.int32()),
            "code_id": pa.array(codes, type=pa.int32()),
            "cv": pa.array(cvs, type=pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, out)
    print(f"wrote {len(ms)} codewords -> {out}")


def train_pq(sf_dir: str, out: str) -> int:
    from dump1090_stream_parser_spark.operators.similarity import (
        PQ_DSUB,
        PQ_KSUB,
        PQ_M,
    )

    X = _load_embeddings(sf_dir)
    rows, _, _ = _train_codebook(X, PQ_M, PQ_DSUB, PQ_KSUB)
    _write_codebook(rows, out)
    return 0


def train_opq(sf_dir: str, rot_out: str, cb_out: str) -> int:
    """OPQ (optimized product quantization, Ge et al. CVPR'13): learn
    an orthonormal rotation R that redistributes variance/correlation
    across the PQ subspaces before coding, by alternating (a) codebook
    training on the rotated data with (b) the orthogonal Procrustes
    solve R = U V^T from SVD(X^T Y), Y the current reconstruction. All
    numpy float64, deterministic init and iteration counts; both
    artifacts are COMMITTED (the q_ann_ivf_trained provenance
    contract), so the engines read identical bytes forever.

    Prints the measured story: total squared reconstruction error of
    plain PQ (R = I) vs OPQ on the training corpus."""
    import numpy as np

    from dump1090_stream_parser_spark.operators.similarity import (
        PQ_DSUB,
        PQ_KSUB,
        PQ_M,
    )

    X = _load_embeddings(sf_dir)
    d = X.shape[1]
    R = np.eye(d)
    plain_err = None
    for it in range(6):
        Xr = X @ R
        rows, total_err, (books, assigns) = _train_codebook(
            Xr, PQ_M, PQ_DSUB, PQ_KSUB, verbose=False
        )
        if plain_err is None:
            plain_err = total_err.mean()  # iteration 0 == plain PQ
        print(f"opq iter {it}: mean total sq_err {total_err.mean():.6f}")
        if it == 5:
            break
        # reconstruction in rotated space, then Procrustes for R
        Y = np.concatenate(
            [books[m][assigns[m]] for m in range(PQ_M)], axis=1
        )
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    print(
        f"plain-PQ mean total sq_err {plain_err:.6f} -> OPQ"
        f" {total_err.mean():.6f}"
        f" ({100 * (1 - total_err.mean() / plain_err):.1f}% lower)"
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    # rotated_j = dot(embedding, rv_j): rv_j is R's j-th COLUMN
    table = pa.table(
        {
            "out_dim": pa.array(range(d), type=pa.int32()),
            "rv": pa.array(
                [[float(v) for v in R[:, j]] for j in range(d)],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    pq.write_table(table, rot_out)
    print(f"wrote {d}x{d} rotation -> {rot_out}")
    _write_codebook(rows, cb_out)
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "pq":
        return train_pq(
            sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01",
            sys.argv[3]
            if len(sys.argv) > 3
            else os.path.join(FIXTURES, "pq_codebook.parquet"),
        )
    if len(sys.argv) > 1 and sys.argv[1] == "opq":
        return train_opq(
            sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01",
            sys.argv[3]
            if len(sys.argv) > 3
            else os.path.join(FIXTURES, "opq_rotation.parquet"),
            sys.argv[4]
            if len(sys.argv) > 4
            else os.path.join(FIXTURES, "opq_codebook.parquet"),
        )
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dump1090_stream_parser_spark.operators.similarity import (
        N_CELLS,
        _seed_centroid_rows,
        quantizer_quality,
        train_ivf_centroids,
    )
    from dump1090_stream_parser_spark.session import get_spark
    from dump1090_stream_parser_spark.tables import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(FIXTURES, "ivf_centroids.parquet")
    )
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings")

    seeds = [
        [float(v) for v in r["embedding"]]
        for r in _seed_centroid_rows(emb)
    ]
    q_seed = quantizer_quality(emb, seeds)
    cents = train_ivf_centroids(emb, k=N_CELLS, iters=5)
    q_trained = quantizer_quality(emb, cents)
    print(
        f"quantizer quality (mean best-cos over {sf_dir}): "
        f"seed={q_seed:.6f} trained={q_trained:.6f}"
    )

    table = pa.table(
        {
            "cell_id": pa.array(range(len(cents)), type=pa.int32()),
            "cv": pa.array(cents, type=pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, out)
    print(f"wrote {len(cents)} centroids -> {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
