"""The engine's one exact-cosine kernel (SURVEY.md §2.10 D2/D3).

Every exact cosine over ``(vec_id, v array<double>)`` frames runs
through :func:`cosine_candidates`: a ``mapInArrow`` scan of the large
side ``a`` against a small side ``b`` that :func:`fetch_small` reads
once, bounded, and broadcasts. Two reducers pick what each Arrow batch
forwards:

- threshold pairs (``min_sim``, dedup_embedding_cosine): BLAS GEMM
  proposes the pairs ``vec_a < vec_b`` that may reach the threshold;
- per-query local top-k (``top_k``, exact_topk_neighbors): the exact
  fold against the small query set, no GEMM.

The kernel only PROPOSES rows ``(vec_a, vec_b, dot, na, nb)``: the
doubles of functions/expressions.py's ``dot`` and ``l2_norm`` folds bit
for bit, or NULL where those are NULL (a NULL array or element; for
``dot`` also unequal lengths). Both sides evaluate ``acc = acc +
a[d]*b[d]`` over the same doubles in the same order, and IEEE 754 is
deterministic (no fusing or reassociation; zero padding adds ``+0.0``
terms, which change nothing). The caller computes ``dot / (na * nb)``,
the filter or ranking and the rounding with Spark expressions, so NULL,
NaN and DIVIDE_BY_ZERO under ``spark.sql.ansi.enabled`` are Spark's
decision, as in the declarative join. A reducer drops a pair only when
its estimate is a finite number that cannot reach the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.plans.cache import scoped_broadcast

# The small side's size limit: at most this many vectors are fetched
# and shipped to every task (32k × 64 dims × 8 B = 16 MiB).
_COSINE_BLOCK_MAX = 32_768


def _single_threaded_blas():
    """Pin BLAS to one thread in THIS process — a Spark task already
    owns exactly one core, so BLAS-internal threading is pure spin-wait
    contention: 32 concurrent workers each spinning a 2-thread OpenBLAS
    pool measured 28.5 s wall for GEMM work that takes 2.1 s
    single-threaded (sf1, 32 procs × 625×20000×64). Two layers because
    Python workers are REUSED: env vars steer a fresh worker's first
    numpy import; the ctypes call reconfigures a worker whose numpy
    (and BLAS pool) is already live from an earlier task."""
    import os

    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    try:
        import ctypes
        import glob as _glob

        import numpy as _np

        base = os.path.dirname(_np.__file__)
        for pat in ("../numpy.libs/*openblas*", ".libs/*openblas*"):
            for p in _glob.glob(os.path.join(base, pat)):
                try:
                    lib = ctypes.CDLL(p)
                except OSError:
                    continue
                for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                    try:
                        getattr(lib, sym)(1)
                        return
                    except AttributeError:
                        continue
    except Exception:
        pass


def _fold(x, y):
    """``acc = acc + x[d]*y[d]`` over the last axis in d order from
    ``+0.0``, broadcast over the leading axes."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(x.shape[:-1], y.shape[:-1]))
    for d in range(x.shape[-1]):
        acc += x[..., d] * y[..., d]
    return acc


def _dim_order_norms(mat):
    """sqrt of the d-order square fold — the exact float sequence of
    ``sqrt(aggregate(transform(v, x*x), 0.0, (s, x) -> s + x))``."""
    import numpy as np

    return np.sqrt(_fold(mat, mat))


def _vectors(ids, vecs, width: int = 0):
    """``(ids, mat, lens, ok, norms)`` of Arrow ``vec_id`` and
    ``list<double>`` columns: rows zero-padded to at least ``width``;
    ``ok`` is false where Spark's folds are NULL (a NULL array or
    element), and there the norm is NaN so every estimate is too."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    n = len(vecs)
    lens = pc.fill_null(pc.list_value_length(vecs), 0).to_numpy(zero_copy_only=False)
    vals = vecs.flatten()  # NULL arrays contribute no values
    rows = np.repeat(np.arange(n), lens)
    cols = np.arange(len(vals)) - np.repeat(np.cumsum(lens) - lens, lens)
    mat = np.zeros((n, max(width, int(lens.max(initial=0)))))
    mat[rows, cols] = vals.to_numpy(zero_copy_only=False)
    null_elems = np.bincount(rows, weights=vals.is_null().to_numpy(zero_copy_only=False), minlength=n)
    ok = vecs.is_valid().to_numpy(zero_copy_only=False) & (null_elems == 0)
    ids = np.asarray(ids.to_numpy(zero_copy_only=False), dtype=np.int64)
    return ids, mat, lens, ok, np.where(ok, _dim_order_norms(mat), np.nan)


def _above(A, a_ids, na, B, b_ids, nb, same, min_sim):
    """Threshold reducer: index pairs ``a_ids[i] < b_ids[j]`` whose GEMM
    estimate is not finite or reaches ``min_sim`` less a margin that
    dwarfs the reassociation error (|gemm − fold| ≤ dim·eps·‖a‖‖b‖ ≈
    1.4e-14 relative, margin 1e-9, for products that do not overflow —
    any float32-sourced embedding)."""
    import numpy as np

    # chunk the batch side so the (chunk × n) score buffer stays ~64 MiB
    chunk = max(1, (64 << 20) // (8 * max(1, len(b_ids))))
    for s in range(0, len(a_ids), chunk):
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            est = (A[s : s + chunk] @ B.T) / (na[s : s + chunk, None] * nb[None, :])
        if same is not None:
            est[~same[s : s + chunk]] = np.nan
        upper = b_ids[None, :] > a_ids[s : s + chunk, None]
        ai, bj = np.nonzero(upper & ((est >= min_sim - 1e-9) | ~np.isfinite(est)))
        yield ai + s, bj


def _top(A, a_ids, na, B, b_ids, nb, same, k):
    """Local top-k reducer: per small-side row ``j``, every pair
    ``a_ids[i] != b_ids[j]`` whose exact sim is not finite, plus the
    ``k`` best finite ones by ``(sim desc, id asc)`` — a superset of the
    row's share of the global top-k."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        est = _fold(A[:, None, :], B[None, :, :]) / (na[:, None] * nb[None, :])
    if same is not None:
        est[~same] = np.nan
    for j in range(len(b_ids)):
        c = np.nonzero(a_ids != b_ids[j])[0]
        fin = np.isfinite(est[c, j])
        best = c[fin][np.lexsort((a_ids[c][fin], -est[c, j][fin]))[:k]]
        ai = np.concatenate([c[~fin], best])
        yield ai, np.full(len(ai), j)


def fetch_small(df: DataFrame):
    """The kernel's one bounded build-time job: ``df``'s non-NULL-id
    rows as an Arrow table (at most 16 MiB), or None above
    _COSINE_BLOCK_MAX rows. A NULL id never satisfies a pair condition,
    so dropping those rows changes no answer. One partition makes the
    limit one job: over several, it scans them in successive jobs."""
    tbl = df.filter(F.col("vec_id").isNotNull()).coalesce(1).limit(_COSINE_BLOCK_MAX + 1).toArrow()
    return tbl if tbl.num_rows <= _COSINE_BLOCK_MAX else None


def cosine_candidates(big: DataFrame, small, *, min_sim=None, top_k=None) -> DataFrame:
    """Scan ``big`` against the broadcast ``small`` table (from
    :func:`fetch_small`); propose the pairs ``vec_a < vec_b`` that may
    reach ``min_sim``, or each small row's local ``top_k`` pairs
    ``vec_a != vec_b``. The broadcast is released with the caller's
    cache scope."""
    bc = scoped_broadcast(big.sparkSession, _vectors(small.column("vec_id"), small.column("v")))
    reduce, arg = (_above, min_sim) if top_k is None else (_top, top_k)

    def kernel(batches):
        _single_threaded_blas()
        import numpy as np
        import pyarrow as pa

        b_ids, B, b_len, b_ok, nb = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            a_ids, A, a_len, a_ok, na = _vectors(batch.column("vec_id"), batch.column("v"), B.shape[1])
            if A.shape[1] > B.shape[1]:
                B = np.pad(B, ((0, 0), (0, A.shape[1] - B.shape[1])))
            same = a_len[:, None] == b_len[None, :] if np.ptp(np.r_[a_len, b_len]) else None
            for ai, bj in reduce(A, a_ids, na, B, b_ids, nb, same, arg):
                valid = a_ok[ai] & b_ok[bj] & (a_len[ai] == b_len[bj])
                yield pa.RecordBatch.from_pydict(
                    {
                        "vec_a": pa.array(a_ids[ai], pa.int64()),
                        "vec_b": pa.array(b_ids[bj], pa.int64()),
                        "dot": pa.array(_fold(A[ai], B[bj]), mask=~valid),
                        "na": pa.array(na[ai], mask=~a_ok[ai]),
                        "nb": pa.array(nb[bj], mask=~b_ok[bj]),
                    }
                )

    return big.filter(F.col("vec_id").isNotNull()).mapInArrow(
        kernel, schema="vec_a long, vec_b long, dot double, na double, nb double"
    )
