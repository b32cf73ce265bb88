"""Arrow-batched numpy replays of the similarity family's JVM folds.

Guide §4.2: let Spark do distribution/shuffles/I/O and hand whole Arrow
batches to vectorized native code instead of interpreting per-row
expression trees.  The r17 negative result ruled out *JVM expression*
rewrites (unrolled element_at chains lose to the interpreted HOF fold
2-4x on Spark 4.1); these kernels instead cross the Python boundary
once per batch and run the same arithmetic in numpy.

EXACTNESS DISCIPLINE — the reason these are drop-in replacements with
unchanged oracle hashes: every kernel is vectorized across rows /
codes / queries but SEQUENTIAL across vector dimensions, so each
j-step performs the identical IEEE-754 double subtract / multiply /
add, in the identical left-fold order, as the banked JVM expression it
replaces (`_pq_d2`, `_sq_dist`, the exact-leg `zip_with + aggregate`
folds, `_adc_sum`).  Distances, codes, argmins and rank lists are
therefore BIT-IDENTICAL to the JVM path (pinned in
tests/test_batchmath.py); only grand-total reductions whose order was
never engine-stable (the Lloyd re-centering means — each engine's own
float avg under the round-6 output contract, see `_pq_train_flat`)
are allowed to re-associate.

PRECONDITION — finite, non-zero-norm inputs.  Bit-identity holds only
for finite vectors (and, for the cosine kernel, non-zero norms), and
the kernels do not check this per batch.  Outside it the two engines
part ways: np.argmin returns the FIRST NaN's index where the JVM's
``array_min`` treats NaN as larger than every number; np.lexsort sorts
NaN after every number in both the ascending and the negated
(``descending``) selections of ``topk_partials_fn``, while a JVM
``ORDER BY score DESC`` puts NaN first; and a zero-norm row gets a
silent 0/0 = NaN cosine from ``cosine_scorer`` (pinned in
tests/test_batchmath.py) where ``cosine_similarity_expr`` raises
DIVIDE_BY_ZERO under ANSI.

Every ``*_fn`` factory returns a closure fit for ``mapInPandas``; the
``*_scorer`` factories return the per-batch score functions that
``topk_partials_fn`` takes.  The closures reference this module's
helpers (``_stack`` and the fold replays), which cloudpickle by
reference: unpickling imports this package on the worker —
installing the lazy zip-cache invalidation there
(session.install_lazy_zip_invalidation) — so callers must
``ensure_package_on_executors`` once per session for foreign-cwd
drivers.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd


def _stack(series: pd.Series) -> np.ndarray:
    """(n, d) float64 matrix from an Arrow list<double> column."""
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def subspace_d2(V: np.ndarray, flat, n_codes: int, n_sub: int, subdim: int) -> np.ndarray:
    """(n, n_sub, n_codes) squared subspace distances — the `_pq_d2`
    left fold replayed order-exactly: acc <- acc + (x_j - c_j)^2 one
    dimension at a time (three IEEE ops per step, same order), so
    every distance is bit-identical to the JVM fold."""
    n = V.shape[0]
    Vr = V.reshape(n, n_sub, subdim)
    C = np.asarray(flat, dtype=np.float64).reshape(n_codes, n_sub, subdim)
    acc = np.zeros((n, n_sub, n_codes), dtype=np.float64)
    for j in range(subdim):
        d = Vr[:, :, j][:, :, None] - C[:, :, j].T[None, :, :]
        acc += d * d
    return acc


def full_d2(V: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, q) squared L2 distances — the exact-leg
    ``aggregate(zip_with(v, qv, (x-y)^2))`` fold replayed
    order-exactly, sequential over the dimension axis."""
    n, dim = V.shape
    acc = np.zeros((n, Q.shape[0]), dtype=np.float64)
    for j in range(dim):
        d = V[:, j][:, None] - Q[:, j][None, :]
        acc += d * d
    return acc


def pq_codes(V: np.ndarray, flat, n_codes: int, n_sub: int, subdim: int) -> np.ndarray:
    """(n, n_sub) int32 PQ codes: argmin over bit-identical subspace
    distances; np.argmin takes the FIRST minimum, matching
    ``array_position(ds, array_min(ds))`` (ties to the lowest code,
    the pq_quantize convention)."""
    return np.argmin(subspace_d2(V, flat, n_codes, n_sub, subdim), axis=2).astype(
        np.int32
    )


# ---------------------------------------------------------------- factories


def pq_train_partials_fn(flat, n_codes: int, n_sub: int, subdim: int):
    """mapInPandas closure for one Lloyd training pass over a
    (v: array<double>) projection: assign each batch's rows to their
    nearest codebook entries (bit-identical argmin) and scatter-add
    per-(code, pos) partial sums + counts — output schema
    ``code int, pos int, s double, c long`` (<= n_codes x dim rows per
    batch; the map-side aggregation guide §2.3 asks for).

    With ``n_sub=1`` and the centroid matrix as the codebook it is the
    flat IVF Lloyd pass: subspace_d2 at one subspace is full_d2
    operation for operation, so the assignment is the `_sq_dist` argmin.
    """
    dim = n_sub * subdim
    C = np.asarray(flat, dtype=np.float64).copy()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack(pdf["v"])
            codes = pq_codes(V, C, n_codes, n_sub, subdim)
            sums = np.zeros((n_codes, dim), dtype=np.float64)
            cnts = np.zeros((n_codes, n_sub), dtype=np.int64)
            for s in range(n_sub):
                blk = slice(s * subdim, (s + 1) * subdim)
                np.add.at(sums[:, blk], codes[:, s], V[:, blk])
                np.add.at(cnts[:, s], codes[:, s], 1)
            code_idx, pos_idx = np.nonzero(
                np.repeat(cnts, subdim, axis=1) > 0
            )
            yield pd.DataFrame(
                {
                    "code": code_idx.astype(np.int32),
                    "pos": pos_idx.astype(np.int32),
                    "s": sums[code_idx, pos_idx],
                    "c": cnts[code_idx, pos_idx // subdim],
                }
            )

    return fn


def pq_codes_fn(flat, n_codes: int, n_sub: int, subdim: int, passthrough: tuple[str, ...] = ("vec_id",), vcol: str = "v"):
    """mapInPandas closure projecting (passthrough..., ``vcol``) to
    (passthrough..., cs: array<int>) — the `_pq_code_arr` corpus encode
    as one numpy batch kernel, codes bit-identical (see pq_codes)."""
    C = np.asarray(flat, dtype=np.float64).copy()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack(pdf[vcol])
            codes = pq_codes(V, C, n_codes, n_sub, subdim)
            out = {name: pdf[name].to_numpy() for name in passthrough}
            out["cs"] = list(codes)
            yield pd.DataFrame(out)

    return fn


def nearest_centroid_fn(cent_ids, cent_vecs):
    """mapInPandas closure for the flat IVF assignment: (vec_id, v) ->
    (vec_id, v, cid).  ``cent_ids`` must be ascending so np.argmin's
    first-minimum matches ``min_by(struct(d2, cid))``'s (d2, cid)
    lexicographic tie-break; d2 is the `_sq_dist` fold replayed
    order-exactly (full_d2)."""
    ids = np.asarray(cent_ids, dtype=np.int64)
    C = np.asarray(cent_vecs, dtype=np.float64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack(pdf["v"])
            d2 = full_d2(V, C)
            nearest = ids[np.argmin(d2, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "v": pdf["v"],
                    "cid": nearest,
                }
            )

    return fn


def l2_scorer(qvecs):
    """Scorer for the brute-force exact legs: a batch's (n, d) matrix
    -> (n, q) squared L2 distances to the queries (full_d2, the
    exact-leg fold replayed order-exactly)."""
    Q = np.asarray(qvecs, dtype=np.float64)

    def score(V: np.ndarray) -> np.ndarray:
        return full_d2(V, Q)

    return score


def adc_scorer(flat, n_codes: int, n_sub: int, subdim: int):
    """Scorer factory for the full-scan compressed-domain search:
    ``adc_scorer(codebook...)(qvecs)`` builds the per-query ADC tables
    from the codebook once (bit-identical `_pq_adc_table` folds via
    subspace_d2); each batch is then PQ-encoded (bit-identical codes)
    and scored by the fixed s-order `_adc_sum` chain."""
    C = np.asarray(flat, dtype=np.float64).copy()

    def for_queries(qvecs):
        # per-query ADC lookup tables: T[qi, s, c]
        Q = np.asarray(qvecs, dtype=np.float64)
        T = subspace_d2(Q, C, n_codes, n_sub, subdim)

        def score(V: np.ndarray) -> np.ndarray:
            codes = pq_codes(V, C, n_codes, n_sub, subdim)
            # adc[i, qi] = ((0 + T[qi,0,cs0]) + T[qi,1,cs1]) + ... —
            # the _adc_sum fixed s-order chain, one add per step
            acc = np.zeros((len(V), T.shape[0]), dtype=np.float64)
            for s in range(n_sub):
                acc += T[:, s, :][:, codes[:, s]].T
            return acc

        return score

    return for_queries


def cosine_scorer(qvecs):
    """Scorer for the brute-force cosine legs: (n, d) -> (n, q) sims
    replaying cosine_similarity_expr order-exactly — dot and both
    norms are sequential-over-dims folds, then sqrt / multiply /
    divide in the same operand order."""
    Q = np.asarray(qvecs, dtype=np.float64)
    nq, dim = Q.shape
    q_norm_sq = np.zeros(nq, dtype=np.float64)
    for j in range(dim):
        q_norm_sq += Q[:, j] * Q[:, j]
    q_norm = np.sqrt(q_norm_sq)

    def score(V: np.ndarray) -> np.ndarray:
        n = V.shape[0]
        dot = np.zeros((n, nq), dtype=np.float64)
        v_norm_sq = np.zeros(n, dtype=np.float64)
        for j in range(dim):
            dot += Q[:, j][None, :] * V[:, j][:, None]
            v_norm_sq += V[:, j] * V[:, j]
        # cosine_similarity_expr: dot / (norm_a * norm_b) with
        # norm_a the QUERY-side norm — same operand order here
        return dot / (q_norm[None, :] * np.sqrt(v_norm_sq)[:, None])

    return score


def topk_partials_fn(score, qids, topk: int, descending: bool = False):
    """mapInPandas closure for every brute-force search leg: corpus
    (vec_id, v) -> per-batch top-``topk`` candidates per query
    (``qid long, neighbor_id long, score double``), self excluded.
    ``score`` maps a batch's (n, d) matrix to (n, q) scores (one of
    the scorers above).

    Per-batch selection under the total order (score, neighbor_id) —
    score descending when ``descending`` — is exact for global top-k
    (the global top-k is a subset of the union of per-batch top-ks),
    and every scorer is bit-identical to its JVM fold, so the final
    window over the ~|q| x topk x n_batches survivor rows reproduces
    the banked rank list bit-for-bit.
    """
    qid_arr = np.asarray(qids, dtype=np.int64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vid = pdf["vec_id"].to_numpy()
            S = score(_stack(pdf["v"]))
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qid_arr)):
                col = S[:, qi]
                mask = vid != qid_arr[qi]
                cand_v, cand_s = vid[mask], col[mask]
                if len(cand_v) > topk:
                    key = -cand_s if descending else cand_s
                    sel = np.lexsort((cand_v, key))[:topk]
                    cand_v, cand_s = cand_v[sel], cand_s[sel]
                out_q.append(np.full(len(cand_v), qid_arr[qi]))
                out_n.append(cand_v)
                out_s.append(cand_s)
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                }
            )

    return fn


def pq_train_report_partials_fn(seed_flat, trained_flat, n_codes: int, n_sub: int, subdim: int):
    """mapInPandas closure for pq_train_codebooks' dual-codebook report
    scan: per batch, assign every row under BOTH codebooks
    (bit-identical argmins + min distances) and emit per
    (variant, subspace, code-position) partial counts and d2 sums —
    ``variant string, s int, code_pos int, n long, sq double``.  The
    per-cell d2 sum re-associates (batch partials then merge) under
    the round-6 output contract, like the training means."""
    S = np.asarray(seed_flat, dtype=np.float64).copy()
    T = np.asarray(trained_flat, dtype=np.float64).copy()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _stack(pdf["v"])
            frames = []
            for name, C in (("seed", S), ("trained", T)):
                d = subspace_d2(V, C, n_codes, n_sub, subdim)
                codes = np.argmin(d, axis=2)
                dmin = np.min(d, axis=2)
                cnts = np.zeros((n_sub, n_codes), dtype=np.int64)
                sums = np.zeros((n_sub, n_codes), dtype=np.float64)
                for s in range(n_sub):
                    np.add.at(cnts[s], codes[:, s], 1)
                    np.add.at(sums[s], codes[:, s], dmin[:, s])
                si, ci = np.nonzero(cnts)
                frames.append(
                    pd.DataFrame(
                        {
                            "variant": name,
                            "s": si.astype(np.int32),
                            "code_pos": ci.astype(np.int32),
                            "n": cnts[si, ci],
                            "sq": sums[si, ci],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return fn
