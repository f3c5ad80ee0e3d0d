"""The exact vector kernels (`similarity._vector_kernels`) on adversarial
batches, without Spark: the k-NN screen, the argmin and the threshold
kernel, each against a full sort or a fold-order reference.  These are the
kernels the `vector` benchmark measures, so the fast tier runs this file.
"""

from __future__ import annotations

import numpy as np

from auron_spark.pipeline.similarity import (
    KNN_SCREEN_MARGIN,
    SEMDEDUP_COS,
    TOP_K,
    _vector_kernels,
)

#: Rows of the near-tie group planted by `_knn_screen_case`; the last one is
#: the batch's final row, alone in its partial tail block for nb = 321.
_NEAR_TIE_ROWS = (2, 66, 130, 131, 250, 260, 310, -1)


def _knn_screen_case(rng, nb, nq=40):
    """One adversarial batch for the k-NN screen, as the kernel's caller
    builds it: unit rows normalized in float64, plus their float32
    roundings for the screen.  Clustered rows with shuffled ids; queries
    that are corpus rows (self matches) plus queries that are not;
    exact-duplicate rows planted across 64-row block boundaries so the
    k-th value is an exact tie for some queries; and a near-tie group of
    rows about 1e-8 apart, whose fold order the float32 screen does not
    keep, so only the derived margin saves the fold's top-k."""
    cent = rng.normal(size=(8, 64))
    chat = cent[rng.integers(0, 8, size=nb)] + rng.normal(size=(nb, 64))
    nids = rng.permutation(10 * nb + 100)[:nb].astype(np.int64)
    w1, w2, w3 = rng.normal(size=(3, 64))
    # 3 copies of w1, then 5 of a row near it: a query next to w1 ranks
    # w1 x3, then a 5-way exact tie over ranks 4-8 (k = 5 cuts through it)
    # whose copies straddle the block boundaries 0/1 and 1/2.
    for pos in (0, 200, 300):
        if pos < nb:
            chat[pos] = w1
    for pos in (63, 64, 127, 128, 191):
        if pos < nb:
            chat[pos] = w1 + 0.05 * w2
    # 8 rows within ~1e-8 of w3: a query next to w3 ranks them first, and
    # k = 5 cuts through the group.
    w3 /= np.linalg.norm(w3)
    for pos in _NEAR_TIE_ROWS:
        if nb > 310:
            chat[pos] = w3 + 2e-8 * rng.normal(size=64)
    chat /= np.linalg.norm(chat, axis=1)[:, None]
    own = rng.choice(nb, size=min(nb, nq // 2), replace=False)
    if nb > 64 and 64 not in own:
        own[0] = 64  # a query whose self match sits inside the tie
    free = nq - len(own)
    near = np.where((np.arange(free) % 2)[:, None], w3, w1)
    qids = np.concatenate([nids[own], 10 * nb + 100 + np.arange(free)])
    qmat = np.concatenate([chat[own], near + 0.01 * rng.normal(size=(free, 64))])
    order = np.argsort(qids)
    qids, qmat = qids[order], qmat[order]
    qhat = qmat / np.linalg.norm(qmat, axis=1)[:, None]
    return qhat, qids, chat, nids


def test_knn_screen_matches_full_sort():
    """The exact k-NN kernel's per-batch screen (`_vector_kernels`
    ``screen``) keeps exactly the pairs a full sort of its own float32
    matrix keeps — every non-self pair within ``cos_margin(d)`` of its
    query's k-th largest — on batch sizes on both sides of the 64-row
    block bound's reach (k * 64 = 320 rows) and with a partial tail block,
    never returns a padded row, and its survivors contain the fold-order
    exact top-k with every tie at the k-th value.  The planted near-ties
    put some fold top-k row strictly below the screen's own k-th value,
    inside the float32 error: a margin that ignored that error would lose
    it."""
    kern = _vector_kernels()
    fold_dot, screen = kern.fold_dot, kern.screen
    margin = kern.cos_margin(64)
    assert KNN_SCREEN_MARGIN < margin < 2e-5
    rng = np.random.default_rng(20240)
    for nb in (1, TOP_K - 1, TOP_K, 319, 320, 321, 8192):
        qhat, qids, chat, nids = _knn_screen_case(rng, nb)
        q32, c32 = qhat.astype(np.float32), chat.astype(np.float32)
        k = min(TOP_K, nb)
        qi, cj = screen(q32, qids, c32, nids, k)
        assert (cj < nb).all(), (nb, "a padded tail row was returned")
        got = set(zip(qi.tolist(), cj.tolist()))
        assert len(got) == len(qi), (nb, "duplicate survivor pairs")

        sim = (c32 @ q32.T).T  # the screen's own (batch x queries) product
        self_pair = qids[:, None] == nids[None, :]
        sim[self_pair] = -np.inf
        kth = -np.sort(-sim, axis=1)[:, k - 1]
        near = (sim >= kth[:, None].astype(np.float64) - margin) & ~self_pair
        want = {(int(i), int(j)) for i, j in zip(*np.nonzero(near))}
        assert got == want, (nb, len(got ^ want))

        cn = np.sqrt(fold_dot(chat, chat))
        exact = np.stack([
            fold_dot(np.broadcast_to(q, chat.shape), chat)
            / (np.sqrt(fold_dot(q[None, :], q[None, :])) * cn)
            for q in qhat
        ])
        ties = inverted = 0
        for i in range(len(qids)):
            ranked = sorted(
                (j for j in range(nb) if not self_pair[i, j]),
                key=lambda j: (-exact[i, j], nids[j]),
            )
            if len(ranked) > k and exact[i, ranked[k - 1]] == exact[i, ranked[k]]:
                ties += 1
            # Every row tied with the exact k-th value must survive too: the
            # global window breaks those ties by id across batches.
            cut = exact[i, ranked[k - 1]] if len(ranked) >= k else -np.inf
            need = {j for j in ranked if exact[i, j] >= cut}
            assert need <= {j for q, j in got if q == i}, (nb, i)
            inverted += any(sim[i, j] < kth[i] for j in need)
        if nb >= 320:
            assert ties, (nb, "no exact tie at the k-th value was planted")
            assert inverted, (nb, "no near-tie inverted the screen's order")


def _fold_argmin(kern, x, c):
    """Reference argmin: the fold distance to every row of ``c``, smallest
    (distance, index) per row of ``x``."""
    dist = np.stack(
        [kern.fold_sqdist(x, np.broadcast_to(cj, x.shape)) for cj in c], axis=1
    )
    idx = np.broadcast_to(np.arange(len(c)), dist.shape)
    return np.lexsort((idx, dist), axis=1)[:, 0]


def test_exact_argmin_matches_fold_on_near_ties():
    """The exact argmin kernel (`_vector_kernels` ``argmin``) picks the
    fold's nearest row with the smallest-index tie-break on planted
    near-ties: centroids 1e-3 apart around a common offset (the
    expansion's rounding error scales with |x|^2 + |c|^2, here ~1e8, far
    above any fixed 1e-9 margin), points planted halfway between two
    centroids, an exact duplicate centroid, and 8-dim subvectors as the
    IVF-PQ encoder uses them.  In the large-offset cases the plain BLAS
    screen's argmin is wrong on some rows, so they exercise the
    recompute."""
    kern = _vector_kernels()
    rng = np.random.default_rng(31337)
    for d, offset in ((64, 1e3), (64, 1.0), (8, 1e3)):
        base = offset * np.ones(d)
        c = base + 1e-3 * rng.normal(size=(12, d))
        c[5] = c[2]  # exact duplicate: a tie the smaller index must win
        x = np.concatenate([
            base + 1e-3 * rng.normal(size=(300, d)),
            (c[0] + c[1]) / 2 + 1e-9 * rng.normal(size=(100, d)),
            np.repeat(c[2:3], 20, axis=0),
        ])
        want = _fold_argmin(kern, x, c)
        got = kern.argmin(x, c)
        assert (got == want).all(), (d, offset, np.flatnonzero(got != want)[:5])
        assert not (want == 5).any()
        if offset > 1:
            blas = (
                (x * x).sum(1)[:, None] - 2.0 * (x @ c.T) + (c * c).sum(1)[None, :]
            ).argmin(1)
            assert (blas != want).any(), (d, "no near-tie fooled the screen")


def test_over_threshold_matches_fold_on_near_ties():
    """The exact threshold kernel (`_vector_kernels` ``over_threshold``)
    returns exactly the pairs whose fold cosine is >= the threshold, on
    pairs planted so that their fold cosine sits within an ulp of
    SEMDEDUP_COS (many exactly on it — a tie must count as a hit), mixed
    with random vectors.  The float32 screen alone decides some planted
    pair wrongly, so the test exercises the fold recompute."""
    kern = _vector_kernels()
    rng = np.random.default_rng(2718)
    d, thr = 64, SEMDEDUP_COS

    def fold_cos(a, b):
        na = np.sqrt(kern.fold_dot(a[None], a[None]))[0]
        nb = np.sqrt(kern.fold_dot(b[None], b[None]))[0]
        return kern.fold_dot(a[None], b[None])[0] / (na * nb)

    rows = []
    for _ in range(40):
        u = rng.normal(size=d)
        u /= np.linalg.norm(u)
        v = rng.normal(size=d)
        v -= (v @ u) * u
        v /= np.linalg.norm(v)
        a = u * rng.uniform(0.5, 3)
        b = (0.29 * u + np.sqrt(1 - 0.29**2) * v) * rng.uniform(0.5, 3)
        lo, hi = 0.0, 0.1  # the cosine of (a, b + s a) grows with s
        for _ in range(100):
            mid = (lo + hi) / 2
            lo, hi = (lo, mid) if fold_cos(a, b + mid * a) >= thr else (mid, hi)
        rows += [a, b + hi * a, b + lo * a]
    x = np.vstack([np.array(rows), rng.normal(size=(60, d))])
    x = x[rng.permutation(len(x))]
    nrm = np.sqrt(kern.fold_dot(x, x))
    iu, ju = np.triu_indices(len(x), k=1)
    fold = kern.fold_dot(x[iu], x[ju]) / (nrm[iu] * nrm[ju])
    want = {(int(i), int(j)) for i, j in zip(iu[fold >= thr], ju[fold >= thr])}
    i, j = kern.over_threshold(x, nrm, thr)
    assert set(zip(i.tolist(), j.tolist())) == want
    assert len(i) == len(want)
    assert (fold == thr).any() and (np.abs(fold - thr) <= KNN_SCREEN_MARGIN).sum() >= 40
    xhat = (x / nrm[:, None]).astype(np.float32)
    screen = (xhat @ xhat.T)[iu, ju].astype(np.float64)
    assert ((screen >= thr) != (fold >= thr)).any(), "the screen decided every pair"
