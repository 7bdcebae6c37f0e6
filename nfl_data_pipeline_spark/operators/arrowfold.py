"""Exact-order Arrow kernels for the text-hash folds.

Two kernels back the ``SPARK_GRAFT_TEXTHASH_ENGINE=arrow`` setting
(operators/dedup._texthash_engine): ``shingle_sids_udf`` (text →
distinct shingle ids) and ``minhash_signature_arrow`` (shingle ids →
MinHash signature). Spark evaluates the SQL forms of these folds
(``aggregate``/``transform`` lambdas) in the interpreted expression
evaluator — no whole-stage codegen — so each array element costs an
interpreter dispatch. The kernels compute THE SAME folds, vectorized
ACROSS ROWS in numpy: the Python loop runs over fold STEPS
(characters / permutations), and each step applies one integer op to
every row's accumulator at once.

Bit-identity argument (why the dial cannot change a registry or an
oracle hash):

- per row, the op sequence is exactly the SQL fold's;
- int64 ops wrap identically on the JVM and in numpy, and every fold
  here stays in range anyway (operands < A·P + P < 2⁶³ for the
  Horner shingle compose and < P² + P for the MinHash fold);
- the MinHash step is a min over a set, so its order is irrelevant.

tests/test_pair_kernel.py::test_texthash_engine_dial_is_bit_identical
pins both kernels against the SQL forms over the documents corpus and
NULL/empty edges. NULL semantics mirror the SQL expressions they
replace; each kernel's docstring states the mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.hashing import P


def _np():
    import numpy as np

    return np


def minhash_signature_arrow(
    df_sids: DataFrame, perms: list[tuple[int, int]], sids_col: str = "sids"
) -> DataFrame:
    """``with_minhash_signature`` computed in one Arrow pass: adds
    ``mh0..mhK-1`` where ``mh_i = array_min(transform(sids, x ->
    (a_i*x + b_i) % P))``.

    Per batch the flattened sid values are hashed with ONE vectorized
    ``(a*x + b) % P`` per permutation and segment-minimized with
    ``np.minimum.reduceat`` — a pure min over a set, so evaluation
    order is irrelevant and int64 arithmetic is exact (see module
    docstring for the range argument).

    NULL mapping: an empty or NULL ``sids`` array makes every
    ``array_min`` NULL in SQL; here those rows get a NULL signature
    array, and element extraction yields the same per-column NULLs.
    """
    np = _np()
    a_vec = [int(a) for a, _ in perms]
    b_vec = [int(b) for _, b in perms]
    k = len(perms)

    @F.pandas_udf("array<bigint>")
    def _sig(sids):
        import pandas as pd

        n = len(sids)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in sids), np.int64, count=n
        )
        good = lens > 0
        out = np.empty(n, dtype=object)
        out[~good] = None
        if good.any():
            arrs = [
                np.asarray(v, dtype=np.int64)
                for v, g in zip(sids, good)
                if g
            ]
            flat = np.concatenate(arrs)
            glens = lens[good]
            starts = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(glens[:-1], out=starts[1:])
            mins = np.empty((len(arrs), k), dtype=np.int64)
            for i in range(k):
                h = (a_vec[i] * flat + b_vec[i]) % P
                mins[:, i] = np.minimum.reduceat(h, starts)
            for pos, row in zip(np.flatnonzero(good), mins):
                out[pos] = row
        return pd.Series(out)

    sig = df_sids.withColumn("_mhsig", _sig(F.col(sids_col)))
    for i in range(k):
        sig = sig.withColumn(f"mh{i}", F.col("_mhsig").getItem(i))
    return sig.drop("_mhsig")


def shingle_sids_udf(n: int = 3):
    """``with_shingle_ids``'s text → distinct-shingle-id column as one
    Arrow kernel — the rolling hash was the measured dominant executor
    cost of the near-dup gate's signature block (per-CHARACTER
    interpreted fold steps; see OPTIMIZATION_r13.md).

    Replicates the SQL pipeline exactly (semantics pinned by
    tests/test_pair_kernel.py::test_texthash_engine_dial_is_bit_identical):

    - ``split(text, ' ')`` keeps interior AND trailing empty tokens —
      Python ``str.split(' ')`` matches;
    - token hash ``h = fold chars: (h*31 + codepoint) % P`` with h=0
      start; Spark's ``split(t, '')`` on an EMPTY token yields [''],
      and ``ascii('') = 0`` so the fold gives (0*31+0)%P = 0 — equal
      to the kernel's empty-fold 0;
    - < n tokens → empty array; NULL text → empty array (size(NULL)
      comparison falls through to the THEN array() branch);
    - shingle id = Horner compose of n consecutive token hashes
      (operands < A·P + P < 2⁶³ — exact int64);
    - ``array_distinct`` keeps first-occurrence order — ``pd.unique``
      matches.

    Codepoints come from a single ``utf-32-le`` encode of the batch's
    concatenated tokens (one C-level pass), the per-token Horner runs
    masked over char positions, and shingle composition is one
    vectorized expression over the flat token-hash array.
    """
    np = _np()
    from nfl_data_pipeline_spark.operators.hashing import A

    @F.pandas_udf("array<bigint>")
    def _sids(texts):
        import pandas as pd

        n_rows = len(texts)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        tok_lists = [
            [] if t is None else t.split(" ") for t in texts
        ]
        doc_ntok = np.fromiter(
            (len(tl) for tl in tok_lists), np.int64, count=n_rows
        )
        flat_tokens = [t for tl in tok_lists for t in tl]
        T = len(flat_tokens)
        out = np.empty(n_rows, dtype=object)
        empty = np.array([], dtype=np.int64)
        if T == 0:
            out[:] = [empty] * n_rows
            return pd.Series(out)
        tok_lens = np.fromiter(
            (len(t) for t in flat_tokens), np.int64, count=T
        )
        starts = np.zeros(T, dtype=np.int64)
        np.cumsum(tok_lens[:-1], out=starts[1:])
        cp = np.frombuffer(
            "".join(flat_tokens).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        th = np.zeros(T, dtype=np.int64)
        max_len = int(tok_lens.max()) if T else 0
        live = np.arange(T)
        for j in range(max_len):
            live = live[tok_lens[live] > j]
            if live.size == 0:
                break
            th[live] = (th[live] * 31 + cp[starts[live] + j]) % P
        # Horner-compose n consecutive token hashes over the flat
        # array; per-doc slices come from the doc token offsets.
        if T >= n:
            sid_flat = th[: T - n + 1].copy()
            for k in range(1, n):
                sid_flat = (sid_flat * A + th[k : T - n + 1 + k]) % P
        else:
            sid_flat = empty
        doc_starts = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(doc_ntok[:-1], out=doc_starts[1:])
        for i in range(n_rows):
            w = doc_ntok[i] - n + 1
            if w <= 0:
                out[i] = empty
            else:
                s = doc_starts[i]
                out[i] = pd.unique(sid_flat[s : s + w])
        return pd.Series(out)

    return _sids
