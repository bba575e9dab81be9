"""Vector math over array<float> columns as built-in expressions.

Reference analog: cosine similarity over aligned TF-IDF vectors
(``matching_algorithms.py:34-52``: dot/(‖q‖·‖s‖), zero on zero norm).
Here dot products are `aggregate(zip_with(...))` — JVM-side, codegen'd,
no Python; the Arrow/NumPy variant lives in operators/knn.py for the
batched top-k path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from lsh_spark.plans.checkpoint import materialize


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either norm is 0 (reference
    ``matching_algorithms.py:49-51``)."""
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_with_norms(a: Column, b: Column,
                      norm_a: Column, norm_b: Column) -> Column:
    """``cosine`` with the norms supplied as precomputed columns.

    Arithmetic is identical to ``cosine`` (same expressions, same
    left-to-right fold, same norm_a*norm_b product order), so results are
    bitwise equal — but in a join the per-row norms are computed ONCE per
    input row instead of once per PAIR: the higher-order aggregate lambdas
    are interpreted (not codegen'd), so evaluating one dot per pair
    instead of three cuts the pair-scoring expression work ~3×
    (guide §1.2 step 2 — per-task work, after the join shape is right)."""
    d = norm_a * norm_b
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def manhattan_padded(q: Column, c: Column) -> Column:
    """A5: Manhattan distance with the reference's size-equalization
    (``matching_algorithms.py:137-151``): the query is zero-padded or
    truncated to the CANDIDATE's length, then Σ|c_i − q_i|. Integer inputs
    stay exact int64 (no float drift between engines)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(c), F.lit(1)))
    # try_element_at: NULL (→ 0) past the query's end, ANSI-safe
    terms = F.when(F.size(c) > 0, F.transform(
        idx,
        lambda i: F.abs(F.element_at(c, i)
                        - F.coalesce(F.try_element_at(q, i), F.lit(0)))
    )).otherwise(F.array().cast("array<long>"))
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)


# the reference's five fixed tempo-rescaling factors
# (``matching_algorithms.py:112-113``): 0.5, 0.75, 1.0, 1.25, 1.5
SCALING_FACTORS = ((1, 2), (3, 4), (1, 1), (5, 4), (3, 2))


def rescale_seq(q: Column, num: int, den: int) -> Column:
    """A4: the reference's chunked rescaling (``_rescale_audio``,
    ``matching_algorithms.py:111-134``): walk the sequence in chunks of
    ``den``; when lengthening (num > den) repeat each chunk's last element;
    keep the first ``num`` elements of each chunk."""
    if num == den:
        return q
    n_chunks = F.ceil(F.size(q) / F.lit(den)).cast("int")
    def chunk(i):
        c = F.slice(q, i * den + 1, den)
        if num > den:
            c = F.concat(c, F.slice(c, -1, 1))
        return F.slice(c, 1, num)
    return F.when(F.size(q) > 0,
                  F.flatten(F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk))) \
            .otherwise(q)


def linear_scaling_distance(q: Column, c: Column) -> Column:
    """A6: the reference's linear-scaling matcher
    (``matching_algorithms.py:153-176``): Manhattan distance between the
    candidate and each of the five rescaled queries; score = the minimum.
    (The reference optionally skips zero distances as 'noise' behind the
    ``include_zero_distance`` flag and has an acknowledged bug in that
    branch at ``:173-176``; we implement the plain minimum.)"""
    dists = [manhattan_padded(rescale_seq(q, n, d), c) for n, d in SCALING_FACTORS]
    return F.least(*dists)


# --- A7 BALS: boundary-alignment linear scaling --------------------------

# reference constants.py:116 — shift window for neighbourhood generation
BALS_SHIFT_SIZE = 15


def shift_seq(c: Column, s: int, mode: str = "constant") -> Column:
    """``scipy.ndimage.shift`` semantics for an INTEGER shift of a 1-D
    sequence (reference ``matching_algorithms.py:187-195``):
    out[i] = in[i - s]; positions falling outside the input are filled
    with 0 (mode='constant', scipy's default cval) or the edge value
    (mode='nearest'). At integer offsets scipy's spline interpolation is
    exact, so this is the whole behavior."""
    if s == 0:
        return c
    n = F.size(c)
    if s > 0:
        fill = F.slice(c, 1, 1) if mode == "nearest" \
            else F.array(F.lit(0).cast("long"))
        pad = F.flatten(F.array_repeat(fill, s))
        body = F.slice(c, 1, F.greatest(n - s, F.lit(0)))
    else:
        fill = F.slice(c, -1, 1) if mode == "nearest" \
            else F.array(F.lit(0).cast("long"))
        pad = F.flatten(F.array_repeat(fill, -s))
        body = F.when(n + s > 0, F.slice(c, 1 - s, n + s)) \
                .otherwise(F.array().cast("array<long>"))
    out = F.concat(body, pad) if s < 0 else F.concat(pad, body)
    # scipy returns an array of the same length; shifting a shorter array
    # keeps only |s| fill elements up to the original length
    return F.when(n > 0, F.slice(out, 1, n)).otherwise(c)


def bals_distance(q: Column, c: Column) -> Column:
    """A7: the reference's BALS matcher (``matching_algorithms.py:179-235``):
    the candidate's neighbourhood is {itself, shift +/-15 zero-filled,
    shift +/-15 edge-replicated}; score = min linear-scaling distance of
    the query against the five variants. (The reference's TODO'd
    shorten/lengthen variants are not generated there either.)"""
    variants = [
        c,
        shift_seq(c, BALS_SHIFT_SIZE),
        shift_seq(c, -BALS_SHIFT_SIZE),
        shift_seq(c, BALS_SHIFT_SIZE, mode="nearest"),
        shift_seq(c, -BALS_SHIFT_SIZE, mode="nearest"),
    ]
    return F.least(*[linear_scaling_distance(q, v) for v in variants])


# --- A9 KTRA: key-transposition recursive alignment ----------------------

# reference constants.py:119-123
MAX_KTRA_DEPTH = 2
INITIAL_KTRA_K = 1.0


def mean_subtract(q: Column) -> Column:
    """``_mean_substract`` (reference ``matching_algorithms.py:29-31``):
    subtract the sequence mean — the transposition-invariance
    normalization. Double-precision here (the reference uses float32;
    tests pin equality within float32 tolerance)."""
    total = F.aggregate(q, F.lit(0.0),
                        lambda acc, v: acc + v.cast("double"))
    mean = total / F.size(q)
    return F.when(F.size(q) > 0,
                  F.transform(q, lambda v: v.cast("double") - mean)) \
            .otherwise(F.array().cast("array<double>"))


def _manhattan_padded_d(q: Column, c: Column) -> Column:
    """A5 Manhattan with size-equalization, double-valued inputs."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(c), F.lit(1)))
    terms = F.when(F.size(c) > 0, F.transform(
        idx,
        lambda i: F.abs(F.element_at(c, i)
                        - F.coalesce(F.try_element_at(q, i), F.lit(0.0)))
    )).otherwise(F.array().cast("array<double>"))
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


# reference matching_algorithms.py:25 — float_info.max; what a zero node
# distance becomes inside _recursive_align (include_zero_distance=False,
# reference :164-176: 'likely a noise')
MAX_FLOAT = 1.7976931348623157e308


def _ra0_distance_d(q: Column, c: Column) -> Column:
    """Depth-0 ``_recursive_align`` on a single query array (the form the
    dispatcher feeds KTRA, reference ``:343-346``): ONE size-equalized
    Manhattan distance; zero → MAX_FLOAT (subtree pruning is vacuous at
    depth 0, but the noise-skip value is still what the search
    compares)."""
    d = _manhattan_padded_d(q, c)
    return F.when(d == 0.0, F.lit(MAX_FLOAT)).otherwise(d)


def ktra_distance_pairs(pairs, q_col: str = "seq_a", c_col: str = "seq_b",
                        k0: float = INITIAL_KTRA_K,
                        max_depth: int = MAX_KTRA_DEPTH,
                        out_col: str = "ktra_dist"):
    """A9: the reference's KTRA matcher (``matching_algorithms.py:288-316``)
    in the SQL-expressible configuration MAX_RA_DEPTH=0, where
    ``_recursive_align`` degenerates to a SINGLE size-equalized Manhattan
    distance per direction (``:240-246`` with the dispatcher's use_ls=False
    single-array query, ``:336-346``; zero distance → MAX_FLOAT per
    ``:164-176``) — never the 5-way rescaling sweep, which the reference
    applies only for BALS / use_ls=True.  Both sequences are mean-subtracted
    once, then a halving key-search: at each level evaluate d(q-k), d(q),
    d(q+k); move the query toward the winner (minus checked FIRST, exactly
    like the reference's if/elif at ``:303-306``) and halve k; the deepest
    level's minimum is returned (``:308-315`` — the recursive result
    replaces, not mins with, the current level's).

    DataFrame-level on purpose: a single fused Column would nest each
    level's greedy CASE inside the next level's 15 Manhattan terms —
    expression size grows ~15^depth and Catalyst OOMs converting the
    plan (measured at depth 2). A ``materialize`` after each level
    (plans/checkpoint.py) turns the level's outputs into leaf columns, so the plan stays
    linear in depth. The full-recursion variant is
    ``operators/align.py:ktra`` (mapInArrow, pytest-pinned).

    Input: DataFrame with array<long> columns ``q_col``/``c_col``.
    Output: input columns minus the temporaries, plus ``out_col``."""
    df = materialize(pairs
                     .withColumn("_q", mean_subtract(F.col(q_col)))
                     .withColumn("_c", mean_subtract(F.col(c_col))))
    k = k0
    for depth in range(max_depth + 1):
        qm = F.transform(F.col("_q"), lambda v: v - F.lit(k))
        qp = F.transform(F.col("_q"), lambda v: v + F.lit(k))
        df = materialize(
            df.withColumn("_qm", qm).withColumn("_qp", qp)
            .withColumn("_dm", _ra0_distance_d(F.col("_qm"), F.col("_c")))
            .withColumn("_dz", _ra0_distance_d(F.col("_q"), F.col("_c")))
            .withColumn("_dp", _ra0_distance_d(F.col("_qp"), F.col("_c"))))
        if depth < max_depth:
            res = F.least(F.col("_dm"), F.col("_dz"), F.col("_dp"))
            df = df.withColumn(
                "_q", F.when(F.col("_dm") == res, F.col("_qm"))
                       .when(F.col("_dp") == res, F.col("_qp"))
                       .otherwise(F.col("_q")))
            k = k / 2
    return (df.withColumn(out_col,
                          F.round(F.least(F.col("_dm"), F.col("_dz"),
                                          F.col("_dp")), 6))
              .drop("_q", "_c", "_qm", "_qp", "_dm", "_dz", "_dp"))
