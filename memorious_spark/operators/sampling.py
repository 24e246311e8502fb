"""Deterministic stratified quota sampling.

A webtext pipeline rebalances its corpus by stratum — e.g. cap every
language at N documents, or draw a fixed-size eval holdout per domain
— and the draw must be (a) EXACT (precisely ``quota`` rows per group,
or the whole group when smaller) and (b) REPRODUCIBLE across engines
and runs (no RNG state: re-running the pipeline must select the same
documents). Selection key: ``(md5(cast(id AS string)), id)`` — a
deterministic pseudo-random order both Spark and DuckDB compute
bit-identically, so the driver oracle is a plain ``row_number()``
window.

Scale posture (the reason this module exists instead of one window):
``row_number() OVER (PARTITION BY lang ...)`` funnels each group into
ONE task — a 40-TB English stratum lands on a single executor.
Here the window only ever sees a PRUNED candidate set:

1. one map-side-combinable aggregate computes per-group counts; the
   pruning threshold needs NO sketch — md5 keys are uniform on the
   key space, so the quota-th key concentrates at ``quota/n`` of the
   range and ``quota × safety / n`` bounds it with Chernoff-small
   failure odds;
2. the corpus is filtered to rows under that per-group threshold —
   because hex md5 ordering is lexicographic and the numeric prefix
   preserves it, this keeps a PREFIX of each group's global order;
3. the exact ``row_number`` trim runs over ~``quota × safety`` rows
   per group, not the group;
4. any group whose candidate set came up short (uniformity tail)
   falls back to the full window — detected, counted in ``stats``,
   and correct, never silent.

Groups at or under quota skip the window entirely (kept via one
broadcast-joined count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["quota_sample", "sample_key", "hash_split", "split_bounds"]


def sample_key() -> F.Column:
    """The deterministic selection key: lowercase-hex md5 of
    ``doc_id``'s decimal string form. Identical in Spark and DuckDB."""
    return F.md5(F.col("doc_id").cast("string"))


def _num_key() -> F.Column:
    # First 15 hex chars as a bigint (60 bits < long). Hex-string
    # lexicographic order == numeric prefix order (0-9a-f are
    # ASCII-ascending), so a numeric threshold prunes a prefix of
    # the md5-string order.
    return F.conv(F.substring(sample_key(), 1, 15), 16, 10).cast(
        "long"
    )


def quota_sample(
    docs: DataFrame,
    group_col: str,
    quota: int,
    safety: float = 2.0,
    stats: dict | None = None,
) -> DataFrame:
    """Keep at most ``quota`` rows per ``group_col`` value, selected
    by the deterministic key — exactly the rows a global
    ``row_number() OVER (PARTITION BY group ORDER BY md5(id), id) <=
    quota`` would keep. Returns the input columns unchanged.

    ``doc_id`` must be unique. ``stats`` receives ``n_groups``,
    ``groups_pruned`` (went through the candidate window),
    ``groups_small`` (kept whole), ``groups_fallback`` (sketch missed;
    exact full-group window used).
    """
    if quota <= 0:
        raise ValueError(f"quota must be positive, got {quota}")
    cols = docs.columns
    key = _num_key()
    max_key = float(16**15)
    # one map-side-combinable pass: group sizes; thresholds follow
    # from md5 uniformity (no sketch, no extra scan)
    grp = (
        docs.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_thr",
            F.least(
                F.lit(max_key),
                F.lit(float(quota) * safety) * F.lit(max_key) / F.col("_n"),
            ).cast("long"),
        )
        .persist()
    )
    small = grp.filter(F.col("_n") <= quota)
    big = grp.filter(F.col("_n") > quota)

    kept_small = docs.join(
        F.broadcast(small.select(group_col)), group_col, "left_semi"
    )

    cand = docs.join(
        F.broadcast(big.select(group_col, "_thr")), group_col
    ).filter(key <= F.col("_thr"))
    # exactness check: a pruned group must still hold >= quota rows
    cand_n = cand.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cn"))
    short = (
        big.join(F.broadcast(cand_n), group_col, "left")
        .filter(F.coalesce(F.col("_cn"), F.lit(0)) < quota)
        .select(group_col)
        .persist()
    )
    n_short = short.count()

    w = Window.partitionBy(group_col).orderBy(sample_key(), "doc_id")
    kept_big = (
        cand.join(F.broadcast(short), group_col, "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .select(*cols)
    )
    out = kept_small.select(*cols).unionByName(kept_big)
    if n_short:
        fb = (
            docs.join(F.broadcast(short), group_col, "left_semi")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= quota)
            .select(*cols)
        )
        out = out.unionByName(fb)
    if stats is not None:
        stats["n_groups"] = grp.count()
        stats["groups_small"] = small.count()
        stats["groups_pruned"] = big.count() - n_short
        stats["groups_fallback"] = n_short
    return out


def split_bounds(weights: dict[str, float]) -> list[str]:
    """The 15-hex-char cumulative boundaries ``hash_split`` compares
    against — exposed so an external twin (e.g. a SQL oracle) can
    embed bit-identical literals instead of re-deriving them with
    subtly different float arithmetic."""
    if not weights:
        raise ValueError("weights must name at least one split")
    for name, w in weights.items():
        if w <= 0:
            raise ValueError(f"split {name!r} weight must be positive, got {w}")
    total = float(sum(weights.values()))
    bounds = []
    acc = 0.0
    for name in list(weights)[:-1]:
        acc += weights[name] / total
        bounds.append(format(int(acc * 16**15), "015x"))
    return bounds


def hash_split(
    docs: DataFrame,
    weights: dict[str, float],
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is a
    pure function of its id (``md5(cast(id AS string))`` against fixed
    hex boundaries), so the partition is REPRODUCIBLE across runs and
    engines, stable under corpus growth (adding documents never moves
    an existing one between splits — the property a random ``df.
    randomSplit`` lacks), and leakage-free by construction (an id is
    in exactly one split). Expected proportions follow from md5
    uniformity; per-stratum exactness is :func:`quota_sample`'s job.

    ``weights`` maps split name → positive weight (normalized;
    insertion order fixes the boundary layout, so pass the same dict
    order for the same assignment). Purely a projection — no shuffle,
    no UDF, rides whatever scan it is composed onto.
    """
    # cumulative boundaries as 15-hex-char literals: md5-prefix string
    # order == numeric order (0-9a-f are ASCII-ascending), so the
    # comparison stays a plain string compare in any engine
    names = list(weights)
    bounds = split_bounds(weights)
    key = F.substring(sample_key(), 1, 15)
    expr = F.lit(names[-1])
    for name, b in zip(reversed(names[:-1]), reversed(bounds)):
        expr = F.when(key < F.lit(b), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def temperature_mix(
    docs: DataFrame,
    group_col: str,
    tau: float,
    total: int | None = None,
    safety: float = 2.0,
    stats: dict | None = None,
) -> DataFrame:
    """Temperature-based corpus mixing (the Pile / multilingual-LM
    resampling family): re-weight each ``group_col`` stratum from its
    natural share ``p_g = n_g/N`` to ``p_g^tau / Σ p_h^tau`` and emit
    a deterministic per-document ``copies`` column realizing the new
    mix — ``tau < 1`` flattens (heads downsample, tails upsample,
    possibly to copies > 1), ``tau = 1`` is the identity mix,
    ``tau = 0`` is uniform-across-groups.

    Output: the input columns plus ``copies int`` (> 0; rows whose
    group resolved to zero target are dropped). Within a group the
    target ``t_g`` splits as ``t_g div n_g`` copies for everyone plus
    one extra for the ``t_g mod n_g`` first documents in the
    deterministic md5 order — no RNG, rerun-stable, and an engine
    oracle reproduces it bit-for-bit.

    Engine-reproducible arithmetic (the dsir_weights playbook):
    ``w_g = round(pow(n_g/N, tau), 9)`` cast DECIMAL(38,9) so the
    cross-group sum is EXACT and order-independent (double sums are
    neither), then ``t_g = floor(round(w_g·total/W, 6))`` back in
    double. Everything stays one declarative plan — the 1-row ``W``
    aggregate broadcast-joins back, nothing collects.

    Scale posture: same pruned-window shape as :func:`quota_sample` —
    the remainder rank only ever sees ``~rem_g × safety`` candidate
    rows per group (md5-uniformity threshold), never a 40-TB stratum;
    sketch-miss groups fall back to the exact full window (counted in
    ``stats``, never silent). Groups needing no remainder skip the
    window entirely.
    """
    if tau < 0:
        raise ValueError(f"tau must be >= 0, got {tau}")
    cols = docs.columns
    key = _num_key()
    max_key = float(16**15)
    n_total = docs.count()
    if n_total == 0:
        return docs.withColumn("copies", F.lit(1).cast("int")).limit(0)
    target_total = int(total) if total is not None else n_total

    gstats = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    gw = gstats.withColumn(
        "_w",
        F.round(
            F.pow(F.col("_n") / F.lit(float(n_total)), F.lit(float(tau))), 9
        ).cast("decimal(38,9)"),
    )
    wsum = gw.agg(F.sum("_w").alias("_W"))
    gt = (
        gw.alias("g").crossJoin(F.broadcast(wsum.alias("s")))
        .withColumn(
            "_t",
            F.floor(
                F.round(
                    F.col("g._w").cast("double")
                    * F.lit(float(target_total))
                    / F.col("s._W").cast("double"),
                    6,
                )
            ).cast("long"),
        )
        .withColumn("_base", F.expr("_t div _n"))
        .withColumn("_rem", F.pmod(F.col("_t"), F.col("_n")))
        .withColumn(
            "_thr",
            F.least(
                F.lit(max_key),
                F.lit(safety) * F.col("_rem") * F.lit(max_key) / F.col("_n"),
            ).cast("long"),
        )
        .select(group_col, "_n", "_t", "_base", "_rem", "_thr")
        .persist()
    )

    no_rem = gt.filter((F.col("_rem") == 0) & (F.col("_base") > 0))
    with_rem = gt.filter(F.col("_rem") > 0)

    flat = docs.join(
        F.broadcast(no_rem.select(group_col, "_base")), group_col
    ).select(*cols, F.col("_base").cast("int").alias("copies"))

    cand = docs.join(
        F.broadcast(with_rem.select(group_col, "_base", "_rem", "_thr")),
        group_col,
    ).filter(key <= F.col("_thr"))
    cand_n = cand.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cn"))
    short = (
        with_rem.join(F.broadcast(cand_n), group_col, "left")
        .filter(F.coalesce(F.col("_cn"), F.lit(0)) < F.col("_rem"))
        .select(group_col)
        .persist()
    )
    n_short = short.count()

    w = Window.partitionBy(group_col).orderBy(sample_key(), "doc_id")

    def _with_copies(df):
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn(
                "copies",
                (
                    F.col("_base")
                    + F.when(F.col("_rn") <= F.col("_rem"), 1).otherwise(0)
                ).cast("int"),
            )
            .filter(F.col("copies") > 0)
            .select(*cols, "copies")
        )

    ranked = _with_copies(cand.join(F.broadcast(short), group_col, "left_anti"))
    # rows ABOVE the candidate threshold never win a remainder slot;
    # they carry the base copy count (dropped when base == 0)
    rest = (
        docs.join(
            F.broadcast(
                with_rem.join(short, group_col, "left_anti").select(
                    group_col, "_base", "_thr"
                )
            ),
            group_col,
        )
        .filter((key > F.col("_thr")) & (F.col("_base") > 0))
        .select(*cols, F.col("_base").cast("int").alias("copies"))
    )
    out = flat.unionByName(ranked).unionByName(rest)
    if n_short:
        fb = _with_copies(
            docs.join(
                F.broadcast(
                    with_rem.join(
                        short, group_col, "left_semi"
                    ).select(group_col, "_base", "_rem")
                ),
                group_col,
            )
        )
        out = out.unionByName(fb)
    if stats is not None:
        stats["n_groups"] = gt.count()
        stats["groups_no_rem"] = no_rem.count()
        stats["groups_windowed"] = with_rem.count() - n_short
        stats["groups_fallback"] = n_short
    return out
