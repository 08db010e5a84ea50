"""Window operators (SURVEY.md §2.5) + the scale-critical primitives:
equal-occupancy binning, BH-FDR, and distributed global ordered scans.

The reference's binning is a pandas ``sort_values`` + ``cumsum``
[P pFitHiC vectorization of `fithic.py::calculateProbabilities`]; its
BH correction is a sorted walk [P `fithic.py::benjamini_hochberg_correction`].
A naive Spark translation — ``Window.orderBy(...)`` with no
``partitionBy`` — collapses to ONE task and dies at 100 TB.  Every
global ordered scan here (row number, running sum, running max,
suffix min) takes one two-phase form (SURVEY.md §4.4), written once in
:func:`_two_phase_scan`:

1. stamp each row with a value bucket ``_pid`` (:func:`_bucketed_by_value`);
2. per-(part, bucket) running aggregate (ordinary partitioned window);
3. per-bucket totals (one row each) → prefix over earlier buckets via
   a window over the tiny totals table → join back as offsets.

All in DataFrame ops, so Catalyst/AQE still optimize around it.

``_pid`` is a pure function of the order value.  The scan branches its
lineage at the bucket-stamped frame — one branch takes the per-bucket
window, the other the per-bucket totals — so both branches must agree
on every row's bucket, even when each re-executes on its own: with
``spark.sql.exchange.reuse=false`` nothing dedupes identical exchanges,
and a RangePartitioner re-samples its boundaries on every execution,
so a bucket taken from ``spark_partition_id()`` after
``repartitionByRange`` can differ between the branches and silently
mis-rank.  Quantile boundaries of the leading order column are instead
collected ONCE driver-side (a one-pass approxQuantile, no shuffle) and
frozen as literals, so every execution of every branch derives the same
bucket ids — no materialization, no optimizer dependence, and exchange
reuse stays a pure optimization.  Equal leading-column values always
share a bucket (strict boundary compares), so global ranks stay exact
for any total order led by that column; a heavily tied leading column
degrades to fewer effective buckets.  Leading order columns must be
numeric (enforced fail-fast; all callers pre-aggregate or derive
them); NULLs are routed to the bucket Spark's default null ordering
would place them in, so they rank exactly as under a plain
``Window.orderBy``.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from . import cache


#: Phase-2 parallelism of every two-phase helper equals the bucket
#: count; 2048 covers any realistic shuffle-partition setting while the
#: log-depth bucket expression keeps per-row cost at ~11 comparisons.
_MAX_BUCKETS = 2048

#: Shared small-threshold for the value-grain prefix-sum keys
#: (q_roc_auc / q_cliffs_delta / q_weighted_quantile /
#: q_energy_distance / q_auc_by_group): at or below this many rows the
#: plain one-task window wins (the two-phase machinery costs extra
#: jobs that dwarf it); above, the _pid bucket form.  Callers read it
#: AT CALL TIME (``win.SMALL_THRESHOLD_DEFAULT``) so tests can
#: monkeypatch it to 0 and gate the two-phase plans those keys would
#: run at 100 TB.
SMALL_THRESHOLD_DEFAULT = 2_000_000

#: Unpersist the inputs the helpers below persisted for a size probe.
release_probe_caches = cache.PROBES.release


def _probe_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` into the bounded probe pool ahead of an eager
    action whose returned plan reads ``df`` again, so the caller's
    upstream lineage executes once instead of once per action.  A
    frame the caller already persisted passes through untracked
    (their cache, their release point)."""
    return df if df.is_cached else cache.PROBES.add(df)


def _small_input(
    df: DataFrame, small_threshold: int | None, precomputed_count: int | None
) -> tuple[DataFrame, bool]:
    """``(df, small)``: whether ``df`` has at most ``small_threshold``
    rows, so the plain one-task window beats the two-phase form (whose
    extra jobs dwarf a bounded-grain window).  No threshold means
    ``small`` is False.  The row count is ``precomputed_count`` when
    given, else an eager count of ``df`` persisted by
    :func:`_probe_persist`.  Only confirmed-small inputs stay cached:
    an input over the threshold is arbitrarily large at scale, and the
    two-phase plan's column-pruned re-reads cost less than holding it
    in MEMORY_AND_DISK until eviction."""
    if not small_threshold:
        return df, False
    if precomputed_count is not None:
        return df, precomputed_count <= small_threshold
    df = _probe_persist(df)
    small = df.count() <= small_threshold
    if not small:
        cache.PROBES.discard(df)
    return df, small


def _bsearch_bucket(col: Column, seq: list, descending: bool, lo: int, hi: int):
    """Balanced nested-when binary search over the frozen boundary
    literals ``seq[lo:hi]``: returns a literal bucket id equal to the
    count of boundaries the value strictly passes (ascending: value >
    boundary; descending: value < boundary — ``seq`` must be sorted in
    bucket order, i.e. reverse-sorted when descending).

    Invariant: boundaries before ``lo`` are passed, boundaries from
    ``hi`` on are not; ``seq`` is strictly monotone (deduped), so
    passing ``seq[mid]`` passes every earlier boundary too.  Depth is
    ``ceil(log2(len(seq)+1))`` — ~11 comparisons per row at 2048
    buckets versus the 2047 comparisons+adds of a flat when()-sum.
    Deliberately NOT an array+filter higher-order function: a HOF
    lambda capturing an outer column, consumed as a derived groupBy key
    under a window with AQE/exchange-reuse disabled, hits a Spark 4.1
    optimizer bug ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] — the outer
    reference is pruned out of the window's child).  Nested when() has
    no outer capture and survives every flag combination (reuse-off
    regression: test_scalable_rank_survives_disabled_exchange_reuse).
    """
    if lo >= hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    passed = (
        (col < F.lit(seq[mid])) if descending else (col > F.lit(seq[mid]))
    )
    return F.when(
        passed, _bsearch_bucket(col, seq, descending, mid + 1, hi)
    ).otherwise(_bsearch_bucket(col, seq, descending, lo, mid))


def _bucketed_by_value(
    df: DataFrame,
    bucket_col: str,
    num_partitions: int | None,
    descending: bool = False,
) -> DataFrame:
    """Stamp ``_pid`` as a pure function of ``bucket_col``: quantile
    boundaries are collected once driver-side and frozen as literals,
    so every lineage branch derives identical bucket ids no matter how
    many times it re-executes (see module docstring).  Rows equal to a
    boundary all land in the lower bucket — equal values never split
    across buckets, which is what keeps ranks exact under tiebreak
    chains led by ``bucket_col``.

    ``bucket_col`` must be NUMERIC (approxQuantile's contract) — a
    non-numeric column fails fast here with a targeted error instead of
    a py4j IllegalArgumentException mid-job.  NULL values (which
    approxQuantile ignores, so they never become boundaries) are routed
    to the bucket matching Spark's default window null placement —
    first bucket for ascending order (NULLS FIRST), last for descending
    (NULLS LAST) — so the per-bucket window's own null ordering yields
    the same global order a plain ``Window.orderBy`` would.
    """
    from pyspark.sql.types import NumericType

    dt = df.schema[bucket_col].dataType
    if not isinstance(dt, NumericType):
        raise ValueError(
            f"two-phase window helpers order by a numeric leading "
            f"column; {bucket_col!r} is {dt.simpleString()} — derive a "
            f"numeric sort key first (e.g. io.epoch_us for timestamps)"
        )
    n = int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    n = min(n, _MAX_BUCKETS)
    bounds: list = []
    if n > 1:
        probs = [i / n for i in range(1, n)]
        # The input is NOT persisted ahead of this boundary pass: the
        # rank-based callers feed cheap projections of already
        # materialized frames, where the cache write costs more than
        # the re-execution it saves (q_quantile_sketch 2.7 s → 4.8 s,
        # q_pinball_loss 2.0 s → 2.3 s min-of-5 at sf0.1 with a
        # persist).  Callers with expensive lineage persist before
        # calling (the q_hodges_lehmann discipline).
        # one pass, no shuffle; boundaries are a partitioning CHOICE —
        # any value produces correct ranks, so the sketch's epsilon
        # only affects balance
        qs = df.stat.approxQuantile(bucket_col, probs, 1.0 / (4 * n))
        # bucket order: ascending boundaries for ascending ranks,
        # reversed for descending (so "passes seq[mid] → passes every
        # earlier boundary" holds in both directions)
        bounds = sorted(set(qs), reverse=descending)
    pid = _bsearch_bucket(F.col(bucket_col), bounds, descending, 0, len(bounds))
    if bounds:
        null_bucket = 0 if not descending else len(bounds)
        pid = F.when(
            F.col(bucket_col).isNull(), F.lit(null_bucket)
        ).otherwise(pid)
    return df.withColumn("_pid", pid.cast("int"))


_COMBINE = {"sum": operator.add, "max": F.greatest, "min": F.least}


def _two_phase_scan(
    parted: DataFrame,
    part_cols: list[str],
    order_cols: list,
    outs: dict[str, tuple],
    tots: dict | None = None,
    reverse: bool = False,
) -> DataFrame:
    """Globally ordered running aggregates over a ``_pid``-stamped
    frame (:func:`_bucketed_by_value`) without a one-task window: the
    one two-phase scan every helper here is built on.

    The order is ``order_cols`` within each ``part_cols`` group; its
    leading column must be the one ``_pid`` was stamped from, so bucket
    order is row order.  Buckets run in ascending ``_pid``, or in
    descending ``_pid`` when ``reverse`` (a suffix scan over buckets
    stamped ascending).  ``outs`` maps each output column to ``(op,
    value, frame)``: ``op`` is ``"sum"``, ``"max"`` or ``"min"``,
    ``value`` a column name or Column, ``frame`` ``"inclusive"`` (up to
    and including the row) or ``"exclusive"`` (strictly earlier rows).
    ``tots`` maps output columns to values whose sum over the whole
    part is attached to every row.

    Each output is the running value within the row's (part, bucket)
    combined with an offset over the part's earlier buckets: ``local +
    offset`` for sums, where the offset before the first bucket is 0;
    ``greatest``/``least`` for max/min, where it is NULL (which both
    skip).  A running count is ``("sum", F.lit(1), "inclusive")``, the
    same number as ``row_number`` under the same sort.  An exclusive
    sum is NULL on each bucket's first row; use the inclusive sum minus
    the value.

    The offsets table has one row per (part, bucket).  With no part
    columns that is at most ``_MAX_BUCKETS`` rows and it is broadcast;
    with part columns it grows with the number of parts, so it joins
    as a plain equi-join (AQE still broadcasts it when it measures
    small).

    Returns ``parted``'s columns (``_pid`` included, part columns
    first), then the ``tots``, then the ``outs``."""
    keys = [*part_cols, "_pid"]
    w_local = W.partitionBy(*keys).orderBy(*order_cols)
    w_buckets = W.partitionBy(*part_cols).orderBy(
        F.col("_pid").desc() if reverse else "_pid"
    )
    local, bucket_aggs, offsets = parted, [], []
    for out, (op, value, frame) in outs.items():
        agg = getattr(F, op)
        end = W.currentRow if frame == "inclusive" else -1
        local = local.withColumn(
            "_lv_" + out,
            agg(value).over(w_local.rowsBetween(W.unboundedPreceding, end)),
        )
        bucket_aggs.append(agg(value).alias("_bv_" + out))
        off = agg("_bv_" + out).over(
            w_buckets.rowsBetween(W.unboundedPreceding, -1)
        )
        if op == "sum":
            off = F.coalesce(off, F.lit(0))
        offsets.append(off.alias("_off_" + out))
    whole = w_buckets.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    for out, value in (tots or {}).items():
        bucket_aggs.append(F.sum(value).alias("_bv_" + out))
        offsets.append(F.sum("_bv_" + out).over(whole).alias(out))
    offs = parted.groupBy(*keys).agg(*bucket_aggs).select(*keys, *offsets)
    out_df = local.join(offs if part_cols else F.broadcast(offs), keys)
    for out, (op, _, _) in outs.items():
        out_df = out_df.withColumn(
            out, _COMBINE[op](F.col("_lv_" + out), F.col("_off_" + out))
        )
    return out_df.drop(*[p + out for out in outs for p in ("_lv_", "_off_")])


def scalable_rank(
    df: DataFrame,
    order_cols: list,
    bucket_col: str,
    num_partitions: int | None = None,
    rank_col: str = "_rk",
    tot_col: str | None = None,
    descending: bool = False,
) -> DataFrame:
    """Two-phase distributed global row_number over ``order_cols``
    (which must be made total by a tiebreak chain when exact per-row
    ranks matter; ties are fine when rank use is value-neutral, e.g.
    median selection over the value being ordered).  ``bucket_col``
    names the LEADING order column (numeric, non-null; pass
    ``descending=True`` when it leads descending).

    A running count over :func:`_two_phase_scan`.  Returns the input
    columns plus ``rank_col`` (1-based global rank, long), ``_pid``
    (callers running further per-bucket phases need it — drop it
    otherwise), and optionally ``tot_col`` (the global row count, same
    on every row)."""
    parted = _bucketed_by_value(df, bucket_col, num_partitions, descending)
    tots = {tot_col: F.lit(1)} if tot_col is not None else None
    return _two_phase_scan(
        parted, [], order_cols, {rank_col: ("sum", F.lit(1), "inclusive")}, tots
    )


def _running_sums(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    sums: dict[str, str],
    tots: dict[str, str],
    num_partitions: int | None,
    small_threshold: int | None,
    precomputed_count: int | None,
) -> DataFrame:
    """The cumsum helpers' shared body: per-part running sums and
    whole-part totals, as a plain window when :func:`_small_input`
    says the input is small, else through :func:`_two_phase_scan`."""
    df, small = _small_input(df, small_threshold, precomputed_count)
    if small:
        w = W.partitionBy(*part_cols).orderBy(order_col)
        running = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        for out, vc in sums.items():
            df = df.withColumn(out, F.sum(vc).over(running))
        for out, vc in tots.items():
            df = df.withColumn(out, F.sum(vc).over(whole))
        return df
    parted = _bucketed_by_value(df, order_col, num_partitions)
    outs = {out: ("sum", vc, "inclusive") for out, vc in sums.items()}
    return _two_phase_scan(parted, part_cols, [order_col], outs, tots).drop(
        "_pid"
    )


def scalable_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
    small_threshold: int | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """Globally ordered running sum without a single-task global window.

    Requires ``order_col`` values to be unique per row (pre-aggregate
    first — which the callers do, and which also bounds cardinality:
    distances ≤ chromosome_length/resolution).

    ``small_threshold``: when set, the input is counted (count skipped
    when the caller passes ``precomputed_count``); at or below the
    threshold a plain single-partition window is used — for
    bounded-cardinality inputs the two-phase machinery (sampling +
    offset join) costs several extra jobs that dwarf a one-task
    window.  The probe persists the input into the bounded probe pool
    (:func:`_small_input`).  Pass None (default) to force the
    two-phase form.
    """
    return _running_sums(
        df, [], order_col, {out_col: value_col}, {},
        num_partitions, small_threshold, precomputed_count,
    )


def scalable_cumsum_multi(
    df: DataFrame,
    order_col: str,
    sums: dict[str, str],
    tots: dict[str, str] | None = None,
    num_partitions: int | None = None,
    small_threshold: int | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """Several globally ordered running sums (plus optional global
    totals) sharing ONE value-deterministic bucketing pass — the
    multi-column sibling of :func:`scalable_cumsum` for keys whose
    prefix identity needs N cumulative columns over the same order
    (energy distance: F/G per sample → 4 sums + 4 totals; calling
    scalable_cumsum N times would re-bucket and re-probe N times).

    ``sums``: ``{out_col: value_col}`` running sums (inclusive,
    UNBOUNDED PRECEDING..CURRENT ROW under ``order_col``); ``tots``:
    ``{out_col: value_col}`` whole-frame sums attached to every row
    (rides the same offsets frame — no extra shuffle and no second
    unpartitioned window over data grain).  Same contracts as
    scalable_cumsum: ``order_col`` unique per row (pre-aggregate
    first), ``small_threshold`` keeps the plain one-task window at or
    below the threshold so bounded-grain fixture plans stay unchanged.
    """
    return _running_sums(
        df, [], order_col, sums, tots or {},
        num_partitions, small_threshold, precomputed_count,
    )


def per_distance_totals(contacts_with_dist: DataFrame) -> DataFrame:
    """Pre-compress contacts to one row per distance: (d, cc, np).

    The cardinality-bounding step before any global-order op
    [P pFitHiC groupby pre-compression]."""
    return contacts_with_dist.groupBy(F.col("dist").alias("d")).agg(
        F.sum("contact_count").alias("cc"), F.count(F.lit(1)).alias("np")
    )


def equal_occupancy_assign(
    byd: DataFrame,
    nbins: int,
    total: int | None = None,
    small_threshold: int | None = 200_000,
) -> DataFrame:
    """Assign each distance to an equal-occupancy bin [SC-1].

    ``bin_id = min(floor((cumsum - cc) / target), nbins-1)`` with
    ``target = Σcc / nbins``; rows at the same distance share a bin by
    construction (input is per-distance).  The one driver-side scalar
    (``total``) is the sanctioned sync point — a single agg row.

    Ref: fithic.py::calculateProbabilities walk loop; pFitHiC cumsum.
    """
    n_dists = None
    if small_threshold:
        # reused by the agg, the cumsum and the stats
        byd = _probe_persist(byd)
        if total is None:
            # one job for both scalars the decision needs
            n_dists, total = byd.agg(
                F.count(F.lit(1)), F.sum("cc")
            ).collect()[0]
    if total is None:
        total = byd.agg(F.sum("cc")).collect()[0][0]
    if total is None:
        # sum over zero ROWS is SQL null → empty input; any finite
        # target works (there is nothing to assign)
        total = 0
    target = total / nbins  # exact-int inputs → identical double everywhere
    if target == 0.0:
        # rows present but Σcc == 0 (or empty input): every row belongs
        # in bin 0 rather than dividing by zero — explicit, instead of
        # conflating "no rows" with "zero counts" via falsiness
        target = 1.0
    cum = scalable_cumsum(
        byd,
        "d",
        "cc",
        "cumcc",
        small_threshold=small_threshold,
        precomputed_count=n_dists,
    )
    return cum.withColumn(
        "bin_id",
        F.least(
            F.floor((F.col("cumcc") - F.col("cc")) / F.lit(target)),
            F.lit(nbins - 1),
        ).cast("long"),
    )


def bin_stats(assigned: DataFrame) -> DataFrame:
    """Per-bin null-model support stats (ref: calculateProbabilities
    output: avgDist, Σcc, n pairs).  All inputs exact integers, so the
    weighted average is deterministic."""
    return assigned.groupBy("bin_id").agg(
        F.min("d").alias("min_dist"),
        F.max("d").alias("max_dist"),
        F.sum("cc").alias("sum_cc"),
        F.sum("np").alias("n_pairs"),
        # exact integer sums → one IEEE division: bit-identical on any
        # engine without rounding (rounding a >2^33 magnitude at 9 dp
        # actually *creates* cross-engine mismatches)
        (F.sum(F.col("d") * F.col("cc")).cast("double") / F.sum("cc")).alias(
            "avg_dist"
        ),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str = "p_value",
    m: int | None = None,
    tiebreak: list[str] | None = None,
    q_col: str = "q_value",
    n_rows: int | None = None,
) -> DataFrame:
    """Benjamini–Hochberg q-values [P `fithic.py::benjamini_hochberg_correction`].

    ``q_i = min_{j>=i} min(1, p_j * M / j)`` with M =
    possibleIntraInRangeCount (possible, NOT observed pairs — SC-3);
    pass ``m`` explicitly for that semantics, default falls back to the
    observed row count.

    When ``n_rows`` (the exact row count) is known, both the ascending
    rank and the suffix-min collapse onto ONE descending window — rank
    = n_rows − rn_desc + 1, suffix-min = running min over the same
    frame — so the plan sorts once instead of twice.

    Global-order note: ranks use an unpartitioned window — fine for the
    ≤10⁶-row significance tables this runs on after pre-aggregation; for
    larger inputs use :func:`bh_fdr_scalable` (§4.4).
    """
    tiebreak = tiebreak or []
    if m is None:
        m = df.count()
    if n_rows is not None:
        w_desc = W.orderBy(
            F.col(p_col).desc(), *[F.col(c).desc() for c in tiebreak]
        )
        rk = F.lit(int(n_rows) + 1) - F.row_number().over(w_desc)
        q_raw = F.least(F.lit(1.0), F.col(p_col) * F.lit(float(m)) / rk)
        running = w_desc.rowsBetween(W.unboundedPreceding, W.currentRow)
        return (
            df.withColumn("_q_raw", q_raw)
            .withColumn(q_col, F.min("_q_raw").over(running))
            .drop("_q_raw")
        )
    w_rank = W.orderBy(F.col(p_col), *[F.col(c) for c in tiebreak])
    ranked = df.withColumn("_rk", F.row_number().over(w_rank))
    q_raw = F.least(F.lit(1.0), F.col(p_col) * F.lit(float(m)) / F.col("_rk"))
    ranked = ranked.withColumn("_q_raw", q_raw)
    # Suffix-min as a running min over DESCENDING rank.  Do NOT rewrite
    # as min over [currentRow, unboundedFollowing] on the ascending
    # order: Spark executes shrinking frames with
    # UnboundedFollowingWindowFunctionFrame, which recomputes the
    # aggregate from scratch per row — O(n^2) per partition (measured
    # ~30x slower at 25k rows/partition).  The extra sort is the cheap
    # part.
    w_min = (
        W.orderBy(F.col("_rk").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ranked.withColumn(q_col, F.min("_q_raw").over(w_min)).drop(
        "_rk", "_q_raw"
    )


def topk_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rn_col: str = "rn",
) -> DataFrame:
    """Top-k per partition via row_number — Catalyst rewrites the
    rn<=k filter into a per-partition top-k (WindowGroupLimit), so no
    partition is fully sorted at scale."""
    w = W.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rn_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rn_col) <= k)
    )


def bh_fdr_scalable(
    df: DataFrame,
    p_col: str = "p_value",
    m: int | None = None,
    tiebreak: list[str] | None = None,
    q_col: str = "q_value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed BH-FDR: identical semantics to :func:`bh_fdr` with no
    single-task global window.

    Two-phase global rank (:func:`scalable_rank`), then the
    monotonicity step's suffix min as a reversed
    :func:`_two_phase_scan` over the rank's buckets.  The tiebreak
    chain must make the ordering total.
    """
    tiebreak = tiebreak or []
    if m is None:
        m = df.count()
    n = int(
        num_partitions
        or df.sparkSession.sparkContext.defaultParallelism
        or 32
    )
    order_cols = [F.col(p_col)] + [F.col(c) for c in tiebreak]
    d = scalable_rank(
        df, order_cols, p_col, num_partitions=n, rank_col="_rk"
    )
    d = d.withColumn(
        "_q_raw",
        F.least(F.lit(1.0), F.col(p_col) * F.lit(float(m)) / F.col("_rk")),
    )
    # Suffix min as a running min in DESCENDING rank order, buckets
    # reversed.  An ascending frame [currentRow, unboundedFollowing]
    # would share the rank window's sort, but Spark executes shrinking
    # frames by recomputing the aggregate per row: O(n^2) per bucket.
    d = _two_phase_scan(
        d, [], [F.col("_rk").desc()], {q_col: ("min", "_q_raw", "inclusive")},
        reverse=True,
    )
    # _q_raw never exceeds 1.0, so 1.0 is the min of an empty suffix
    return d.withColumn(q_col, F.coalesce(q_col, F.lit(1.0))).drop(
        "_pid", "_rk", "_q_raw"
    )


def scalable_cummax_exclusive(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    descending: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running max over all STRICTLY-PRECEDING rows in a global order,
    without a single-task global window — :func:`_two_phase_scan`
    with max instead of sum and an exclusive frame.  ``order_col`` values must be unique per row
    (pre-aggregate first).  Rows with no predecessor get NULL."""
    ord_expr = F.col(order_col).desc() if descending else F.col(order_col).asc()
    parted = _bucketed_by_value(
        df, order_col, num_partitions, descending=descending
    )
    return _two_phase_scan(
        parted, [], [ord_expr], {out_col: ("max", value_col, "exclusive")}
    ).drop("_pid")


def scalable_trailing_aggs(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    aggs: dict[str, Column],
    lookback: int,
    include_current: bool = False,
    chunk: int | None = None,
    num_partitions: int | None = None,
    small_threshold: int | None = None,
) -> DataFrame:
    """Trailing bounded-frame window aggregates — frame
    ``ROWS BETWEEN lookback PRECEDING AND (1 PRECEDING | CURRENT ROW)``
    over ``order_cols`` within ``part_cols`` — WITHOUT one task per
    partition value (the q_anomaly_zscore spine).

    ``W.partitionBy(event_type)`` parallelism equals the number of
    distinct partition values: with a handful of event types, 100 TB of
    events serialize onto a handful of window tasks.  A bounded ROWS
    frame only ever needs the ``lookback`` preceding rows, so the
    window can be chunked with replicated context:

    1. value-deterministic buckets on the leading order column
       (:func:`_bucketed_by_value` — frozen quantile literals, so every
       lineage branch agrees);
    2. per-(part, bucket) row_number + per-part prefix-count offsets
       (the two-phase rank shape) → exact per-part rank ``r``;
    3. re-chunk by rank: ``_rb = (r-1) // C`` with
       ``C = max(lookback, chunk)`` — every chunk except a part's last
       holds exactly C >= lookback rows, so a row's whole frame lives
       in its own chunk plus the previous chunk's tail;
    4. rows in a chunk's last ``lookback`` positions are REPLICATED
       into the next chunk as context (flagged, excluded from output);
    5. one ordinary window per (part, _rb) computes the aggregates;
       context rows participate in frames but are dropped after.

    Row replication overhead is ``lookback / C`` (< 0.2% at the 65536
    default) and phase-2 parallelism is ``n_part_rows / C`` per
    partition value instead of 1.  ``aggs`` maps output column names to
    aggregate Columns (e.g. ``F.sum(expr)``) — anything legal over a
    running ROWS frame.  ``order_cols`` must totally order rows within
    a part (add a tiebreak column); the leading order column must be
    numeric (:func:`_bucketed_by_value`'s contract).

    ``small_threshold``: when set, the input is counted and at or
    below the threshold the plain partitioned window is used — the
    bounded-grain fast path of :func:`scalable_cumsum`, probe and
    probe cache included (:func:`_small_input`).  Pass None to force
    the scalable form.
    """
    lo = -int(lookback)
    hi = 0 if include_current else -1
    df, small = _small_input(df, small_threshold, None)
    if small:
        w = W.partitionBy(*part_cols).orderBy(*order_cols).rowsBetween(lo, hi)
        return df.select(
            "*", *[c.over(w).alias(name) for name, c in aggs.items()]
        )
    C = int(max(lookback, chunk or 65536))
    d = scalable_part_rank(
        df, part_cols, order_cols, rank_col="_r", num_partitions=num_partitions
    )
    rb = F.floor((F.col("_r") - 1) / C).cast("long")
    ro = (F.col("_r") - 1) % C
    # 1-or-2-copy explode instead of a self-union: context replication
    # in the SAME pass (no second execution of the rank phase, no
    # lineage branch to keep consistent)
    copies = F.concat(
        F.array(F.struct(rb.alias("rb"), F.lit(0).alias("ctx"))),
        F.when(
            ro >= C - lookback,
            F.array(F.struct((rb + 1).alias("rb"), F.lit(1).alias("ctx"))),
        ).otherwise(
            F.array().cast("array<struct<rb:bigint,ctx:int>>")
        ),
    )
    both = (
        d.select("*", F.explode(copies).alias("_e"))
        .withColumn("_rb", F.col("_e.rb"))
        .withColumn("_ctx", F.col("_e.ctx"))
        .drop("_e")
    )
    w2 = (
        W.partitionBy(*part_cols, "_rb")
        .orderBy("_r")
        .rowsBetween(lo, hi)
    )
    out = both.select(
        "*", *[c.over(w2).alias(name) for name, c in aggs.items()]
    )
    return out.filter(F.col("_ctx") == 0).drop("_r", "_rb", "_ctx")


def scalable_part_rank(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    rank_col: str = "_r",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact per-partition row_number over ``order_cols`` within
    ``part_cols`` WITHOUT one task per partition value — the per-part
    generalization of :func:`scalable_rank`.

    ``W.partitionBy(part).orderBy(...)`` row_number serializes each
    partition value onto one task; with few values (shards, event
    types) that is a handful of tasks at any data volume.  Here a
    running count over :func:`_two_phase_scan` with value buckets on
    the LEADING order column (numeric): parallelism is #parts ×
    #buckets.  ``order_cols`` must totally order rows within a part
    when exact per-row ranks matter (add a tiebreak chain).

    Returns the input columns plus ``rank_col`` (1-based within each
    part, long)."""
    parted = _bucketed_by_value(df, order_cols[0], num_partitions)
    return _two_phase_scan(
        parted, part_cols, order_cols, {rank_col: ("sum", F.lit(1), "inclusive")}
    ).drop("_pid")


def scalable_part_cumsum(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
    small_threshold: int | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """Per-partition globally ordered running sum WITHOUT one task per
    partition value — the per-part sibling of :func:`scalable_cumsum`
    (q_auc_by_group's per-slice prefix spine: ``W.partitionBy(segment)``
    serializes each slice onto ONE task, so a 5-value segment column
    caps parallelism at 5 while each task still carries n/5 of a value
    grain that grows with volume).

    Value buckets on ``order_col`` → :func:`_two_phase_scan` per part.
    Parallelism is #parts × #buckets.  ``order_col`` must be unique per
    row WITHIN a part (pre-aggregate first).  ``small_threshold``: same
    contract as :func:`scalable_cumsum` — at or below, the plain
    partitioned window (bounded-grain fixture plans unchanged)."""
    return _running_sums(
        df, part_cols, order_col, {out_col: value_col}, {},
        num_partitions, small_threshold, precomputed_count,
    )


def rolling_distinct_approx(
    df,
    day_col: str,
    key_col: str,
    window_days: int = 7,
    out_col: str = "approx_distinct",
):
    """Rolling N-day APPROXIMATE distinct count via mergeable HLL
    sketches — the 100 TB form of q_wau's exact pipeline.

    COUNT(DISTINCT) doesn't decompose over window frames, and the
    exact sequence-explode form replicates every (day, key) row N×.
    Sketches restore decomposability: ONE pass builds a fixed-size
    (~KB) Datasketches HLL per day (``hll_sketch_agg`` — map-side
    combined), then the rolling union merges N sketches per day over
    the BOUNDED day-grain table (``hll_union_agg`` window) and
    estimates.  Per-day cost at scale: one sketch shuffle of kilobytes
    instead of N× the key traffic; ±~2% standard error at the default
    lgConfigK=12.

    Deliberately NOT a registry key: sketch estimates are
    implementation-defined, so no DuckDB oracle can hash-match them —
    the pytest gate bounds the error against the exact rolling count
    instead (tests/test_streaming.py)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    daily = df.groupBy(day_col).agg(
        F.hll_sketch_agg(key_col).alias("_sk")
    )
    w = W.orderBy(day_col).rowsBetween(-(window_days - 1), 0)
    return daily.select(
        day_col,
        F.hll_sketch_estimate(F.hll_union_agg("_sk").over(w))
        .cast("bigint")
        .alias(out_col),
    )
