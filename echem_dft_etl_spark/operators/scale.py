"""Scale patterns: skew-resistant joins and co-located (bucketed) joins.

At 100 TB the engine's worst enemies are (a) one hot key turning a
shuffle join into a single straggler task and (b) re-shuffling the same
fact table for every join it participates in. Spark's own answers —
AQE skew-join splitting and bucketed tables — are configuration, but
both have authoring-side halves, which live here:

- **Salted join**: when the skewed side's hot keys are known to be
  few-but-huge (classic power-law user/item keys) and AQE's split
  granularity isn't enough, append a deterministic salt ∈ [0, k) to
  the big side's key and replicate the small side k times. The join
  key becomes (key, salt): the hot key's rows spread over k tasks.
  Result set is provably identical to the unsalted join.

- **Bucketed tables**: pre-shuffle a fact table ONCE at write time
  (``bucketBy(n, key)``); every subsequent equi-join or aggregation on
  the bucket key reads co-located buckets and plans with ZERO exchange
  on that side. The write is the shuffle you were going to pay anyway,
  amortized over every downstream query.
"""

from __future__ import annotations

from .guards import require_at_least, require_in_range
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import det_hash_i64


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys spread across ``n_salts``
    partitions-worth of sub-keys.

    ``big`` gets ``salt = hash(row) % n_salts`` (deterministic — derived
    from the key plus a per-row disambiguator column if present);
    ``small`` is exploded ``n_salts``-fold. Join on (key, salt). The
    output equals ``big.join(small, key, how)`` row-for-row; only the
    physical key distribution changes. Use when one side is small
    enough to replicate k times but too big to broadcast outright.

    Only big-side-preserving join types are accepted: because ``small``
    is replicated ``n_salts`` times, a right/full outer join would emit
    every unmatched small row once per replica (n_salts null-extended
    duplicates). For those, salt the other way around or dedup after.
    """
    require_at_least("n_salts", n_salts, 1)
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi",
        "left_anti", "leftanti", "anti",
    }
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports big-side-preserving joins only "
            f"{sorted(allowed)}; got how={how!r} — the replicated small "
            f"side would duplicate unmatched rows under outer variants"
        )
    salt_src = F.coalesce(F.col(key).cast("bigint"), F.lit(0))
    salted_big = big.withColumn(
        "_salt",
        F.pmod(det_hash_i64(F.spark_partition_id() * 31 + salt_src), F.lit(n_salts)).cast("int"),
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    return salted_big.join(salted_small, [key, "_salt"], how).drop("_salt")


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
) -> DataFrame:
    """Point-in-interval range join as a binned EQUI-join — the
    large×large scale path for X5 range joins.

    With a broadcastable interval dimension, the theta-join
    (``v BETWEEN lo AND hi``) planned as a map-side
    BroadcastNestedLoopJoin is already optimal (no shuffle, |dim|
    comparisons per row — the registered x05_range_join). That plan
    dies when BOTH sides are large: the nested loop degenerates to
    |points|·|intervals| comparisons with the whole interval table on
    every executor. Binning restores an equi-join: each point gets
    ``bin = floor(v / w)``; each interval explodes to every bin it
    overlaps (``sequence(floor(lo/w), floor(hi/w))`` — replication =
    interval length / w + 1); join on the bin key, then the exact
    BETWEEN filter. A qualifying pair meets in EXACTLY one bin (the
    point's), so no dedup pass is needed and the result equals the
    theta-join row-for-row (tests/test_scale.py). ``bin_width`` trades
    interval replication against per-bin fan-out — pick it near the
    median interval length (the Databricks range-join hint makes the
    same trade).

    Inner-join semantics (the dominant range-join case); outer
    variants need unmatched-row recovery and are out of scope here.

    Guards: ``bin_width < 1`` raises (zero width floor-divides to NULL
    bins and a silently empty join); an inverted interval (``lo >
    hi``) raises AT RUNTIME via a per-row check folded into the bin
    expression — ``F.sequence`` would otherwise emit a silent
    DESCENDING bin list, i.e. garbage candidates, not an error.
    NULL-bounded intervals are NOT an error: they match nothing under
    the theta join this operator replaces (SQL comparison semantics),
    and are dropped by an explicit filter on the interval side — made
    explicit in r11 (ADVICE r10) rather than left to Catalyst's
    inferred isnotnull constraints, so the behavior survives any
    planner change and the raise stays reserved for inverted non-NULL
    intervals.
    Replication per interval is ``len/bin_width + 1`` exploded rows;
    Spark caps a single ``sequence`` at ~2^31 elements and buffers it
    in one task, so keep ``max_len/bin_width`` in the thousands — pick
    a wider bin for very long intervals. The join key is a generated
    collision-safe column, so inputs may themselves carry a ``_bin``.
    """
    if bin_width < 1:
        # bin_width 0 would divide by zero, which Spark folds to NULL
        # bin keys and a silently EMPTY join (the grid_near_join cell
        # guard lesson) — fail loudly instead
        raise ValueError(f"bin_width must be >= 1, got {bin_width}")
    bcol = _fresh_col_name("bin", points.columns, intervals.columns)
    pts = points.withColumn(
        bcol, F.floor(F.col(point_col) / F.lit(bin_width)).cast("bigint")
    )
    # NULL-bounded intervals match nothing under the theta join this
    # operator replaces (SQL comparison semantics), so drop them
    # EXPLICITLY rather than relying on Catalyst's inferred
    # isnotnull() constraints to prune them before the bin expression
    # — and so _checked_bin's raise stays reserved for genuinely
    # inverted (non-NULL) intervals.
    ivs = intervals.filter(
        F.col(lo_col).isNotNull() & F.col(hi_col).isNotNull()
    ).withColumn(
        bcol,
        F.explode(
            F.sequence(
                _checked_bin(lo_col, hi_col, bin_width, "intervals"),
                F.floor(F.col(hi_col) / F.lit(bin_width)).cast("bigint"),
            )
        ),
    )
    return (
        pts.join(ivs, bcol)
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop(bcol)
    )


def _fresh_col_name(base: str, *column_sets: list[str]) -> str:
    """A working-column name guaranteed absent from every input —
    ``_bin`` etc. silently overwrote a user column of the same name."""
    taken = {c for cols in column_sets for c in cols}
    name = f"_{base}"
    i = 0
    while name in taken:
        i += 1
        name = f"_{base}_{i}"
    return name


def _checked_bin(lo_col: str, hi_col: str, bin_width: int, side: str) -> F.Column:
    """``floor(lo/w)`` that RAISES on an inverted OR NULL-bounded
    interval instead of letting ``F.sequence(lo_bin, hi_bin)`` emit a
    silent descending bin list (garbage join candidates). Cost: one
    comparison per row, map-side, inside codegen.

    NULL bounds never reach this expression — callers drop them
    explicitly (they match nothing under SQL comparison semantics).
    The message args are still coalesced as a backstop (r10 ADVICE):
    ``when(hi >= lo, ...)`` is NULL for a NULL bound so the otherwise
    branch runs, and a bare ``raise_error(format_string(.., NULL))``
    would evaluate to NULL instead of raising (format_string is
    null-propagating) — silently dropping the row instead of
    surfacing whatever caller bug let it through."""
    return F.when(
        F.col(hi_col) >= F.col(lo_col),
        F.floor(F.col(lo_col) / F.lit(bin_width)).cast("bigint"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"inverted or NULL-bounded interval on {side}: "
                f"{lo_col}=%s, {hi_col}=%s",
                F.coalesce(F.col(lo_col).cast("string"), F.lit("NULL")),
                F.coalesce(F.col(hi_col).cast("string"), F.lit("NULL")),
            )
        ).cast("bigint")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    sort_by: str | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    One shuffle now; zero shuffles for every later equi-join /
    aggregation on ``key`` between tables bucketed the same way (verify
    with plans.exchange_count == 0). Bucketing works with the built-in
    catalog — no Hive metastore needed. ``path`` makes it an external
    table at that location (default: the session warehouse dir).
    """
    require_at_least("n_buckets", n_buckets, 1)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on the bucket key — exchange-free."""
    return spark.table(left_table).join(spark.table(right_table), key)


def grouped_percentiles_with_guard(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
    exact_max_group_rows: int = 2_000_000,
    accuracy: int = 10_000,
) -> DataFrame:
    """X6 authoring guard: exact ``percentile`` while the largest group
    fits comfortably in one aggregation buffer, ``approx_percentile``
    (Greenwald-Khanna sketch, bounded state) beyond it.

    Exact interpolated percentiles buffer EVERY group value in the
    aggregate state — the one X6 shape that pressures executor memory
    when a single group grows past ~millions of rows (SCALE.md). The
    sketch form caps state at O(accuracy·log n) per group regardless of
    group size, at a rank-error ≤ 1/accuracy.

    The switch is a pre-flight partial-aggregated group-size probe —
    ONE map-side-combined count whose single result row crosses to the
    driver (same class of driver action as the convergence count in
    ``components.connected_components``; this helper is explicitly
    eager by design, like every authoring-time decision). Output
    columns: the group columns plus ``p_<percent>`` per quantile, same
    names on either path so downstream code is agnostic to which was
    chosen.
    """
    require_at_least("accuracy", accuracy, 1)
    require_at_least("exact_max_group_rows", exact_max_group_rows, 0)
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    for q in quantiles:
        require_in_range("quantile", q, 0.0, 1.0)
    largest = (
        df.groupBy(*group_cols).count().agg(F.max("count")).first()[0] or 0
    )
    v = F.col(value_col)
    qs = F.array(*[F.lit(float(q)) for q in quantiles])
    if largest <= exact_max_group_rows:
        arr = F.percentile(v, qs)
    else:
        arr = F.percentile_approx(v, qs, F.lit(accuracy))
    names = [f"p_{str(q).replace('0.', '').ljust(2, '0')}" for q in quantiles]
    agg = df.groupBy(*group_cols).agg(arr.alias("_qarr"))
    return agg.select(
        *group_cols,
        *[F.col("_qarr")[i].cast("double").alias(n) for i, n in enumerate(names)],
    )


def _monotone_pid(df: DataFrame, key_col: str, num_partitions: int):
    """A pid column that is MONOTONE in the key and a pure function of
    it: bucket index against quantile cut points collected once into a
    literal.

    The load-bearing property for two-branch decompositions (local
    window + bounds/offsets aggregate over the same pid frame): every
    plan branch must observe IDENTICAL pid assignments. Deriving pid
    from ``spark_partition_id()`` after ``repartitionByRange`` only
    holds if Spark reuses the sampled range exchange across branches
    (``spark.sql.exchange.reuse`` + canonicalization hit) — with reuse
    disabled or missed, each branch re-samples its own range bounds
    and the seam/offset join silently miscomputes. A literal cut
    array has no runtime state to diverge: the one-row quantile probe
    crosses to the driver once (authoring-time action, same class as
    grouped_percentiles_with_guard's group-size probe) and the bucket
    expression is bit-identical in every branch, every retry, every
    recompute. The cuts need not be balanced for CORRECTNESS — any
    monotone bucketing is exact; quantiles just keep buckets even so
    the per-pid windows stay parallel.

    NULL keys bucket to pid 0 (the additive cascade below yields NULL
    for a NULL key — ``key > cut`` is NULL — which would silently
    poison the seam arithmetic; the coalesce pins the same placement
    ``repartitionByRange`` uses, first range partition). Callers
    (missing_key_ranges, x01_global_rownum) assume keys are orderable;
    NULLs sort first on either path.
    """
    probes = max(num_partitions - 1, 1)
    qs = F.array(
        *[F.lit((i + 1) / num_partitions) for i in range(probes)]
    )
    row = df.select(
        F.percentile_approx(F.col(key_col), qs, F.lit(10_000)).alias("cuts")
    ).first()
    cuts = sorted(set(row["cuts"] or [])) if row is not None else []
    pid = F.lit(0)
    for c in cuts:
        pid = pid + F.coalesce(
            (F.col(key_col) > F.lit(c)).cast("int"), F.lit(0)
        )
    return pid


def global_row_number(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """``df`` plus ``rn``, its 1-based bigint ``ROW_NUMBER() OVER (ORDER
    BY order_cols)``, WITHOUT a global-order window.

    The window with no PARTITION BY collapses to a single task in Spark
    — the canonical 100 TB scale-killer. Two phases instead: (1) bucket
    rows by a MONOTONE literal pid of the first order column
    (:func:`_monotone_pid`, a pure expression of the key, so the window
    branch and the counts branch can never observe different
    assignments) and number rows WITHIN each bucket with a
    partition-local window; (2) count rows per bucket (a ~32-row
    aggregate), turn the counts into cumulative start offsets with a
    window over that TINY frame, and broadcast-join the offsets back.
    Every full-data pass stays parallel; only the offset table is ever
    globally ordered. ``order_cols`` must be a total order for the
    numbering to be deterministic.
    """
    part = df.withColumn("pid", _monotone_pid(df, order_cols[0], 32))
    wp = Window.partitionBy("pid").orderBy(*order_cols)
    local = part.withColumn("local_rn", F.row_number().over(wp))
    counts = part.groupBy("pid").agg(F.count("*").alias("n"))
    wo = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = counts.select(
        "pid", F.coalesce(F.sum("n").over(wo), F.lit(0)).alias("offset")
    )
    return local.join(F.broadcast(offsets), "pid").select(
        *df.columns,
        (F.col("local_rn") + F.col("offset")).cast("bigint").alias("rn"),
    )


def missing_key_ranges(
    df: DataFrame, key: str, num_partitions: int = 32
) -> DataFrame:
    """Gaps in a unique integer key sequence, without a global window.

    ``LEAD(key) OVER (ORDER BY key)`` — the textbook gaps-and-islands
    spelling — plans as ONE task in Spark (unpartitioned window). This
    decomposition stays parallel: bucket keys by a MONOTONE literal
    pid (:func:`_monotone_pid` — a pure expression, so the window
    branch and the bounds branch can never disagree on assignments),
    partition-local lead within each pid, then close the seams by
    handing each bucket the minimum key of the next NON-EMPTY bucket.
    The seam frame is one row per non-empty bucket (broadcast back);
    the lead over it is global-ordered but operates on at most
    ``num_partitions`` rows. Empty buckets — duplicate quantile cuts
    or sparse key ranges produce them — are the subtle case: naive
    ``pid+1`` arithmetic would hand the last row of bucket p a NULL
    successor when p+1 is empty, silently swallowing any gap spanning
    it; the lead over the bounds frame skips empties by construction
    (tests/test_scale.py::test_missing_ranges_empty_partitions).

    Returns (gap_start, gap_end, n_missing) for every maximal run of
    absent keys strictly inside [min(key), max(key)].
    """
    require_at_least("num_partitions", num_partitions, 1)
    part = df.select(F.col(key).alias("k")).withColumn(
        "pid", _monotone_pid(df.select(F.col(key).alias("k")), "k", num_partitions)
    )
    wp = Window.partitionBy("pid").orderBy("k")
    local = part.withColumn("nxt_local", F.lead("k").over(wp))
    bounds = part.groupBy("pid").agg(F.min("k").alias("first_k"))
    seam = bounds.select(
        "pid",
        F.lead("first_k").over(Window.orderBy("pid")).alias("seam_nxt"),
    )
    closed = local.join(F.broadcast(seam), "pid", "left").select(
        "k", F.coalesce(F.col("nxt_local"), F.col("seam_nxt")).alias("nxt")
    )
    return closed.filter(F.col("nxt") > F.col("k") + 1).select(
        (F.col("k") + 1).alias("gap_start"),
        (F.col("nxt") - 1).alias("gap_end"),
        (F.col("nxt") - F.col("k") - 1).alias("n_missing"),
    )


def rolling_distinct_hll(
    df: DataFrame,
    entity_col: str,
    day_col,
    window_days: int = 7,
    lgk: int = 12,
) -> DataFrame:
    """Approximate trailing-window distinct entities per day via
    MERGEABLE daily HLL sketches — the 100 TB path where the exact
    constant-fan-out form (x04_rolling_wau) stops being free.

    The exact form replicates every activity row ``window_days``
    times; at month- or quarter-length windows that multiplier lands
    on the full activity matrix. Sketches invert the cost shape:
    ONE pass builds a fixed-size (2^lgk registers) HLL per day, and
    any window is a UNION of per-day sketches — the union is over
    #days-in-window sketch blobs, not data rows, so window length
    changes only a tiny second-stage aggregate. This is the standard
    pre-aggregated-sketch architecture (Dataflow/Druid-style rollups):
    daily sketches persist once, every dashboard window reuses them.

    Two-stage plan: (1) groupBy(day) hll_sketch_agg — map-side
    partial, one shuffle of sketch blobs; (2) each day's sketch votes
    into its trailing window days (constant explode of the SKETCH
    row, not the data) and hll_union_agg + estimate finishes. Same
    vote trick as the exact form, but cast by ~365 sketch rows/year
    instead of billions of activity rows.
    """
    require_at_least("window_days", window_days, 1)
    require_in_range("lgk", lgk, 4, 21)
    daily = df.groupBy(day_col.alias("day")).agg(
        F.hll_sketch_agg(F.col(entity_col), F.lit(lgk)).alias("sk")
    )
    votes = daily.select(
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("i"),
        "sk",
    ).select(F.date_add(F.col("day"), F.col("i")).alias("day"), "sk")
    return votes.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias(
            "approx_distinct"
        )
    )


def bloom_prefilter(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter row pruning: drop probe rows whose key CANNOT be in
    ``build`` before the join ever shuffles them — the explicit,
    authoring-side form of Spark's runtime row-level filtering
    (`spark.sql.optimizer.runtime.bloomFilter.*`, which only injects
    itself when its cost heuristics fire; this version is deterministic
    and engine-portable).

    Why it matters at 100 TB: a selective dimension predicate (say 2%
    of orders) still forces a FULL fact-side shuffle in a plain shuffle
    join — every lineitem row travels to its hash partition before the
    join discards 98% of them. A bloom filter built from the matching
    keys is a few KB, broadcasts as ONE ROW, and eliminates the dead
    rows at the SCAN, so the shuffle moves ~2% of the bytes. False
    positives only ever ADD rows (no false negatives, guaranteed by
    construction), so callers compose it with the exact join they were
    already doing and correctness is untouched.

    Plan shape (all JVM expressions, no UDF, no driver collect):

    1. build side → ``n_hashes`` xxhash64 bit positions per key →
       ``(word, mask)`` pairs → ``bit_or`` per word: ≤ n_bits/64 rows;
    2. word map folded to a SINGLE ROW (``map_from_arrays`` over
       ``collect_list`` of a ≤1024-row frame — the documented one-row
       broadcast pattern, cf. the ANN centroid frames);
    3. probe ``crossJoin(broadcast(bitmap_row))`` + a pure-expression
       membership test: all ``n_hashes`` bits set.

    Defaults (65536 bits / 3 hashes) hold the false-positive rate
    under ~1% up to ~5k build keys; size ``n_bits`` ≈ 10× build-key
    count for that regime (8 KB of bitmap per 2^16 bits — broadcasting
    even a 2^24-bit filter is 2 MB, still trivial).
    """
    require_at_least("n_bits", n_bits, 8)
    require_at_least("n_hashes", n_hashes, 1)
    one = F.lit(1).cast("bigint")

    def _positions(col):
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(n_bits))
            for i in range(n_hashes)
        ]

    words = (
        build.select(
            F.explode(F.array(*_positions(F.col(build_key)))).alias("pos")
        )
        .select(
            F.floor(F.col("pos") / 64).cast("int").alias("w"),
            F.call_function(
                "shiftleft", one, F.pmod(F.col("pos"), F.lit(64)).cast("int")
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
    )
    bitmap = words.groupBy().agg(
        F.map_from_arrays(
            F.collect_list("w"), F.collect_list("word")
        ).alias("_bloom")
    )
    probed = probe.crossJoin(F.broadcast(bitmap))
    cond = F.lit(True)
    for p in _positions(F.col(probe_key)):
        w = F.floor(p / 64).cast("int")
        m = F.call_function(
            "shiftleft", one, F.pmod(p, F.lit(64)).cast("int")
        )
        # try_element_at, not element_at: under ANSI (Spark 4 default)
        # element_at THROWS on a missing map key, and a probe key may
        # hash to a word no build key ever touched.
        hit = F.coalesce(
            F.try_element_at(F.col("_bloom"), w), F.lit(0).cast("bigint")
        ).bitwiseAND(m) != 0
        cond = cond & hit
    return probed.filter(cond).drop("_bloom")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bin_width: int,
) -> DataFrame:
    """Interval×interval OVERLAP join as a binned equi-join — the
    large×large scale path where :func:`binned_range_join` covers only
    the point-in-interval case (log/trace correlation, co-activity
    detection, meeting-room style conflicts).

    Two intervals overlap iff ``l_lo <= r_hi AND r_lo <= l_hi``. As a
    theta-join that is a nested loop; binning restores an equi-join:
    both sides explode to every ``bin_width``-wide bin they cover, the
    join runs on (keys..., bin), and the exact overlap predicate
    filters. Overlapping pairs share ALL bins between
    ``max(floor(l_lo/w), floor(r_lo/w))`` and the earlier hi — so a
    pair would meet once PER shared bin. Rather than a dedup pass
    (a second shuffle over the candidate stream), each pair is emitted
    only in its FIRST shared bin: ``bin == greatest(floor(l_lo/w),
    floor(r_lo/w))`` — a map-side filter that makes the join
    exactly-once by construction (tests/test_scale.py pins equality
    with the naive theta-join).

    ``keys``: equi-key columns present on BOTH sides (the usual case —
    overlap joins are keyed by tenant/entity); pass ``[]`` for global.
    ``bin_width`` trades interval replication (len/w + 1 copies) against
    per-bin fan-out — near the median interval length, as for
    :func:`binned_range_join`. Bounds must be integers (epoch
    seconds/days); both ends inclusive.

    Guards (same class as :func:`binned_range_join`): ``bin_width < 1``
    raises; inverted intervals (``lo > hi``) raise at runtime from
    inside the bin expression rather than emitting a descending —
    garbage — bin list; NULL-bounded intervals overlap nothing (SQL
    semantics) and are explicitly filtered, not errored; replication is ``len/bin_width + 1`` and a
    single ``sequence`` is task-buffered (~2^31 hard cap), so size the
    bin to keep ``max_len/bin_width`` modest; the bin column name is
    generated collision-safe against both inputs.
    """
    if bin_width < 1:
        # same guard as binned_range_join: a zero width floor-divides
        # to NULL bins and a silently empty join
        raise ValueError(f"bin_width must be >= 1, got {bin_width}")
    bcol = _fresh_col_name("bin", left.columns, right.columns)
    lb = _checked_bin(l_lo, l_hi, bin_width, "left")
    rb = _checked_bin(r_lo, r_hi, bin_width, "right")
    # explicit NULL-bound drop on both sides — same rationale as
    # binned_range_join: NULL bounds overlap nothing in SQL, and the
    # runtime raise is reserved for inverted non-NULL intervals
    left = left.filter(F.col(l_lo).isNotNull() & F.col(l_hi).isNotNull())
    right = right.filter(F.col(r_lo).isNotNull() & F.col(r_hi).isNotNull())
    lhs = left.withColumn(
        bcol,
        F.explode(
            F.sequence(
                lb, F.floor(F.col(l_hi) / F.lit(bin_width)).cast("bigint")
            )
        ),
    )
    rhs = right.withColumn(
        bcol,
        F.explode(
            F.sequence(
                rb, F.floor(F.col(r_hi) / F.lit(bin_width)).cast("bigint")
            )
        ),
    )
    return (
        lhs.join(rhs, [*keys, bcol])
        .filter(
            (F.col(l_lo) <= F.col(r_hi))
            & (F.col(r_lo) <= F.col(l_hi))
            & (
                F.col(bcol)
                == F.greatest(
                    F.floor(F.col(l_lo) / F.lit(bin_width)).cast("bigint"),
                    F.floor(F.col(r_lo) / F.lit(bin_width)).cast("bigint"),
                )
            )
        )
        .drop(bcol)
    )
