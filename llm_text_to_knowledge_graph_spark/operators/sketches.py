"""Deterministic cardinality / frequency sketches as DataFrames.

At 10^12 documents the two questions a curation pipeline asks constantly —
"how many DISTINCT urls/grams per domain?" and "how often does this token
occur?" — cannot be answered with exact DISTINCT or a full groupBy(key)
when the key space itself is trillions of rows: the aggregation state is
the problem, not the scan. The standard answers are HyperLogLog (distinct)
and Count-Min (frequency), whose state is CONSTANT per group regardless of
key cardinality.

Spark ships both behind opaque JVM types (``approx_count_distinct``'s HLL++
buffers, ``CountMinSketch``), but their layouts are engine-private: they
can't be stored as ordinary table rows, unioned across monthly crawl
snapshots by another engine, or reproduced by an independent oracle. Same
design stance as ``operators/membership.py``'s Bloom filter: the sketch IS
a DataFrame of integer rows —

  * md5-derived register/cell positions (pure function of the key bytes,
    reproducible by any engine with md5 — the DuckDB oracles rebuild the
    sketches bit-for-bit),
  * built by ONE explode + ONE partial-agg groupBy (map-side combine
    collapses repeated keys before the shuffle; the shuffle moves only
    small-int sketch rows, never the corpus payload),
  * mergeable: HLL registers merge by MAX, CMS cells by SUM — both
    associative, so monthly sketch tables union with a re-aggregate and
    incremental maintenance is a bit of arithmetic, not a re-scan.

Estimation math is pinned to integer arithmetic wherever float summation
order could differ across engines: the HLL harmonic sum Σ 2^-M_j is
computed as the exact BIGINT Σ 2^(RHO_MAX-M_j) (order-independent), and
only the final division/log happens in doubles, rounded for comparison.

HLL layout (m = 256 registers, 8-bit index, 40-bit rho stream):
  h        = md5(key)                         (32 hex nibbles)
  register = int(h[0:2], 16)                  (0..255)
  rho      = leading-zero bits of h[2:12] + 1 (1..41; 41 = all-zero tail)
Estimate (Flajolet et al. 2007): alpha_m * m^2 / Σ 2^-M_j with the
small-range linear-counting correction E <= 2.5m, V zero registers ->
m * ln(m / V).

CMS layout (4 rows, width 16^3):
  cell(key, row i) = int(md5(key || ':' || i)[0:3], 16)
Point estimate = min over rows of cell counts (Cormode & Muthukrishnan
2005): never an underestimate, overestimate bounded by collisions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

HLL_M = 256  # registers (2 hex nibbles of index)
_RHO_NIBBLES = 10  # 40-bit rho stream
_RHO_MAX = 4 * _RHO_NIBBLES + 1  # all-zero tail
# alpha_m for m >= 128 (Flajolet et al. 2007, fig. 3)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# the whole numerator is a single double literal shared with the SQL
# oracle, so the only float op differing rows is one division
_HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(1 << _RHO_MAX)


def _hll_register(key: Column) -> Column:
    return F.conv(F.substring(F.md5(key), 1, 2), 16, 10).cast("int")


def _hll_rho(key: Column) -> Column:
    """Leading-zero bits of the 40-bit stream + 1, in exact integer /
    string ops only (no float log2): count leading zero NIBBLES with a
    regexp, then the zero bits inside the first non-zero nibble by value
    range."""
    tail = F.substring(F.md5(key), 3, _RHO_NIBBLES)
    z = F.length(F.regexp_extract(tail, "^0*", 0))
    d = F.conv(F.substr(tail, z + F.lit(1), F.lit(1)), 16, 10).cast("int")
    in_nibble = (
        F.when(d >= 8, 0).when(d >= 4, 1).when(d >= 2, 2).otherwise(3)
    )
    return (
        F.when(z == _RHO_NIBBLES, F.lit(_RHO_MAX))
        .otherwise(z * 4 + in_nibble + 1)
        .cast("int")
    )


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """The storable sketch: (group_cols..., register int, m int) with
    m = max rho. At most ``HLL_M`` rows per group no matter how many keys
    went in; ONE partial-agg groupBy (duplicate keys collapse map-side).
    Merging two sketch tables = union + re-``max`` — associative, so
    monthly snapshots combine without touching the corpora."""
    group_cols = group_cols or []
    key = F.col(key_col).cast("string")
    return (
        # null keys are not counted (COUNT(DISTINCT) semantics); without
        # the filter a null key would land as a null REGISTER row and
        # inflate the non-zero-register count in hll_estimate
        df.filter(key.isNotNull())
        .select(
            *group_cols,
            _hll_register(key).alias("register"),
            _hll_rho(key).alias("rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("m"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Fold a :func:`hll_registers` table to (group_cols..., est_distinct).

    The harmonic sum is exact BIGINT math (Σ 2^(RHO_MAX - m), empty
    registers contribute 2^RHO_MAX each), so the estimate is identical on
    any engine — summation order cannot perturb it. Only the final
    division (and the small-range ln) are doubles, rounded to 4 dp."""
    group_cols = group_cols or []
    agg = registers.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_RHO_MAX} - m AS INT))")
        ).alias("int_sum"),
        F.count(F.lit(1)).alias("nz"),
    )
    v = F.lit(HLL_M) - F.col("nz")  # zero registers
    denom = F.col("int_sum") + v * F.lit(1 << _RHO_MAX)
    e_raw = F.lit(_HLL_NUMER) / denom.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(*group_cols, F.round(est, 4).alias("est_distinct"))


def hll_distinct(
    df: DataFrame, key_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Estimated distinct ``key_col`` per group in constant state: the
    composition build -> fold. End-to-end plan is scan -> partial-agg
    shuffle of (group, register) -> tiny second agg; the corpus payload
    never shuffles and the state per group is 256 ints at ANY scale."""
    return hll_estimate(hll_registers(df, key_col, group_cols), group_cols)


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def _cms_cell(key: Column, row: int) -> Column:
    return F.conv(
        F.substring(F.md5(F.concat(key, F.lit(f":{row}"))), 1, 3), 16, 10
    ).cast("int")


def cms_build(df: DataFrame, key_col: str, weight_col: str | None = None) -> DataFrame:
    """Count-Min sketch as (row int, col int, n bigint): 4 rows of width
    16^3. One explode (4 small ints per occurrence) + ONE partial-agg
    groupBy — at most 4 * 16^3 rows out regardless of
    key cardinality, so a trillion-distinct-token frequency table becomes
    ~16k rows. SUM-mergeable across snapshot sketches."""
    key = F.col(key_col).cast("string")
    w = F.col(weight_col) if weight_col else F.lit(1)
    # null keys carry no countable identity (COUNT semantics)
    df = df.filter(key.isNotNull())
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_cell(key, i).alias("col"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
        w.alias("w"),
    )
    return (
        cells.select("c.row", "c.col", "w")
        .groupBy("row", "col")
        .agg(F.sum("w").cast("long").alias("n"))
    )


def cms_estimate(items: DataFrame, cms: DataFrame, key_col: str) -> DataFrame:
    """Point-estimate every row's key against a :func:`cms_build` table:
    input columns + ``est_n`` (min over the key's 4 cells — >= true
    count always, with bounded overestimate). The sketch is <= 4 * 16^3
    rows and broadcast, so probing is map-only on the items side."""
    key = F.col(key_col).cast("string")
    probes = items.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_cell(key, i).alias("col"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(key_col, "c.row", "c.col")
    sk = F.broadcast(cms)
    return (
        probes.join(sk, ["row", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_n"))
    )


# ---------------------------------------------------------------------------
# histogram quantiles
# ---------------------------------------------------------------------------


def quantile_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    nbins: int = 64,
) -> DataFrame:
    """Equi-width histogram as rows: (group..., bin, n, lo, width).

    The distribution-profiling sketch (doc-length / quality-score / latency
    percentiles per language or domain): exact quantiles need a per-group
    SORT — a full shuffle of the corpus at 10^12 rows — while a histogram
    is two aggregations with ``nbins`` rows of state per group. Spark's
    ``percentile_approx`` answers the same question but its KLL-ish buffer
    is a JVM-private blob; these rows are storable, SUM-mergeable across
    snapshots sharing bin edges, and reproducible by any engine (all edge
    math is the same double formula everywhere).

    Pass 1: per-group min/max (partial-agg, map-side combined).
    Pass 2: bin assignment (map-only double math) + partial-agg count.
    """
    group_cols = group_cols or []
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(*group_cols).agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi")
    )
    joined = df.join(F.broadcast(bounds), group_cols) if group_cols else df.crossJoin(
        F.broadcast(bounds)
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(nbins))
    # degenerate group (all values equal): everything in bin 0, width 0
    bin_ = F.when(width == 0.0, F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("_lo")) / width).cast("int"), F.lit(nbins - 1)
        )
    )
    return (
        joined.select(*group_cols, bin_.alias("bin"), "_lo", width.alias("_w"))
        .groupBy(*group_cols, "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("_lo").alias("lo"),
            F.first("_w").alias("width"),
        )
    )


def histogram_quantiles(
    hist: DataFrame,
    qs: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Estimate quantiles from a :func:`quantile_histogram` table:
    (group..., q, est) with linear interpolation inside the selected bin
    (the textbook histogram-quantile estimator; error bounded by bin
    width). Window cumulative-sum over nbins rows per group — the window
    runs over SKETCH rows, never the corpus."""
    from pyspark.sql import Window

    group_cols = group_cols or []
    w = Window.partitionBy(*group_cols).orderBy("bin") if group_cols else (
        Window.orderBy("bin")
    )
    cum = hist.select(
        *group_cols,
        "bin",
        "n",
        "lo",
        "width",
        (F.sum("n").over(w) - F.col("n")).alias("cum_before"),
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total"),
    )
    out = None
    for q in qs:
        target = F.lit(float(q)) * F.col("total")
        # the selected bin: first bin whose cumulative count reaches target
        sel = (
            cum.filter(F.col("cum_before") + F.col("n") >= target)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*group_cols).orderBy("bin")
                    if group_cols
                    else Window.orderBy("bin")
                ),
            )
            .filter(F.col("_rn") == 1)
        )
        est = (
            F.col("lo")
            + F.col("width") * F.col("bin")
            + F.col("width")
            * (target - F.col("cum_before"))
            / F.col("n")
        )
        part = sel.select(
            *group_cols,
            F.lit(float(q)).alias("q"),
            F.round(est, 6).alias("est"),
        )
        out = part if out is None else out.unionByName(part)
    return out
